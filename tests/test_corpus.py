"""Corpus-statistics operators (lm-score / pmi / bpe-pairs / tfidf-topk):
value checks against tiny hand-computable corpora and pure-Python
references, edge cases (short/NULL docs, unseen grams, ties), streaming
refusal, and the plan shapes the 100 TB posture claims."""

from __future__ import annotations

import math

import pytest

from ksml_spark import pipe
from ksml_spark.errors import ArityError, TypeDispatchError


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _stream_docs(spark, tmp_path, rows):
    """File-backed streaming docs source (deterministic, AvailableNow)."""
    from ksml_spark.streaming.runtime import file_stream_source

    p = str(tmp_path / "bpe_docs")
    _docs(spark, rows).write.parquet(p)
    return file_stream_source(spark, p)


def _pipe(spark, df, *forms):
    return pipe(["stream", df, {"key": "doc_id"}], *forms, spark=spark).df


# ---------------------------------------------------------------------------
# lm-score


def _py_lm(rows, n=2, k=0.1):
    """Pure-Python reference of the add-k bigram LM (natural log)."""
    import re

    toks = {
        i: [w for w in re.split(r"[^a-z0-9]+", (t or "").lower()) if w]
        for i, t in rows
    }
    cp: dict = {}
    cg: dict = {}
    for w in toks.values():
        for u in w:
            cp[u] = cp.get(u, 0) + 1
        for a, b in zip(w, w[1:]):
            cg[(a, b)] = cg.get((a, b), 0) + 1
    v = len(cp)
    out = {}
    for i, w in toks.items():
        if len(w) < n:
            continue
        lp = sum(
            math.log((cg.get((a, b), 0) + k) / (cp.get(a, 0) + k * v))
            for a, b in zip(w, w[1:])
        )
        np_ = len(w) - 1
        out[i] = (np_, round(-lp / np_, 6), round(math.exp(-lp / np_), 6))
    return out


def test_lm_score_matches_python_reference(spark):
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat again"),
        (3, "colorless green ideas sleep furiously"),
        (4, "the the the the"),
        (5, "one"),          # < n tokens: not scored
        (6, None),           # NULL text: not scored
        (7, ""),             # empty: not scored
    ]
    got = {
        r["doc_id"]: (r["n_scored"], r["nll"], r["ppl"])
        for r in _pipe(
            spark, _docs(spark, rows), ["lm-score", {"n": 2, "k": 0.1}]
        ).collect()
    }
    assert got == _py_lm(rows)


def test_lm_score_fluent_beats_shuffled(spark):
    """Documents made of corpus-frequent bigrams score lower perplexity
    than a bag of unseen transitions — the quality-filter contract."""
    corpus = [(i, "the model learns from data") for i in range(20)]
    corpus += [(100, "data the from learns model")]  # same words, novel bigrams
    got = {
        r["doc_id"]: r["ppl"]
        for r in _pipe(spark, _docs(spark, corpus), ["lm-score", {}]).collect()
    }
    assert got[0] < got[100]


def test_lm_score_separate_train_rel_and_broadcast(spark):
    """Scoring against a second training relation: unseen-corpus docs
    still score (smoothing keeps probabilities finite), and the
    {"broadcast": true} model hint changes the plan, not the values."""
    train = _docs(spark, [(i, "a b c a b") for i in range(10)])
    score = _docs(spark, [(1, "a b c"), (2, "z q")])
    base = pipe(
        ["lm-score",
         ["stream", score, {"key": "doc_id"}],
         ["stream", train, {"key": "doc_id"}],
         {"n": 2, "k": 0.5}],
        spark=spark,
    ).df
    rows = {r["doc_id"]: r for r in base.collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["ppl"] < rows[2]["ppl"]  # in-domain beats unseen
    bc = pipe(
        ["lm-score",
         ["stream", score, {"key": "doc_id"}],
         ["stream", train, {"key": "doc_id"}],
         {"n": 2, "k": 0.5, "broadcast": True}],
        spark=spark,
    ).df
    assert sorted(map(tuple, bc.collect())) == sorted(map(tuple, base.collect()))
    plan = bc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_lm_score_trigram_order(spark):
    """n=3: prefixes are bigrams counted at every position; only docs
    with >= 3 tokens score, n_scored = len - 2."""
    rows = [(1, "a b c d"), (2, "a b")]
    got = {r["doc_id"]: r["n_scored"]
           for r in _pipe(spark, _docs(spark, rows),
                          ["lm-score", {"n": 3}]).collect()}
    assert got == {1: 2}


def test_lm_score_rejects_bad_params(spark):
    df = _docs(spark, [(1, "a b")])
    with pytest.raises(ArityError, match="n >= 2"):
        _pipe(spark, df, ["lm-score", {"n": 1}])
    with pytest.raises(ArityError, match="k > 0"):
        _pipe(spark, df, ["lm-score", {"k": 0}])


def test_lm_score_frozen_stats_matches_batch(spark):
    """Frozen-stats mode with stats trained on the same corpus equals
    the relational self-train for scored docs; short/NULL docs appear
    with NULL score columns (append shape) instead of being dropped."""
    from ksml_spark.functions.corpus import lm_train_stats

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the mat sat"),
        (3, "one"),
        (4, None),
    ]
    df = _docs(spark, rows)
    stats = lm_train_stats(df, "text", n=2)
    assert stats["v"] == 6  # the cat sat on mat one
    batch = {
        r["doc_id"]: (r["n_scored"], r["nll"], r["ppl"])
        for r in _pipe(spark, df, ["lm-score", {"n": 2, "k": 0.1}]).collect()
    }
    frozen = _pipe(spark, df, ["lm-score", {"k": 0.1, "stats": stats}]).collect()
    got = {r["doc_id"]: (r["n_scored"], r["nll"], r["ppl"]) for r in frozen}
    assert len(frozen) == 4  # every row kept
    assert got[3] == (None, None, None) and got[4] == (None, None, None)
    assert {i: got[i] for i in (1, 2)} == batch
    # original columns survive
    assert {"doc_id", "text", "n_scored", "nll", "ppl"} == set(frozen[0].asDict())


def test_lm_score_frozen_stats_streams(spark, tmp_path):
    """The frozen path is streaming-legal end-to-end: a file stream
    scored against a batch-trained model produces the batch answer."""
    from ksml_spark.functions.corpus import lm_train_stats

    ref = _docs(spark, [(i, "alpha beta gamma alpha beta") for i in range(5)])
    stats = lm_train_stats(ref, "text", n=2)
    rows = [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "x")]
    df = _docs(spark, rows)
    p = str(tmp_path / "lm_docs")
    df.write.parquet(p)
    from ksml_spark.streaming.runtime import file_stream_source

    src = file_stream_source(spark, p)
    out = pipe(["stream", src, {"key": "doc_id"}],
               ["lm-score", {"k": 0.1, "stats": stats}], spark=spark).df
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("lm_frozen")
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = {r["doc_id"]: (r["n_scored"], r["nll"], r["ppl"])
           for r in spark.sql("SELECT * FROM lm_frozen").collect()}
    exp = {r["doc_id"]: (r["n_scored"], r["nll"], r["ppl"])
           for r in _pipe(spark, df, ["lm-score", {"k": 0.1, "stats": stats}]).collect()}
    assert got == exp
    assert got[1][1] < got[2][1]  # in-order beats reversed transitions


def test_lm_train_stats_refuses_oversized_model(spark):
    from ksml_spark.functions.corpus import lm_train_stats

    df = _docs(spark, [(i, f"w{i}a w{i}b w{i}c") for i in range(40)])
    with pytest.raises(ArityError, match="max_entries"):
        lm_train_stats(df, "text", n=2, max_entries=10)


# ---------------------------------------------------------------------------
# pmi


def test_pmi_hand_computed(spark):
    """4x 'strong coffee' + filler: PMI of the collocation equals the
    closed-form ln((c12/T2) / ((c1/T1)^2-ish)) and the count filter
    drops singletons."""
    rows = [(i, "strong coffee") for i in range(4)]
    rows += [(10, "strong opinions beat weak coffee today")]
    got = _pipe(
        spark, _docs(spark, rows), ["pmi", {"min_count": 4}]
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["w1"], r["w2"], r["pair_count"]) == ("strong", "coffee", 4)
    t1, t2 = 14.0, 9.0  # tokens, bigram positions
    expect = math.log((4 / t2) / ((5 / t1) * (5 / t1)))
    assert r["pmi"] == round(expect, 6)


def test_pmi_single_token_doc_counts_in_unigram_total(spark):
    """r18 one-scan count build: a single-token document contributes its
    word to the unigram counts and T1 even though it emits no bigram —
    the exact seam between the old separate unigram scan and the fused
    (w, NULL) rows."""
    rows = [(1, "a b"), (2, "solo")]
    got = _pipe(spark, _docs(spark, rows), ["pmi", {"min_count": 1}]).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["w1"], r["w2"], r["pair_count"]) == ("a", "b", 1)
    # T1 = 3 tokens (a, b, solo), T2 = 1 bigram position
    assert r["pmi"] == round(math.log((1 / 1.0) / ((1 / 3.0) * (1 / 3.0))), 6)


def test_pmi_ordering_and_top(spark):
    rows = [(i, "x y") for i in range(3)] + [(i + 50, "p q") for i in range(5)]
    got = _pipe(spark, _docs(spark, rows),
                ["pmi", {"min_count": 2, "top": 1}]).collect()
    assert len(got) == 1  # top caps after the deterministic order
    with pytest.raises(ArityError, match="min_count"):
        _pipe(spark, _docs(spark, rows), ["pmi", {"min_count": 0}])


# ---------------------------------------------------------------------------
# bpe-pairs


def test_bpe_pairs_weighted_by_word_frequency(spark):
    """'ab' twice and 'abc' once: pair 'ab' counts 3 (2 from 'ab', 1
    from 'abc'), 'bc' counts 1; single-char words contribute nothing."""
    rows = [(1, "ab ab abc"), (2, "a")]
    got = {r["pair"]: r["count"]
           for r in _pipe(spark, _docs(spark, rows), ["bpe-pairs", {}]).collect()}
    assert got == {"ab": 3, "bc": 1}


def test_bpe_pairs_runs_on_vocab_not_corpus(spark):
    """The char explode's input is the aggregated vocabulary: the plan
    aggregates tokens BEFORE the pair Generate (explode) node."""
    df = _docs(spark, [(i, "hello world hello") for i in range(5)])
    out = _pipe(spark, df, ["bpe-pairs", {}])
    plan = out._jdf.queryExecution().executedPlan().toString()
    gen = plan.index("Generate explode")  # outermost = pair explode
    agg = plan.index("HashAggregate")
    assert agg < gen or plan.count("HashAggregate") >= 2
    got = {r["pair"]: r["count"] for r in out.collect()}
    assert got["he"] == 10 and got["wo"] == 5


# ---------------------------------------------------------------------------
# bpe-train / bpe-encode


def _naive_bpe_train(word_counts, merges, min_pair_freq=2):
    """Recount-everything reference (Sennrich alg. 1 verbatim): same
    symbol model ('</w>' trailing symbol), same (count desc, pair asc)
    tie-break, zero shared code with the incremental trainer."""
    syms = {w: tuple(w) + ("</w>",) for w in word_counts}
    out = []
    for rank in range(merges):
        counts: dict = {}
        for w, c in word_counts.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + c
        if not counts:
            break
        top = max(counts.values())
        if top < min_pair_freq:
            break
        pair = min(p for p, c in counts.items() if c == top)
        merged = pair[0] + pair[1]
        out.append((rank, pair[0], pair[1], merged))
        for w, s in syms.items():
            ns, i = [], 0
            while i < len(s):
                if i < len(s) - 1 and (s[i], s[i + 1]) == pair:
                    ns.append(merged)
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            syms[w] = tuple(ns)
    return out


def test_bpe_train_paper_corpus_first_merges(spark):
    """The Sennrich et al. toy corpus {low x5, lower x2, newest x6,
    widest x3}: 'es' (9) merges first, then 'est' (9), then 'est</w>'
    (9) — hand-checkable grounding — and the full table matches the
    naive recount-everything reference merge for merge."""
    rows = [(i, "low") for i in range(5)] + \
           [(10 + i, "lower") for i in range(2)] + \
           [(20 + i, "newest") for i in range(6)] + \
           [(30 + i, "widest") for i in range(3)]
    out = _pipe(spark, _docs(spark, rows),
                ["bpe-train", {"merges": 10, "min_freq": 1}])
    got = [(r["rank"], r["left"], r["right"], r["merged"])
           for r in sorted(out.collect(), key=lambda r: r["rank"])]
    assert got[0] == (0, "e", "s", "es")
    assert got[1] == (1, "es", "t", "est")
    assert got[2] == (2, "est", "</w>", "est</w>")
    wc = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    assert got == _naive_bpe_train(wc, 10)


def test_bpe_train_incremental_matches_naive_on_random_corpus(spark):
    """200 random words over a 4-char alphabet, zipf-ish counts: the
    incremental trainer must equal the naive reference exactly (counts,
    tie-breaks, early stop) for a deep merge table."""
    import random

    rnd = random.Random(7)
    wc = {}
    for _ in range(200):
        w = "".join(rnd.choice("abcd") for _ in range(rnd.randint(1, 8)))
        wc[w] = wc.get(w, 0) + rnd.randint(1, 20)
    text = " ".join(w for w, c in wc.items() for _ in range(c))
    out = _pipe(spark, _docs(spark, [(1, text)]),
                ["bpe-train", {"merges": 60, "min_freq": 1}])
    got = [(r["rank"], r["left"], r["right"], r["merged"])
           for r in sorted(out.collect(), key=lambda r: r["rank"])]
    assert got == _naive_bpe_train(wc, 60)


def test_bpe_train_guards_and_streaming_refusal(spark, tmp_path):
    """Vocab cap raises a curated error naming the knobs; junk numerics
    and streaming input are refused."""
    df = _docs(spark, [(1, "a b c d e f")])
    with pytest.raises(ArityError, match="max_vocab_rows"):
        _pipe(spark, df, ["bpe-train", {"min_freq": 1, "max_vocab_rows": 3}])
    with pytest.raises(ArityError, match="bad numeric"):
        _pipe(spark, df, ["bpe-train", {"merges": "many"}])
    sdf = _stream_docs(spark, tmp_path, [(1, "a")])
    with pytest.raises(TypeDispatchError, match="bpe-train.*batch-only"):
        _pipe(spark, sdf, ["bpe-train", {}])


def test_bpe_encode_roundtrip_and_greedy_rank_order(spark):
    """Encoding with the trained table: concatenating a word's tokens
    (marker stripped) reproduces the word; fully-merged training words
    come back as single tokens; unseen words fall back to finer pieces;
    NULL text stays NULL."""
    rows = [(i, "low") for i in range(5)] + \
           [(10 + i, "lower") for i in range(2)] + \
           [(20 + i, "newest") for i in range(6)] + \
           [(30 + i, "widest") for i in range(3)]
    corpus = _docs(spark, rows)
    from ksml_spark import ksml

    merges = ksml(["bpe-train", ["stream", corpus, {"key": "doc_id"}],
                   {"merges": 50, "min_freq": 1, "min_pair_freq": 1}],
                  spark=spark)
    probe = _docs(spark, [(1, "low lowest newest"), (2, None)])
    out = ksml(["bpe-encode", ["stream", probe, {"key": "doc_id"}],
                merges, {"col": "text"}], spark=spark)
    got = {r["doc_id"]: r["bpe_tokens"] for r in out.df.collect()}
    assert got[2] is None
    toks = got[1]
    # round-trip: stripping '</w>' and re-joining yields the input words
    text = "".join(toks).replace("</w>", " ").strip()
    assert text == "low lowest newest"
    # training words fully merged to one token each after 50 merges
    assert "low</w>" in toks and "newest</w>" in toks
    # 'lowest' was never seen: its pieces reuse trained subwords
    assert "lowest</w>" not in toks


def test_bpe_encode_streaming_left_and_guards(spark, tmp_path):
    """A streaming LEFT is legal (frozen tokenizer over a live stream —
    one microbatch matches the batch encode); a streaming merge table,
    a non-Rel merge operand, and an output-column collision are
    curated errors."""
    from ksml_spark import ksml
    from ksml_spark.streaming.runtime import run_to_memory

    corpus = _docs(spark, [(1, "hello hello world")])
    merges = ksml(["bpe-train", ["stream", corpus, {"key": "doc_id"}],
                   {"merges": 20, "min_freq": 1, "min_pair_freq": 1}],
                  spark=spark)
    batch = ksml(["bpe-encode",
                  ["stream", _docs(spark, [(1, "hello world")]), {"key": "doc_id"}],
                  merges, {"col": "text"}], spark=spark)
    expect = {r["doc_id"]: list(r["bpe_tokens"]) for r in batch.df.collect()}

    sdf = _stream_docs(spark, tmp_path, [(1, "hello world")])
    srel = ksml(["bpe-encode", ["stream", sdf, {"key": "doc_id"}],
                 merges, {"col": "text"}], spark=spark)
    assert srel.df.isStreaming
    rows = run_to_memory(srel.df, "bpe_stream_enc", output_mode="append")
    got = {r["doc_id"]: list(r["bpe_tokens"]) for r in rows.collect()}
    assert got == expect

    with pytest.raises(TypeDispatchError, match="bpe-encode"):
        ksml(["bpe-encode",
              ["stream", corpus, {"key": "doc_id"}], "not-a-rel", {}],
             spark=spark)
    with pytest.raises(ArityError, match="already exists"):
        ksml(["bpe-encode", ["stream", corpus, {"key": "doc_id"}],
              merges, {"col": "text", "as": "text"}], spark=spark)
    # a relation that is not a bpe-train output: curated, not an
    # AnalysisException / TypeError
    with pytest.raises(ArityError, match="missing column"):
        ksml(["bpe-encode", ["stream", corpus, {"key": "doc_id"}],
              ["stream", corpus, {"key": "doc_id"}], {"col": "text"}],
             spark=spark)
    bad = spark.createDataFrame(
        [(0, "a", "b"), (None, "c", "d")],
        "rank int, left string, right string")
    with pytest.raises(ArityError, match="NULL rank"):
        ksml(["bpe-encode", ["stream", corpus, {"key": "doc_id"}],
              ["stream", bad, {"key": "rank"}], {"col": "text"}],
             spark=spark)


def _train_encode(spark, corpus, probe, train_opts, enc_opts):
    from ksml_spark import ksml

    merges = ksml(["bpe-train", ["stream", corpus, {"key": "doc_id"}],
                   dict({"merges": 50, "min_freq": 1, "min_pair_freq": 1},
                        **train_opts)], spark=spark)
    out = ksml(["bpe-encode", ["stream", probe, {"key": "doc_id"}],
                merges, dict({"col": "text"}, **enc_opts)], spark=spark)
    return {r["doc_id"]: (None if r["bpe_tokens"] is None
                          else list(r["bpe_tokens"]))
            for r in out.df.collect()}


def test_bpe_encode_distinct_impl_guards(spark):
    """The retired {'impl': ...} switch (the distinct-vocabulary encode
    is gone; per-row encoding is the only implementation) and junk
    tokenizer options are curated errors."""
    from ksml_spark import ksml

    corpus = _docs(spark, [(1, "hello world")])
    merges = ksml(["bpe-train", ["stream", corpus, {"key": "doc_id"}],
                   {"merges": 5, "min_freq": 1, "min_pair_freq": 1}],
                  spark=spark)
    for impl in ("distinct", "perrow", "vectorized"):
        with pytest.raises(ArityError, match="'impl' was removed.*per-row"):
            ksml(["bpe-encode", ["stream", corpus, {"key": "doc_id"}],
                  merges, {"impl": impl}], spark=spark)
    with pytest.raises(ArityError, match="tokenizer"):
        ksml(["bpe-encode", ["stream", corpus, {"key": "doc_id"}],
              merges, {"tokenizer": "bert"}], spark=spark)


def test_bpe_unicode_tokenizer_non_latin_fallback(spark):
    """ADVICE r10: the default ascii split drops non-Latin text entirely
    (documented limitation — empty arrays); {'tokenizer': 'unicode'}
    gives zh/fr words character-level BPE fallback, the Spark-side
    train split and the Python-side encode split agree on word
    boundaries (round-trip)."""
    rows = [(1, "数据 管道 数据"), (2, "déjà vu déjà"), (3, "plain ascii")]
    corpus = _docs(spark, rows)
    probe = _docs(spark, rows + [(4, "数据déjà mixed2x")])

    ascii_got = _train_encode(spark, corpus, probe, {}, {})
    assert ascii_got[1] == []          # zh: dropped silently under ascii
    assert ascii_got[2] != []          # 'd', 'j', 'vu' survive in pieces

    uni = _train_encode(spark, corpus, probe,
                        {"tokenizer": "unicode"}, {"tokenizer": "unicode"})
    # round-trip: tokens re-join to the unicode-split lowered words
    for doc_id, text in ((1, "数据 管道 数据"), (2, "déjà vu déjà")):
        joined = "".join(uni[doc_id]).replace("</w>", " ").strip()
        assert joined == text.lower()
    # trained words fully merge; '数据' seen 2x in the corpus
    assert "数据</w>" in uni[1]
    # mixed-script token: letter/digit RUN is one word under both splits
    assert "".join(uni[4]).replace("</w>", " ").strip() == "数据déjà mixed2x"


def test_bpe_encode_refuses_tokenizer_mismatch(spark):
    """ADVICE r11: bpe-train stamps its tokenizer into the merge table
    (rank-field metadata, schema unchanged) and bpe-encode refuses a
    mismatched pre-tokenization — a unicode-trained vocabulary applied
    under the ascii split (or vice versa) silently degrades or empties
    encodings. Hand-built tables carry no stamp and are trusted."""
    from ksml_spark import ksml

    rows = [(1, "déjà vu déjà"), (2, "plain ascii words")]
    corpus = _docs(spark, rows)

    def train(tok_opts):
        return ksml(["bpe-train", ["stream", corpus, {"key": "doc_id"}],
                     dict({"merges": 10, "min_freq": 1, "min_pair_freq": 1},
                          **tok_opts)], spark=spark)

    uni_table = train({"tokenizer": "unicode"})
    # mismatch (explicit AND by-default): curated refusal naming the fix
    for enc_opts in ({}, {"tokenizer": "ascii"}):
        with pytest.raises(ArityError, match="training tokenizer 'unicode'"):
            ksml(["bpe-encode", ["stream", corpus, {"key": "doc_id"}],
                  uni_table, dict({"col": "text"}, **enc_opts)], spark=spark)
    ascii_table = train({})
    with pytest.raises(ArityError, match="training tokenizer 'ascii'"):
        ksml(["bpe-encode", ["stream", corpus, {"key": "doc_id"}],
              ascii_table, {"col": "text", "tokenizer": "unicode"}],
             spark=spark)
    # matching stamp: works (both directions)
    got = _train_encode(spark, corpus, corpus,
                        {"tokenizer": "unicode"}, {"tokenizer": "unicode"})
    assert got[1] and "".join(got[1]).replace("</w>", " ").strip() == "déjà vu déjà"
    # hand-built table (no stamp): trusted as-is under any tokenizer
    hand = ksml(["stream", spark.createDataFrame(
        [(0, "a", "b", "ab")], "rank int, left string, right string, "
        "merged string"), {"key": "rank"}], spark=spark)
    out = ksml(["bpe-encode", ["stream", corpus, {"key": "doc_id"}],
                hand, {"col": "text", "tokenizer": "unicode"}], spark=spark)
    assert out.df.count() == 2


# ---------------------------------------------------------------------------
# tfidf-topk


def test_tfidf_topk_values_and_ties(spark):
    """3 docs: 'rare' appears only in doc 1 and outscores the
    everywhere-word 'common' (whose smooth idf is ln(4/4)+1 = 1);
    ties broken by term asc; k caps the rank."""
    rows = [
        (1, "common rare rare"),
        (2, "common common"),
        (3, "common"),
    ]
    out = _pipe(spark, _docs(spark, rows),
                ["tfidf-topk", {"k": 2}]).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    d1 = sorted(by_doc[1], key=lambda r: r["rank"])
    assert [r["term"] for r in d1] == ["rare", "common"]
    idf_rare = math.log((1 + 3) / (1 + 1)) + 1
    assert d1[0]["tfidf"] == round(2 * idf_rare, 6)
    assert all(r["rank"] <= 2 for r in out)
    with pytest.raises(ArityError, match="k >= 1"):
        _pipe(spark, _docs(spark, rows), ["tfidf-topk", {"k": 0}])


def test_tfidf_scan_prunes_to_id_and_text(spark, tables):
    out = _pipe(spark, tables["documents"],
                ["tfidf-topk", {"col": "text", "id": "doc_id", "k": 3}])
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    reads = set(re.findall(r"ReadSchema: (struct<[^>]*>)", plan))
    assert all(
        s in ("struct<doc_id:bigint,text:string>", "struct<>") for s in reads
    ), reads


# ---------------------------------------------------------------------------
# cooccurrence


def test_cooccurrence_hand_computed(spark):
    """'a b c a': window 2 pairs (sorted) = (a,b)@1-2, (a,c)@1-3,
    (b,c)@2-3, (a,b)@2-4, (a,c)@3-4 -> ab:2 ac:2 bc:1."""
    got = {(r["w1"], r["w2"]): r["count"]
           for r in _pipe(spark, _docs(spark, [(1, "a b c a")]),
                          ["cooccurrence", {"window": 2, "min_count": 1}]).collect()}
    assert got == {("a", "b"): 2, ("a", "c"): 2, ("b", "c"): 1}


def test_cooccurrence_window_and_min_count(spark):
    """window=1 degrades to adjacency; same-token pairs count; the
    min_count filter prunes."""
    rows = [(1, "x x y"), (2, "x y z")]
    got = {(r["w1"], r["w2"]): r["count"]
           for r in _pipe(spark, _docs(spark, rows),
                          ["cooccurrence", {"window": 1, "min_count": 2}]).collect()}
    assert got == {("x", "y"): 2}
    with pytest.raises(ArityError, match="window"):
        _pipe(spark, _docs(spark, rows), ["cooccurrence", {"window": 0}])


# ---------------------------------------------------------------------------
# lsh-join (cross-corpus candidates)


def _lsh_join_pairs(spark, left, right, opts):
    """{(doc_a, doc_b): jaccard or None} of one batch lsh-join."""
    return {(r["doc_a"], r["doc_b"]): r.asDict().get("jaccard")
            for r in pipe(
                ["lsh-join", ["stream", left, {"key": "doc_id"}],
                 ["stream", right, {"key": "doc_id"}], opts],
                spark=spark).df.collect()}


def _lsh_join_batch_km(spark, left, right, opts):
    """The batch lsh-join answer under the km family — the reference for
    a streaming run, which always takes km (dedup._lsh_family)."""
    from ksml_spark.operators import dedup

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "_lsh_family", lambda left, right: "km")
        return _lsh_join_pairs(spark, left, right, opts)


def _lsh_join_stream(spark, path, right, opts, name):
    """One availableNow pass of lsh-join with a streaming left read from
    ``path``, in the _lsh_join_pairs shape."""
    from ksml_spark.streaming.runtime import file_stream_source

    out = pipe(
        ["lsh-join", ["stream", file_stream_source(spark, path), {"key": "doc_id"}],
         ["stream", right, {"key": "doc_id"}], opts], spark=spark).df
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName(name)
         .trigger(availableNow=True).outputMode("append").start())
    q.awaitTermination(60)
    return {(r["doc_a"], r["doc_b"]): r.asDict().get("jaccard")
            for r in spark.sql(f"SELECT * FROM {name}").collect()}


def test_lsh_join_finds_cross_corpus_dup_only(spark):
    """A left doc near-duplicating a right doc pairs up; identical docs
    WITHIN one side never pair (no self-join); the broadcast hint
    changes the plan, not the values."""
    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the observer takes careful structured notes")
    left = _docs(spark, [(1, base), (2, base), (3, "completely different "
                 "text about spark physical plans and shuffle exchanges "
                 "nothing shared with the fox corpus at all today")])
    right = _docs(spark, [(100, base + " extra"), (101, "unrelated "
                  "reference document mentioning neither foxes nor dogs "
                  "but plenty of parquet statistics and bloom filters")])
    got = pipe(
        ["lsh-join", ["stream", left, {"key": "doc_id"}],
         ["stream", right, {"key": "doc_id"}], {}],
        spark=spark,
    ).df.collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in got}
    assert (1, 100) in pairs and (2, 100) in pairs
    assert all(b == 100 for _, b in pairs)  # 101 shares nothing
    assert all(a in (1, 2) for a, _ in pairs)
    bc = pipe(
        ["lsh-join", ["stream", left, {"key": "doc_id"}],
         ["stream", right, {"key": "doc_id"}], {"broadcast": True}],
        spark=spark,
    ).df
    assert {(r["doc_a"], r["doc_b"]) for r in bc.collect()} == pairs
    assert "BroadcastHashJoin" in bc._jdf.queryExecution().executedPlan().toString()


def test_lsh_join_verify_exact_jaccard(spark, tmp_path):
    """{"verify": t}: candidates get exact shingle-Jaccard; sub-threshold
    candidates drop; values match a Python shingle-set reference; the
    streaming-left path returns the same verified pairs."""
    import re as _re

    base = ("the quick brown fox jumps over the lazy dog while careful "
            "observers take structured notes about every single motion")
    near = base.replace("structured notes", "detailed records")
    left = _docs(spark, [(1, base), (2, near)])
    right = _docs(spark, [(100, base)])

    def shingle_set(t):  # SHINGLE_K = 3 word shingles, whole-text fallback
        toks = t.split(" ")
        if len(toks) < 3:
            return {t}
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    def jac(a, b):
        sa, sb = shingle_set(a), shingle_set(b)
        return round(len(sa & sb) / len(sa | sb), 6)

    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pipe(
        ["lsh-join", ["stream", left, {"key": "doc_id"}],
         ["stream", right, {"key": "doc_id"}], {"verify": 0.5}],
        spark=spark).df.collect()}
    assert got[(1, 100)] == 1.0
    if (2, 100) in got:
        assert got[(2, 100)] == jac(near, base) >= 0.5
    strict = {(r["doc_a"], r["doc_b"]) for r in pipe(
        ["lsh-join", ["stream", left, {"key": "doc_id"}],
         ["stream", right, {"key": "doc_id"}], {"verify": 0.99}],
        spark=spark).df.collect()}
    assert strict == {(1, 100)}  # the near-dup fails the strict threshold

    p = str(tmp_path / "lshv_docs")
    left.write.parquet(p)
    # the streaming leg runs the km family, and banded RECALL is
    # probabilistic per family — so its reference is the batch answer
    # under km; verified Jaccard values are family-independent
    km = _lsh_join_batch_km(spark, left, right, {"verify": 0.5})
    assert km[(1, 100)] == 1.0
    assert all(got[k] == v for k, v in km.items() if k in got)
    sgot = _lsh_join_stream(spark, p, right, {"verify": 0.5}, "lshv")
    assert sgot == km


def test_lsh_join_streaming_auto_is_km(spark, tmp_path):
    """The hash family follows the inputs: a streaming side puts BOTH
    sides on the km family, and the streaming answer equals the batch
    km reference; all-batch joins stay on the oracle's salted-md5
    family."""
    from ksml_spark.operators.dedup import _lsh_family
    from ksml_spark.streaming.runtime import file_stream_source

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    left = _docs(spark, [(1, base), (2, "unrelated words about caches "
                                        "and pages and buffer pools here")])
    right = _docs(spark, [(100, base)])
    p = str(tmp_path / "lsh_auto_docs")
    left.write.parquet(p)
    src = file_stream_source(spark, p)
    assert _lsh_family(src, right) == "km"
    assert _lsh_family(left, src) == "km"
    assert _lsh_family(left, right) == "md5"

    stream = _lsh_join_stream(spark, p, right, {}, "lsh_auto")
    assert stream == _lsh_join_batch_km(spark, left, right, {})
    assert (1, 100) in stream
    assert (1, 100) in _lsh_join_pairs(spark, left, right, {})


def test_lsh_join_composes_with_anti_join(spark):
    """The incremental-dedup flow: drop left docs with any reference
    candidate via anti-join on the candidate ids."""
    base = ("one two three four five six seven eight nine ten eleven "
            "twelve thirteen fourteen fifteen sixteen seventeen")
    left = _docs(spark, [(1, base), (2, "fresh unseen writing with no "
                 "overlap whatsoever in any shingle of this sentence here")])
    right = _docs(spark, [(9, base)])
    cands = pipe(
        ["lsh-join", ["stream", left, {"key": "doc_id"}],
         ["stream", right, {"key": "doc_id"}], {}],
        spark=spark,
    )
    kept = pipe(
        ["anti-join", ["stream", left, {"key": "doc_id"}],
         ["select-key", cands, ["key-value-mapper", {"doc_id": "doc_a"}]]],
        spark=spark,
    ).df
    assert [r["doc_id"] for r in kept.collect()] == [2]


def test_streaming_minhash_matches_batch(spark, tables, tmp_path):
    """Streaming minhash (one availableNow batch) appends band buckets
    bit-identical to batch minhash, keeps every input column, applies
    the short-doc whole-text fallback shingle and drops NULL-text rows."""
    from ksml_spark.streaming.runtime import file_stream_source, run_to_memory

    docs = tables["documents"].select("doc_id", "text", "lang").limit(40)
    docs = docs.unionByName(spark.createDataFrame(
        [(90001, "tiny doc", "en"), (90002, None, "en"), (90003, "", "en")],
        "doc_id long, text string, lang string"))
    p = str(tmp_path / "minhash_docs")
    docs.write.parquet(p)
    bands = [f"band_{b}" for b in range(4)]
    batch = {r["doc_id"]: tuple(r) for r in _pipe(
        spark, spark.read.parquet(p), ["minhash"]).collect()}
    out = run_to_memory(
        _pipe(spark, file_stream_source(spark, p), ["minhash"]),
        "streaming_minhash", output_mode="append")
    assert out.columns == ["doc_id", "text", "lang", *bands]
    got = {r["doc_id"]: tuple(r) for r in out.collect()}
    assert got == batch and len(got) == 42
    assert 90002 not in got  # NULL text: no signature, row dropped
    assert got[90001][1] == "tiny doc"


def test_simhash_col_matches_agg_path(spark, tables):
    """Per-row HOF simhash equals the codegen bit-sum agg path
    bit-for-bit, and the streaming op path runs end to end."""
    from ksml_spark.operators.dedup import simhash_col, simhash_signatures

    docs = tables["documents"].limit(40)
    agg = {r["doc_id"]: r["simhash"]
           for r in simhash_signatures(docs, "doc_id", "text").collect()}
    hof = {r["doc_id"]: r["sh"]
           for r in docs.select("doc_id", simhash_col("text").alias("sh")).collect()}
    assert agg == hof and len(agg) == 40


def test_simhash_streaming_matches_batch(spark, tmp_path):
    from ksml_spark.streaming.runtime import file_stream_source

    df = _docs(spark, [(1, "near duplicate text body one"),
                       (2, "near duplicate text body two"), (3, None)])
    p = str(tmp_path / "sh_docs")
    df.write.parquet(p)
    out = pipe(["stream", file_stream_source(spark, p), {"key": "doc_id"}],
               ["simhash", {}], spark=spark).df
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("sh_stream")
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = {r["doc_id"]: r["simhash"]
           for r in spark.sql("SELECT * FROM sh_stream").collect()}
    exp = {r["doc_id"]: r["simhash"]
           for r in _pipe(spark, df, ["simhash", {}]).collect()}
    assert got == exp and 3 not in got and len(got) == 2


def test_lsh_join_streaming_left_matches_batch(spark, tmp_path):
    """Incremental dedup in real time: a STREAMING new-docs side
    lsh-joined against a static reference (stream-static equi-join on
    (band, bucket), per-row HOF signatures) equals the batch answer."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    left_rows = [(1, base), (2, "totally different words in this one "
                  "about storage engines and page caches and buffers"),
                 (3, base + " phi")]
    right = _docs(spark, [(100, base)])
    left = _docs(spark, left_rows)
    p = str(tmp_path / "lsh_stream")
    left.write.parquet(p)
    from ksml_spark.streaming.runtime import file_stream_source

    src = file_stream_source(spark, p)
    out = pipe(
        ["lsh-join", ["stream", src, {"key": "doc_id"}],
         ["stream", right, {"key": "doc_id"}], {}],
        spark=spark,
    ).df
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("lsh_stream_join")
         .trigger(availableNow=True).outputMode("append").start())
    q.awaitTermination(60)
    got = {(r["doc_a"], r["doc_b"])
           for r in spark.sql("SELECT * FROM lsh_stream_join").collect()}
    exp = {(r["doc_a"], r["doc_b"]) for r in pipe(
        ["lsh-join", ["stream", left, {"key": "doc_id"}],
         ["stream", right, {"key": "doc_id"}], {}],
        spark=spark).df.collect()}
    assert got == exp and (1, 100) in got and 2 not in {a for a, _ in got}


@pytest.mark.slow
def test_lsh_join_km_impl_parity(spark, tmp_path):
    """The km family (the streaming lsh-join path): (a) an EXACT
    duplicate recalls under both families (identical shingle sets give
    identical minhash vectors, whatever the hash) and any pair found by
    both carries the same verified Jaccard (km token ids ==
    md5_long_col values, so set arithmetic is family-identical);
    near-dup recall may differ pair-by-pair — banding is probabilistic
    per family, (b) one-microbatch streaming (numpy UDF) == batch
    (codegen agg) within the km family, with and without verify,
    (c) the retired impl option is curated."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    near = base.replace("iota kappa", "iota prime kappa")
    left = _docs(spark, [(1, base), (2, near),
                         (3, "wholly unrelated sentence naming parquet "
                             "row groups dictionaries and bloom filters")])
    right = _docs(spark, [(100, base)])

    md5_out = _lsh_join_pairs(spark, left, right, {"verify": 0.5})
    km_out = _lsh_join_batch_km(spark, left, right, {"verify": 0.5})
    assert (1, 100) in md5_out and (1, 100) in km_out
    assert km_out[(1, 100)] == 1.0
    for k in set(md5_out) & set(km_out):
        assert md5_out[k] == km_out[k]
    assert all(b == 100 for _, b in km_out)  # doc 3 never pairs

    p = str(tmp_path / "lsh_km_stream")
    left.write.parquet(p)
    assert _lsh_join_stream(spark, p, right, {"verify": 0.5}, "lsh_km") == km_out

    # candidates-only (no verify) streaming km also matches its batch form
    got2 = _lsh_join_stream(spark, p, right, {}, "lsh_km2")
    assert got2 == _lsh_join_batch_km(spark, left, right, {})
    assert (1, 100) in got2

    with pytest.raises(ArityError, match="'impl' was removed"):
        _lsh_join_pairs(spark, left, right, {"impl": "km"})


def test_band_signatures_km_stream_batch_bit_parity(spark, tables):
    """The km family's batch codegen form (one md5 -> p0 + j*p1 -> min
    agg) is bit-identical to the numpy UDF the streaming path uses —
    the same contract the md5 family pins in
    test_sig_struct_udf_matches_expression_paths."""
    from pyspark.sql import functions as F

    from ksml_spark.operators.dedup import _sig_struct_udf, band_signatures

    docs = tables["documents"].select("doc_id", "text").limit(50).unionByName(
        _docs(spark, [(90001, "tiny doc"), (90002, None)]))
    sig = _sig_struct_udf(with_toks=True, family="km")
    got = {r["doc_id"]: (tuple(r["s"]["bands"]) if r["s"]["bands"] else None,
                         tuple(r["s"]["toks"]) if r["s"]["toks"] else None)
           for r in docs.select("doc_id", sig(F.col("text")).alias("s")).collect()}
    agg = {r["doc_id"]: tuple(r[f"band_{b}"] for b in range(4))
           for r in band_signatures(docs, "doc_id", "text", family="km").collect()}
    # batch drops NULL-text docs (no shingle rows); streaming yields NULLs
    assert got.pop(90002) == (None, None)
    assert {d: b for d, (b, _) in got.items()} == agg
    # km token ids equal the md5 family's (md5_long_col space)
    from ksml_spark.operators.util import md5_long_col
    from ksml_spark.operators.dedup import shingles_col

    toks_md5 = {
        r["doc_id"]: tuple(sorted(r["t"]))
        for r in docs.filter(F.col("text").isNotNull()).select(
            "doc_id",
            F.array_distinct(
                F.transform(shingles_col(F.col("text")), lambda s: md5_long_col(s))
            ).alias("t"),
        ).collect()
    }
    assert {d: t for d, (_, t) in got.items()} == toks_md5


# ---------------------------------------------------------------------------
# NULL-document regression (shared ngram guard)


def test_ngrams_null_text_contributes_nothing(spark):
    """size(NULL) is NULL: without the coalesce guard a NULL document
    fabricates one "" n-gram (the lm-score bug, also latent in ngrams)."""
    rows = [(1, "a b c"), (2, None)]
    got = {r["ngram"]: r["count"]
           for r in _pipe(spark, _docs(spark, rows), ["ngrams", {"n": 2}]).collect()}
    assert got == {"a b": 1, "b c": 1}


# ---------------------------------------------------------------------------
# dist-shift


def test_dist_shift_hand_computed(spark):
    """Two tiny corpora: identical distributions give kl_term ~ 0 for
    shared tokens; an A-only token gets positive kl_term; counts and
    smoothed probabilities match the closed form."""
    a = _docs(spark, [(i, "x x y drift") for i in range(3)])
    b = _docs(spark, [(i, "x x y") for i in range(3)])
    rows = {r["token"]: r for r in pipe(
        ["dist-shift", ["stream", a, {"key": "doc_id"}],
         ["stream", b, {"key": "doc_id"}],
         {"k": 0.5, "min_count": 1}], spark=spark).df.collect()}
    assert set(rows) == {"x", "y", "drift"}
    assert rows["drift"]["cnt_a"] == 3 and rows["drift"]["cnt_b"] == 0
    ta, tb, v = 12.0, 9.0, 3.0  # A tokens, B tokens, union vocab
    p_a = (3 + 0.5) / (ta + 0.5 * v)
    p_b = (0 + 0.5) / (tb + 0.5 * v)
    assert rows["drift"]["p_a"] == round(p_a, 9)
    assert rows["drift"]["kl_term"] == round(p_a * math.log(p_a / p_b), 9)
    assert rows["drift"]["kl_term"] > 0 > rows["x"]["kl_term"] * 0 - 1
    with pytest.raises(ArityError, match="k > 0"):
        pipe(["dist-shift", ["stream", a, {"key": "doc_id"}],
              ["stream", b, {"key": "doc_id"}], {"k": 0}], spark=spark)


# ---------------------------------------------------------------------------
# chunk / sentence-split


def test_chunk_overlap_semantics(spark):
    """size 10 / overlap 3: starts every 7 chars, capped at len-overlap
    so the tail chunk is never pure overlap; NULL/empty docs vanish."""
    text = "abcdefghijklmnopq"  # 17 chars
    rows = [(1, text), (2, ""), (3, None), (4, "short")]
    got = {}
    for r in _pipe(spark, _docs(spark, rows),
                   ["chunk", {"size": 10, "overlap": 3}]).collect():
        got.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk"]))
    assert got == {
        1: [(1, "abcdefghij"), (2, "hijklmnopq")],  # start 15 > 17-3: no tail
        4: [(1, "short")],
    }
    with pytest.raises(ArityError, match="overlap"):
        _pipe(spark, _docs(spark, rows), ["chunk", {"size": 5, "overlap": 5}])


def test_chunk_composes_with_pack_chunks(spark):
    """The RAG flow: chunk -> token-count -> pack-chunks runs end to
    end and every chunk gets a bin."""
    rows = [(i, "word " * 40) for i in range(6)]
    out = _pipe(
        spark, _docs(spark, rows),
        ["chunk", {"size": 60, "overlap": 10, "as": "piece"}],
        ["token-count", {"col": "piece"}],
        ["with-column", "chunk_id", "doc_id * 1000 + chunk_idx"],
        ["pack-chunks", {"id": "chunk_id", "order": "chunk_id",
                         "tokens": "n_tokens_ws", "budget": 50}],
    ).collect()
    assert len(out) > 6  # fan-out happened
    assert all(r["chunk"] is not None and r["offset"] >= 0 for r in out)


def test_chunk_and_sentence_split_stream(spark, tmp_path):
    """Both segmenters are pure per-row fan-outs — legal and identical
    on a streaming source."""
    from ksml_spark.streaming.runtime import file_stream_source

    rows = [(1, "First one. Second one. " + "x" * 30), (2, "only here")]
    df = _docs(spark, rows)
    p = str(tmp_path / "seg_docs")
    df.write.parquet(p)
    src = file_stream_source(spark, p)
    for i, form in enumerate((["chunk", {"size": 20, "overlap": 5}],
                              ["sentence-split", {}])):
        out = pipe(["stream", src, {"key": "doc_id"}], form, spark=spark).df
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName(f"seg_{i}")
             .trigger(availableNow=True).start())
        q.awaitTermination(60)
        got = sorted(map(tuple, spark.sql(f"SELECT * FROM seg_{i}").collect()))
        exp = sorted(map(tuple,
                         _pipe(spark, df, form).collect()))
        assert got == exp and got


def test_sentence_split_indexes_and_heuristic(spark):
    """Terminator+space splits; '3.5' (no space after dot) does not;
    min_chars drops short segments without renumbering."""
    rows = [(1, "Hello world. How are you? Fine! Version 3.5 rocks."),
            (2, "no terminator here"), (3, None), (4, "")]
    got = {}
    for r in _pipe(spark, _docs(spark, rows),
                   ["sentence-split", {"min_chars": 6}]).collect():
        got.setdefault(r["doc_id"], []).append((r["sent_idx"], r["sentence"]))
    assert got == {
        1: [(1, "Hello world."), (2, "How are you?"), (4, "Version 3.5 rocks.")],
        2: [(1, "no terminator here")],
    }  # "Fine!" (5 chars) dropped, index 4 kept for the next sentence


# ---------------------------------------------------------------------------
# property tests vs pure-Python references (random corpora)

from hypothesis import HealthCheck, given, settings, strategies as st

_texts = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=24),
    min_size=1,
    max_size=12,
)


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=_texts, k=st.floats(min_value=0.05, max_value=2.0, allow_nan=False))
def test_lm_score_random_corpora_match_python(spark, texts, k):
    """Tiny alphabet forces shared/unseen grams, short docs, empties."""
    rows = [(i, t) for i, t in enumerate(texts)]
    got = {
        r["doc_id"]: (r["n_scored"], r["nll"], r["ppl"])
        for r in _pipe(
            spark, _docs(spark, rows), ["lm-score", {"n": 2, "k": k}]
        ).collect()
    }
    assert got == _py_lm(rows, n=2, k=k)


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=_texts)
def test_bpe_pairs_random_corpora_match_python(spark, texts):
    import re

    rows = [(i, t) for i, t in enumerate(texts)]
    exp: dict = {}
    wc: dict = {}
    for _, t in rows:
        for w in re.split(r"[^a-z0-9]+", (t or "").lower()):
            if w:
                wc[w] = wc.get(w, 0) + 1
    for w, c in wc.items():
        for i in range(len(w) - 1):
            exp[w[i : i + 2]] = exp.get(w[i : i + 2], 0) + c
    got = {r["pair"]: r["count"]
           for r in _pipe(spark, _docs(spark, rows), ["bpe-pairs", {}]).collect()}
    assert got == exp


# ---------------------------------------------------------------------------
# streaming-parity matrix: every per-row §2.10 op produces the batch
# answer on a file stream (one source write, one stream per op)

_PER_ROW_FORMS = [
    ("tokenize", ["tokenize", {"col": "text", "as": "toks"}]),
    ("token_count", ["token-count", {"col": "text"}]),
    ("lang_id", ["lang-id", {"col": "text"}]),
    ("quality", ["quality-score", {"col": "text"}]),
    ("fingerprint", ["fingerprint", {"col": "text", "as": "fp"}]),
    ("scrub", ["scrub", {"col": "text"}]),
    # repetition-score is a documented batch-only refusal (per-word
    # frequency aggregation joined back to the stream)
    ("entropy", ["entropy", {"col": "text", "unit": "char", "as": "ent"}]),
    ("hash_split", ["hash-split", {"id": "doc_id", "salt": "v1"}]),
    ("sample_hash", ["sample-hash", {"id": "doc_id", "salt": "s", "fraction": 0.5}]),
    ("chunk", ["chunk", {"size": 25, "overlap": 5}]),
    ("sentence", ["sentence-split", {}]),
    ("simhash", ["simhash", {}]),
    ("minhash", ["minhash", {}]),
]


@pytest.mark.slow
def test_per_row_ops_streaming_parity_matrix(spark, tmp_path):
    """One parametrized sweep: each streaming-legal per-row operator,
    applied to the same file stream, returns exactly its batch answer.
    This is the §2.10 batch/streaming-unification contract in one
    table — a new per-row op added without streaming parity shows up
    here, not in production."""
    rows = [
        (1, "The quick brown fox. It jumps over lazy dogs! More text here."),
        (2, "the the the repeated repeated words words words"),
        (3, "short"),
        (4, "Visit https://example.com or mail a@b.co for details today."),
    ]
    df = _docs(spark, rows)
    p = str(tmp_path / "matrix_docs")
    df.write.parquet(p)
    from ksml_spark.streaming.runtime import file_stream_source

    failures = []
    for i, (name, form) in enumerate(_PER_ROW_FORMS):
        src = file_stream_source(spark, p)
        out = pipe(["stream", src, {"key": "doc_id"}], form, spark=spark).df
        assert out.isStreaming, name
        q = (out.writeStream.format("memory").queryName(f"mx_{i}")
             .trigger(availableNow=True).start())
        q.awaitTermination(90)

        def norm(rows_):
            # floats rounded: HOF folds and explode-agg sums may differ
            # in the last ulp (summation order), which is within the
            # ops' round-6 oracle contract
            return sorted(
                tuple(round(v, 9) if isinstance(v, float) else v for v in r)
                for r in map(tuple, rows_)
            )

        got = norm(spark.sql(f"SELECT * FROM mx_{i}").collect())
        exp = norm(_pipe(spark, df, form).collect())
        if got != exp:
            failures.append((name, got[:2], exp[:2]))
    assert not failures, failures


# ---------------------------------------------------------------------------
# streaming refusal (corpus-global statistics)


def test_corpus_ops_refuse_streaming(spark, tmp_path):
    from ksml_spark.streaming.runtime import file_stream_source

    p = str(tmp_path / "docs")
    _docs(spark, [(1, "a b")]).write.parquet(p)
    src = file_stream_source(spark, p)
    for form in (
        ["lm-score", {}],
        ["pmi", {}],
        ["bpe-pairs", {}],
        ["tfidf-topk", {}],
    ):
        with pytest.raises(TypeDispatchError, match="batch-only"):
            pipe(["stream", src, {"key": "doc_id"}], form, spark=spark)


# ---------------------------------------------------------------------------
# round-7 hardening: curated errors and guards (ADVICE r06)


def test_cooccurrence_window_soft_cap(spark):
    """window > 64 is a curated refusal (silent 512x fan-out otherwise),
    overridable with unbounded_window_ok."""
    df = _docs(spark, [(1, "a b c")])
    with pytest.raises(ArityError, match="unbounded_window_ok"):
        _pipe(spark, df, ["cooccurrence", {"window": 512}])
    got = {(r["w1"], r["w2"]): r["count"]
           for r in _pipe(spark, df, ["cooccurrence",
                                      {"window": 512,
                                       "unbounded_window_ok": True}]).collect()}
    assert got == {("a", "b"): 1, ("a", "c"): 1, ("b", "c"): 1}


def test_lm_train_stats_refuses_streaming(spark, tmp_path):
    from ksml_spark.functions.corpus import lm_train_stats
    from ksml_spark.streaming.runtime import file_stream_source

    p = str(tmp_path / "lmdocs")
    _docs(spark, [(1, "a b")]).write.parquet(p)
    with pytest.raises(TypeDispatchError, match="batch-only"):
        lm_train_stats(file_stream_source(spark, p), "text", n=2)


def test_lsh_join_as_option_validated(spark):
    left = _docs(spark, [(1, "a b c")])
    right = _docs(spark, [(2, "a b c")])
    from ksml_spark import ksml

    for bad in ("ab", ["only_one"], ["a", "b", "c"], [1, 2], ["", "b"]):
        with pytest.raises(ArityError, match="2-element list"):
            ksml(["lsh-join",
                  ["stream", left, {"key": "doc_id"}],
                  ["stream", right, {"key": "doc_id"}],
                  {"as": bad}], spark=spark)
    # the happy path still renames
    out = ksml(["lsh-join",
                ["stream", left, {"key": "doc_id"}],
                ["stream", right, {"key": "doc_id"}],
                {"as": ["new_id", "ref_id"]}], spark=spark)
    assert out.df.columns == ["new_id", "ref_id"]


def test_chunk_and_sentence_split_collision_guard(spark):
    """Output names colliding with surviving input columns are a curated
    error; {'idx': ...} renames the index column; out == source col is
    legal (the source column is consumed)."""
    df = spark.createDataFrame(
        [(1, "one two. three four.", 9)], "doc_id long, text string, chunk_idx long"
    )
    with pytest.raises(ArityError, match="chunk_idx"):
        _pipe(spark, df, ["chunk", {"size": 8}])
    ok = _pipe(spark, df, ["chunk", {"size": 8, "idx": "part_idx"}])
    assert set(ok.columns) == {"doc_id", "chunk_idx", "part_idx", "chunk"}

    df2 = spark.createDataFrame(
        [(1, "A b. C d.", "x")], "doc_id long, text string, sentence string"
    )
    with pytest.raises(ArityError, match="sentence"):
        _pipe(spark, df2, ["sentence-split", {}])
    ok2 = _pipe(spark, df2, ["sentence-split", {"as": "sent"}])
    assert set(ok2.columns) == {"doc_id", "sentence", "sent_idx", "sent"}
    with pytest.raises(ArityError, match="must differ"):
        _pipe(spark, _docs(spark, [(1, "a. b.")]),
              ["sentence-split", {"as": "s", "idx": "s"}])
    # out == consumed source column: legal
    ok3 = _pipe(spark, _docs(spark, [(1, "one two. three.")]),
                ["chunk", {"size": 6, "as": "text"}])
    assert set(ok3.columns) == {"doc_id", "chunk_idx", "text"}


@pytest.mark.slow
def test_pinned_persist_registry_bounded(spark):
    """Repeated pair-operator invocations must not accumulate unbounded
    cache blocks: the pin registry caps live pins and release_pinned()
    frees the rest (ADVICE r06: _pin_tokens leak)."""
    from ksml_spark import release_pinned
    from ksml_spark.operators import util as _u

    release_pinned()
    df = _docs(spark, [(i, f"tok{i} tok{i+1} tok{i+2}") for i in range(8)])
    for _ in range(_u._PIN_CAP + 3):
        _pipe(spark, df, ["jaccard-pairs", {"threshold": 0.1}]).count()
    assert len(_u._PINNED) <= _u._PIN_CAP
    assert release_pinned() <= _u._PIN_CAP
    assert len(_u._PINNED) == 0


def test_sig_struct_udf_matches_expression_paths(spark, tables):
    """The Arrow-vectorized streaming signature UDF is bit-identical to
    the batch agg path (md5 bands) and, on the km family that carries
    them, its token sets equal the expression token-set build —
    including the short-doc whole-text fallback and NULL text."""
    from pyspark.sql import functions as F

    from ksml_spark.operators.dedup import (
        _sig_struct_udf,
        band_signatures,
        shingles_col,
    )
    from ksml_spark.operators.util import md5_long_col

    docs = tables["documents"].select("doc_id", "text").limit(50).unionByName(
        _docs(spark, [(90001, "tiny doc"), (90002, None), (90003, "")]))
    md5_sig = _sig_struct_udf(with_toks=False)
    km_sig = _sig_struct_udf(with_toks=True, family="km")
    got = {r["doc_id"]: (tuple(r["s"]["bands"]) if r["s"]["bands"] else None,
                         tuple(r["k"]["toks"]) if r["k"]["toks"] else None)
           for r in docs.select("doc_id", md5_sig(F.col("text")).alias("s"),
                                km_sig(F.col("text")).alias("k")).collect()}
    agg = {r["doc_id"]: tuple(r[f"band_{b}"] for b in range(4))
           for r in band_signatures(docs, "doc_id", "text").collect()}
    toks_expr = {
        r["doc_id"]: tuple(sorted(r["t"])) if r["t"] is not None else None
        for r in docs.select(
            "doc_id",
            F.array_distinct(
                F.transform(shingles_col(F.col("text")), lambda s: md5_long_col(s))
            ).alias("t"),
        ).collect()
    }
    for did, (bands, toks) in got.items():
        if did == 90002:
            assert bands is None and toks is None
            assert did not in agg  # batch path drops NULL-text rows
            continue
        assert bands == agg[did], did
        assert toks == toks_expr[did], did
    assert len(got) == 53
    with pytest.raises(ValueError, match="km"):
        _sig_struct_udf(with_toks=True, family="md5")


@pytest.mark.slow
def test_lsh_join_dedup_within_bounded_state(spark, tmp_path):
    """{"dedup_within": d} bounds the streaming pair-dedup state with an
    event-time watermark (dropDuplicatesWithinWatermark) — output over a
    single availableNow pass must equal the unbounded-default answer,
    for both the candidate and the verify form."""
    import datetime as dt

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, base, t0), (3, base + " phi", t0)],
        "doc_id long, text string, ts timestamp")
    right = _docs(spark, [(100, base)])
    p = str(tmp_path / "lshw")
    left.write.parquet(p)
    from ksml_spark.streaming.runtime import file_stream_source

    for extra in ({}, {"verify": 0.5}):
        src = file_stream_source(spark, p)
        out = pipe(
            ["lsh-join", ["stream", src, {"key": "doc_id", "time": "ts"}],
             ["stream", right, {"key": "doc_id"}],
             {"dedup_within": "1 hour", **extra}],
            spark=spark).df
        assert out.isStreaming and "ts" not in out.columns
        name = "lshw_" + ("v" if extra else "c")
        q = (out.writeStream.format("memory").queryName(name)
             .trigger(availableNow=True).outputMode("append").start())
        q.awaitTermination(60)
        got = {(r["doc_a"], r["doc_b"])
               for r in spark.sql(f"SELECT doc_a, doc_b FROM {name}").collect()}
        exp = {(r["doc_a"], r["doc_b"]) for r in pipe(
            ["lsh-join", ["stream", left, {"key": "doc_id"}],
             ["stream", right, {"key": "doc_id"}], dict(extra)],
            spark=spark).df.collect()}
        assert got == exp and got


def test_lsh_join_dedup_within_matches_unbounded_fast(spark, tmp_path):
    """Fast-tier smoke of test_lsh_join_dedup_within_bounded_state: on a
    3-document stream, the watermark-bounded pair dedup returns the same
    pairs as the unbounded default."""
    import datetime as dt

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, base, t0), (2, "unrelated words about caches and pages", t0),
         (3, base, t0 + dt.timedelta(minutes=5))],
        "doc_id long, text string, ts timestamp")
    right = _docs(spark, [(100, base)])
    p = str(tmp_path / "lshw_fast")
    left.write.parquet(p)
    from ksml_spark.streaming.runtime import file_stream_source

    def run(opts, name):
        out = pipe(
            ["lsh-join", ["stream", file_stream_source(spark, p),
                          {"key": "doc_id", "time": "ts"}],
             ["stream", right, {"key": "doc_id"}], opts], spark=spark).df
        q = (out.writeStream.format("memory").queryName(name)
             .trigger(availableNow=True).outputMode("append").start())
        q.awaitTermination(60)
        return {(r["doc_a"], r["doc_b"])
                for r in spark.sql(f"SELECT doc_a, doc_b FROM {name}").collect()}

    bounded = run({"dedup_within": "1 hour"}, "lshw_fast_bounded")
    assert bounded == run({"unbounded_ok": True}, "lshw_fast_unbounded")
    assert bounded == {(1, 100), (3, 100)}


def test_lsh_join_streaming_unbounded_state_warns_at_construction(
        spark, tmp_path):
    """r12 (VERDICT r11): a STREAMING left without {'dedup_within': ...}
    keeps every emitted pair in cross-batch dedup state — the engine's
    one unbounded default store (measured linear in corpus history by
    the r11 probe). It must announce itself at construction with the
    lever, like every sibling cap; {'unbounded_ok': True} or
    {'dedup_within': ...} silences it; batch inputs never warn."""
    import warnings

    from ksml_spark.streaming.runtime import file_stream_source

    import datetime as dt

    left = _docs(spark, [(1, "a b c d e f g h i j k l m n o p")])
    timed = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n o p",
          dt.datetime(2024, 1, 1))],
        "doc_id long, text string, ts timestamp")
    p = str(tmp_path / "lshwarn")
    timed.write.parquet(p)

    def build(opts, streaming=True):
        src = (["stream", file_stream_source(spark, p), {"key": "doc_id",
                                                         "time": "ts"}]
               if streaming else ["stream", left, {"key": "doc_id"}])
        with warnings.catch_warnings(record=True) as rec:
            warnings.simplefilter("always")
            pipe(["lsh-join", src,
                  ["stream", left, {"key": "doc_id"}], opts], spark=spark)
        return [w for w in rec if issubclass(w.category, ResourceWarning)
                and "cross-batch dedup state" in str(w.message)]

    fired = build({})
    assert fired and "dedup_within" in str(fired[0].message)
    assert not build({"unbounded_ok": True})
    assert not build({"dedup_within": "1 hour"})
    assert not build({}, streaming=False)  # batch dedups exactly


def test_lsh_join_dedup_within_errors(spark, tmp_path):
    from ksml_spark.errors import ArityError, TypeDispatchError
    from ksml_spark.streaming.runtime import file_stream_source

    left = _docs(spark, [(1, "a b c d e")])
    with pytest.raises(ArityError, match="STREAMING dedup"):
        pipe(["lsh-join", ["stream", left, {"key": "doc_id"}],
              ["stream", left, {"key": "doc_id"}],
              {"dedup_within": "1 hour"}], spark=spark)
    p = str(tmp_path / "lshe")
    left.write.parquet(p)
    with pytest.raises(TypeDispatchError, match="time column"):
        pipe(["lsh-join",
              ["stream", file_stream_source(spark, p), {"key": "doc_id"}],
              ["stream", left, {"key": "doc_id"}],
              {"dedup_within": "1 hour"}], spark=spark)


def test_lsh_join_winnow_method_batch_and_stream(spark, tmp_path):
    """method=winnow joins on shared winnowing fingerprints: a copied
    run of window+k-1 tokens guarantees a candidate even when MinHash
    (whole-document) recall misses it; streaming left equals batch."""
    para = " ".join(f"p{i}" for i in range(12))
    left_rows = [
        (1, para + " " + " ".join(f"a{i}" for i in range(60))),
        (2, " ".join(f"b{i}" for i in range(60))),
    ]
    right = _docs(spark, [(100, para + " " +
                           " ".join(f"r{i}" for i in range(60)))])
    left = _docs(spark, left_rows)
    spec = {"method": "winnow", "k": 3, "window": 4}
    batch = {(r["doc_a"], r["doc_b"]) for r in pipe(
        ["lsh-join", ["stream", left, {"key": "doc_id"}],
         ["stream", right, {"key": "doc_id"}], spec],
        spark=spark).df.collect()}
    assert batch == {(1, 100)}  # copied paragraph found, doc 2 clean
    # minhash whole-doc bands miss it (12/72 shared tokens)
    mh = {(r["doc_a"], r["doc_b"]) for r in pipe(
        ["lsh-join", ["stream", left, {"key": "doc_id"}],
         ["stream", right, {"key": "doc_id"}], {}],
        spark=spark).df.collect()}
    assert (1, 100) not in mh
    # streaming parity (verify form too: exact Jaccard on candidates)
    p = str(tmp_path / "wj")
    left.write.parquet(p)
    from ksml_spark.streaming.runtime import file_stream_source

    out = pipe(
        ["lsh-join",
         ["stream", file_stream_source(spark, p), {"key": "doc_id"}],
         ["stream", right, {"key": "doc_id"}],
         {**spec, "verify": 0.05}],
        spark=spark).df
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("winnow_join")
         .trigger(availableNow=True).outputMode("append").start())
    q.awaitTermination(60)
    srows = spark.sql("SELECT * FROM winnow_join").collect()
    assert {(r["doc_a"], r["doc_b"]) for r in srows} == {(1, 100)}
    assert all(r["jaccard"] > 0 for r in srows)
    with pytest.raises(ArityError, match="method must be"):
        pipe(["lsh-join", ["stream", left, {"key": "doc_id"}],
              ["stream", right, {"key": "doc_id"}],
              {"method": "simhash"}], spark=spark)


def test_lm_score_kneser_ney_matches_python_reference(spark):
    """Interpolated bigram KN against an independent Python
    implementation, covering: seen bigrams, unseen bigram with seen
    prefix (discount mass), unseen prefix (full backoff to Pcont), and
    OOV words (the +1/(B+V+1) continuation floor)."""
    import math
    from collections import Counter

    train_rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log"),
        (3, "a cat and a dog"),
    ]
    score_rows = [
        (10, "the cat sat"),          # all seen
        (11, "the mat and the cat"),  # "mat and" unseen bigram, seen pfx
        (12, "zebra quark the cat"),  # OOV words + unseen prefixes
        (13, "x"),                    # < 2 tokens: excluded
    ]
    train = _docs(spark, train_rows)
    score = _docs(spark, score_rows)
    D = 0.75
    got = {r["doc_id"]: (r["n_scored"], r["nll"], r["ppl"]) for r in pipe(
        ["lm-score", ["stream", score, {"key": "doc_id"}],
         ["stream", train, {"key": "doc_id"}],
         {"col": "text", "id": "doc_id", "smoothing": "kn",
          "discount": D, "broadcast": True}],
        spark=spark).df.collect()}

    def toks(t):
        import re
        return [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]

    bigrams = Counter()
    vocab = set()
    for _, t in train_rows:
        ws = toks(t)
        vocab.update(ws)
        for i in range(len(ws) - 1):
            bigrams[(ws[i], ws[i + 1])] += 1
    cp = Counter()
    n1f = Counter()
    n1b = Counter()
    for (v, w), c in bigrams.items():
        cp[v] += c
        n1f[v] += 1
        n1b[w] += 1
    B, V = len(bigrams), len(vocab)

    def pkn(v, w):
        pcont = (n1b.get(w, 0) + 1) / (B + V + 1)
        if cp.get(v, 0) == 0:
            return pcont
        c = bigrams.get((v, w), 0)
        return max(c - D, 0) / cp[v] + D * n1f[v] / cp[v] * pcont

    assert 13 not in got
    for did, text in score_rows:
        ws = toks(text)
        if len(ws) < 2:
            continue
        lps = [math.log(pkn(ws[i], ws[i + 1])) for i in range(len(ws) - 1)]
        nll = -sum(lps) / len(lps)
        n_scored, got_nll, got_ppl = got[did]
        assert n_scored == len(lps)
        assert abs(got_nll - round(nll, 6)) < 2e-6, (did, got_nll, nll)
        assert abs(got_ppl - round(math.exp(nll), 6)) < 2e-5
    # junk must look worse than fluent in-domain text
    assert got[12][2] > got[10][2]


def test_lm_score_kn_option_errors(spark):
    docs = _docs(spark, [(1, "a b c")])
    src = ["stream", docs, {"key": "doc_id"}]
    with pytest.raises(ArityError, match="smoothing must be"):
        pipe(src, ["lm-score", {"smoothing": "katz"}], spark=spark)
    with pytest.raises(ArityError, match="implemented for n=2"):
        pipe(src, ["lm-score", {"smoothing": "kn", "n": 3}], spark=spark)
    with pytest.raises(ArityError, match="discount must be in"):
        pipe(src, ["lm-score", {"smoothing": "kn", "discount": 1.5}],
             spark=spark)


def test_chunk_reconstruction_invariant(spark):
    """Concatenating each doc's chunks (dropping every later chunk's
    ``overlap``-char prefix) must reproduce the original text exactly —
    the invariant a RAG pipeline silently depends on."""
    rows = [(1, "abcdefghijklmnopqrstuvwxyz0123456789"), (2, "short"),
            (3, "x" * 17)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    size, overlap = 10, 3
    out = pipe(
        ["stream", df, {"key": "doc_id"}],
        ["chunk", {"col": "text", "id": "doc_id",
                   "size": size, "overlap": overlap}],
        spark=spark).df.select("doc_id", "chunk_idx", "chunk").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk"]))
    for did, text in rows:
        chunks = [c for _, c in sorted(by_doc[did])]
        rebuilt = chunks[0] + "".join(c[overlap:] for c in chunks[1:])
        assert rebuilt == text, (did, chunks)
        assert all(len(c) <= size for c in chunks)


def test_dist_shift_js_metric(spark):
    """JS mode: symmetric (A,B == B,A), bounded contributions, same
    smoothing; python reference check on a tiny pair of corpora."""
    import math

    a = _docs(spark, [(1, "x x x y")])
    b = _docs(spark, [(2, "x y y z")])
    spec = {"col": "text", "min_count": 1, "k": 0.5, "metric": "js"}
    ab = {r["token"]: r["js_term"] for r in pipe(
        ["dist-shift", ["stream", a, {"key": "doc_id"}],
         ["stream", b, {"key": "doc_id"}], spec], spark=spark).df.collect()}
    ba = {r["token"]: r["js_term"] for r in pipe(
        ["dist-shift", ["stream", b, {"key": "doc_id"}],
         ["stream", a, {"key": "doc_id"}], spec], spark=spark).df.collect()}
    assert ab == ba  # symmetric by construction
    # reference: counts a={x:3,y:1,z:0}, b={x:1,y:2,z:1}, V=3, k=0.5
    ca, cb, V, k, Ta, Tb = {"x": 3, "y": 1, "z": 0}, {"x": 1, "y": 2, "z": 1}, 3, 0.5, 4, 4
    for t in ("x", "y", "z"):
        pa = (ca[t] + k) / (Ta + k * V)
        pb = (cb[t] + k) / (Tb + k * V)
        m = (pa + pb) / 2
        js = (pa * math.log(pa / m) + pb * math.log(pb / m)) / 2
        assert abs(ab[t] - round(js, 9)) < 1e-9
        assert 0 <= ab[t] <= math.log(2)
    with pytest.raises(ArityError, match="metric must be"):
        pipe(["dist-shift", ["stream", a, {"key": "doc_id"}],
              ["stream", b, {"key": "doc_id"}], {"metric": "chi2"}],
             spark=spark)


# ---------------------------------------------------------------------------
# dsir (Xie et al. 2023 importance scores)


def _py_dsir(raw_rows, tgt_rows, buckets=64, n=2, a=1.0):
    """Pure-Python DSIR reference: hashed unigram+bigram log importance
    weights, Laplace-smoothed over the fixed bucket support."""
    import hashlib
    import math
    import re

    def grams(text):
        if text is None:
            return None
        w = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        out = list(w)
        for order in range(2, n + 1):
            out += [" ".join(w[i:i + order]) for i in range(len(w) - order + 1)]
        return out

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % buckets

    cq, cp = {}, {}
    for _, t in raw_rows:
        for g in grams(t) or []:
            b = bucket(g)
            cq[b] = cq.get(b, 0) + 1
    for _, t in tgt_rows:
        for g in grams(t) or []:
            b = bucket(g)
            cp[b] = cp.get(b, 0) + 1
    tp, tq = sum(cp.values()), sum(cq.values())

    def lam(b):
        return (math.log((cp.get(b, 0) + a) / (tp + a * buckets))
                - math.log((cq.get(b, 0) + a) / (tq + a * buckets)))

    out = {}
    for did, t in raw_rows:
        gs = grams(t) or []
        out[did] = (len(gs), sum(lam(bucket(g)) for g in gs) if gs else None)
    return out


def test_dsir_matches_python_reference(spark):
    """Score values, n_feats, and the NULL-score contract for empty/NULL
    docs, exactly vs the pure-Python reference (target-like docs rank
    highest)."""
    raw = [(1, "the cat sat on the mat"),
           (2, "quantum flux capacitor engaged"),
           (3, "the dog sat on the log"),
           (4, ""), (5, None)]
    tgt = [(10, "the cat and the dog sat together"),
           (11, "a cat sat on a mat")]
    exp = _py_dsir(raw, tgt, buckets=64, n=2, a=1.0)
    out = pipe(["dsir",
                ["stream", _docs(spark, raw), {"key": "doc_id"}],
                ["stream", _docs(spark, tgt), {"key": "doc_id"}],
                {"col": "text", "id": "doc_id", "buckets": 64,
                 "n": 2, "smoothing": 1.0}], spark=spark).df
    got = {r["doc_id"]: (r["n_feats"], r["dsir_score"]) for r in out.collect()}
    assert set(got) == set(exp)
    for did, (nf, score) in exp.items():
        assert got[did][0] == nf
        if score is None:
            assert got[did][1] is None
        else:
            assert abs(got[did][1] - score) < 1e-9, did
    # the target-like doc must outrank the off-distribution one
    assert got[1][1] > got[2][1]


def test_dsir_unigram_only_and_option_errors(spark):
    """n=1 scores unigrams only (bigram mass excluded); curated errors
    for junk options and a non-rel target."""
    raw = [(1, "x y"), (2, "z")]
    tgt = [(9, "x x y")]
    exp = _py_dsir(raw, tgt, buckets=16, n=1, a=0.5)
    out = pipe(["dsir",
                ["stream", _docs(spark, raw), {"key": "doc_id"}],
                ["stream", _docs(spark, tgt), {"key": "doc_id"}],
                {"buckets": 16, "n": 1, "smoothing": 0.5}], spark=spark).df
    got = {r["doc_id"]: (r["n_feats"], r["dsir_score"]) for r in out.collect()}
    for did, (nf, score) in exp.items():
        assert got[did][0] == nf and abs(got[did][1] - score) < 1e-9

    lrel = ["stream", _docs(spark, raw), {"key": "doc_id"}]
    rrel = ["stream", _docs(spark, tgt), {"key": "doc_id"}]
    with pytest.raises(ArityError, match="buckets >= 2"):
        pipe(["dsir", lrel, rrel, {"buckets": 1}], spark=spark)
    with pytest.raises(ArityError, match="n-gram order"):
        pipe(["dsir", lrel, rrel, {"n": 4}], spark=spark)
    with pytest.raises(ArityError, match="smoothing > 0"):
        pipe(["dsir", lrel, rrel, {"smoothing": 0}], spark=spark)
    with pytest.raises(TypeDispatchError, match="target.*stream/table"):
        pipe(["dsir", lrel, 42], spark=spark)


def test_dsir_refuses_streaming_and_broadcasts_model(spark, tmp_path):
    """Batch-only on both sides (q is the raw corpus's own closed
    distribution); the lambda-table join into the scoring pass must be
    a broadcast, never a corpus-wide shuffle join."""
    from ksml_spark.streaming.runtime import file_stream_source

    raw = _docs(spark, [(1, "x y"), (2, "y z")])
    tgt = _docs(spark, [(9, "x")])
    p = str(tmp_path / "dsir_docs")
    raw.write.parquet(p)
    srel = ["stream", file_stream_source(spark, p), {"key": "doc_id"}]
    brel = ["stream", raw, {"key": "doc_id"}]
    trel = ["stream", tgt, {"key": "doc_id"}]
    with pytest.raises(TypeDispatchError, match="batch-only"):
        pipe(["dsir", srel, trel, {}], spark=spark)
    with pytest.raises(TypeDispatchError, match="batch-only"):
        pipe(["dsir", brel, ["stream", file_stream_source(spark, p),
                             {"key": "doc_id"}], {}], spark=spark)

    out = pipe(["dsir", brel, trel, {"buckets": 32}], spark=spark).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the lambda join into the corpus-sized scoring pass is a broadcast
    assert "BroadcastHashJoin" in plan
    # the <= B-row model relation is pinned (totals + lambda share ONE
    # materialization instead of re-scanning both corpora), and every
    # sort-merge join in the plan is that model-building full-outer on
    # the bucket key (Spark cannot broadcast-hash a full outer join) —
    # the corpus itself is never SMJ'd
    assert "InMemoryTableScan" in plan
    assert plan.count("SortMergeJoin") == plan.count("FullOuter")


def test_dsir_filter_target_one_scan_matches_reference(spark):
    """r18 one-scan model build: when the target relation is a FILTER
    over the raw relation (the standard DSIR call shape), both bucket
    distributions come out of ONE corpus scan via a conditional
    aggregate — no model-building full-outer join — and the scores
    still match the pure-Python reference exactly."""
    from pyspark.sql import functions as F

    from ksml_spark.functions.corpus import _filter_over

    raw = [(1, "the cat sat on the mat"),
           (2, "quantum flux capacitor engaged"),
           (3, "the dog sat on the log"),
           (4, "a cat sat"), (5, None)]
    raw_df = _docs(spark, raw)
    exp = _py_dsir(raw, [r for r in raw if r[0] <= 3], buckets=64, n=2, a=1.0)

    out = pipe(["dsir",
                ["stream", raw_df, {"key": "doc_id"}],
                ["where", ["stream", raw_df, {"key": "doc_id"}],
                 "doc_id <= 3"],
                {"col": "text", "id": "doc_id", "buckets": 64,
                 "n": 2, "smoothing": 1.0}], spark=spark).df
    # fused: the analyzed plan has no model-building full-outer join
    assert "FullOuter" not in out._jdf.queryExecution().analyzed().toString()
    got = {r["doc_id"]: (r["n_feats"], r["dsir_score"]) for r in out.collect()}
    assert set(got) == set(exp)
    for did, (nf, score) in exp.items():
        assert got[did][0] == nf
        if score is None:
            assert got[did][1] is None
        else:
            assert abs(got[did][1] - score) < 1e-9, did

    # a target with the same CONTENT but non-filter lineage falls back
    # to the two-scan full-outer build — and scores identically
    out2 = pipe(["dsir",
                 ["stream", raw_df, {"key": "doc_id"}],
                 ["stream", _docs(spark, raw[:3]), {"key": "doc_id"}],
                 {"col": "text", "id": "doc_id", "buckets": 64,
                  "n": 2, "smoothing": 1.0}], spark=spark).df
    assert "FullOuter" in out2._jdf.queryExecution().analyzed().toString()
    got2 = {r["doc_id"]: (r["n_feats"], r["dsir_score"]) for r in out2.collect()}
    assert got == got2

    # detector unit contract: fires on deterministic filter-over only
    assert _filter_over(raw_df, raw_df.filter("doc_id <= 3")) is not None
    assert _filter_over(raw_df, _docs(spark, raw[:3])) is None
    assert _filter_over(raw_df, raw_df.filter(F.rand() < 2.0)) is None


def test_lm_score_kn_single_token_train_doc_counts_in_vocab(spark):
    """r18 one-scan KN model build: V (training vocabulary size) must
    still count a word that appears ONLY in a single-token document —
    such a doc emits a unigram (u, NULL) row but no bigram, the exact
    seam between the old separate count_distinct corpus scan and the
    fused type relation."""
    import math
    import re
    from collections import Counter

    train_rows = [
        (1, "the cat sat on the mat"),
        (2, "solo"),            # vocab word with NO bigram
        (3, "the dog sat"),
    ]
    score_rows = [(10, "the cat sat"), (11, "zebra solo runs")]
    D = 0.75
    got = {r["doc_id"]: (r["n_scored"], r["nll"], r["ppl"]) for r in pipe(
        ["lm-score", ["stream", _docs(spark, score_rows), {"key": "doc_id"}],
         ["stream", _docs(spark, train_rows), {"key": "doc_id"}],
         {"col": "text", "id": "doc_id", "smoothing": "kn",
          "discount": D}], spark=spark).df.collect()}

    def toks(t):
        return [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]

    bigrams, vocab = Counter(), set()
    for _, t in train_rows:
        ws = toks(t)
        vocab.update(ws)           # "solo" lands here, bigram-free
        for i in range(len(ws) - 1):
            bigrams[(ws[i], ws[i + 1])] += 1
    cp, n1f, n1b = Counter(), Counter(), Counter()
    for (v, w), c in bigrams.items():
        cp[v] += c
        n1f[v] += 1
        n1b[w] += 1
    B, V = len(bigrams), len(vocab)
    assert "solo" in vocab

    def pkn(v, w):
        pcont = (n1b.get(w, 0) + 1) / (B + V + 1)
        if cp.get(v, 0) == 0:
            return pcont
        c = bigrams.get((v, w), 0)
        return max(c - D, 0) / cp[v] + D * n1f[v] / cp[v] * pcont

    for did, text in score_rows:
        ws = toks(text)
        lps = [math.log(pkn(ws[i], ws[i + 1])) for i in range(len(ws) - 1)]
        nll = -sum(lps) / len(lps)
        n_scored, got_nll, got_ppl = got[did]
        assert n_scored == len(lps)
        assert abs(got_nll - round(nll, 6)) < 2e-6, (did, got_nll, nll)
        assert abs(got_ppl - round(math.exp(nll), 6)) < 2e-5


def _py_classify(rows, wmap, buckets, n, bias, pooling):
    """Pure-Python fastText-style reference: hashed unigram(+...n) grams,
    frozen linear weights, sigmoid."""
    import hashlib

    out = {}
    for did, text in rows:
        toks = ([w for w in __import__("re").split(r"[^a-z0-9]+", text.lower()) if w]
                if isinstance(text, str) else [])
        grams = list(toks)
        for order in range(2, n + 1):
            if len(toks) >= order:
                grams += [" ".join(toks[i:i + order])
                          for i in range(len(toks) - order + 1)]
        if not grams:
            out[did] = (0, None)
            continue
        z = sum(wmap.get(
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % buckets, 0.0)
            for g in grams)
        if pooling == "mean":
            z /= len(grams)
        out[did] = (len(grams), 1.0 / (1.0 + math.exp(-(bias + z))))
    return out


def test_classify_relational_and_frozen_match_python_reference(spark):
    """Both classify modes produce the SAME scores as the pure-Python
    fastText-style reference — including the n_feats-0 / NULL-score
    contract for empty and NULL docs, mean vs sum pooling, bias, and
    the threshold label."""
    rows = [(1, "the cat sat on the mat"),
            (2, "quantum flux capacitor engaged"),
            (3, "the dog sat on the log the dog"),
            (4, ""), (5, None)]
    buckets, n, bias = 64, 2, -0.25
    wmap = {b: ((b % 13) - 6) / 10.0 for b in range(buckets)}
    for pooling in ("mean", "sum"):
        exp = _py_classify(rows, wmap, buckets, n, bias, pooling)
        wrows = [(b, w) for b, w in wmap.items()]
        wrel = ["stream", spark.createDataFrame(wrows, "bucket long, weight double"),
                {"key": "bucket"}]
        rel_out = pipe(["classify",
                        ["stream", _docs(spark, rows), {"key": "doc_id"}],
                        wrel,
                        {"col": "text", "id": "doc_id", "buckets": buckets,
                         "n": n, "bias": bias, "pooling": pooling,
                         "threshold": 0.5}], spark=spark).df
        frz_out = pipe(["classify",
                        ["stream", _docs(spark, rows), {"key": "doc_id"}],
                        {"col": "text", "id": "doc_id", "buckets": buckets,
                         "n": n, "bias": bias, "pooling": pooling,
                         "threshold": 0.5, "weights": wmap}], spark=spark).df
        for mode, out in (("relational", rel_out), ("frozen", frz_out)):
            got = {r["doc_id"]: (r["n_feats"], r["score"], r["label"])
                   for r in out.collect()}
            assert set(got) == set(exp), mode
            for did, (nf, score) in exp.items():
                gnf, gscore, glabel = got[did]
                assert gnf == nf, (mode, did)
                if score is None:
                    assert gscore is None and glabel is None, (mode, did)
                else:
                    assert abs(gscore - round(score, 6)) < 1e-9, (mode, did)
                    assert glabel == int(round(score, 6) >= 0.5), (mode, did)
        # frozen preserves the input shape (every row, original columns)
        assert "text" in frz_out.columns and frz_out.count() == len(rows)


def test_classify_streaming_frozen_legal_relational_refused(spark, tmp_path):
    """Frozen-weights classify is streaming-legal (shuffle-free scoring
    against a broadcast-closure model); relational-weights mode refuses
    streams curatedly on either side."""
    rows = [(1, "the cat sat"), (2, "dog log fog")]
    src = _stream_docs(spark, tmp_path, rows)
    wmap = {b: 0.1 for b in range(16)}
    out = pipe(["classify", ["stream", src, {"key": "doc_id"}],
                {"buckets": 16, "weights": wmap, "threshold": 0.5}],
               spark=spark)
    assert out.df.isStreaming
    exp = _py_classify(rows, wmap, 16, 2, 0.0, "mean")
    q = (out.df.writeStream.format("memory").queryName("classify_frozen")
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = {r["doc_id"]: (r["n_feats"], r["score"])
           for r in spark.sql("SELECT * FROM classify_frozen").collect()}
    assert {d: (nf, round(s, 6)) for d, (nf, s) in exp.items()} == got

    srel = ["stream", _stream_docs(spark, tmp_path / "b", rows), {"key": "doc_id"}]
    wrel = ["stream", spark.createDataFrame([(0, 0.1)], "bucket long, weight double"),
            {"key": "bucket"}]
    with pytest.raises(TypeDispatchError, match="batch-only"):
        pipe(["classify", srel, wrel, {}], spark=spark)


def test_classify_option_errors_and_plan(spark):
    """Curated refusals (weight-source arity, pooling, widths, oversize
    frozen dict, missing weight columns) and the scale contract: the
    weight table joins in as a BROADCAST — the corpus never shuffles
    for the model."""
    docs = ["stream", _docs(spark, [(1, "a b c")]), {"key": "doc_id"}]
    wrel = ["stream", spark.createDataFrame([(0, 0.1)], "bucket long, weight double"),
            {"key": "bucket"}]
    with pytest.raises(ArityError, match="exactly one weight source"):
        pipe(["classify", docs, {}], spark=spark)
    with pytest.raises(ArityError, match="exactly one weight source"):
        pipe(["classify", docs, wrel, {"weights": {0: 0.1}}], spark=spark)
    with pytest.raises(ArityError, match="pooling must be"):
        pipe(["classify", docs, wrel, {"pooling": "max"}], spark=spark)
    with pytest.raises(ArityError, match="buckets >= 2"):
        pipe(["classify", docs, wrel, {"buckets": 1}], spark=spark)
    with pytest.raises(ArityError, match="order must be 1, 2 or 3"):
        pipe(["classify", docs, wrel, {"n": 4}], spark=spark)
    with pytest.raises(ArityError, match="n must be"):
        pipe(["classify", docs, wrel, {"n": 2.5}], spark=spark)
    with pytest.raises(ArityError, match="frozen weights has"):
        pipe(["classify", docs, {"buckets": 2, "weights": {0: 1.0, 1: 1.0, 2: 1.0}}],
             spark=spark)
    with pytest.raises(ArityError, match="needs column 'weight'"):
        pipe(["classify", docs,
              ["stream", spark.createDataFrame([(0,)], "bucket long"), {"key": "bucket"}],
              {}], spark=spark)
    out = pipe(["classify", docs, wrel, {"buckets": 16}], spark=spark).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_classify_relational_weights_validation(spark):
    """ADVICE r16: relational-mode weight tables are validated like the
    frozen dict — duplicate bucket rows (which would multiply exploded
    grams through the join, silently inflating n_feats and score), NULL
    buckets, and tables larger than the hashed feature space all refuse
    at construction instead of producing silent-wrong scores."""
    docs = ["stream", _docs(spark, [(1, "a b c")]), {"key": "doc_id"}]

    dup = ["stream", spark.createDataFrame(
        [(0, 0.1), (0, 0.2), (1, 0.3)], "bucket long, weight double"),
        {"key": "bucket"}]
    with pytest.raises(ArityError, match="duplicate 'bucket' rows"):
        pipe(["classify", docs, dup, {"buckets": 16}], spark=spark)

    nullb = ["stream", spark.createDataFrame(
        [(None, 0.1), (1, 0.3)], "bucket long, weight double"),
        {"key": "bucket"}]
    with pytest.raises(ArityError, match="NULL 'bucket' row"):
        pipe(["classify", docs, nullb, {"buckets": 16}], spark=spark)

    big = ["stream", spark.createDataFrame(
        [(i, 0.1) for i in range(3)], "bucket long, weight double"),
        {"key": "bucket"}]
    with pytest.raises(ArityError, match="more than 2 rows for buckets=2"):
        pipe(["classify", docs, big, {"buckets": 2}], spark=spark)
