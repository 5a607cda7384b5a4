"""Corpus-statistics operators for LLM-data pipelines (SURVEY.md §2.10).

The reference has no analog (cddr/ksml wraps the Kafka Streams DSL —
`/root/reference/src/cddr/ksml/eval.clj` exposes no scalar/corpus
function surface); these are the corpus-curation extensions a
training-data engine provides as first-class operators:

    ["lm-score", rel, {"col": "text", "id": "doc_id", "n": 2, "k": 0.1}]
        per-document perplexity under an add-k-smoothed word n-gram LM
        trained on the corpus itself (or a second relation) — the
        KenLM-style quality filter.
    ["pmi", rel, {"col": "text", "min_count": 5, "top": 50}]
        top collocations by pointwise mutual information.
    ["bpe-pairs", rel, {"col": "text", "top": 50}]
        corpus-weighted adjacent character-pair frequencies — the count
        step of one BPE merge iteration (tokenizer training).
    ["bpe-train", rel, {"col": "text", "merges": 100}]
        full BPE merge-table training (Sennrich et al. 2016): one
        corpus scan to a bounded word-frequency vocabulary, then a
        driver-side incremental merge loop.
    ["bpe-encode", rel, merge_table, {"col": "text", "as": "bpe_tokens"}]
        apply a trained merge table (broadcast rank dict, Arrow-batched
        greedy encode); streaming-legal on the text side.
    ["tfidf-topk", rel, {"col": "text", "id": "doc_id", "k": 5}]
        per-document top-k keywords by smoothed tf-idf.

All four are CORPUS-GLOBAL statistics: their model/normalizer terms are
aggregates over the whole input, so they are batch-only and refuse
streaming input with a curated error (score a stream against a frozen
model via bm25's frozen-stats pattern instead, or re-train per batch
with foreach-batch).

Every row-path expression is a built-in Column function — JVM-side,
whole-stage-codegen'd, zero Python. n-grams join on 60-bit md5 longs
(`util.md5_long_col`), never on raw strings, so the model-join shuffle
moves 8-byte keys at 100 TB.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..errors import ArityError, TypeDispatchError
from ..eval import Ctx, defop
from ..model import Rel
from ..operators.util import (
    PERSIST_REMOVED, float_opt, int_opt, let1, md5_long_col, opts_of,
    refuse_removed_opt, spread,
)
from .text import words


def _filter_over(base_df, derived_df):
    """Detect "derived = base.filter(cond)" and return ``cond`` as a SQL
    string resolvable against ``base_df``, else None (r18 dsir one-scan
    rewrite). Strict by design: the derived plan must be one or more
    Filter nodes DIRECTLY over a subtree semantically equal to base's
    analyzed plan (Catalyst ``sameResult``, which normalizes expr ids),
    and every condition must be deterministic (a rand()-style predicate
    re-evaluated in a fused conditional aggregate would select a
    different row subset than the original filter scan) and must
    round-trip through Expression.sql(). Anything else returns None and
    the caller keeps its unfused plan."""
    try:
        lplan = base_df._jdf.queryExecution().analyzed()
        p = derived_df._jdf.queryExecution().analyzed()
        conds = []
        while p.getClass().getSimpleName() == "Filter":
            cond = p.condition()
            if not cond.deterministic():
                return None
            conds.append(cond.sql())
            p = p.child()
        if not conds or not p.sameResult(lplan):
            return None
        return " AND ".join(f"({c})" for c in conds)
    except Exception:
        return None


def word_ngrams(w: Column, n: int) -> Column:
    """Space-joined word n-grams of a token array; ``[]`` when the doc
    has fewer than ``n`` tokens."""
    if n <= 1:
        return w

    # let1-bound (r18): the lambda below re-evaluates its captured array
    # per element (no CSE inside HOF lambdas), so an inlined
    # tokenization made this quadratic per doc — bind it once
    def _grams_of(tt: Column) -> Column:
        # coalesce: size(NULL) is NULL, which would fall through the
        # `when` into the otherwise-branch (greatest() skips NULLs) and
        # fabricate a gram of "" for NULL documents
        return F.when(
            F.coalesce(F.size(tt), F.lit(0)) < n,
            F.array().cast("array<string>"),
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(tt) - (n - 1), F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(tt, i, n)),
            )
        )

    return let1(w, _grams_of)


def _hashed(grams: Column) -> Column:
    return F.transform(grams, lambda g: md5_long_col(g))


def _refuse_streaming(rel: Rel, op: str) -> None:
    if rel.df.isStreaming:
        raise TypeDispatchError(
            f"{op} aggregates corpus-global statistics and is batch-only; "
            "score a stream against a frozen model (bm25-style stats dict) "
            "or run per micro-batch via foreach-batch"
        )


def lm_train_stats(df, col: str = "text", n: int = 2, max_entries: int = 100_000) -> dict:
    """Collect a SMALL n-gram LM model as the frozen-stats dict for
    streaming `lm-score` — the bm25 frozen-stats pattern: train once in
    batch on a (domain-sized) reference corpus, score a live stream
    against it row-at-a-time (Arrow-batched UDF, O(1) dict lookups).

    Returns {"n": n, "v": vocab, "gram": {gram: count},
    "prefix": {(n-1)-gram: count}} with raw space-joined word grams as
    keys. Refuses models over ``max_entries`` distinct grams — this is
    a DRIVER-side collect by design (the dict ships inside the scoring
    UDF's closure); frozen scoring is for small domain models, not a
    100 TB-trained LM (use the relational lm-score for that)."""
    if df.isStreaming:
        raise TypeDispatchError(
            "lm_train_stats aggregates corpus-global statistics and is "
            "batch-only; train on a batch reference corpus, then score the "
            "stream with lm-score {'stats': ...}"
        )
    w = words(F.col(col))

    def _bounded(grams: Column, what: str) -> dict:
        # ONE computation per aggregation, driver memory hard-bounded:
        # LIMIT max_entries+1 caps the collect, and getting more than
        # max_entries rows back proves the model is over-size without
        # ever materializing the full result on the driver (the old
        # count()-then-collect() form recomputed the lineage twice)
        rows = (
            spread(df)
            .select(F.explode(grams).alias("g"))
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("c"))
            .limit(max_entries + 1)
            .collect()
        )
        if len(rows) > max_entries:
            raise ArityError(
                f"lm_train_stats: model has > max_entries={max_entries} "
                f"distinct {what}; a model this size belongs in the "
                "relational lm-score (train rel), not a driver-side dict"
            )
        return {r["g"]: r["c"] for r in rows}

    gram = _bounded(word_ngrams(w, n), f"{n}-grams")
    prefix = _bounded(word_ngrams(w, n - 1), f"{n - 1}-gram prefixes")
    if n == 2:
        v = len(prefix)
    else:
        v = (
            spread(df)
            .select(F.explode(w).alias("u"))
            .agg(F.count_distinct("u"))
            .collect()[0][0]
        )
    return {"n": n, "v": v, "gram": gram, "prefix": prefix}


def _bigram_ps(w: Column) -> Column:
    """Per-position (prefix-hash, suffix-hash) structs for bigrams —
    the split identity Kneser-Ney continuation counts need (the full
    bigram hash cannot be factored back into its sides). let1-bound
    (r18): element_at inside the lambda re-evaluated the captured token
    array per position."""
    return let1(
        w,
        lambda tt: F.when(
            F.coalesce(F.size(tt), F.lit(0)) < 2,
            F.array().cast("array<struct<p:bigint,s:bigint>>"),
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(tt) - 1),
                lambda i: F.struct(
                    md5_long_col(F.element_at(tt, i)).alias("p"),
                    md5_long_col(F.element_at(tt, i + 1)).alias("s"),
                ),
            )
        ),
    )


def _lm_score_kn(rel: Rel, tdf, tw: Column, idc: str, colc: str,
                 discount: float, opts: dict) -> Rel:
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; the
    smoothing KenLM-class quality filters use — continuation counts
    model HOW MANY contexts a word follows, not how often):

        P(w|v) = max(c(vw) - D, 0)/c(v) + D·N1+(v·)/c(v) · Pcont(w)
        Pcont(w) = (N1+(·w) + 1) / (B + V + 1)

    with c(·) bigram/prefix-position occurrence counts, N1+(v·)/N1+(·w)
    the distinct-continuation type counts, B = distinct bigram types,
    V = training vocabulary size, D the absolute discount. The +1/+V+1
    floor on Pcont is the documented OOV rule: textbook KN assigns an
    unseen word probability zero (log -> -inf), useless for a filter
    that must score out-of-domain junk HIGHER-perplexity, not crash on
    it. An unseen PREFIX backs off to Pcont(w) entirely (lambda = 1).

    Plan: the bigram TYPE relation (one explode + hash agg over split
    (p, s) hashes) feeds every model table — per-type counts, both
    continuation aggregates (a second agg over the type relation, so
    type counting never rescans the corpus), and B; V is the unigram
    distinct agg. Scored side pre-aggregates per (doc, p, s) before the
    model joins, exactly like the add-k path; {"broadcast": true}
    forces the vocab-sized model tables broadcast. All-expression, no
    Python."""
    D = discount
    # ONE training-corpus scan builds every model table (r18, VERDICT
    # r17 #3 / guide §6 one-scan): each doc emits its unigrams as
    # (u, NULL) rows ALONGSIDE the (p, s) bigram structs, so the vocab
    # count V comes out of the same explode + hash agg as the bigram
    # type relation — the separate corpus-wide unigram distinct scan
    # (the consts crossJoin's right side) is gone. s IS NULL separates
    # the kinds: bigram suffixes are md5 longs, never NULL.
    uni_ps = F.transform(
        _hashed(tw),
        lambda u: F.struct(
            u.alias("p"), F.lit(None).cast("bigint").alias("s")
        ),
    )
    bt = (
        spread(tdf)
        .select(F.explode(F.concat(uni_ps, _bigram_ps(tw))).alias("__b"))
        .select(F.col("__b.p").alias("__p"), F.col("__b.s").alias("__s"))
    )
    # the type relation feeds FIVE consumers (prefix agg, continuation
    # agg, B, V, the scored join) — always pin it: it is vocab-bounded
    # (model-sized), while re-deriving it would rescan the training
    # corpus per consumer
    from ..operators.util import pin

    types_all = pin(
        bt.groupBy("__p", "__s").agg(F.count(F.lit(1)).alias("__cg"))
    )
    types = types_all.filter(F.col("__s").isNotNull())
    # per-prefix: occurrence total c(v) AND distinct continuations
    # N1+(v·) from ONE agg over the type relation
    pref = types.groupBy("__p").agg(
        F.sum("__cg").alias("__cp"), F.count(F.lit(1)).alias("__n1f")
    )
    cont = types.groupBy("__s").agg(F.count(F.lit(1)).alias("__n1b"))
    consts = types.agg(F.count(F.lit(1)).alias("__B")).crossJoin(
        types_all.filter(F.col("__s").isNull())
        .agg(F.count(F.lit(1)).alias("__v"))
    )
    if opts.get("broadcast"):
        types = F.broadcast(types)
        pref = F.broadcast(pref)
        cont = F.broadcast(cont)

    sw = words(F.col(colc))
    occ = (
        spread(rel.df)
        .select(F.col(idc), F.explode(_bigram_ps(sw)).alias("__b"))
        .select(idc, F.col("__b.p").alias("__p"), F.col("__b.s").alias("__s"))
        .groupBy(idc, "__p", "__s")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    pcont = (F.coalesce(F.col("__n1b"), F.lit(0)) + 1) / (
        F.col("__B") + F.col("__v") + 1
    )
    seen = F.col("__cp").isNotNull()
    prob = F.when(
        seen,
        F.greatest(F.coalesce(F.col("__cg"), F.lit(0)) - F.lit(D), F.lit(0.0))
        / F.col("__cp")
        + F.lit(D) * F.col("__n1f") / F.col("__cp") * pcont,
    ).otherwise(pcont)
    per_doc = (
        occ.join(types, ["__p", "__s"], "left")
        .join(pref, "__p", "left")
        .join(cont, "__s", "left")
        .crossJoin(F.broadcast(consts))
        .groupBy(idc)
        .agg(
            F.sum("__tf").cast("long").alias("n_scored"),
            (-F.sum(F.col("__tf") * F.log(prob)) / F.sum("__tf")).alias("__nll"),
        )
    )
    out = per_doc.select(
        idc,
        "n_scored",
        F.round("__nll", 6).alias("nll"),
        F.round(F.exp("__nll"), 6).alias("ppl"),
    )
    return rel.with_df(out, key_cols=(idc,), time_col=None)


@defop("lm-score")
def op_lm_score(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Per-document n-gram language-model score — the perplexity-based
    quality filter (the role KenLM plays in CCNet/RedPajama-style
    pipelines), expressed fully relationally:

        ["lm-score", rel, {"col": "text", "id": "doc_id",
                           "n": 2, "k": 0.1}]
        ["lm-score", corpus, train_rel, {...}]   # train on a 2nd rel
        -> (id, n_scored, nll, ppl) for every document with >= n
           tokens; nll = mean negative natural-log add-k probability
           per scored position, ppl = exp(nll). Lower = more fluent
           under the training corpus.

    Model: P(w | prefix) = (c(ngram) + k) / (c(prefix) + k·V) where
    c(·) are training-corpus occurrence counts (prefix = the
    (n-1)-gram counted at EVERY position, the standard MLE
    denominator), V = training unigram vocabulary size, k > 0 the
    add-k smoothing constant. Unseen n-grams/prefixes coalesce to 0
    and stay finite through the smoothing.

    Plan, and why it scales: training reduces to two hash aggs over
    exploded 60-bit gram hashes (n-grams and (n-1)-grams; for n=2 the
    vocab size V falls out of the prefix agg for free, no third scan).
    The scored side aggregates per (doc, gram, prefix) BEFORE the model
    join, so the join input is per-doc-distinct grams, not raw token
    positions; both model joins are long-key equi-joins that AQE can
    broadcast when the trained model is small — force that with
    {"broadcast": true} (model tables are vocab-sized, often far
    smaller than the corpus being scored). V rides in as a broadcast
    one-row aggregate. Nothing Python touches a row.

    Self-training traverses the input lineage three times (two model
    aggs + the scored side); when the input is an expensive pipeline
    rather than a stored table, wrap it in ["persist", rel] upstream.

    FROZEN-STATS mode — {"stats": lm_train_stats(ref_df)} — scores
    against a PRECOMPUTED small model shipped in an Arrow-batched
    pandas UDF's closure (O(1) dict lookups; a map-LITERAL expression
    was measured O(model × tokens) — Spark's GetMapValue linear-scans
    literal maps — and stalled at sf0.1). Shuffle-free and
    STREAMING-legal: train once on a domain reference corpus, score
    the live stream (the bm25 frozen-stats pattern). Shape difference:
    appends (n_scored, nll, ppl) to EVERY row, NULL for docs with < n
    tokens. For corpus-scale models use the relational train path —
    lm_train_stats refuses models over max_entries.

    Reference: no analog (§2.10 extension surface).
    """
    train = None
    opts: dict = {}
    for r in rest:
        if isinstance(r, Rel):
            train = r
        elif isinstance(r, dict):
            # None-valued keys mean "unset" (the opts_of contract)
            opts.update({k: v for k, v in r.items() if v is not None})
    refuse_removed_opt(opts, "persist", "lm-score", PERSIST_REMOVED)
    n = int_opt(opts, "n", "lm-score", 2)
    k = float_opt(opts, "k", "lm-score", 0.1)
    if n < 2:
        raise ArityError("lm-score needs n >= 2 (unigram scoring has no prefix)")
    if k <= 0:
        raise ArityError("lm-score needs k > 0 (unsmoothed counts divide by zero)")
    smoothing = opts.get("smoothing", "addk")
    if smoothing not in ("addk", "kn"):
        raise ArityError(
            f"lm-score smoothing must be 'addk' or 'kn', got {smoothing!r}"
        )
    if smoothing == "kn" and n != 2:
        raise ArityError(
            "lm-score Kneser-Ney smoothing is implemented for n=2 "
            "(bigram continuation counts); use addk for higher orders"
        )
    discount = float_opt(opts, "discount", "lm-score", 0.75)
    if smoothing == "kn" and not (0.0 < discount < 1.0):
        raise ArityError(
            f"lm-score KN discount must be in (0, 1), got {discount!r}"
        )
    idc = opts.get("id", "doc_id")
    colc = opts.get("col", "text")
    tcolc = opts.get("train_col", colc)

    stats = opts.get("stats")
    if stats is not None:
        # FROZEN-STATS mode (the bm25 pattern): score every row against a
        # precomputed small model — shuffle-free and STREAMING-legal.
        # Implemented as an Arrow-batched scalar pandas UDF, NOT map-
        # literal expressions: Spark's GetMapValue on a literal map is a
        # LINEAR scan, so the expression form is O(model entries ×
        # corpus tokens) — measured as a multi-minute stall at sf0.1
        # with a 931-entry model, where the dict-lookup UDF is O(tokens).
        # This is the documented Python-at-the-edge trade (same contract
        # as opaque lambdas): one vectorized UDF over exactly one input
        # column. Shape difference: appends (n_scored, nll, ppl) to
        # EVERY input row, NULL for docs with < n tokens; batch mode
        # returns only the scored (id, n_scored, nll, ppl) set.
        import math
        import re as _re

        from pyspark.sql.functions import pandas_udf

        sn = int(stats.get("n", n))
        v = float(stats["v"])
        cg = {kk: float(vv) for kk, vv in (stats.get("gram") or {}).items()}
        cp = {kk: float(vv) for kk, vv in (stats.get("prefix") or {}).items()}
        kv = k * v

        @pandas_udf("n_scored long, nll double, ppl double")
        def _score(texts):
            import pandas as pd

            ns, nll, ppl = [], [], []
            for t in texts:
                toks = (
                    [w for w in _re.split(r"[^a-z0-9]+", t.lower()) if w]
                    if isinstance(t, str)
                    else []
                )
                npos = len(toks) - sn + 1
                if npos < 1:
                    ns.append(None), nll.append(None), ppl.append(None)
                    continue
                lp = 0.0
                for i in range(npos):
                    g = " ".join(toks[i : i + sn])
                    p = " ".join(toks[i : i + sn - 1])
                    lp += math.log((cg.get(g, 0.0) + k) / (cp.get(p, 0.0) + kv))
                m = -lp / npos
                ns.append(npos), nll.append(m), ppl.append(math.exp(m))
            return pd.DataFrame({"n_scored": ns, "nll": nll, "ppl": ppl})

        # rounding happens OUTSIDE the UDF with F.round so both modes of
        # the op (and the DuckDB oracle) share the same HALF_UP rule —
        # Python's round() is banker's (half-to-even) and diverges on
        # rare last-digit ties
        out = (
            rel.df.withColumn("__lm", _score(F.col(colc)))
            .withColumn("n_scored", F.col("__lm.n_scored"))
            .withColumn("nll", F.round(F.col("__lm.nll"), 6))
            .withColumn("ppl", F.round(F.col("__lm.ppl"), 6))
            .drop("__lm")
        )
        return rel.with_df(out)

    _refuse_streaming(rel, "lm-score")
    if train is not None:
        _refuse_streaming(train, "lm-score (training relation)")
    tdf = (train or rel).df

    tw = words(F.col(tcolc))

    if smoothing == "kn":
        return _lm_score_kn(rel, tdf, tw, idc, colc, discount, opts)

    # training: (n-1)-gram occurrence counts (the conditional denominator)
    cp = (
        spread(tdf)
        .select(F.explode(_hashed(word_ngrams(tw, n - 1))).alias("__p"))
        .groupBy("__p")
        .agg(F.count(F.lit(1)).alias("__cp"))
    )
    # vocabulary size: for n=2 the prefix agg IS the unigram vocab —
    # which makes cp a TWO-consumer relation (the vdf total + the
    # scored join); pin it or the total re-runs the training
    # scan+explode single-task (the pmi/KN-types rationale, late r13)
    if n == 2:
        from pyspark import StorageLevel

        from ..operators.util import pin

        cp = pin(cp, StorageLevel.MEMORY_AND_DISK)
        vdf = cp.agg(F.count(F.lit(1)).alias("__v"))
    else:
        vdf = (
            spread(tdf)
            .select(F.explode(_hashed(tw)).alias("__u"))
            .agg(F.count_distinct("__u").alias("__v"))
        )
    cg = (
        spread(tdf)
        .select(F.explode(_hashed(word_ngrams(tw, n))).alias("__g"))
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__cg"))
    )
    if opts.get("broadcast"):
        cp = F.broadcast(cp)
        cg = F.broadcast(cg)

    # let1-bound (r18): the slice lambdas re-evaluated the captured
    # tokenization per gram position
    pos = let1(
        words(F.col(colc)),
        lambda sw: F.when(
            F.coalesce(F.size(sw), F.lit(0)) < n,
            F.array().cast("array<struct<g:bigint,p:bigint>>"),
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(sw) - (n - 1), F.lit(1))),
                lambda i: F.struct(
                    md5_long_col(F.concat_ws(" ", F.slice(sw, i, n))).alias("g"),
                    md5_long_col(F.concat_ws(" ", F.slice(sw, i, n - 1))).alias("p"),
                ),
            )
        ),
    )
    occ = (
        spread(rel.df)
        .select(F.col(idc), F.explode(pos).alias("__gp"))
        .select(idc, F.col("__gp.g").alias("__g"), F.col("__gp.p").alias("__p"))
        .groupBy(idc, "__g", "__p")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    logp = F.log(
        (F.coalesce(F.col("__cg"), F.lit(0)) + F.lit(k))
        / (F.coalesce(F.col("__cp"), F.lit(0)) + F.lit(k) * F.col("__v"))
    )
    per_doc = (
        occ.join(cg, "__g", "left")
        .join(cp, "__p", "left")
        .crossJoin(F.broadcast(vdf))
        .groupBy(idc)
        .agg(
            F.sum("__tf").cast("long").alias("n_scored"),
            (-F.sum(F.col("__tf") * logp) / F.sum("__tf")).alias("__nll"),
        )
    )
    out = per_doc.select(
        idc,
        "n_scored",
        F.round("__nll", 6).alias("nll"),
        F.round(F.exp("__nll"), 6).alias("ppl"),
    )
    return rel.with_df(out, key_cols=(idc,), time_col=None)


@defop("pmi")
def op_pmi(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Corpus collocations by pointwise mutual information:

        ["pmi", rel, {"col": "text", "min_count": 5, "top": 50}]
        -> (w1, w2, pair_count, pmi): adjacent word pairs seen at least
           ``min_count`` times, scored
           pmi = ln( P(w1,w2) / (P(w1)·P(w2)) ) with P from corpus
           bigram/unigram relative frequencies, ordered pmi desc then
           (w1, w2) asc, limited to ``top`` when given.

    ``min_count`` is a REQUIREMENT of the statistic, not just a knob:
    hapax bigrams of rare words otherwise dominate PMI (the classic
    sparse-count pathology), and it is also what bounds the join — the
    unigram model joins against the FILTERED bigram relation, whose
    size is capped by the count threshold, so AQE broadcast-picks it
    naturally at scale. Totals (token and bigram-position counts)
    attach as broadcast one-row aggregates. Everything is hash aggs
    over exploded tokens — no Python, no cartesian.

    The unigram and bigram COUNT relations are pinned (late r13, the
    jaccard/lm-score rationale): c1 feeds three plan branches (w1
    join, w2 join, the t1 total) and big feeds two (t2 total, the
    filtered join side) — unpinned, Catalyst planned each branch its
    OWN scan+tokenize+explode+agg (the r13 stage audit caught the t1/t2
    totals re-running the whole corpus pass single-task downstream:
    4-5 corpus passes where 2 suffice, O(corpus) in one task at
    scale). Pinned, the corpus is read exactly twice (once per
    explode shape) and every branch reuses the counts; totals reduce
    the CACHED count rows. MEMORY_AND_DISK: both relations are
    count-bounded (vocab / distinct-bigram sized), not corpus-sized.

    Reference: no analog (§2.10 extension surface)."""
    from pyspark import StorageLevel

    from ..operators.util import pin

    opts = opts_of(rest)
    colc = opts.get("col", "text")
    min_count = int_opt(opts, "min_count", "pmi", 5)
    top = opts.get("top")
    if min_count < 1:
        raise ArityError("pmi needs min_count >= 1")
    _refuse_streaming(rel, "pmi")

    w = words(F.col(colc))

    # ONE corpus scan builds BOTH count relations (r18, the lm-score KN
    # fused-vocab pattern / guide §6 one-scan): each doc emits its
    # unigrams as (w, NULL) structs ALONGSIDE the adjacent (w1, w2)
    # bigram structs, one explode, one hash agg — instead of two
    # scan+tokenize+explode+agg passes and two shuffles. w2 IS NULL
    # separates the kinds (a bigram's right word is never NULL).
    # let1-bound (r18): element_at inside the pair lambda re-evaluated
    # the captured tokenization per position.
    def _tagged_of(tt: Column) -> Column:
        uni_tagged = F.transform(
            tt,
            lambda x: F.struct(
                x.alias("w1"), F.lit(None).cast("string").alias("w2")
            ),
        )
        prs = F.when(
            F.coalesce(F.size(tt), F.lit(0)) < 2,
            F.array().cast("array<struct<w1:string,w2:string>>"),
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(tt) - 1, F.lit(1))),
                lambda i: F.struct(
                    F.element_at(tt, i).alias("w1"),
                    F.element_at(tt, i + 1).alias("w2"),
                ),
            )
        )
        return F.concat(uni_tagged, prs)

    # the combined count relation feeds FIVE plan branches (w1 join, w2
    # join, t1, t2, the filtered join side) — pinned; it is vocab +
    # distinct-bigram sized, not corpus-sized
    counts = pin(
        spread(rel.df)
        .select(F.explode(let1(w, _tagged_of)).alias("__b"))
        .select(F.col("__b.w1").alias("w1"), F.col("__b.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("__n")),
        StorageLevel.MEMORY_AND_DISK,
    )
    c1 = counts.filter(F.col("w2").isNull()).select(
        F.col("w1").alias("__w"), F.col("__n").alias("__c1")
    )
    t1 = F.broadcast(c1.agg(F.sum("__c1").cast("double").alias("__t1")))
    big = counts.filter(F.col("w2").isNotNull()).select(
        "w1", "w2", F.col("__n").alias("pair_count")
    )
    t2 = F.broadcast(big.agg(F.sum("pair_count").cast("double").alias("__t2")))
    filtered = big.filter(F.col("pair_count") >= min_count)
    scored = (
        filtered.join(c1.withColumnRenamed("__w", "w1"), "w1")
        .withColumnRenamed("__c1", "__ca")
        .join(c1.withColumnRenamed("__w", "w2"), "w2")
        .withColumnRenamed("__c1", "__cb")
        .crossJoin(t1)
        .crossJoin(t2)
        .select(
            "w1",
            "w2",
            F.col("pair_count").cast("long").alias("pair_count"),
            F.round(
                F.log(
                    (F.col("pair_count") / F.col("__t2"))
                    / ((F.col("__ca") / F.col("__t1")) * (F.col("__cb") / F.col("__t1")))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
    )
    if top:
        scored = scored.limit(int(top))
    return rel.with_df(scored, key_cols=("w1", "w2"), time_col=None)


@defop("bpe-pairs")
def op_bpe_pairs(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Adjacent character-pair frequencies over the corpus vocabulary —
    the count step of one BPE merge iteration (the primitive a
    distributed tokenizer trainer loops on):

        ["bpe-pairs", rel, {"col": "text", "top": 50}]
        -> (pair, count): every within-word adjacent character pair,
           weighted by corpus word frequency, ordered count desc then
           pair asc, limited to ``top`` when given.

    The classic BPE-at-scale move is built in: the corpus first
    collapses to its (distinct word, frequency) vocabulary table — one
    hash agg over exploded tokens — and the quadratic-ish character
    explode runs over the VOCABULARY (≪ corpus tokens; Heaps' law),
    with each pair weighted by the word's count. An iterating trainer
    re-runs this op on a re-segmented vocab table; the 100 TB corpus is
    touched exactly once.

    Reference: no analog (§2.10 extension surface)."""
    opts = opts_of(rest)
    colc = opts.get("col", "text")
    top = opts.get("top")
    _refuse_streaming(rel, "bpe-pairs")

    wc = (
        spread(rel.df)
        .select(F.explode(words(F.col(colc))).alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    char_pairs = F.when(
        F.length("__w") < 2, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("__w") - 1, F.lit(1))),
            lambda i: F.col("__w").substr(i, F.lit(2)),
        )
    )
    out = (
        wc.select(F.explode(char_pairs).alias("pair"), "__c")
        .groupBy("pair")
        .agg(F.sum("__c").cast("long").alias("count"))
        .orderBy(F.col("count").desc(), F.col("pair").asc())
    )
    if top:
        out = out.limit(int(top))
    return rel.with_df(out, key_cols=("pair",), time_col=None)


def _bpe_words_col(col: Column, tokenizer: str) -> Column:
    """BPE pre-tokenization split, selected by {'tokenizer': ...}.

    'ascii' (default) is the engine-shared words() split,
    ``[^a-z0-9]+`` on lowered text — oracle-portable but ASCII-ONLY:
    non-Latin text (zh/ja/ko, Cyrillic, accented words beyond their
    ASCII letters) contributes NOTHING to the vocabulary and encodes to
    empty token arrays (ADVICE r10). 'unicode' splits on
    ``[^\\p{L}\\p{N}]+`` (any Unicode letter/digit run survives), so
    non-Latin words at least fall back to character-level BPE; its
    Python twin in the encode UDF is ``[\\W_]+`` (re.UNICODE \\w minus
    underscore == letters+digits; parity pinned by test)."""
    if tokenizer == "unicode":
        return F.filter(
            F.split(F.lower(col), r"[^\p{L}\p{N}]+"), lambda w: w != ""
        )
    return words(col)


def _bpe_tokenizer_opt(opts) -> str:
    tok = opts.get("tokenizer", "ascii")
    if tok not in ("ascii", "unicode"):
        raise ArityError(
            f"bpe tokenizer must be 'ascii' or 'unicode', got {tok!r}"
        )
    return tok


def _bpe_train_merges(word_counts, merges: int, min_pair_freq: int):
    """Driver-side BPE merge loop over a (word, count) dict (Sennrich et
    al. 2016, arXiv:1508.07909 — algorithm 1, with the standard
    incremental pair-count maintenance so each merge touches only the
    words containing the merged pair, not the whole vocabulary, and a
    lazy-deletion max-heap for best-pair selection so a merge never
    scans the full distinct-pair space either: per merge the work is
    O(touched-pairs · log heap) plus stale-entry pops).

    Symbols are characters plus a trailing '</w>' end-of-word marker
    (its own symbol, so merges can absorb it: 'est'+'</w>' -> 'est</w>').
    Tie-break: highest count, then lexicographically smallest (left,
    right) — the heap key (-count, pair) pops in exactly that order —
    deterministic across runs and platforms. Parity with a naive
    recount-everything reference is pinned merge-for-merge by test.
    Returns [(rank, left, right, merged)]."""
    import heapq
    from collections import Counter, defaultdict

    syms = {w: tuple(w) + ("</w>",) for w in word_counts}
    pair_counts: Counter = Counter()
    pair_words = defaultdict(set)
    for w, c in word_counts.items():
        s = syms[w]
        for i in range(len(s) - 1):
            pair_counts[(s[i], s[i + 1])] += c
            pair_words[(s[i], s[i + 1])].add(w)
    # lazy-deletion heap: push a fresh (-count, pair) entry on EVERY
    # count mutation; a popped entry is valid only if it matches the
    # live count (stale entries — superseded counts or deleted pairs —
    # are discarded on pop)
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)

    def _bump(p):
        c = pair_counts.get(p)
        if c is not None and c > 0:
            heapq.heappush(heap, (-c, p))

    out = []
    for rank in range(merges):
        best_pair = None
        while heap:
            negc, p = heap[0]
            if pair_counts.get(p) != -negc:
                heapq.heappop(heap)  # stale
                continue
            best_pair, top_c = p, -negc
            break
        if best_pair is None or top_c < min_pair_freq:
            break
        merged = best_pair[0] + best_pair[1]
        out.append((rank, best_pair[0], best_pair[1], merged))
        for w in list(pair_words[best_pair]):
            c = word_counts[w]
            s = syms[w]
            # retract this word's old pair contributions
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                pair_counts[p] -= c
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                pair_words[p].discard(w)
                _bump(p)
            # merge every occurrence left-to-right
            ns, i = [], 0
            while i < len(s):
                if i < len(s) - 1 and (s[i], s[i + 1]) == best_pair:
                    ns.append(merged)
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            s = tuple(ns)
            syms[w] = s
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                pair_counts[p] += c
                pair_words[p].add(w)
                _bump(p)
    return out


@defop("bpe-train")
def op_bpe_train(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Train a BPE merge table on the corpus (Sennrich et al. 2016) —
    the tokenizer-training step bpe-pairs is the one-iteration primitive
    of:

        ["bpe-train", rel, {"col": "text", "merges": 100, "min_freq": 2,
                            "min_pair_freq": 2, "max_vocab_rows": 65536,
                            "tokenizer": "ascii"}]
        -> (rank, left, right, merged): the merge table in training
           order; feed it to ["bpe-encode", rel, merge_table, ...].

    Pre-tokenization: the default {'tokenizer': 'ascii'} is the shared
    words() split — ASCII-ONLY, so non-Latin documents (zh/ja, Cyrillic,
    the accented parts of es/fr/de words) contribute NOTHING to the
    vocabulary (ADVICE r10). Pass {'tokenizer': 'unicode'} to split on
    Unicode letter/digit runs instead, giving non-Latin words
    character-level BPE fallback; train and encode must use the SAME
    tokenizer — the choice is STAMPED into the merge table (rank-field
    metadata, r12) and bpe-encode refuses a mismatch.

    Scale shape (the kmeans-centroids contract applied to tokenizers):
    the 100 TB corpus is scanned ONCE — explode words -> hash-agg to the
    (distinct word, frequency) vocabulary (Heaps' law keeps it ≪ corpus
    tokens; ``min_freq`` prunes the hapax tail) — and the merge loop
    runs on BOUNDED driver state: the vocab collect is capped by
    ``max_vocab_rows`` (limit cap+1 probe, loud ArityError instead of
    materializing an unbounded vocabulary on the driver; raise the knob
    or raise ``min_freq``). Each merge updates only the words containing
    the merged pair (incremental pair counts), so training cost is
    driver-side O(merges · touched-words), zero further Spark jobs.
    Training stops early when no pair reaches ``min_pair_freq``.
    Batch-only (corpus-global statistic).

    Reference: no analog (§2.10 extension surface)."""
    opts = opts_of(rest)
    colc = opts.get("col", "text")
    try:
        merges = int_opt(opts, "merges", "bpe-train", 100)
        min_freq = int_opt(opts, "min_freq", "bpe-train", 2)
        min_pair_freq = int_opt(opts, "min_pair_freq", "bpe-train", 2)
        max_vocab = int_opt(opts, "max_vocab_rows", "bpe-train", 65536)
    except (TypeError, ValueError) as e:
        raise ArityError(f"bpe-train: bad numeric option: {e}") from None
    tokenizer = _bpe_tokenizer_opt(opts)
    _refuse_streaming(rel, "bpe-train")

    vocab_rows = (
        spread(rel.df)
        .select(F.explode(_bpe_words_col(F.col(colc), tokenizer)).alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_freq)
        .limit(max_vocab + 1)
        .collect()
    )
    if len(vocab_rows) > max_vocab:
        raise ArityError(
            f"bpe-train: corpus vocabulary exceeds max_vocab_rows="
            f"{max_vocab} at min_freq={min_freq} — raise min_freq or "
            "{'max_vocab_rows': n}"
        )
    table = _bpe_train_merges(
        {r["__w"]: r["__c"] for r in vocab_rows}, merges, min_pair_freq
    )
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)

    schema = StructType([
        StructField("rank", IntegerType(), False),
        StructField("left", StringType(), False),
        StructField("right", StringType(), False),
        StructField("merged", StringType(), False),
    ])
    # stamp the training tokenizer into the rank field's metadata
    # (ADVICE r11): bpe-encode validates it and refuses a mismatched
    # pre-tokenization, which otherwise silently degrades or empties
    # encodings. Metadata keeps the (rank,left,right,merged) schema
    # unchanged for hand-built tables (which skip the check).
    out = ctx.spark.createDataFrame(table, schema).withMetadata(
        "rank", {"bpe_tokenizer": tokenizer}
    )
    return rel.with_df(out, key_cols=("rank",), time_col=None)


def _bpe_enc_word_fn(ranks):
    """Greedy lowest-rank BPE apply over one word: chars + '</w>',
    repeatedly merge the present pair with the smallest training rank
    (ties impossible: ranks are unique); ``s_cache`` memoizes words
    within one Arrow batch."""
    inf = float("inf")

    def enc_word(s_cache, w):
        hit = s_cache.get(w)
        if hit is not None:
            return hit
        s = list(w) + ["</w>"]
        while len(s) > 1:
            bi, bp = inf, None
            for i in range(len(s) - 1):
                r = ranks.get((s[i], s[i + 1]), inf)
                if r < bi:
                    bi, bp = r, (s[i], s[i + 1])
            if bp is None:
                break
            ns, i, m = [], 0, bp[0] + bp[1]
            while i < len(s):
                if i < len(s) - 1 and (s[i], s[i + 1]) == bp:
                    ns.append(m)
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            s = ns
        s_cache[w] = s
        return s

    return enc_word


_BPE_TOK_PY = {
    # Python twins of _bpe_words_col's Spark splits (parity by test)
    "ascii": r"[^a-z0-9]+",
    "unicode": r"[\W_]+",
}


@defop("bpe-encode")
def op_bpe_encode(ctx: Ctx, rel: Rel, merges: Rel, *rest) -> Rel:
    """Apply a trained BPE merge table to a text column:

        ["bpe-encode", rel, merge_table,
         {"col": "text", "as": "bpe_tokens", "tokenizer": "ascii"}]
        -> every input column plus ``as``: array<string> of BPE tokens
           (words end in the '</w>' marker; strip it downstream if
           undesired). Token counts under the REAL trained vocabulary —
           the exact-count upgrade of text.token_count_bpe's regex
           approximation.

    The merge table is bounded driver state by construction (one row
    per merge); it collects once and ships as one broadcast rank dict.

    Pre-tokenization ({'tokenizer': ...}) must MATCH bpe-train's: the
    default 'ascii' split is ASCII-ONLY — non-Latin text encodes to
    EMPTY token arrays (ADVICE r10); 'unicode' splits on Unicode
    letter/digit runs so such words get character-level fallback. A
    bpe-train table carries its tokenizer stamped in the rank field's
    metadata (r12) and a mismatch is REFUSED with a curated error;
    hand-built tables carry no stamp and are trusted as-is.

    Encoding runs in an Arrow-batched pandas UDF (greedy lowest-rank
    merge, the standard BPE apply loop) with a per-batch word memo:
    merge-loop cost is paid once per DISTINCT word per Arrow BATCH, Zipf
    doing the heavy lifting. Zero shuffles. Per-row and model-static,
    so a STREAMING left is legal (score a live stream against a frozen
    tokenizer); the merge table itself must be batch.

    Reference: no analog (§2.10 extension surface)."""
    if not isinstance(merges, Rel):
        raise TypeDispatchError(
            f"bpe-encode second operand must be a merge-table relation, "
            f"got {type(merges).__name__}"
        )
    opts = opts_of(rest)
    colc = opts.get("col", "text")
    out_col = opts.get("as", "bpe_tokens")
    tokenizer = _bpe_tokenizer_opt(opts)
    refuse_removed_opt(opts, "impl", "bpe-encode",
                       "per-row encoding is the only implementation")
    if out_col in rel.df.columns:
        raise ArityError(
            f"bpe-encode: output column {out_col!r} already exists; "
            "pass {'as': name}"
        )
    if merges.df.isStreaming:
        raise ArityError(
            "bpe-encode merge table must be batch (collected once and "
            "broadcast); train it with bpe-train"
        )
    missing = {"rank", "left", "right"} - set(merges.df.columns)
    if missing:
        raise ArityError(
            f"bpe-encode merge table is missing column(s) "
            f"{sorted(missing)} — expected the (rank, left, right, "
            "merged) relation bpe-train returns"
        )
    # tokenizer-mismatch guard (ADVICE r11): bpe-train stamps its
    # pre-tokenizer into the rank field's metadata; encoding under a
    # different split silently produces degraded or empty encodings
    # (e.g. unicode-trained vocabulary applied to ascii-split words),
    # so a stamped mismatch is refused. Hand-built tables carry no
    # stamp and skip the check.
    try:
        trained_tok = (merges.df.schema["rank"].metadata or {}).get(
            "bpe_tokenizer"
        )
    except Exception:
        trained_tok = None
    if trained_tok is not None and trained_tok != tokenizer:
        raise ArityError(
            f"bpe-encode tokenizer {tokenizer!r} does not match the merge "
            f"table's training tokenizer {trained_tok!r} — train and "
            "encode must share the pre-tokenization split; pass "
            f"{{'tokenizer': {trained_tok!r}}} to bpe-encode"
        )
    mrows = []
    for r in merges.df.select("rank", "left", "right").collect():
        if r["rank"] is None or r["left"] is None or r["right"] is None:
            raise ArityError(
                "bpe-encode merge table has a NULL rank/left/right row "
                "— not a bpe-train output"
            )
        mrows.append((int(r["rank"]), r["left"], r["right"]))
    mrows.sort()
    ranks = {(l, r): k for k, l, r in mrows}
    bc = ctx.spark.sparkContext.broadcast(ranks)

    from pyspark.sql.functions import pandas_udf

    tok_pat = _BPE_TOK_PY[tokenizer]

    @pandas_udf("array<string>")
    def _encode(texts):
        import re

        enc_word = _bpe_enc_word_fn(bc.value)
        cache: dict = {}
        tok = re.compile(tok_pat)

        def enc(t):
            if t is None:
                return None
            out = []
            for w in tok.split(t.lower()):
                if w:
                    out.extend(enc_word(cache, w))
            return out

        return texts.map(enc)

    return rel.with_df(rel.df.withColumn(out_col, _encode(F.col(colc))))


@defop("dist-shift")
def op_dist_shift(ctx: Ctx, left: Rel, right: Rel, *rest) -> Rel:
    """Token-distribution shift between two corpora — the train-vs-eval
    / old-crawl-vs-new-crawl drift probe:

        ["dist-shift", corpus_a, corpus_b,
         {"col": "text", "right_col": "text",
          "k": 0.5, "min_count": 5, "top": 100}]
        -> (token, cnt_a, cnt_b, p_a, p_b, kl_term): per-token add-k
           smoothed probabilities under each corpus and the token's
           KL(A||B) contribution p_a·ln(p_a/p_b), for tokens seen at
           least ``min_count`` times in EITHER corpus, ordered kl_term
           desc then token asc, limited to ``top`` when given. Sum of
           kl_term over the FULL (un-thresholded) vocabulary is the
           corpus KL divergence; the thresholded relation surfaces the
           tokens driving the shift (what a pipeline operator actually
           reads).

    ``{"metric": "js"}`` scores Jensen-Shannon contributions instead
    (js_term = (p_a·ln(p_a/m) + p_b·ln(p_b/m))/2, m = (p_a+p_b)/2):
    symmetric and bounded by ln 2 — comparable ACROSS corpus pairs
    where KL's asymmetry and unboundedness mislead. Same plan, same
    column name contract (the term column is named after the metric).

    Smoothing: p_x = (c_x + k) / (T_x + k·V) with V = |union vocab|,
    so tokens absent from one side stay finite — the standard add-k
    estimate on a shared support.

    Plan: one hash agg per side over exploded tokens, a FULL OUTER join
    on the token (vocab-sized inputs, not corpus-sized), totals and V
    as broadcast one-row aggregates. Batch-only (corpus-global).

    Reference: no analog (§2.10 extension surface)."""
    if not isinstance(right, Rel):
        raise TypeDispatchError(
            f"dist-shift right operand must be a stream/table, "
            f"got {type(right).__name__}"
        )
    opts = opts_of(rest)
    colc = opts.get("col", "text")
    rcolc = opts.get("right_col", colc)
    k = float_opt(opts, "k", "dist-shift", 0.5)
    min_count = int_opt(opts, "min_count", "dist-shift", 5)
    top = opts.get("top")
    metric = opts.get("metric", "kl")
    if metric not in ("kl", "js"):
        raise ArityError(
            f"dist-shift metric must be 'kl' or 'js', got {metric!r}"
        )
    if k <= 0:
        raise ArityError("dist-shift needs k > 0 (unsmoothed zero counts)")
    _refuse_streaming(left, "dist-shift")
    _refuse_streaming(right, "dist-shift")

    def _counts(df, text_col, cname):
        return (
            spread(df)
            .select(F.explode(words(F.col(text_col))).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias(cname))
        )

    ca = _counts(left.df, colc, "cnt_a")
    cb = _counts(right.df, rcolc, "cnt_b")
    joined = ca.join(cb, "token", "full_outer").select(
        "token",
        F.coalesce("cnt_a", F.lit(0)).alias("cnt_a"),
        F.coalesce("cnt_b", F.lit(0)).alias("cnt_b"),
    )
    totals = F.broadcast(
        joined.agg(
            F.sum("cnt_a").cast("double").alias("__ta"),
            F.sum("cnt_b").cast("double").alias("__tb"),
            F.count(F.lit(1)).cast("double").alias("__v"),
        )
    )
    p_a = (F.col("cnt_a") + F.lit(k)) / (F.col("__ta") + F.lit(k) * F.col("__v"))
    p_b = (F.col("cnt_b") + F.lit(k)) / (F.col("__tb") + F.lit(k) * F.col("__v"))
    if metric == "js":
        m = (p_a + p_b) / 2
        term = (p_a * F.log(p_a / m) + p_b * F.log(p_b / m)) / 2
        term_name = "js_term"
    else:
        term = p_a * F.log(p_a / p_b)
        term_name = "kl_term"
    out = (
        joined.crossJoin(totals)
        .filter((F.col("cnt_a") >= min_count) | (F.col("cnt_b") >= min_count))
        .select(
            "token",
            F.col("cnt_a").cast("long").alias("cnt_a"),
            F.col("cnt_b").cast("long").alias("cnt_b"),
            F.round(p_a, 9).alias("p_a"),
            F.round(p_b, 9).alias("p_b"),
            F.round(term, 9).alias(term_name),
        )
        .orderBy(F.col(term_name).desc(), F.col("token").asc())
    )
    if top:
        out = out.limit(int(top))
    return left.with_df(out, key_cols=("token",), time_col=None)


@defop("dsir")
def op_dsir(ctx: Ctx, left: Rel, right: Rel, *rest) -> Rel:
    """DSIR importance scores (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling") — score every RAW-corpus
    document by how much its hashed-n-gram distribution looks like a
    TARGET corpus:

        ["dsir", raw_rel, target_rel,
         {"col": "text", "id": "doc_id", "right_col": "text",
          "buckets": 8192, "n": 2, "smoothing": 1.0}]
        -> (id, n_feats, dsir_score): dsir_score is the log importance
           weight sum_g lambda[h(g)] over the doc's unigrams+bigrams
           (n<=2 grams by default), lambda_b = ln p_b - ln q_b with p =
           the target and q = the raw hashed-gram distribution, each
           Laplace-smoothed over the FIXED 2^k-free bucket support:
           p_b = (c_b + a) / (C + a*B). Rank by dsir_score desc and
           keep the head (or Gumbel-resample downstream) to select
           target-like pretraining data. n_feats is the gram count;
           docs with no grams (NULL/empty text) surface n_feats 0 and
           dsir_score NULL — flagged, never silently kept or ranked.

    The paper's feature map exactly: unigram+bigram hashing into B
    buckets makes both models FIXED-size (B rows) no matter the corpus,
    so the importance model never needs a vocabulary cutoff. Hashing is
    the engine-portable 60-bit md5 slice (util.md5_long_col) mod B —
    DuckDB reproduces it verbatim, so oracles stay hash-exact.

    Plan: one explode+hash-agg per corpus builds the two bucket-count
    relations (<= B rows each); a full-outer join on bucket plus
    broadcast one-row totals yields the lambda table, which is <= B
    rows and BROADCAST into the scoring pass — the raw corpus is
    scanned twice (model pass + scoring pass; re-scan beats pinning an
    exploded gram relation at corpus scale) and shuffled once, as
    per-doc partial sums (explode keeps a doc's grams in one task, so
    the float sum order is the array order on any partitioning — and
    matches DuckDB's unnest order). Batch-only on BOTH sides (q is the
    raw corpus's own distribution; a streaming raw corpus has no closed
    distribution — score a stream against frozen stats via
    foreach-batch).

    Reference: no analog (§2.10 extension surface)."""
    if not isinstance(right, Rel):
        raise TypeDispatchError(
            f"dsir right (target) operand must be a stream/table, "
            f"got {type(right).__name__}"
        )
    opts = opts_of(rest)
    colc = opts.get("col", "text")
    rcolc = opts.get("right_col", colc)
    idc = opts.get("id", "doc_id")
    buckets = int_opt(opts, "buckets", "dsir", 8192)
    n = int_opt(opts, "n", "dsir", 2)
    a = float_opt(opts, "smoothing", "dsir", 1.0)
    if buckets < 2:
        raise ArityError(f"dsir needs buckets >= 2, got {buckets}")
    if not 1 <= n <= 3:
        raise ArityError(f"dsir n-gram order must be 1, 2 or 3, got {n}")
    if a <= 0:
        raise ArityError(
            "dsir needs smoothing > 0 (zero-count buckets make the "
            "log-ratio infinite)"
        )
    _refuse_streaming(left, "dsir")
    _refuse_streaming(right, "dsir (target relation)")

    def _grams(text_col):
        w = words(F.col(text_col))
        g = w
        for order in range(2, n + 1):
            g = F.concat(g, word_ngrams(w, order))
        return F.transform(g, lambda x: md5_long_col(x) % buckets)

    def _counts(df, text_col, cname):
        return (
            spread(df)
            .select(F.explode(_grams(text_col)).alias("__b"))
            .groupBy("__b")
            .agg(F.count(F.lit(1)).alias(cname))
        )

    from ..operators.util import pin

    # One-scan model build (r18, VERDICT r17 #5 / guide §6): when the
    # TARGET relation is literally a deterministic filter over the raw
    # relation (the standard DSIR call shape — target = the in-domain
    # subset of the corpus being scored), both bucket-count relations
    # come out of ONE corpus scan with a conditional aggregate: q counts
    # every gram, p counts the grams of rows passing the filter. This
    # removes the second corpus scan, one groupBy exchange and the
    # full_outer join; target ⊆ raw makes the support identical to the
    # full-outer union by construction. Any shape the detector cannot
    # prove (different text columns, non-filter lineage, a
    # non-deterministic or non-round-trippable predicate) falls back to
    # the two-scan build unchanged.
    model = None
    if rcolc == colc:
        fcond = _filter_over(left.df, right.df)
        if fcond is not None:
            try:
                g = spread(left.df).select(
                    F.explode(_grams(colc)).alias("__b"),
                    F.expr(fcond).alias("__t"),
                )
                fused = g.groupBy("__b").agg(
                    F.count(F.when(F.col("__t"), F.lit(1))).alias("__cp"),
                    F.count(F.lit(1)).alias("__cq"),
                )
                fused.schema  # force analysis; unresolvable -> fallback
                model = fused.select("__b", "__cp", "__cq")
            except Exception:
                model = None
    if model is None:
        cq = _counts(left.df, colc, "__cq")   # raw distribution q
        cp = _counts(right.df, rcolc, "__cp")  # target distribution p
        model = cp.join(cq, "__b", "full_outer").select(
            "__b",
            F.coalesce("__cp", F.lit(0)).alias("__cp"),
            F.coalesce("__cq", F.lit(0)).alias("__cq"),
        )
    # pin the <= B-row model: totals AND lambda both read it, and
    # unpinned each would re-run the model build — re-scanning the
    # corpora for a kilobyte relation
    model = pin(model, StorageLevel.MEMORY_AND_DISK)
    totals = F.broadcast(
        model.agg(
            F.sum("__cp").cast("double").alias("__tp"),
            F.sum("__cq").cast("double").alias("__tq"),
        )
    )
    lam = F.broadcast(
        model.crossJoin(totals).select(
            "__b",
            (
                F.log((F.col("__cp") + F.lit(a)) / (F.col("__tp") + F.lit(a * buckets)))
                - F.log((F.col("__cq") + F.lit(a)) / (F.col("__tq") + F.lit(a * buckets)))
            ).alias("__lam"),
        )
    )
    out = (
        spread(left.df)
        .select(F.col(idc), F.explode_outer(_grams(colc)).alias("__b"))
        .join(lam, "__b", "left")
        .groupBy(idc)
        .agg(
            F.count("__b").alias("n_feats"),
            F.sum("__lam").alias("dsir_score"),
        )
    )
    return left.with_df(out, key_cols=(idc,), time_col=None)


@defop("classify")
def op_classify(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Frozen linear hashed-n-gram document classifier — the
    fastText-style scorer (Joulin et al. 2016, "Bag of Tricks for
    Efficient Text Classification") real pipelines run after rule
    filters like gopher-filter (CCNet/CCMatrix use exactly this shape
    for quality/domain classification):

        ["classify", rel, weights_rel,
         {"col": "text", "id": "doc_id", "buckets": 8192, "n": 2,
          "bias": 0.0, "pooling": "mean", "threshold": 0.5,
          "bucket_col": "bucket", "weight_col": "weight"}]
        -> (id, n_feats, score[, label])
        ["classify", stream, {"weights": {bucket: w, ...}, ...}]
        -> every input row + (n_feats, score[, label])

    Features are the dsir hashing exactly: unigram(+bigram, up to
    n<=3) word grams -> 60-bit md5 slice mod ``buckets`` (engine-
    portable; DuckDB reproduces it verbatim, so oracles stay
    hash-exact). The model is a FROZEN linear layer over that fixed
    B-bucket space: z = bias + pool(w[h(g)]) with mean (fastText's
    average pooling) or sum pooling, score = sigmoid(z); grams whose
    bucket has no weight row contribute weight 0. With ``threshold``,
    ``label`` = score >= threshold (1/0, NULL when unscorable). Docs
    with no grams surface n_feats 0 and score NULL — flagged, never
    silently ranked.

    Two modes, the lm-score pattern:

    * RELATIONAL (weights as a second rel, <= ``buckets`` rows of
      (bucket, weight)): the weight table is BROADCAST into one
      explode -> join -> per-doc hash-agg pass — the corpus shuffles
      once as per-doc partial sums (explode keeps a doc's grams in one
      task, so the float sum order is the array order on any
      partitioning — and matches DuckDB's unnest order). Batch-only:
      the per-doc re-aggregation reshapes the relation.
    * FROZEN ({"weights": dict}): weights ship in an Arrow-batched
      pandas UDF's closure (O(1) dict lookups) — shuffle-free,
      STREAMING-legal, appends (n_feats, score[, label]) to EVERY row.
      Driver-bounded by construction: the dict is user-supplied and
      capped at ``buckets`` distinct keys.

    Reference: no analog (§2.10 extension surface).
    """
    wrel = None
    opts: dict = {}
    for r in rest:
        if isinstance(r, Rel):
            wrel = r
        elif isinstance(r, dict):
            # None-valued keys mean "unset" (the opts_of contract)
            opts.update({k: v for k, v in r.items() if v is not None})
    colc = opts.get("col", "text")
    idc = opts.get("id", "doc_id")
    buckets = int_opt(opts, "buckets", "classify", 8192)
    n = int_opt(opts, "n", "classify", 2)
    bias = float_opt(opts, "bias", "classify", 0.0)
    pooling = opts.get("pooling", "mean")
    thr = float_opt(opts, "threshold", "classify")
    if buckets < 2:
        raise ArityError(f"classify needs buckets >= 2, got {buckets}")
    if not 1 <= n <= 3:
        raise ArityError(f"classify n-gram order must be 1, 2 or 3, got {n}")
    if pooling not in ("mean", "sum"):
        raise ArityError(
            f"classify pooling must be 'mean' or 'sum', got {pooling!r}"
        )
    frozen = opts.get("weights")
    if (frozen is None) == (wrel is None):
        raise ArityError(
            "classify needs exactly one weight source: a weights "
            "relation operand (bucket, weight) OR {'weights': "
            "{bucket: w}} frozen dict"
        )

    def _grams(text_col):
        w = words(F.col(text_col))
        g = w
        for order in range(2, n + 1):
            g = F.concat(g, word_ngrams(w, order))
        return F.transform(g, lambda x: md5_long_col(x) % buckets)

    if frozen is not None:
        # FROZEN mode: per-row dict lookups in an Arrow-batched UDF —
        # streaming-legal, preserves the input shape (the lm-score
        # frozen-stats contract). Tokenization/hashing mirror words()/
        # md5_long_col bit-for-bit (regex + 15-hex-digit md5 slice).
        if not isinstance(frozen, dict):
            raise ArityError(
                f"classify weights must be a dict of bucket -> weight, "
                f"got {type(frozen).__name__}"
            )
        if len(frozen) > buckets:
            raise ArityError(
                f"classify frozen weights has {len(frozen)} entries for "
                f"buckets={buckets} — the hashed feature space has only "
                f"{buckets} buckets; raise 'buckets' or shrink the model"
            )
        import hashlib
        import math
        import re as _re

        from pyspark.sql.functions import pandas_udf

        wmap = {int(kk): float(vv) for kk, vv in frozen.items()}
        is_mean = pooling == "mean"

        @pandas_udf("n_feats long, score double")
        def _score(texts):
            import pandas as pd

            nf, sc = [], []
            for t in texts:
                toks = (
                    [w for w in _re.split(r"[^a-z0-9]+", t.lower()) if w]
                    if isinstance(t, str)
                    else []
                )
                grams = list(toks)
                for order in range(2, n + 1):
                    if len(toks) >= order:
                        grams += [
                            " ".join(toks[i: i + order])
                            for i in range(len(toks) - order + 1)
                        ]
                if not grams:
                    nf.append(0), sc.append(None)
                    continue
                z = 0.0
                for g in grams:
                    b = int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % buckets
                    z += wmap.get(b, 0.0)
                if is_mean:
                    z /= len(grams)
                nf.append(len(grams))
                sc.append(1.0 / (1.0 + math.exp(-(bias + z))))
            return pd.DataFrame({"n_feats": nf, "score": sc})

        # rounding OUTSIDE the UDF with F.round (HALF_UP, the shared
        # cross-engine rule; Python round() is banker's)
        out = (
            rel.df.withColumn("__cl", _score(F.col(colc)))
            .withColumn("n_feats", F.col("__cl.n_feats"))
            .withColumn("score", F.round(F.col("__cl.score"), 6))
            .drop("__cl")
        )
        if thr is not None:
            out = out.withColumn(
                "label", (F.col("score") >= F.lit(thr)).cast("int")
            )
        return rel.with_df(out)

    # RELATIONAL mode
    _refuse_streaming(rel, "classify (relational weights mode)")
    _refuse_streaming(wrel, "classify (weights relation)")
    bcol = opts.get("bucket_col", "bucket")
    wcol = opts.get("weight_col", "weight")
    for c in (bcol, wcol):
        if c not in wrel.df.columns:
            raise ArityError(
                f"classify weights relation needs column {c!r} "
                f"(have {wrel.df.columns})"
            )
    # the frozen-dict mode's model-size refusal, mirrored (ADVICE r16);
    # folded into the broadcast build (r18, VERDICT r17 #7 + ADVICE r17):
    # ONE bounded limit(buckets+1) fetch both validates the model
    # (oversize, NULL buckets, duplicate bucket rows — each duplicate
    # would multiply exploded grams through the join, silently inflating
    # n_feats and score) and BECOMES the broadcast relation, so the
    # weights pipeline runs exactly once per construction instead of a
    # full validation agg plus a per-execution rescan. The fetch is
    # bounded by the model-size contract (buckets+1 rows proves "over
    # the cap" without counting the rest — the semdedup max_k pattern);
    # checked on the CASTED values — what the join actually keys on.
    wrows = (
        wrel.df.select(
            F.col(bcol).cast("long").alias("__b"),
            F.col(wcol).cast("double").alias("__w"),
        )
        .limit(buckets + 1)
        .collect()
    )
    if len(wrows) > buckets:
        raise ArityError(
            f"classify weights relation has more than {buckets} rows "
            f"for buckets={buckets} — the hashed feature space has only "
            f"{buckets} buckets; raise 'buckets' or shrink the model"
        )
    n_null = sum(1 for r in wrows if r["__b"] is None)
    if n_null:
        raise ArityError(
            f"classify weights relation has {n_null} "
            f"NULL {bcol!r} row(s) — a NULL bucket never matches any "
            "gram; drop or fix those rows upstream"
        )
    n_distinct = len({r["__b"] for r in wrows})
    if n_distinct != len(wrows):
        raise ArityError(
            f"classify weights relation has duplicate {bcol!r} rows "
            f"({len(wrows)} rows, {n_distinct} distinct buckets) — each "
            "duplicate multiplies that bucket's grams through the join, "
            "silently inflating n_feats and score; deduplicate upstream"
        )
    wtab = F.broadcast(
        ctx.spark.createDataFrame(wrows, "__b long, __w double")
    )
    pooled = F.sum(F.coalesce("__w", F.lit(0.0)))
    if pooling == "mean":
        # guard the division: count 0 -> NULL score, never a divide
        # error under ANSI
        pooled = pooled / F.count("__b")
    z = F.lit(bias) + pooled
    agg = (
        spread(rel.df)
        .select(F.col(idc), F.explode_outer(_grams(colc)).alias("__b"))
        .join(wtab, "__b", "left")
        .groupBy(idc)
        .agg(
            F.count("__b").alias("n_feats"),
            F.round(
                F.when(
                    F.count("__b") > 0,
                    F.lit(1.0) / (F.lit(1.0) + F.exp(-z)),
                ),
                6,
            ).alias("score"),
        )
    )
    if thr is not None:
        agg = agg.withColumn("label", (F.col("score") >= F.lit(thr)).cast("int"))
    return rel.with_df(agg, key_cols=(idc,), time_col=None)


@defop("cooccurrence")
def op_cooccurrence(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Windowed term co-occurrence counts — the GloVe/word2vec-style
    corpus matrix (also the input to second-order collocation/PMI over
    a context window instead of strict adjacency):

        ["cooccurrence", rel, {"col": "text", "window": 3,
                               "min_count": 2, "top": 100}]
        -> (w1, w2, count): unordered token pairs co-occurring within
           ``window`` positions (pair stored sorted so (a,b) and (b,a)
           accumulate together; same-token pairs at different positions
           DO count), ordered count desc then (w1, w2) asc, limited to
           ``top`` when given.

    Plan: the pair fan-out is a nested array transform (per doc:
    positions × at most ``window`` neighbors, all codegen'd) exploded
    once, then a single hash agg with map-side partials. Output volume
    is corpus tokens × window — linear, never quadratic in document
    length; ``min_count`` prunes the hapax tail before any downstream
    join a caller composes. Batch-only (corpus-global statistic).

    Reference: no analog (§2.10 extension surface)."""
    opts = opts_of(rest)
    colc = opts.get("col", "text")
    win = int_opt(opts, "window", "cooccurrence", 3)
    min_count = int_opt(opts, "min_count", "cooccurrence", 1)
    top = opts.get("top")
    if win < 1:
        raise ArityError("cooccurrence needs window >= 1")
    # Fan-out is linear in tokens × window, but "linear" with window=512
    # is still a silent 512x row explosion of the whole corpus. Soft cap:
    # refuse implausible windows unless explicitly overridden (GloVe-style
    # pipelines use 5-15; 64 is already generous).
    if win > 64 and not opts.get("unbounded_window_ok"):
        raise ArityError(
            f"cooccurrence window={win} multiplies every corpus token into "
            f"~{win} pair rows — at corpus scale that is a {win}x shuffle "
            "explosion. Pass {'unbounded_window_ok': true} if you really "
            "mean it (typical embedding-context windows are 5-15)."
        )
    _refuse_streaming(rel, "cooccurrence")

    # let1-bound (r18, the round's headline fix): the nested pair
    # lambdas re-evaluated the captured tokenization on EVERY
    # element_at — O(tokens) work per pair element, quadratic per doc
    # (measured 7.0s -> 1.2s at sf0.1 on this binding alone)
    pairs = let1(
        words(F.col(colc)),
        lambda w: F.when(
            F.coalesce(F.size(w), F.lit(0)) < 2,
            F.array().cast("array<struct<w1:string,w2:string>>"),
        ).otherwise(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.size(w) - 1, F.lit(1))),
                    lambda i: F.transform(
                        F.sequence(i + 1, F.least(i + win, F.size(w))),
                        lambda j: F.struct(
                            F.least(
                                F.element_at(w, i), F.element_at(w, j)
                            ).alias("w1"),
                            F.greatest(
                                F.element_at(w, i), F.element_at(w, j)
                            ).alias("w2"),
                        ),
                    ),
                )
            )
        ),
    )
    out = (
        spread(rel.df)
        .select(F.explode(pairs).alias("__p"))
        .select(F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_count)
        .orderBy(F.col("count").desc(), F.col("w1").asc(), F.col("w2").asc())
    )
    if top:
        out = out.limit(int(top))
    return rel.with_df(out, key_cols=("w1", "w2"), time_col=None)


@defop("tfidf-topk")
def op_tfidf_topk(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Per-document top-k keywords by smoothed tf-idf (cluster labeling,
    doc summarization, retrieval features):

        ["tfidf-topk", rel, {"col": "text", "id": "doc_id", "k": 5}]
        -> (id, term, tf, tfidf, rank): each document's k highest
           tf-idf terms, tfidf = tf · (ln((1+N)/(1+df)) + 1) (the
           smooth-idf form — well-defined for terms in every doc),
           rank 1..k ordered tfidf desc with the term string as the
           deterministic tiebreak.

    Plan: one explode → (doc, term) hash agg for tf; df is a second agg
    over the DISTINCT (doc, term) relation (vocab-sized, not
    corpus-sized) joined back on the term; N attaches as a broadcast
    one-row count. The top-k is a row_number window partitioned by the
    doc id — one keyed shuffle, rank state only, never a global sort.

    Reference: no analog (§2.10 extension surface)."""
    from pyspark.sql import Window

    opts = opts_of(rest)
    colc = opts.get("col", "text")
    idc = opts.get("id", "doc_id")
    kk = int_opt(opts, "k", "tfidf-topk", 5)
    if kk < 1:
        raise ArityError("tfidf-topk needs k >= 1")
    _refuse_streaming(rel, "tfidf-topk")

    ndf = F.broadcast(rel.df.agg(F.count(F.lit(1)).cast("double").alias("__n")))
    tf = (
        spread(rel.df)
        .select(F.col(idc), F.explode(words(F.col(colc))).alias("term"))
        .groupBy(idc, "term")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("__df"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(ndf)
        .withColumn(
            "__tfidf",
            F.col("__tf")
            * (F.log((F.lit(1.0) + F.col("__n")) / (F.lit(1.0) + F.col("__df"))) + F.lit(1.0)),
        )
    )
    w = Window.partitionBy(idc).orderBy(F.col("__tfidf").desc(), F.col("term").asc())
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
        .select(
            idc,
            "term",
            F.col("__tf").cast("long").alias("tf"),
            F.round("__tfidf", 6).alias("tfidf"),
            "rank",
        )
    )
    return rel.with_df(out, key_cols=(idc, "term"), time_col=None)
