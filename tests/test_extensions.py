"""Training-data extension operators (SURVEY.md §2.10): dedup, MinHash/LSH,
SimHash, Jaccard, similarity search, text analysis, multimodal plumbing.
Python-reference implementations are the oracle for JVM-hash-based ops
(simhash); everything else is checked against straightforward recomputation
on collected pandas data."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from ksml_spark import ksml, pipe


def _assign_path(path: str):
    """Force the nearest-centroid assignment path by moving its K
    cutover (similarity._BLAS_ASSIGN_MIN_K): "blas" from K = 1, "expr"
    at any realistic K."""
    from unittest import mock

    from ksml_spark.operators import similarity

    return mock.patch.object(similarity, "_BLAS_ASSIGN_MIN_K",
                             1 if path == "blas" else 10**9)

SF = "/root/testdata/sf0.001"


def docs_stream(tables):
    return ["stream", tables["documents"], {"key": "doc_id"}]


# ---------------------------------------------------------------------------
# dedup

def test_dedup_deterministic_first(spark, tables):
    out = pipe(
        ["stream", tables["events"], {"key": "user_id", "time": "ts"}],
        ["dedup", {"by": ["user_id", "event_type"], "order": ["ts", "event_id"]}],
        spark=spark,
    ).df
    pdf = tables["events"].select("user_id", "event_type", "ts", "event_id").toPandas()
    expected = (
        pdf.sort_values(["ts", "event_id"]).groupby(["user_id", "event_type"]).first()
    )
    got = {(r["user_id"], r["event_type"]): r["event_id"] for r in out.collect()}
    for (u, t), row in expected.iterrows():
        assert got[(u, t)] == row["event_id"]


def test_dedup_keep_last(spark, tables):
    out = pipe(
        ["stream", tables["events"], {"key": "user_id", "time": "ts"}],
        ["dedup", {"by": ["user_id"], "order": ["ts", "event_id"], "keep": "last"}],
        spark=spark,
    ).df
    latest = pipe(
        ["table", tables["events"], {"key": "user_id", "time": "ts", "order": ["ts", "event_id"]}],
        spark=spark,
    ).df
    assert {tuple(r) for r in out.select("user_id", "event_id").collect()} == {
        tuple(r) for r in latest.select("user_id", "event_id").collect()
    }


# ---------------------------------------------------------------------------
# minhash / lsh

def py_minhash_bands(text: str, n_hashes=16, bands=4, k=3):
    toks = text.split(" ")
    shingles = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)] or [text]
    digests = [
        [hashlib.md5(f"{m}#{s}".encode()).hexdigest() for s in shingles]
        for m in range(n_hashes // 4)
    ]
    mh = [
        min(int(d[(j % 4) * 8 : (j % 4) * 8 + 8], 16) for d in digests[j // 4])
        for j in range(n_hashes)
    ]
    r = n_hashes // bands
    return [
        hashlib.md5("".join(str(x) for x in mh[b * r : (b + 1) * r]).encode()).hexdigest()
        for b in range(bands)
    ]


def test_minhash_matches_python_reference(spark, tables):
    out = pipe(
        docs_stream(tables),
        ["minhash", {"col": "text"}],
        ["select", {"doc_id": "doc_id", "band_0": "band_0", "band_1": "band_1",
                    "band_2": "band_2", "band_3": "band_3"}],
        spark=spark,
    ).df
    texts = {r["doc_id"]: r["text"] for r in tables["documents"].collect()}
    for r in out.limit(20).collect():
        assert [r[f"band_{b}"] for b in range(4)] == py_minhash_bands(texts[r["doc_id"]])


def test_lsh_candidates_contains_exact_duplicates(spark, tables):
    # token-set-identical docs must share all bands -> guaranteed candidates
    out = pipe(docs_stream(tables), ["lsh-candidates", {}], spark=spark).df
    pairs = {tuple(r) for r in out.collect()}
    assert all(a < b for a, b in pairs)
    texts = {r["doc_id"]: r["text"] for r in tables["documents"].collect()}
    exact_dupes = [
        (a, b)
        for a in texts
        for b in texts
        if a < b and texts[a] == texts[b]
    ]
    for p in exact_dupes:
        assert p in pairs


def test_jaccard_pairs_values(spark, tables):
    out = pipe(
        docs_stream(tables),
        ["jaccard-pairs", {"col": "text", "id": "doc_id", "block": ["lang"],
                           "threshold": 0.9}],
        spark=spark,
    ).df
    texts = {r["doc_id"]: (r["lang"], set(r["text"].split(" ")))
             for r in tables["documents"].collect()}
    for r in out.collect():
        la, ta = texts[r["doc_a"]]
        lb, tb = texts[r["doc_b"]]
        assert la == lb
        jac = len(ta & tb) / len(ta | tb)
        assert abs(jac - r["jaccard"]) < 1e-6 and jac >= 0.9


def test_hash_split_deterministic_and_proportional(spark, tables):
    form = ["hash-split", docs_stream(tables),
            {"id": "doc_id", "salt": "v1",
             "fractions": {"train": 0.8, "val": 0.1, "test": 0.1}}]
    a = {r["doc_id"]: r["split"] for r in ksml(form, spark=spark).df.collect()}
    b = {r["doc_id"]: r["split"] for r in ksml(form, spark=spark).df.collect()}
    assert a == b  # same assignment on every run
    n = len(a)
    from collections import Counter

    counts = Counter(a.values())
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] / n > 0.6  # proportional within small-sample slack
    # a different salt re-draws the assignment
    c = {r["doc_id"]: r["split"] for r in ksml(
        ["hash-split", docs_stream(tables),
         {"id": "doc_id", "salt": "v2",
          "fractions": {"train": 0.8, "val": 0.1, "test": 0.1}}],
        spark=spark).df.collect()}
    assert c != a


def test_cap_per_group(spark, tables):
    out = pipe(
        docs_stream(tables),
        ["cap-per-group", {"by": ["lang"], "order": ["-n_chars", "doc_id"], "n": 3}],
        spark=spark,
    ).df
    pdf = tables["documents"].select("doc_id", "lang", "n_chars").toPandas()
    expected = (
        pdf.sort_values(["n_chars", "doc_id"], ascending=[False, True])
        .groupby("lang").head(3)
    )
    got = {(r["lang"], r["doc_id"]) for r in out.collect()}
    assert got == set(zip(expected["lang"], expected["doc_id"]))


def test_dup_clusters_connected_components(spark):
    # chain 1-2-3, pair 10-11, triangle 20-21-22 (+redundant edge)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    out = ksml(
        ["dup-clusters", ["stream", pairs, {}], {"a": "doc_a", "b": "doc_b"}],
        spark=spark,
    ).df
    got = {r["doc_id"]: r["cluster"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dup_clusters_long_chain_converges(spark):
    # a 12-hop path exercises multiple propagation rounds + early stop
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    out = ksml(
        ["dup-clusters", ["stream", pairs, {}], {"a": "doc_a", "b": "doc_b"}],
        spark=spark,
    ).df
    got = {r["doc_id"]: r["cluster"] for r in out.collect()}
    assert got == {i: 0 for i in range(13)}


def test_dup_clusters_high_diameter_converges_logarithmically(spark):
    """r07 CC-stress regression: a 5000-node path has diameter 5000, so
    any per-round constant diameter reduction blows the default
    max_iter=15 — convergence must be logarithmic (pointer doubling to
    the label-map fixpoint inside each contraction round). Before the
    fix even a 2000-node chain failed at max_iter=40."""
    pairs = spark.range(4999).selectExpr("id as doc_a", "id + 1 as doc_b")
    out = ksml(
        ["dup-clusters", ["stream", pairs, {"key": "doc_a"}], {}], spark=spark
    ).df
    from pyspark.sql import functions as F

    agg = out.agg(F.count("*").alias("n"),
                  F.countDistinct("cluster").alias("k"),
                  F.min("cluster").alias("m")).collect()[0]
    assert (agg["n"], agg["k"], agg["m"]) == (5000, 1, 0)


# needs >= 2 contraction rounds (found by search: the min-pointer forest
# of round 1 leaves a cross-cluster edge)
TWO_ROUND_EDGES = [(0, 3), (0, 6), (0, 9), (1, 3), (1, 9), (2, 8), (4, 6),
                   (4, 8), (9, 11), (10, 11)]


def test_dup_clusters_max_iter_exhaustion_raises(spark, monkeypatch):
    """r17 fused-probe regression: the non-convergence check now reads
    the carried cross-edge count from the round-end materializing job
    (one Spark job serves as both checkpoint and convergence probe)
    instead of a fresh post-loop count — it must still refuse loudly
    when rounds run out, and still pass once given enough rounds. This
    graph provably needs >= 2 contraction rounds. Small pair sets close
    on the driver without rounds, so the driver bound is patched to 0 to
    run the contraction loop."""
    from ksml_spark.operators import dedup

    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_PAIRS", 0)
    df = spark.createDataFrame(TWO_ROUND_EDGES, "doc_a long, doc_b long")
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        ksml(
            ["dup-clusters", ["stream", df, {}], {"max_iter": 1}],
            spark=spark,
        ).df.collect()
    out = ksml(
        ["dup-clusters", ["stream", df, {}], {}], spark=spark
    ).df.collect()
    assert {r["doc_id"]: r["cluster"] for r in out} == {
        i: 0 for i in (0, 1, 2, 3, 4, 6, 8, 9, 10, 11)
    }


LONG_PAIRS = "doc_a long, doc_b long"


@pytest.mark.parametrize("edges,ddl", [
    ([(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)], LONG_PAIRS),
    ([(i, i + 1) for i in range(12)], LONG_PAIRS),
    ([(i, i + 1) for i in range(4999)], LONG_PAIRS),  # diameter 5000
    (TWO_ROUND_EDGES, LONG_PAIRS),
    # NULL endpoints: labelled from the smallest non-NULL neighbour, which
    # is remapped only while a non-NULL node starts with it as its label
    ([(1, 2), (None, 3), (3, 4)], LONG_PAIRS),
    ([(2, 3), (None, 3)], LONG_PAIRS),
    ([(2, 3), (3, 5), (3, None), (7, None)], LONG_PAIRS),
    ([(None, None), (4, 4)], LONG_PAIRS),
    ([(5, 5), (5, 6), (7, 7)], "doc_a int, doc_b long"),
    ([("b", "a"), ("c", "b"), ("x", None), ("é", "z")], "doc_a string, doc_b string"),
    ([], LONG_PAIRS),
], ids=["components", "chain12", "chain5000", "two_rounds", "null_label_held",
        "null_label_unheld", "nulls_mixed", "null_pair_self_loop", "self_loops",
        "strings", "empty"])
def test_dup_clusters_driver_path_matches_loop(spark, monkeypatch, edges, ddl):
    """The driver union-find (pair sets up to CC_DRIVER_MAX_PAIRS) and the
    distributed contraction loop (forced by patching the bound to 0)
    return the same rows and schema, NULL ids and self-loops included."""
    from ksml_spark.operators import dedup

    pairs = spark.createDataFrame(edges, ddl)

    def run():
        df = ksml(["dup-clusters", ["stream", pairs, {}], {}], spark=spark).df
        rows = [tuple(r) for r in df.collect()]
        return df.schema, sorted(rows, key=lambda r: [(v is not None, v) for v in r])

    driver = run()
    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_PAIRS", 0)
    assert driver == run()


def test_dup_clusters_driver_path_ignores_max_iter(spark):
    """Below the driver bound there are no rounds, so max_iter does not
    apply: the graph the loop refuses at max_iter=1 returns its
    clusters."""
    df = spark.createDataFrame(TWO_ROUND_EDGES, "doc_a long, doc_b long")
    out = ksml(["dup-clusters", ["stream", df, {}], {"max_iter": 1}], spark=spark).df
    assert {r["doc_id"]: r["cluster"] for r in out.collect()} == {
        i: 0 for i in (0, 1, 2, 3, 4, 6, 8, 9, 10, 11)
    }


def test_near_dedup_pins_stay_bounded(spark):
    """near-dedup holds two registry pins per call (its input and the
    pair stage's tokens): repeated calls keep at most _PIN_CAP live,
    and release_pinned() unpersists every one of them."""
    from pyspark import StorageLevel

    from ksml_spark import release_pinned
    from ksml_spark.operators import util as _u

    release_pinned()
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z")], "doc_id long, text string"
    )
    seen = []
    for i in range(_u._PIN_CAP + 2):
        out = pipe(["stream", docs, {"key": "doc_id"}],
                   ["near-dedup", {"col": "text", "threshold": 0.5}], spark=spark).df
        assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]
        seen += _u._PINNED
        assert len(_u._PINNED) == min(2 * (i + 1), _u._PIN_CAP)
    assert release_pinned() == _u._PIN_CAP and not _u._PINNED
    assert all(p.storageLevel == StorageLevel.NONE for p in seen)


@pytest.mark.slow
def test_simhash_pairs_equals_bruteforce_hamming(spark, tables):
    out = pipe(
        docs_stream(tables),
        ["simhash-pairs", {"col": "text", "id": "doc_id", "max_hamming": 3}],
        spark=spark,
    ).df
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out.collect()}
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in pipe(docs_stream(tables), ["simhash", {"col": "text"}],
                      spark=spark).df.select("doc_id", "simhash").collect()
    }
    expected = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
            if d <= 3:
                expected[(a, b)] = d
    # pigeonhole guarantee: banding misses nothing at max_hamming < bands
    assert got == expected and len(expected) > 0


def test_near_dedup_keeps_representatives(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),   # dup of 1
            (3, "the quick brown fox leaps over the lazy dog"),   # near-dup of 1
            (4, "completely different content about spark engines"),
            (5, "another unrelated document entirely on its own"),
        ],
        "doc_id long, text string",
    )
    out = ksml(
        ["near-dedup", ["stream", docs, {"key": "doc_id"}],
         {"col": "text", "id": "doc_id", "threshold": 0.5}],
        spark=spark,
    ).df
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 4, 5]


# ---------------------------------------------------------------------------
# simhash

def py_token_hash(tok: str) -> int:
    """Python replica of the engine-portable token hash: md5 sliced into
    two 32-bit halves (hi = hex 1-8, lo = hex 9-16)."""
    import hashlib

    m = hashlib.md5(tok.encode()).hexdigest()
    return (int(m[0:8], 16) << 32) | int(m[8:16], 16)


def py_simhash(text: str) -> int:
    votes = [0] * 64
    for tok in text.split(" "):
        h = py_token_hash(tok)
        for j in range(64):
            votes[j] += 1 if (h >> j) & 1 else -1
    v = 0
    for j in range(64):
        if votes[j] > 0:
            v |= 1 << j
    return v - (1 << 64) if v >= (1 << 63) else v


def test_simhash_matches_python_reference(spark, tables):
    out = pipe(
        docs_stream(tables),
        ["simhash", {"col": "text"}],
        ["select", {"doc_id": "doc_id", "simhash": "simhash"}],
        spark=spark,
    ).df
    sample = {r["doc_id"]: r["simhash"] for r in out.limit(10).collect()}
    texts = {r["doc_id"]: r["text"] for r in tables["documents"].collect()}
    # interpret python result as signed 64-bit
    for d, sh in sample.items():
        expected = py_simhash(texts[d])
        assert sh == expected, f"doc {d}"


# ---------------------------------------------------------------------------
# similarity search

def test_ann_topk_matches_numpy(spark, tables):
    import numpy as np

    out = pipe(
        ["stream", tables["embeddings"], {"key": "vec_id"}],
        ["ann-topk", {"id": "vec_id", "vec": "embedding", "k": 3, "dim": 64,
                      "queries": "vec_id % 50 = 0"}],
        spark=spark,
    ).df
    pdf = tables["embeddings"].select("vec_id", "embedding").toPandas()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in pdf.itertuples()}
    got = {}
    for r in out.collect():
        got.setdefault(r["q_id"], []).append((r["rank"], r["n_id"], r["sim"]))
    assert len(got) == len([v for v in vecs if v % 50 == 0])
    for q, rows in got.items():
        qs = sorted(rows)
        sims = {
            n: float(np.dot(vecs[q], vecs[n]) / (np.linalg.norm(vecs[q]) * np.linalg.norm(vecs[n])))
            for n in vecs
            if n != q
        }
        expected = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        assert [n for _, n, _ in qs] == [n for n, _ in expected]
        for (_, _, s), (_, es) in zip(qs, expected):
            assert abs(s - es) < 1e-4


@pytest.mark.slow
def test_ann_topk_query_side_guard(spark, tables):
    """max_query_rows (r15, completing the max_bucket_pairs guard
    family): a 'queries' filter matching more rows than the cap refuses
    curatedly at construction — the query side is BROADCAST, so a loose
    filter is a driver-memory abort at scale. 0 disables (the lazy
    hatch), a junk value refuses curatedly, and decisions are unchanged
    whenever the guard passes (guarded vs disabled runs are
    row-identical)."""
    from ksml_spark.errors import ArityError

    src = ["stream", tables["embeddings"], {"key": "vec_id"}]
    base = {"id": "vec_id", "vec": "embedding", "k": 3, "dim": 64,
            "queries": "vec_id % 50 = 0"}

    # over the cap: every row matches 'queries' but max_query_rows=2
    with pytest.raises(ArityError, match="max_query_rows"):
        ksml(["ann-topk", src,
              dict(base, queries="vec_id >= 0", max_query_rows=2)],
             spark=spark)
    # 0 disables — the same loose filter constructs (and stays lazy)
    ksml(["ann-topk", src,
          dict(base, queries="vec_id >= 0", max_query_rows=0)], spark=spark)
    # junk value is a curated refusal, not a raw ValueError
    with pytest.raises(ArityError, match="max_query_rows must be a non-negative int"):
        ksml(["ann-topk", src, dict(base, max_query_rows="lots")],
             spark=spark)
    # explicit None means "unset" = the default cap, even for a caller
    # bypassing opts_of (the pos_int_opt r15 contract) — same for the
    # sibling ann-lsh-topk guard
    ksml(["ann-topk", src, dict(base, max_query_rows=None)], spark=spark)
    ksml(["ann-lsh-topk", src,
          dict(base, max_bucket_pairs=None)], spark=spark)
    # guard passes -> decisions identical to the disabled path
    guarded = ksml(["ann-topk", src, dict(base)], spark=spark).df
    free = ksml(["ann-topk", src, dict(base, max_query_rows=0)],
                spark=spark).df
    assert sorted(map(tuple, guarded.collect())) == \
        sorted(map(tuple, free.collect()))


def test_ann_topk_query_side_guard_fast(spark):
    """Fast-tier smoke of test_ann_topk_query_side_guard on 5 vectors: a
    'queries' filter matching more than max_query_rows refuses at
    construction; 0 disables the cap and the same form constructs."""
    from ksml_spark.errors import ArityError

    df = spark.createDataFrame(
        [(i, [1.0, float(i), 0.5]) for i in range(5)],
        "vec_id long, embedding array<double>")
    src = ["stream", df, {"key": "vec_id"}]
    base = {"id": "vec_id", "vec": "embedding", "k": 2, "dim": 3,
            "queries": "vec_id >= 0"}
    with pytest.raises(ArityError, match="max_query_rows"):
        ksml(["ann-topk", src, dict(base, max_query_rows=2)], spark=spark)
    ksml(["ann-topk", src, dict(base, max_query_rows=0)], spark=spark)


def test_ann_lsh_restricts_to_bucket(spark, tables):
    out = pipe(
        ["stream", tables["embeddings"], {"key": "vec_id"}],
        ["ann-lsh-topk", {"id": "vec_id", "vec": "embedding", "k": 3, "dim": 64,
                          "queries": "vec_id % 50 = 0", "sign_dims": 8}],
        spark=spark,
    ).df
    pdf = tables["embeddings"].select("vec_id", "embedding").toPandas()
    bucket = {
        r.vec_id: "".join("1" if x > 0 else "0" for x in r.embedding[:8])
        for r in pdf.itertuples()
    }
    for r in out.collect():
        assert bucket[r["q_id"]] == bucket[r["n_id"]]
        assert r["n_id"] != r["q_id"]


def test_neardup_pairs_symmetric_threshold(spark, tables):
    out = pipe(
        ["stream", tables["embeddings"], {"key": "vec_id"}],
        ["neardup-pairs", {"id": "vec_id", "vec": "embedding", "dim": 64,
                           "block": "label", "threshold": 0.3}],
        spark=spark,
    ).df
    rows = out.collect()
    assert all(r["id_a"] < r["id_b"] and r["sim"] >= 0.3 for r in rows)


# ---------------------------------------------------------------------------
# text + multimodal

def test_text_ops_stack(spark, tables):
    out = pipe(
        docs_stream(tables),
        ["tokenize", {"col": "text"}],
        ["token-count", {"col": "text"}],
        ["lang-id", {"col": "text"}],
        ["quality-score", {"col": "text"}],
        ["fingerprint", {"col": "text"}],
        spark=spark,
    ).df
    r = out.filter("doc_id = 0").collect()[0]
    text = tables["documents"].filter("doc_id = 0").collect()[0]["text"]
    ws = [w for w in text.split(" ") if w]
    assert r["n_tokens_ws"] == len(ws)
    assert r["tokens"][:3] == [w for w in text.lower().split(" ") if w][:3]
    assert 0.0 <= r["quality"] <= 1.0
    assert isinstance(r["fingerprint"], int) and isinstance(r["rolling_fp"], int)
    # rolling hash python reference
    norm = " ".join(w for w in text.lower().split(" ") if w)
    h, p = 0, 1
    for ch in norm:
        h = (h + ord(ch) * p) % 1_000_000_007
        p = (p * 31) % 1_000_000_007
    assert r["rolling_fp"] == h


def test_multimodal_decode_stub(spark, tables):
    out = pipe(
        docs_stream(tables),
        ["binarize", {"col": "text", "as": "payload"}],
        ["decode-features", {"col": "payload", "id": "doc_id"}],
        spark=spark,
    ).df
    r = out.filter("doc_id = 1").collect()[0]
    text = tables["documents"].filter("doc_id = 1").collect()[0]["text"]
    b = text.encode()
    assert r["n_bytes"] == len(b)
    assert r["header_hex"] == b[:4].hex()
    assert r["fake_w"] == len(b) % 640 and r["fake_h"] == (len(b) * 7) % 480


def test_ann_ivf_structure_and_recall(spark, tables):
    ivf = pipe(
        ["stream", tables["embeddings"], {"key": "vec_id"}],
        ["ann-ivf-topk", {"id": "vec_id", "vec": "embedding", "k": 3, "dim": 64,
                          "queries": "vec_id % 50 = 0",
                          "centroids": "vec_id % 127 = 3", "nprobe": 2}],
        spark=spark,
    ).df
    exact = pipe(
        ["stream", tables["embeddings"], {"key": "vec_id"}],
        ["ann-topk", {"id": "vec_id", "vec": "embedding", "k": 3, "dim": 64,
                      "queries": "vec_id % 50 = 0"}],
        spark=spark,
    ).df
    g, e = {}, {}
    for r in ivf.collect():
        g.setdefault(r["q_id"], set()).add(r["n_id"])
    for r in exact.collect():
        e.setdefault(r["q_id"], set()).add(r["n_id"])
    assert set(g) == set(e)            # every query answered
    assert all(len(v) == 3 for v in g.values())
    # approximate: nonzero overlap with the exact top-3 across the query
    # set (recall scales with nprobe/centroid count; at nprobe=2 over ~30
    # sampled centroids on near-random 64-dim data it is intentionally low)
    hits = sum(len(g[q] & e[q]) for q in e)
    assert hits >= 1


def test_multimodal_stub_plan_has_no_python(spark, tables):
    """The stub feature path must be pure expressions — no mapInPandas /
    Python worker node in the executed plan (VERDICT r01)."""
    out = pipe(
        docs_stream(tables),
        ["binarize", {"col": "text", "as": "payload"}],
        ["decode-features", {"col": "payload", "id": "doc_id"}],
        spark=spark,
    ).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_multimodal_decoder_hatch_vectorized(spark, tables):
    """The real-decoder escape hatch: decoder sees the whole pandas Series
    per Arrow batch, returns a feature DataFrame."""
    import pandas as pd

    def decoder(payloads: pd.Series) -> pd.DataFrame:
        # vectorized over the series (bytes accessor ops), not a row loop
        return pd.DataFrame({
            "n_bytes": payloads.str.len().astype("int64"),
            "head2": payloads.str[:2].map(bytes.hex),
        })

    out = pipe(
        docs_stream(tables),
        ["binarize", {"col": "text", "as": "payload"}],
        ["decode-features", {"col": "payload", "id": "doc_id",
                             "decoder": decoder,
                             "schema": "doc_id bigint, n_bytes bigint, head2 string"}],
        spark=spark,
    ).df
    r = out.filter("doc_id = 1").collect()[0]
    text = tables["documents"].filter("doc_id = 1").collect()[0]["text"]
    assert r["n_bytes"] == len(text.encode())
    assert r["head2"] == text.encode()[:2].hex()


def test_media_struct_column_model(spark, tables):
    """["media"] attaches (mime, width, height, n_bytes) struct; decode
    with {"media": true} fills width/height."""
    from pyspark.sql.types import IntegerType, LongType, StringType, StructType

    withmeta = pipe(
        docs_stream(tables),
        ["binarize", {"col": "text", "as": "payload"}],
        ["media", {"col": "payload", "mime": "text/plain"}],
        spark=spark,
    ).df
    mt = withmeta.schema["media"].dataType
    assert isinstance(mt, StructType)
    assert [f.name for f in mt.fields] == ["mime", "width", "height", "n_bytes"]
    assert isinstance(mt["mime"].dataType, StringType)
    assert isinstance(mt["width"].dataType, IntegerType)
    assert isinstance(mt["n_bytes"].dataType, LongType)
    r = withmeta.filter("doc_id = 1").select("media.*", "text").collect()[0]
    assert r["mime"] == "text/plain" and r["width"] is None
    assert r["n_bytes"] == len(r["text"].encode())

    filled = pipe(
        docs_stream(tables),
        ["binarize", {"col": "text", "as": "payload"}],
        ["decode-features", {"col": "payload", "id": "doc_id",
                             "media": True, "mime": "text/plain"}],
        spark=spark,
    ).df
    f = filled.filter("doc_id = 1").select("media.*").collect()[0]
    r1 = filled.filter("doc_id = 1").collect()[0]
    assert f["width"] == r1["fake_w"] and f["height"] == r1["fake_h"]


def test_neardup_pairs_refuses_unblocked(spark, tables):
    """Unblocked all-pairs is O(N^2) — must raise without allow_full."""
    from ksml_spark.errors import ArityError

    with pytest.raises(ArityError, match="allow_full"):
        pipe(
            ["stream", tables["embeddings"], {"key": "vec_id"}],
            ["neardup-pairs", {"id": "vec_id", "vec": "embedding", "dim": 64,
                               "threshold": 0.9}],
            spark=spark,
        )


def test_neardup_pairs_lsh_blocked_subset_of_full(spark, tables):
    """Sign-LSH blocking returns exactly the full-scan pairs whose members
    share the sign bucket (approximate by design, exact within buckets)."""
    full = pipe(
        ["stream", tables["embeddings"], {"key": "vec_id"}],
        ["neardup-pairs", {"id": "vec_id", "vec": "embedding", "dim": 64,
                           "threshold": 0.4, "allow_full": True}],
        spark=spark,
    ).df
    lsh = pipe(
        ["stream", tables["embeddings"], {"key": "vec_id"}],
        ["neardup-pairs", {"id": "vec_id", "vec": "embedding", "dim": 64,
                           "threshold": 0.4, "lsh_dims": 8}],
        spark=spark,
    ).df
    full_pairs = {(r["id_a"], r["id_b"]): r["sim"] for r in full.collect()}
    lsh_pairs = {(r["id_a"], r["id_b"]): r["sim"] for r in lsh.collect()}
    assert set(lsh_pairs) <= set(full_pairs)
    for k, v in lsh_pairs.items():
        assert v == full_pairs[k]
    # buckets must actually explain the subset
    import numpy as np

    vecs = {r["vec_id"]: r["embedding"]
            for r in tables["embeddings"].select("vec_id", "embedding").collect()}
    bucket = {i: "".join("1" if x > 0 else "0" for x in v[:8]) for i, v in vecs.items()}
    expected = {k for k in full_pairs if bucket[k[0]] == bucket[k[1]]}
    assert set(lsh_pairs) == expected


def test_neardup_pairs_oversized_block_guard(spark):
    """r13 (the semdedup max_cluster_pairs precedent, motivated by the
    vector-axis probe's exp-1.78 reading): a hot block over the
    estimated-pair cap refuses curatedly at construction; 0 disables;
    decisions are unchanged when the guard passes; allow_full counts
    the whole relation as one block; junk cap values are curated."""
    from ksml_spark.errors import ArityError

    rows = [(i, "hot" if i < 600 else f"g{i % 7}",
             [1.0 + (i % 9) / 4.0, (i % 5) / 3.0, 0.3]) for i in range(650)]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    src = ["stream", df, {"key": "vec_id"}]
    base = {"id": "vec_id", "vec": "embedding", "dim": 3, "threshold": 0.99,
            "block": "label"}

    # 600-row hot block -> 179,700 estimated pairs > a 100k cap
    with pytest.raises(ArityError, match="max_block_pairs"):
        ksml(["neardup-pairs", src, dict(base, max_block_pairs=100_000)],
             spark=spark)
    with pytest.raises(ArityError, match="unblocked relation"):
        ksml(["neardup-pairs", src,
              {"id": "vec_id", "vec": "embedding", "dim": 3,
               "allow_full": True, "max_block_pairs": 100_000}], spark=spark)
    with pytest.raises(ArityError, match="must be a non-negative int"):
        ksml(["neardup-pairs", src, dict(base, max_block_pairs="lots")],
             spark=spark)

    def pairs(extra):
        out = ksml(["neardup-pairs", src, dict(base, **extra)], spark=spark)
        return sorted((r["id_a"], r["id_b"], r["sim"]) for r in out.df.collect())

    # passing guard (default cap) == disabled guard, bit-for-bit
    got = pairs({})
    assert got == pairs({"max_block_pairs": 0})
    assert got  # the hot block must actually produce duplicates


def test_ann_lsh_hot_bucket_guard(spark, tables):
    """r13 (the neardup max_block_pairs precedent, motivated by the
    vector-axis probe's climbing fixed-dims exponent): a hot sign
    bucket over the estimated candidates x queries cap refuses
    curatedly at construction; 0 disables; decisions are unchanged
    when the guard passes; junk cap values are curated."""
    from ksml_spark.errors import ArityError

    src = ["stream", tables["embeddings"], {"key": "vec_id"}]
    base = {"id": "vec_id", "vec": "embedding", "dim": 64, "k": 3,
            "sign_dims": 2, "queries": "vec_id < 200"}

    # sign_dims=2 -> at most 4 buckets over the 500-vector table, so the
    # hottest bucket's candidates x queries product exceeds a 1000 cap
    with pytest.raises(ArityError, match="max_bucket_pairs"):
        ksml(["ann-lsh-topk", src, dict(base, max_bucket_pairs=1000)],
             spark=spark)
    with pytest.raises(ArityError, match="must be a non-negative int"):
        ksml(["ann-lsh-topk", src, dict(base, max_bucket_pairs="lots")],
             spark=spark)

    def topk(extra):
        out = ksml(["ann-lsh-topk", src, dict(base, **extra)], spark=spark)
        return sorted(
            (r["q_id"], r["rank"], r["n_id"], r["sim"]) for r in out.df.collect()
        )

    # passing guard (default cap) == disabled guard, bit-for-bit
    got = topk({})
    assert got == topk({"max_bucket_pairs": 0})
    assert got  # the coarse buckets must actually produce neighbors


def test_ann_lsh_bands_exact_reference(spark, tables):
    """late r13 OR-construction banding: output equals a sequential-order
    Python reimplementation bit-for-bit (band buckets -> any-band
    candidate union -> cosine with left-to-right float64 dots, Spark's
    unrolled-chain order -> (sim desc, n_id asc) top-k)."""
    import math

    r, b, k = 4, 8, 3
    out = pipe(
        ["stream", tables["embeddings"], {"key": "vec_id"}],
        ["ann-lsh-topk", {"id": "vec_id", "vec": "embedding", "dim": 64,
                          "k": k, "sign_dims": r, "bands": b,
                          "queries": "vec_id % 50 = 0"}],
        spark=spark,
    ).df
    got = sorted((x["q_id"], x["rank"], x["n_id"], x["sim"]) for x in out.collect())

    vecs = {x["vec_id"]: list(x["embedding"])
            for x in tables["embeddings"].select("vec_id", "embedding").collect()}

    def seqdot(a, bb):
        s = a[0] * bb[0]
        for i in range(1, 64):
            s = s + a[i] * bb[i]
        return s

    def buckets(v):
        return {f"{j}:" + "".join("1" if x > 0 else "0" for x in v[j*r:(j+1)*r])
                for j in range(b)}

    bkt = {i: buckets(v) for i, v in vecs.items()}
    nrm = {i: math.sqrt(seqdot(v, v)) for i, v in vecs.items()}
    expected = []
    for q in sorted(vecs):
        if q % 50 != 0:
            continue
        cands = []
        for n, v in vecs.items():
            if n == q or not (bkt[q] & bkt[n]):
                continue
            cands.append((seqdot(vecs[q], v) / (nrm[q] * nrm[n]), n))
        cands.sort(key=lambda t: (-t[0], t[1]))
        for rank, (sim, n) in enumerate(cands[:k], start=1):
            expected.append((q, rank, n, round(sim, 6)))
    assert got == sorted(expected)


def test_ann_lsh_bands_dominate_single_band(spark, tables):
    """The banded candidate set is a SUPERSET of single-band's (band 0
    with the same sign_dims IS the single-band bucket), so for every
    query the i-th best banded sim must be >= the i-th best
    single-band sim."""
    base = {"id": "vec_id", "vec": "embedding", "dim": 64, "k": 3,
            "sign_dims": 4, "queries": "vec_id % 50 = 0"}

    def ranks(extra):
        out = pipe(["stream", tables["embeddings"], {"key": "vec_id"}],
                   ["ann-lsh-topk", dict(base, **extra)], spark=spark).df
        m = {}
        for x in out.collect():
            m[(x["q_id"], x["rank"])] = x["sim"]
        return m

    single, banded = ranks({}), ranks({"bands": 8})
    assert single and banded
    for key, sim in single.items():
        assert key in banded and banded[key] >= sim


def test_ann_lsh_bands_guard_and_refusals(spark, tables):
    """Banded-path construction contracts: bands without dim, an
    over-width band layout, and the hot-bucket guard on the exploded
    band-bucket key all refuse curatedly."""
    from ksml_spark.errors import ArityError

    src = ["stream", tables["embeddings"], {"key": "vec_id"}]
    base = {"id": "vec_id", "vec": "embedding", "k": 3, "sign_dims": 4,
            "queries": "vec_id % 50 = 0"}
    with pytest.raises(ArityError, match="needs \\{'dim'"):
        ksml(["ann-lsh-topk", src, dict(base, bands=8)], spark=spark)
    with pytest.raises(ArityError, match="exceeds dim"):
        ksml(["ann-lsh-topk", src, dict(base, bands=20, dim=64)], spark=spark)
    with pytest.raises(ArityError, match="max_bucket_pairs"):
        ksml(["ann-lsh-topk", src,
              dict(base, bands=8, dim=64, max_bucket_pairs=10)], spark=spark)


def test_neardup_bands_exact_reference(spark, tables):
    """late r13 neardup banding: output equals a sequential-order Python
    reimplementation bit-for-bit (any-band co-bucket pairs, id_a < id_b,
    cosine >= threshold)."""
    import math

    r, b, thr = 4, 8, 0.4
    out = pipe(
        ["stream", tables["embeddings"], {"key": "vec_id"}],
        ["neardup-pairs", {"id": "vec_id", "vec": "embedding", "dim": 64,
                           "threshold": thr, "lsh_dims": r, "bands": b}],
        spark=spark,
    ).df
    got = sorted((x["id_a"], x["id_b"], x["sim"]) for x in out.collect())

    vecs = {x["vec_id"]: list(x["embedding"])
            for x in tables["embeddings"].select("vec_id", "embedding").collect()}

    def seqdot(p, q):
        s = p[0] * q[0]
        for i in range(1, 64):
            s = s + p[i] * q[i]
        return s

    bkt = {i: {f"{j}:" + "".join("1" if x > 0 else "0" for x in v[j*r:(j+1)*r])
               for j in range(b)} for i, v in vecs.items()}
    nrm = {i: math.sqrt(seqdot(v, v)) for i, v in vecs.items()}
    expected = []
    ids = sorted(vecs)
    for ia, a in enumerate(ids):
        for bb in ids[ia + 1:]:
            if not (bkt[a] & bkt[bb]):
                continue
            sim = round(seqdot(vecs[a], vecs[bb]) / (nrm[a] * nrm[bb]), 6)
            if sim >= thr:
                expected.append((a, bb, sim))
    assert got == sorted(expected)
    # and the banded pair set dominates the single-band one
    single = pipe(
        ["stream", tables["embeddings"], {"key": "vec_id"}],
        ["neardup-pairs", {"id": "vec_id", "vec": "embedding", "dim": 64,
                           "threshold": thr, "lsh_dims": r}],
        spark=spark,
    ).df
    single_pairs = {(x["id_a"], x["id_b"]) for x in single.collect()}
    assert single_pairs <= {(a, bb) for a, bb, _ in got}


@pytest.mark.slow
def test_neardup_bands_recall_on_planted_duplicates(spark):
    """The measurement that motivated banding, as a pinned regression:
    on planted near-duplicates (cosine ~0.94, threshold 0.9) banded
    blocking must recover strictly more true pairs than a single
    lsh_dims=8 band, and every recovered pair must be in the exact
    (allow_full) truth set."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((150, 64))
    noisy = base[:75] + 0.35 * rng.standard_normal((75, 64))
    vecs = np.vstack([base, noisy])
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = ["stream", df, {"key": "vec_id"}]
    base_opts = {"id": "vec_id", "vec": "embedding", "dim": 64,
                 "threshold": 0.9}

    def pairs(extra):
        out = ksml(["neardup-pairs", src, dict(base_opts, **extra)],
                   spark=spark)
        return {(x["id_a"], x["id_b"]) for x in out.df.collect()}

    truth = pairs({"allow_full": True})
    single = pairs({"lsh_dims": 8, "single_band_ok": True})
    banded = pairs({"lsh_dims": 8, "bands": 8})
    assert truth, "planted duplicates must exist above the threshold"
    assert single <= banded <= truth
    assert len(banded) > len(single)


def test_neardup_bands_refusals(spark, tables):
    """Banded neardup construction contracts: bands with a semantic
    block (with OR without lsh_dims — the latter previously crashed
    with UnboundLocalError, r14 ADVICE), bands without lsh_dims, bands
    without dim, and an over-width band layout all refuse curatedly."""
    from ksml_spark.errors import ArityError

    src = ["stream", tables["embeddings"], {"key": "vec_id"}]
    base = {"id": "vec_id", "vec": "embedding", "threshold": 0.9}
    with pytest.raises(ArityError, match="does not compose with a"):
        ksml(["neardup-pairs", src, dict(base, bands=4, block="vec_id")],
             spark=spark)
    with pytest.raises(ArityError, match="does not compose with a"):
        ksml(["neardup-pairs", src,
              dict(base, bands=4, block="vec_id", lsh_dims=8, dim=64)],
             spark=spark)
    with pytest.raises(ArityError, match="pass lsh_dims"):
        ksml(["neardup-pairs", src, dict(base, bands=4)], spark=spark)
    with pytest.raises(ArityError, match="needs \\{'dim'"):
        ksml(["neardup-pairs", src, dict(base, bands=4, lsh_dims=8)],
             spark=spark)
    with pytest.raises(ArityError, match="exceeds dim"):
        ksml(["neardup-pairs", src,
              dict(base, bands=16, lsh_dims=8, dim=64)], spark=spark)
    # a literal 0 gets the curated >= 1 refusal, not the allow_full
    # fall-through (r14 ADVICE: 0 is falsy, so a truthiness check read
    # it as "unspecified")
    with pytest.raises(ArityError, match="lsh_dims must be >= 1"):
        ksml(["neardup-pairs", src, dict(base, lsh_dims=0)], spark=spark)
    # an explicit None means "unset" (programmatic opts-building) —
    # the curated blocking refusal, not an opaque NoneType crash in
    # sign_bucket_col / the band-width arithmetic (r14 review)
    with pytest.raises(ArityError, match="allow_full"):
        ksml(["neardup-pairs", src, dict(base, lsh_dims=None)], spark=spark)
    with pytest.raises(ArityError, match="pass lsh_dims"):
        ksml(["neardup-pairs", src,
              dict(base, bands=4, dim=64, lsh_dims=None)], spark=spark)


def test_neardup_single_band_recall_warning(spark, tables):
    """Single-band sign-LSH blocking at a high threshold warns at
    construction (measured recall cliff, r14); {'single_band_ok': True}
    acknowledges, and low thresholds / banded layouts stay quiet."""
    import warnings

    src = ["stream", tables["embeddings"], {"key": "vec_id"}]
    base = {"id": "vec_id", "vec": "embedding", "dim": 64,
            "lsh_dims": 8, "max_block_pairs": 0}
    # UserWarning, not ResourceWarning (ADVICE r14): default warning
    # filters ignore ResourceWarning, and this is the sole lever for a
    # silent-wrong-RESULTS outcome — it must surface in a plain
    # spark-submit run, not only under pytest/-W
    with pytest.warns(UserWarning, match="measured recall 0.42"):
        ksml(["neardup-pairs", src, dict(base, threshold=0.9)], spark=spark)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        ksml(["neardup-pairs", src,
              dict(base, threshold=0.9, single_band_ok=True)], spark=spark)
        ksml(["neardup-pairs", src, dict(base, threshold=0.4)], spark=spark)
        ksml(["neardup-pairs", src,
              dict(base, threshold=0.9, bands=4)], spark=spark)


def test_neardup_lsh_mode_matches_block_on_precomputed_bucket(spark, tables):
    """{"lsh_dims": d} must be bit-identical to {"block": col} run on a
    PRECOMPUTED sign-bucket column — after the bucket derivation
    (sign_bucket_col, oracled through ann_lsh_topk) both modes share the
    same pair-join code path.  This is the clause-(c) retirement pin for
    the neardup_lsh registry row (see the r09 note at the registry head):
    the lsh_dims option's only unique surface vs neardup_embeddings'
    still-oracled block mode is the bucket expression itself."""
    from ksml_spark.operators.similarity import sign_bucket_col

    lsh = pipe(
        ["stream", tables["embeddings"], {"key": "vec_id"}],
        ["neardup-pairs", {"id": "vec_id", "vec": "embedding", "dim": 64,
                           "threshold": 0.4, "lsh_dims": 8}],
        spark=spark,
    ).df
    pre = tables["embeddings"].withColumn(
        "bucket", sign_bucket_col(F.col("embedding").cast("array<double>"), 8)
    )
    blocked = pipe(
        ["stream", pre, {"key": "vec_id"}],
        ["neardup-pairs", {"id": "vec_id", "vec": "embedding", "dim": 64,
                           "threshold": 0.4, "block": "bucket"}],
        spark=spark,
    ).df
    a = {(r["id_a"], r["id_b"]): r["sim"] for r in lsh.collect()}
    b = {(r["id_a"], r["id_b"]): r["sim"] for r in blocked.collect()}
    assert a == b and len(a) > 0


@pytest.mark.slow
def test_degenerate_vectors_never_abort_similarity_ops(spark):
    """r13 regression (VERDICT r12 #1, pinned as a plain test — not only
    Hypothesis): zero-norm vectors (all-zero, or nonzero components like
    1e-200 whose SQUARES underflow to a 0.0 norm), NaN-component vectors,
    and NULL vectors must cost absent pairs — never an ANSI
    DIVIDE_BY_ZERO job abort — in all four pair-cosine ops
    (similarity.py pair divisions), whether they arrive as members,
    queries, or centroids; and the valid rows' output must equal the
    degenerate-free corpus's exactly (degenerate rows match nothing).
    At 100 TB zero vectors are routine (empty docs, padding) — one of
    them may not abort a corpus-wide job."""
    base = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.1, 0.9, 0.0]),
        (4, [0.5, 0.5, 0.1]),
        (5, [0.0, 0.1, 1.0]),
    ]
    degenerate = [
        (100, [0.0, 0.0, 0.0]),           # exactly zero norm
        (101, [1e-200, 1e-200, 1e-200]),  # nonzero; squares underflow -> norm 0.0
        (102, [float("nan"), 1.0, 0.0]),  # NaN component -> NaN norm (NaN > 0 is TRUE)
        (103, None),                      # NULL vector
        (104, [1.0, 2.0]),                # shorter than dim (NULL dot since the
                                          # r13 F.get switch; getItem ABORTED)
        (105, [None, 1.0, 2.0]),          # NULL element -> NULL norm (and
                                          # isnan(NULL) is false — needs its
                                          # own _valid_vec clause)
    ]
    assert (1e-200) ** 2 == 0.0  # the underflow premise the test pins
    clean = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    dirty = spark.createDataFrame(
        base + degenerate, "vec_id long, embedding array<double>")
    deg_ids = ", ".join(str(i) for i, _ in degenerate)

    def rows(rel):
        return sorted(tuple(r) for r in rel.df.collect())

    def run(df, op, opts):
        return rows(ksml([op, ["stream", df, {"key": "vec_id"}], opts],
                         spark=spark))

    # ann-topk: degenerate members AND degenerate queries
    topk_opts = {"id": "vec_id", "vec": "embedding", "k": 2, "dim": 3}
    want = run(clean, "ann-topk", dict(topk_opts, queries="vec_id in (0, 2)"))
    assert want  # the clean corpus must actually produce neighbors
    assert run(dirty, "ann-topk",
               dict(topk_opts, queries=f"vec_id in (0, 2, {deg_ids})")) == want

    # ann-lsh-topk: same envelope through the sign-bucket join
    lsh_opts = dict(topk_opts, sign_dims=1)
    want = run(clean, "ann-lsh-topk", dict(lsh_opts, queries="vec_id in (0, 2)"))
    assert want
    assert run(dirty, "ann-lsh-topk",
               dict(lsh_opts, queries=f"vec_id in (0, 2, {deg_ids})")) == want

    # ann-ivf-topk: degenerate members, queries AND centroids, on both
    # assignment impls — expr and blas must agree with each other and
    # with the clean corpus (the r12 parity property's failing class)
    ivf_opts = dict(topk_opts, nprobe=2)
    want = run(clean, "ann-ivf-topk",
               dict(ivf_opts, queries="vec_id in (0, 2)",
                    centroids="vec_id in (0, 2, 5)"))
    assert want
    for path in ("expr", "blas"):
        with _assign_path(path):
            got = run(dirty, "ann-ivf-topk",
                      dict(ivf_opts,
                           queries=f"vec_id in (0, 2, {deg_ids})",
                           centroids=f"vec_id in (0, 2, 5, {deg_ids})"))
        assert got == want, path

    # neardup-pairs: degenerate rows on both join sides; a NaN pair
    # cosine must FAIL the threshold (NULL), not pass it as NaN
    nd_opts = {"id": "vec_id", "vec": "embedding", "dim": 3,
               "threshold": 0.5, "lsh_dims": 1}
    want = run(clean, "neardup-pairs", nd_opts)
    assert want
    assert run(dirty, "neardup-pairs", nd_opts) == want


def _force_jaccard_plan(m, prefix: bool) -> None:
    """Force jaccard-pairs' plan through its rule's constants (``m`` a
    monkeypatch): prefix from 0 postings, plain when neither the postings
    nor the hot-key threshold can be reached."""
    from ksml_spark.operators import dedup

    if prefix:
        m.setattr(dedup, "_PREFIX_MIN_POSTINGS", 0)
    else:
        m.setattr(dedup, "_PREFIX_MIN_POSTINGS", float("inf"))
        m.setattr(dedup, "_HOT_MIN_PAIRS", float("inf"))


def test_jaccard_prefix_matches_plain_plan(spark, tables, monkeypatch):
    """AllPairs prefix filtering must return bit-identical pairs to the
    plain inverted-index plan (same threshold, same blocks)."""
    base = {"col": "text", "id": "doc_id", "block": ["lang"], "threshold": 0.5}
    plain = pipe(docs_stream(tables), ["jaccard-pairs", base], spark=spark).df
    _force_jaccard_plan(monkeypatch, prefix=True)
    pref = pipe(docs_stream(tables), ["jaccard-pairs", base], spark=spark).df
    a = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in plain.collect()}
    b = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pref.collect()}
    assert a == b and len(a) > 0


def test_jaccard_prefix_auto_switch(spark, tables, monkeypatch):
    """jaccard-pairs picks the plan from the estimated token-index size:
    plain below ``_PREFIX_MIN_POSTINGS`` postings, the AllPairs
    prefix-filtered plan above it — same results either way.
    The prefix plan is identified by its document-frequency ranking
    window (row_number over __df), which the plain plan never has."""
    from ksml_spark.operators import dedup

    base = {"col": "text", "id": "doc_id", "block": ["lang"], "threshold": 0.5}

    def plan():
        df = pipe(docs_stream(tables), ["jaccard-pairs", base], spark=spark).df
        return df, df._jdf.queryExecution().optimizedPlan().toString()

    # toy corpus is far below the default 50M-postings threshold -> plain
    _, auto_plan = plan()
    assert "row_number" not in auto_plan
    # lowering the threshold to 1 posting flips the choice to prefix
    with monkeypatch.context() as m:
        m.setattr(dedup, "_PREFIX_MIN_POSTINGS", 1)
        forced_df, forced_plan = plan()
    assert "row_number" in forced_plan
    # a forced plain plan stays plain
    with monkeypatch.context() as m:
        _force_jaccard_plan(m, prefix=False)
        off_df, off_plan = plan()
    assert "row_number" not in off_plan
    # and the auto-chosen prefix plan returns the same pairs
    want = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in off_df.collect()}
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in forced_df.collect()}
    assert got == want and len(got) > 0


def test_jaccard_plan_choice_is_one_spark_job(spark, monkeypatch):
    """jaccard-pairs picks its plan from one bounded Arrow fetch: over a
    shuffle-free input the estimate starts exactly one Spark job (no
    checkpoint, no aggregate jobs)."""
    import uuid

    from ksml_spark.operators import dedup

    sc = spark.sparkContext
    jobs = []
    estimate = dedup._index_estimate

    def counted(*args):
        group = f"test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            return estimate(*args)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    monkeypatch.setattr(dedup, "_index_estimate", counted)
    df = spark.createDataFrame(
        [(i, f"alpha beta gamma {i % 7}", "en" if i % 2 else "de")
         for i in range(100)],
        "doc_id long, text string, lang string")
    pipe(["stream", df, {"key": "doc_id"}],
         ["jaccard-pairs", {"block": "lang", "threshold": 0.5}], spark=spark)
    assert jobs == [1]


def test_frame_sample_stride_and_cap(spark, tables):
    out = pipe(
        docs_stream(tables),
        ["binarize", {"col": "text", "as": "payload"}],
        ["frame-sample", {"col": "payload", "id": "doc_id",
                          "frame_bytes": 100, "every": 2, "max_frames": 3}],
        spark=spark,
    ).df
    texts = {r["doc_id"]: r["text"].encode() for r in tables["documents"].collect()}
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], {})[r["frame_idx"]] = bytes(r["frame"])
    assert set(got) == set(texts)
    for d, frames in got.items():
        b = texts[d]
        import math

        n = max(math.ceil(len(b) / 100), 1)
        expect_idx = list(range(0, n, 2))[:3]
        assert sorted(frames) == expect_idx
        for i in expect_idx:
            assert frames[i] == b[i * 100: i * 100 + 100]
    # plan stays Python-free
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "EvalPython" not in plan


def test_repetition_score_values(spark):
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z"), (3, "")],
        "doc_id long, text string",
    )
    out = pipe(["stream", df, {"key": "doc_id"}],
               ["repetition-score", {"col": "text"}], spark=spark).df
    got = {r["doc_id"]: (r["n_words"], r["n_distinct_words"],
                         round(r["dup_word_ratio"], 6), round(r["top_word_ratio"], 6))
           for r in out.collect()}
    assert got[1] == (4, 2, 0.5, 0.75)
    assert got[2] == (3, 3, 0.0, round(1 / 3, 6))
    assert got[3] == (0, 0, 0.0, 0.0)


def test_scrub_redacts_urls_and_emails(spark):
    df = spark.createDataFrame(
        [(1, "see https://a.b/c?d=1 or mail j.doe+x@corp.example.org now 10.0.0.1")],
        "doc_id long, text string",
    )
    out = pipe(["stream", df, {"key": "doc_id"}],
               ["scrub", {"col": "text", "patterns": ["url", "email", "ipv4"],
                          "replacement": "<X>"}], spark=spark).df
    assert out.collect()[0]["text"] == "see <X> or mail <X> now <X>"


def test_sample_hash_deterministic_and_nested(spark, tables):
    def keep(frac, salt="s1"):
        out = pipe(docs_stream(tables),
                   ["sample-hash", {"id": "doc_id", "salt": salt, "fraction": frac}],
                   spark=spark).df
        return {r["doc_id"] for r in out.select("doc_id").collect()}

    a = keep(0.3)
    assert a == keep(0.3)              # reproducible
    assert a < keep(0.6)               # nested: smaller frac is a strict subset
    assert keep(1.0) == {r["doc_id"] for r in tables["documents"].collect()}
    assert keep(0.0) == set()
    assert keep(0.3, salt="other") != a  # salt re-draws


def test_sample_hash_stratified_fractions(spark, tables):
    out = pipe(docs_stream(tables),
               ["sample-hash", {"id": "doc_id", "salt": "s1", "by": "lang",
                                "fractions": {"en": 1.0, "de": 0.0}}],
               spark=spark).df
    langs = {r["lang"] for r in out.select("lang").collect()}
    assert "en" in langs and "de" not in langs
    # no "*": unlisted languages dropped
    assert langs == {"en"}


def test_vec_quantize_roundtrip_error_bound(spark, tables):
    """q * scale must reconstruct each coordinate within scale/2 (the
    half-step bound of round-half-up), and ANN on dequantized vectors
    recalls the exact top-1 for most queries."""
    out = pipe(
        ["stream", tables["embeddings"], {"key": "vec_id"}],
        ["vec-quantize", {"vec": "embedding", "dim": 64}],
        spark=spark,
    ).df
    rows = out.select("vec_id", "embedding", "q", "q_scale").limit(50).collect()
    for r in rows:
        s = r["q_scale"]
        assert all(-127 <= qi <= 127 for qi in r["q"])
        if s == 0:
            assert all(qi == 0 for qi in r["q"])
            continue
        for x, qi in zip(r["embedding"], r["q"]):
            assert abs(qi * s - x) <= s / 2 + 1e-12


@pytest.mark.slow
def test_kmeans_centroids_recovers_blobs(spark):
    """Three well-separated blobs: refined centroids land on the blob
    means and each blob maps to one cluster."""
    import numpy as np

    rng = np.random.RandomState(7)
    blobs = {0: [5.0, 0.0, 0.0], 1: [0.0, 5.0, 0.0], 2: [0.0, 0.0, 5.0]}
    rows = []
    vid = 0
    for b, center in blobs.items():
        for _ in range(30):
            v = (np.array(center) + rng.normal(0, 0.2, 3)).tolist()
            rows.append((vid, v))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ksml(
        ["kmeans-centroids", ["stream", df, {"key": "vec_id"}],
         {"id": "vec_id", "vec": "embedding", "dim": 3,
          "init": "vec_id % 31 = 0", "iters": 6}],
        spark=spark,
    ).df
    cents = out.collect()
    # empty clusters drop; the survivors must cover all three blobs
    assert sum(r["n"] for r in cents) == 90
    dominant = []
    for r in cents:
        c = np.array(r["centroid"])
        d = min(blobs, key=lambda b: np.linalg.norm(c / np.linalg.norm(c)
                                                    - np.array(blobs[b]) / 5.0))
        dominant.append(d)
    assert set(dominant) == {0, 1, 2}


def test_kmeans_centroids_max_k_guard_and_degenerate_init(spark):
    """The centroid set is bounded driver state: an init filter matching
    more than max_k rows is a curated error (never a corpus-sized
    collect), and an all-degenerate init (zero-norm vectors) yields an
    empty result instead of NULL pseudo-clusters."""
    from ksml_spark.errors import ArityError

    df = spark.createDataFrame(
        [(i, [float(i + 1), 1.0]) for i in range(40)] + [(99, [0.0, 0.0])],
        "vec_id long, embedding array<double>")
    with pytest.raises(ArityError, match="more than max_k=8"):
        ksml(["kmeans-centroids", ["stream", df, {"key": "vec_id"}],
              {"id": "vec_id", "vec": "embedding", "dim": 2,
               "init": "vec_id < 40", "max_k": 8}], spark=spark)
    out = ksml(["kmeans-centroids", ["stream", df, {"key": "vec_id"}],
                {"id": "vec_id", "vec": "embedding", "dim": 2,
                 "init": "vec_id = 99", "iters": 2}], spark=spark).df
    assert out.collect() == []


def test_kmeans_centroids_nonfinite_vectors_assign_nowhere(spark):
    """A NaN/Inf component would make the argmax pick arbitrarily and
    poison that cluster's mean; such vectors must be excluded from
    assignment like zero-norm vectors, leaving the finite points'
    centroids exact."""
    rows = (
        [(i, [10.0, 0.0]) for i in range(5)]
        + [(i, [0.0, 10.0]) for i in range(5, 10)]
        + [(100, [float("nan"), 1.0]), (101, [float("inf"), 1.0])]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ksml(["kmeans-centroids", ["stream", df, {"key": "vec_id"}],
                {"id": "vec_id", "vec": "embedding", "dim": 2,
                 "init": "vec_id in (0, 5)", "iters": 3}], spark=spark).df
    cents = {r["cluster"]: (r["centroid"], r["n"]) for r in out.collect()}
    # only the 10 finite points are assigned; means are exact
    assert cents[0] == ([10.0, 0.0], 5)
    assert cents[5] == ([0.0, 10.0], 5)


def test_kmeans_centroids_epsilon_early_exit(spark):
    """r17: {'epsilon': e} stops Lloyd when K is stable and every
    centroid moved <= e in L2 — a converged corpus stops paying full
    corpus scans. With a huge epsilon the loop exits after round 1, so
    the result must equal iters=1 exactly (same assignments, same
    counts, same means up to float-order); with epsilon absent the
    behavior is unchanged (the registry row's contract)."""
    import numpy as np

    rng = np.random.RandomState(11)
    rows = [(i, (np.array([5.0, 0, 0] if i % 2 else [0, 5.0, 0])
                 + rng.normal(0, 0.1, 3)).tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run(**kw):
        out = ksml(["kmeans-centroids", ["stream", df, {"key": "vec_id"}],
                    {"id": "vec_id", "vec": "embedding", "dim": 3,
                     "init": "vec_id in (0, 1)", **kw}], spark=spark).df
        return {r["cluster"]: (r["n"], tuple(round(x, 9) for x in r["centroid"]))
                for r in out.collect()}

    one = run(iters=1)
    eager = run(iters=6, epsilon=1e9)
    assert eager == one  # exited after the first round
    # epsilon=0 (exact fixpoint) still converges on this separable
    # corpus within 6 rounds and matches the no-epsilon run
    assert run(iters=6, epsilon=0.0) == run(iters=6)
    from ksml_spark.errors import ArityError
    with pytest.raises(ArityError, match="epsilon must be >= 0"):
        run(iters=2, epsilon=-0.5)


def test_kmeans_refined_ivf_sse_not_worse(spark, tables):
    """Lloyd iterations must not increase within-cluster cosine
    dissimilarity vs the raw sampled centroids (descent property)."""
    import numpy as np

    emb = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in tables["embeddings"].collect()}

    def sse(cent_rows):
        cents = {r["cluster"]: np.array(r["centroid"], dtype=np.float64)
                 for r in cent_rows}
        total = 0.0
        for v in emb.values():
            best = max(
                cents.values(),
                key=lambda c: float(v @ c) / (np.linalg.norm(v) * np.linalg.norm(c)),
            )
            total += 1.0 - float(v @ best) / (np.linalg.norm(v) * np.linalg.norm(best))
        return total

    def run(iters):
        return ksml(
            ["kmeans-centroids", ["stream", tables["embeddings"], {"key": "vec_id"}],
             {"id": "vec_id", "vec": "embedding", "dim": 64,
              "init": "vec_id % 127 = 3", "iters": iters}],
            spark=spark,
        ).df.collect()

    assert sse(run(4)) <= sse(run(0)) + 1e-9


@pytest.mark.slow
def test_quantized_ann_recall(spark, tables):
    """ANN over int8-dequantized vectors: top-1 must match exact for every
    query and top-3 overlap stay high (measured 10/10 and 0.97 on this
    dataset; thresholds leave slack for float noise)."""
    deq = pipe(
        ["stream", tables["embeddings"], {"key": "vec_id"}],
        ["vec-quantize", {"vec": "embedding", "dim": 64}],
        ["select", {"vec_id": "vec_id",
                    "embedding": "transform(q, x -> x * q_scale)"}],
        spark=spark)
    qtop = ksml(["ann-topk", deq, {"id": "vec_id", "vec": "embedding", "k": 3,
                                   "dim": 64, "queries": "vec_id % 50 = 0"}],
                spark=spark).df
    etop = ksml(["ann-topk", ["stream", tables["embeddings"], {"key": "vec_id"}],
                 {"id": "vec_id", "vec": "embedding", "k": 3, "dim": 64,
                  "queries": "vec_id % 50 = 0"}], spark=spark).df

    def tops(df):
        d = {}
        for r in df.collect():
            d.setdefault(r["q_id"], {})[r["rank"]] = r["n_id"]
        return d

    q, e = tops(qtop), tops(etop)
    assert len(q) == len(e) > 0
    top1 = sum(1 for k in e if q[k][1] == e[k][1])
    assert top1 >= len(e) - 1
    overlap = sum(len(set(q[k].values()) & set(e[k].values())) for k in e) / (3 * len(e))
    assert overlap >= 0.85


@pytest.mark.slow
def test_ngrams_values_and_determinism(spark):
    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x"), (3, "solo")],
        "doc_id long, text string",
    )
    out = pipe(["stream", df, {"key": "doc_id"}],
               ["ngrams", {"col": "text", "n": 2, "top": 3}], spark=spark).df
    rows = [(r["ngram"], r["count"]) for r in out.collect()]
    # "a b": doc1 twice + doc2 once = 3; then ties broken by ngram asc
    assert rows == [("a b", 3), ("b a", 1), ("b c", 1)]
    # a doc with < n words contributes nothing ("solo" absent)
    full = pipe(["stream", df, {"key": "doc_id"}],
                ["ngrams", {"col": "text", "n": 2}], spark=spark).df
    assert "solo" not in {r["ngram"] for r in full.collect()}


def test_decontaminate_finds_planted_overlap(spark):
    """Corpus docs sharing >= min_shared distinct 3-grams with the
    benchmark set are flagged with the exact shared-gram count;
    sub-threshold and disjoint docs are not."""
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         # shares exactly two distinct 3-grams with bench doc 100
         (2, "a b c d x y z zz a b c d"),
         # one shared 3-gram only: below min_shared=2
         (3, "x y z completely different words here"),
         (4, "nothing in common at all with anything")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "a b c d q r s"), (200, "the quick brown fox stops")],
        "doc_id long, text string")
    out = ksml(["decontaminate",
                ["stream", corpus, {"key": "doc_id"}],
                ["stream", bench, {"key": "doc_id"}],
                {"n": 3, "min_shared": 2}], spark=spark)
    got = {(r["corpus_id"], r["bench_id"]): r["n_shared"] for r in out.df.collect()}
    # doc 1 x bench 200: "the quick brown" + "quick brown fox" = 2
    # doc 2 x bench 100: "a b c" + "b c d" = 2 (distinct, despite repeat)
    assert got == {(1, 200): 2, (2, 100): 2}, got


def test_decontaminate_anti_join_composes(spark):
    """The advertised removal composition: anti-join the corpus against
    the contamination pairs' corpus ids."""
    corpus = spark.createDataFrame(
        [(1, "shared phrase alpha beta gamma"), (2, "clean text stays here")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(9, "shared phrase alpha beta gamma delta")], "doc_id long, text string")
    pairs = ksml(["decontaminate",
                  ["stream", corpus, {"key": "doc_id"}],
                  ["stream", bench, {"key": "doc_id"}],
                  {"n": 3, "min_shared": 1}], spark=spark)
    leaked = pipe(
        ["select", pairs, {"doc_id": "corpus_id"}],
        ["select-key", ["key-value-mapper", {"doc_id": "doc_id"}]],
        spark=spark)
    clean = ksml(["anti-join", ["stream", corpus, {"key": "doc_id"}], leaked],
                 spark=spark)
    assert [r["doc_id"] for r in clean.df.collect()] == [2]


def test_pack_chunks_matches_global_cumsum(spark):
    """Two-level prefix sum == the straight global cumsum, for any
    bucket_size, including docs spanning bucket and budget boundaries."""
    rows = [(i, 10 + (i * 7) % 13) for i in range(50)]  # varied token counts
    df = spark.createDataFrame(rows, "doc_id long, n long")
    want, start = {}, 0
    for i, n in rows:
        want[i] = (start // 16, start % 16)
        start += n
    for bucket_size in (1, 4, 7, 1000):
        out = ksml(["pack-chunks", ["stream", df, {"key": "doc_id"}],
                    {"tokens": "n", "order": "doc_id", "budget": 16,
                     "bucket_size": bucket_size}], spark=spark)
        got = {r["doc_id"]: (r["chunk"], r["offset"]) for r in out.df.collect()}
        assert got == want, bucket_size


def test_pack_chunks_big_window_is_partitioned(spark):
    """The corpus-side cumsum window must be partitioned by bucket (the
    only single-partition window runs on the tiny bucket relation)."""
    df = spark.range(100).selectExpr("id as doc_id", "id % 7 as n")
    out = ksml(["pack-chunks", ["stream", df, {"key": "doc_id"}],
                {"tokens": "n", "order": "doc_id", "budget": 16,
                 "bucket_size": 10}], spark=spark)
    p = out.df._jdf.queryExecution().executedPlan().toString()
    big, carry = None, None
    for ln in p.splitlines():
        if "sum(n#" in ln and "windowspecdefinition" in ln:
            big = ln
        if "sum(__tot" in ln and "windowspecdefinition" in ln:
            carry = ln
    assert big is not None and "__bkt" in big.split("windowspecdefinition")[1][:20]
    # the only unpartitioned (single-node) window is the tiny carry one
    assert carry is not None and "ASC" in carry.split("windowspecdefinition")[1][:40]


def test_dedup_paragraphs_keeps_first_occurrence_in_order(spark):
    docs = spark.createDataFrame(
        [(1, "intro\n\nbody A\n\nintro\n\nbody B\n\nbody A", "en"),
         (2, "only one paragraph", "de"),
         (3, "x\n\n\n\nx\n\n  x  ", "en"),   # empties + whitespace variants
         (4, "", "fr")],                      # empty doc survives as empty
        "doc_id long, text string, lang string")
    out = ksml(["dedup-paragraphs", ["stream", docs, {"key": "doc_id"}],
                {"col": "text", "id": "doc_id"}], spark=spark)
    got = {r["doc_id"]: (r["text"], r["lang"]) for r in out.df.collect()}
    assert got[1] == ("intro\n\nbody A\n\nbody B", "en")
    assert got[2] == ("only one paragraph", "de")
    assert got[3] == ("x", "en")
    assert got[4] == ("", "fr")
    assert len(got) == 4


def test_expect_contract_report(spark):
    df = spark.createDataFrame(
        [(1, "a", "en"), (2, None, "de"), (2, "c", "xx"), (4, "d", None)],
        "doc_id long, text string, lang string")
    out = ksml(["expect", ["stream", df, {"key": "doc_id"}],
                {"not_null": ["text", "lang"], "unique": ["doc_id"],
                 "accepted": {"lang": ["en", "de"]}, "min_rows": 10}],
               spark=spark)
    got = {r["constraint"]: (r["violations"], r["ok"]) for r in out.df.collect()}
    assert got == {
        "not_null(text)": (1, False),
        "not_null(lang)": (1, False),
        "unique(doc_id)": (1, False),     # 4 rows, 3 distinct ids
        "accepted(lang)": (2, False),     # 'xx' and NULL
        "min_rows(10)": (6, False),       # 4 rows, shortfall 6
    }, got
    clean = ksml(["expect", ["stream", df.filter("doc_id = 1"), {"key": "doc_id"}],
                  {"not_null": ["text"], "unique": ["doc_id"], "min_rows": 1}],
                 spark=spark)
    assert all(r["ok"] for r in clean.df.collect())


def test_histogram_bins_clamp_and_skip_nulls(spark):
    df = spark.createDataFrame(
        [(x,) for x in [-5.0, 0.0, 9.99, 10.0, 25.0, 99.0, 100.0, 250.0]]
        + [(None,)], "v double")
    out = ksml(["histogram", ["stream", df, {}],
                {"col": "v", "bins": 10, "min": 0, "max": 100}], spark=spark)
    got = {r["bin"]: (r["lo"], r["hi"], r["count"]) for r in out.df.collect()}
    assert got == {
        0: (0.0, 10.0, 3),    # -5 clamps up, 0.0 and 9.99 in range
        1: (10.0, 20.0, 1),
        2: (20.0, 30.0, 1),
        9: (90.0, 100.0, 3),  # 99 in range; 100 and 250 clamp down
    }, got


def test_expect_matches_and_between(spark):
    df = spark.createDataFrame(
        [(1, "ab12", 5.0), (2, "XY", 50.0), (3, None, -1.0), (4, "cd34", None)],
        "id long, code string, score double")
    out = ksml(["expect", ["stream", df, {"key": "id"}],
                {"matches": {"code": "[a-z]{2}[0-9]{2}"},
                 "between": {"score": [0, 10]}}], spark=spark)
    got = {r["constraint"]: (r["violations"], r["ok"]) for r in out.df.collect()}
    assert got == {
        "matches(code)": (1, False),   # 'XY'; NULL not counted here
        "between(score)": (2, False),  # 50.0 and -1.0; NULL skipped
    }, got


def test_dedup_paragraphs_preserves_null_text(spark):
    """NULL input text stays NULL (SQL semantics, matches the DuckDB
    oracle) — it must not be coerced to '' by the id-recovery join."""
    docs = spark.createDataFrame(
        [(1, "a\n\na", "en"), (2, None, "de"), (3, "", "fr")],
        "doc_id long, text string, lang string")
    out = ksml(["dedup-paragraphs", ["stream", docs, {"key": "doc_id"}],
                {"col": "text", "id": "doc_id"}], spark=spark)
    got = {r["doc_id"]: r["text"] for r in out.df.collect()}
    assert got == {1: "a", 2: None, 3: ""}, got


def test_expect_empty_spec_error_lists_every_constraint_kind(spark):
    from ksml_spark.errors import ArityError

    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ArityError) as ei:
        ksml(["expect", ["stream", df, {"key": "doc_id"}], {}], spark=spark)
    msg = str(ei.value)
    for kind in ("not_null", "unique", "accepted", "matches", "between",
                 "min_rows"):
        assert kind in msg, (kind, msg)


def test_kmeans_assign_string_ids_ties_and_zero_norm(spark):
    """String centroid ids work (tie-break no longer negates the id);
    ties go to the smallest id; zero-norm vectors get (NULL, NULL)
    instead of an ANSI DIVIDE_BY_ZERO job failure."""
    rows = [
        ("c_b", [1.0, 0.0]), ("c_a", [1.0, 0.0]),   # identical centroids -> tie
        ("v1", [2.0, 0.0]),                          # sim 1.0 to both
        ("v2", [0.0, 3.0]),                          # orthogonal: sim 0.0 tie
        ("vz", [0.0, 0.0]),                          # zero-norm vector
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    out = ksml(["kmeans-assign", ["stream", df, {"key": "vec_id"}],
                {"id": "vec_id", "vec": "embedding", "dim": 2,
                 "centroids": "vec_id like 'c%'"}], spark=spark)
    got = {r["vec_id"]: (r["cluster"], r["sim"]) for r in out.df.collect()}
    assert got["v1"] == ("c_a", 1.0)
    assert got["v2"] == ("c_a", 0.0)
    assert got["vz"] == (None, None)
    # centroids assign to themselves (sim 1.0, smallest id on the tie)
    assert got["c_a"] == ("c_a", 1.0) and got["c_b"] == ("c_a", 1.0)


def test_kmeans_assign_blas_impl_bit_matches_expr(spark):
    """r12 BLAS assignment (K >= the cutover): BLAS matmul argmax + near-tie
    sequential re-decision + picked-centroid codegen sim must equal the
    expr crossJoin plan BIT-FOR-BIT — on exact centroid ties (smallest
    id), near-tie centroids (1e-13 apart), and every degenerate row
    class (NULL / zero-norm / NaN / short / long vectors)."""
    rows = [
        ("c_b", [1.0, 0.0, 0.0, 0.0]),          # exact duplicate of c_a
        ("c_a", [1.0, 0.0, 0.0, 0.0]),
        ("c_n", [1.0, 1e-13, 0.0, 0.0]),        # near-tie vs c_a/c_b
        ("c_y", [0.0, 1.0, 0.0, 0.0]),
        ("v1", [2.0, 0.0, 0.0, 0.0]),           # ties c_a/c_b, near c_n
        ("v2", [0.5, 0.5, 0.0, 0.0]),
        ("v3", [0.0, 3.0, 0.0, 0.0]),
        ("v4", [1.0, 1e-10, 0.0, 0.0]),         # inside the 1e-9 gap
        ("vnull", None),
        ("vzero", [0.0, 0.0, 0.0, 0.0]),
        ("vnan", [1.0, float("nan"), 0.0, 0.0]),
        ("vshort", [1.0, 2.0]),                  # NULL on both impls (r13
                                                 # F.get; getItem ABORTED)
        ("vlong", [0.0, 1.0, 0.0, 0.0, 9.0, 9.0]),  # truncates to dim
    ] + [(f"w{i:02d}", [1.0, i / 7.0, (i % 3) / 2.0, 0.1]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")

    def run(path, extra=None):
        with _assign_path(path):
            out = ksml(["kmeans-assign", ["stream", df, {"key": "vec_id"}],
                        dict({"id": "vec_id", "vec": "embedding", "dim": 4,
                              "centroids": "vec_id like 'c%'"}, **(extra or {}))],
                       spark=spark)
            return {r["vec_id"]: (r["cluster"], repr(r["sim"]))
                    for r in out.df.collect()}

    expr, blas = run("expr"), run("blas")
    assert expr == blas
    assert expr["v1"][0] == "c_a"            # exact tie -> smallest id
    assert expr["vnull"] == (None, "None")
    assert expr["vzero"] == (None, "None")
    assert expr["vnan"] == (None, "None")
    assert expr["vshort"] == (None, "None")
    assert expr["vlong"][0] == "c_y"         # truncation matches expr

    from ksml_spark.errors import ArityError

    with pytest.raises(ArityError, match="'assign_impl' was removed"):
        run("blas", {"assign_impl": "blas"})
    # without a fixed 'dim' there is no matmul: the cutover keeps expr
    no_dim = ksml(["kmeans-assign", ["stream", df, {"key": "vec_id"}],
                   {"id": "vec_id", "vec": "embedding",
                    "centroids": "vec_id like 'c%'"}], spark=spark)
    with _assign_path("blas"):
        no_dim_blas = ksml(["kmeans-assign", ["stream", df, {"key": "vec_id"}],
                            {"id": "vec_id", "vec": "embedding",
                             "centroids": "vec_id like 'c%'"}], spark=spark)
    assert sorted(no_dim.df.collect()) == sorted(no_dim_blas.df.collect())
    with pytest.raises(ArityError, match="more than max_k"):
        ksml(["kmeans-assign", ["stream", df, {"key": "vec_id"}],
              {"id": "vec_id", "vec": "embedding", "dim": 4,
               "centroids": "vec_id like 'c%'", "max_k": 2}], spark=spark)


@pytest.mark.slow
def test_ann_ivf_blas_impl_matches_expr_and_auto_cutover(spark):
    """r12: ann-ivf-topk on the BLAS assignment returns the exact
    expr-plan result (same probes, same candidates, same ranked sims);
    the default cutover picks blas at K >= 257 and stays identical
    too."""
    rows = [(i, [1.0 + (i % 17) / 7.0, (i % 5) / 3.0,
                 (i % 11) / 9.0, 0.25]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    form = {"id": "vec_id", "vec": "embedding", "k": 3, "dim": 4,
            "queries": "vec_id % 40 = 0", "centroids": "vec_id % 29 = 1",
            "nprobe": 2}

    def run(extra, path=None):
        def go():
            out = ksml(["ann-ivf-topk", ["stream", df, {"key": "vec_id"}],
                        dict(form, **extra)], spark=spark)
            return {(r["q_id"], r["rank"]): (r["n_id"], repr(r["sim"]))
                    for r in out.df.collect()}

        if path is None:
            return go()
        with _assign_path(path):
            return go()

    expr = run({}, "expr")
    assert expr == run({}, "blas")
    # default cutover: 300 centroids >= 257 -> blas; still identical
    # (the structured vectors repeat every lcm(17,5,11) ids, so the
    # centroid set contains exact duplicates — probe-boundary ties are
    # exercised, not just clean gaps)
    dense = {"centroids": "vec_id % 4 != 3"}  # 300 of 400
    assert run(dense, "expr") == run(dense)


def test_ann_ivf_blas_matches_expr_fast(spark):
    """Fast-tier smoke of test_ann_ivf_blas_impl_matches_expr_and_auto_
    cutover: with the K cutover moved, the BLAS assignment and probe
    return the expr plan's ranked neighbours exactly on 6 vectors,
    including an exact centroid tie."""
    rows = [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]),
            (3, [0.6, 0.8, 0.0]), (4, [0.1, 0.2, 0.9]), (5, [0.7, 0.1, 0.2])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    form = {"id": "vec_id", "vec": "embedding", "k": 2, "dim": 3,
            "queries": "vec_id in (3, 5)", "centroids": "vec_id in (0, 1, 2)",
            "nprobe": 1}

    def run(path):
        with _assign_path(path):
            out = ksml(["ann-ivf-topk", ["stream", df, {"key": "vec_id"}],
                        form], spark=spark)
            return sorted((r["q_id"], r["rank"], r["n_id"], repr(r["sim"]))
                          for r in out.df.collect())

    expr = run("expr")
    assert expr and expr == run("blas")


def test_ann_ivf_degenerate_centroids_rank_last_not_hijack(spark):
    """r12 probe-branch fix: a zero-norm centroid used to fail the job
    (ANSI DIVIDE_BY_ZERO in the raw probe cosine) and a NaN centroid
    ranked FIRST for every query under Spark's NaN ordering, hijacking
    all probes. Guarded sims rank them last; results on both impls
    equal the clean-centroid-set answer."""
    rows = [(i, [1.0 + (i % 7) / 3.0, (i % 4) / 2.0]) for i in range(40)]
    # ids chosen OFF the queries filter (%10) and the clean centroid
    # set (%3=1): degenerate QUERIES are outside the envelope (their
    # pair cosine divides by a zero norm on every plan)
    bad = [(104, [0.0, 0.0]), (107, [float("nan"), 1.0])]
    clean = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    dirty = spark.createDataFrame(rows + bad,
                                  "vec_id long, embedding array<double>")
    form = {"id": "vec_id", "vec": "embedding", "k": 2, "dim": 2,
            "queries": "vec_id % 10 = 0", "nprobe": 2}

    def run(df, cond, path):
        with _assign_path(path):
            out = ksml(["ann-ivf-topk", ["stream", df, {"key": "vec_id"}],
                        dict(form, centroids=cond)], spark=spark)
            return sorted((r["q_id"], r["rank"], r["n_id"], repr(r["sim"]))
                          for r in out.df.collect())

    base = run(clean, "vec_id % 3 = 1", "expr")
    assert base
    # degenerate centroids added to the SET: never assigned, never
    # probed -> identical results, no crash, on both impls
    assert run(dirty, "vec_id % 3 = 1 or vec_id >= 104", "expr") == base
    assert run(dirty, "vec_id % 3 = 1 or vec_id >= 104", "blas") == base


@pytest.mark.slow
def test_centroid_relation_operand_matches_filter_and_composes(spark):
    """r12: kmeans-assign / ann-ivf-topk / semdedup accept a centroid
    RELATION operand. Contracts: (1) a relation holding exactly the
    filter's rows is bit-identical to the filter path; (2) the
    kmeans-centroids -> ann-ivf / semdedup / assign composition runs
    end-to-end (the docstrings' 'refinement drops in' promise);
    (3) kmeans-centroids warm-starts from a prior run's output;
    (4) curated errors: both-given, missing columns, streaming."""
    rows = [(i, [1.0 + (i % 9) / 4.0, (i % 5) / 3.0, 0.2]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = ["stream", df, {"key": "vec_id"}]
    flt = "vec_id % 7 = 1"
    # a relation with exactly the filter's rows, in kmeans-centroids'
    # (cluster, centroid) column shape
    cents_tbl = ksml(["select", src,
                      {"cluster": "vec_id", "centroid": "embedding"}],
                     spark=spark)
    cents_tbl = ksml(["where", cents_tbl, flt.replace("vec_id", "cluster")],
                     spark=spark)

    def assign(*ops):
        out = ksml(["kmeans-assign", src, *ops], spark=spark)
        return sorted((r["vec_id"], r["cluster"], repr(r["sim"]))
                      for r in out.df.collect())

    base_form = {"id": "vec_id", "vec": "embedding", "dim": 3}
    assert assign(dict(base_form, centroids=flt)) == \
        assign(cents_tbl, base_form)                      # (1) bit-parity

    km = ksml(["kmeans-centroids", src,
               {"id": "vec_id", "vec": "embedding", "dim": 3,
                "init": flt, "iters": 2}], spark=spark)
    # (2) refined centroids drop into all three consumers
    ivf = ksml(["ann-ivf-topk", src, km,
                {"id": "vec_id", "vec": "embedding", "k": 2, "dim": 3,
                 "queries": "vec_id % 20 = 0", "nprobe": 1}], spark=spark)
    got = ivf.df.collect()
    assert got and all(r["rank"] <= 2 for r in got)
    sd = ksml(["semdedup", src, km,
               {"id": "vec_id", "vec": "embedding", "dim": 3,
                "threshold": 0.999}], spark=spark)
    sdrows = sd.df.collect()
    assert len(sdrows) == 60 and any(r["keep"] is False for r in sdrows)
    asg = ksml(["kmeans-assign", src, km, base_form], spark=spark)
    km_ids = {r["cluster"] for r in km.df.collect()}
    assert {r["cluster"] for r in asg.df.collect()} <= km_ids
    # (3) warm start from the prior run's output
    km2 = ksml(["kmeans-centroids", src, km,
                {"id": "vec_id", "vec": "embedding", "dim": 3,
                 "iters": 1}], spark=spark)
    n2 = km2.df.collect()
    assert n2 and sum(r["n"] for r in n2) == 60 and len(n2) <= len(km_ids)

    from ksml_spark.errors import ArityError

    with pytest.raises(ArityError, match="not both"):
        ksml(["kmeans-assign", src, km, dict(base_form, centroids=flt)],
             spark=spark)
    with pytest.raises(ArityError, match="missing column"):
        ksml(["kmeans-assign", src, ksml(["select", src,
              {"cid": "vec_id"}], spark=spark), base_form], spark=spark)


def test_semdedup_noncascading_triangular_rule(spark):
    """SemDeDup's keep rule, pinned on a hand-built 2-D chain: rank by
    (sim-to-centroid ASC, id), a member is a duplicate iff SOME
    earlier-ranked cluster-mate reaches the threshold — and suppression
    must NOT cascade (c drops via b even though b itself dropped)."""
    import math

    def unit(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]

    rows = [
        ("c0", unit(0)),   # the sampled centroid; sim 1.0 -> ranks last
        ("va", unit(80)),  # sim .17 -> rank 1 (least prototypical, kept)
        ("vb", unit(60)),  # sim .50 -> rank 2; cos(va,vb)=cos20 ~ .94 -> dup
        ("vc", unit(40)),  # sim .77 -> rank 3; cos(vb,vc)~.94 dup via the
                           # ALREADY-SUPPRESSED vb (cos(va,vc)~.77 < .9)
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    out = ksml(["semdedup", ["stream", df, {"key": "vec_id"}],
                {"id": "vec_id", "vec": "embedding", "dim": 2,
                 "centroids": "vec_id = 'c0'", "threshold": 0.9}], spark=spark)
    got = {r["vec_id"]: r["keep"] for r in out.df.collect()}
    assert got == {"va": True, "vb": False, "vc": False, "c0": True}

    # action=filter returns only the keep rows
    kept = ksml(["semdedup", ["stream", df, {"key": "vec_id"}],
                 {"id": "vec_id", "vec": "embedding", "dim": 2,
                  "centroids": "vec_id = 'c0'", "threshold": 0.9,
                  "action": "filter"}], spark=spark)
    assert {r["vec_id"] for r in kept.df.collect()} == {"va", "c0"}


def test_semdedup_threshold_inclusive_zero_norm_and_errors(spark):
    """cos == threshold counts as duplicate (>=, exact at 1.0 for an
    identical integer-coordinate pair); zero-norm vectors pass through
    (cluster NULL, keep NULL) in annotate and DROP under filter; a bad
    action and a streaming input surface curated errors."""
    import pytest

    from ksml_spark.errors import ArityError

    rows = [
        ("c0", [1.0, 0.0]),
        ("v1", [3.0, 4.0]),   # identical pair: cos exactly 1.0
        ("v2", [3.0, 4.0]),
        ("vz", [0.0, 0.0]),   # zero-norm: unassignable
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    form = {"id": "vec_id", "vec": "embedding", "dim": 2,
            "centroids": "vec_id = 'c0'", "threshold": 1.0}
    out = ksml(["semdedup", ["stream", df, {"key": "vec_id"}], form],
               spark=spark)
    got = {r["vec_id"]: (r["cluster"], r["keep"]) for r in out.df.collect()}
    # v1/v2 tie on sim-to-centroid -> id ASC ranks v1 first; v2 drops
    assert got["v1"] == ("c0", True) and got["v2"] == ("c0", False)
    assert got["vz"] == (None, None)
    kept = ksml(["semdedup", ["stream", df, {"key": "vec_id"}],
                 dict(form, action="filter")], spark=spark)
    assert {r["vec_id"] for r in kept.df.collect()} == {"c0", "v1"}

    with pytest.raises(ArityError, match="annotate.*filter"):
        ksml(["semdedup", ["stream", df, {"key": "vec_id"}],
              dict(form, action="purge")], spark=spark)
    # the missing-centroids error must name THIS op, not the delegated
    # kmeans-assign rule
    with pytest.raises(ArityError, match="semdedup needs.*centroids"):
        ksml(["semdedup", ["stream", df, {"key": "vec_id"}],
              {"id": "vec_id", "vec": "embedding", "dim": 2}], spark=spark)
    # kmeans-centroids' retype opt-out must not un-curate its own
    # option parses: junk numerics still surface as a named ArityError
    with pytest.raises(ArityError, match="kmeans-centroids.*numeric"):
        ksml(["kmeans-centroids", ["stream", df, {"key": "vec_id"}],
              {"id": "vec_id", "vec": "embedding", "dim": "sixty-four",
               "init": "vec_id = 'c0'"}], spark=spark)


@pytest.mark.slow
def test_semdedup_oversized_cluster_guard(spark):
    """r10 VERDICT #3: a too-sparse centroids sample concentrating the
    corpus in one cluster must REFUSE with a curated error naming the
    levers (densify centroids / kmeans-centroids / the override) rather
    than silently absorbing O(c^2) pair work; raising or disabling
    max_cluster_pairs proceeds and decisions are unchanged."""
    import pytest

    from ksml_spark.errors import ArityError

    rows = [("c0", [1.0, 0.0])] + [
        (f"v{i}", [float(i % 7 + 1), float(i % 5)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    form = {"id": "vec_id", "vec": "embedding", "dim": 2,
            "centroids": "vec_id = 'c0'", "threshold": 0.99}
    # 41 members in one cluster -> 820 pairs > 100
    with pytest.raises(ArityError, match="centroids sample is too sparse"):
        ksml(["semdedup", ["stream", df, {"key": "vec_id"}],
              dict(form, max_cluster_pairs=100)], spark=spark)
    # the error names the levers and the measured cluster
    with pytest.raises(ArityError, match="max_cluster_pairs.*0 disables"):
        ksml(["semdedup", ["stream", df, {"key": "vec_id"}],
              dict(form, max_cluster_pairs=100)], spark=spark)
    with pytest.raises(ArityError, match="max_cluster_pairs must be a non-negative int"):
        ksml(["semdedup", ["stream", df, {"key": "vec_id"}],
              dict(form, max_cluster_pairs="lots")], spark=spark)

    def decisions(opts):
        out = ksml(["semdedup", ["stream", df, {"key": "vec_id"}],
                    dict(form, **opts)], spark=spark)
        return sorted((r["vec_id"], r["cluster"], r["keep"])
                      for r in out.df.collect())

    base = decisions({})                          # default 1e8: no refusal
    assert decisions({"max_cluster_pairs": 0}) == base      # disabled
    assert decisions({"max_cluster_pairs": 10**6}) == base  # raised


@pytest.mark.slow
def test_semdedup_hot_split_bounds_work_and_preserves_exact_dups(spark):
    """{'hot_split': m}: over-cap clusters sub-partition by a second
    nearest-centroid assignment. Contracts: (1) it completes where the
    guard would refuse; (2) the keep set is a SUPERSET of the unsplit
    decision (splitting can only miss pairs, never invent them);
    (3) EXACT duplicate pairs always share a sub-cluster and are still
    caught; (4) with no over-cap cluster, decisions are identical to
    the default path; (5) hot_split=1 / junk is a curated error."""
    import pytest

    from ksml_spark.errors import ArityError

    rnd_rows = [("c0", [1.0, 0.0, 0.0])] + [
        (f"v{i:02d}", [1.0, float(i % 9) / 4.0, float(i % 7) / 3.0])
        for i in range(40)
    ]
    # planted exact duplicates (identical vectors, distinct ids)
    rnd_rows += [("dupA1", [2.0, 1.0, 1.0]), ("dupA2", [2.0, 1.0, 1.0])]
    df = spark.createDataFrame(
        rnd_rows, "vec_id string, embedding array<double>")
    form = {"id": "vec_id", "vec": "embedding", "dim": 3,
            "centroids": "vec_id = 'c0'", "threshold": 0.995,
            "max_cluster_pairs": 100}  # 43 members -> 903 pairs, over cap

    def keeps(extra):
        out = ksml(["semdedup", ["stream", df, {"key": "vec_id"}],
                    dict(form, **extra)], spark=spark)
        return {r["vec_id"]: r["keep"] for r in out.df.collect()}

    with pytest.raises(ArityError, match="hot_split.*>= 2"):
        keeps({"hot_split": 1})
    with pytest.raises(ArityError, match="hot_split"):
        keeps({"hot_split": "many"})
    with pytest.raises(ArityError, match="too sparse"):
        keeps({})  # guard still refuses without the lever
    # cap disabled + split requested = contradictory (ADVICE r11): the
    # cap is the split's trigger, so the combo would silently do neither
    with pytest.raises(ArityError, match="combination does nothing"):
        keeps({"max_cluster_pairs": 0, "hot_split": 4})

    # post-split re-check (r12): this layout is degenerate — m=4
    # sub-centroids fail to spread the 43-member cluster under the
    # 100-pair cap — so the split completes but must WARN with the
    # levers instead of absorbing the quadratic work silently
    import warnings

    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        split = keeps({"hot_split": 4})
    assert any(
        issubclass(w.category, ResourceWarning)
        and "did not spread" in str(w.message)
        for w in rec
    ), [str(w.message) for w in rec]
    # ...and stays SILENT when the split does satisfy the cap: 800 still
    # triggers the split (903 estimated pairs) but the largest post-split
    # group (39 members = 741 pairs) now fits under it
    with warnings.catch_warnings(record=True) as rec2:
        warnings.simplefilter("always")
        keeps({"hot_split": 4, "max_cluster_pairs": 800})
    assert not any("did not spread" in str(w.message) for w in rec2)
    unsplit = keeps({"max_cluster_pairs": 0})
    assert set(split) == set(unsplit)
    kept_split = {k for k, v in split.items() if v}
    kept_unsplit = {k for k, v in unsplit.items() if v}
    assert kept_split >= kept_unsplit          # suppression only shrinks
    # exact duplicates share a sub-cluster: exactly one of the pair drops
    assert (split["dupA1"], split["dupA2"]) == (True, False)

    # no over-cap cluster: hot_split must not change anything
    easy = dict(form, max_cluster_pairs=10**6)
    assert keeps(dict(easy, hot_split=4)) == keeps(dict(easy))


def test_semdedup_nonfinite_vectors_flow_to_degenerate_branch(spark):
    """A NaN/Inf-component vector must behave exactly like a zero-norm
    one: cluster NULL + keep NULL in annotate mode, dropped under
    filter — never silently kept or dropped as a duplicate. Without the
    isnan guard in _centroid_sim, Spark's NaN ordering (NaN > 0 is
    TRUE) gave such a vector a real cluster whose NaN pair cosine
    satisfied >= threshold, silently deleting it; this pins the
    expression path to the same non-finite exclusion kmeans-centroids
    and semdedup-join apply in numpy."""
    rows = [
        ("c0", [1.0, 0.0]),
        ("v1", [3.0, 4.0]),
        ("vnan", [float("nan"), 1.0]),
        ("vinf", [float("inf"), 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    form = {"id": "vec_id", "vec": "embedding", "dim": 2,
            "centroids": "vec_id = 'c0'", "threshold": 0.9}  # cos(c0,v1)=0.6 < 0.9: both keep
    out = ksml(["semdedup", ["stream", df, {"key": "vec_id"}], form],
               spark=spark)
    got = {r["vec_id"]: (r["cluster"], r["keep"]) for r in out.df.collect()}
    assert got["vnan"] == (None, None)
    assert got["vinf"] == (None, None)
    assert got["c0"][1] is True and got["v1"][1] is True  # finite rows intact
    kept = ksml(["semdedup", ["stream", df, {"key": "vec_id"}],
                 dict(form, action="filter")], spark=spark)
    assert {r["vec_id"] for r in kept.df.collect()} == {"c0", "v1"}


def test_semdedup_streaming_refused_at_construction(spark, tmp_path):
    """Batch-only, inherited from kmeans-assign's closed-input contract:
    the refusal fires at CONSTRUCTION, not stream start."""
    import pytest

    from ksml_spark.errors import ArityError
    from ksml_spark.streaming.runtime import file_stream_source

    p = str(tmp_path / "vecs")
    spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    ).write.parquet(p)
    with pytest.raises(ArityError, match="batch-only"):
        ksml(["semdedup", ["stream", file_stream_source(spark, p),
                           {"key": "vec_id"}],
              {"id": "vec_id", "vec": "embedding", "dim": 2,
               "centroids": "vec_id = 1"}], spark=spark)


# ---------------------------------------------------------------------------
# semdedup-join: cross-corpus semantic dedup (new rows vs a reference corpus)

def _sdj_form(**over):
    base = {"id": "vec_id", "vec": "embedding", "dim": 2,
            "centroids": "vec_id like 'c%'", "threshold": 0.9}
    base.update(over)
    return base


def test_semdedup_join_reference_wins_no_left_suppression(spark):
    """Cross-corpus rule pinned on hand-built 2-D vectors: a left row
    drops iff SOME reference member of its cluster reaches the
    threshold — identical LEFT twins never suppress each other (both
    keep when the reference has no match, both drop when it does),
    unlike semdedup's within-corpus rank rule."""
    import math

    def unit(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]

    right = spark.createDataFrame(
        [("c0", unit(0)), ("r1", unit(10))],
        "vec_id string, embedding array<double>")
    left = spark.createDataFrame(
        [("la", unit(12)), ("lb", unit(12)),    # identical twins ~ r1
         ("lc", unit(70)), ("ld", unit(70)),    # identical twins, no ref match
         ("lz", [0.0, 0.0])],                   # degenerate
        "vec_id string, embedding array<double>")
    out = ksml(["semdedup-join", ["stream", left, {"key": "vec_id"}],
                ["stream", right, {"key": "vec_id"}], _sdj_form()],
               spark=spark)
    got = {r["vec_id"]: (r["cluster"], r["keep"]) for r in out.df.collect()}
    # la/lb both match reference r1 (cos 2 deg ~ .999) -> BOTH drop
    assert got["la"] == ("c0", False) and got["lb"] == ("c0", False)
    # lc/ld are mutual exact twins but no reference member is close
    # (cos 60..70 deg < .9) -> BOTH keep: no within-left suppression
    assert got["lc"] == ("c0", True) and got["ld"] == ("c0", True)
    assert got["lz"] == (None, None)

    kept = ksml(["semdedup-join", ["stream", left, {"key": "vec_id"}],
                 ["stream", right, {"key": "vec_id"}],
                 _sdj_form(action="filter")], spark=spark)
    # filter returns survivors only; degenerate rows drop with the dups
    assert {r["vec_id"] for r in kept.df.collect()} == {"lc", "ld"}


def test_semdedup_join_threshold_inclusive_and_degenerate_reference(spark):
    """cos == threshold counts as duplicate (>=); degenerate reference
    members (zero-norm / wrong-dim) assign NULL and never suppress."""
    right = spark.createDataFrame(
        [("c0", [1.0, 0.0]),
         ("rz", [0.0, 0.0]),        # zero-norm ref: excluded from members
         ("rw", [1.0, 0.0, 9.9])],  # wrong-dim ref: excluded from members
        "vec_id string, embedding array<double>")
    left = spark.createDataFrame(
        [("v1", [5.0, 0.0]),        # cos to c0 exactly 1.0 -> dup at thr=1.0
         ("v2", [0.0, 2.0])],       # orthogonal to c0 -> keep
        "vec_id string, embedding array<double>")
    out = ksml(["semdedup-join", ["stream", left, {"key": "vec_id"}],
                ["stream", right, {"key": "vec_id"}],
                _sdj_form(centroids="vec_id = 'c0'", threshold=1.0)],
               spark=spark)
    got = {r["vec_id"]: r["keep"] for r in out.df.collect()}
    assert got == {"v1": False, "v2": True}


def test_semdedup_join_null_and_duplicate_left_ids_decide_per_row(spark):
    """Batch keep decisions are per ROW, never merged through the id
    column (r10 regression, caught in review): a NULL-id exact
    duplicate of the reference must drop (an id join-back silently kept
    it — NULL never equi-joins), two rows SHARING an id must decide
    independently (the dup row must not drag its non-dup id-mate to
    keep=False, nor fan the join out into extra rows)."""
    right = spark.createDataFrame(
        [("r0", [1.0, 0.0])], "vec_id string, embedding array<double>")
    left = spark.createDataFrame(
        [(None, [1.0, 0.0]),   # NULL id, exact dup of r0 -> drop
         ("a", [0.0, 1.0]),    # orthogonal -> keep, despite id-mate below
         ("a", [1.0, 0.0])],   # dup of r0 -> drop
        "vec_id string, embedding array<double>")
    out = ksml(["semdedup-join", ["stream", left, {"key": "vec_id"}],
                ["stream", right, {"key": "vec_id"}],
                {"id": "vec_id", "vec": "embedding", "dim": 2,
                 "centroids": "vec_id = 'r0'", "threshold": 0.9}],
               spark=spark)
    rows = [(r["vec_id"], list(r["embedding"]), r["keep"])
            for r in out.df.collect()]
    assert len(rows) == 3  # no join fan-out from the shared id
    got = {(vid, tuple(emb)): keep for vid, emb, keep in rows}
    assert got[(None, (1.0, 0.0))] is False
    assert got[("a", (0.0, 1.0))] is True
    assert got[("a", (1.0, 0.0))] is False
    kept = ksml(["semdedup-join", ["stream", left, {"key": "vec_id"}],
                 ["stream", right, {"key": "vec_id"}],
                 {"id": "vec_id", "vec": "embedding", "dim": 2,
                  "centroids": "vec_id = 'r0'", "threshold": 0.9,
                  "action": "filter"}], spark=spark)
    assert [(r["vec_id"], list(r["embedding"]))
            for r in kept.df.collect()] == [("a", [0.0, 1.0])]


def test_semdedup_join_nprobe_recall_and_reference(spark):
    """late r13 {'nprobe': p} (the measured boundary-miss floor: single-
    cluster dup tests missed 31% of planted cos-0.94 dups at K~15):
    nprobe=4 must flag strictly more planted duplicates than nprobe=1,
    every flag must be a TRUE duplicate (precision 1 — the exact
    cosine threshold still gates), and the full keep column must match
    a numpy reference of the widened semantics (dup iff any reference
    member of the left row's top-p clusters reaches the threshold)."""
    import numpy as np

    rng = np.random.default_rng(23)
    ref = rng.standard_normal((200, 16))
    left = np.vstack([ref[:80] + 0.35 * rng.standard_normal((80, 16)),
                      rng.standard_normal((60, 16))])
    refdf = spark.createDataFrame(
        [(i, [float(x) for x in ref[i]]) for i in range(len(ref))],
        "vec_id long, embedding array<double>")
    leftdf = spark.createDataFrame(
        [(i, [float(x) for x in left[i]]) for i in range(len(left))],
        "vec_id long, embedding array<double>")
    form = {"id": "vec_id", "vec": "embedding", "dim": 16,
            "threshold": 0.9, "centroids": "vec_id % 17 = 3"}

    def flags(p):
        out = ksml(["semdedup-join", ["stream", leftdf, {"key": "vec_id"}],
                    ["stream", refdf, {"key": "vec_id"}],
                    dict(form, nprobe=p)], spark=spark)
        return {r["vec_id"] for r in out.df.collect() if r["keep"] is False}

    Ln = left / np.linalg.norm(left, axis=1)[:, None]
    Rn = ref / np.linalg.norm(ref, axis=1)[:, None]
    truth = set(np.flatnonzero(((Ln @ Rn.T) >= 0.9 - 1e-12).any(axis=1)))
    f1, f4 = flags(1), flags(4)
    assert f1 <= f4 <= truth
    assert len(f4) > len(f1)

    # numpy reference of the widened semantics, p=4
    cid = [i for i in range(len(ref)) if i % 17 == 3]
    C = Rn[cid]
    ref_assign = np.asarray(cid)[(Rn @ C.T).argmax(axis=1)]
    order = np.argsort(-(Ln @ C.T), axis=1, kind="stable")[:, :4]
    expected = set()
    for li in range(len(left)):
        probed = {cid[j] for j in order[li]}
        mask = np.isin(ref_assign, list(probed))
        if ((Ln[li] @ Rn[mask].T) >= 0.9 - 1e-12).any():
            expected.add(li)
    assert f4 == expected


def test_semdedup_join_nprobe_streaming_refused(spark, tmp_path):
    """nprobe > 1 with a streaming left refuses curatedly (the
    any-probed-copy decision is not stream-legal)."""
    from ksml_spark.errors import ArityError
    from ksml_spark.streaming.runtime import file_stream_source

    r = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.0, 1.0])],
                              "vec_id long, embedding array<double>")
    d = str(tmp_path / "l")
    spark.createDataFrame([(5, [1.0, 0.1])],
                          "vec_id long, embedding array<double>")\
        .write.mode("overwrite").parquet(d)
    stream = file_stream_source(spark, d, "vec_id long, embedding array<double>")
    with pytest.raises(ArityError, match="nprobe > 1 is batch-left only"):
        ksml(["semdedup-join", ["stream", stream, {"key": "vec_id"}],
              ["stream", r, {"key": "vec_id"}],
              {"id": "vec_id", "vec": "embedding", "dim": 2,
               "centroids": "vec_id = 0", "nprobe": 2}], spark=spark)


def test_semdedup_join_single_probe_recall_warning(spark, tmp_path):
    """Batch-left nprobe=1 at a dedup-grade threshold (>= 0.8) warns at
    construction (VERDICT r14: the measured 0.69/0.60 boundary-miss
    recall was the engine's last SILENT recall cliff);
    {'single_probe_ok': True}, nprobe>=2, or a sub-0.8 threshold stay
    quiet, and the streaming left (which has no nprobe lever) is not
    warned into an unactionable corner. UserWarning so the lever
    survives Python's default filters (the single-band precedent)."""
    import warnings

    from ksml_spark.streaming.runtime import file_stream_source

    r = spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [0.0, 1.0]), (4, [0.7, 0.7])],
        "vec_id long, embedding array<double>")
    l = spark.createDataFrame([(5, [1.0, 0.1])],
                              "vec_id long, embedding array<double>")
    form = {"id": "vec_id", "vec": "embedding", "dim": 2,
            "centroids": "vec_id = 0"}
    lrel = ["stream", l, {"key": "vec_id"}]
    rrel = ["stream", r, {"key": "vec_id"}]

    with pytest.warns(UserWarning, match="measured recall 0.69"):
        ksml(["semdedup-join", lrel, rrel,
              dict(form, threshold=0.9)], spark=spark)
    # default threshold is 0.9 — the default form warns too
    with pytest.warns(UserWarning, match="single_probe_ok"):
        ksml(["semdedup-join", lrel, rrel, form], spark=spark)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        # acknowledged
        ksml(["semdedup-join", lrel, rrel,
              dict(form, threshold=0.9, single_probe_ok=True)], spark=spark)
        # the lever itself (decisions widen, no cliff)
        ksml(["semdedup-join", lrel, rrel,
              dict(form, threshold=0.9, nprobe=2)], spark=spark)
        # sub-dedup-grade threshold: boundary misses matter less than
        # the threshold's own looseness — quiet (the registry shape)
        ksml(["semdedup-join", lrel, rrel,
              dict(form, threshold=0.3)], spark=spark)
        # streaming left: nprobe>1 is refused there, so the warning
        # would have no in-op lever — quiet by design (docstring points
        # batch sweeps at the lever instead)
        d = str(tmp_path / "warn_l")
        l.write.mode("overwrite").parquet(d)
        stream = file_stream_source(
            spark, d, "vec_id long, embedding array<double>")
        ksml(["semdedup-join", ["stream", stream, {"key": "vec_id"}],
              rrel, dict(form, threshold=0.9)], spark=spark)


def test_semdedup_join_curated_errors(spark, tmp_path):
    """Construction-time refusals: streaming reference, missing dim /
    centroids, empty or over-max_k centroid sample, bad action, output
    column collision — each a curated ArityError naming THIS op."""
    from ksml_spark.errors import ArityError
    from ksml_spark.streaming.runtime import file_stream_source

    l = spark.createDataFrame([("a", [1.0, 0.0])],
                              "vec_id string, embedding array<double>")
    r = spark.createDataFrame([("c0", [1.0, 0.0]), ("c1", [0.0, 1.0])],
                              "vec_id string, embedding array<double>")
    lrel, rrel = ["stream", l, {"key": "vec_id"}], ["stream", r, {"key": "vec_id"}]
    with pytest.raises(ArityError, match="semdedup-join needs.*dim"):
        ksml(["semdedup-join", lrel, rrel,
              {"id": "vec_id", "vec": "embedding", "centroids": "1=1"}],
             spark=spark)
    with pytest.raises(ArityError, match="semdedup-join needs.*centroids"):
        ksml(["semdedup-join", lrel, rrel,
              {"id": "vec_id", "vec": "embedding", "dim": 2}], spark=spark)
    with pytest.raises(ArityError, match="matched no"):
        ksml(["semdedup-join", lrel, rrel,
              _sdj_form(centroids="vec_id = 'nope'")], spark=spark)
    with pytest.raises(ArityError, match="more than max_k"):
        ksml(["semdedup-join", lrel, rrel, _sdj_form(max_k=1)], spark=spark)
    with pytest.raises(ArityError, match="annotate.*filter"):
        ksml(["semdedup-join", lrel, rrel, _sdj_form(action="purge")],
             spark=spark)
    with pytest.raises(ArityError, match="'cluster'.*already exists"):
        ksml(["semdedup-join",
              ["stream", l.withColumn("cluster", F.lit(1)), {"key": "vec_id"}],
              rrel, _sdj_form()], spark=spark)
    # reserved internal working columns (ADVICE r10): withColumn would
    # silently shadow them and `*orig` would re-emit internal values
    for internal in ("__rid", "__lv", "__ln"):
        with pytest.raises(ArityError, match=f"{internal}.*reserved"):
            ksml(["semdedup-join",
                  ["stream", l.withColumn(internal, F.lit(1)),
                   {"key": "vec_id"}],
                  rrel, _sdj_form()], spark=spark)
    p = str(tmp_path / "ref_vecs")
    r.write.parquet(p)
    with pytest.raises(ArityError, match="reference side is batch-only"):
        ksml(["semdedup-join", lrel,
              ["stream", file_stream_source(spark, p), {"key": "vec_id"}],
              _sdj_form()], spark=spark)


def test_semdedup_join_assignment_exact_on_near_tie_centroids(spark):
    """Closes r10's 'accepted float-path risk': with DUPLICATED and
    1-ulp-perturbed centroids — best-vs-second-best cosine gaps at or
    below summation-order error — the Arrow assign must reproduce the
    oracle's sequential-dot argmax (row_number ORDER BY sim DESC, cid)
    exactly: smallest centroid id on exact ties, left-to-right
    sequential arithmetic deciding near-ties. Checked against a pure
    Python reference for every left row."""
    import math
    import random

    rnd = random.Random(11)
    dim = 16

    def vec():
        return [rnd.uniform(-1.0, 1.0) for _ in range(dim)]

    base = vec()
    bumped = list(base)
    bumped[7] = math.nextafter(bumped[7], 2.0)
    # a0/a1 identical (exact tie -> a0 by id), a2 one ulp away
    right_rows = [("a0", base), ("a1", list(base)), ("a2", bumped)]
    right_rows += [(f"r{i:02d}", vec()) for i in range(20)]
    left_rows = [(f"l{i:03d}", vec()) for i in range(200)]
    # half the lefts sit exactly ON the tied centroid direction: cosine
    # to a0/a1/a2 all ~1.0 with gaps ~1e-16 — the adversarial case
    for i in range(100):
        s = 0.5 + i / 100.0
        left_rows[i] = (left_rows[i][0], [x * s for x in base])

    l = spark.createDataFrame(left_rows, "vec_id string, embedding array<double>")
    r = spark.createDataFrame(right_rows, "vec_id string, embedding array<double>")
    out = ksml(["semdedup-join",
                ["stream", l, {"key": "vec_id"}],
                ["stream", r, {"key": "vec_id"}],
                {"id": "vec_id", "vec": "embedding", "dim": dim,
                 "centroids": "vec_id like 'a%'", "threshold": 0.999}],
               spark=spark)
    got = {row["vec_id"]: row["cluster"] for row in out.df.collect()}

    def seqdot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    cents = sorted((cid, v) for cid, v in right_rows if cid.startswith("a"))

    def ref_assign(v):
        nv = math.sqrt(seqdot(v, v))
        best, bid = None, None
        for cid, c in cents:
            cos = seqdot(v, c) / (nv * math.sqrt(seqdot(c, c)))
            if best is None or cos > best:
                best, bid = cos, cid
        return bid

    expect = {vid: ref_assign(v) for vid, v in left_rows}
    assert got == expect
    # the adversarial rows really are ties: the exact-tie pair resolves
    # to the smallest id, never a1
    assert "a1" not in set(expect.values())
    assert any(expect[f"l{i:03d}"] in ("a0", "a2") for i in range(100))


def test_semdedup_join_streaming_left_one_microbatch_parity(spark, tmp_path):
    """The left side IS stream-legal (this op exists because semdedup's
    closed-input contract refuses streams): a stream-static anti/semi
    join per micro-batch.  One availableNow micro-batch must reproduce
    the batch decisions bit-for-bit, in both annotate and filter modes."""
    import math

    from ksml_spark.streaming.runtime import file_stream_source

    def unit(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]

    right = spark.createDataFrame(
        [("c0", unit(0)), ("c90", unit(90)), ("r1", unit(5)), ("r2", unit(80))],
        "vec_id string, embedding array<double>")
    left_rows = [("l%d" % i, unit(7 * i)) for i in range(14)] + [("lz", [0.0, 0.0])]
    left = spark.createDataFrame(left_rows,
                                 "vec_id string, embedding array<double>")
    p = str(tmp_path / "new_vecs")
    left.write.parquet(p)
    form = _sdj_form()
    batch = ksml(["semdedup-join", ["stream", left, {"key": "vec_id"}],
                  ["stream", right, {"key": "vec_id"}], form], spark=spark)
    exp = {r["vec_id"]: (r["cluster"], r["keep"]) for r in batch.df.collect()}

    sout = ksml(["semdedup-join",
                 ["stream", file_stream_source(spark, p), {"key": "vec_id"}],
                 ["stream", right, {"key": "vec_id"}], form], spark=spark).df
    assert sout.isStreaming
    q = (sout.writeStream.format("memory").queryName("sdj_stream")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["vec_id"]: (r["cluster"], r["keep"])
           for r in spark.sql("SELECT * FROM sdj_stream").collect()}
    assert got == exp and len(got) == 15


def test_semdedup_matches_python_reference(spark):
    """Full-pipeline parity against an independent Python float
    re-implementation of the paper's rule (sequential dots == dot_col's
    chain, so decisions are bit-comparable) on 60 pseudo-random 8-D
    vectors across 5 sampled centroids."""
    import math
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ksml(["semdedup", ["stream", df, {"key": "vec_id"}],
                {"id": "vec_id", "vec": "embedding", "dim": 8,
                 "centroids": "vec_id % 13 = 3", "threshold": 0.5}],
               spark=spark)
    got = {r["vec_id"]: (r["cluster"], r["keep"]) for r in out.df.collect()}

    # rank-block decomposition is decision-invariant: pair_bucket=1
    # (every member its own block) and 7 (uneven split) must reproduce
    # the default-bucket keep set exactly
    for b in (1, 7):
        alt = ksml(["semdedup", ["stream", df, {"key": "vec_id"}],
                    {"id": "vec_id", "vec": "embedding", "dim": 8,
                     "centroids": "vec_id % 13 = 3", "threshold": 0.5,
                     "pair_bucket": b}], spark=spark)
        assert {r["vec_id"]: (r["cluster"], r["keep"])
                for r in alt.df.collect()} == got

    def dot(a, b):
        acc = a[0] * b[0]
        for i in range(1, len(a)):
            acc += a[i] * b[i]
        return acc

    vec = dict(rows)
    nrm = {i: math.sqrt(dot(v, v)) for i, v in vec.items()}
    cents = [i for i in vec if i % 13 == 3]
    assign = {}
    for i, v in vec.items():
        sims = [(dot(v, vec[c]) / (nrm[i] * nrm[c]), c) for c in cents]
        s, c = max(sims, key=lambda t: (t[0], -t[1]))
        assign[i] = (c, s)
    expected = {}
    for c in cents:
        members = sorted((i for i in vec if assign[i][0] == c),
                         key=lambda i: (assign[i][1], i))
        for r, i in enumerate(members):
            dup = any(
                dot(vec[i], vec[j]) / (nrm[i] * nrm[j]) >= 0.5
                for j in members[:r]
            )
            expected[i] = (c, not dup)
    assert got == expected


def test_jaccard_prefix_auto_switch_on_skew(spark, monkeypatch):
    """jaccard-pairs flips to the prefix plan when the sampled
    token index is SKEWED (one hot (block, token) join key whose pair
    output would dominate), even though postings are far below the 50M
    size threshold — and stays plain on the same corpus without the hot
    token. Measured r06: the hot corpus runs 2-7x faster under prefix."""
    from pyspark.sql import functions as F

    from ksml_spark.operators import dedup

    n, vocab, toks = 4000, 50_000, 30
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(F.sequence(F.lit(1), F.lit(toks)),
                        lambda j: F.concat(F.lit("tok"), F.pmod(
                            F.xxhash64(F.col("id") * toks + j), F.lit(vocab)))),
            " ").alias("text"))
    hot = base.select(
        "doc_id",
        F.when(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0,
               F.concat("text", F.lit(" hotskewtok")))
        .otherwise(F.col("text")).alias("text"))

    def plan(df):
        out = pipe(["stream", df, {"key": "doc_id"}],
                   ["jaccard-pairs", {"col": "text", "id": "doc_id",
                                      "threshold": 0.5}], spark=spark).df
        return out._jdf.queryExecution().optimizedPlan().toString()

    monkeypatch.setattr(dedup, "_HOT_MIN_PAIRS", 100_000)

    # hot token in 50% of docs: est pairs (2000^2/2 = 2M) >> 4x postings
    # (~120k) -> prefix (identified by its df-ranking window)
    assert "row_number" in plan(hot)
    # same corpus, no hot token: uniform df -> plain
    assert "row_number" not in plan(base)
    # a forced plain plan still beats the skew rule
    _force_jaccard_plan(monkeypatch, prefix=False)
    assert "row_number" not in plan(hot)


def test_containment_pairs_values_and_inclusion_case(spark, tables):
    """Containment against a Python reference; plus the case the op
    exists for — a snippet fully inside a larger doc has containment
    1.0 on the snippet side even when Jaccard is far below any dedup
    threshold."""
    out = pipe(
        docs_stream(tables),
        ["containment-pairs", {"col": "text", "id": "doc_id",
                               "block": ["lang"], "threshold": 0.9}],
        spark=spark,
    ).df
    texts = {r["doc_id"]: (r["lang"], set(r["text"].split(" ")))
             for r in tables["documents"].collect()}
    got = {(r["doc_a"], r["doc_b"]): (r["containment_a"], r["containment_b"])
           for r in out.collect()}
    assert got, "corpus contains exact dupes, so pairs must exist"
    for (a, b), (ca, cb) in got.items():
        la, ta = texts[a]
        lb, tb = texts[b]
        assert la == lb
        inter = len(ta & tb)
        assert abs(inter / len(ta) - ca) < 1e-6
        assert abs(inter / len(tb) - cb) < 1e-6
        assert max(ca, cb) >= 0.9

    # inclusion: synthesize a snippet contained in a page; Jaccard tiny,
    # containment_b (snippet side) = 1.0
    page_words = " ".join(f"w{i}" for i in range(200))
    snippet = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, page_words), (2, snippet)], "doc_id long, text string")
    pairs = pipe(
        ["stream", df, {"key": "doc_id"}],
        ["containment-pairs", {"col": "text", "id": "doc_id",
                               "threshold": 0.95}],
        spark=spark,
    ).df.collect()
    assert len(pairs) == 1
    r = pairs[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["containment_b"] == 1.0  # snippet fully inside the page
    assert abs(r["containment_a"] - 10 / 200) < 1e-6  # jaccard-sized: tiny
    # zero threshold is refused: the inverted index cannot emit
    # no-overlap pairs
    from ksml_spark.errors import TypeDispatchError
    with pytest.raises(TypeDispatchError, match="jaccard-pairs"):
        pipe(["stream", df, {"key": "doc_id"}],
             ["containment-pairs", {"col": "text", "threshold": 0}],
             spark=spark)


def test_bm25_reference_scores(spark, tables):
    """BM25 against a straight Python implementation of the Lucene-idf
    Okapi formula over the same word normalization."""
    import math
    import re

    out = pipe(
        docs_stream(tables),
        ["bm25", {"col": "text", "id": "doc_id", "query": "The Data; MODEL"}],
        spark=spark,
    ).df
    got = {r["doc_id"]: r["score"] for r in out.collect()}

    docs = {r["doc_id"]: [w for w in re.split(r"[^a-z0-9]+", r["text"].lower()) if w]
            for r in tables["documents"].collect()}
    terms = {"the", "data", "model"}
    N = len(docs)
    avgdl = sum(len(w) for w in docs.values()) / N
    dfreq = {t: sum(1 for w in docs.values() if t in w) for t in terms}
    k1, b = 1.2, 0.75
    expected = {}
    for did, w in docs.items():
        s = 0.0
        for t in terms:
            tf = w.count(t)
            if tf == 0:
                continue
            idf = math.log(1 + (N - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(w) / avgdl))
        if s > 0:
            expected[did] = s
    assert set(got) == set(expected)  # only matching docs are emitted
    for did, s in expected.items():
        assert abs(got[did] - s) < 1e-5
    # query normalization: punctuation/case/duplicates don't change terms
    out2 = pipe(
        docs_stream(tables),
        ["bm25", {"col": "text", "id": "doc_id", "query": "model the data the"}],
        spark=spark,
    ).df
    assert {r["doc_id"]: r["score"] for r in out2.collect()} == got


def test_quantiles_exact_and_approx(spark, tables):
    """Exact percentiles against numpy's linear interpolation; the
    {"approx": N} sketch path (the 100 TB memory-bounded engine) must
    land within its documented rank-error bound of exact."""
    import numpy as np

    out = pipe(
        ["stream", tables["orders"], {"key": "o_orderkey"}],
        ["quantiles", {"col": "o_totalprice", "by": "o_orderpriority",
                       "ps": [0.25, 0.5, 0.9]}],
        spark=spark,
    ).df
    rows = {r["o_orderpriority"]: (r["p25"], r["p50"], r["p90"])
            for r in out.collect()}
    vals: dict = {}
    for r in tables["orders"].select("o_orderpriority", "o_totalprice").collect():
        vals.setdefault(r["o_orderpriority"], []).append(r["o_totalprice"])
    for g, xs in vals.items():
        exp = np.percentile(np.array(xs), [25, 50, 90], method="linear")
        for got_v, exp_v in zip(rows[g], exp):
            assert abs(got_v - exp_v) < 1e-4, (g, got_v, exp_v)

    # approx path: rank error <= 1/accuracy; with accuracy 10000 on a
    # few-thousand-row group the sketch answer must sit within the
    # values adjacent to the exact rank — bound loosely by value gap
    appr = pipe(
        ["stream", tables["orders"], {"key": "o_orderkey"}],
        ["quantiles", {"col": "o_totalprice", "by": "o_orderpriority",
                       "ps": [0.5], "approx": 10000}],
        spark=spark,
    ).df
    for r in appr.collect():
        xs = np.sort(np.array(vals[r["o_orderpriority"]]))
        # within 1% of the rank neighborhood around the true median
        k = len(xs) // 2
        lo, hi = xs[max(0, k - max(1, len(xs) // 100))], xs[min(len(xs) - 1, k + max(1, len(xs) // 100))]
        assert lo <= r["p50"] <= hi

    from ksml_spark.errors import ArityError
    with pytest.raises(ArityError, match="fractions"):
        pipe(["stream", tables["orders"], {"key": "o_orderkey"}],
             ["quantiles", {"col": "o_totalprice", "ps": [25, 50]}],
             spark=spark)


def test_entropy_reference_and_edges(spark, tables):
    """Shannon entropy against a Python reference; empty -> 0.0,
    NULL -> NULL, streaming refused, bad unit refused."""
    import math
    import re
    from collections import Counter

    out = pipe(
        docs_stream(tables),
        ["entropy", {"col": "text", "unit": "char", "as": "ec"}],
        ["entropy", {"col": "text", "unit": "word", "as": "ew"}],
        spark=spark,
    ).df
    got = {r["doc_id"]: (r["ec"], r["ew"]) for r in out.collect()}

    def ent(units):
        if not units:
            return 0.0
        n = len(units)
        return -sum((c / n) * math.log2(c / n) for c in Counter(units).values())

    for r in tables["documents"].collect():
        ec, ew = got[r["doc_id"]]
        t = r["text"]
        assert abs(ec - ent(list(t))) < 1e-6
        assert abs(ew - ent([w for w in re.split(r"[^a-z0-9]+", t.lower()) if w])) < 1e-6

    df = spark.createDataFrame([(1, ""), (2, None), (3, "aaaa"), (4, "abab")],
                               "doc_id long, text string")
    rows = {r["doc_id"]: r["e"] for r in pipe(
        ["stream", df, {"key": "doc_id"}],
        ["entropy", {"col": "text", "unit": "char", "as": "e"}],
        spark=spark).df.collect()}
    assert rows[1] == 0.0          # empty: no units
    assert rows[2] is None         # NULL text propagates
    assert rows[3] == 0.0          # single symbol: zero bits
    assert abs(rows[4] - 1.0) < 1e-12  # two equiprobable symbols: 1 bit

    from ksml_spark.errors import ArityError
    with pytest.raises(ArityError, match="char.*word|word.*char"):
        pipe(["stream", df, {"key": "doc_id"}],
             ["entropy", {"col": "text", "unit": "byte"}], spark=spark)


def test_mix_deterministic_weighted_proportions(spark, tables):
    """mix: kept set is deterministic, groups follow the target weights
    with the binding group kept whole, unlisted groups drop, and raising
    one group's weight only ADDS rows (nested at the same salt)."""
    form = lambda w: ["mix", docs_stream(tables),
                      {"by": "source", "weights": w,
                       "id": "doc_id", "salt": "t1"}]
    w0 = {"src0": 2, "src1": 1}
    a = {r["doc_id"] for r in ksml(form(w0), spark=spark).df.collect()}
    b = {r["doc_id"] for r in ksml(form(w0), spark=spark).df.collect()}
    assert a == b and a  # deterministic, non-empty

    rows = ksml(form(w0), spark=spark).df.groupBy("source").count().collect()
    by_src = {r["source"]: r["count"] for r in rows}
    assert set(by_src) == {"src0", "src1"}  # unlisted sources dropped
    n0 = tables["documents"].filter("source = 'src0'").count()
    # equal-sized groups, weights 2:1 -> src0 binds (kept whole), src1
    # keeps ~half (hash-expected count, not an exact quota)
    assert by_src["src0"] == n0
    assert 0.25 * n0 <= by_src["src1"] <= 0.75 * n0

    # nested: raising src1's weight to parity keeps everything previous
    w1 = {"src0": 2, "src1": 2}
    c = {r["doc_id"] for r in ksml(form(w1), spark=spark).df.collect()}
    assert a <= c

    from ksml_spark.errors import ArityError
    with pytest.raises(ArityError, match="weights"):
        ksml(["mix", docs_stream(tables), {"by": "source"}], spark=spark)


@pytest.mark.slow
def test_entropy_streaming_hof_parity(spark, tables, tmp_path):
    """The streaming per-row HOF entropy path must equal the batch
    agg+join-back plan value-for-value."""
    from ksml_spark.streaming.runtime import file_stream_source

    batch = {r["doc_id"]: (round(r["ec"], 9), round(r["ew"], 9)) for r in pipe(
        docs_stream(tables),
        ["entropy", {"col": "text", "unit": "char", "as": "ec"}],
        ["entropy", {"col": "text", "unit": "word", "as": "ew"}],
        spark=spark).df.collect()}

    p = str(tmp_path / "docs")
    tables["documents"].write.parquet(p)
    s = pipe(
        ["stream", file_stream_source(spark, p), {"key": "doc_id"}],
        ["entropy", {"col": "text", "unit": "char", "as": "ec"}],
        ["entropy", {"col": "text", "unit": "word", "as": "ew"}],
        spark=spark).df
    assert s.isStreaming
    q = (s.writeStream.format("memory").queryName("ent_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["doc_id"]: (round(r["ec"], 9), round(r["ew"], 9))
           for r in spark.sql("select * from ent_stream").collect()}
    assert got == batch


def test_bm25_frozen_stats_and_streaming(spark, tables, tmp_path):
    """Frozen-stats bm25 equals aggregate-mode scores when fed the
    corpus's own statistics; a stream scores with stats and is refused
    without."""
    import re

    from ksml_spark.errors import TypeDispatchError
    from ksml_spark.streaming.runtime import file_stream_source

    query = "the model data"
    agg = {r["doc_id"]: r["score"] for r in pipe(
        docs_stream(tables),
        ["bm25", {"col": "text", "id": "doc_id", "query": query}],
        spark=spark).df.collect()}

    docs = {r["doc_id"]: [w for w in re.split(r"[^a-z0-9]+", r["text"].lower()) if w]
            for r in tables["documents"].collect()}
    terms = ["data", "model", "the"]
    stats = {
        "n_docs": len(docs),
        "avgdl": sum(len(w) for w in docs.values()) / len(docs),
        "df": {t: sum(1 for w in docs.values() if t in w) for t in terms},
    }
    frozen = {r["doc_id"]: r["score"] for r in pipe(
        docs_stream(tables),
        ["bm25", {"col": "text", "id": "doc_id", "query": query,
                  "stats": stats}],
        spark=spark).df.collect()}
    # frozen mode keeps every row; non-matching docs carry 0.0
    assert len(frozen) == len(docs)
    for did, s in agg.items():
        assert abs(frozen[did] - s) < 2e-6, (did, frozen[did], s)
    for did in set(frozen) - set(agg):
        assert frozen[did] == 0.0

    p = str(tmp_path / "docs")
    tables["documents"].write.parquet(p)
    s = pipe(
        ["stream", file_stream_source(spark, p), {"key": "doc_id"}],
        ["bm25", {"col": "text", "id": "doc_id", "query": query,
                  "stats": stats}],
        spark=spark).df
    assert s.isStreaming
    q = (s.writeStream.format("memory").queryName("bm25_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["doc_id"]: r["score"]
           for r in spark.sql("select * from bm25_stream").collect()}
    assert got == frozen

    with pytest.raises(TypeDispatchError, match="stats"):
        pipe(["stream", file_stream_source(spark, p), {"key": "doc_id"}],
             ["bm25", {"col": "text", "id": "doc_id", "query": query}],
             spark=spark)


def test_jaccard_shingle_order_sensitive(spark):
    """{"shingle": k} makes jaccard-pairs order-sensitive (n-gram
    Jaccard): the same bag of words reordered has token-Jaccard 1.0 but
    near-zero shingle-Jaccard; values check against a Python
    reference."""
    a = "the quick brown fox jumps over the lazy dog again today"
    b = "today again dog lazy the over jumps fox brown quick the"
    c = a  # exact dup of a
    df = spark.createDataFrame([(1, a), (2, b), (3, c)],
                               "doc_id long, text string")
    tok = pipe(["stream", df, {"key": "doc_id"}],
               ["jaccard-pairs", {"col": "text", "threshold": 0.9}],
               spark=spark).df.collect()
    assert {(r["doc_a"], r["doc_b"]) for r in tok} == {(1, 2), (1, 3), (2, 3)}

    sh = pipe(["stream", df, {"key": "doc_id"}],
              ["jaccard-pairs", {"col": "text", "threshold": 0.9,
                                 "shingle": 3}],
              spark=spark).df.collect()
    assert {(r["doc_a"], r["doc_b"]) for r in sh} == {(1, 3)}  # only the dup

    def shingles(t, k=3):
        w = t.split(" ")
        return set(" ".join(w[i:i + k]) for i in range(len(w) - k + 1)) if len(w) >= k else {t}

    sa, sb = shingles(a), shingles(b)
    low = pipe(["stream", df, {"key": "doc_id"}],
               ["jaccard-pairs", {"col": "text", "threshold": 0.01,
                                  "shingle": 3}],
               spark=spark).df.collect()
    vals = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in low}
    exp12 = len(sa & sb) / len(sa | sb)
    if exp12 >= 0.01:
        assert abs(vals[(1, 2)] - exp12) < 1e-6
    else:
        assert (1, 2) not in vals
    assert vals[(1, 3)] == 1.0

    # containment composes with shingles too: a 3-gram-contained prefix
    pref = "the quick brown fox jumps over"
    df2 = spark.createDataFrame([(1, a), (2, pref)], "doc_id long, text string")
    cp = pipe(["stream", df2, {"key": "doc_id"}],
              ["containment-pairs", {"col": "text", "threshold": 0.99,
                                     "shingle": 3}],
              spark=spark).df.collect()
    assert len(cp) == 1 and cp[0]["containment_b"] == 1.0


# ---------------------------------------------------------------------------
# r07 additions: pivot / unpivot / corr / collect-ordered / rolling /
# vec-norm / vec-pool


def test_pivot_values_and_required_domain(spark):
    from ksml_spark.errors import ArityError

    df = spark.createDataFrame(
        [("hi", "O", 10.0), ("hi", "F", 2.0), ("lo", "O", 5.0), ("hi", "O", 1.0)],
        "prio string, status string, price double",
    )
    out = ksml(["pivot", ["stream", df, {}],
                {"group": "prio", "on": "status", "values": ["O", "F", "P"],
                 "aggs": {"t": "sum(price)"}}], spark=spark).df
    got = {r["prio"]: (r["O"], r["F"], r["P"]) for r in out.collect()}
    assert got == {"hi": (11.0, 2.0, None), "lo": (5.0, None, None)}
    with pytest.raises(ArityError, match="values"):
        ksml(["pivot", ["stream", df, {}],
              {"group": "prio", "on": "status", "aggs": {"t": "sum(price)"}}],
             spark=spark)
    # multi-agg cells follow Spark's {value}_{agg} convention
    out2 = ksml(["pivot", ["stream", df, {}],
                 {"group": "prio", "on": "status", "values": ["O"],
                  "aggs": {"t": "sum(price)", "n": "count(1)"}}], spark=spark).df
    assert set(out2.columns) == {"prio", "O_t", "O_n"}


def test_unpivot_roundtrip_and_collision(spark):
    from ksml_spark.errors import ArityError

    df = spark.createDataFrame(
        [(1, 2.0, 3.0), (2, 4.0, 5.0)], "k long, a double, b double"
    )
    out = ksml(["unpivot", ["stream", df, {}],
                {"ids": "k", "cols": ["a", "b"]}], spark=spark).df
    got = {(r["k"], r["metric"]): r["value"] for r in out.collect()}
    assert got == {(1, "a"): 2.0, (1, "b"): 3.0, (2, "a"): 4.0, (2, "b"): 5.0}
    with pytest.raises(ArityError, match="collide"):
        ksml(["unpivot", ["stream", df, {}],
              {"ids": "k", "cols": ["a"], "var": "k"}], spark=spark)
    with pytest.raises(ArityError, match="common type"):
        ksml(["unpivot", ["stream", df.withColumn("s", F.lit("x")), {}],
              {"ids": "k", "cols": ["a", "s"]}], spark=spark)


def test_corr_hand_computed(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0, -1.0), (2.0, 4.0, -2.0), (3.0, 6.0, -3.0), (4.0, 8.0, -4.5)],
        "x double, y double, z double",
    )
    out = ksml(["corr", ["stream", df, {}], {"cols": ["x", "y", "z"]}],
               spark=spark).df
    got = {(r["col_a"], r["col_b"]): r["corr"] for r in out.collect()}
    assert got[("x", "y")] == 1.0  # exactly linear
    assert got[("x", "z")] < -0.99
    assert len(got) == 3


def test_collect_ordered_sequence_and_limit(spark):
    from ksml_spark.errors import ArityError

    df = spark.createDataFrame(
        [(1, 3, "c"), (1, 1, "a"), (1, 2, "b"), (2, 9, "z")],
        "k long, pos long, v string",
    )
    out = ksml(["collect-ordered", ["stream", df, {}],
                {"by": "k", "order": "pos", "col": "v", "limit": 2}],
               spark=spark).df
    got = {r["k"]: r["seq"] for r in out.collect()}
    assert got == {1: ["a", "b"], 2: ["z"]}
    with pytest.raises(ArityError, match="ascending"):
        ksml(["collect-ordered", ["stream", df, {}],
              {"by": "k", "order": "-pos", "col": "v"}], spark=spark)


def test_rolling_trailing_frame(spark):
    import datetime

    from ksml_spark.errors import ArityError

    t0 = datetime.datetime(2026, 1, 1)
    rows = [(1, t0 + datetime.timedelta(seconds=s), float(v))
            for s, v in [(0, 1.0), (30, 2.0), (61, 4.0), (200, 8.0)]]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    out = ksml(["rolling", ["stream", df, {}],
                {"by": "k", "time": "ts", "range": 60,
                 "aggs": {"s": "sum(v)", "n": "count(1)"}}], spark=spark).df
    got = {int(r["v"]): (r["s"], r["n"]) for r in out.collect()}
    # frame = [t-60, t]: @0 -> {1}; @30 -> {1,2}; @61 -> {2,4} (0 is 61s back);
    # @200 -> {8}
    assert got == {1: (1.0, 1), 2: (3.0, 2), 4: (6.0, 2), 8: (8.0, 1)}
    with pytest.raises(ArityError, match="rolling needs"):
        ksml(["rolling", ["stream", df, {}], {"by": "k"}], spark=spark)


def test_vec_norm_values_and_zero_guard(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, None)],
        "id long, embedding array<float>",
    )
    out = ksml(["vec-norm", ["stream", df, {}], {"col": "embedding"}],
               spark=spark).df
    got = {r["id"]: (r["norm"], r["unit"]) for r in out.collect()}
    assert got[1][0] == 5.0 and got[1][1] == [0.6, 0.8]
    assert got[2] == (0.0, None)  # zero vector: flagged, not divided
    assert got[3] == (None, None)


def test_vec_pool_mean_sum_and_streaming_refusal(spark, tmp_path):
    from ksml_spark.errors import ArityError
    from ksml_spark.streaming.runtime import file_stream_source

    df = spark.createDataFrame(
        [("a", [1.0, 3.0]), ("a", [3.0, 5.0]), ("b", [10.0, 0.0])],
        "g string, embedding array<float>",
    )
    out = ksml(["vec-pool", ["stream", df, {}], {"by": "g"}], spark=spark).df
    got = {r["g"]: (r["pooled"], r["n"]) for r in out.collect()}
    assert got == {"a": ([2.0, 4.0], 2), "b": ([10.0, 0.0], 1)}
    summed = ksml(["vec-pool", ["stream", df, {}], {"by": "g", "mode": "sum"}],
                  spark=spark).df
    assert {r["g"]: r["pooled"] for r in summed.collect()}["a"] == [4.0, 8.0]
    p = str(tmp_path / "vp")
    df.write.parquet(p)
    with pytest.raises(ArityError, match="batch-only"):
        ksml(["vec-pool", ["stream", file_stream_source(spark, p), {}],
              {"by": "g"}], spark=spark)


# ---------------------------------------------------------------------------
# dup-spans / winnow (substring-granularity dedup)

def _py_shingle_hashes(text: str, k: int = 3) -> list:
    toks = text.split(" ")
    grams = [text] if len(toks) < k else [
        " ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)
    ]
    return [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams]


def test_dup_spans_matches_python_reference(spark, tables):
    from collections import Counter

    out = {r["doc_id"]: (r["n_spans"], r["dup_spans"], r["dup_fraction"])
           for r in pipe(
               docs_stream(tables),
               ["dup-spans", {"col": "text", "id": "doc_id", "k": 3}],
               spark=spark).df.collect()}
    docs = {r["doc_id"]: r["text"]
            for r in tables["documents"].select("doc_id", "text").collect()
            if r["text"] is not None}
    per_doc = {d: Counter(_py_shingle_hashes(t)) for d, t in docs.items()}
    gram_docs = Counter()
    for c in per_doc.values():
        for g in c:
            gram_docs[g] += 1
    assert set(out) == set(per_doc)
    for d, c in per_doc.items():
        n = sum(c.values())
        dup = sum(cnt for g, cnt in c.items() if gram_docs[g] >= 2)
        assert out[d][0] == n and out[d][1] == dup
        assert abs(out[d][2] - dup / n) < 1e-6
    # the synthetic corpus must actually exercise both branches
    assert any(v[1] > 0 for v in out.values())
    assert any(v[1] < v[0] for v in out.values())


def test_dup_spans_streaming_refused_and_arity(spark, tables, tmp_path):
    from ksml_spark.errors import ArityError, TypeDispatchError
    from ksml_spark.streaming.runtime import file_stream_source

    with pytest.raises(ArityError, match="k >= 1"):
        pipe(docs_stream(tables), ["dup-spans", {"k": 0}], spark=spark)
    p = str(tmp_path / "docs")
    tables["documents"].write.parquet(p)
    with pytest.raises(TypeDispatchError, match="batch-only"):
        pipe(["stream", file_stream_source(spark, p), {"key": "doc_id"}],
             ["dup-spans", {"col": "text"}], spark=spark)


def test_winnow_matches_python_reference(spark, tables):
    w = 4
    got = {r["doc_id"]: set(r["fp"]) for r in pipe(
        docs_stream(tables),
        ["winnow", {"col": "text", "id": "doc_id", "k": 3, "window": w}],
        spark=spark).df.select("doc_id", "fp").collect()}
    docs = {r["doc_id"]: r["text"]
            for r in tables["documents"].select("doc_id", "text").collect()
            if r["text"] is not None}
    for d, t in docs.items():
        h = _py_shingle_hashes(t)
        fps = {min(h[j:j + w]) for j in range(max(len(h) - w + 1, 1))}
        assert got[d] == fps
    assert set(got) == set(docs)


def test_winnow_guarantee_and_short_doc(spark):
    # any shared run of window + k - 1 = 6 tokens yields one identical
    # full window of shingle hashes in both docs -> a shared fingerprint
    a = "q1 q2 s1 s2 s3 s4 s5 s6 q3"
    b = "r1 s1 s2 s3 s4 s5 s6 r2 r3"
    short = "one two"  # < k tokens: whole text is the single shingle
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, short)], "doc_id long, text string")
    got = {r["doc_id"]: set(r["fp"]) for r in pipe(
        ["stream", df, {"key": "doc_id"}],
        ["winnow", {"col": "text", "id": "doc_id", "k": 3, "window": 4}],
        spark=spark).df.collect()}
    assert got[1] & got[2], "shared 6-token run must share a fingerprint"
    assert got[3] == {int(hashlib.md5(short.encode()).hexdigest()[:15], 16)}


def test_winnow_errors(spark, tables):
    from ksml_spark.errors import ArityError

    with pytest.raises(ArityError, match="already exists"):
        pipe(docs_stream(tables), ["winnow", {"as": "text"}], spark=spark)
    with pytest.raises(ArityError, match="window >= 1"):
        pipe(docs_stream(tables), ["winnow", {"window": 0}], spark=spark)


def test_winnow_streaming_parity(spark, tables, tmp_path):
    """winnow is a pure per-row expression chain, so the streaming plan
    is the batch plan unchanged — values must match row for row."""
    from ksml_spark.streaming.runtime import file_stream_source

    batch = {r["doc_id"]: sorted(r["fp"]) for r in pipe(
        docs_stream(tables),
        ["winnow", {"col": "text", "id": "doc_id"}],
        spark=spark).df.select("doc_id", "fp").collect()}
    p = str(tmp_path / "docs")
    tables["documents"].write.parquet(p)
    s = pipe(
        ["stream", file_stream_source(spark, p), {"key": "doc_id"}],
        ["winnow", {"col": "text", "id": "doc_id"}],
        spark=spark).df.select("doc_id", "fp")
    assert s.isStreaming
    q = (s.writeStream.format("memory").queryName("winnow_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["doc_id"]: sorted(r["fp"])
           for r in spark.sql("select * from winnow_stream").collect()}
    assert got == batch


def test_winnow_pairs_matches_python_reference(spark, tables):
    from collections import Counter
    from itertools import combinations

    got = {(r["doc_a"], r["doc_b"]): r["n_shared"] for r in pipe(
        docs_stream(tables),
        ["winnow-pairs", {"col": "text", "id": "doc_id", "k": 3,
                          "window": 4, "min_shared": 2}],
        spark=spark).df.collect()}
    docs = {r["doc_id"]: r["text"]
            for r in tables["documents"].select("doc_id", "text").collect()
            if r["text"] is not None}
    w = 4
    fps = {}
    for d, t in docs.items():
        h = _py_shingle_hashes(t)
        fps[d] = {min(h[j:j + w]) for j in range(max(len(h) - w + 1, 1))}
    # default max_fp_docs=1000 > corpus size: no fingerprint dropped
    expected = {}
    for a, b in combinations(sorted(fps), 2):
        n = len(fps[a] & fps[b])
        if n >= 2:
            expected[(a, b)] = n
    assert got == expected
    assert expected, "synthetic corpus must produce shared-fp pairs"


def test_winnow_pairs_max_fp_docs_drops_boilerplate(spark):
    # fingerprint shared by all 4 docs is boilerplate; with the cap at 2
    # only the pair sharing a RARE fingerprint run survives
    boiler = "common common common common common common"
    rows = [
        (1, boiler + " aa bb cc dd ee ff"),
        (2, boiler + " aa bb cc dd ee gg"),
        (3, boiler + " zz yy xx ww vv uu"),
        (4, boiler + " q1 q2 q3 q4 q5 q6"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = lambda cap: {(r["doc_a"], r["doc_b"]) for r in pipe(
        ["stream", df, {"key": "doc_id"}],
        ["winnow-pairs", {"col": "text", "id": "doc_id",
                          "max_fp_docs": cap}],
        spark=spark).df.collect()}
    uncapped = out(1000)
    assert (1, 2) in uncapped and len(uncapped) == 6  # boilerplate links all
    capped = out(2)
    assert capped == {(1, 2)}  # only the shared rare "aa bb cc dd ee" run


def test_winnow_pairs_errors(spark, tables, tmp_path):
    from ksml_spark.errors import ArityError, TypeDispatchError
    from ksml_spark.streaming.runtime import file_stream_source

    with pytest.raises(ArityError, match="2-element"):
        pipe(docs_stream(tables), ["winnow-pairs", {"as": "ab"}], spark=spark)
    with pytest.raises(ArityError, match="min_shared >= 1"):
        pipe(docs_stream(tables), ["winnow-pairs", {"min_shared": 0}],
             spark=spark)
    p = str(tmp_path / "docs")
    tables["documents"].write.parquet(p)
    with pytest.raises(TypeDispatchError, match="batch-only"):
        pipe(["stream", file_stream_source(spark, p), {"key": "doc_id"}],
             ["winnow-pairs", {}], spark=spark)


def test_relational_opts_curated_errors(spark, tables):
    from ksml_spark.errors import ArityError

    ev = ["stream", tables["events"], {"key": "user_id", "time": "ts"}]
    with pytest.raises(ArityError, match='"var" and "value" must differ'):
        pipe(ev, ["unpivot", {"ids": ["user_id"], "cols": ["value"],
                              "var": "m", "value": "m"}], spark=spark)
    with pytest.raises(ArityError, match="limit must be >= 1"):
        pipe(ev, ["collect-ordered", {"by": "user_id", "order": "ts",
                                      "col": "event_type", "limit": 0}],
             spark=spark)
    with pytest.raises(ArityError, match="range must be >= 0"):
        pipe(ev, ["rolling", {"by": "user_id", "time": "ts", "range": -5,
                              "aggs": {"s": "sum(value)"}}], spark=spark)


def test_intersect_except_set_and_bag_semantics(spark):
    a = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y"), (3, "z")], "id long, v string")
    b = spark.createDataFrame(
        [(1, "x"), (2, "y"), (2, "y"), (9, "q")], "id long, v string")
    sa, sb = ["stream", a, {}], ["stream", b, {}]
    rows = lambda q: sorted(tuple(r) for r in q.df.collect())
    assert rows(pipe(["intersect", sa, sb], spark=spark)) == [(1, "x"), (2, "y")]
    # bag: min multiplicity — (1,x) once (b has 1), (2,y) once (a has 1)
    assert rows(pipe(["intersect", sa, sb, {"all": 1}], spark=spark)) == [
        (1, "x"), (2, "y")]
    assert rows(pipe(["except", sa, sb], spark=spark)) == [(3, "z")]
    # bag: multiplicity subtraction — one (1,x) survives
    assert rows(pipe(["except", sa, sb, {"all": 1}], spark=spark)) == [
        (1, "x"), (3, "z")]
    # name-matched, order-insensitive columns
    b_swapped = ["stream", b.select("v", "id"), {}]
    assert rows(pipe(["intersect", sa, b_swapped], spark=spark)) == [
        (1, "x"), (2, "y")]


def test_intersect_except_errors(spark, tables, tmp_path):
    from ksml_spark.errors import ArityError
    from ksml_spark.streaming.runtime import file_stream_source

    a = spark.createDataFrame([(1, "x")], "id long, v string")
    c = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ArityError, match="share a column set"):
        pipe(["except", ["stream", a, {}], ["stream", c, {}]], spark=spark)
    p = str(tmp_path / "docs")
    tables["documents"].write.parquet(p)
    with pytest.raises(ArityError, match="batch-only"):
        pipe(["intersect",
              ["stream", file_stream_source(spark, p), {"key": "doc_id"}],
              ["stream", tables["documents"], {"key": "doc_id"}]],
             spark=spark)


def test_dedup_ordered_streaming_refused(spark, tables, tmp_path):
    from ksml_spark.errors import TypeDispatchError
    from ksml_spark.streaming.runtime import file_stream_source

    p = str(tmp_path / "ev")
    tables["events"].write.parquet(p)
    with pytest.raises(TypeDispatchError, match="batch-only"):
        pipe(["stream", file_stream_source(spark, p), {"key": "user_id"}],
             ["dedup", {"by": ["user_id"], "order": ["ts"]}], spark=spark)


def test_pair_op_as_names_must_differ(spark, tables):
    from ksml_spark.errors import ArityError

    with pytest.raises(ArityError, match="names must differ"):
        pipe(docs_stream(tables),
             ["winnow-pairs", {"as": ["d", "d"]}], spark=spark)
    with pytest.raises(ArityError, match="names must differ"):
        ksml(["lsh-join", docs_stream(tables), docs_stream(tables),
              {"as": ["d", "d"]}], spark=spark)


def test_over_explicit_frames(spark):
    from ksml_spark.errors import ArityError

    df = spark.createDataFrame(
        [("k", i, float(i)) for i in range(1, 6)], "key string, ts long, v double")
    rel = ["stream", df, {"key": "key"}]
    # trailing-2-rows sum: [1, 3, 5, 7, 9] -> at i: v(i-1)+v(i)
    out = {r["ts"]: r["s"] for r in pipe(
        rel, ["over", {"s": "sum(v)"},
              {"partition": ["key"], "order": ["ts"], "rows": [-1, 0]}],
        spark=spark).df.collect()}
    assert out == {1: 1.0, 2: 3.0, 3: 5.0, 4: 7.0, 5: 9.0}
    # range frame over the numeric order expr: ts in [t-2, t]
    out2 = {r["ts"]: r["s"] for r in pipe(
        rel, ["over", {"s": "sum(v)"},
              {"partition": ["key"], "order": ["ts"], "range": [-2, 0]}],
        spark=spark).df.collect()}
    assert out2 == {1: 1.0, 2: 3.0, 3: 6.0, 4: 9.0, 5: 12.0}
    # null = unbounded: running sum from the start
    out3 = {r["ts"]: r["s"] for r in pipe(
        rel, ["over", {"s": "sum(v)"},
              {"partition": ["key"], "order": ["ts"], "rows": [None, 0]}],
        spark=spark).df.collect()}
    assert out3 == {1: 1.0, 2: 3.0, 3: 6.0, 4: 10.0, 5: 15.0}
    with pytest.raises(ArityError, match='"rows" OR "range"'):
        pipe(rel, ["over", {"s": "sum(v)"},
                   {"partition": ["key"], "order": ["ts"],
                    "rows": [-1, 0], "range": [-1, 0]}], spark=spark)
    with pytest.raises(ArityError, match="requires {'order'"):
        pipe(rel, ["over", {"s": "sum(v)"},
                   {"partition": ["key"], "rows": [-1, 0]}], spark=spark)
    # a ranking/offset column MIXED with a framed aggregate in one call:
    # the frame must route to the aggregate only (ranking fns carry a
    # required built-in frame and would raise under a user frame)
    mixed = {r["ts"]: (r["s"], r["rn"], r["prev"]) for r in pipe(
        rel, ["over", {"s": "sum(v)", "rn": "row_number()",
                       "prev": "lag(v, 1)"},
              {"partition": ["key"], "order": ["ts"], "rows": [-1, 0]}],
        spark=spark).df.collect()}
    assert mixed == {1: (1.0, 1, None), 2: (3.0, 2, 1.0), 3: (5.0, 3, 2.0),
                     4: (7.0, 4, 3.0), 5: (9.0, 5, 4.0)}


@pytest.mark.slow
def test_vec_project_deterministic_parity_and_errors(spark, tables):
    import hashlib as _h

    from ksml_spark.errors import ArityError

    dim, k, seed = 64, 8, 3
    out = pipe(
        ["stream", tables["embeddings"], {"key": "vec_id"}],
        ["vec-project", {"col": "embedding", "dim": dim, "k": k,
                         "seed": seed, "as": "proj"}],
        spark=spark).df.select("vec_id", "embedding", "proj").collect()
    assert out

    def sign(j, i):
        return 1.0 if int(_h.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[0], 16) < 8 else -1.0

    scale = 1.0 / (k ** 0.5)
    for r in out[:50]:
        v = [float(x) for x in r["embedding"]]
        for j in range(k):
            acc = v[0] * sign(j, 0)
            for i in range(1, dim):
                acc = acc + v[i] * sign(j, i)  # same sequential order
            assert r["proj"][j] == acc * scale  # bit-exact
    # distance preservation sanity (JL in expectation): projected
    # self-dot of a unit-ish vector stays within a loose band
    import math
    r0 = out[0]
    orig = math.sqrt(sum(x * x for x in r0["embedding"]))
    proj = math.sqrt(sum(x * x for x in r0["proj"]))
    assert 0.2 * orig < proj < 3.0 * orig
    with pytest.raises(ArityError, match="needs .'dim'"):
        pipe(["stream", tables["embeddings"], {"key": "vec_id"}],
             ["vec-project", {"k": 4}], spark=spark)
    with pytest.raises(ArityError, match="already exists"):
        pipe(["stream", tables["embeddings"], {"key": "vec_id"}],
             ["vec-project", {"dim": 64, "k": 4, "as": "label"}], spark=spark)
    # streaming legality + one-microbatch parity: the projection is a
    # plan-time-literal expression chain, so the streaming plan is the
    # same shuffle-free codegen and values match batch bit-for-bit
    import tempfile

    from ksml_spark.streaming.runtime import file_stream_source

    with tempfile.TemporaryDirectory() as td:
        p = f"{td}/vp_docs"
        src_df = tables["embeddings"].select("vec_id", "embedding").limit(40)
        src_df.write.parquet(p)
        sout = pipe(
            ["stream", file_stream_source(spark, p), {"key": "vec_id"}],
            ["vec-project", {"col": "embedding", "dim": dim, "k": k,
                             "seed": seed, "as": "proj"}],
            spark=spark).df
        assert sout.isStreaming
        q = (sout.writeStream.format("memory").queryName("vp_stream")
             .trigger(availableNow=True).start())
        q.awaitTermination(60)
        got_s = {r["vec_id"]: tuple(r["proj"]) for r in
                 spark.sql("SELECT vec_id, proj FROM vp_stream").collect()}
        exp_s = {r["vec_id"]: tuple(r["proj"]) for r in pipe(
            ["stream", spark.read.parquet(p), {"key": "vec_id"}],
            ["vec-project", {"col": "embedding", "dim": dim, "k": k,
                             "seed": seed, "as": "proj"}],
            spark=spark).df.collect()}
        assert got_s == exp_s and len(got_s) == 40

    # short and NULL vectors -> a truly NULL projection COLUMN (droppable
    # with proj IS NOT NULL), never an array of NULL elements
    short = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [1.0, 2.0, 3.0, 4.0])],
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["proj"] for r in pipe(
        ["stream", short, {"key": "vec_id"}],
        ["vec-project", {"col": "embedding", "dim": 4, "k": 2}],
        spark=spark).df.collect()}
    assert got[1] is None and got[2] is None
    assert got[3] is not None and all(x is not None for x in got[3])


def test_near_dedup_winnow_method_catches_copied_paragraph(spark):
    from ksml_spark.errors import ArityError

    para = " ".join(f"p{i}" for i in range(12))  # the copied paragraph
    rows = [
        (1, para + " " + " ".join(f"a{i}" for i in range(40))),
        (2, para + " " + " ".join(f"b{i}" for i in range(40))),
        (3, " ".join(f"c{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    src = ["stream", df, {"key": "doc_id"}]
    # whole-document jaccard at 0.5: docs 1,2 share only ~12/92 tokens
    jac = pipe(src, ["near-dedup", {"col": "text", "id": "doc_id",
                                    "block": [], "threshold": 0.5}],
               spark=spark).df
    assert {r["doc_id"] for r in jac.collect()} == {1, 2, 3}
    # winnow method: the shared 12-token run clusters 1,2 -> keep min id
    win = pipe(src, ["near-dedup", {"col": "text", "id": "doc_id",
                                    "method": "winnow", "min_shared": 2}],
               spark=spark).df
    assert {r["doc_id"] for r in win.collect()} == {1, 3}
    with pytest.raises(ArityError, match="method must be"):
        pipe(src, ["near-dedup", {"method": "simhash"}], spark=spark)


def test_persist_op_bounded_registry(spark, tables):
    from ksml_spark import release_pinned
    from ksml_spark.operators.util import _PINNED

    release_pinned()
    out = pipe(["stream", tables["nation"], {"key": "n_nationkey"}],
               ["persist"], ["where", "n_regionkey = 0"], spark=spark)
    assert out.df.count() > 0
    assert len(_PINNED) == 1
    assert release_pinned() == 1 and not _PINNED


def test_freq_items_and_profile(spark, tables):
    from ksml_spark.errors import ArityError

    ev = ["stream", tables["events"], {"key": "user_id"}]
    row = pipe(ev, ["freq-items", {"cols": ["event_type"], "support": 0.05}],
               spark=spark).df.collect()[0]
    freq = set(row["event_type_freqItems"])
    # every truly-dominant value must be present (no false negatives)
    total = tables["events"].count()
    counts = {r["event_type"]: r["n"] for r in
              tables["events"].groupBy("event_type").agg(
                  F.count(F.lit(1)).alias("n")).collect()}
    for v, c in counts.items():
        if c / total > 0.05:
            assert v in freq
    prof = {r["summary"]: r["value"] for r in pipe(
        ev, ["profile", {"cols": ["value"]}], spark=spark).df.collect()}
    assert prof["count"] == str(total)
    assert abs(float(prof["mean"])) >= 0
    # bare-string cols normalizes to a one-element list (not splatted
    # character-by-character into select)
    prof_s = pipe(ev, ["profile", {"cols": "value"}], spark=spark).df
    assert prof_s.columns == ["summary", "value"]
    with pytest.raises(ArityError, match="support must be in"):
        pipe(ev, ["freq-items", {"cols": ["event_type"], "support": 2}],
             spark=spark)
    # below Spark's sketch minimum -> curated error, not a raw
    # IllegalArgumentException from the JVM
    with pytest.raises(ArityError, match="support must be in"):
        pipe(ev, ["freq-items", {"cols": ["event_type"], "support": 1e-5}],
             spark=spark)


def test_pivot_unpivot_inverse_roundtrip(spark):
    """unpivot(pivot(x)) recovers the original long-form cells — the
    contract that catches naming/type drift between the two ops."""
    rows = [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0), ("b", "z", 4.0)]
    df = spark.createDataFrame(rows, "grp string, cat string, v double")
    wide = pipe(
        ["stream", df, {}],
        ["pivot", {"group": "grp", "on": "cat", "values": ["x", "y", "z"],
                   "aggs": {"v": "sum(v)"}}],
        spark=spark)
    back = pipe(
        ["unpivot", wide, {"ids": ["grp"], "cols": ["x", "y", "z"],
                           "var": "cat", "value": "v"}],
        spark=spark).df
    got = {(r["grp"], r["cat"]): r["v"] for r in back.collect()
           if r["v"] is not None}
    assert got == {(g, c): v for g, c, v in rows}


def test_histogram_log_scale(spark):
    import math

    from ksml_spark.errors import ArityError

    vals = [1.0, 5.0, 10.0, 50.0, 100.0, 500.0, 999.0, 0.5, None]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = {r["bin"]: (r["lo"], r["hi"], r["count"]) for r in pipe(
        ["stream", df, {}],
        ["histogram", {"col": "v", "min": 1, "max": 1000, "bins": 3,
                       "scale": "log"}],
        spark=spark).df.collect()}
    # decade bins: [1,10) [10,100) [100,1000); 0.5 clamps into bin 0
    assert out[0][2] == 3 and out[1][2] == 2 and out[2][2] == 3
    for b, (lo, hi, _) in out.items():
        assert abs(lo - 10 ** b) < 1e-9 and abs(hi - 10 ** (b + 1)) < 1e-6
    with pytest.raises(ArityError, match="needs min > 0"):
        pipe(["stream", df, {}],
             ["histogram", {"col": "v", "min": 0, "max": 10,
                            "scale": "log"}], spark=spark)
    with pytest.raises(ArityError, match="scale must be"):
        pipe(["stream", df, {}],
             ["histogram", {"col": "v", "min": 1, "max": 10,
                            "scale": "sqrt"}], spark=spark)


def test_shuffle_deterministic_seeded_permutation(spark, tables):
    """The seeded global shuffle: a pure function of (seed, id) — same
    (shard, pos) on every run and any partitioning; changing the seed
    re-draws the permutation; pos is a dense 1..count(shard) rank;
    NULL ids surface NULL shard/pos; streams and junk options refuse
    curatedly."""
    import hashlib

    from ksml_spark.errors import ArityError, TypeDispatchError

    docs = ["stream", tables["documents"], {"key": "doc_id"}]
    out = ksml(["shuffle", docs, {"seed": 42, "shards": 8}], spark=spark).df
    rows = out.select("doc_id", "shard", "pos").collect()

    # python reference: shard + within-shard hash order
    def ref(seed, shards, ids):
        hs = {i: hashlib.md5(f"{seed}|{i}".encode()).hexdigest() for i in ids}
        shard = {i: int(hs[i][:15], 16) % shards for i in ids}
        pos = {}
        for s in set(shard.values()):
            members = sorted((hs[i], i) for i in ids if shard[i] == s)
            for p, (_, i) in enumerate(members, 1):
                pos[i] = p
        return shard, pos

    ids = [r["doc_id"] for r in rows]
    eshard, epos = ref(42, 8, ids)
    assert {r["doc_id"]: r["shard"] for r in rows} == eshard
    assert {r["doc_id"]: r["pos"] for r in rows} == epos

    # dense rank per shard: positions are exactly 1..n_s
    from collections import Counter

    per = Counter(r["shard"] for r in rows)
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(1, per[s] + 1))

    # layout-independence: a shattered repartition gives the same answer
    shattered = tables["documents"].repartition(7)
    out2 = ksml(["shuffle", ["stream", shattered, {"key": "doc_id"}],
                 {"seed": 42, "shards": 8}], spark=spark).df
    assert {(r["doc_id"], r["shard"], r["pos"])
            for r in out2.select("doc_id", "shard", "pos").collect()} == \
           {(r["doc_id"], r["shard"], r["pos"]) for r in rows}

    # a different seed re-draws the permutation
    out3 = ksml(["shuffle", docs, {"seed": 43, "shards": 8}], spark=spark).df
    assert {(r["doc_id"], r["shard"], r["pos"])
            for r in out3.select("doc_id", "shard", "pos").collect()} != \
           {(r["doc_id"], r["shard"], r["pos"]) for r in rows}

    # NULL id -> NULL shard and pos, never silently ranked
    ndf = spark.createDataFrame([(None, "x"), (1, "y")], "doc_id long, t string")
    nrows = ksml(["shuffle", ["stream", ndf, {"key": "doc_id"}],
                  {"seed": 1, "shards": 4}], spark=spark).df.collect()
    got = {r["t"]: (r["shard"], r["pos"]) for r in nrows}
    assert got["x"] == (None, None) and got["y"][0] is not None

    # refusals
    with pytest.raises(ArityError, match="shards >= 1"):
        ksml(["shuffle", docs, {"shards": 0}], spark=spark)
    with pytest.raises(ArityError, match="seed must be an int"):
        ksml(["shuffle", docs, {"seed": 1.5}], spark=spark)
    with pytest.raises(ArityError, match="id column"):
        ksml(["shuffle", docs, {"id": "nope"}], spark=spark)
    from ksml_spark.streaming.runtime import file_stream_source
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        tables["events"].limit(5).write.mode("overwrite").parquet(td + "/p")
        s = file_stream_source(spark, td + "/p")
        with pytest.raises(TypeDispatchError, match="batch-only"):
            ksml(["shuffle", ["stream", s, {"key": "user_id"}],
                  {"id": "user_id"}], spark=spark)

    # scale contract: ONE exchange on the shard column, no global sort
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in plan.lower()
