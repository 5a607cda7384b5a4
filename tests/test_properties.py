"""Property-based tests (hypothesis): DSL algebra laws and operator
semantics on randomized inputs, checked against pandas reference
computations. Complements the fixed-fixture suites."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, example, given, settings, strategies as st

from ksml_spark import ksml, pipe, vthread

import pytest

# -- pure algebra: no Spark needed ------------------------------------------

forms = st.recursive(
    st.one_of(st.integers(), st.text(max_size=5)),
    lambda children: st.lists(children, min_size=1, max_size=3),
    max_leaves=8,
)


@given(first=forms, steps=st.lists(st.lists(st.text(min_size=1, max_size=4), min_size=1, max_size=3), max_size=4))
def test_vthread_inserts_at_position_one(first, steps):
    out = vthread(first, *steps)
    # unrolling from the outside in recovers every step and the seed
    for step in reversed(steps):
        assert out[0] == step[0] and out[2:] == list(step[1:])
        out = out[1]
    assert out == first


rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),            # key
        st.integers(min_value=0, max_value=1000),         # seq (unique-ified below)
        st.floats(min_value=-100, max_value=100, allow_nan=False),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=rows)
def test_table_latest_matches_pandas(spark, data):
    # unique (key, seq) pairs; seq plays the event-time/order role
    seen, uniq = set(), []
    for k, s, v in data:
        if (k, s) not in seen:
            seen.add((k, s))
            uniq.append((k, s, v))
    df = spark.createDataFrame(uniq, "key int, seq int, value double")
    out = ksml(["table", df, {"key": "key", "order": ["seq"], "tombstone": "false"}],
               spark=spark)
    got = {r["key"]: (r["seq"], r["value"]) for r in out.df.collect()}
    pdf = pd.DataFrame(uniq, columns=["key", "seq", "value"])
    exp = pdf.sort_values("seq").groupby("key").last()
    assert len(got) == len(exp)
    for k, row in exp.iterrows():
        assert got[k] == (row["seq"], row["value"])


@pytest.mark.slow
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=rows, thr=st.floats(min_value=-50, max_value=50, allow_nan=False))
def test_branch_partitions_exactly(spark, data, thr):
    df = spark.createDataFrame(data, "key int, seq int, value double")
    b = ksml(
        ["branch", ["stream", df, {"key": "key"}],
         ["predicate", f"value > {thr}"],
         ["predicate", "key % 2 = 0"]],
        spark=spark,
    )
    n0, n1 = b[0].df.count(), b[1].df.count()
    # first-match-wins: branches are disjoint, union <= total
    both = b[0].df.intersect(b[1].df).count()
    assert both == 0
    expected0 = df.filter(f"value > {thr}").count()
    expected1 = df.filter(f"not (value > {thr}) and key % 2 = 0").count()
    assert (n0, n1) == (expected0, expected1)


edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=25,
)


def _dup_clusters_vs_union_find(spark, edges):
    """dup-clusters on both sides of the driver cutover — the driver
    union-find and the contraction loop (bound patched to 0) — against a
    reference union-find."""
    from unittest import mock

    from ksml_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "doc_a long, doc_b long"
    )

    def clusters():
        out = ksml(
            ["dup-clusters", ["stream", pairs, {}], {"a": "doc_a", "b": "doc_b"}],
            spark=spark,
        ).df
        return {r["doc_id"]: r["cluster"] for r in out.collect()}

    got = clusters()
    with mock.patch.object(dedup, "CC_DRIVER_MAX_PAIRS", 0):
        got_loop = clusters()

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in parent}
    assert got == expected and got_loop == expected


@pytest.mark.slow
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=edge_lists)
def test_dup_clusters_matches_union_find(spark, edges):
    _dup_clusters_vs_union_find(spark, edges)


@settings(max_examples=3, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=edge_lists)
def test_dup_clusters_matches_union_find_fast(spark, edges):
    """Fast-tier sample of the property above."""
    _dup_clusters_vs_union_find(spark, edges)


def test_ord_ge_total_order_with_nulls():
    """_ord_ge must behave as >= of a total order where NULL elements are
    -infinity: totality (a>=b or b>=a), antisymmetric agreement with
    tuple compare on None-free tuples, None always loses."""
    import datetime as dt

    from ksml_spark.streaming.changelog_join import _ord_ge

    elem = st.one_of(st.none(), st.integers(-5, 5))
    tup = st.tuples(elem, elem)

    @given(tup, tup)
    def check(a, b):
        assert _ord_ge(a, b) or _ord_ge(b, a)  # total
        key = lambda t: tuple((x is not None, x if x is not None else 0) for x in t)
        assert _ord_ge(a, b) == (key(a) >= key(b))

    check()
    # None loses to any real value, NaT treated like None
    assert _ord_ge((dt.datetime(2024, 1, 1),), (None,))
    assert not _ord_ge((None,), (dt.datetime(2024, 1, 1),))
    assert _ord_ge((dt.datetime(2024, 1, 1),), (pd.NaT,))


def test_last_max_matches_ord_ge_fold():
    """The per-key batch reduction (_last_max over the flat order columns,
    as pandas hands them to the processor) must select the same row as
    sequentially folding _ord_ge over the rows in order — same
    NULL-as--infinity order, same later-record-wins tie break — for int,
    string and timestamp elements with NULLs, at list lengths past 128."""
    from ksml_spark.streaming.changelog_join import _last_max, _ord_ge

    base = pd.Timestamp("2024-01-01")
    kinds = {
        "int": (st.integers(-3, 3), "Int64"),
        "str": (st.sampled_from(["", "a", "ab", "b"]), "object"),
        "ts": (st.integers(-3, 3).map(lambda s: base + pd.Timedelta(seconds=s)),
               "datetime64[ns]"),
    }

    @settings(max_examples=150, deadline=None)
    @given(st.sampled_from(sorted(kinds)), st.sampled_from(sorted(kinds)), st.data())
    def check(k0, k1, data):
        n = data.draw(st.integers(1, 300))
        cols = []
        for k in (k0, k1):
            elem, dtype = kinds[k]
            vals = data.draw(st.lists(st.one_of(st.none(), elem), min_size=n, max_size=n))
            s = pd.Series(vals, dtype=dtype)
            # the Arrow hand-off: nullable ints arrive as float64 with NaN
            cols.append(s.astype("float64") if k == "int" else s)
        got = _last_max([c.to_numpy() for c in cols])
        tuples = list(zip(*[c.tolist() for c in cols]))
        best_i, best = 0, tuples[0]
        for i, t in enumerate(tuples[1:], start=1):
            if _ord_ge(t, best):
                best_i, best = i, t
        assert got == best_i, (tuples, got, best_i)

    check()


def test_md5_long_col_three_engine_parity(spark):
    """The shared identity hash (operators/util.md5_long_col) must agree
    bit-for-bit across Spark, Python hashlib, and DuckDB — it is the
    contract every hash-joined oracle relies on. Covers ascii, unicode,
    empties, whitespace, and long strings at both widths (60-bit
    identity default, 32-bit cutoff lanes)."""
    import hashlib

    import duckdb
    from pyspark.sql import functions as F

    from ksml_spark.operators.util import md5_long_col

    vals = ["", "a", "hello world", "naïve café", "日本語テキスト", " ",
            "\t tab", "x" * 4096, "0", "NULL", "None", "a|b|c",
            "line\nbreak", "quote'quote", 'double"quote']
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    for hexn in (15, 8):
        got = {r["s"]: r["h"] for r in
               df.select("s", md5_long_col(F.col("s"), hexn).alias("h")).collect()}
        py = {v: int(hashlib.md5(v.encode()).hexdigest()[:hexn], 16) for v in vals}
        assert got == py, hexn
        con = duckdb.connect()
        for v in vals:
            duck = con.sql(
                "SELECT ('0x' || substr(md5(?), 1, ?))::BIGINT", params=[v, hexn]
            ).fetchone()[0]
            assert duck == py[v], (v, hexn)


hist_vals = st.lists(
    st.one_of(st.none(), st.floats(min_value=-1000, max_value=1000,
                                   allow_nan=False, allow_infinity=False)),
    min_size=1, max_size=60)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=hist_vals, bins=st.integers(min_value=1, max_value=12))
def test_histogram_matches_python_reference(spark, vals, bins):
    from ksml_spark import ksml

    lo, hi = -100.0, 100.0
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = ksml(["histogram", ["stream", df, {}],
                {"col": "v", "bins": bins, "min": lo, "max": hi}], spark=spark)
    got = {r["bin"]: r["count"] for r in out.df.collect()}
    import math

    width = (hi - lo) / bins
    want = {}
    for v in vals:
        if v is None:
            continue
        # floor of the IEEE-rounded quotient, NOT Python's `//` (true
        # floor division): a boundary-adjacent ratio like 2.999...97 can
        # round to 3.0 in the division itself, and Spark/DuckDB both
        # floor that rounded quotient — the engines agree with each
        # other, which is the contract the oracle compare relies on
        b = min(bins - 1, max(0, math.floor((v - lo) / width)))
        want[b] = want.get(b, 0) + 1
    assert got == want
    # counts conserve every non-null row
    assert sum(got.values()) == sum(1 for v in vals if v is not None)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=st.lists(st.tuples(st.integers(min_value=0, max_value=5),
                               st.one_of(st.none(), st.integers(min_value=-5, max_value=5))),
                     min_size=1, max_size=40))
def test_expect_matches_pandas_reference(spark, data):
    from ksml_spark import ksml

    df = spark.createDataFrame(data, "k long, v long")
    out = ksml(["expect", ["stream", df, {"key": "k"}],
                {"not_null": ["v"], "unique": ["k"],
                 "between": {"v": [0, 3]}, "min_rows": 10}], spark=spark)
    got = {r["constraint"]: r["violations"] for r in out.df.collect()}
    ks = [k for k, _ in data]
    vs = [v for _, v in data]
    assert got["not_null(v)"] == sum(1 for v in vs if v is None)
    assert got["unique(k)"] == len(ks) - len(set(ks))
    assert got["between(v)"] == sum(1 for v in vs if v is not None and not (0 <= v <= 3))
    assert got["min_rows(10)"] == max(0, 10 - len(data))


ent_texts = st.lists(
    st.one_of(st.none(), st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=122),
        max_size=60)),
    min_size=1, max_size=25,
)


@pytest.mark.slow
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=ent_texts)
def test_entropy_matches_python_reference(spark, texts):
    import math
    from collections import Counter

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["e"] for r in pipe(
        ["stream", df, {"key": "doc_id"}],
        ["entropy", {"col": "text", "unit": "char", "as": "e"}],
        spark=spark).df.collect()}

    def ent(t):
        if t is None:
            return None
        if not t:
            return 0.0
        n = len(t)
        return -sum((c / n) * math.log2(c / n) for c in Counter(t).values())

    for i, t in rows:
        e = ent(t)
        if e is None:
            assert got[i] is None
        else:
            assert abs(got[i] - e) < 1e-9, (t, got[i], e)


mix_weights = st.dictionaries(
    st.sampled_from(["a", "b", "c", "d"]),
    st.floats(min_value=0.1, max_value=5, allow_nan=False),
    min_size=1, max_size=4,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(weights=mix_weights, seed=st.integers(min_value=0, max_value=3))
@pytest.mark.slow
def test_mix_binding_group_kept_whole_and_subset(spark, weights, seed):
    """Laws: (1) output is a subset of input rows with unlisted groups
    dropped; (2) at least one group — the binding one — keeps ALL its
    rows; (3) kept counts never exceed group size."""
    rows = [(i, ["a", "b", "c", "d", "e"][(i * 7 + seed) % 5]) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = ksml(["mix", ["stream", df, {"key": "doc_id"}],
                {"by": "source", "weights": weights,
                 "id": "doc_id", "salt": f"s{seed}"}], spark=spark).df
    got = [(r["doc_id"], r["source"]) for r in out.collect()]
    inp = dict(rows)
    assert all(inp[d] == s and s in weights for d, s in got)
    from collections import Counter
    kept = Counter(s for _, s in got)
    full = Counter(s for _, s in rows if s in weights)
    assert all(kept[g] <= full[g] for g in kept)
    # the binding group (min n/w among groups present) keeps every row:
    # its fraction is exactly 1 by construction
    present = {g: full[g] for g in weights if full[g] > 0}
    if present:
        binding = min(present, key=lambda g: present[g] / weights[g])
        assert kept[binding] == present[binding]


docs_strategy = st.lists(
    st.lists(st.sampled_from("ab cd ef gh ij kl mn op".split()),
             min_size=1, max_size=30).map(" ".join),
    min_size=1, max_size=12,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=docs_strategy)
def test_winnow_guarantee_property(spark, texts):
    """For every pair of docs sharing a run of window+k-1 consecutive
    tokens, winnow must emit at least one common fingerprint (the MOSS
    detection guarantee); and every fingerprint must be the hash of an
    actual k-shingle of its document."""
    import hashlib as _h

    k, w = 3, 4
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {r["doc_id"]: set(r["fp"]) for r in pipe(
        ["stream", df, {"key": "doc_id"}],
        ["winnow", {"col": "text", "id": "doc_id", "k": k, "window": w}],
        spark=spark).df.collect()}

    def shingle_hashes(t):
        toks = t.split(" ")
        grams = [t] if len(toks) < k else [
            " ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        return [int(_h.md5(g.encode()).hexdigest()[:15], 16) for g in grams]

    hashes = {d: shingle_hashes(t) for d, t in enumerate(texts)}
    for d, fps in got.items():
        assert fps <= set(hashes[d]), "fingerprint not a real shingle hash"
    run = w + k - 1
    for a in range(len(texts)):
        ta = texts[a].split(" ")
        for b in range(a + 1, len(texts)):
            tb = texts[b].split(" ")
            shared_run = any(
                " ".join(ta[i:i + run]) == " ".join(tb[j:j + run])
                for i in range(len(ta) - run + 1)
                for j in range(len(tb) - run + 1)
            )
            if shared_run:
                assert got[a] & got[b], (
                    f"docs {a},{b} share a {run}-token run but no fingerprint")


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=docs_strategy)
def test_dup_spans_property(spark, texts):
    """dup-spans invariants on random corpora: totals equal positional
    shingle counts, dup_spans counts exactly the positions whose gram
    occurs in >= 2 docs, and 0 <= dup_spans <= n_spans."""
    import hashlib as _h
    from collections import Counter

    k = 3
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {r["doc_id"]: (r["n_spans"], r["dup_spans"]) for r in pipe(
        ["stream", df, {"key": "doc_id"}],
        ["dup-spans", {"col": "text", "id": "doc_id", "k": k}],
        spark=spark).df.collect()}

    def hashes(t):
        toks = t.split(" ")
        grams = [t] if len(toks) < k else [
            " ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        return [int(_h.md5(g.encode()).hexdigest()[:15], 16) for g in grams]

    per_doc = {d: Counter(hashes(t)) for d, t in enumerate(texts)}
    gram_docs = Counter()
    for c in per_doc.values():
        for g in c:
            gram_docs[g] += 1
    assert set(got) == set(per_doc)
    for d, c in per_doc.items():
        n = sum(c.values())
        dup = sum(cnt for g, cnt in c.items() if gram_docs[g] >= 2)
        assert got[d] == (n, dup)
        assert 0 <= dup <= n


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=rows,
       thr=st.floats(min_value=-50, max_value=50, allow_nan=False),
       n=st.integers(min_value=0, max_value=50))
@pytest.mark.slow
def test_relational_composition_laws(spark, data, thr, n):
    """Relational-algebra laws over random pipelines — the composition
    analog of the per-op references: conjunctive filter splitting,
    filter/filter-not complementarity, distinct idempotence, limit
    bounding, merge additivity, and select row preservation."""
    df = spark.createDataFrame(data, "key long, seq long, v double")
    rel = ["stream", df, {"key": "key"}]
    total = df.count()

    # where(a) . where(b) == where(a AND b)
    split = pipe(rel, ["where", f"v > {thr}"], ["where", "seq % 2 = 0"],
                 spark=spark).df.count()
    fused = pipe(rel, ["where", f"v > {thr} AND seq % 2 = 0"],
                 spark=spark).df.count()
    assert split == fused

    # filter + filter-not partition the rows (predicate never NULL here)
    p = ["predicate", f"v > {thr}"]
    kept = pipe(rel, ["filter", p], spark=spark).df.count()
    dropped = pipe(rel, ["filter-not", p], spark=spark).df.count()
    assert kept + dropped == total

    # distinct is idempotent
    d1 = pipe(rel, ["distinct"], spark=spark).df.count()
    d2 = pipe(rel, ["distinct"], ["distinct"], spark=spark).df.count()
    assert d1 == d2

    # limit bounds (and never manufactures rows)
    assert pipe(rel, ["limit", n], spark=spark).df.count() == min(n, total)

    # merge is additive on row counts
    half = ["where", "seq % 2 = 0"]
    other = ["where", "seq % 2 = 1"]
    merged = ksml(["merge", [half[0], rel, half[1]], [other[0], rel, other[1]]],
                  spark=spark).df.count()
    assert merged == total

    # select preserves row count and renames reach the schema
    sel = pipe(rel, ["select", {"k2": "key", "vv": "v * 2"}], spark=spark).df
    assert sel.count() == total and sel.columns == ["k2", "vv"]


# -- BPE train/encode round-trip --------------------------------------------

_bpe_word = st.text(alphabet="abcde01", min_size=1, max_size=8)
_bpe_corpus = st.lists(
    st.lists(_bpe_word, min_size=1, max_size=12), min_size=1, max_size=8)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=_bpe_corpus, merges=st.integers(min_value=0, max_value=40))
@pytest.mark.slow
def test_bpe_train_encode_roundtrip_property(spark, docs, merges):
    """For ANY corpus and ANY merge budget: stripping the '</w>' markers
    from a doc's encoded tokens and re-joining reproduces the doc's
    normalized (lowercased, tokenizer-split) words — BPE segments, it
    never alters or drops content — and every emitted token is either a
    trained merge product or a single char + optional marker."""
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    table = ksml(["bpe-train", ["stream", df, {"key": "doc_id"}],
                  {"merges": merges, "min_freq": 1, "min_pair_freq": 1}],
                 spark=spark)
    merged_syms = {r["merged"] for r in table.df.collect()}
    enc = ksml(["bpe-encode", ["stream", df, {"key": "doc_id"}], table,
                {"col": "text"}], spark=spark)
    out = {r["doc_id"]: list(r["bpe_tokens"]) for r in enc.df.collect()}
    for i, ws in enumerate(docs):
        toks = out[i]
        rebuilt = "".join(toks).replace("</w>", " ").split()
        assert rebuilt == [w for w in " ".join(ws).lower().split() if w]
        for t in toks:
            core = t
            assert core in merged_syms or len(core.replace("</w>", "")) <= 1


# -- kmeans-assign expr/blas bit-parity --------------------------------------


def _assign_path(path: str):
    """Force the nearest-centroid assignment path by moving its K
    cutover (similarity._BLAS_ASSIGN_MIN_K): "blas" from K = 1, "expr"
    at any realistic K."""
    from unittest import mock

    from ksml_spark.operators import similarity

    return mock.patch.object(similarity, "_BLAS_ASSIGN_MIN_K",
                             1 if path == "blas" else 10**9)


def _repr_f(v):
    """repr with IEEE signed zero normalized (r14, VERDICT r13 #1):
    Spark's ROUND goes through BigDecimal HALF_UP and returns +0.0 for
    a ~-2e-200 similarity, while Python's round preserves the sign bit
    and reprs '-0.0'. The values are numerically equal (-0.0 == 0.0),
    so bit-parity comparators must not distinguish their reprs;
    ``v + 0.0`` collapses -0.0 to +0.0 and leaves every other value
    (incl. NaN) unchanged."""
    return repr(v + 0.0) if isinstance(v, float) else repr(v)


# adjudicated Hypothesis counterexamples, pinned as @example decorators
# so a passing run can't garbage-collect them out of the .hypothesis DB
# (VERDICT r13 #2: three restore-commits and counting). The r12
# division corpus: every degenerate envelope class at once — NULL row,
# underflow norm (1e-200 squares to 0.0), NaN component, exact zero
# vector, plus an exactly-duplicated valid pair to force ties.
_R12_DIVISION_CORPUS = [
    None,
    [1e-200, 1e-200, 1e-200],
    [float("nan"), 1.0, 2.0],
    [0.0, 0.0, 0.0],
    [1.0, -2.0, 3.0],
    [1.0, -2.0, 3.0],
    [2.0],
]

vec_corpus = st.lists(
    st.one_of(
        st.none(),
        st.lists(
            st.one_of(
                st.floats(min_value=-4, max_value=4,
                          allow_nan=False, allow_infinity=False),
                st.just(float("nan")),
            ),
            # dim 3; shorter vectors are NULL on both impls since the
            # r13 F.get switch, longer ones truncate
            min_size=1, max_size=5,
        ),
    ),
    min_size=4, max_size=30,
)


@pytest.mark.slow
@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@example(vecs=_R12_DIVISION_CORPUS, n_cents=3)
@given(vecs=vec_corpus, n_cents=st.integers(min_value=1, max_value=6))
def test_kmeans_assign_blas_parity_property(spark, vecs, n_cents):
    """r12 BLAS-assignment invariant: for ANY corpus — including
    NULL / NaN / zero-norm / longer-than-dim vectors and duplicate
    (exactly tied) centroids — the BLAS argmax + near-tie re-decision
    returns the expr crossJoin plan's (cluster, sim) BIT-FOR-BIT."""
    rows = [(i, v) for i, v in enumerate(vecs)]
    # centroid set = the first n_cents non-degenerate rows, duplicated
    # once to force exact ties (smallest-id rule must decide them)
    cent_ids = [i for i, v in rows
                if v is not None and len(v) >= 3
                and not any(x != x for x in v[:3])
                and any(x != 0.0 for x in v[:3])][:n_cents]
    if not cent_ids:
        return  # expr and blas both refuse/degenerate identically
    df = spark.createDataFrame(
        rows + [(1000 + i, vecs[i]) for i in cent_ids],
        "vec_id long, embedding array<double>")
    cond = "vec_id in ({})".format(",".join(
        str(i) for i in cent_ids + [1000 + i for i in cent_ids]))

    def run(path):
        with _assign_path(path):
            out = ksml(["kmeans-assign", ["stream", df, {"key": "vec_id"}],
                        {"id": "vec_id", "vec": "embedding", "dim": 3,
                         "centroids": cond}], spark=spark)
            return sorted((r["vec_id"], r["cluster"], _repr_f(r["sim"]))
                          for r in out.df.collect())

    assert run("expr") == run("blas")


@pytest.mark.slow
@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@example(vecs=_R12_DIVISION_CORPUS, nprobe=2)
@given(vecs=vec_corpus, nprobe=st.integers(min_value=1, max_value=3))
def test_ann_ivf_blas_parity_property(spark, vecs, nprobe):
    """r12 blas query-probe invariant: for ANY corpus (degenerate rows
    included as members/centroids — queries drawn from the valid rows
    only, per the op's envelope) and any nprobe, the blas plan's full
    (q_id, rank, n_id, sim) output equals the expr plan BIT-FOR-BIT:
    the stable top-nprobe + boundary-tie exact re-rank must reproduce
    the row_number window's candidate sets exactly."""
    rows = [(i, v) for i, v in enumerate(vecs)]
    valid = [i for i, v in rows
             if v is not None and len(v) >= 3
             and not any(x != x for x in v[:3])
             and any(x != 0.0 for x in v[:3])]
    if len(valid) < 2:
        return
    cents = valid[:4]                 # may include duplicated vectors
    queries = valid[1::2][:5]
    if not queries:
        return
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    form = {"id": "vec_id", "vec": "embedding", "k": 2, "dim": 3,
            "nprobe": nprobe,
            "queries": "vec_id in ({})".format(
                ",".join(str(i) for i in queries)),
            "centroids": "vec_id in ({})".format(
                ",".join(str(i) for i in cents))}

    def run(path):
        with _assign_path(path):
            out = ksml(["ann-ivf-topk", ["stream", df, {"key": "vec_id"}],
                        form], spark=spark)
            return sorted((r["q_id"], r["rank"], r["n_id"], _repr_f(r["sim"]))
                          for r in out.df.collect())

    assert run("expr") == run("blas")


# tiny-but-nonzero components whose SQUARES underflow to 0.0 — the
# zero-norm envelope class the r12 blas-parity property first caught
vec_corpus_uflow = st.lists(
    st.one_of(
        st.none(),
        st.lists(
            st.one_of(
                st.floats(min_value=-4, max_value=4,
                          allow_nan=False, allow_infinity=False),
                st.just(float("nan")),
                st.just(1e-200),
            ),
            min_size=1, max_size=5,
        ),
    ),
    min_size=4, max_size=25,
)


# the r13-adjudicated signed-zero falsifying class (VERDICT r13 #1),
# pinned deterministically: the query/neighbor pair co-buckets on band
# 1 ("1:1"), their dot is exactly -1e-200 (the 1e-200^2 terms underflow
# out of both norms, so cosine = -1e-200), and round(-1e-200, 6) is
# -0.0 in Python but +0.0 through Spark's BigDecimal ROUND — the repr
# comparison must normalize signed zero or it fails on equal values.
_SIGNED_ZERO_CORPUS = [
    [1.0, 1e-200, 0.0],
    [-2e-200, 1.0, 0.0],
    None,
    [float("nan")],
]


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@example(vecs=_SIGNED_ZERO_CORPUS, bands=2)
@example(vecs=_R12_DIVISION_CORPUS, bands=3)
@given(vecs=vec_corpus_uflow, bands=st.integers(min_value=2, max_value=3))
@pytest.mark.slow
def test_ann_lsh_bands_matches_reference_property(spark, vecs, bands):
    """late-r13 banded ann-lsh invariant: for ANY corpus — NULL / NaN /
    short / zero-norm / underflow-norm vectors included — the banded
    output equals a sequential-order Python reference computed over the
    _valid_vec envelope (degenerate rows match nothing and never
    abort), bit-for-bit including the (sim desc, n_id asc) tie-break."""
    import math

    dim, r, k = 3, 1, 2
    rows = [(i, v) for i, v in enumerate(vecs)]

    def norm_sq_seq(v):
        s = v[0] * v[0]
        for x in v[1:dim]:
            s = s + x * x
        return s

    valid = [i for i, v in rows
             if v is not None and len(v) >= dim
             and not any(x != x for x in v[:dim])
             and norm_sq_seq(v) > 0.0]
    queries = [i for i in valid if i % 3 == 0]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ksml(
        ["ann-lsh-topk", ["stream", df, {"key": "vec_id"}],
         {"id": "vec_id", "vec": "embedding", "dim": dim, "k": k,
          "sign_dims": r, "bands": bands, "max_bucket_pairs": 0,
          "queries": "vec_id % 3 = 0"}],
        spark=spark,
    )
    got = sorted((x["q_id"], x["rank"], x["n_id"], _repr_f(x["sim"]))
                 for x in out.df.collect())

    def seqdot(a, b):
        s = a[0] * b[0]
        for i in range(1, dim):
            s = s + a[i] * b[i]
        return s

    def buckets(v):
        return {f"{j}:" + ("1" if v[j * r] > 0 else "0") for j in range(bands)}

    bkt = {i: buckets(vecs[i]) for i in valid}
    nrm = {i: math.sqrt(norm_sq_seq(vecs[i])) for i in valid}
    expected = []
    for q in queries:
        cands = []
        for n in valid:
            if n == q or not (bkt[q] & bkt[n]):
                continue
            cands.append((seqdot(vecs[q][:dim], vecs[n][:dim])
                          / (nrm[q] * nrm[n]), n))
        cands.sort(key=lambda t: (-t[0], t[1]))
        for rank, (sim, n) in enumerate(cands[:k], start=1):
            expected.append((q, rank, n, _repr_f(round(sim, 6))))
    assert got == sorted(expected)
