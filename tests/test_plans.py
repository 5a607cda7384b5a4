"""Physical-plan shape tests — the 100 TB posture, asserted (SURVEY.md §4).

Correctness tests prove the operators compute the right answer; these
prove Catalyst is allowed to execute them the way a 1000-executor cluster
needs: filters reach the parquet scan, projections prune the read schema,
dimension joins broadcast, aggregations have map-side partials, the KTable
view needs no sort, and time-band joins never degenerate into cross
products."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ksml_spark import ksml, pipe
from ksml_spark.plans import explain_str

SF = "/root/testdata/sf0.001"


def plan(df, mode: str = "formatted") -> str:
    return explain_str(df, mode)


def li(sf=SF):
    return ["stream", ["parquet", f"{sf}/lineitem.parquet"],
            {"key": ["l_orderkey", "l_linenumber"]}]


def test_filter_pushdown_reaches_scan(spark):
    out = pipe(li(), ["where", "l_quantity >= 49"],
               ["select", {"l_orderkey": "l_orderkey"}], spark=spark)
    p = plan(out.df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,49" in p


def test_column_pruning_in_read_schema(spark):
    out = pipe(li(), ["select", {"l_orderkey": "l_orderkey", "l_quantity": "l_quantity"}],
               spark=spark)
    p = plan(out.df)
    # the scan must read exactly the 2 projected columns, not all 11
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in p


def test_global_table_join_broadcasts(spark):
    out = ksml(
        ["join-global",
         ["stream", ["parquet", f"{SF}/orders.parquet"], {"key": "o_custkey"}],
         ["global-table", ["parquet", f"{SF}/nation.parquet"],
          {"key": "n_nationkey", "unique": True}],
         ["key-value-mapper", "o_custkey % 25"]],
        spark=spark,
    )
    p = plan(out.df)
    assert "BroadcastHashJoin" in p
    # the big (orders) side must not shuffle for this join
    assert "Exchange hashpartitioning(o_custkey" not in p


def test_aggregation_has_map_side_partials(spark):
    out = pipe(li(), ["group-by", ["key-value-mapper", {"l_returnflag": "l_returnflag"}]],
               ["agg", {"n": "count(1)"}], spark=spark)
    p = plan(out.df, "simple")
    # partial + final hash aggregate around one exchange
    assert p.count("HashAggregate") >= 2
    assert "partial_count" in p


def test_ktable_latest_needs_no_sort(spark):
    out = ksml(
        ["table", ["parquet", f"{SF}/events.parquet"],
         {"key": "user_id", "time": "ts", "order": ["ts", "event_id"]}],
        spark=spark,
    )
    p = plan(out.df, "simple")
    # max_by aggregates with MAP-SIDE PARTIALS: the shuffle carries one row
    # per (key, partition), never the raw table — the property that matters
    # at 100 TB. (A window/row_number plan would shuffle every raw row.)
    assert "partial_max_by" in p
    assert "Window" not in p


def test_interval_join_is_not_cross_product(spark):
    ev = ["stream", ["parquet", f"{SF}/events.parquet"], {"key": "user_id", "time": "ts"}]
    clicks = ksml(["where", ev, "event_type = 'click'"], spark=spark)
    errors = ksml(["where", ev, "event_type = 'error'"], spark=spark)
    out = ksml(["join", clicks, errors, ["join-window", 3600000]], spark=spark)
    p = plan(out.df, "simple")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_repartitioned_hashes_on_key(spark):
    out = pipe(li(), ["repartitioned", 8], spark=spark)
    p = plan(out.df, "simple")
    assert "hashpartitioning(l_orderkey" in p


def test_ann_topk_broadcasts_queries_not_candidates(spark):
    out = pipe(
        ["stream", ["parquet", f"{SF}/embeddings.parquet"], {"key": "vec_id"}],
        ["ann-topk", {"id": "vec_id", "vec": "embedding", "k": 3, "dim": 64,
                      "queries": "vec_id % 50 = 0"}],
        spark=spark,
    )
    p = plan(out.df, "simple")
    assert "BroadcastExchange" in p


def test_lsh_candidates_reuses_signature_exchange(spark):
    out = pipe(
        ["stream", ["parquet", f"{SF}/documents.parquet"], {"key": "doc_id"}],
        ["lsh-candidates", {"col": "text", "id": "doc_id"}],
        spark=spark,
    )
    p = plan(out.df, "simple")
    # the self-join's two signature subtrees must share one cached
    # computation, not recompute the shingle/md5 pipeline per side
    assert p.count("InMemoryTableScan") >= 2
    out.df.sparkSession.catalog.clearCache()


def test_jaccard_pairs_is_codegen_inverted_index(spark):
    """threshold > 0 must use the exploded inverted-index plan: no
    interpreted per-pair array_intersect, pair generation parallelized by
    an explicit repartition on the (block, token) join keys."""
    out = pipe(
        ["stream", ["parquet", f"{SF}/documents.parquet"], {"key": "doc_id"}],
        ["jaccard-pairs", {"col": "text", "id": "doc_id",
                           "block": ["lang"], "threshold": 0.5}],
        spark=spark,
    )
    p = plan(out.df, "simple")
    assert "array_intersect" not in p
    assert "Generate explode" in p
    # user-specified repartition on the join keys (AQE respects the count)
    assert "REPARTITION_BY_NUM" in p or "hashpartitioning(__b0" in p
    # intersection size via hash aggregation with map-side partials
    assert "partial_count" in p


def test_jaccard_pairs_zero_threshold_keeps_all_pairs_path(spark):
    out = pipe(
        ["stream", ["parquet", f"{SF}/documents.parquet"], {"key": "doc_id"}],
        ["jaccard-pairs", {"col": "text", "id": "doc_id",
                           "block": ["lang"], "threshold": 0.0}],
        spark=spark,
    )
    # zero-overlap pairs must be emitted, which the inverted index cannot do
    assert "array_intersect" in plan(out.df, "simple")


def test_fingerprint_spreads_single_split_scan(spark):
    out = pipe(
        ["stream", ["parquet", f"{SF}/documents.parquet"], {"key": "doc_id"}],
        ["fingerprint", {"col": "text"}],
        spark=spark,
    )
    # the interpreted rolling-hash fold must not be pinned to the one scan
    # split: a round-robin exchange precedes it for a single-file source
    assert "roundrobin" in plan(out.df, "simple").lower()


def test_q5_star_join_is_all_broadcast(spark):
    """The 6-table Q5 plan at test scale: every dimension join broadcasts
    (no sort-merge), and the multi-way join never degenerates into a
    cartesian product."""
    import __spark_entry__ as entry

    df = entry.queries()["q5_local_supplier_revenue"](spark, SF)
    p = plan(df, "simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_bucketed_tables_join_without_shuffle(spark):
    """Bucket both sides by the join key at write time -> the join plan has
    NO exchange: the data is already co-located (SURVEY.md §2.1 scale
    note; the bucketing analog of Kafka Streams co-partitioned topics)."""
    import shutil

    for t in ("b_orders", "b_cust"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    orders = ksml(["stream", ["parquet", f"{SF}/orders.parquet"], {"key": "o_custkey"}],
                  spark=spark)
    cust = ksml(["stream", ["parquet", f"{SF}/customer.parquet"], {"key": "c_custkey"}],
                spark=spark)
    ksml(["to", orders, {"table": "b_orders", "bucket_by": ["o_custkey"], "buckets": 8}],
         spark=spark)
    ksml(["to", cust, {"table": "b_cust", "bucket_by": ["c_custkey"], "buckets": 8}],
         spark=spark)
    # disable broadcast so the planner must pick a co-partitioned join
    # (at real scale neither side would be broadcastable)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ksml(
            ["join",
             ["stream", ["table-ref", "b_orders"], {"key": "o_custkey"}],
             ["stream", ["table-ref", "b_cust"], {"key": "c_custkey"}]],
            spark=spark,
        )
        p = plan(joined.df, "simple")
        assert "Exchange" not in p, p
        n = joined.df.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    expected = (
        ksml(["stream", ["parquet", f"{SF}/orders.parquet"], {}], spark=spark).df
        .join(
            ksml(["stream", ["parquet", f"{SF}/customer.parquet"], {}], spark=spark).df,
            F.expr("o_custkey = c_custkey"),
        )
        .count()
    )
    assert n == expected
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_cust")


def test_topology_introspection(spark, tables):
    """DSL-level 'which sources feed this query' (eval_test.clj:56-65
    parity): source registry + kafka topic pattern + scan audit."""
    from ksml_spark import ksml, pipe
    from ksml_spark.plans import topology

    # file sources through a join of two separately-built pipelines
    cust = pipe(["stream", ["parquet", f"{SF}/customer.parquet"],
                 {"key": "c_custkey"}], spark=spark)
    orders = pipe(["table", ["parquet", f"{SF}/orders.parquet"],
                   {"key": "o_custkey", "unique": True}], spark=spark)
    joined = ksml(["join", cust, orders], spark=spark)
    topo = topology(joined)
    paths = {s["path"] for s in topo["sources"] if s.get("type") == "parquet"}
    assert paths == {f"{SF}/customer.parquet", f"{SF}/orders.parquet"}
    ops = {s.get("op") for s in topo["sources"]}
    assert ops == {"stream", "table"}
    assert topo["source_topic_pattern"] is None
    assert topo["read_schemas"]  # physical scan audit present for batch

    # kafka sources surface as a topic pattern (fake transport)
    import tempfile

    from ksml_spark.sources.kafka import write_fake_topic

    d = tempfile.mkdtemp(prefix="topo_kafka_")
    write_fake_topic(tables["nation"].limit(3), d, topic="clicks",
                     key_col="n_nationkey", value_cols=["n_name"])
    k = ksml(["stream", ["kafka", {"subscribe": "clicks,errors", "fake_dir": d}],
              {"stream": False}], spark=spark)
    kt = topology(k)
    assert kt["source_topic_pattern"] == "clicks|errors"

    # ["topology", rel] op form returns the same dict
    t2 = ksml(["topology", joined], spark=spark)
    assert t2["sources"] == topo["sources"]


def test_topology_survives_transforms_across_ksml_calls(spark):
    """Source registry must survive non-join ops applied in a separate
    ksml() call (review finding: with_df drops dynamic attrs)."""
    from ksml_spark.plans import topology

    t = pipe(["stream", ["parquet", f"{SF}/customer.parquet"],
              {"key": "c_custkey"}], spark=spark)
    t2 = ksml(["where", t, "c_acctbal > 0"], spark=spark)
    topo = topology(t2)
    assert [s["path"] for s in topo["sources"]] == [f"{SF}/customer.parquet"]


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The corpus (100 TB side) must never shuffle for the gram probe:
    the benchmark posting list is broadcast, and the only exchange is
    the shared-gram count aggregation."""
    out = pipe(
        ["decontaminate",
         ["stream", ["parquet", f"{SF}/documents.parquet"], {"key": "doc_id"}],
         ["where", ["stream", ["parquet", f"{SF}/documents.parquet"],
                    {"key": "doc_id"}], "doc_id % 41 = 0"],
         {"n": 3, "min_shared": 2}],
        spark=spark,
    )
    p = plan(out.df, "simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "partial_count" in p  # map-side combine before the one exchange


def test_expect_is_single_agg_pass_no_joins(spark):
    """expect computes every constraint from ONE aggregation pass over the
    input: no joins, map-side partials; the only extra exchange is
    count_distinct's two-phase expand."""
    out = pipe(
        ["stream", ["parquet", f"{SF}/documents.parquet"], {"key": "doc_id"}],
        ["expect", {"not_null": ["text"], "unique": ["doc_id"],
                    "accepted": {"lang": ["en", "de"]}, "min_rows": 10}],
        spark=spark,
    )
    p = plan(out.df, "simple")
    assert "Join" not in p
    assert "partial_count" in p
    assert p.count("Exchange") <= 2  # base agg + count_distinct phase


def test_histogram_prunes_scan_and_pushes_null_filter(spark):
    """histogram reads ONLY the binned column, pushes the null filter to
    the parquet scan, and shuffles at most `bins` rows (one exchange,
    partial counts)."""
    out = pipe(
        ["stream", ["parquet", f"{SF}/orders.parquet"], {"key": "o_orderkey"}],
        ["histogram", {"col": "o_totalprice", "bins": 10,
                       "min": 0, "max": 600000}],
        spark=spark,
    )
    p = plan(out.df, "simple")
    assert "partial_count" in p
    assert p.count("Exchange") == 1
    assert "ReadSchema: struct<o_totalprice:double>" in p
    assert "IsNotNull(o_totalprice)" in p  # pushed to the scan


@pytest.mark.slow
def test_no_query_plans_a_cartesian_or_stray_nested_loop(spark):
    """Bulk scale audit over EVERY registry query's physical plan: no
    CartesianProduct anywhere; BroadcastNestedLoopJoin only where the
    broadcast fan-out IS the algorithm (ANN brute-force / IVF and
    k-means assignment score every vector against a tiny broadcast
    centroid/query set — the documented vector-x-K shape; bm25 joins
    every matching posting against the broadcast ONE-ROW (N, avgdl)
    corpus-stats relation, and mix attaches the one-row binding-group
    minimum to the |groups|-row cutoff table — conditionless scalar
    attaches between tiny aggregates)."""
    import __spark_entry__ as m

    bnlj_ok = {"semdedup_embeddings",  # kmeans-assign stage: vector x K centroid broadcast
               "ann_topk", "ann_ivf_topk", "bm25_scores",
               "mix_sources",
               # corpus-stats ops attach broadcast ONE-ROW normalizer
               # aggregates (vocab size V, token/bigram totals, doc count N)
               # via conditionless cross joins — scalar attach, not fan-out
               "lm_ppl_kn", "pmi_collocations", "tfidf_topk_terms",
               "dist_shift_js",
               # dsir attaches one-row (__tp, __tq) hash-total aggregates
               # onto the <=8192-row lambda table — same scalar-attach class
               "dsir_scores",
               # r12 invariant oracle: joins TWO one-row global aggregates
               # (cluster invariants x corpus validity counts) on constant
               # keys Catalyst folds away — a 1x1 scalar attach
               "kmeans_centroids"}
    bad = []
    for name, fn in m.queries().items():
        p = (fn(spark, "/root/testdata/sf0.001")
             ._jdf.queryExecution().executedPlan().toString())
        if "CartesianProduct" in p:
            bad.append((name, "cartesian"))
        if "BroadcastNestedLoopJoin" in p and name not in bnlj_ok:
            bad.append((name, "nested-loop join"))
    assert not bad, bad


def test_lm_score_model_joins_broadcast_and_preagg(spark):
    """lm-score's docstring promises vocab-sized model joins are
    broadcast-able ({"broadcast": true}) and that the scored side
    pre-aggregates per (doc, gram, prefix) BEFORE joining the model —
    so the join input is distinct grams per doc, not every token
    position (corpus.py). Asserted here: both model joins become
    BroadcastHashJoin, the vocab scalar rides a broadcast too, and a
    partial_count aggregate sits below the first model join."""
    out = pipe(
        ["stream", ["parquet", f"{SF}/documents.parquet"], {"key": "doc_id"}],
        ["lm-score", {"col": "text", "id": "doc_id", "n": 2, "k": 0.1,
                      "broadcast": True}],
        spark=spark,
    )
    p = plan(out.df)
    # gram-count join + prefix-count join + vocab scalar: all broadcast
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "BroadcastNestedLoopJoin" in p or p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p
    # the scored side is a hash agg over (doc, gram, prefix) with
    # map-side partials, planned below the model joins
    assert "partial_count" in p
    first_join = p.find("BroadcastHashJoin")
    assert "HashAggregate" in p[first_join:], "no pre-agg below the model joins"


def test_lm_score_default_plan_has_no_cartesian(spark):
    """Without the broadcast hint the model joins are shuffle joins —
    fine — but the vocab scalar must still not plan a cartesian."""
    out = pipe(
        ["stream", ["parquet", f"{SF}/documents.parquet"], {"key": "doc_id"}],
        ["lm-score", {"col": "text", "id": "doc_id"}],
        spark=spark,
    )
    p = plan(out.df)
    assert "CartesianProduct" not in p


def test_winnow_query_no_filter_reexpansion(spark):
    """The winnow + explode composition must not let Catalyst infer a
    ``size(fp) > 0`` predicate from the explode and push the full
    O(shingles x window) md5 chain into a Filter below the fingerprint
    projections (33s -> ~1s at sf0.01 when this regressed during
    development). explode_outer keeps the filter out entirely; the only
    md5 evaluation sites must be Project nodes.

    Pinned on an inline pipe — the ``winnow_fingerprints`` registry row
    was retired r09 under the swap rule, but the plan lesson outlives it."""
    df = pipe(
        ["stream", ["parquet", f"{SF}/documents.parquet"], {"key": "doc_id"}],
        ["winnow", {"col": "text", "id": "doc_id", "k": 3, "window": 4}],
        ["select", {"doc_id": "doc_id", "fp": "explode_outer(fp)"}],
        spark=spark,
    ).df
    p = (df._jdf.queryExecution().executedPlan().toString())
    for line in p.splitlines():
        if "Filter" in line and "md5" in line:
            raise AssertionError(f"md5 chain re-expanded in a Filter: {line[:200]}")
    assert "md5" in p  # the chain exists somewhere (a Project)


def test_dup_spans_plan_hash_aggs_only(spark):
    """dup-spans must be hash aggregates + one gram equi-join: no
    cartesian/nested-loop pair generation, no sort aggregate, and no
    Python workers (pure expression tokenize+md5)."""
    out = pipe(
        ["stream", ["parquet", f"{SF}/documents.parquet"], {"key": "doc_id"}],
        ["dup-spans", {"col": "text", "id": "doc_id"}],
        spark=spark)
    p = plan(out.df, "simple")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "HashAggregate" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_join_hint_controls_physical_strategy(spark):
    """{"hint": ...} on a join must reach the physical plan: broadcast
    forces BroadcastHashJoin where sizes would pick sort-merge, and
    shuffle_hash forces ShuffledHashJoin; bad hints get the curated
    error."""
    from ksml_spark.errors import ArityError

    li_rel = ["stream", ["parquet", f"{SF}/lineitem.parquet"],
              {"key": "l_orderkey"}]
    ord_rel = ["stream", ["parquet", f"{SF}/orders.parquet"],
               {"key": "o_orderkey"}]
    # disable auto-broadcast so only the hint can produce a BHJ
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        base = pipe(["join", li_rel, ord_rel], spark=spark)
        assert "SortMergeJoin" in plan(base.df, "simple")
        hinted = pipe(["join", li_rel, ord_rel, {"hint": "broadcast"}],
                      spark=spark)
        assert "BroadcastHashJoin" in plan(hinted.df, "simple")
        sh = pipe(["join", li_rel, ord_rel, {"hint": "shuffle_hash"}],
                  spark=spark)
        assert "ShuffledHashJoin" in plan(sh.df, "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    with pytest.raises(ArityError, match="join hint must be one of"):
        pipe(["join", li_rel, ord_rel, {"hint": "nested_loop"}], spark=spark)


def test_read_parquet_schema_cache_skips_inference_job(spark):
    """Fixed-cost posture (r18): a warm read_parquet must launch NO
    Spark job at construction (the cold path pays one eager 1-task
    schema-inference job per call — per-invocation overhead on every
    table every query loads), and the cached-schema read must return
    the identical schema and rows, including the TIMESTAMP(NANOS)
    rebuild on events."""
    from ksml_spark.sources.files import _SCHEMA_CACHE, read_parquet

    st = spark.sparkContext.statusTracker()
    for table in ("events", "embeddings"):
        path = f"{SF}/{table}.parquet"
        cold = read_parquet(spark, path)  # populates the cache
        assert path in _SCHEMA_CACHE
        n0 = len(st.getJobIdsForGroup(None) or [])
        warm = read_parquet(spark, path)
        assert len(st.getJobIdsForGroup(None) or []) == n0, (
            f"warm read_parquet({table}) launched a construction job"
        )
        assert warm.schema == cold.schema
        key = warm.columns[0]
        assert (warm.orderBy(key).limit(20).collect()
                == cold.orderBy(key).limit(20).collect())
    # the nano rebuild must survive the cached path: events.ts is
    # TIMESTAMP(NANOS) on disk and must surface as a usable timestamp
    ev = read_parquet(spark, f"{SF}/events.parquet")
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_read_parquet_rereads_schema_of_rewritten_path(spark, tmp_path):
    """The schema and nano-column caches are keyed by path but validated
    by the file's (mtime_ns, size): a path rewritten in-process with a
    different schema must read with the NEW schema, nano rebuild
    included, not the cached one."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ksml_spark.sources.files import read_parquet

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert read_parquet(spark, path).columns == ["a"]
    ts = pa.array([dt.datetime(2024, 1, 1, 0, 0, 1)] * 2, pa.timestamp("ns"))
    pq.write_table(pa.table({"a": pa.array([3, 4], pa.int64()),
                             "b": pa.array(["x", "y"]), "ts": ts}), path)
    df = read_parquet(spark, path)
    assert dict(df.dtypes) == {"a": "bigint", "b": "string", "ts": "timestamp"}
    assert sorted(r["a"] for r in df.collect()) == [3, 4]
