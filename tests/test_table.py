"""KTable semantics tests (SURVEY.md §4 item 1, FIXTURES.md F6):
latest-per-key, tombstones, table ops."""

from pyspark.sql import functions as F

from ksml_spark import KTableRel, ksml, pipe


def test_table_latest_per_key_with_tombstones(spark, kv_updates):
    t = ksml(["table", kv_updates, {"key": "key", "time": "event_time"}], spark=spark)
    assert isinstance(t, KTableRel)
    rows = {r["key"]: r["value"] for r in t.df.collect()}
    # a: v2 (newest), b: deleted (tombstone newest), c: v9 (ts 5 > ts 4),
    # d: v4 (resurrected after tombstone)
    assert rows == {"a": "v2", "c": "v9", "d": "v4"}


def test_table_explicit_tombstone_predicate(spark, tables):
    # treat event_type='view' as deletes: a user whose newest event is a
    # view disappears from the table
    t = ksml(
        ["table", tables["events"],
         {"key": "user_id", "time": "ts", "order": ["ts", "event_id"],
          "tombstone": "event_type = 'view'"}],
        spark=spark,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    direct = (
        tables["events"]
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1 and event_type <> 'view'")
        .count()
    )
    assert t.df.count() == direct


def test_table_filter(spark, kv_updates):
    t = ksml(["table", kv_updates, {"key": "key", "time": "event_time"}], spark=spark)
    out = ksml(["filter", t, ["predicate", "value = 'v2'"]], spark=spark)
    assert isinstance(out, KTableRel)
    assert {r["key"] for r in out.df.collect()} == {"a"}


def test_table_map_values(spark, kv_updates):
    t = ksml(["table", kv_updates, {"key": "key", "time": "event_time"}], spark=spark)
    out = ksml(["map-values", t, ["value-mapper", {"value": "upper(value)"}]], spark=spark)
    rows = {r["key"]: r["value"] for r in out.df.collect()}
    assert rows == {"a": "V2", "c": "V9", "d": "V4"}


def test_table_group_by_aggregate(spark, kv_updates):
    # re-group the table by its value and count keys per value
    t = ksml(["table", kv_updates, {"key": "key", "time": "event_time"}], spark=spark)
    out = pipe(
        t if isinstance(t, KTableRel) else t,
        ["group-by", ["key-value-mapper", {"v": "value"}]],
        ["count"],
        spark=spark,
    )
    rows = {r["v"]: r["count"] for r in out.df.collect()}
    assert rows == {"v2": 1, "v9": 1, "v4": 1}


def test_global_table_is_broadcast(spark, tables):
    g = ksml(["global-table", tables["nation"], {"key": "n_nationkey"}], spark=spark)
    s = ksml(["stream", tables["customer"], {"key": "c_nationkey"}], spark=spark)
    joined = ksml(["join", s, g, ["value-joiner", None]], spark=spark)
    plan = joined.df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert joined.df.count() == tables["customer"].count()


def test_table_filter_mapvalues_composition_pin(spark, tables):
    """Retirement pin (r14, clause a):
    the retired table_filter_mapvalues registry row's exact shape —
    latest-per-key table → filter → map-values → to-stream — checked
    bit-for-bit against a pandas reference. Every op it invokes keeps
    driver oracle evidence through a still-registered row (op_filter via
    filter_highqty, op_map_values via map_values_net, the table QUALIFY
    via table_latest_event); this test pins the composition itself."""
    out = pipe(
        ["table", tables["events"],
         {"key": "user_id", "time": "ts", "order": ["ts", "event_id"]}],
        ["filter", ["predicate", "value > 50"]],
        ["map-values", ["value-mapper",
                        {"val_bucket": "cast(floor(value / 10) as bigint)"}]],
        ["to-stream"],
        ["select", {"user_id": "user_id", "val_bucket": "val_bucket"}],
        spark=spark,
    ).df
    got = sorted((r["user_id"], r["val_bucket"]) for r in out.collect())

    pdf = tables["events"].select("user_id", "ts", "event_id", "value").toPandas()
    latest = (pdf.sort_values(["ts", "event_id"])
              .groupby("user_id", as_index=False).last())
    latest = latest[latest["value"] > 50]
    expected = sorted(
        (int(u), int(v // 10))
        for u, v in zip(latest["user_id"], latest["value"])
    )
    assert got == expected
