"""Sink / terminal op coverage (SURVEY.md §2.1): :to!, :print!, :foreach,
plus the plan-inspection utilities."""

from __future__ import annotations

import glob
import os
import sys

import pytest

from ksml_spark import ksml, pipe
from ksml_spark.plans import explain_str, scan_summary


def test_to_parquet_roundtrip(spark, tables, tmp_path):
    path = str(tmp_path / "out")
    sink = ksml(
        ["to", ["stream", tables["nation"], {"key": "n_nationkey"}],
         {"format": "parquet", "path": path}],
        spark=spark,
    )
    assert sink.target == path
    back = spark.read.parquet(path)
    assert back.count() == tables["nation"].count()


def test_foreach_runs_per_record(spark, tables, tmp_path):
    marker_dir = str(tmp_path / "markers")
    os.makedirs(marker_dir)

    def side_effect(row):
        with open(f"{marker_dir}/{row['n_nationkey']}", "w") as f:
            f.write(row["n_name"])

    ksml(
        ["foreach", ["stream", tables["nation"], {"key": "n_nationkey"}],
         ["foreach-action", side_effect]],
        spark=spark,
    )
    assert len(glob.glob(f"{marker_dir}/*")) == tables["nation"].count()


def test_print_batch(spark, tables, capsys):
    ksml(["print", ["stream", tables["region"], {"key": "r_regionkey"}]], spark=spark)
    # df.show writes via the JVM; just assert the call completed and the
    # sink handle is the console
    assert True


def test_scan_summary_reports_pushdown(spark):
    out = pipe(
        ["stream", ["parquet", "/root/testdata/sf0.001/lineitem.parquet"],
         {"key": ["l_orderkey", "l_linenumber"]}],
        ["where", "l_quantity >= 49"],
        ["select", {"l_orderkey": "l_orderkey"}],
        spark=spark,
    )
    s = scan_summary(out)
    assert any("GreaterThanOrEqual" in f for f in s["pushed_filters"])
    assert s["read_schemas"] == ["struct<l_orderkey:bigint,l_quantity:double>"]
    assert "FileScan" in explain_str(out, "simple")


# ---------------------------------------------------------------------------
# serving layer (ring.clj parity: key lookup over materialized state)

def test_serve_batch_windowed_count_point_lookup(spark, tables):
    from ksml_spark import pipe

    counts = pipe(
        ["stream", tables["events"], {"key": "event_type", "time": "ts"}],
        ["group-by-key"],
        ["windowed-by", ["time-window", 3600000]],
        ["count"],
        spark=spark,
    )
    h = ksml(["serve", counts, {"name": "served_counts"}], spark=spark)
    batch_rows = counts.df.collect()
    probe = batch_rows[3]
    got = h.lookup({"window_start": probe["window_start"],
                    "event_type": probe["event_type"]})
    assert len(got) == 1
    assert got[0]["count"] == probe["count"]
    # tuple form resolves positionally against the rel's key columns
    got2 = h.lookup((probe["window_start"], probe["event_type"]))
    assert got2[0]["count"] == probe["count"]
    assert len(h.all()) == len(batch_rows)


def test_serve_streaming_complete_snapshot_lookup(spark, tables, tmp_path):
    """Streaming aggregate served in complete mode: point lookup equals
    the batch answer (the ring.clj use-case without host routing)."""
    from ksml_spark import pipe
    from ksml_spark.streaming.runtime import file_stream_source

    p = str(tmp_path / "events")
    tables["events"].write.parquet(p)
    counts = pipe(
        ["stream", file_stream_source(spark, p), {"key": "user_id", "time": "ts"}],
        ["group-by-key"],
        ["count"],
        spark=spark,
    )
    assert counts.df.isStreaming
    h = ksml(["serve", counts, {"name": "served_user_counts"}], spark=spark)
    batch = {r["user_id"]: r["count"]
             for r in tables["events"].groupBy("user_id").count().collect()}
    probe = next(iter(batch))
    got = h.lookup(probe)
    assert len(got) == 1 and got[0]["count"] == batch[probe]
    assert {r["user_id"]: r["count"] for r in h.all()} == batch
    h.stop()


def test_serve_table_storage_bucket_pruned_lookup(spark, tables):
    """storage='table': the serving copy is a catalog table BUCKETED by
    the key, and a key lookup prunes the scan to ONE bucket — the Spark
    analog of ring.clj routing a lookup to the instance hosting the key.
    This is the beyond-driver-memory serving path."""
    from pyspark.sql import functions as F

    from ksml_spark import pipe

    counts = pipe(
        ["stream", tables["events"], {"key": "user_id", "time": "ts"}],
        ["group-by-key"],
        ["count"],
        spark=spark,
    )
    h = ksml(["serve", counts,
              {"name": "served_bucketed", "storage": "table", "buckets": 8}],
             spark=spark)
    try:
        batch = {r["user_id"]: r["count"]
                 for r in tables["events"].groupBy("user_id").count().collect()}
        probe = next(iter(batch))
        got = h.lookup(probe)
        assert len(got) == 1 and got[0]["count"] == batch[probe]
        assert {r["user_id"]: r["count"] for r in h.all()} == batch
        # the plan lookup() executes: auto-bucketed-scan off (it only
        # credits avoided shuffles, not pruning), scan prunes to 1 bucket
        key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        spark.conf.set(key, "false")
        try:
            plan = (
                h.df().filter(F.col("user_id") == probe)
                ._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted"))
            )
        finally:
            spark.conf.set(key, "true")
        assert "SelectedBucketsCount: 1 out of 8" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS served_bucketed")


def test_serve_table_concurrent_lookups_restore_conf(spark):
    """Bucketed lookups switch autoBucketedScan off for the whole session
    around their collect. Eight client threads looking up at once must
    each get the right rows, and the session must end with the conf it
    started with (interleaved restores used to leave it at "false")."""
    from concurrent.futures import ThreadPoolExecutor

    df = spark.createDataFrame([(k, k * 10) for k in range(16)],
                               "k long, v long")
    h = ksml(["serve", ["stream", df, {"key": "k"}],
              {"name": "served_concurrent", "storage": "table", "buckets": 4}],
             spark=spark)
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prior = spark.conf.get(key)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the client threads often
    try:
        def client(i):
            return [(k, [r["v"] for r in h.lookup(k)])
                    for k in (i, i + 8) * 3]

        with ThreadPoolExecutor(max_workers=8) as pool:
            results = list(pool.map(client, range(8), timeout=300))
        assert len(results) == 8
        for got in results:
            for k, vs in got:
                assert vs == [k * 10], (k, vs)
        assert spark.conf.get(key) == prior
    finally:
        sys.setswitchinterval(switch)
        spark.sql("DROP TABLE IF EXISTS served_concurrent")


def test_serve_streaming_table_storage_refresh(spark, tables, tmp_path):
    """Streaming aggregate served into a bucketed catalog table
    (complete-mode snapshot overwrite per trigger): lookups match the
    batch answer and the table is bucketed by the key."""
    from ksml_spark import pipe
    from ksml_spark.streaming.runtime import file_stream_source

    p = str(tmp_path / "events")
    tables["events"].write.parquet(p)
    counts = pipe(
        ["stream", file_stream_source(spark, p), {"key": "user_id", "time": "ts"}],
        ["group-by-key"],
        ["count"],
        spark=spark,
    )
    h = ksml(["serve", counts,
              {"name": "served_stream_tbl", "storage": "table", "buckets": 4}],
             spark=spark)
    try:
        batch = {r["user_id"]: r["count"]
                 for r in tables["events"].groupBy("user_id").count().collect()}
        probe = next(iter(batch))
        got = h.lookup(probe)
        assert len(got) == 1 and got[0]["count"] == batch[probe]
        ddl = spark.sql("SHOW CREATE TABLE served_stream_tbl").first()[0]
        assert "CLUSTERED BY (user_id)" in ddl and "INTO 4 BUCKETS" in ddl
    finally:
        h.stop()
        spark.sql("DROP TABLE IF EXISTS served_stream_tbl")


def test_serve_requires_name_and_key(spark, tables):
    import pytest as _pytest

    from ksml_spark import pipe
    from ksml_spark.errors import ArityError

    s = pipe(["stream", tables["events"], {"key": "user_id", "time": "ts"}], spark=spark)
    with _pytest.raises(ArityError, match="name"):
        ksml(["serve", s, {}], spark=spark)
    h = ksml(["serve", s, {"name": "served_raw"}], spark=spark)
    with _pytest.raises(ArityError, match="key parts"):
        h.lookup(("a", "b"))


def test_serve_accepts_bare_string_key_option(spark, tables):
    h = ksml(["serve",
              pipe(["stream", tables["events"], {"key": "user_id", "time": "ts"}],
                   spark=spark),
              {"name": "served_str_key", "key": "event_id"}], spark=spark)
    assert h.key_cols == ("event_id",)
    probe = tables["events"].first()
    got = h.lookup(probe["event_id"])
    assert len(got) == 1 and got[0]["user_id"] == probe["user_id"]


def test_serve_table_update_mode_compaction(spark, tmp_path):
    """update-mode table storage compacts the emission log to its
    current truth every compact_every batches: the physical table stays
    O(current state) while lookups return the same answer."""
    import json
    import os

    from pyspark.sql.types import StructType

    sdir = str(tmp_path / "src_compact")
    os.makedirs(sdir)
    batches = [
        [{"side": "l", "key": "a", "lval": 1, "event_time": "2024-01-01T00:00:01"},
         {"side": "r", "key": "a", "rname": "x0", "event_time": "2024-01-01T00:00:01"}],
        [{"side": "r", "key": "a", "rname": "x1", "event_time": "2024-01-01T00:00:05"}],
        [{"side": "l", "key": "a", "lval": 2, "event_time": "2024-01-01T00:00:09"},
         {"side": "r", "key": "b", "rname": "y", "event_time": "2024-01-01T00:00:09"},
         {"side": "l", "key": "b", "lval": 7, "event_time": "2024-01-01T00:00:09"}],
    ]
    for i, rows in enumerate(batches):
        p = os.path.join(sdir, f"b{i}.json")
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (i + 1, i + 1))
    schema = ("side string, key string, lval long, rname string, "
              "event_time timestamp")
    src = (spark.readStream.schema(StructType.fromDDL(schema))
           .option("maxFilesPerTrigger", 1).json(sdir))
    out = ksml(
        ["join",
         ["table", src.filter("side = 'l'").drop("rname", "side"),
          {"key": "key", "time": "event_time", "order": ["event_time"]}],
         ["table", src.filter("side = 'r'").drop("lval", "side"),
          {"key": "key", "time": "event_time", "order": ["event_time"]}]],
        spark=spark,
    )
    h = ksml(["serve", out, {"name": "served_compact", "storage": "table",
                             "buckets": 4, "compact_every": 2,
                             "checkpoint": str(tmp_path / "ck_compact")}],
             spark=spark)
    try:
        got = {r["key"]: r for r in h.all()}
        assert got["a"]["lval"] == 2 and got["a"]["rname"] == "x1"
        assert got["b"]["lval"] == 7 and got["b"]["rname"] == "y"
        # key a emitted 3 times across batches; the batch-2 compaction
        # (batch_id 1) folded emissions 1-2 into one row, so the
        # physical log holds fewer rows than total emissions
        raw_rows = spark.table("served_compact").count()
        assert raw_rows == 3, raw_rows  # a@compaction, a@batch3, b@batch3
    finally:
        h.stop()
        spark.sql("DROP TABLE IF EXISTS served_compact")


def test_serve_compaction_crash_recovery_restores_tmp(spark):
    """If the compaction swap crashes between DROP TABLE and RENAME, the
    full compacted state lives only in <name>__compact_tmp. On restart
    the retried micro-batch must rename tmp back — NOT seed a fresh
    table from the single batch (which would silently lose every other
    key, including __closed finals). Drives _seed_or_recover directly
    against the simulated crash state."""
    from ksml_spark.streaming.serving import _bucketed_write, _seed_or_recover

    name, tmp = "served_crash", "served_crash__compact_tmp"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    try:
        # crash state: tmp holds the compacted truth (old keys + the
        # retried batch's key), `name` was dropped before the rename
        full = spark.createDataFrame(
            [("a", 1, 5), ("b", 7, 5), ("c", 3, 4)], "key string, v int, __seq int")
        _bucketed_write(full, tmp, ("key",), 4)
        retried = spark.createDataFrame([("b", 7, 5)], "key string, v int, __seq int")
        _seed_or_recover(spark, retried, name, ("key",), 4, batch_id=31)
        got = {r["key"]: r["v"] for r in spark.table(name).collect()}
        assert got == {"a": 1, "b": 7, "c": 3}, got  # full state, no dup of b
        assert spark.table(name).count() == 3
        assert not spark.catalog.tableExists(tmp)
        # fresh-seed path: no tmp -> seed from the batch
        spark.sql(f"DROP TABLE {name}")
        _seed_or_recover(spark, retried, name, ("key",), 4, batch_id=0)
        assert [r["key"] for r in spark.table(name).collect()] == ["b"]
        # STALE tmp: batch 0 of a FRESH run (new checkpoint) cannot have
        # produced a tmp (first compaction fires at batch >= 1), so a
        # leftover tmp from an abandoned run must be dropped, not
        # resurrected — its higher __seq rows would permanently win the
        # latest-emission dedup over the new run's (seq restarts at 1)
        spark.sql(f"DROP TABLE {name}")
        _bucketed_write(full, tmp, ("key",), 4)
        fresh = spark.createDataFrame([("z", 9, 1)], "key string, v int, __seq int")
        _seed_or_recover(spark, fresh, name, ("key",), 4, batch_id=0)
        assert [r["key"] for r in spark.table(name).collect()] == ["z"]
        assert not spark.catalog.tableExists(tmp)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")


def test_serve_memory_ceiling_guard(spark, tables, tmp_path):
    """The streaming memory sink holds the served snapshot in driver
    RAM. Past max_memory_rows the handle warns (default) or raises
    (overflow='error'), naming storage='table' as the fix — the
    driver-memory ceiling surfaces as a signal, not an eventual OOM."""
    import warnings

    from ksml_spark import pipe
    from ksml_spark.errors import ArityError
    from ksml_spark.streaming.runtime import file_stream_source

    p = str(tmp_path / "events")
    tables["events"].write.parquet(p)

    def serve(name, **extra):
        counts = pipe(
            ["stream", file_stream_source(spark, p),
             {"key": "user_id", "time": "ts"}],
            ["group-by-key"], ["count"], spark=spark)
        return ksml(["serve", counts, {"name": name, **extra}], spark=spark)

    nkeys = tables["events"].select("user_id").distinct().count()
    assert nkeys > 3  # the tiny cap below must actually be exceeded

    with pytest.warns(ResourceWarning, match="storage.*table"):
        h = serve("served_capped", max_memory_rows=3)
    h.stop()

    with pytest.raises(ArityError, match="max_memory_rows"):
        serve("served_capped_err", max_memory_rows=3, overflow="error")

    # a cap sized for the snapshot stays silent (availableNow queries
    # check once post-drain; refresh() re-checks for live triggers)
    with warnings.catch_warnings():
        warnings.simplefilter("error", ResourceWarning)
        h = serve("served_uncapped", max_memory_rows=nkeys)
    h.stop()

    with pytest.raises(ArityError, match="warn.*error"):
        serve("served_badopt", overflow="sometimes")


def test_serve_host_for_metadata(spark, tables):
    """ring.clj parity shim (find-host ring.clj:15-18, remote?/proxy
    ring.clj:20-53): host_for(key) names the serving endpoint and the
    shard. Spark has ONE serving endpoint (the driver), so remote is
    always False; the routing analog is the bucket — asserted against
    where the bucketed write actually placed the key's row (the bucket
    id embedded in the parquet file name)."""
    import re

    from pyspark.sql import functions as F

    from ksml_spark import pipe

    counts = pipe(
        ["stream", tables["events"], {"key": "user_id", "time": "ts"}],
        ["group-by-key"], ["count"], spark=spark)
    h = ksml(["serve", counts,
              {"name": "served_hostfor", "storage": "table", "buckets": 4}],
             spark=spark)
    try:
        probe = tables["events"].select("user_id").first()["user_id"]
        info = h.host_for(probe)
        assert info["remote"] is False
        assert info["store"] == "served_hostfor"
        assert info["buckets"] == 4
        assert info["bucket"] in range(4)
        assert isinstance(info["host"], str) and info["host"]
        # ground truth: bucketed parquet file names carry the bucket id
        # as the _NNNNN suffix — the key's row must live in the bucket
        # host_for computed (same Murmur3-pmod the write used)
        fname = (
            spark.table("served_hostfor")
            .withColumn("f", F.input_file_name())
            .filter(F.col("user_id") == probe)
            .first()["f"]
        )
        m = re.search(r"_(\d{5})\.", fname)
        assert m, f"no bucket suffix in {fname}"
        assert int(m.group(1)) == info["bucket"]

        # memory-storage handle: endpoint metadata, no shard to name
        h2 = ksml(["serve", counts, {"name": "served_hostfor_mem"}], spark=spark)
        info2 = h2.host_for(probe)
        assert info2["remote"] is False and info2["bucket"] is None
    finally:
        spark.sql("DROP TABLE IF EXISTS served_hostfor")


def _land(dirpath, name: str, rows) -> None:
    """Add one parquet file of (k string, n long) rows to a streamed
    directory, renamed into place whole so the file source never lists a
    half-written file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = os.path.join(os.path.dirname(dirpath), f".{name}.tmp")
    pq.write_table(pa.table({"k": pa.array([k for k, _ in rows], pa.string()),
                             "n": pa.array([n for _, n in rows], pa.int64())}),
                   tmp)
    os.replace(tmp, os.path.join(dirpath, f"{name}.parquet"))


def _served_counts(spark, dirpath, name: str, **opts):
    """A live complete-mode memory handle: per-key row counts of the
    streamed directory."""
    from ksml_spark.streaming.runtime import file_stream_source

    counts = pipe(["stream", file_stream_source(spark, str(dirpath)), {"key": "k"}],
                  ["group-by-key"], ["count"], spark=spark)
    return ksml(["serve", counts, {"name": name, **opts}], spark=spark)


def _jobs_in_group(spark, fn) -> int:
    """Spark jobs ``fn()`` starts on this thread."""
    import uuid

    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_serve_memory_lookups_run_no_spark_job(spark, tmp_path):
    """A full-key lookup on a streaming memory handle reads the rows the
    handle folded: no lookup starts a Spark job, before or after a new
    batch."""
    src = tmp_path / "src"
    src.mkdir()
    _land(str(src), "f0", [("a", 1), ("b", 1)])
    h = _served_counts(spark, src, "served_nojob", trigger="100 milliseconds")
    try:
        h.refresh()
        assert [r["count"] for r in h.lookup("a")] == [1]
        assert _jobs_in_group(spark, lambda: [h.lookup("a") for _ in range(50)]) == 0

        _land(str(src), "f1", [("a", 1), ("c", 1)])
        h.refresh()
        got = []
        assert _jobs_in_group(
            spark, lambda: got.extend(h.lookup(k) for k in ["a", "c", "z"] * 17)
        ) == 0
        assert [[r["count"] for r in rows] for rows in got[:3]] == [[2], [1], []]
        # a probe that is not a full key (a non-key column) scans
        scanned: list = []
        assert _jobs_in_group(
            spark, lambda: scanned.extend(h.lookup({"k": "a", "count": 2}))) >= 1
        assert [r["count"] for r in scanned] == [2]
    finally:
        h.stop()


def test_serve_lookups_concurrent_with_refresh(spark, tmp_path):
    """Three threads look up while files land. After refresh() returns,
    every key written so far reads at its latest count; no thread sees a
    count go backwards, a seen key vanish, or two rows for one key."""
    import random
    import threading

    src = tmp_path / "src"
    src.mkdir()
    _land(str(src), "f0", [("k0", 1), ("k1", 1)])
    h = _served_counts(spark, src, "served_concurrent_refresh", trigger="100 milliseconds")
    h.refresh()
    stop = threading.Event()
    errors: list = []

    def client(seed: int) -> None:
        rng = random.Random(seed)
        seen: dict = {}
        try:
            while not stop.is_set():
                k = f"k{rng.randrange(12)}"
                rows = h.lookup(k)
                assert len(rows) <= 1, (k, rows)
                n = rows[0]["count"] if rows else 0
                assert n >= seen.get(k, 0), (k, n, seen.get(k))
                seen[k] = n
        except BaseException as e:  # reported by the main thread
            errors.append(e)

    threads = [threading.Thread(target=client, args=(i,), daemon=True)
               for i in range(3)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)  # interleave the client threads often
    for t in threads:
        t.start()
    try:
        expected = {"k0": 1, "k1": 1}
        for i in range(1, 6):
            keys = [f"k{j}" for j in range(2 * i + 2)]
            _land(str(src), f"f{i}", [(k, 1) for k in keys])
            for k in keys:
                expected[k] = expected.get(k, 0) + 1
            h.refresh()
            got = {k: [r["count"] for r in h.lookup(k)] for k in expected}
            assert got == {k: [n] for k, n in expected.items()}
    finally:
        stop.set()
        for t in threads:
            t.join(30)
        sys.setswitchinterval(switch)
        h.stop()
    assert not errors, errors[0]
    assert not any(t.is_alive() for t in threads)


def test_serve_index_fallback_matches_filter(spark, tmp_path):
    """Probes the index cannot answer exactly — a partial key, NULL, an
    int on a string column, a tz-aware datetime — return what the
    filtered scan returns; a full exact probe returns it too."""
    import datetime as dt

    from ksml_spark.streaming.runtime import file_stream_source

    t0, t1 = dt.datetime(2024, 1, 1, 0, 0), dt.datetime(2024, 1, 1, 0, 5)
    src = str(tmp_path / "src")
    # numeric strings: Spark's `k = 1` casts k to a number ("1" and "01"
    # both match), where a dictionary probe would match neither
    spark.createDataFrame(
        [("1", t0), ("1", t0), ("1", t1), ("01", t0), ("2", t1)],
        "k string, t timestamp").write.parquet(src)
    counts = pipe(["stream", file_stream_source(spark, src), {"key": "k"}],
                  ["group-by", ["key-value-mapper", {"k": "k", "t": "t"}]],
                  ["count"], spark=spark)
    h = ksml(["serve", counts, {"name": "served_fallback"}], spark=spark)
    assert h.query is not None and h.key_cols == ("k", "t")

    def scan(probe: dict) -> list:
        df = h.df()
        for c, v in probe.items():
            df = df.filter(df[c] == v)
        return sorted(df.collect())

    probes = [
        {"k": "1", "t": t0},                        # exact: the index
        ("1", t1),                                  # positional exact
        {"k": "1"},                                 # partial key
        {"k": None, "t": t0},                       # NULL
        {"k": 1, "t": t0},                          # int on a string key
        {"k": "1", "t": t0.replace(tzinfo=dt.timezone.utc)},  # tz-aware
        {"k": "9", "t": t0},                        # absent key
    ]
    for probe in probes:
        want = scan(probe if isinstance(probe, dict) else dict(zip(h.key_cols, probe)))
        assert sorted(h.lookup(probe)) == want, probe
    assert [r["count"] for r in h.lookup({"k": "1", "t": t0})] == [2]
    assert len(h.lookup({"k": "1"})) == 2
    assert sorted(r["k"] for r in h.lookup({"k": 1, "t": t0})) == ["01", "1"]


def test_serve_handles_of_one_name_answer_from_their_own_state(spark, tmp_path):
    """Two streaming memory handles of one name each answer lookups,
    ``all()`` and scans from the rows they folded: a later ``serve``
    of the name leaves the earlier handle's answers as they were."""
    src = tmp_path / "src"
    src.mkdir()
    _land(str(src), "f0", [("a", 1), ("b", 1)])
    old = _served_counts(spark, src, "served_takeover")
    assert [r["count"] for r in old.lookup("a")] == [1]
    _land(str(src), "f1", [("a", 1)])
    new = _served_counts(spark, src, "served_takeover")
    assert [r["count"] for r in new.lookup("a")] == [2]
    assert [r["count"] for r in old.lookup("a")] == [1]
    assert [r["count"] for r in old.lookup({"k": "a"})] == [1]
    assert sorted((r["k"], r["count"]) for r in old.all()) == [("a", 1), ("b", 1)]
    assert sorted((r["k"], r["count"]) for r in new.all()) == [("a", 2), ("b", 1)]
    assert not spark.catalog.tableExists("served_takeover")


def test_serve_memory_handle_restarts_from_its_checkpoint(spark, tmp_path):
    """A memory handle stopped and served again on the same checkpoint
    serves every key at its cumulative count once a new file lands, not
    only the keys the new file touches."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _land(str(src), "f0", [("a", 1), ("b", 1), ("b", 1)])
    h = _served_counts(spark, src, "served_restart", trigger="100 milliseconds",
                       checkpoint=ckpt)
    h.refresh()
    assert [r["count"] for r in h.lookup("b")] == [2]
    h.stop()

    h = _served_counts(spark, src, "served_restart", trigger="100 milliseconds",
                       checkpoint=ckpt)
    try:
        _land(str(src), "f1", [("a", 1)])
        h.refresh()
        assert {k: [r["count"] for r in h.lookup(k)] for k in "abz"} == {
            "a": [2], "b": [2], "z": []}
    finally:
        h.stop()


def _fold_batches(mode: str, ddl: str, batches) -> list:
    """Fold (batch id, rows) pairs into a streaming memory handle's state
    and return {key: sorted values} after each."""
    from types import SimpleNamespace

    from pyspark.sql import Row
    from pyspark.sql.types import StructType

    from ksml_spark.streaming.serving import _Fold

    schema = StructType.fromDDL(ddl)
    fold, make, seen = _Fold(schema, ("k",), mode), Row(*schema.fieldNames()), []
    for bid, rows in batches:
        fold(SimpleNamespace(collect=lambda rows=rows: [make(*r) for r in rows]), bid)
        index = fold.snapshot[1]
        assert fold.snapshot[3] == sum(map(len, index.values()))
        # served rows carry the served schema: no __seq / __closed
        assert {tuple(r.__fields__) for rs in index.values() for r in rs} <= {
            tuple(fold.schema.fieldNames())}
        assert fold.schema.fieldNames() == ["k", "v"]
        seen.append({k: sorted(r["v"] for r in rs) for k, rs in index.items()})
    return seen


def test_serve_fold_update_rules(spark):
    """Update mode: a key's emission replaces its live rows, __closed
    finals accumulate, a retraction (all values NULL) leaves only the
    finals, and a batch id already folded is skipped."""
    got = _fold_batches("update", "k string, v long, __seq long, __closed boolean", [
        (0, [("a", 1, 1, False), ("a", 2, 1, False), ("b", 5, 1, False)]),
        (1, [("a", 3, 2, False), ("b", 5, 2, True), ("b", 6, 2, False)]),
        (1, [("a", 9, 3, False)]),
        (2, [("a", None, 3, False), ("b", None, 3, False)]),
        (3, [("a", 7, 4, False)]),
    ])
    assert got == [{"a": [1, 2], "b": [5]},
                   {"a": [3], "b": [5, 6]},
                   {"a": [3], "b": [5, 6]},
                   {"b": [5]},
                   {"a": [7], "b": [5]}]


def test_serve_fold_complete_and_append(spark):
    """Complete mode swaps in each batch's snapshot; append mode adds a
    batch's rows to each key's rows."""
    batches = [(0, [("a", 1), ("b", 1)]), (1, [("a", 2)]), (1, [("a", 5)])]
    assert _fold_batches("complete", "k string, v long", batches) == [
        {"a": [1], "b": [1]}, {"a": [2]}, {"a": [2]}]
    assert _fold_batches("append", "k string, v long", batches) == [
        {"a": [1], "b": [1]}, {"a": [1, 2], "b": [1]}, {"a": [1, 2], "b": [1]}]


@pytest.mark.parametrize("opts, match", [
    ({"storage": "tabel"}, r"storage must be one of \['memory', 'table'\]"),
    ({"buckets": 0}, "buckets must be >= 1"),
    ({"key": "nope"}, r"key column\(s\) \['nope'\]"),
    ({"output_mode": "update"}, "'output_mode' was removed — serve picks"),
])
@pytest.mark.parametrize("streaming", [False, True])
def test_serve_malformed_form_raises_curated_error(spark, tmp_path, opts, match,
                                                   streaming):
    """A malformed serve form raises an ArityError when ``serve`` is
    called, before any view, table or query exists."""
    from ksml_spark.errors import ArityError

    df = spark.createDataFrame([("a", 1)], "k string, n long")
    if streaming:
        df.write.parquet(str(tmp_path / "src"))
        from ksml_spark.streaming.runtime import file_stream_source

        df = file_stream_source(spark, str(tmp_path / "src"))
    with pytest.raises(ArityError, match=match):
        ksml(["serve", ["stream", df, {"key": "k"}], {"name": "served_malformed", **opts}],
             spark=spark)
    assert not spark.catalog.tableExists("served_malformed")
    assert "served_malformed" not in {q.name for q in spark.streams.active}


@pytest.mark.parametrize("kind", ["batch", "table", "memory"])
def test_serve_mistyped_probe_raises_curated_error(spark, tmp_path, kind):
    """An int probe on a string key column makes Spark cast the served
    keys to a number. Where a key does not convert, the lookup raises an
    ArityError naming the column, its type and the probe's type; where
    every key converts, it returns the scan's rows as before."""
    from ksml_spark.errors import ArityError

    def serve(name, keys):
        if kind == "memory":
            src = tmp_path / name
            src.mkdir()
            _land(str(src), "f0", [(k, 1) for k in keys])
            return _served_counts(spark, src, name)
        df = spark.createDataFrame([(k, 1) for k in keys], "k string, n long")
        opts = {"storage": "table", "buckets": 2} if kind == "table" else {}
        return ksml(["serve", ["stream", df, {"key": "k"}], {"name": name, **opts}],
                    spark=spark)

    names = [f"served_numeric_{kind}", f"served_mistyped_{kind}"]
    handles = []
    try:
        numeric = serve(names[0], ["1", "01", "2"])
        handles.append(numeric)
        assert sorted(r["k"] for r in numeric.lookup(1)) == ["01", "1"]
        mistyped = serve(names[1], ["a", "b", "1"])
        handles.append(mistyped)
        with pytest.raises(ArityError,
                           match=r"'k' is STRING but the probe 1 is a Python int"):
            mistyped.lookup(1)
        assert [r["k"] for r in mistyped.lookup("a")] == ["a"]
    finally:
        for h in handles:
            h.stop()
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_serve_stop_drops_its_view(spark, tmp_path):
    """stop() drops the temp view a memory handle registered, so a later
    catalog table of the same name is read, not shadowed; an old
    handle's stop() keeps the view a later serve took the name over
    with."""
    name = "served_stop_view"
    src = tmp_path / "src"
    src.mkdir()
    _land(str(src), "f0", [("a", 1), ("a", 1)])
    mem = _served_counts(spark, src, name)
    assert [r["count"] for r in mem.lookup("a")] == [2]
    mem.stop()
    assert not spark.catalog.tableExists(name)
    batch = ksml(["serve", ["stream", spark.createDataFrame([("a", 5)], "k string, count long"),
                            {"key": "k"}], {"name": name}], spark=spark)
    assert [r["count"] for r in batch.lookup("a")] == [5]
    batch.stop()
    assert not spark.catalog.tableExists(name)
    try:
        tbl = ksml(["serve", ["stream", spark.createDataFrame([("a", 7)], "k string, count long"),
                              {"key": "k"}], {"name": name, "storage": "table", "buckets": 2}],
                   spark=spark)
        assert [r["count"] for r in tbl.lookup("a")] == [7]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")

    old = _served_counts(spark, src, "served_stop_takeover")
    new = _served_counts(spark, src, "served_stop_takeover")
    old.stop()
    assert [r["count"] for r in new.lookup("a")] == [2]
    new.stop()
    assert not spark.catalog.tableExists("served_stop_takeover")


def test_serve_available_now_timeout_raises(spark, tables, tmp_path):
    """An availableNow serve still running at its timeout stops the
    query and raises, instead of serving a partial snapshot."""
    from ksml_spark.errors import StreamTimeoutError
    from ksml_spark.streaming.runtime import file_stream_source

    p = str(tmp_path / "events")
    tables["events"].write.parquet(p)
    counts = pipe(["stream", file_stream_source(spark, p), {"key": "user_id"}],
                  ["group-by-key"], ["count"], spark=spark)
    with pytest.raises(StreamTimeoutError, match="timeout"):
        ksml(["serve", counts, {"name": "served_timeout", "timeout": 0.001}],
             spark=spark)
    assert "served_timeout" not in {q.name for q in spark.streams.active}


def test_current_rows_dedups_replayed_batch(spark):
    """A crash after an append/compaction commits but before the
    streaming checkpoint commits replays the batch into the emission
    log. Full-row duplicates can ONLY be such replays (an emission is a
    snapshot), so current_rows drops them — reads and compaction are
    retry-idempotent."""
    from ksml_spark.streaming.serving import ServeHandle

    log = spark.createDataFrame(
        [("a", 1.0, 1, False), ("a", 2.0, 2, False),
         ("a", 2.0, 2, False),                       # replayed max-seq row
         ("b", 5.0, 1, True), ("b", 5.0, 1, True)],  # replayed __closed final
        "key string, value double, __seq int, __closed boolean")
    got = sorted(
        (r["key"], r["value"], r["__seq"], r["__closed"])
        for r in ServeHandle.current_rows(log, ("key",)).collect())
    assert got == [("a", 2.0, 2, False), ("b", 5.0, 1, True)]


def test_session_state_blob_migrates_from_timestamp_format(spark):
    """A checkpoint written by the pre-int-ns session fold stores
    pd.Timestamp bounds; the loader must coerce them so a restarted
    query doesn't crash on Timestamp-minus-int arithmetic."""
    import pandas as pd

    from ksml_spark.operators.grouping import _sessions_to_ns

    old = [[pd.Timestamp("2024-01-01"), pd.Timestamp("2024-01-01 00:10:00"), 7.5],
           [1700000000000000000, 1700000003000000000, 1.0]]  # mixed: new rows pass through
    out = _sessions_to_ns(old)
    assert out[0][0] == pd.Timestamp("2024-01-01").value
    assert out[0][1] == pd.Timestamp("2024-01-01 00:10:00").value
    assert isinstance(out[0][0], int) and isinstance(out[0][1], int)
    assert out[1] == [1700000000000000000, 1700000003000000000, 1.0]
    assert out[0][2] == 7.5
