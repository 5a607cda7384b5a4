"""Streaming parity tests (SURVEY.md §2.5, M5-M7): the same DSL forms run
on streaming DataFrames — windowed aggregation with watermark, streaming
KTable (latest-per-key update mode), stream-stream interval join, and the
stateful processor escape hatch. Batch output is the oracle: availableNow
processes all data, so final streaming state must equal the batch answer.

Reference evidence: windows anomaly_detection.clj:36, retention
eval_test.clj:157-158, join-window eval_test.clj:40, :process!
eval_test.clj:421-425.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ksml_spark import ksml, pipe
from ksml_spark.streaming.runtime import file_stream_source, run_to_memory


@pytest.fixture(scope="module")
def events_path(spark, tmp_path_factory):
    """events (sf0.001) rewritten as normal-µs parquet for the file stream
    source (the raw testdata is TIMESTAMP(NANOS))."""
    from ksml_spark.sources.files import load_table

    p = str(tmp_path_factory.mktemp("stream") / "events")
    load_table(spark, "/root/testdata/sf0.001", "events").write.parquet(p)
    return p


def events_stream(spark, path):
    df = file_stream_source(spark, path)
    return ["stream", df, {"key": "user_id", "time": "ts"}]


def test_windowed_count_streaming_matches_batch(spark, events_path, tables):
    out = pipe(
        events_stream(spark, events_path),
        ["group-by", ["key-value-mapper", {"event_type": "event_type"}]],
        ["windowed-by", ["time-window", 3600000, None, "30 minutes"]],
        ["count"],
        spark=spark,
    )
    assert out.df.isStreaming
    got = run_to_memory(out, "win_counts", output_mode="update")
    # final update per (window, key) = last emit; availableNow on one file
    # is a single microbatch, so rows are already final
    batch = (
        tables["events"]
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .count()
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            F.col("count").alias("count"),
        )
    )
    g = {(r["window_start"], r["event_type"]): r["count"] for r in got.collect()}
    b = {(r["window_start"], r["event_type"]): r["count"] for r in batch.collect()}
    assert g == b


def test_streaming_table_latest_matches_batch(spark, events_path, tables):
    out = pipe(
        ["table", ["stream", file_stream_source(spark, events_path)],
         {"key": "user_id", "time": "ts", "order": ["ts", "event_id"]}],
        ["select", {"user_id": "user_id", "event_id": "event_id"}],
        spark=spark,
    )
    assert out.df.isStreaming
    got = run_to_memory(out, "latest_tbl", output_mode="update")
    batch = pipe(
        ["table", tables["events"],
         {"key": "user_id", "time": "ts", "order": ["ts", "event_id"]}],
        ["select", {"user_id": "user_id", "event_id": "event_id"}],
        spark=spark,
    ).df
    g = {r["user_id"]: r["event_id"] for r in got.collect()}
    b = {r["user_id"]: r["event_id"] for r in batch.collect()}
    assert g == b


def test_stream_stream_interval_join(spark, events_path, tables):
    def sides(src_form):
        clicks = ksml(["where", src_form, "event_type = 'click'"], spark=spark)
        errors = ksml(["where", src_form, "event_type = 'error'"], spark=spark)
        return clicks, errors

    sc, se = sides(events_stream(spark, events_path))
    out = pipe(
        ["join", sc, se, ["join-window", 3600000]],
        ["select", {"user_id": "user_id", "click_id": "event_id", "error_id": "r_event_id"}],
        spark=spark,
    )
    assert out.df.isStreaming
    got = run_to_memory(out, "sj", output_mode="append")

    bc, be = sides(["stream", tables["events"], {"key": "user_id", "time": "ts"}])
    batch = pipe(
        ["join", bc, be, ["join-window", 3600000]],
        ["select", {"user_id": "user_id", "click_id": "event_id", "error_id": "r_event_id"}],
        spark=spark,
    ).df
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b and len(b) > 0


def test_process_batch_and_streaming_agree(spark, events_path, tables):
    # defined inline so cloudpickle ships it by value (module-level test
    # functions are pickled by reference, which Python workers can't import)
    def running_total(key, batches, state):
        """Unified stateful fn: running sum of `value` per key (the
        reference's Processor with a per-key KV store, eval.clj:310-323)."""
        import pandas as pd

        total = state.get()[0] if state.exists else 0.0
        n = 0
        for pdf in batches:
            total += float(pdf["value"].sum())
            n += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "total": [round(total, 2)], "n": [n]})

    form = lambda src: [  # noqa: E731
        "process", src, running_total,
        {"schema": "user_id long, total double, n long", "state": "total double"},
    ]
    batch = ksml(
        form(["stream", tables["events"], {"key": "user_id", "time": "ts"}]),
        spark=spark,
    ).df
    stream = ksml(form(events_stream(spark, events_path)), spark=spark)
    assert stream.df.isStreaming
    got = run_to_memory(stream, "proc", output_mode="update")
    g = {r["user_id"]: r["total"] for r in got.collect()}
    b = {r["user_id"]: r["total"] for r in batch.collect()}
    assert g == b and len(b) > 0


def test_hash_split_streaming_matches_batch(spark, events_path, tables):
    """hash-split is a pure per-row expression — identical assignment on
    a stream and on the batch table (the reproducibility property)."""
    form = lambda src: pipe(  # noqa: E731
        src,
        ["hash-split", {"id": "event_id", "salt": "s1",
                        "fractions": {"train": 0.5, "test": 0.5}}],
        ["select", {"event_id": "event_id", "split": "split"}],
        spark=spark,
    )
    stream = form(events_stream(spark, events_path))
    assert stream.df.isStreaming
    got = run_to_memory(stream, "split_stream", output_mode="append")
    batch = form(["stream", tables["events"], {"key": "user_id"}]).df
    g = {r["event_id"]: r["split"] for r in got.collect()}
    b = {r["event_id"]: r["split"] for r in batch.collect()}
    assert g == b and len(set(g.values())) == 2


def _has_protobuf() -> bool:
    # r06 audit: the sandbox has NO google.protobuf anywhere (pip
    # download fails — no network; a filesystem sweep finds only
    # typeshed stubs and pyspark's own .proto wrappers/jars) and
    # vendoring the full pure-Python runtime is out of scope, so the
    # execution probe below stays environment-skipped; the plan/shim
    # coverage runs regardless.
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except Exception:
        return False


def test_transform_with_state_builds_plan(spark, tables, monkeypatch):
    """Spark-4 StatefulProcessor op: plan construction must work even
    where execution can't (worker protocol needs google.protobuf). The
    op picks the native path when protobuf imports, so the native plan
    is built here with the probe patched to True."""
    from ksml_spark.operators import stateful

    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    class RunningCount(StatefulProcessor):
        def init(self, handle):
            self.count = handle.getValueState("count", "n bigint")

        def handleInputRows(self, key, rows, timer_values):
            n = self.count.get()[0] if self.count.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self.count.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

        def close(self):
            pass

    with monkeypatch.context() as mp:
        mp.setattr(stateful, "_has_protobuf", lambda: True)
        out = ksml(
            ["transform-with-state",
             ["stream", tables["events"], {"key": "user_id"}],
             RunningCount(), {"schema": "user_id long, n bigint"}],
            spark=spark,
        )
    assert "TransformWithState" in out.df._jdf.queryExecution().analyzed().toString()
    assert out.df.schema.simpleString() == "struct<user_id:bigint,n:bigint>"
    # the RocksDB provider requirement was applied to the session
    assert "RocksDB" in spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    if _has_protobuf():  # pragma: no cover - container lacks protobuf
        counts = {r["user_id"]: r["n"] for r in out.df.collect()}
        expected = {
            r["user_id"]: r["n"]
            for r in tables["events"].groupBy("user_id").count()
            .withColumnRenamed("count", "n").collect()
        }
        assert counts == expected

    expected = {
        r["user_id"]: r["n"]
        for r in tables["events"].groupBy("user_id").count()
        .withColumnRenamed("count", "n").collect()
    }
    # batch shim (the path without protobuf): EXECUTES the same
    # processor protobuf-free with the native per-key lifecycle
    with monkeypatch.context() as mp:
        mp.setattr(stateful, "_has_protobuf", lambda: False)
        shim_out = ksml(
            ["transform-with-state",
             ["stream", tables["events"], {"key": "user_id"}],
             RunningCount(), {"schema": "user_id long, n bigint"}],
            spark=spark,
        )
    counts = {r["user_id"]: r["n"] for r in shim_out.df.collect()}
    assert counts == expected and counts


def test_transform_with_state_shim_state_kinds_and_streaming_refusal(
        spark, tables, events_path):
    """The shim's value/list/map state stores behave per the
    StatefulProcessor API contract, state is per-key transient, and
    streaming input without protobuf is refused AT CONSTRUCTION with a
    pointer at the process op."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    from ksml_spark.errors import ArityError

    class Kinds(StatefulProcessor):
        def init(self, handle):
            self.seen = handle.getValueState("seen", "n bigint")
            self.vals = handle.getListState("vals", "v double")
            self.per_type = handle.getMapState("per_type", "t string", "c bigint")

        def handleInputRows(self, key, rows, timer_values):
            assert timer_values.getCurrentProcessingTimeInMs() == -1
            # state MUST start empty for every key (per-key lifecycle)
            assert not self.seen.exists() and not self.vals.exists()
            assert not self.per_type.exists()
            n = 0
            for pdf in rows:
                n += len(pdf)
                for v in pdf["value"]:
                    self.vals.appendValue((float(v),))
                for t in pdf["event_type"]:
                    prev = self.per_type.getValue((t,)) if self.per_type.containsKey((t,)) else (0,)
                    self.per_type.updateValue((t,), (prev[0] + 1,))
            self.seen.update((n,))
            total = sum(v[0] for v in self.vals.get())
            n_types = len(list(self.per_type.keys()))
            yield pd.DataFrame({
                "user_id": [key[0]], "n": [self.seen.get()[0]],
                "total_cents": [int(round(total * 100))], "n_types": [n_types],
            })

        def close(self):
            pass

    out = ksml(
        ["transform-with-state", ["stream", tables["events"], {"key": "user_id"}],
         Kinds(), {"schema": "user_id long, n bigint, total_cents bigint, n_types bigint"}],
        spark=spark).df
    got = {r["user_id"]: (r["n"], r["total_cents"], r["n_types"]) for r in out.collect()}
    exp = {
        r["user_id"]: (r["n"], r["total_cents"], r["n_types"])
        for r in tables["events"].groupBy("user_id").agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
            F.countDistinct("event_type").alias("n_types"),
        ).collect()
    }
    assert got == exp and got

    if not _has_protobuf():
        with pytest.raises(ArityError, match="google.protobuf.*process"):
            ksml(["transform-with-state", events_stream(spark, events_path),
                  Kinds(), {"schema": "user_id long, n bigint, total_cents bigint, n_types bigint"}],
                 spark=spark)
    with pytest.raises(ArityError, match="'impl' was removed.*protobuf"):
        ksml(["transform-with-state", ["stream", tables["events"], {"key": "user_id"}],
              Kinds(), {"schema": "user_id long, n bigint, total_cents bigint, n_types bigint",
                        "impl": "rocks"}],
             spark=spark)


def test_shim_handle_accepts_native_ttl_spelling():
    """ADVICE r16: native PySpark's StatefulProcessorHandle takes
    ``ttlDurationMs`` (camelCase); a processor written against the
    native signature must run unchanged on the shim, and the shim's
    older snake_case spelling stays accepted. Positional TTL (the
    native third/fourth positional arg) works too."""
    from ksml_spark.operators.stateful import _ShimHandle

    h = _ShimHandle()
    v1 = h.getValueState("a", "x bigint", ttlDurationMs=1000)
    v2 = h.getValueState("b", "x bigint", ttl_duration_ms=1000)
    v3 = h.getValueState("c", "x bigint", 1000)  # positional, native order
    l1 = h.getListState("d", "x bigint", ttlDurationMs=1000)
    m1 = h.getMapState("e", "t string", "c bigint", ttlDurationMs=1000)
    m2 = h.getMapState("f", "t string", "c bigint", 1000)
    for s in (v1, v2, v3, l1, m1, m2):
        assert s is not None
    # same name returns the same store regardless of spelling
    assert h.getValueState("a", "x bigint", ttl_duration_ms=5) is v1


def test_to_memory_sink_and_watermark_op(spark, events_path):
    out = pipe(
        events_stream(spark, events_path),
        ["with-watermark", "1 hour"],
        ["group-by", ["key-value-mapper", {"event_type": "event_type"}]],
        ["count"],
        spark=spark,
    )
    sink = ksml(
        ["to", out, {"format": "memory", "name": "wm_counts",
                     "output_mode": "update", "trigger": "available_now"}],
        spark=spark,
    )
    sink.query.awaitTermination(60)
    sink.query.stop()
    assert spark.table("wm_counts").count() > 0


def test_streaming_dedup_within_watermark(spark, events_path):
    out = pipe(
        events_stream(spark, events_path),
        ["with-watermark", "1 hour"],
        ["dedup", {"by": ["user_id", "event_type"], "within_watermark": True}],
        spark=spark,
    )
    assert out.df.isStreaming
    got = run_to_memory(out, "dedup_wm", output_mode="append")
    # one representative per (user, type) within the watermark horizon;
    # a single availableNow batch -> at most one row per pair
    n_pairs = got.select("user_id", "event_type").distinct().count()
    assert got.count() == n_pairs > 0


def test_checkpoint_recovery(spark, tables, tmp_path):
    """State survives a query restart: run half the data with a checkpoint,
    stop, add the rest, restart the same plan — final counts must equal
    the full-data batch counts (changelog replay parity, eval.clj:207)."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    events = tables["events"]
    events.filter("event_id % 2 = 0").write.parquet(src)

    got = {}

    def run():
        def capture(df, batch_id):
            for r in df.collect():
                got[r["event_type"]] = r["count"]

        s = pipe(
            ["stream", file_stream_source(spark, src), {"key": "user_id", "time": "ts"}],
            ["group-by", ["key-value-mapper", {"event_type": "event_type"}]],
            ["count"],
            spark=spark,
        )
        q = (
            s.df.writeStream.foreachBatch(capture)
            .outputMode("update").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run()
    got.clear()
    events.filter("event_id % 2 = 1").write.mode("append").parquet(src)
    run()
    full = {r["event_type"]: r["count"]
            for r in events.groupBy("event_type").count().collect()}
    # every type updated in the second run must reflect BOTH halves
    assert got and all(got[t] == full[t] for t in got)


def test_foreach_batch_sink(spark, events_path):
    seen = []

    def collect_batch(df, batch_id):
        df.createOrReplaceTempView("fb_batch")
        seen.append((batch_id, df.sparkSession.table("fb_batch").count()))

    out = pipe(
        events_stream(spark, events_path),
        ["where", "event_type = 'click'"],
        spark=spark,
    )
    sink = ksml(["foreach-batch", out, collect_batch, {"trigger": "available_now"}],
                spark=spark)
    sink.query.awaitTermination(60)
    assert sum(n for _, n in seen) == 210  # clicks at sf0.001


def test_streaming_sinks_honour_interval_trigger(spark, events_path, tmp_path):
    """An interval ``trigger`` reaches the query on foreach-batch, the
    fake-transport kafka sink, foreach and print (each used to drop it),
    and their ``checkpoint`` directory is the one the query writes; with
    no trigger Spark's default stands."""
    import os

    rel = pipe(events_stream(spark, events_path), ["where", "false"], spark=spark)
    sinks = {
        "foreach-batch 1s": ["foreach-batch", rel, lambda df, i: None,
                             {"trigger": "1 second"}],
        "kafka fake 1s": ["to", rel, "out", {
            "fake_dir": str(tmp_path / "topic"), "trigger": "1 second",
            "checkpoint": str(tmp_path / "ck")}],
        "foreach 1s": ["foreach", rel, ["foreach-action", lambda row: None],
                       {"trigger": "1 second",
                        "checkpoint": str(tmp_path / "ck_foreach")}],
        "print 1s": ["print", rel, {"trigger": "1 second",
                                    "checkpoint": str(tmp_path / "ck_print")}],
        "foreach-batch default": ["foreach-batch", rel, lambda df, i: None],
    }
    got = {}
    for name, form in sinks.items():
        q = ksml(form, spark=spark).query
        try:
            got[name] = q._jsq.streamingQuery().trigger().toString()
            q.processAllAvailable()
        finally:
            q.stop()
    assert got == {
        "foreach-batch 1s": "ProcessingTimeTrigger(1000)",
        "kafka fake 1s": "ProcessingTimeTrigger(1000)",
        "foreach 1s": "ProcessingTimeTrigger(1000)",
        "print 1s": "ProcessingTimeTrigger(1000)",
        "foreach-batch default": "ProcessingTimeTrigger(0)",
    }
    for ck in ("ck_foreach", "ck_print"):
        assert os.listdir(tmp_path / ck / "offsets"), ck


def test_run_to_memory_timeout_raises(spark, events_path):
    """A run_to_memory query still running at its timeout is stopped and
    raises, instead of returning a partial table as complete."""
    from ksml_spark.errors import StreamTimeoutError

    rel = pipe(events_stream(spark, events_path), ["where", "true"], spark=spark)
    with pytest.raises(StreamTimeoutError, match="run_to_memory.*timeout"):
        run_to_memory(rel, "rtm_timeout", output_mode="append", timeout=0.001)
    assert "rtm_timeout" not in {q.name for q in spark.streams.active}


def test_concurrent_schema_inference_restores_ntz_conf(spark, tmp_path):
    """read_parquet and file_stream_source flip inferTimestampNTZ off for
    the whole session around their schema inference. Eight threads
    inferring at once must each read the unadjusted timestamp as
    TIMESTAMP (not TIMESTAMP_NTZ), and the session must end with the
    conf it started with (interleaved restores used to leave it at
    "false")."""
    import datetime as dt
    import sys
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ksml_spark.sources.files import read_parquet

    # written by pyarrow, not Spark: no Spark schema in the footer, so the
    # isAdjustedToUTC=false timestamp is typed by inference alone
    table = pa.table({"k": [1], "ts": pa.array([dt.datetime(2024, 1, 1)],
                                               pa.timestamp("us"))})
    paths = [tmp_path / f"ntz{i}" for i in range(8)]
    for p in paths:
        p.mkdir()
        pq.write_table(table, str(p / "part-0.parquet"))
    paths = [str(p) for p in paths]
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prior = spark.conf.get(key)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads often
    try:
        def infer(p):
            types = [read_parquet(spark, p).schema["ts"].dataType.simpleString()]
            for _ in range(3):
                df = file_stream_source(spark, p)
                types.append(df.schema["ts"].dataType.simpleString())
            return types

        with ThreadPoolExecutor(max_workers=8) as pool:
            results = list(pool.map(infer, paths, timeout=300))
        assert results == [["timestamp"] * 4] * 8
        assert spark.conf.get(key) == prior
    finally:
        sys.setswitchinterval(switch)


def test_streaming_global_table_join(spark, events_path, tables):
    """stream ⋈ global-table = stream-static broadcast join, streaming."""
    gt = ksml(["global-table", tables["nation"], {"key": "n_nationkey", "unique": True}],
              spark=spark)
    out = pipe(
        ["join-global",
         ksml(events_stream(spark, events_path), spark=spark),
         gt,
         ["key-value-mapper", "cast(user_id % 25 as int)"]],
        ["select", {"event_id": "event_id", "n_name": "n_name"}],
        spark=spark,
    )
    assert out.df.isStreaming
    got = run_to_memory(out, "gjoin", output_mode="append")
    batch = pipe(
        ["join-global",
         ksml(["stream", tables["events"], {"key": "user_id", "time": "ts"}], spark=spark),
         gt,
         ["key-value-mapper", "cast(user_id % 25 as int)"]],
        ["select", {"event_id": "event_id", "n_name": "n_name"}],
        spark=spark,
    ).df
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in batch.collect()}


@pytest.mark.slow
def test_stream_stream_left_interval_join(spark, events_path, tables):
    def sides(src_form):
        c = ksml(["where", src_form, "event_type = 'click'"], spark=spark)
        e = ksml(["where", src_form, "event_type = 'error'"], spark=spark)
        return c, e

    sc, se = sides(events_stream(spark, events_path))
    out = pipe(
        ["left-join", sc, se, ["join-window", 3600000]],
        ["select", {"click_id": "event_id", "error_id": "r_event_id"}],
        spark=spark,
    )
    assert out.df.isStreaming
    got = run_to_memory(out, "slj", output_mode="append")
    bc, be = sides(["stream", tables["events"], {"key": "user_id", "time": "ts"}])
    batch = pipe(
        ["left-join", bc, be, ["join-window", 3600000]],
        ["select", {"click_id": "event_id", "error_id": "r_event_id"}],
        spark=spark,
    ).df
    g = {(r["click_id"], r["error_id"]) for r in got.collect()}
    b = {(r["click_id"], r["error_id"]) for r in batch.collect()}
    # matched pairs agree exactly; unmatched (null) clicks may be withheld
    # in streaming when they are still inside the final watermark horizon
    assert {p for p in g if p[1] is not None} == {p for p in b if p[1] is not None}
    assert {p for p in g if p[1] is None} <= {p for p in b if p[1] is None}
    assert any(e is None for _, e in g)


def test_windowed_append_emits_only_closed_windows(spark, events_path, tables):
    """append mode = emit-on-window-close (the KS suppression analog,
    SURVEY.md §2.5): only windows fully below the final watermark emit."""
    out = pipe(
        events_stream(spark, events_path),
        ["group-by", ["key-value-mapper", {"event_type": "event_type"}]],
        ["windowed-by", ["time-window", 3600000, None, "30 minutes"]],
        ["count"],
        spark=spark,
    )
    got = run_to_memory(out, "win_append", output_mode="append")
    full = (
        tables["events"].groupBy(F.window("ts", "1 hour"), "event_type").count()
    )
    max_ts = tables["events"].agg(F.max("ts")).collect()[0][0]
    import datetime as dt

    watermark = max_ts - dt.timedelta(minutes=30)
    g = {(r["window_start"], r["event_type"]): r["count"] for r in got.collect()}
    closed = {
        (r["window"]["start"], r["event_type"]): r["count"]
        for r in full.collect()
        if r["window"]["end"] <= watermark
    }
    # every closed window emitted with the exact batch count; open ones held back
    assert g == closed and len(closed) > 0


# ---------------------------------------------------------------------------
# streaming KTable-KTable changelog join (both sides updating)

def _tt_fixture_frames(spark):
    import datetime as dt

    def ts(s):
        return dt.datetime.fromisoformat(s)

    left = spark.createDataFrame(
        [
            ("a", 1, ts("2024-01-01T00:00:01")),
            ("a", 2, ts("2024-01-01T00:00:05")),   # update wins
            ("b", 10, ts("2024-01-01T00:00:02")),
            ("c", 30, ts("2024-01-01T00:00:03")),
            ("d", 40, ts("2024-01-01T00:00:01")),
            ("d", None, ts("2024-01-01T00:00:06")),  # tombstone: d leaves left
        ],
        "key string, lval long, event_time timestamp",
    )
    right = spark.createDataFrame(
        [
            ("a", "x0", ts("2024-01-01T00:00:01")),
            ("a", "x1", ts("2024-01-01T00:00:04")),  # update wins
            ("b", "y", ts("2024-01-01T00:00:02")),
            ("e", "z", ts("2024-01-01T00:00:03")),
        ],
        "key string, rname string, event_time timestamp",
    )
    return left, right


def _final_rows(mem_df, key_col="key"):
    """Update-mode memory sink: final state per key = row with max __seq."""
    rows = {}
    for r in mem_df.collect():
        prev = rows.get(r[key_col])
        if prev is None or r["__seq"] > prev["__seq"]:
            rows[r[key_col]] = r
    return rows


@pytest.mark.parametrize("kind,expected_keys", [
    ("join", {"a", "b"}),
    ("left-join", {"a", "b", "c"}),
    ("outer-join", {"a", "b", "c", "e"}),
])
def test_streaming_table_table_join_matches_batch(spark, tmp_path, kind, expected_keys):
    left, right = _tt_fixture_frames(spark)
    lp, rp = str(tmp_path / f"l_{kind}"), str(tmp_path / f"r_{kind}")
    left.write.parquet(lp)
    right.write.parquet(rp)

    ls = file_stream_source(spark, lp)
    rs = file_stream_source(spark, rp)
    out = ksml(
        [kind,
         ["table", ls, {"key": "key", "time": "event_time",
                        "order": ["event_time"]}],
         ["table", rs, {"key": "key", "time": "event_time",
                        "order": ["event_time"]}]],
        spark=spark,
    )
    assert out.df.isStreaming
    name = f"tt_{kind.replace('-', '_')}"
    got = _final_rows(run_to_memory(out, name, output_mode="update"))
    # drop retracted finals (all value cols NULL)
    active = {k: r for k, r in got.items()
              if not (r["lval"] is None and r["rname"] is None)}
    assert set(active) == expected_keys

    batch = ksml(
        [kind,
         ["table", left, {"key": "key", "time": "event_time",
                          "order": ["event_time"]}],
         ["table", right, {"key": "key", "time": "event_time",
                           "order": ["event_time"]}]],
        spark=spark,
    ).df
    expected = {r["key"]: r for r in batch.collect()}
    assert set(expected) == expected_keys
    for k in expected_keys:
        assert active[k]["lval"] == expected[k]["lval"], k
        assert active[k]["rname"] == expected[k]["rname"], k


_SIDES_SCHEMA = ("side string, key string, lval long, rname string, "
                 "event_time timestamp")


def _json_batch_source(spark, tmp_path, batches, schema=_SIDES_SCHEMA):
    """One micro-batch per dict-list in ``batches``: each list becomes a
    json-lines file with an increasing mtime (the file source processes
    files in modification-time order) read with maxFilesPerTrigger=1."""
    import json
    import os

    sdir = str(tmp_path / "src")
    os.makedirs(sdir)
    for i, rows in enumerate(batches):
        p = os.path.join(sdir, f"b{i}.json")
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (i + 1, i + 1))  # force strict file ordering
    from pyspark.sql.types import StructType

    return (spark.readStream.schema(StructType.fromDDL(schema))
            .option("maxFilesPerTrigger", 1).json(sdir))


def test_streaming_table_table_join_retracts_on_tombstone(spark, tmp_path):
    """Key joined in batch 1; left tombstone in batch 2 must emit a
    retraction row (all value columns NULL) for the inner join."""
    src = _json_batch_source(spark, tmp_path, [
        [{"side": "l", "key": "a", "lval": 1, "event_time": "2024-01-01T00:00:01"},
         {"side": "r", "key": "a", "rname": "x", "event_time": "2024-01-01T00:00:01"}],
        [{"side": "l", "key": "a", "lval": None, "event_time": "2024-01-01T00:00:05"}],
    ])
    lt = ["table", src.filter("side = 'l'").drop("rname", "side"),
          {"key": "key", "time": "event_time", "order": ["event_time"]}]
    rt = ["table", src.filter("side = 'r'").drop("lval", "side"),
          {"key": "key", "time": "event_time", "order": ["event_time"]}]
    out = ksml(["join", lt, rt], spark=spark)
    mem = run_to_memory(out, "tt_retract", output_mode="update")
    rows = sorted(mem.collect(), key=lambda r: r["__seq"])
    assert len(rows) == 2, rows
    assert rows[0]["lval"] == 1 and rows[0]["rname"] == "x"   # batch 1: joined
    assert rows[1]["lval"] is None and rows[1]["rname"] is None  # batch 2: retracted


def test_streaming_tt_join_high_velocity_batches(spark, tmp_path):
    """Keys with tens of records per micro-batch on both sides, across
    two batches, with out-of-order arrivals, a NULL-order record (must
    lose) and a tombstone retraction: each emission carries each side's
    max-order record so far."""
    import random

    from ksml_spark.streaming.changelog_join import changelog_join

    rng = random.Random(7)

    def ts(t):
        return f"2024-01-01T00:{t // 60:02d}:{t % 60:02d}"

    def batch(bi):
        rows = []
        perm = list(range(20))
        rng.shuffle(perm)
        for i in perm:  # 20 out-of-order left updates for key a
            t = bi * 100 + i
            rows.append({"side": "l", "key": "a", "lval": t, "event_time": ts(t)})
        rng.shuffle(perm)
        for i in perm:  # 20 right updates for key a
            t = bi * 100 + i
            rows.append({"side": "r", "key": "a", "rname": f"v{t}", "event_time": ts(t)})
        if bi == 0:
            rows.append({"side": "l", "key": "a", "lval": 999})  # NULL order: loses
            rows.append({"side": "l", "key": "b", "lval": 1, "event_time": ts(5)})
            rows.append({"side": "r", "key": "b", "rname": "rb", "event_time": ts(5)})
        else:
            rows.append({"side": "l", "key": "b", "event_time": ts(110)})  # tombstone
        return rows

    src = _json_batch_source(spark, tmp_path, [batch(0), batch(1)])
    lt = ksml(["table", src.filter("side = 'l'").drop("rname", "side"),
               {"key": "key", "time": "event_time", "order": ["event_time"]}],
              spark=spark)
    rt = ksml(["table", src.filter("side = 'r'").drop("lval", "side"),
               {"key": "key", "time": "event_time", "order": ["event_time"]}],
              spark=spark)
    mem = run_to_memory(changelog_join(lt, rt, "inner"), "tt_velocity",
                        output_mode="update")
    rows = [(r["key"], r["lval"], r["rname"], r["__seq"]) for r in mem.collect()]
    got = {(k, seq): (lv, rn) for k, lv, rn, seq in rows}
    # batch 0: a sees 41 records (20+20+NULL-order), best t=19 on both sides
    assert got[("a", 41)] == (19, "v19")
    # batch 1: 40 more records, best t=119
    assert got[("a", 81)] == (119, "v119")
    assert got[("b", 2)] == (1, "rb")        # batch 0: b joined
    assert got[("b", 3)] == (None, None)     # batch 1: tombstone retracts b
    assert len(rows) == 4


@pytest.mark.parametrize("n_left", [100, 200])
def test_streaming_tt_join_string_order_null_loses(spark, tmp_path, n_left):
    """A changelog join ordered by a string column, with one NULL order
    value among one key's left records in a micro-batch: the final row
    carries the max string order and the NULL loses, at every per-key
    batch size."""
    schema = "side string, key string, lval long, rname string, ord string"
    rows = [{"side": "l", "key": "a", "lval": i, "ord": f"o{i:04d}"}
            for i in range(n_left - 1)]
    rows.insert(n_left // 2, {"side": "l", "key": "a", "lval": -1})  # NULL order
    rows.append({"side": "r", "key": "a", "rname": "x", "ord": "o0000"})
    src = _json_batch_source(spark, tmp_path, [rows], schema=schema)
    out = ksml(
        ["join",
         ["table", src.filter("side = 'l'").drop("rname", "side"),
          {"key": "key", "order": ["ord"]}],
         ["table", src.filter("side = 'r'").drop("lval", "side"),
          {"key": "key", "order": ["ord"]}]],
        spark=spark,
    )
    got = _final_rows(run_to_memory(out, f"tt_strord_{n_left}", output_mode="update"))
    assert set(got) == {"a"}
    assert got["a"]["lval"] == n_left - 2 and got["a"]["ord"] == f"o{n_left - 2:04d}"
    assert got["a"]["rname"] == "x" and got["a"]["__seq"] == n_left + 1


def test_streaming_table_join_after_transform_raises(spark, tmp_path):
    """A view transform invalidates the raw changelog — the join must
    refuse rather than silently join stale logs."""
    from ksml_spark.errors import TypeDispatchError

    left, right = _tt_fixture_frames(spark)
    lp = str(tmp_path / "l_tr")
    left.write.parquet(lp)
    ls = file_stream_source(spark, lp)
    lt = ksml(["where", ["table", ls, {"key": "key", "time": "event_time"}],
               "lval > 1"], spark=spark)
    rt = ksml(["table", file_stream_source(spark, lp),
               {"key": "key", "time": "event_time"}], spark=spark)
    with pytest.raises(TypeDispatchError, match="changelog"):
        ksml(["join", lt, rt], spark=spark)


@pytest.mark.slow
def test_streaming_stream_live_table_join(spark, tmp_path):
    """Stream ⋈ LIVE KTable (both sides streaming): each stream record is
    enriched with the table state current AT ITS EVENT TIME within the
    batch; table updates after a record's ts don't rewrite it."""
    import datetime as dt

    def ts(sec):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)

    dim = spark.createDataFrame(
        [
            ("a", "alpha-v1", ts(0)),
            ("a", "alpha-v2", ts(10)),   # update
            ("b", "beta", ts(0)),
            ("b", None, ts(20)),          # tombstone: b leaves the table
        ],
        "key string, name string, event_time timestamp",
    )
    fact = spark.createDataFrame(
        [
            ("a", 1, ts(5)),    # sees alpha-v1 (v2 lands at t=10)
            ("a", 2, ts(15)),   # sees alpha-v2
            ("b", 3, ts(5)),    # sees beta
            ("b", 4, ts(25)),   # after tombstone -> inner drops it
            ("c", 5, ts(5)),    # never in the table
        ],
        "key string, fid long, event_time timestamp",
    )
    dp, fp = str(tmp_path / "dim"), str(tmp_path / "fact")
    dim.write.parquet(dp)
    fact.write.parquet(fp)

    def run(kind):
        out = ksml(
            [kind,
             ["stream", file_stream_source(spark, fp),
              {"key": "key", "time": "event_time"}],
             ["table", file_stream_source(spark, dp),
              {"key": "key", "time": "event_time", "order": ["event_time"]}]],
            spark=spark,
        )
        assert out.df.isStreaming
        mem = run_to_memory(out, f"st_{kind.replace('-', '_')}", output_mode="update")
        return {r["fid"]: r["name"] for r in mem.collect()}

    inner = run("join")
    assert inner == {1: "alpha-v1", 2: "alpha-v2", 3: "beta"}
    left = run("left-join")
    assert left == {1: "alpha-v1", 2: "alpha-v2", 3: "beta", 4: None, 5: None}


class _StubState:
    """The GroupState surface the join processors use."""

    def __init__(self):
        self.value = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value


@pytest.mark.parametrize("how", ["inner", "left"])
def test_stream_table_processor_sorts_null_event_time_first(how):
    """Records arriving right@t2, left@NULL, left@t1 in one batch apply
    as left@NULL, left@t1, right@t2: a NULL event time is -infinity, so
    no stream record sees a table value from its future. The table value
    then serves a later batch's record."""
    from ksml_spark.streaming.changelog_join import (_Layout,
                                                     _make_stream_table_processor)

    t1, t2, t3 = (pd.Timestamp(f"2024-01-01 00:00:0{s}") for s in (1, 2, 3))
    proc = _make_stream_table_processor(
        how, _Layout(["key"], ["fid"], ["name"], ["name"], [], ["__ro0"]))
    state = _StubState()

    def run(recs):
        pdf = pd.DataFrame(recs, columns=["key", "__ro0", "__ts", "__side",
                                          "__tomb", "__lv", "__rv"])
        pdf["__ts"] = pd.to_datetime(pdf["__ts"])
        out = list(proc(("a",), iter([pdf]), state))
        return [] if not out else [tuple(r) for r in out[0].itertuples(index=False)]

    got = run([("a", t2, t2, 1, False, None, {"name": "v2"}),
               ("a", None, None, 0, False, {"fid": 1}, None),
               ("a", None, t1, 0, False, {"fid": 2}, None)])
    assert got == ([] if how == "inner" else [("a", 1, None), ("a", 2, None)])
    assert run([("a", None, t3, 0, False, {"fid": 3}, None)]) == [("a", 3, "v2")]


def test_streaming_text_signals_match_batch(spark, tables, tmp_path):
    """lang-id / quality-score on a STREAMING source (per-row expression
    path — the agg+join-back is refused on streams) must equal batch."""
    p = str(tmp_path / "docs")
    tables["documents"].write.parquet(p)

    def both(form_tail):
        sdf = file_stream_source(spark, p)
        s = pipe(["stream", sdf, {"key": "doc_id"}], *form_tail, spark=spark)
        assert s.df.isStreaming
        got = run_to_memory(s, "txtsig", output_mode="append")
        b = pipe(["stream", tables["documents"], {"key": "doc_id"}],
                 *form_tail, spark=spark).df
        return got, b

    got, b = both([
        ["lang-id", {"col": "text"}],
        ["quality-score", {"col": "text"}],
        ["select", {"doc_id": "doc_id", "lang_pred": "lang_pred",
                    "quality": "round(quality, 6)"}],
    ])
    g = {r["doc_id"]: (r["lang_pred"], r["quality"]) for r in got.collect()}
    e = {r["doc_id"]: (r["lang_pred"], r["quality"]) for r in b.collect()}
    assert g == e


def test_global_table_refuses_streaming_source(spark, tmp_path):
    """A broadcast can't update: global-table on a stream must point the
    user at the stream-live-table join instead."""
    from ksml_spark.errors import ArityError

    left, _ = _tt_fixture_frames(spark)
    p = str(tmp_path / "gdim")
    left.write.parquet(p)
    with pytest.raises(ArityError, match="batch source"):
        ksml(["global-table", file_stream_source(spark, p),
              {"key": "key", "time": "event_time"}], spark=spark)


@pytest.mark.slow
def test_streaming_table_join_null_order_loses(spark, tmp_path):
    """A changelog record with a NULL order value must lose to any real
    record (parity with max_by, review finding: NaT comparison stuck)."""
    import datetime as dt

    left = spark.createDataFrame(
        [("a", 1, dt.datetime(2024, 1, 1, 0, 0, 1)),
         ("a", 99, None),          # NULL event_time: must NOT win
         ("b", 7, dt.datetime(2024, 1, 1, 0, 0, 2))],
        "key string, lval long, event_time timestamp",
    )
    right = spark.createDataFrame(
        [("a", "x", dt.datetime(2024, 1, 1, 0, 0, 1)),
         ("b", "y", dt.datetime(2024, 1, 1, 0, 0, 1))],
        "key string, rname string, event_time timestamp",
    )
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    left.write.parquet(lp)
    right.write.parquet(rp)
    out = ksml(
        ["join",
         ["table", file_stream_source(spark, lp),
          {"key": "key", "time": "event_time", "order": ["event_time"]}],
         ["table", file_stream_source(spark, rp),
          {"key": "key", "time": "event_time", "order": ["event_time"]}]],
        spark=spark,
    )
    got = _final_rows(run_to_memory(out, "tt_nullord", output_mode="update"))
    assert got["a"]["lval"] == 1  # the real-timestamped record won
    assert got["b"]["lval"] == 7


def test_streaming_table_table_join_cross_batch_update(spark, tmp_path):
    """Updates arriving in a LATER micro-batch must re-emit the joined
    row with the new value and a higher __seq (update semantics)."""
    src = _json_batch_source(spark, tmp_path, [
        [{"side": "l", "key": "a", "lval": 1, "event_time": "2024-01-01T00:00:01"},
         {"side": "r", "key": "a", "rname": "x0", "event_time": "2024-01-01T00:00:01"}],
        [{"side": "r", "key": "a", "rname": "x1", "event_time": "2024-01-01T00:00:05"}],
        [{"side": "l", "key": "a", "lval": 2, "event_time": "2024-01-01T00:00:09"}],
    ])
    out = ksml(
        ["join",
         ["table", src.filter("side = 'l'").drop("rname", "side"),
          {"key": "key", "time": "event_time", "order": ["event_time"]}],
         ["table", src.filter("side = 'r'").drop("lval", "side"),
          {"key": "key", "time": "event_time", "order": ["event_time"]}]],
        spark=spark,
    )
    mem = run_to_memory(out, "tt_xbatch", output_mode="update")
    rows = sorted(mem.collect(), key=lambda r: r["__seq"])
    emitted = [(r["lval"], r["rname"]) for r in rows]
    assert emitted == [(1, "x0"), (1, "x1"), (2, "x1")]
    # rows are sorted by __seq, so distinct values == strictly increasing
    assert len({r["__seq"] for r in rows}) == len(rows)


def _cut(data, n: int) -> list:
    """1-5 nonempty consecutive slices of range(n), cut at random."""
    from hypothesis import strategies as st

    cuts = data.draw(st.lists(st.integers(1, n - 1), max_size=4, unique=True)
                     if n > 1 else st.just([]))
    bounds = [0, *sorted(cuts), n]
    return [range(a, b) for a, b in zip(bounds, bounds[1:])]


def _tt_batch_cut_property(spark, tmp_factory, data):
    """Changelog rows on both sides (NULL values are tombstones, NULL and
    tied event times), cut at random into 1-5 micro-batches: the final
    state of each streaming join equals the batch join of the same rows.
    The order is (event_time, n), n the arrival index: a full-tuple tie
    makes max_by in the batch view pick an arbitrary record."""
    import json
    import os
    import uuid

    from hypothesis import strategies as st
    from pyspark.sql.types import StructType

    row = st.tuples(st.sampled_from("lr"), st.sampled_from("abc"),
                    st.one_of(st.none(), st.integers(0, 9)),
                    st.one_of(st.none(), st.integers(0, 3)))
    rows = data.draw(st.lists(row, min_size=1, max_size=24))
    recs = []
    for n, (side, key, val, t) in enumerate(rows):
        et = None if t is None else f"2024-01-01T00:00:0{t}"
        v = {"lval": val} if side == "l" else {
            "rname": None if val is None else f"v{val}"}
        recs.append({"side": side, "key": key, "event_time": et, "n": n, **v})
    schema = _SIDES_SCHEMA + ", n long"
    tmp = tmp_factory.mktemp("cut")
    src = _json_batch_source(spark, tmp, [[recs[i] for i in b] for b in _cut(data, len(recs))],
                             schema=schema)
    whole = spark.read.schema(StructType.fromDDL(schema)).json(os.path.join(str(tmp), "src"))

    def tables(df):
        opts = {"key": "key", "time": "event_time", "order": ["event_time", "n"]}
        return (["table", df.filter("side = 'l'").drop("rname", "side"),
                 {**opts, "tombstone": "lval IS NULL"}],
                ["table", df.filter("side = 'r'").drop("lval", "side"),
                 {**opts, "tombstone": "rname IS NULL"}])

    def final(r):
        return (r["lval"], r["rname"], r["n"], r["r_n"])

    for kind in ("join", "left-join", "outer-join"):
        out = ksml([kind, *tables(src)], spark=spark)
        mem = run_to_memory(out, f"tt_cut_{uuid.uuid4().hex}", output_mode="update")
        got = {k: final(r) for k, r in _final_rows(mem).items()
               if not (r["lval"] is None and r["rname"] is None)}
        want = {r["key"]: final(r)
                for r in ksml([kind, *tables(whole)], spark=spark).df.collect()}
        assert got == want, (kind, json.dumps(recs))


@pytest.mark.slow
def test_streaming_tt_join_batch_cut_invariant(spark, tmp_path_factory):
    from hypothesis import HealthCheck, given, settings, strategies as st

    @settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.data())
    def check(data):
        _tt_batch_cut_property(spark, tmp_path_factory, data)

    check()


def test_streaming_tt_join_batch_cut_invariant_fast(spark, tmp_path_factory):
    """Fast-tier sample of the property above."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    @settings(max_examples=2, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.data())
    def check(data):
        _tt_batch_cut_property(spark, tmp_path_factory, data)

    check()


def _st_batch_cut_property(spark, tmp_factory, data):
    """Stream records and table updates arriving in event-time order
    (right before left at equal times; tombstones as NULL names), cut at
    random into 1-5 micro-batches: each stream record is enriched with
    the table value of the last update that arrived before it, as a
    pandas recount of the time-synchronised lookup says."""
    import json
    import uuid

    from hypothesis import strategies as st

    row = st.tuples(st.sampled_from("lr"), st.sampled_from("abc"),
                    st.one_of(st.none(), st.integers(0, 9)), st.integers(0, 5))
    rows = sorted(data.draw(st.lists(row, min_size=1, max_size=24)),
                  key=lambda r: (r[3], r[0] == "l"))
    recs = []
    for n, (side, key, val, t) in enumerate(rows):
        rec = {"side": side, "key": key, "event_time": f"2024-01-01T00:00:0{t}", "n": n}
        if side == "l":
            rec["fid"] = n
        else:
            rec["rname"] = None if val is None else f"v{val}"
        recs.append(rec)
    src = _json_batch_source(
        spark, tmp_factory.mktemp("cut"), [[recs[i] for i in b] for b in _cut(data, len(recs))],
        schema="side string, key string, fid long, rname string, event_time timestamp, n long")
    stream = ["stream", src.filter("side = 'l'").select("key", "fid", "event_time"),
              {"key": "key", "time": "event_time"}]
    table = ["table", src.filter("side = 'r'").select("key", "rname", "event_time", "n"),
             {"key": "key", "time": "event_time", "order": ["event_time", "n"],
              "tombstone": "rname IS NULL"}]
    for kind, how in (("join", "inner"), ("left-join", "left")):
        out = ksml([kind, stream, table], spark=spark)
        mem = run_to_memory(out, f"st_cut_{uuid.uuid4().hex}", output_mode="update")
        got = sorted((r["key"], r["fid"], r["rname"]) for r in mem.collect())
        cur, want = {}, []
        for rec in recs:
            if rec["side"] == "r":
                cur[rec["key"]] = rec["rname"]
            elif how == "left" or cur.get(rec["key"]) is not None:
                want.append((rec["key"], rec["fid"], cur.get(rec["key"])))
        assert got == sorted(want), (kind, json.dumps(recs))


@pytest.mark.slow
def test_streaming_stream_table_join_batch_cut_invariant(spark, tmp_path_factory):
    from hypothesis import HealthCheck, given, settings, strategies as st

    @settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.data())
    def check(data):
        _st_batch_cut_property(spark, tmp_path_factory, data)

    check()


def test_streaming_stream_table_join_batch_cut_invariant_fast(spark, tmp_path_factory):
    """Fast-tier sample of the property above."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    @settings(max_examples=2, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.data())
    def check(data):
        _st_batch_cut_property(spark, tmp_path_factory, data)

    check()


def test_streaming_tt_join_restarts_from_its_checkpoint(spark, tmp_path):
    """Serve the changelog join on a checkpoint, drain two files, stop;
    land a third file that updates one key on each side and tombstones
    another; serve again on the same checkpoint: the served state equals
    a pandas recount over all three files."""
    import json
    import os

    from pyspark.sql.types import StructType

    sdir, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(sdir)
    files = []

    def land(rows):
        i = len(files)
        files.append(rows)
        p = os.path.join(sdir, f"b{i}.json")
        with open(p + ".tmp", "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)
        os.utime(p + ".tmp", (i + 1, i + 1))
        os.replace(p + ".tmp", p)

    def rec(side, key, val, t):
        v = {"lval": val} if side == "l" else {"rname": val}
        return {"side": side, "key": key, "event_time": f"2024-01-01T00:00:{t:02d}", **v}

    def serve():
        src = (spark.readStream.schema(StructType.fromDDL(_SIDES_SCHEMA))
               .option("maxFilesPerTrigger", 1).json(sdir))
        opts = {"key": "key", "time": "event_time", "order": ["event_time"]}
        out = ksml(["join",
                    ["table", src.filter("side = 'l'").drop("rname", "side"), opts],
                    ["table", src.filter("side = 'r'").drop("lval", "side"), opts]],
                   spark=spark)
        return ksml(["serve", out, {"name": "served_tt_restart", "storage": "table",
                                    "buckets": 2, "checkpoint": ckpt}], spark=spark)

    spark.sql("DROP TABLE IF EXISTS served_tt_restart")
    land([rec("l", k, i, 1) for i, k in enumerate("abcd")]
         + [rec("r", k, f"x{k}", 1) for k in "abc"])
    land([rec("l", "a", 10, 2), rec("r", "d", "xd", 2)])
    try:
        h = serve()
        assert {r["key"]: (r["lval"], r["rname"]) for r in h.all()} == {
            "a": (10, "xa"), "b": (1, "xb"), "c": (2, "xc"), "d": (3, "xd")}
        h.stop()
        land([rec("l", "b", 11, 3), rec("r", "c", "yc", 3), rec("l", "d", None, 3)])
        h = serve()
        got = {r["key"]: (r["lval"], r["rname"]) for r in h.all()}
        h.stop()
    finally:
        spark.sql("DROP TABLE IF EXISTS served_tt_restart")

    pdf = pd.DataFrame([r for rows in files for r in rows])
    pdf["at"] = pd.to_datetime(pdf["event_time"])
    latest = {s: pdf[pdf["side"] == s].sort_values("at", kind="stable")
              .drop_duplicates("key", keep="last").set_index("key") for s in "lr"}
    want = {}
    for k in sorted(set(latest["l"].index) & set(latest["r"].index)):
        lv, rn = latest["l"].loc[k, "lval"], latest["r"].loc[k, "rname"]
        if pd.notna(lv) and pd.notna(rn):
            want[k] = (int(lv), rn)
    assert got == want == {"a": (10, "xa"), "b": (11, "xb"), "c": (2, "yc")}


_SESS_SCHEMA = "key string, val string, event_time timestamp"


def _streaming_session_agg(spark, src):
    s = ksml(["stream", src, {"key": "key", "time": "event_time"}], spark=spark)
    return ksml(
        ["aggregate",
         ["windowed-by", ["group-by-key", s], ["session-window", 10000]],
         ["initializer", lambda: ""],
         ["aggregator", lambda k, v, acc: v if acc == "" else acc + "+" + v],
         ["merger", lambda k, a1, a2: a1 + "|" + a2],
         {"value-type": "string"}],
        spark=spark,
    )


def test_streaming_session_aggregate_multi_batch_serve(spark, tmp_path):
    """Streaming opaque session :aggregate across >=2 micro-batches for
    the same key, served through the update-mode handle.

    Regression-pins two review findings at once:
    * GroupState.get is a property — ``state.get()`` crashed the SECOND
      micro-batch for any key (a single availableNow batch masks it).
    * one emission is the key's FULL session snapshot (N rows, same
      __seq): the serve dedup must keep all of them, not row_number()==1.
    """
    src = _json_batch_source(spark, tmp_path, [
        [{"key": "u", "val": "a", "event_time": "2024-01-01T00:00:00"},
         {"key": "u", "val": "b", "event_time": "2024-01-01T00:01:40"},
         # key w: two open sessions [0,0] and [15,15] (gap 10s)
         {"key": "w", "val": "x", "event_time": "2024-01-01T00:00:00"},
         {"key": "w", "val": "y", "event_time": "2024-01-01T00:00:15"}],
        # batch 2 re-touches BOTH keys -> state.exists path runs
        [{"key": "u", "val": "c", "event_time": "2024-01-01T00:00:08"},
         {"key": "u", "val": "d", "event_time": "2024-01-01T00:03:20"},
         # w's t=8 bridges its two sessions: cross-batch merger fires
         {"key": "w", "val": "z", "event_time": "2024-01-01T00:00:08"}],
    ], schema=_SESS_SCHEMA)
    out = _streaming_session_agg(spark, src)
    h = ksml(["serve", out, {"name": "sess_mb_serve"}], spark=spark)
    try:
        u = {(r["window_start"].isoformat(), r["window_end"].isoformat()): r["value"]
             for r in h.lookup("u")}
        assert u == {
            ("2024-01-01T00:00:00", "2024-01-01T00:00:08"): "a+c",
            ("2024-01-01T00:01:40", "2024-01-01T00:01:40"): "b",
            ("2024-01-01T00:03:20", "2024-01-01T00:03:20"): "d",
        }, u
        w = {(r["window_start"].isoformat(), r["window_end"].isoformat()): r["value"]
             for r in h.lookup("w")}
        assert w == {("2024-01-01T00:00:00", "2024-01-01T00:00:15"): "x|y+z"}, w
        # full snapshot: every live session of every key
        assert len(h.all()) == 4
    finally:
        h.stop()


def test_streaming_session_aggregate_matches_batch(spark, tmp_path):
    """Same records, batch vs 2-micro-batch streaming: identical final
    sessionization (the streaming fold resumes from per-key state)."""
    import datetime as dt

    rows_b1 = [("u", "a", dt.datetime(2024, 1, 1, 0, 0, 0)),
               ("u", "b", dt.datetime(2024, 1, 1, 0, 1, 40)),
               ("w", "x", dt.datetime(2024, 1, 1, 0, 0, 0))]
    rows_b2 = [("u", "c", dt.datetime(2024, 1, 1, 0, 0, 8)),
               ("w", "y", dt.datetime(2024, 1, 1, 0, 0, 5))]
    batch_df = spark.createDataFrame(rows_b1 + rows_b2, _SESS_SCHEMA)
    s = ksml(["stream", batch_df, {"key": "key", "time": "event_time"}], spark=spark)
    golden = ksml(
        ["aggregate",
         ["windowed-by", ["group-by-key", s], ["session-window", 10000]],
         ["initializer", lambda: ""],
         ["aggregator", lambda k, v, acc: v if acc == "" else acc + "+" + v],
         ["merger", lambda k, a1, a2: a1 + "|" + a2],
         {"value-type": "string"}],
        spark=spark,
    )
    want = {(r["key"], r["window_start"], r["window_end"]): r["value"]
            for r in golden.df.collect()}

    def _iso(t):
        return t.isoformat()

    src = _json_batch_source(spark, tmp_path, [
        [{"key": k, "val": v, "event_time": _iso(t)} for k, v, t in rows_b1],
        [{"key": k, "val": v, "event_time": _iso(t)} for k, v, t in rows_b2],
    ], schema=_SESS_SCHEMA)
    out = _streaming_session_agg(spark, src)
    h = ksml(["serve", out, {"name": "sess_parity_serve"}], spark=spark)
    try:
        got = {(r["key"], r["window_start"], r["window_end"]): r["value"]
               for r in h.all()}
        assert got == want, (got, want)
    finally:
        h.stop()


@pytest.mark.slow
def test_streaming_session_watermark_eviction(spark, tmp_path):
    """With an upstream watermark, sessions more than gap behind it are
    evicted from state via one final __closed emission; the served view
    still contains every session (closed ∪ live snapshot)."""
    src = _json_batch_source(spark, tmp_path, [
        [{"key": "u", "val": "a", "event_time": "2024-01-01T00:00:00"}],
        [{"key": "u", "val": "b", "event_time": "2024-01-01T00:01:40"}],
        # watermark now ~t=95s; session [0,0] is > gap(10s) behind -> closed
        [{"key": "u", "val": "c", "event_time": "2024-01-01T00:05:00"}],
    ], schema=_SESS_SCHEMA)
    s = ksml(["stream", src, {"key": "key", "time": "event_time"}], spark=spark)
    s = ksml(["with-watermark", s, "5 seconds"], spark=spark)
    out = ksml(
        ["aggregate",
         ["windowed-by", ["group-by-key", s], ["session-window", 10000]],
         ["initializer", lambda: ""],
         ["aggregator", lambda k, v, acc: v if acc == "" else acc + "+" + v],
         ["merger", lambda k, a1, a2: a1 + "|" + a2],
         {"value-type": "string"}],
        spark=spark,
    )
    h = ksml(["serve", out, {"name": "sess_evict_serve"}], spark=spark)
    try:
        got = {(r["window_start"].second + 60 * r["window_start"].minute): r["value"]
               for r in h.lookup("u")}
        assert got == {0: "a", 100: "b", 300: "c"}, got
        # raw emission evidence, from a memory-sink run of the same
        # form: [0,0] closes in the 3rd (data) batch; the armed
        # event-time timer then closes [100,100] in a 4th timer-only
        # batch once the watermark (295s) passes 100s+gap
        raw = run_to_memory(out, "sess_evict_raw", output_mode="update")
        closed = [(r["window_start"].second, r["__seq"]) for r in
                  raw.filter("__closed").orderBy("__seq").collect()]
        assert closed == [(0, 3), (40, 4)], closed
        live3 = {r["window_start"].minute * 60 + r["window_start"].second
                 for r in raw.filter("__seq = 3 AND NOT __closed").collect()}
        assert live3 == {100, 300}, live3
        live4 = {r["window_start"].minute * 60 + r["window_start"].second
                 for r in raw.filter("__seq = 4 AND NOT __closed").collect()}
        assert live4 == {300}, live4
    finally:
        h.stop()


def test_streaming_session_dormant_key_timer_eviction(spark, tmp_path):
    """A key that stops receiving data must still be evicted when the
    watermark passes its sessions (event-time timer invocation) — with
    NoTimeout, dormant keys' state would grow forever."""
    src = _json_batch_source(spark, tmp_path, [
        [{"key": "w", "val": "x", "event_time": "2024-01-01T00:00:00"},
         {"key": "u", "val": "a", "event_time": "2024-01-01T00:03:20"}],
        # only u gets data; w must be closed by its timer as the
        # watermark (195s) passes w's session end (0s) + gap (10s)
        [{"key": "u", "val": "b", "event_time": "2024-01-01T00:06:40"}],
    ], schema=_SESS_SCHEMA)
    s = ksml(["stream", src, {"key": "key", "time": "event_time"}], spark=spark)
    s = ksml(["with-watermark", s, "5 seconds"], spark=spark)
    out = ksml(
        ["aggregate",
         ["windowed-by", ["group-by-key", s], ["session-window", 10000]],
         ["initializer", lambda: ""],
         ["aggregator", lambda k, v, acc: v if acc == "" else acc + "+" + v],
         ["merger", lambda k, a1, a2: a1 + "|" + a2],
         {"value-type": "string"}],
        spark=spark,
    )
    h = ksml(["serve", out, {"name": "sess_timer_serve"}], spark=spark)
    try:
        # w was closed via a timer-only invocation (no w data in batch
        # 2): the raw emissions of a memory-sink run of the same form
        raw = run_to_memory(out, "sess_timer_raw", output_mode="update")
        w_closed = [(r["value"], r["__seq"]) for r in
                    raw.filter("key = 'w' AND __closed").collect()]
        assert w_closed == [("x", 2)], w_closed
        # and the serve view still returns w's session plus u's sessions
        assert {r["value"] for r in h.lookup("w")} == {"x"}
        assert {r["value"] for r in h.lookup("u")} == {"a", "b"}
    finally:
        h.stop()


def test_streaming_decontaminate_matches_batch(spark, tables, tmp_path):
    """decontaminate over a STREAMING corpus (continuous-ingestion
    decontamination): stream-static broadcast probe + update-mode count,
    final state equal to the batch answer on the same data."""
    docs = tables["documents"]
    p = str(tmp_path / "docs_stream")
    docs.write.parquet(p)
    bench_form = ["where", ["stream", docs, {"key": "doc_id"}], "doc_id % 41 = 0"]
    want = {(r["corpus_id"], r["bench_id"]): r["n_shared"] for r in ksml(
        ["decontaminate", ["stream", docs, {"key": "doc_id"}],
         bench_form, {"n": 3, "min_shared": 2}], spark=spark).df.collect()}
    out = ksml(
        ["decontaminate",
         ["stream", file_stream_source(spark, p), {"key": "doc_id"}],
         bench_form, {"n": 3, "min_shared": 2}],
        spark=spark,
    )
    assert out.df.isStreaming
    mem = run_to_memory(out, "decontam_stream", output_mode="update")
    got = {(r["corpus_id"], r["bench_id"]): r["n_shared"] for r in mem.collect()}
    assert got == want and len(got) > 0


def test_streaming_session_fold_checkpoint_recovery(spark, tmp_path):
    """Session-fold state (pickled live-session list) survives a query
    RESTART from the checkpoint: batch 2 runs in a fresh query and must
    extend batch 1's session rather than refold from scratch."""
    import json
    import os

    from pyspark.sql.types import StructType

    sdir, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(sdir)

    def add_batch(i, rows):
        p = os.path.join(sdir, f"b{i}.json")
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (i + 1, i + 1))

    captured = {}

    def run():
        src = (spark.readStream.schema(StructType.fromDDL(_SESS_SCHEMA))
               .json(sdir))
        out = _streaming_session_agg(spark, src)

        def capture(df, batch_id):
            for r in df.collect():
                captured[(r["key"], r["window_start"].isoformat())] = (
                    r["value"], r["__seq"])

        q = (out.df.writeStream.foreachBatch(capture).outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    add_batch(0, [{"key": "u", "val": "a", "event_time": "2024-01-01T00:00:00"}])
    run()
    assert captured == {("u", "2024-01-01T00:00:00"): ("a", 1)}, captured
    captured.clear()
    # t=8 falls within gap of the CHECKPOINTED session [0,0]; a refold
    # from scratch would instead produce a lone "b" session
    add_batch(1, [{"key": "u", "val": "b", "event_time": "2024-01-01T00:00:08"}])
    run()
    assert captured == {("u", "2024-01-01T00:00:00"): ("a+b", 2)}, captured


def test_streaming_histogram_matches_batch(spark, events_path, tables):
    """histogram is a plain keyed aggregation, so it runs unchanged on a
    stream in update mode; final bins equal the batch answer."""
    form = lambda src: pipe(  # noqa: E731
        src, ["histogram", {"col": "value", "bins": 8, "min": 0, "max": 400}],
        spark=spark)
    stream = form(events_stream(spark, events_path))
    assert stream.df.isStreaming
    got = run_to_memory(stream, "hist_stream", output_mode="complete")
    batch = form(["stream", tables["events"], {"key": "user_id"}]).df
    g = {r["bin"]: r["count"] for r in got.collect()}
    b = {r["bin"]: r["count"] for r in batch.collect()}
    assert g == b and len(b) > 0


def _run_noop_state(df, ckpt):
    """Run availableNow to the noop sink; return (max, final) summed
    stateOperators.numRowsTotal across triggers — the engine's own
    state-store accounting, the quantity the r11 streaming scale probe
    measures at 100x this size."""
    import json as _json

    q = (df.writeStream.format("noop").outputMode("update")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    mx = last = 0
    for p in q.recentProgress:
        if not isinstance(p, dict):
            p = _json.loads(p.json)
        tot = sum(so.get("numRowsTotal", 0)
                  for so in (p.get("stateOperators") or []))
        mx = max(mx, tot)
        if tot:
            last = tot
    return mx, last


def test_streaming_state_bounded_by_keys_not_batches(spark, tmp_path):
    """Pins the r11 streaming scale probe's invariant at test scale: the
    changelog-join state store holds one row per LIVE KEY, however many
    micro-batches (re)delivered those keys — re-batching updates must
    not grow state."""
    from ksml_spark.streaming.changelog_join import changelog_join

    keys = ["a", "b", "c", "d", "e"]
    batches = []
    for b in range(3):  # every key updated on BOTH sides in every batch
        rows = []
        for k in keys:
            t = f"2024-01-01T0{b}:00:00"
            rows.append({"side": "l", "key": k, "lval": b, "event_time": t})
            rows.append({"side": "r", "key": k, "rname": f"x{b}", "event_time": t})
        batches.append(rows)
    src = _json_batch_source(spark, tmp_path, batches)
    lt = ksml(["table", src.filter("side = 'l'").drop("rname", "side"),
               {"key": "key", "time": "event_time", "order": ["event_time"]}],
              spark=spark)
    rt = ksml(["table", src.filter("side = 'r'").drop("lval", "side"),
               {"key": "key", "time": "event_time", "order": ["event_time"]}],
              spark=spark)
    out = changelog_join(lt, rt, "inner")
    mx, last = _run_noop_state(out.df, str(tmp_path / "ck_state"))
    assert last == len(keys), (mx, last)   # state == live keys,
    assert mx == len(keys), (mx, last)     # NOT keys x batches (15)


@pytest.mark.slow
def test_streaming_lsh_join_dedup_within_bounds_pair_state(spark, tmp_path):
    """The one corpus-unbounded streaming store: lsh-join's cross-batch
    candidate-pair dedup. Without dedup_within it accumulates every
    pair ever emitted; with {'dedup_within': ...} watermark eviction
    bounds it to the active window (r11 probe: 109k vs 2.7k rows at
    sf0.1 — here pinned exactly at test scale)."""
    import json as _json
    import os

    texts = {
        "A": "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "B": "lambda mu nu xi omicron pi rho sigma tau upsilon",
        "C": "phi chi psi omega one two three four five six",
    }
    ref = spark.createDataFrame(
        [(f"r_{k}", t) for k, t in texts.items()],
        "doc_id string, text string")
    sdir = str(tmp_path / "docs_src")
    os.makedirs(sdir)
    for b, k in enumerate(texts):  # batch b: two stream copies of text k
        p = os.path.join(sdir, f"b{b}.json")
        with open(p, "w") as f:
            for j in range(2):
                f.write(_json.dumps(
                    {"doc_id": f"s{b}{j}", "text": texts[k],
                     "ts": f"2024-01-01T{2 * b:02d}:00:00"}) + "\n")
        os.utime(p, (b + 1, b + 1))
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("doc_id string, text string, ts timestamp")

    def run(extra, ck):
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).json(sdir))
        out = ksml(["lsh-join",
                    ["stream", src, {"key": "doc_id", "time": "ts"}],
                    ["stream", ref, {"key": "doc_id"}],
                    dict({"broadcast": True}, **extra)], spark=spark)
        return _run_noop_state(out.df, str(tmp_path / ck))

    mx_plain, last_plain = run({}, "ck_plain")
    # every (stream doc, matching ref doc) pair stays in state forever:
    # 2 pairs per batch x 3 batches
    assert last_plain == 6, (mx_plain, last_plain)
    mx_win, last_win = run({"dedup_within": "30 minutes"}, "ck_win")
    # 2h batch spacing >> 30min window: earlier batches' pairs evict
    assert last_win < last_plain, (last_win, last_plain)
