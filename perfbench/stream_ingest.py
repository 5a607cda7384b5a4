"""stream_ingest: an open-loop windowed count over a fake-Kafka topic, the
reference's anomaly-detection shape, followed by a catch-up drain.

Pipeline: ``stream`` kafka -> ``consumed`` (String key, JSON value,
timestamp extractor) -> ``with-watermark`` -> ``group-by-key`` ->
tumbling ``windowed-by`` -> ``count`` -> ``where`` threshold -> a parquet
``foreachBatch`` sink owned by the benchmark, on a processing-time
trigger.

Source decode, the state store, per-batch overhead and the sink do nearly
all the work; eval, dedup and serving do none.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import loadgen
from perfbench.harness import (Failed, file_batches, median, percentile,
                               progress_dicts)

# events/s, fixed for steady latency rather than as a share of capacity;
# perfbench/README.md gives the measurements behind it
RATE = 20_000
TICK_S = 0.1
USERS = 100_000
ZIPF_S = 1.1
DISORDER_SHARE = 0.05  # share of events whose event time lags creation...
DISORDER_S = 2.0  # ...by up to this much: out of order, inside the watermark
WATERMARK = "10 seconds"
WINDOW_MS = 2_000
THRESHOLD = 5
TRIGGER = "500 milliseconds"
BACKLOG_EVENTS = 200_000
BACKLOG_FILES = 20
# the backlog drains this many times, each into a query of its own, and
# the catch-up rate is taken over all of them: one drain is a single ~2 s
# batch
CATCHUP_DRAINS = 2
# the latency tail: p99 falls inside the slowest one of the ~12 batches
# of a run and spread twice as much as p95 from run to run
TAIL_Q = 95
SEED_EVENTS = 2_000
WARM_EVENTS = 10_000
DRAIN_DEADLINE_S = 30.0
TOPIC = "clicks"


def pipeline_form(fake_dir: str) -> list:
    from ksml_spark import vthread

    return vthread(
        ["stream", ["kafka", {"subscribe": TOPIC, "fake_dir": fake_dir}],
         ["consumed", ["serde", "String"], ["serde", "json", "ts long, seq long"],
          ["timestamp-extractor", "timestamp_millis(value.ts)", "fail"]]],
        ["with-watermark", WATERMARK],
        ["group-by-key"],
        ["windowed-by", ["time-window", WINDOW_MS]],
        ["count"],
        ["to-stream"],
        ["where", f"count >= {THRESHOLD}"],
    )


class ParquetSink:
    """The foreachBatch callback: appends each micro-batch's updated
    windows, tagged with the batch id, and records when it committed."""

    def __init__(self, b, out_dir: str):
        self.b, self.out_dir = b, out_dir
        self.commit_s: dict = {}
        self.write_ms: list = []

    def __call__(self, df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(self.out_dir)
        t1 = time.perf_counter()
        self.commit_s[batch_id] = time.time()
        self.write_ms.append((t1 - t0) * 1000.0)
        self.b.tracer.add("sinks.write", f"batch-{batch_id}", t0, t1)


def start(b, fake_dir: str, name: str, available_now: bool):
    sink = ParquetSink(b, b.path(name, "out"))
    rel = b.build(pipeline_form(fake_dir), trace=name)
    w = (rel.df.writeStream.foreachBatch(sink).outputMode("update")
         .option("checkpointLocation", b.path(name, "checkpoint")))
    w = w.trigger(availableNow=True) if available_now else w.trigger(processingTime=TRIGGER)
    with b.tracer.span("streaming.start", name):
        q = w.start()
    return q, sink


def setup(b, i: int) -> dict:
    """Pre-write the catch-up backlog and warm the pipeline up on a small
    topic of its own."""
    d = f"setup{i}"
    backlog = loadgen.EventLog()
    src = loadgen.EventSource(b.seed * 7919 + 1, USERS, ZIPF_S, DISORDER_SHARE, DISORDER_S)
    loadgen.write_backlog(loadgen.KafkaTopicWriter(b.path(d, "backlog"), TOPIC), src,
                          backlog, BACKLOG_EVENTS, BACKLOG_FILES, time.time() - 60, RATE)
    warm_src = loadgen.EventSource(b.seed * 7919 + 2, USERS, ZIPF_S)
    loadgen.write_backlog(loadgen.KafkaTopicWriter(b.path(d, "warm"), TOPIC), warm_src,
                          loadgen.EventLog(), WARM_EVENTS, 4, time.time() - 10, RATE)
    q, _ = start(b, b.path(d, "warm"), f"{d}/warmq", available_now=True)
    q.awaitTermination()
    # the live topic starts with one file, so the live query has planned
    # and run its first batch before the timed events arrive
    writer = loadgen.KafkaTopicWriter(b.path(d, "live"), TOPIC)
    seeded = loadgen.EventLog()
    live_src = loadgen.EventSource(b.seed * 7919 + 3, USERS, ZIPF_S, DISORDER_SHARE, DISORDER_S)
    loadgen.write_backlog(writer, live_src, seeded, SEED_EVENTS, 1, time.time() - 1, RATE)
    return {"dir": d, "backlog": backlog, "writer": writer, "src": live_src, "seeded": seeded}


def measure(b, st: dict) -> dict:
    d = st["dir"]
    writer = st["writer"]
    q, sink = start(b, writer.fake_dir, f"{d}/liveq", available_now=False)
    with b.tracer.span("streaming.await", "live"):
        q.processAllAvailable()
    b.settle()
    prod = loadgen.OpenLoopProducer(writer, st["src"], RATE, TICK_S, b.seconds)
    lag = []
    prod.start()
    while prod.is_alive():
        prod.join(TICK_S * 2)
        if b.tracing:
            done = sum(p["numInputRows"] for p in progress_dicts(q))
            lag.append(len(st["seeded"].keys) + len(prod.log.keys) - done)
    if prod.error is not None:
        raise Failed(f"load generator failed: {prod.error!r}")
    offered = len(prod.log.keys) + len(st["seeded"].keys)
    deadline = time.time() + DRAIN_DEADLINE_S
    with b.tracer.span("streaming.drain", "live"):
        while time.time() < deadline:
            if sum(p["numInputRows"] for p in progress_dicts(q)) >= offered:
                break
            time.sleep(0.05)
    q.stop()
    progress = progress_dicts(q)

    lat_ms, missed = event_latencies(prod.log, file_batches(b.path(d, "liveq", "checkpoint")),
                                     sink.commit_s)

    # catch-up: the pre-written backlog drains under availableNow; its rate
    # is taken over the batches that read input, so query start-up and the
    # closing no-data batch do not count against capacity
    busy, drains, outs = [], [], []
    for r in range(CATCHUP_DRAINS):
        b.settle()
        t0 = time.perf_counter()
        cq, csink = start(b, b.path(d, "backlog"), f"{d}/catchq{r}", available_now=True)
        with b.tracer.span("streaming.await", "catchup"):
            cq.awaitTermination()
        drains.append(time.perf_counter() - t0)
        busy.append(sum(p["durationMs"]["triggerExecution"] for p in progress_dicts(cq)
                        if p["numInputRows"] > 0) / 1000.0)
        outs.append(csink.out_dir)
    catchup = CATCHUP_DRAINS * len(st["backlog"].keys) / sum(busy)

    live = loadgen.EventLog(keys=st["seeded"].keys + prod.log.keys,
                            event_ms=st["seeded"].event_ms + prod.log.event_ms)
    wrong = check_windows(live, sink.out_dir) + sum(
        check_windows(st["backlog"], out) for out in outs)
    late_failed = prod.late_events(loadgen.LATE_LIMIT_S)
    b.tally(offered + CATCHUP_DRAINS * len(st["backlog"].keys), missed + wrong + late_failed)
    if not len(lat_ms):
        raise Failed("no event reached the sink")

    p50, tail = percentile(lat_ms, 50), percentile(lat_ms, TAIL_Q)
    b.named.update({
        "event_latency_p50_ms": (p50, "ms"),
        f"event_latency_p{TAIL_Q}_ms": (tail, "ms"),
        "event_latency_p99_ms": (percentile(lat_ms, 99), "ms"),
        "catchup_events_per_s": (catchup, "events/s"),
        "catchup_drain_s": (median(drains), "s"),
        "events_measured": (float(len(lat_ms)), "count"),
    })
    if b.tracing:
        b.streaming_layers(progress)
        rows = pq.read_table(sink.out_dir).num_rows if os.path.exists(sink.out_dir) else 0
        b.layer.update({
            "sources.lag_events_max": max(lag, default=0),
            "sinks.write_ms_p50": median(sink.write_ms),
            "sinks.rows_out": rows,
            "loadgen.offered_events": len(prod.log.keys),
            "loadgen.disordered_events": int(np.sum(
                np.array(prod.log.event_ms) < np.floor(np.array(prod.log.created_s) * 1000))),
            "loadgen.late_max_ms": prod.late_max_ms(),
        })
    return {
        "latency_p50_ms": p50,
        "latency_tail_ms": tail,
        "event_latency_p50_ms": p50,
        "throughput_per_s": catchup,
    }


def event_latencies(log: loadgen.EventLog, batches: dict, commit_s: dict):
    """Latency of every event from its creation stamp to the commit of the
    micro-batch that read its file; events never committed are missed."""
    created = np.asarray(log.created_s)
    out, missed = [], 0
    for name, (first, n) in log.files.items():
        bid = batches.get(name)
        if bid is None or bid not in commit_s:
            missed += n
            continue
        out.append((commit_s[bid] - created[first:first + n]) * 1000.0)
    return (np.concatenate(out) if out else np.array([])), missed


def check_windows(log: loadgen.EventLog, out_dir: str) -> int:
    """Events whose window count is wrong: the last emission of every
    (key, window) above the threshold must equal a recount of the
    generator's log."""
    ev = pd.DataFrame({"key": log.keys, "ws": np.asarray(log.event_ms) // WINDOW_MS * WINDOW_MS})
    want = ev.groupby(["key", "ws"]).size()
    want = want[want >= THRESHOLD]
    if os.path.exists(out_dir):
        got = pq.read_table(out_dir, columns=["key", "window_start", "count", "batch_id"]).to_pandas()
    else:
        got = pd.DataFrame(columns=["key", "window_start", "count", "batch_id"])
    got["ws"] = ((pd.to_datetime(got["window_start"], utc=True) - pd.Timestamp(0, tz="UTC"))
                 // pd.Timedelta(milliseconds=1))
    last = got.sort_values("batch_id").groupby(["key", "ws"])["count"].last()
    both = pd.concat([want.rename("want"), last.rename("got")], axis=1)
    bad = both[both["want"].fillna(-1) != both["got"].fillna(-1)]
    return int(bad["want"].fillna(bad["got"]).sum())
