"""serve_lookup: point lookups against a table that is updated while it is
read.

An open-loop update topic at a fixed rate feeds a streaming ``["table",
...]`` that ``["serve", ...]`` materializes in memory storage on a
processing-time trigger. At the same time a fixed number of closed-loop
client threads call ``ServeHandle.lookup(key)`` with zipf keys and a
fixed share of keys that were never written.

The serving path does most of the work. A read-side gain that slows
refreshes shows in ``event_latency_p50_ms`` (update creation to the
served snapshot's commit) on this same workload; a refresh-side gain that
slows reads shows in the lookup latencies.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict

import numpy as np

from perfbench import loadgen
from perfbench.harness import (Failed, file_batches, group_counts, median,
                               min_samples, percentile, progress_commit_s,
                               progress_dicts)

UPDATE_RATE = 2_000  # updates/s
TICK_S = 0.1
KEYS = 20_000
ZIPF_S = 1.1
MISSING_SHARE = 0.1  # lookups of keys that were never written
CLIENTS = 3  # with the generator thread, nproc = 4 threads
TRIGGER = "500 milliseconds"
INITIAL_UPDATES = 20_000
DRAIN_DEADLINE_S = 30.0
TOPIC = "profiles"
LOOKUP_GROUP = "perfbench-lookup"
TAIL_Q = 90  # a 10 s run makes ~200 lookups; p90 needs 100 (ten beyond it)
EVENT_TAIL_Q = 99  # updates per run: UPDATE_RATE x seconds, p99 needs 1000


def table_form(fake_dir: str) -> list:
    return ["table", ["kafka", {"subscribe": TOPIC, "fake_dir": fake_dir}],
            ["consumed", ["serde", "String"], ["serde", "json", "ts long, seq long"],
             ["timestamp-extractor", "timestamp_millis(value.ts)", "fail"]],
            {"order": ["timestamp", "offset"]}]


def serve(b, fake_dir: str, name: str, trigger: str):
    rel = b.build(table_form(fake_dir), trace=name)
    opts = {"name": name.replace("/", "_"), "trigger": trigger,
            "checkpoint": b.path(name, "checkpoint")}
    return b.build(["serve", rel, opts], trace=name)


def setup(b, i: int) -> dict:
    """Write the topic's initial updates and warm the serving path up on
    a small topic of its own (serve, refresh, a few lookups)."""
    d = f"setup{i}"
    src = loadgen.EventSource(b.seed * 6271 + 1, KEYS, ZIPF_S, key_prefix="k")
    writer = loadgen.KafkaTopicWriter(b.path(d, "updates"), TOPIC)
    log = loadgen.EventLog()
    loadgen.write_backlog(writer, src, log, INITIAL_UPDATES, 2, time.time() - 10, UPDATE_RATE)
    warm_src = loadgen.EventSource(b.seed * 6271 + 2, KEYS, ZIPF_S, key_prefix="k")
    wlog = loadgen.EventLog()
    loadgen.write_backlog(loadgen.KafkaTopicWriter(b.path(d, "warm"), TOPIC), warm_src,
                          wlog, 2_000, 1, time.time() - 10, UPDATE_RATE)
    h = serve(b, b.path(d, "warm"), f"{d}/warm", "available_now")
    for k in wlog.keys[:20]:
        h.lookup(k)
    h.stop()
    return {"dir": d, "src": src, "writer": writer, "log": log}


class Client(threading.Thread):
    """Closed loop: the next lookup is sent when the previous returns."""

    def __init__(self, b, h, idx: int, stop: threading.Event):
        super().__init__(name=f"lookup-client-{idx}", daemon=True)
        self.b, self.h, self.stop = b, h, stop
        rng = np.random.default_rng(b.seed * 104729 + idx)
        self.rng, self.draw = rng, loadgen.zipf_sampler(rng, KEYS, ZIPF_S)
        self.idx = idx
        self.calls: list = []  # (key, start_s, latency_s, seqs or None on error)

    def run(self) -> None:
        self.b.spark.sparkContext.setJobGroup(LOOKUP_GROUP, LOOKUP_GROUP)
        n = 0
        while not self.stop.is_set():
            if self.rng.random() < MISSING_SHARE:
                key = f"m{int(self.rng.integers(1_000_000)):06d}"
            else:
                key = f"k{int(self.draw(1)[0]):06d}"
            start = time.time()
            t0 = time.perf_counter()
            try:
                rows = self.h.lookup(key)
                seqs = [r["value"]["seq"] for r in rows]
            except Exception:  # a failed lookup is counted, not fatal
                seqs = None
            t1 = time.perf_counter()
            self.b.tracer.add("serving.lookup", f"lookup-{self.idx}-{n}", t0, t1)
            self.calls.append((key, start, t1 - t0, seqs))
            n += 1


def measure(b, st: dict) -> dict:
    d = st["dir"]
    t0 = time.perf_counter()
    h = serve(b, st["writer"].fake_dir, f"{d}/live", TRIGGER)
    with b.tracer.span("serving.refresh", "materialize"):
        h.refresh()
    materialize_ms = (time.perf_counter() - t0) * 1000.0
    b.settle()

    prod = loadgen.OpenLoopProducer(st["writer"], st["src"], UPDATE_RATE, TICK_S, b.seconds)
    stop = threading.Event()
    clients = [Client(b, h, i, stop) for i in range(CLIENTS)]
    prod.start()
    t_clients = time.perf_counter()
    for c in clients:
        c.start()
    prod.join()
    # the lookup tail needs min_samples(TAIL_Q) lookups: when lookups are
    # slow the clients keep going after the generator has finished
    deadline = time.time() + DRAIN_DEADLINE_S
    while (sum(len(c.calls) for c in clients) < min_samples(TAIL_Q)
           and time.time() < deadline):
        time.sleep(0.05)
    stop.set()
    for c in clients:
        c.join(60)
    clients_s = time.perf_counter() - t_clients
    if prod.error is not None or any(c.is_alive() for c in clients):
        raise Failed(f"load generator or client did not finish: {prod.error!r}")

    log = st["log"]
    offered = len(log.keys) + len(prod.log.keys)
    deadline = time.time() + DRAIN_DEADLINE_S
    with b.tracer.span("streaming.drain", "live"):
        while time.time() < deadline:
            if sum(p["numInputRows"] for p in progress_dicts(h.query)) >= offered:
                break
            time.sleep(0.05)
    snapshot_rows = len(h.all()) if b.tracing else 0
    h.stop()
    progress = progress_dicts(h.query)

    # commit instant of every micro-batch, and the batch of every file
    commit = {p["batchId"]: progress_commit_s(p) for p in progress}
    batches = file_batches(b.path(d, "live", "checkpoint"))
    upd_ms, missed = [], 0
    first_commit: dict = {}  # key -> commit instant of its first update
    written = defaultdict(set)
    for part in (log, prod.log):
        created = np.asarray(part.created_s)
        for name, (first, n) in part.files.items():
            bid = batches.get(name)
            c = commit.get(bid) if bid is not None else None
            if c is None:
                missed += n
            elif part is prod.log:
                upd_ms.append((c - created[first:first + n]) * 1000.0)
            for k, s in zip(part.keys[first:first + n], part.seqs[first:first + n]):
                written[k].add(s)
                if c is not None:
                    first_commit[k] = min(first_commit.get(k, c), c)
    upd_ms = np.concatenate(upd_ms) if upd_ms else np.array([])

    calls = [x for c in clients for x in c.calls]
    bad = sum(1 for call in calls if not lookup_ok(call, written, first_commit))
    b.tally(len(calls) + offered, bad + missed + prod.late_events(loadgen.LATE_LIMIT_S))
    # a run too short for its fixed percentiles is invalid, not reported
    # with a lower percentile
    if len(calls) < min_samples(TAIL_Q) or len(upd_ms) < min_samples(EVENT_TAIL_Q):
        raise Failed(f"{len(calls)} lookups and {len(upd_ms)} served updates: "
                     f"p{TAIL_Q} and p{EVENT_TAIL_Q} need {min_samples(TAIL_Q)} "
                     f"and {min_samples(EVENT_TAIL_Q)}")

    lat = [x[2] * 1000.0 for x in calls]
    p50, tail = percentile(lat, 50), percentile(lat, TAIL_Q)
    upd_p50 = percentile(upd_ms, 50)
    b.named.update({
        "lookup_latency_p50_ms": (p50, "ms"),
        f"lookup_latency_p{TAIL_Q}_ms": (tail, "ms"),
        "lookups_per_s": (len(calls) / clients_s, "1/s"),
        "lookups_measured": (float(len(calls)), "count"),
        "event_latency_p50_ms": (upd_p50, "ms"),
        f"event_latency_p{EVENT_TAIL_Q}_ms": (percentile(upd_ms, EVENT_TAIL_Q), "ms"),
    })
    if b.tracing:
        b.streaming_layers(progress, drop_first=True)
        refresh = [p["durationMs"]["triggerExecution"] for p in progress[1:]
                   if p["numInputRows"] > 0]
        b.layer.update({
            "serving.materialize_ms": materialize_ms,
            "serving.lookup_jobs": group_counts(b.spark, LOOKUP_GROUP).jobs / len(calls),
            "serving.refresh_ms_p50": median(refresh),
            "serving.snapshot_rows": snapshot_rows,
            "serving.lookup_failed": bad,
            "loadgen.offered_events": len(prod.log.keys),
            "loadgen.late_max_ms": prod.late_max_ms(),
        })
    return {
        "latency_p50_ms": p50,
        "latency_tail_ms": tail,
        "event_latency_p50_ms": upd_p50,
        "throughput_per_s": len(calls) / clients_s,
    }


def lookup_ok(call, written: dict, first_commit: dict) -> bool:
    """A lookup must return at most one row, holding a value the generator
    wrote for that key; it may report a key missing only until the key's
    first update has committed."""
    key, start, _, seqs = call
    if seqs is None or len(seqs) > 1:
        return False
    if seqs:
        return seqs[0] in written.get(key, ())
    c = first_commit.get(key)
    return c is None or start <= c
