"""Measurement plumbing shared by the workloads: percentiles with a
sample-count rule, spans for the traced run, process-tree CPU and memory,
and Spark's own counters (job groups, streaming progress).

Nothing in here changes what the system does; it times calls into the
system's public functions and reads counters Spark already keeps.
"""

from __future__ import annotations

import gc
import json
import math
import os
import re
import signal
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# name -> (unit, better). Every workload reports every metric; the
# workload-specific meaning of each is documented in perfbench/README.md.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "latency_p50_ms": ("ms", "lower"),
    "latency_tail_ms": ("ms", "lower"),
    "event_latency_p50_ms": ("ms", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "cpu_s": ("s", "lower"),
}

# name -> unit. A layer a workload leaves idle reports 0 work for it.
PER_LAYER = {
    "process.peak_rss_mb": "MiB",
    "session.get_spark_s": "s",
    "eval.build_ms": "ms",
    "eval.forms": "count",
    "eval.eager_jobs": "count",
    "sources.offset_ms_p50": "ms",
    "sources.lag_events_max": "count",
    "sources.rows_per_batch_p50": "count",
    "streaming.batches": "count",
    "streaming.empty_batches": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.trigger_ms_max": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.planning_ms_p50": "ms",
    "streaming.commit_ms_p50": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MiB",
    "streaming.state_update_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.late_dropped": "count",
    "sinks.write_ms_p50": "ms",
    "sinks.rows_out": "count",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.quality_ms": "ms",
    "operators.exact_dedup_ms": "ms",
    "operators.near_dedup_ms": "ms",
    "operators.accounting_ms": "ms",
    "operators.pairs_verified": "count",
    "serving.materialize_ms": "ms",
    "serving.lookup_jobs": "count",
    "serving.refresh_ms_p50": "ms",
    "serving.snapshot_rows": "count",
    "serving.lookup_failed": "count",
    "loadgen.offered_events": "count",
    "loadgen.disordered_events": "count",
    "loadgen.late_max_ms": "ms",
    "self.session_s": "s",
    "self.eval_s": "s",
    "self.streaming_s": "s",
    "self.sinks_s": "s",
    "self.serving_s": "s",
    "self.operators_s": "s",
    "trace.spans": "count",
    "trace.span_cost_pct": "%",
    "trace.latency_p50_ms": "ms",
}


class Failed(Exception):
    """An output check failed; the run must not report a result."""


# ---------------------------------------------------------------------------
# percentiles

def min_samples(q: float) -> int:
    """Fewest samples for which percentile ``q`` (50-100) has at least ten
    samples beyond it; the median needs one."""
    if q <= 50:
        return 1
    beyond = 1.0 - q / 100.0
    return math.ceil(10.0 / beyond - 1e-9) if beyond > 0 else math.inf


def percentile(values, q: float) -> float:
    """Nearest-rank percentile ``q`` of ``values``; raises ValueError when
    the sample is too small for ten samples to lie beyond it."""
    n = len(values)
    if n < min_samples(q):
        raise ValueError(f"p{q:g} needs >= {min_samples(q)} samples, got {n}")
    s = sorted(values)
    rank = max(1, int(-(-q * n // 100)))  # ceil(q/100 * n)
    return float(s[min(rank, n) - 1])


# ---------------------------------------------------------------------------
# spans

@dataclass
class Span:
    name: str
    trace: str
    start: float
    end: float = 0.0
    parent: int | None = None


@dataclass
class Tracer:
    """In-memory spans (name, trace id, start, end, parent index).

    Disabled tracers record nothing and cost one attribute test per call,
    which is what the untraced run measures with."""

    enabled: bool = False
    spans: list = field(default_factory=list)
    _stack: list = field(default_factory=list)

    @contextmanager
    def span(self, name: str, trace: str = ""):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if not trace and parent is not None:
            trace = self.spans[parent].trace
        self.spans.append(Span(name, trace, time.perf_counter(), parent=parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def add(self, name: str, trace: str, start: float, end: float) -> None:
        """Record a span measured elsewhere (another thread, a callback)."""
        if self.enabled:
            self.spans.append(Span(name, trace, start, end))

    def self_times(self) -> dict:
        """Total self time per span name: each span's duration minus the
        part its direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict = {}
        for s, c in zip(self.spans, child):
            out[s.name] = out.get(s.name, 0.0) + max(0.0, s.end - s.start - c)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# ---------------------------------------------------------------------------
# process tree: CPU seconds and peak memory

_CLK = os.sysconf("SC_CLK_TCK")


def _parents() -> dict:
    """pid -> ppid for every process visible in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                out[int(d)] = int(fields[1])
            except (OSError, IndexError, ValueError):
                continue
    return out


def descendants(root: int) -> list:
    parents = _parents()
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _cpu_of(pid: int) -> float:
    """utime + stime + reaped children's, in seconds."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    # fields[11..14] = utime stime cutime cstime (stat fields 14-17)
    return sum(int(x) for x in fields[11:15]) / _CLK


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants."""
    me = os.getpid()
    return sum(_cpu_of(p) for p in [me] + descendants(me))


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pids() -> list:
    out = []
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().strip() == "java":
                    out.append(p)
        except OSError:
            continue
    return out


STOP_TIMEOUT_S = 30.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_ended(pids: list) -> None:
    deadline = time.time() + STOP_TIMEOUT_S
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)


def kill_tree() -> None:
    """SIGKILL every process this one started, and wait until they end."""
    pids = descendants(os.getpid())
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    _wait_ended(pids)


def stop_jvm() -> None:
    """Make the JVM that pyspark launched exit, and wait until it and every
    process it started (Python workers) have ended. Every wait is bounded:
    what outlives ``STOP_TIMEOUT_S`` is killed."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    started = descendants(os.getpid())
    proc.stdin.close()  # Spark's gateway server exits when its stdin closes
    _wait_ended(started)
    kill_tree()
    proc.wait()


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of the JVM plus this process, MiB."""
    kb = _status_kb(os.getpid(), "VmHWM")
    kb += sum(_status_kb(p, "VmHWM") for p in jvm_pids())
    return kb / 1024.0


# ---------------------------------------------------------------------------
# Spark counters

@dataclass
class JobCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


def group_counts(spark, group: str) -> JobCounts:
    """Jobs, stages and tasks Spark ran under one job group."""
    st = spark.sparkContext.statusTracker()
    out = JobCounts()
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        if info is None:
            continue
        out.jobs += 1
        for sid in list(info.stageIds):
            s = st.getStageInfo(sid)
            if s is not None:
                out.stages += 1
                out.tasks += s.numTasks
    return out


def progress_dicts(query) -> list:
    return [json.loads(p.json) for p in query.recentProgress]


def progress_commit_s(p: dict) -> float:
    """Wall-clock end of a micro-batch: its trigger start plus its
    trigger execution time (both from StreamingQueryProgress)."""
    from datetime import datetime

    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    epoch = (start - datetime(1970, 1, 1)).total_seconds()
    return epoch + p["durationMs"]["triggerExecution"] / 1000.0


def file_batches(checkpoint: str) -> dict:
    """file name -> micro-batch id, from the file source's offset log in
    the query checkpoint. This is the exact assignment of every input
    file (so every event in it) to the batch that read it."""
    d = os.path.join(checkpoint, "sources", "0")
    out = {}
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def count_forms(form) -> int:
    """Application forms (lists headed by an operator name) in a form."""
    if isinstance(form, (list, tuple)):
        head = 1 if form and isinstance(form[0], str) else 0
        return head + sum(count_forms(x) for x in form)
    return 0


RUN_GROUP = "perfbench-run"


class Bench:
    """One benchmark run: its settings, the Spark session, spans, per-layer
    counters and the tally of operations attempted and failed."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = Tracer(enabled=trace)
        self.layer: dict = {}
        self.named: dict = {}  # metrics named for the report, name -> (value, unit)
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.eager = JobCounts()
        self._builds = 0
        self._group = RUN_GROUP

    @property
    def tracing(self) -> bool:
        return self.tracer.enabled

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def tally(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed

    def start_session(self, conf: dict) -> None:
        """(Re)start the Spark session through ``ksml_spark.get_spark``.
        The first call launches the JVM; later calls reuse it."""
        from ksml_spark import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark", "session"):
            self.spark = get_spark(app_name="perfbench", conf=conf)
        self.layer.setdefault("session.get_spark_s", time.perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.sparkContext.setJobGroup(RUN_GROUP, RUN_GROUP)

    @contextmanager
    def job_group(self, group: str):
        """Run the block under its own Spark job group, then restore the
        enclosing one (job groups are per thread)."""
        sc = self.spark.sparkContext
        outer = self._group
        self._group = group
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self._group = outer
            sc.setJobGroup(outer, outer)

    def build(self, form, trace: str):
        """Evaluate a ksml form, timed as the ``eval`` layer. Jobs Spark
        starts while the form is built are eager work done by eval; they
        are counted in ``eager`` as well."""
        from ksml_spark import ksml

        self._builds += 1
        group = f"perfbench-build-{self._builds}"
        t0 = time.perf_counter()
        with self.job_group(group), self.tracer.span("eval.build", trace):
            out = ksml(form, spark=self.spark)
        self._add("eval.build_ms", (time.perf_counter() - t0) * 1000.0)
        self._add("eval.forms", count_forms(form))
        if self.tracing:
            jc = group_counts(self.spark, group)
            self._add("eval.eager_jobs", jc.jobs)
            self.eager.jobs += jc.jobs
            self.eager.stages += jc.stages
            self.eager.tasks += jc.tasks
        return out

    def settle(self) -> None:
        """Collect garbage in the JVM and in this process before a timed
        phase, so no phase starts with a collection half due. Without it
        the catch-up drain of stream_ingest spread twice as much."""
        gc.collect()
        self.spark._jvm.System.gc()

    def _add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0) + value

    def streaming_layers(self, progress: list, drop_first: bool = False) -> None:
        """Per-layer counters of one streaming query from its progress
        reports: sources (offset, rows per batch), the micro-batch engine
        and the state store."""
        ps = progress[1:] if drop_first else progress
        busy = [p for p in ps if p["numInputRows"] > 0]
        d = lambda k: [p["durationMs"].get(k, 0) for p in busy]  # noqa: E731
        trig = d("triggerExecution")
        self.layer.update({
            "streaming.batches": len(ps),
            "streaming.empty_batches": len(ps) - len(busy),
            "streaming.trigger_ms_p50": median(trig),
            "streaming.trigger_ms_max": max(trig, default=0.0),
            "streaming.add_batch_ms_p50": median(d("addBatch")),
            "streaming.planning_ms_p50": median(d("queryPlanning")),
            "streaming.commit_ms_p50": median(
                [a + b for a, b in zip(d("walCommit"), d("commitOffsets"))]),
            "sources.offset_ms_p50": median(
                [a + b for a, b in zip(d("latestOffset"), d("getBatch"))]),
            "sources.rows_per_batch_p50": median([p["numInputRows"] for p in busy]),
        })
        states = [p["stateOperators"] for p in ps if p.get("stateOperators")]
        if states:
            last = states[-1]
            self.layer.update({
                "streaming.state_rows": sum(s["numRowsTotal"] for s in last),
                "streaming.state_mem_mb": sum(s["memoryUsedBytes"] for s in last) / 2**20,
                "streaming.state_update_ms": sum(
                    s["allUpdatesTimeMs"] for st in states for s in st),
                "streaming.state_commit_ms": sum(
                    s["commitTimeMs"] for st in states for s in st),
                "streaming.late_dropped": sum(
                    s.get("numRowsDroppedByWatermark", 0) for st in states for s in st),
            })

    def trace_layers(self, measured_s: float, latency_p50_ms: float) -> None:
        """Self time per layer, span count and the cost of the span
        bookkeeping alone (spans times the cost of an empty span), as a
        share of the measured phase. The whole tracing overhead, which
        also holds the counter reads only the traced run makes, is the gap
        between ``trace.latency_p50_ms`` and the untraced run's
        ``latency_p50_ms`` on the same seed."""
        if not self.tracing:
            return
        st = self.tracer.self_times()
        for layer in ("session", "eval", "streaming", "sinks", "serving", "operators"):
            self.layer[f"self.{layer}_s"] = sum(
                v for k, v in st.items() if k.split(".")[0] == layer)
        n = len(self.tracer.spans)
        probe = Tracer(enabled=True)
        t0 = time.perf_counter()
        for _ in range(1000):
            with probe.span("probe"):
                pass
        per_span = (time.perf_counter() - t0) / 1000
        self.layer["trace.spans"] = n
        self.layer["trace.span_cost_pct"] = 100.0 * n * per_span / max(measured_s, 1e-9)
        self.layer["trace.latency_p50_ms"] = latency_p50_ms
