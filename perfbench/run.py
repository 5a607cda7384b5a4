"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics, measured with spans on.
The lines before it print every metric with its unit, including the
error rate (failed over attempted).

The run pins its environment before Spark starts: ``SPARK_GRAFT_CPUS`` is
the number of usable cores, ``SPARK_DRIVER_MEMORY`` is explicit and below
physical memory, and the working directory, ``SPARK_LOCAL_DIRS`` and the
temp dirs are a fresh directory under ``.perfbench_work/`` that is
removed at exit, once the JVM and its Python workers have ended. Exit
codes: 0 with a result, 1 when an output check failed, 2 when the system
under test cannot be imported.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# setups per run; setup_s is their median (the first also starts the JVM)
SETUPS = 3
# a run still going after this is killed and fails: a run takes about a
# minute, and a result must come within three
RUN_DEADLINE_S = 170.0
WORKLOADS = ("stream_ingest", "serve_lookup", "corpus_batch")


def pin_environment(work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    driver_mb = min(3072, total_mb // 4)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    return env


def spark_conf(work: str) -> dict:
    from ksml_spark.session import DEFAULT_CONF

    jvm = (DEFAULT_CONF["spark.driver.extraJavaOptions"]
           + f" -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    return {
        "spark.driver.extraJavaOptions": jvm,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> tuple:
    from perfbench.harness import Bench, JobCounts, median, peak_rss_mb, tree_cpu_s

    mod = importlib.import_module(f"perfbench.{workload}")
    b = Bench(seed, seconds, trace, work)
    conf = spark_conf(work)
    setups, state = [], None
    try:
        for i in range(SETUPS):
            t0 = time.perf_counter()
            b.start_session(conf)
            state = mod.setup(b, i)
            setups.append(time.perf_counter() - t0)
        # per-layer counters and spans describe the measured phase only
        b.layer = {"session.get_spark_s": b.layer["session.get_spark_s"]}
        b.eager = JobCounts()
        b.tracer.spans.clear()
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        e2e = mod.measure(b, state)
        measured_s = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        rss = peak_rss_mb()
        # extra traced-only work runs outside the measured phase
        stages = getattr(mod, "trace_stages", None)
        if trace and stages is not None:
            stages(b, state, e2e)
    finally:
        if b.spark is not None:
            b.spark.stop()
    # a closed loop's CPU is per job, so it does not scale with --seconds
    e2e.update(setup_s=median(setups), cpu_s=cpu / e2e.pop("jobs", 1))
    # peak memory swings with JVM garbage-collection timing by more than
    # a quarter between seeds, so it is reported but not bounded
    b.layer["process.peak_rss_mb"] = rss
    b.named.update(setup_cold_s=(setups[0], "s"), peak_rss_mb=(rss, "MiB"),
                   error_rate=(b.failed / max(b.attempted, 1), "ratio"))
    b.trace_layers(measured_s, e2e["latency_p50_ms"])
    if trace:
        b.tracer.write(os.path.join(ROOT, ".perfbench_work", f"spans-{workload}-{seed}.jsonl"))
    return b, e2e


def start_watchdog(work: str) -> None:
    """Kill the run, with everything it started, if it hangs."""
    from perfbench.harness import kill_tree

    def fire():
        print(f"perfbench: no result after {RUN_DEADLINE_S:g} s, killed", file=sys.stderr)
        kill_tree()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(1)

    t = threading.Timer(RUN_DEADLINE_S, fire)
    t.daemon = True
    t.start()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "ksml_spark")):
        print(f"perfbench: no ksml_spark package next to {HERE}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    start_watchdog(work)
    cwd = os.getcwd()
    try:
        env = pin_environment(work)
        os.chdir(work)
        try:
            import ksml_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: cannot import ksml_spark: {e}", file=sys.stderr)
            return 2
        from perfbench.harness import END_TO_END, PER_LAYER, Failed

        try:
            b, e2e = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
        except Failed as e:
            print(f"perfbench: output check failed: {e}", file=sys.stderr)
            return 1
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        from perfbench.harness import stop_jvm

        stop_jvm()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} " + " ".join(f"{k}={v}" for k, v in sorted(env.items())
                                           if k.startswith("SPARK_")))
    for name, (unit, _) in END_TO_END.items():
        print(f"{name:28s} {e2e[name]:14.4f} {unit}")
    for name, (value, unit) in sorted(b.named.items()):
        print(f"{name:28s} {value:14.4f} {unit}")
    if args.trace:
        for name, unit in PER_LAYER.items():
            print(f"{name:28s} {float(b.layer.get(name, 0)):14.4f} {unit}")
    if args.trace:
        metrics = {k: {"value": float(b.layer.get(k, 0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, (u, _) in END_TO_END.items()}
    correct = b.failed == 0
    print(json.dumps({"correct": correct, "attempted": int(b.attempted),
                      "failed": int(b.failed), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
