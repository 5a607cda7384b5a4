"""SparkSession factory with scale-aware defaults.

Single place for the engine's Spark configuration posture:

* **AQE on** — runtime re-planning (partition coalescing, skew-join
  splitting, dynamic broadcast) is the first line of defense at 100 TB.
* **UTC session timezone** — deterministic timestamp semantics across
  engines (the DuckDB oracle compares naive/UTC timestamps).
* **Arrow on** — pandas UDF / toPandas paths are Arrow-batched.
* shuffle.partitions follows the session's parallelism (``cpus()``):
  batch queries start at one partition per core and AQE coalesces, and
  a new streaming checkpoint gets one state partition per core, so a
  micro-batch commits its state in one wave. On a real cluster set it
  ~2-3x total executor cores, or rely on AQE coalescing from a higher
  initial value.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession


def _env_cpus() -> Optional[int]:
    """$SPARK_GRAFT_CPUS as a positive int, else None. Read at module
    import, so a junk value ('auto', '8 cores', '0') must not crash
    every import of ksml_spark: it counts as unset."""
    try:
        n = int(os.environ.get("SPARK_GRAFT_CPUS") or 0)
    except ValueError:
        return None
    return n if n > 0 else None


def cpus(spark: Optional[SparkSession] = None) -> int:
    """The parallelism a session runs with, which is also its shuffle
    and streaming-state width: $SPARK_GRAFT_CPUS when set, else the
    session's ``defaultParallelism``, else the cores this process may
    use. No floor: on 4 cores a stateful micro-batch commits 4 state
    partitions in one wave instead of 8 in two, and each partition's
    commit costs a fixed ~70 ms whatever its row count."""
    n = _env_cpus()
    if n:
        return n
    if spark is not None:
        try:
            return spark.sparkContext.defaultParallelism
        except Exception:
            pass  # no SparkContext (Spark Connect): count cores
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API (macOS)
        return os.cpu_count() or 1


DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # generous broadcast threshold: all dims in the star schema are small
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # shuffle width = the core count (see cpus()); on a real cluster
    # this is the knob to set ~2-3x total executor cores (or leave
    # higher and let AQE coalesce). A caller's conf overrides it.
    "spark.sql.shuffle.partitions": str(cpus()),
    "spark.ui.enabled": "false",
    # local[32] runs driver + all executor threads in ONE heap: broadcasts,
    # shuffle buffers, and codegen classes for a 50-query suite accumulate,
    # and an 8g heap measurably GC-thrashes mid-suite (the same queries run
    # ~2x slower late in a session than in isolation; 24g removes it).
    # On a real cluster executors have their own heaps — size accordingly.
    "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "24g"),
    # This container's virtualized CPU makes HotSpot C2 compilation
    # pathologically slow (~60s one-time stall on the first regex/explode
    # query shape). C1-only JIT compiles instantly and is within a few
    # percent at these scales; on a real cluster, drop this override.
    # The large ReservedCodeCacheSize matters with C1-only: every
    # whole-stage-codegen class stays compiled; at the 48 MB default the
    # cache fills after ~30 generated plans and the JIT silently disables,
    # leaving everything interpreted (~10x slowdown).
    "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m",
    "spark.executor.extraJavaOptions": "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m",
    # Janino-compiled codegen classes live in a driver-side cache of
    # only 100 entries by default; a 100-query suite (several codegen
    # units each) evicts everything every pass, so compile-heavy plans
    # (wide filter trees, 64-dim unrolled dot chains, the KN join tree)
    # re-pay full Janino compilation per invocation — measured: the
    # expression-only gopher_filter reads ~0.5s isolated but ~2.5s
    # inside the full suite until this cache is sized to hold the
    # working set. Static conf: must be set before the first session.
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def get_spark(
    app_name: str = "ksml-spark",
    master: Optional[str] = None,
    conf: Optional[dict] = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults."""
    if master is None:
        n = _env_cpus()
        master = f"local[{n}]" if n else "local[*]"
    b = SparkSession.builder.appName(app_name).master(master)
    merged = dict(DEFAULT_CONF)
    if conf:
        merged.update(conf)
    for k, v in merged.items():
        b = b.config(k, v)
    return b.getOrCreate()
