"""Batch file sources for the driver's testdata tables.

``events.parquet`` stores its timestamp as parquet TIMESTAMP(NANOS), which
Spark's vectorized reader rejects (PARQUET_TYPE_ILLEGAL). We read nano
columns as longs (legacy conf, runtime-settable) and rebuild proper
timestamps with floor-division to microseconds — bit-identical to DuckDB's
own ns->us truncation, so oracle comparisons stay exact.

Detection is metadata-only (pyarrow reads just the footer; no data pass).
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.util import session_conf

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _stamp(path: str):
    """(mtime_ns, size) of a local path, or None when it can't be
    stat'ed (a URI or a missing path): the validity key of the per-path
    caches below, so a file rewritten in-process is re-read instead of
    answered from a stale entry."""
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    return (st.st_mtime_ns, st.st_size)


@lru_cache(maxsize=256)
def _nano_timestamp_cols(path: str, stamp) -> tuple[str, ...]:
    """TIMESTAMP(NANOS) columns of a parquet file. ``stamp`` (_stamp of
    the path) is only part of the cache key: a rewritten file misses."""
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        return tuple(f.name for f in schema if str(f.type) == "timestamp[ns]")
    except Exception:
        return ()


# Inferred RAW read schemas (before the nano->timestamp rebuild) per
# path, process-lifetime (r18, guide §6 fixed-cost): a bare
# ``spark.read.parquet(path)`` runs an EAGER 1-task schema-inference job
# on every call — ~0.1s of per-invocation fixed cost on every table a
# query loads, paid again on each bench pass. Supplying the schema
# (``spark.read.schema(s).parquet``) skips that job entirely, exactly as
# a production deployment declares its table schemas in a catalog. This
# caches METADATA only — every action still reads the parquet data
# itself. StructType is session-independent, so a restarted session
# reuses it. Each entry carries the file's _stamp() from when it was
# inferred; a different stamp (the path was rewritten, perhaps with a
# new schema) is a miss and re-infers, like the footer cache above.
_SCHEMA_CACHE: dict[str, tuple[object, object]] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet with transparent TIMESTAMP(NANOS) handling.

    Also pins ``inferTimestampNTZ`` off: the testdata stores timestamps as
    isAdjustedToUTC=false, which Spark 4 would otherwise surface as
    TIMESTAMP_NTZ — a type watermarks/windows reject in streaming and that
    diverges from the engine's TIMESTAMP(LTZ) column model. Reading them as
    LTZ under the UTC session timezone preserves wall-clock values exactly
    (bit-identical to DuckDB's naive reading).

    ``inferTimestampNTZ`` is save/restored around the (eager)
    schema-inference read under the engine's scoped-conf lock
    (``operators.util.session_conf``) — the 4.1.2 reader ignores a
    per-read option, and a permanent ``spark.conf.set`` would silently change NTZ
    inference for user code outside this framework. ``nanosAsLong`` is
    NOT restored, deliberately: the parquet scan re-reads it at
    execution time (action time, not read_parquet time), so restoring it
    here would crash every later action on the returned DataFrame. The
    conf is only ever flipped when the file actually has nano columns,
    and its effect on outside code is to read TIMESTAMP(NANOS) columns
    as BIGINT instead of erroring (PARQUET_TYPE_ILLEGAL)."""
    conf = spark.conf
    stamp = _stamp(path)
    nanos = _nano_timestamp_cols(path, stamp)
    nanos_key = "spark.sql.legacy.parquet.nanosAsLong"
    if nanos:
        conf.set(nanos_key, "true")
    hit = _SCHEMA_CACHE.get(path)
    cached = hit[1] if hit is not None and hit[0] == stamp else None
    if cached is not None:
        # schema known: no inference job runs, and with no inference the
        # NTZ conf is irrelevant (the cached schema was inferred with it
        # pinned off). nanosAsLong still matters — the SCAN reads it at
        # action time to map TIMESTAMP(NANOS) onto the LongType field.
        df = spark.read.schema(cached).parquet(path)
    else:
        with session_conf(spark, "spark.sql.parquet.inferTimestampNTZ.enabled",
                          "false"):
            df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = (stamp, df.schema)
    for c in nanos:
        # Integer division, not float: at epoch-ns magnitude doubles have
        # 256ns ulp, so `/ 1000` rounds ~1.6% of values off by 1us.
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")
