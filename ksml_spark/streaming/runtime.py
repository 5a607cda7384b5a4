"""Streaming runtime glue (SURVEY.md §2.5, §3).

The DSL compiles to the same DataFrame operators for batch and streaming
(Structured Streaming's unified API); this module holds the pieces that
only exist in streaming:

* ``["with-watermark", s, "10 minutes"]`` — event-time watermark
  (the reference's :withRetention, eval.clj:208: state retention == late
  data bound).
* ``latest_by`` — update-mode latest-per-key aggregation, the streaming
  KTable materialization (max_by over the (time, tiebreak) tuple — a hash
  aggregation, works identically batch and streaming; no sort).
* ``file_stream_source`` / ``run_to_memory`` — deterministic streaming
  test harness: file source + availableNow trigger + memory sink.
* ``encode_state`` / ``decode_state`` — the one codec for the Python
  objects ``applyInPandasWithState`` processors keep in string state
  columns (the changelog joins, the session fold).
"""

from __future__ import annotations

import base64
import pickle
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import StreamTimeoutError
from ..eval import Ctx, defop
from ..model import KTableRel, Rel
from ..operators.util import session_conf


@defop("with-watermark")
def op_with_watermark(ctx: Ctx, rel: Rel, delay: str) -> Rel:
    """Event-time watermark: bounds state retention and admits late data up
    to ``delay`` (reference :withRetention -> SURVEY.md §2.5). No-op when
    the rel has no time column; valid on batch too (Spark ignores it)."""
    if rel.time_col is None:
        from ..errors import ArityError

        raise ArityError("with-watermark requires a time column")
    return rel.with_df(rel.df.withWatermark(rel.time_col, delay))


def latest_by(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    tombstone: Optional[Column] = None,
) -> DataFrame:
    """Latest-per-key via max_by(struct(all columns), struct(order...)) —
    one hash aggregation with map-side partials (no per-partition sort, so
    cheaper than window/row_number at scale) and legal in streaming update
    mode, where it IS the KTable changelog view."""
    payload = F.struct(*[F.col(c) for c in df.columns])
    rank = F.struct(*[F.col(c) for c in order_cols])
    out = (
        df.groupBy(*[F.col(c) for c in key_cols])
        .agg(F.max_by(payload, rank).alias("__latest"))
        .select("__latest.*")
    )
    if tombstone is not None:
        out = out.filter(~tombstone)
    return out


def file_stream_source(
    spark: SparkSession, path: str, schema=None, fmt: str = "parquet"
) -> DataFrame:
    """A deterministic streaming source for tests: stream an existing
    file directory (schema taken from a batch read when not given)."""
    # Unadjusted parquet timestamps must surface as TIMESTAMP(LTZ), not NTZ:
    # watermarks reject NTZ event-time columns (see sources/files.py).
    # Scoped save/restore — the explicit schema pins the type for the
    # streaming scan, so only this inference read needs the conf.
    with session_conf(spark, "spark.sql.parquet.inferTimestampNTZ.enabled",
                      "false"):
        if schema is None:
            schema = spark.read.format(fmt).load(path).schema
        return spark.readStream.format(fmt).schema(schema).load(path)


def run_to_memory(
    rel_or_df,
    name: str,
    output_mode: str = "update",
    timeout: float = 120.0,
) -> DataFrame:
    """Run a streaming plan to completion over the currently-available
    data (Trigger.AvailableNow) into an in-memory table and return it.
    This is the serving-sink pattern replacing the reference's interactive
    queries (SURVEY.md §2.8) at test scale."""
    df = rel_or_df.df if isinstance(rel_or_df, Rel) else rel_or_df
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    await_available_now(q, timeout, "run_to_memory")
    return df.sparkSession.table(name)


def await_available_now(q, timeout: float, what: str) -> None:
    """Wait for an availableNow query to drain its input. A query still
    running after ``timeout`` seconds is stopped and raises
    StreamTimeoutError: what it wrote so far is a partial result."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise StreamTimeoutError(
            f"{what}: streaming query {q.name!r} had not drained its input "
            f"after the {timeout:g} s timeout; it was stopped and its "
            "output is incomplete (raise {'timeout': seconds})"
        )


def encode_state(obj) -> Optional[str]:
    """A Python object as base64 pickle text for a ``string`` state
    column; None stays NULL."""
    return None if obj is None else base64.b64encode(pickle.dumps(obj)).decode()


def decode_state(text: Optional[str]):
    """The inverse of ``encode_state``."""
    return None if text is None else pickle.loads(base64.b64decode(text))
