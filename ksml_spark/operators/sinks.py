"""Sinks & terminal ops: :to!, :print!, :foreach (SURVEY.md §2.1).

Reference: :to! /root/reference/README.md:66-68 (wordcount sink),
:print! eval_test.clj:500-504, :foreach eval.clj:119-121 +
eval_test.clj:399-402.

Batch: df.write to files / noop; streaming: writeStream (kafka/console/
memory/foreach). A sink returns a SinkResult handle so pipelines stay
composable in tests.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import ArityError
from .util import int_opt, opts_of
from ..eval import Ctx, defop
from ..exprs import ForeachAction, Serde
from ..model import Rel


@dataclass
class SinkResult:
    """Handle for a completed batch write or a started streaming query."""

    rel: Rel
    target: Optional[str] = None
    query: Any = None  # StreamingQuery when streaming


def _encode_kafka(rel: Rel, kserde: Optional[Serde], vserde: Optional[Serde]) -> DataFrame:
    key = rel.key_expr() if rel.key_cols else F.lit(None)
    val = rel.value_expr()
    kc = kserde.encode(key) if kserde else key.cast("string").cast("binary")
    vc = vserde.encode(val) if vserde else F.to_json(F.struct(val.alias("value"))).cast("binary")
    return rel.df.select(kc.alias("key"), vc.alias("value"))


def with_stream_opts(w, opts: dict):
    """Apply the options every streaming sink shares: ``checkpoint`` and
    ``trigger`` (``"available_now"`` or an interval such as ``"1
    second"``; without one, Spark's default back-to-back micro-batches)."""
    if "checkpoint" in opts:
        w = w.option("checkpointLocation", opts["checkpoint"])
    trig = opts.get("trigger")
    if trig == "available_now":
        w = w.trigger(availableNow=True)
    elif trig:
        w = w.trigger(processingTime=trig)
    return w


@defop("to")
def op_to(ctx: Ctx, rel: Rel, *rest) -> SinkResult:
    """[:to! key-serde val-serde topic] / [:to! rel {sink opts}]
    (README.md:66-68).

    Targets: {"format": "parquet"|"memory"|"kafka"|"console"|"noop",
    "path"/"topic"/"name": ..., "mode": ...}. A bare string operand is a
    Kafka topic (the reference's only sink). Streaming rels start a
    writeStream; batch rels write eagerly.
    """
    serdes = [r for r in rest if isinstance(r, Serde)]
    opts = {}
    topic = None
    for r in rest:
        if isinstance(r, dict):
            # None-valued keys mean "unset" (the opts_of contract)
            opts.update({k: v for k, v in r.items() if v is not None})
        elif isinstance(r, str):
            topic = r
    kserde = serdes[0] if serdes else None
    vserde = serdes[1] if len(serdes) > 1 else None
    fmt = opts.get("format") or ("kafka" if topic else "parquet")

    if fmt == "kafka":
        from ..sources.kafka import kafka_sink

        return kafka_sink(_encode_kafka(rel, kserde, vserde), topic or opts.get("topic"), opts, rel)

    df = rel.df
    if not df.isStreaming and ("table" in opts or "bucket_by" in opts):
        # catalog table sink, optionally BUCKETED: pre-shuffling by the
        # join/agg key at write time so every later co-keyed join or
        # aggregation on the bucket columns runs with NO exchange — the
        # 100 TB layout for repeatedly-joined fact tables
        name = opts.get("table") or opts.get("name") or rel.name
        if not name:
            raise ArityError("table sink needs {'table': name}")
        writer = df.write.mode(opts.get("mode", "overwrite")).format(fmt)
        bucket = opts.get("bucket_by")
        if bucket:
            cols = [bucket] if isinstance(bucket, str) else list(bucket)
            writer = writer.bucketBy(int_opt(opts, "buckets", "to!", 8), *cols)
            sort = opts.get("sort_by") or cols
            writer = writer.sortBy(*([sort] if isinstance(sort, str) else list(sort)))
        writer.saveAsTable(name)
        return SinkResult(rel, name)
    if df.isStreaming:
        if fmt in ("parquet", "csv", "json", "orc", "text") and "path" not in opts:
            raise ArityError(
                f"streaming {fmt} sink needs {{'path': ...}} "
                "(and a 'checkpoint' for restart recovery)"
            )
        w = df.writeStream.format(fmt)
        if fmt == "csv":
            # the csv SOURCE reads header=true; a headerless write
            # would silently eat the first data row on round-trip
            w = w.option("header", "true")
        if fmt == "memory":
            w = w.queryName(opts.get("name", rel.name or "ksml_sink"))
        q = with_stream_opts(w, opts).outputMode(opts.get("output_mode", "append")).start(
            **({"path": opts["path"]} if "path" in opts else {})
        )
        return SinkResult(rel, opts.get("path") or opts.get("name"), q)
    if fmt == "noop":
        df.write.format("noop").mode("overwrite").save()
        return SinkResult(rel, None)
    if fmt == "memory":
        name = opts.get("name", rel.name or "ksml_sink")
        df.createOrReplaceTempView(name)
        return SinkResult(rel, name)
    path = opts.get("path")
    if not path:
        raise ArityError("batch file sink needs {'path': ...}")
    writer = df.write.mode(opts.get("mode", "overwrite")).format(fmt)
    if fmt == "csv":
        # match the csv source's header=true contract (round-trip safe)
        writer = writer.option("header", "true")
    writer.save(path)
    return SinkResult(rel, path)


@defop("foreach-batch", retype_value_errors=False)
def op_foreach_batch(ctx: Ctx, rel: Rel, fn, *rest) -> SinkResult:
    """[:foreach-batch s fn {opts}] — per-microbatch sink: fn(batch_df,
    batch_id). The idiomatic Structured Streaming escape hatch for sinks
    Spark lacks (upserts, multi-table writes). Batch rels invoke fn once
    with batch_id=0 — same contract both modes."""
    if isinstance(fn, ForeachAction):
        fn = fn.fn
    if not callable(fn):
        raise ArityError(
            f"foreach-batch needs fn(batch_df, batch_id), got {type(fn).__name__}"
        )
    opts = opts_of(rest)
    if rel.df.isStreaming:
        w = with_stream_opts(rel.df.writeStream.foreachBatch(fn), opts)
        return SinkResult(rel, "foreachBatch", w.start())
    fn(rel.df, 0)
    return SinkResult(rel, "foreachBatch")


@defop("print")
def op_print(ctx: Ctx, rel: Rel, *rest) -> SinkResult:
    """[:print! s {opts}] — debug sink (eval_test.clj:500-504).
    Streaming: console sink (``checkpoint`` / ``trigger`` as every
    streaming sink); batch: df.show."""
    if rel.df.isStreaming:
        w = rel.df.writeStream.format("console").outputMode("append")
        return SinkResult(rel, "console", with_stream_opts(w, opts_of(rest)).start())
    rel.df.show(20, truncate=False)
    return SinkResult(rel, "console")


@defop("foreach", retype_value_errors=False)
def op_foreach(ctx: Ctx, rel: Rel, action: ForeachAction, *rest) -> SinkResult:
    """[:foreach s [:foreach-action f] {opts}] — terminal per-record side
    effect (eval.clj:119-121; eval_test.clj:399-402). Runs on executors
    via foreachPartition (batch) / writeStream.foreach (streaming, with
    ``checkpoint`` / ``trigger`` as every streaming sink); the driver
    never collects the data."""
    if not isinstance(action, ForeachAction) or not callable(action.fn):
        raise ArityError(
            f"foreach needs a ['foreach-action', fn] form, got {type(action).__name__}"
        )
    fn = action.fn
    if rel.df.isStreaming:
        w = rel.df.writeStream.foreach(lambda row: fn(row))
        return SinkResult(rel, "foreach", with_stream_opts(w, opts_of(rest)).start())

    def run_partition(it):
        for row in it:
            fn(row)

    rel.df.foreachPartition(run_partition)
    return SinkResult(rel, "foreach")
