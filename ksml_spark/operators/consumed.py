"""Source configuration: :consumed, :offset-reset, :timestamp-extractor,
:serde forms.

Reference: :consumed at /root/reference/src/cddr/ksml/eval.clj:176-180
(variants eval_test.clj:89-141,162-240), :offset-reset eval.clj:88-90,
:timestamp-extractor eval.clj:92-93 with four invalid-timestamp policies
imported at eval.clj:27-30 (FailOnInvalidTimestamp,
LogAndSkipOnInvalidTimestamp, UsePartitionTimeOnInvalidTimestamp,
WallclockTimestampExtractor), serdes eval.clj:210-214,290-308.

Spark mapping (SURVEY.md §1.2): consumed config becomes reader options +
edge Column transforms — serde decode of binary key/value, startingOffsets,
and an event-time column with an invalid-timestamp policy.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..eval import Ctx, defop
from ..exprs import Deserializer, Serde, Serializer, to_col


@dataclass
class Consumed:
    """Evaluated [:consumed ...] form: a bag of source options."""

    options: dict = field(default_factory=dict)


@dataclass
class TimestampExtractor:
    """Evaluated [:timestamp-extractor expr policy?]."""

    expr: Any  # Column or SQL string producing a timestamp
    policy: str = "fail"  # fail | skip | wallclock | partition-time


@defop("consumed")
def op_consumed(ctx: Ctx, *mods) -> Consumed:
    """[:consumed [:with kserde vserde ext? reset?] ...] (eval.clj:176-180).

    Accepts Serde pairs, TimestampExtractor, offset-reset strings, and
    option dicts in any order (the :with sub-form evaluates to its args).
    """
    opts: dict = {}
    serdes = []
    for m in _flatten(mods):
        if isinstance(m, Serde):
            serdes.append(m)
        elif isinstance(m, TimestampExtractor):
            opts["timestamp_extractor"] = m
        elif isinstance(m, str) and m.upper() in ("EARLIEST", "LATEST"):
            opts["startingOffsets"] = m.lower()
        elif isinstance(m, dict):
            # None-valued keys mean "unset" (the opts_of contract)
            opts.update({k: v for k, v in m.items() if v is not None})
    if serdes:
        opts["key_serde"] = serdes[0]
        if len(serdes) > 1:
            opts["value_serde"] = serdes[1]
    return Consumed(opts)


def _flatten(mods):
    for m in mods:
        if isinstance(m, list) and not isinstance(m, str):
            yield from _flatten(m)
        else:
            yield m


@defop("with")
def op_with(ctx: Ctx, *args) -> list:
    """[:with a b ...] config grouping form (eval.clj:169-185) — evaluates
    to its (already-evaluated) args; the enclosing form interprets them."""
    return list(args)


@defop("offset-reset")
def op_offset_reset(ctx: Ctx, which: str) -> str:
    """[:offset-reset "EARLIEST"|"LATEST"] (eval.clj:88-90) ->
    startingOffsets value."""
    from ..errors import ArityError

    if not isinstance(which, str) or which.upper() not in ("EARLIEST", "LATEST"):
        raise ArityError(f"offset-reset must be EARLIEST or LATEST, got {which!r}")
    return which.upper()


@defop("timestamp-extractor")
def op_timestamp_extractor(ctx: Ctx, expr, policy: str = "fail") -> TimestampExtractor:
    """[:timestamp-extractor expr policy?] (eval.clj:92-93).

    policy: "fail" (FailOnInvalidTimestamp), "skip"
    (LogAndSkipOnInvalidTimestamp), "wallclock"
    (WallclockTimestampExtractor), "partition-time"
    (UsePartitionTimeOnInvalidTimestamp -> Kafka timestamp column).
    """
    from ..errors import ArityError

    policies = ("fail", "skip", "wallclock", "partition-time")
    if policy not in policies:
        raise ArityError(
            f"timestamp-extractor policy must be one of {list(policies)}, "
            f"got {policy!r}")
    return TimestampExtractor(expr, policy)


@defop("serde")
def op_serde(ctx: Ctx, which, schema: Optional[str] = None) -> Serde:
    """[:serde "String"] / [:serde "json" ddl] (eval.clj:210-214).

    Built-in names mirror the reference's Serdes.String()/Long()/
    Integer()/ByteArray() plus json/avro for structured payloads.
    """
    name = str(which).strip("()").lower()
    aliases = {"bytearray": "bytes", "byte-array": "bytes"}
    return Serde(name=aliases.get(name, name), schema=schema)


@defop("serde-from")
def op_serde_from(ctx: Ctx, ser, de) -> Serde:
    """[:serde-from [:serializer f] [:deserializer f]] (eval.clj:303-308)."""
    if not isinstance(ser, Serializer) or not isinstance(de, Deserializer):
        from ..errors import ArityError

        raise ArityError("serde-from takes [:serializer f] [:deserializer f]")
    return Serde(serializer=ser, deserializer=de)


def apply_consumed(df: DataFrame, opts: dict) -> DataFrame:
    """Apply consumed-config Column transforms to a freshly-loaded source:
    serde decode of binary key/value columns + event-time extraction with
    invalid-timestamp policy (SURVEY.md §1.2 mapping)."""
    kserde: Optional[Serde] = opts.get("key_serde")
    vserde: Optional[Serde] = opts.get("value_serde")
    if kserde is not None and "key" in df.columns:
        df = df.withColumn("key", kserde.decode(F.col("key")))
    if vserde is not None and "value" in df.columns:
        df = df.withColumn("value", vserde.decode(F.col("value")))

    ext = opts.get("timestamp_extractor")
    if isinstance(ext, TimestampExtractor):
        ts = to_col(ext.expr).cast("timestamp")
        if ext.policy == "wallclock":
            df = df.withColumn("event_time", F.current_timestamp())
        elif ext.policy == "partition-time":
            fallback = F.col("timestamp") if "timestamp" in df.columns else F.current_timestamp()
            df = df.withColumn("event_time", F.coalesce(ts, fallback))
        elif ext.policy == "skip":
            df = df.withColumn("event_time", ts).filter(F.col("event_time").isNotNull())
        else:  # fail: FailOnInvalidTimestamp -> runtime error on invalid rows.
            # The check must live INSIDE the event_time expression (a
            # separate assert column would be pruned by Catalyst); coalesce
            # short-circuits, so raise_error only fires on invalid rows.
            df = df.withColumn(
                "event_time",
                F.coalesce(
                    ts,
                    F.raise_error(F.lit("invalid timestamp (FailOnInvalidTimestamp)")).cast(
                        "timestamp"
                    ),
                ),
            )
    return df
