"""Kafka source/sink builders (SURVEY.md §2.1 — the reference's only
connector; /root/reference/src/cddr/ksml/eval.clj:71-73 sources,
README.md:66-68 sink).

The record schema Spark's Kafka connector produces is exactly the
reference's record model (SURVEY.md §1.1): binary key/value + topic,
partition, offset, timestamp. Serde decode happens in
``operators.consumed.apply_consumed``.

No broker (or spark-sql-kafka package) exists in the test container, so
two modes are provided:

* real: ``format("kafka")`` reader/writer with full option plumbing —
  requires the package + a broker (production path);
* file-backed fake (``{"fake_dir": path}``): parquet files carrying the
  EXACT Kafka record schema (``KAFKA_RECORD_DDL``). Everything except
  the physical transport is identical — subscribe/pattern filtering,
  startingOffsets, serde decode, watermarks, downstream operators, and
  the sink's encode — so the whole pipeline is executable end-to-end in
  tests (see tests/test_kafka_e2e.py). ``write_fake_topic`` is the
  producer analog for seeding a fake topic.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.util import int_opt

# the schema format("kafka") produces, replicated by the fake
KAFKA_RECORD_DDL = (
    "key binary, value binary, topic string, partition int, "
    "offset bigint, timestamp timestamp, timestampType int"
)


def _topic_filter(df: DataFrame, kopts: dict) -> DataFrame:
    if "subscribe" in kopts:
        topics = [t.strip() for t in str(kopts["subscribe"]).split(",")]
        return df.filter(F.col("topic").isin(topics))
    pattern = kopts.get("subscribePattern") or kopts.get("pattern")
    if pattern:
        return df.filter(F.col("topic").rlike(str(pattern)))
    return df


def kafka_source(spark: SparkSession, kopts: dict, opts: dict) -> DataFrame:
    """Build a Kafka DataFrame. kopts: subscribe / subscribePattern /
    assign + bootstrap servers; opts may carry stream=False for a batch
    read and startingOffsets from [:offset-reset ...]. With
    ``fake_dir``: the file-backed fake (same record schema)."""
    stream = opts.get("stream", True)
    fake = kopts.get("fake_dir") or opts.get("fake_dir")
    if fake:
        from pyspark.sql.types import StructType

        schema = StructType.fromDDL(KAFKA_RECORD_DDL)
        if stream:
            df = spark.readStream.schema(schema).parquet(fake)
        else:
            df = spark.read.schema(schema).parquet(fake)
        # startingOffsets=latest has no meaning for a static fixture; both
        # values replay everything, like a fresh consumer group on earliest
        return _topic_filter(df, kopts)

    reader = (spark.readStream if stream else spark.read).format("kafka")
    reader = reader.option(
        "kafka.bootstrap.servers", kopts.get("bootstrap", opts.get("bootstrap", "localhost:9092"))
    )
    for k in ("subscribe", "subscribePattern", "assign"):
        if k in kopts:
            reader = reader.option(k, kopts[k])
    if "pattern" in kopts:
        reader = reader.option("subscribePattern", kopts["pattern"])
    offsets = kopts.get("startingOffsets") or opts.get("startingOffsets")
    if offsets:
        reader = reader.option("startingOffsets", str(offsets).lower())
    for k, v in kopts.items():
        if k.startswith("kafka."):
            reader = reader.option(k, v)
    return reader.load()


def _next_epoch(spark: SparkSession, fake_dir: str) -> int:
    """Next free epoch for a batch produce into a fake topic dir: one past
    the highest epoch already written (offsets carry the epoch in their
    high 32 bits), so repeated batch produces never collide on
    (partition, offset) — the streaming path gets the same property from
    the micro-batch id."""
    from pyspark.sql.types import StructType

    try:
        df = spark.read.schema(StructType.fromDDL(KAFKA_RECORD_DDL)).parquet(fake_dir)
        m = df.agg(F.max("offset")).first()[0]
        return (int(m) >> 32) + 1 if m is not None else 0
    except Exception:  # dir doesn't exist yet: first write
        return 0


def _fake_records(df: DataFrame, topic: str, epoch: int = 0, partitions: int = 4) -> DataFrame:
    """Wrap encoded (key, value) rows into the full Kafka record shape the
    fake transport stores (broker-assigned fields are synthesized).

    Offsets are dense per synthesized partition within one write;
    ``epoch`` (the micro-batch id in streaming, a per-write sequence in
    batch) occupies the high 32 bits, so offsets across appended batches
    stay UNIQUE and strictly increasing per partition — ordered like a
    broker's, though not dense across batches."""
    from pyspark.sql import Window

    w = Window.partitionBy("partition").orderBy(F.monotonically_increasing_id())
    return (
        df.select(
            "key",
            "value",
            F.lit(topic).alias("topic"),
            F.pmod(F.xxhash64("key"), F.lit(partitions)).cast("int").alias("partition"),
            F.current_timestamp().alias("timestamp"),
            F.lit(0).alias("timestampType"),
        )
        .withColumn(
            "offset",
            F.lit(int(epoch) << 32).cast("long")
            + F.row_number().over(w).cast("bigint")
            - 1,
        )
        .select("key", "value", "topic", "partition", "offset", "timestamp", "timestampType")
    )


def kafka_sink(df: DataFrame, topic: Optional[str], opts: dict, rel):
    """Write encoded (binary key, binary value) rows to a topic."""
    from ..operators.sinks import SinkResult, with_stream_opts

    if topic is None:
        from ..errors import ArityError

        raise ArityError("kafka sink needs a topic")
    fake = opts.get("fake_dir")
    if fake:
        partitions = int_opt(opts, "partitions", "kafka sink", 4)
        if df.isStreaming:
            # foreachBatch append == the kafka sink's per-batch produce;
            # update output mode matches KS emit-on-update tables
            def write_batch(bdf: DataFrame, batch_id: int) -> None:
                _fake_records(bdf, topic, epoch=batch_id,
                              partitions=partitions).write.mode("append").parquet(fake)

            w = df.writeStream.foreachBatch(write_batch).outputMode(
                opts.get("output_mode", "update")
            )
            return SinkResult(rel, topic, with_stream_opts(w, opts).start())
        epoch = _next_epoch(df.sparkSession, fake)
        _fake_records(df, topic, epoch=epoch,
                      partitions=partitions).write.mode("append").parquet(fake)
        return SinkResult(rel, topic)

    bootstrap = opts.get("bootstrap", "localhost:9092")
    if df.isStreaming:
        w = (
            df.writeStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap)
            .option("topic", topic)
        )
        return SinkResult(rel, topic, with_stream_opts(w, opts).start())
    (
        df.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .save()
    )
    return SinkResult(rel, topic)


def write_fake_topic(
    df: DataFrame,
    fake_dir: str,
    topic: str,
    key_col: str,
    value_cols: Sequence[str],
    time_col: Optional[str] = None,
    partitions: int = 4,
) -> None:
    """Producer analog for the fake transport: encode a DataFrame into
    Kafka records (string key bytes, JSON value bytes, hash-partitioned,
    per-partition offsets ordered by event time)."""
    from pyspark.sql import Window

    part = F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(partitions)).cast("int")
    ts = F.col(time_col) if time_col else F.current_timestamp()
    w = Window.partitionBy("partition").orderBy("timestamp", F.monotonically_increasing_id())
    rec = df.select(
        F.col(key_col).cast("string").cast("binary").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in value_cols])).cast("binary").alias("value"),
        F.lit(topic).alias("topic"),
        part.alias("partition"),
        ts.alias("timestamp"),
        F.lit(0).alias("timestampType"),
    ).withColumn("offset", F.row_number().over(w).cast("bigint") - 1)
    rec.select(
        "key", "value", "topic", "partition", "offset", "timestamp", "timestampType"
    ).write.mode("append").parquet(fake_dir)
