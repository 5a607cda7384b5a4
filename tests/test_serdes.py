"""Serde & consumed-config coverage (SURVEY.md §1.2, §2.1 — M6): the
binary<->typed edge transforms and the four invalid-timestamp policies,
tested as pure column logic (no Kafka broker in the container; the
connector wiring itself is constructive-only, sources/kafka.py)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ksml_spark import ksml
from ksml_spark.exprs import Serde
from ksml_spark.operators.consumed import apply_consumed


def kafka_shaped(spark, rows):
    """(key binary, value binary, timestamp) — the Kafka record shape."""
    return spark.createDataFrame(rows, "key binary, value binary, timestamp timestamp")


def test_string_long_serde_round_trip(spark):
    df = spark.createDataFrame([("k1", 42), ("k2", -7)], "k string, v long")
    kserde, vserde = Serde(name="string"), Serde(name="long")
    encoded = df.select(
        kserde.encode(F.col("k")).alias("key"), vserde.encode(F.col("v")).alias("value")
    )
    assert dict(encoded.dtypes) == {"key": "binary", "value": "binary"}
    decoded = encoded.select(
        kserde.decode(F.col("key")).alias("k"), vserde.decode(F.col("value")).alias("v")
    )
    assert sorted(tuple(r) for r in decoded.collect()) == [("k1", 42), ("k2", -7)]


def test_json_serde_round_trip(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    serde = Serde(name="json", schema="id long, name string")
    enc = df.select(serde.encode(F.struct("id", "name")).alias("value"))
    dec = enc.select(serde.decode(F.col("value")).alias("v")).select("v.*")
    assert sorted(tuple(r) for r in dec.collect()) == [(1, "a"), (2, "b")]


def test_custom_serde_from_fn_pair(spark):
    """[:serde-from [:serializer f] [:deserializer f]] (eval.clj:303-308)."""
    form = ["serde-from",
            ["serializer", lambda c: F.upper(c).cast("binary")],
            ["deserializer", lambda c: F.lower(c.cast("string"))]]
    serde = ksml(form, spark=spark)
    df = spark.createDataFrame([("MiXeD",)], "s string")
    out = df.select(serde.decode(serde.encode(F.col("s"))).alias("s"))
    assert out.collect()[0]["s"] == "mixed"


def test_consumed_decodes_kafka_record_shape(spark):
    rows = [(b"u1", b"12", dt.datetime(2024, 1, 1)), (b"u2", b"34", dt.datetime(2024, 1, 2))]
    df = kafka_shaped(spark, rows)
    out = apply_consumed(df, {"key_serde": Serde(name="string"),
                              "value_serde": Serde(name="long")})
    got = sorted((r["key"], r["value"]) for r in out.collect())
    assert got == [("u1", 12), ("u2", 34)]


def _ts_df(spark):
    return spark.createDataFrame(
        [("a", "2024-01-01 00:00:00"), ("b", "not-a-time"), ("c", "2024-01-03 00:00:00")],
        "k string, raw string",
    ).withColumn("timestamp", F.to_timestamp(F.lit("2020-06-01 12:00:00")))


def test_timestamp_extractor_skip_policy(spark):
    form = ["timestamp-extractor", "try_cast(raw as timestamp)", "skip"]
    ext = ksml(form, spark=spark)
    out = apply_consumed(_ts_df(spark), {"timestamp_extractor": ext})
    assert sorted(r["k"] for r in out.collect()) == ["a", "c"]


def test_timestamp_extractor_fail_policy(spark):
    ext = ksml(["timestamp-extractor", "try_cast(raw as timestamp)", "fail"], spark=spark)
    out = apply_consumed(_ts_df(spark), {"timestamp_extractor": ext})
    with pytest.raises(Exception):  # assert_true surfaces at execution
        out.collect()


def test_timestamp_extractor_partition_time_fallback(spark):
    ext = ksml(["timestamp-extractor", "try_cast(raw as timestamp)", "partition-time"],
               spark=spark)
    out = apply_consumed(_ts_df(spark), {"timestamp_extractor": ext})
    got = {r["k"]: r["event_time"] for r in out.collect()}
    assert got["a"] == dt.datetime(2024, 1, 1)
    # invalid ts falls back to the source's partition/record timestamp
    assert got["b"] == dt.datetime(2020, 6, 1, 12, 0, 0)


def test_timestamp_extractor_wallclock(spark):
    ext = ksml(["timestamp-extractor", "try_cast(raw as timestamp)", "wallclock"],
               spark=spark)
    out = apply_consumed(_ts_df(spark), {"timestamp_extractor": ext})
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    for r in out.collect():
        assert abs((r["event_time"] - now).total_seconds()) < 600


@pytest.mark.parametrize("policy", ["FAIL", "drop", "wall-clock", None])
def test_timestamp_extractor_refuses_unknown_policy(spark, policy):
    from ksml_spark.errors import ArityError

    with pytest.raises(ArityError, match=r"one of \['fail', 'skip', 'wallclock', "
                                         r"'partition-time'\]"):
        ksml(["timestamp-extractor", "try_cast(raw as timestamp)", policy], spark=spark)


def test_offset_reset_validates(spark):
    assert ksml(["offset-reset", "EARLIEST"], spark=spark) == "EARLIEST"
    with pytest.raises(ValueError):
        ksml(["offset-reset", "banana"], spark=spark)


def test_consumed_form_collects_options(spark):
    form = ["consumed", ["with", ["serde", "String"], ["serde", "Long"]],
            ["offset-reset", "LATEST"]]
    c = ksml(form, spark=spark)
    assert c.options["key_serde"].name == "string"
    assert c.options["value_serde"].name == "long"
    assert c.options["startingOffsets"] == "latest"


def _avro_jar_present(spark) -> bool:
    try:
        from pyspark.sql.avro.functions import to_avro

        spark.range(1).select(to_avro("id")).collect()
        return True
    except Exception:
        return False


def test_avro_serde_roundtrip_or_curated_absence(spark):
    """[:serde "avro" <schema>]: a real from_avro/to_avro roundtrip where
    the spark-avro JAR exists; elsewhere the failure must name the avro
    module (Spark's own artifact-to-add error), not an 'unknown serde'."""
    import pytest

    from ksml_spark.exprs import Serde

    schema = ('{"type": "record", "name": "r", '
              '"fields": [{"name": "v", "type": "long"}]}')
    df = spark.createDataFrame([(1,), (7,)], "v long").selectExpr(
        "struct(v) AS payload")
    # schema on BOTH sides: an inferred writer schema would wrap nullable
    # fields in [null, T] unions the plain reader schema can't parse
    enc = Serde(name="avro", schema=schema)
    dec = Serde(name="avro", schema=schema)
    if not _avro_jar_present(spark):
        with pytest.raises(Exception) as ei:
            df.select(enc.encode(df["payload"]).alias("b")).collect()
        assert "avro" in str(ei.value).lower()
        pytest.skip("spark-avro JAR not in this environment")
    out = df.select(enc.encode(df["payload"]).alias("b"))
    back = out.select(dec.decode(out["b"]).alias("p")).select("p.v")
    assert sorted(r["v"] for r in back.collect()) == [1, 7]
