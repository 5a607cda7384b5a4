"""Shuffle and streaming-state width: one rule, ``session.cpus``.

The width is the parallelism the session runs with ($SPARK_GRAFT_CPUS,
else the session's defaultParallelism, else the usable cores), with no
floor; a caller's conf wins. A streaming query's state width is frozen
in its checkpoint, so a restart at another width keeps the old one.
"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ksml_spark import pipe
from ksml_spark.operators.util import session_conf
from ksml_spark.session import DEFAULT_CONF, cpus, get_spark
from ksml_spark.streaming.runtime import await_available_now, file_stream_source

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WIDTH = "spark.sql.shuffle.partitions"


@pytest.mark.parametrize("n", [1, 2, 4, 16])
def test_width_is_the_env_core_count_without_floor(spark, monkeypatch, n):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(n))
    assert cpus() == n
    assert cpus(spark) == n


@pytest.mark.parametrize("raw", [None, "", "auto", "8 cores", "0", "-2"])
def test_width_without_env_counts_usable_cores(spark, monkeypatch, raw):
    if raw is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    assert cpus() == len(os.sched_getaffinity(0))
    assert cpus(spark) == spark.sparkContext.defaultParallelism


def test_default_conf_and_tune_take_the_width_and_callers_override(spark, monkeypatch):
    import __spark_entry__ as entry

    assert DEFAULT_CONF[WIDTH] == str(cpus())

    # _tune remembers sessions by id(): a fresh registry, and stubs kept
    # alive so a freed stub's id is not reused by the next one
    monkeypatch.setattr(entry, "_TUNED", set())
    stubs = []

    def tuned_width(parallelism: int, built: dict = {}):
        confs: dict = {}
        stubs.append(SimpleNamespace(
            sparkContext=SimpleNamespace(
                defaultParallelism=parallelism,
                getConf=lambda: SimpleNamespace(contains=built.__contains__)),
            conf=SimpleNamespace(set=confs.__setitem__)))
        entry._tune(stubs[-1])
        return confs.get(WIDTH)

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert tuned_width(3) == "3"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    assert tuned_width(6) == "2"
    # a width the session's builder set is left alone
    assert tuned_width(6, {WIDTH: "8"}) is None

    with session_conf(spark, WIDTH, spark.conf.get(WIDTH)):
        assert get_spark(conf={WIDTH: "3"}) is spark
        assert spark.conf.get(WIDTH) == "3"


def test_registry_queries_keep_the_session_width(spark, monkeypatch):
    """Building a registry query tunes the session it is handed, but a
    width the session's builder set (here the suite's own) holds."""
    import __spark_entry__ as entry
    from conftest import SF_DIR

    monkeypatch.setattr(entry, "_TUNED", set())
    before = spark.conf.get(WIDTH)
    entry.queries()["q5_local_supplier_revenue"](spark, SF_DIR)
    assert id(spark) in entry._TUNED
    assert spark.conf.get(WIDTH) == before


def test_restart_keeps_the_checkpoint_state_width(spark, tmp_path):
    """A streaming count checkpointed at width 8 and resumed in a session
    at width 4 keeps 8 state partitions (Spark restores the width from
    the offset log) and counts every row once; a new checkpoint at 4
    gets 4."""
    src = tmp_path / "src"
    src.mkdir()
    frames = []

    def land(i: int) -> None:
        keys = [f"k{(i * 7 + j * j) % 23}" for j in range(300)]
        frames.append(pd.DataFrame({"k": keys}))
        tmp = str(tmp_path / f".f{i}.tmp")
        pq.write_table(pa.table({"k": pa.array(keys, pa.string())}), tmp)
        os.replace(tmp, str(src / f"f{i}.parquet"))

    def run(width: str, name: str, ckpt: str):
        with session_conf(spark, WIDTH, width):
            counts = pipe(["stream", file_stream_source(spark, str(src)), {"key": "k"}],
                          ["group-by-key"], ["count"], spark=spark)
            q = (counts.df.writeStream.format("memory").queryName(name)
                 .outputMode("complete").option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            await_available_now(q, 120, name)
        widths = {p["stateOperators"][0]["numShufflePartitions"]
                  for p in q.recentProgress if p["stateOperators"]}
        got = {r["k"]: r["count"] for r in spark.table(name).collect()}
        spark.catalog.dropTempView(name)
        return widths, got

    ckpt = str(tmp_path / "ckpt")
    land(0)
    assert run("8", "width_first", ckpt)[0] == {8}
    land(1)
    widths, got = run("4", "width_resumed", ckpt)
    assert widths == {8}
    want = pd.concat(frames).groupby("k").size().to_dict()
    assert got == want

    widths, got = run("4", "width_fresh", str(tmp_path / "ckpt_fresh"))
    assert widths == {4}
    assert got == want
