"""Self-tests of the benchmark itself (no Spark session is started).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import ast
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import harness, loadgen  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


# --- generators -------------------------------------------------------------

def _publish(tmp_path, name, seed):
    w = loadgen.KafkaTopicWriter(str(tmp_path / name), "t")
    log = loadgen.EventLog()
    src = loadgen.EventSource(seed, 1000, 1.1, 0.1, 2.0)
    loadgen.write_backlog(w, src, log, 3000, 3, 1_700_000_000.0, 1000.0)
    return sorted((tmp_path / name).iterdir()), log


def test_event_generator_same_seed_same_files(tmp_path):
    a, la = _publish(tmp_path, "a", 7)
    b, lb = _publish(tmp_path, "b", 7)
    c, _ = _publish(tmp_path, "c", 8)
    assert [p.name for p in a] == [p.name for p in b]
    assert all(pq.read_table(x).equals(pq.read_table(y)) for x, y in zip(a, b))
    assert la.keys == lb.keys and la.event_ms == lb.event_ms
    assert not pq.read_table(a[0]).equals(pq.read_table(c[0]))


def test_fake_kafka_files_have_the_record_schema(tmp_path):
    from ksml_spark.sources.kafka import KAFKA_RECORD_DDL

    files, log = _publish(tmp_path, "a", 1)
    assert not any(p.name.startswith(".") for p in files)  # no temp file left
    t = pq.read_table(files[0])
    ddl = [c.strip().split() for c in KAFKA_RECORD_DDL.split(",")]
    assert t.schema.names == [name for name, _ in ddl]
    # offsets are dense per partition across files, as a broker assigns them
    allt = pq.read_table(str(tmp_path / "a")).to_pandas()
    for _, g in allt.groupby("partition"):
        assert sorted(g["offset"]) == list(range(len(g)))
    # the creation stamp rides in `timestamp`; disorder only moves event time back
    import pandas as pd

    created = (allt["timestamp"] - pd.Timestamp(0, tz="UTC")) / pd.Timedelta(seconds=1)
    assert np.allclose(np.sort(created), np.sort(log.created_s))
    assert all(e <= c * 1000 + 1 for e, c in zip(log.event_ms, log.created_s))


def test_corpus_same_seed_same_corpus():
    a, b = loadgen.make_corpus(5, 400), loadgen.make_corpus(5, 400)
    assert a.text == b.text and list(a.doc_id) == list(b.doc_id)
    assert a.exact_groups == b.exact_groups and a.near_groups == b.near_groups
    assert loadgen.make_corpus(6, 400).text != a.text


def test_corpus_planted_groups_hold():
    import re

    c = loadgen.make_corpus(3, 600)
    text = dict(zip(c.doc_id.tolist(), c.text))
    norm = {i: " ".join(w for w in re.split("[^a-z0-9]+", t.lower()) if w)
            for i, t in text.items()}
    for g in c.exact_groups:
        assert len({norm[i] for i in g}) == 1
    for g in c.near_groups:
        base = set(text[g[0]].split(" "))
        for i in g[1:]:
            other = set(text[i].split(" "))
            assert norm[i] != norm[g[0]]
            assert len(base & other) / len(base | other) >= 0.8
    assert all(len(text[i]) < 100 for i in c.low_quality)


# --- percentiles and spans ---------------------------------------------------

def test_percentile_sample_count_rule():
    assert harness.min_samples(50) == 1
    assert harness.min_samples(90) == 100
    assert harness.min_samples(99) == 1000
    with pytest.raises(ValueError):
        harness.percentile(list(range(999)), 99)
    vals = list(range(1, 1001))
    assert harness.percentile(vals, 99) == 990
    assert harness.percentile(vals, 50) == 500
    # too few samples fail: the percentile never drops to a lower one
    assert harness.percentile(list(range(100)), 90) == 89
    with pytest.raises(ValueError):
        harness.percentile(list(range(99)), 90)


def test_tracer_self_time_subtracts_children():
    t = harness.Tracer(enabled=True)
    t.spans = [harness.Span("a", "x", 0.0, 10.0), harness.Span("b", "x", 1.0, 4.0, parent=0),
               harness.Span("c", "x", 5.0, 6.0, parent=0)]
    assert t.self_times() == {"a": 6.0, "b": 3.0, "c": 1.0}
    off = harness.Tracer()
    with off.span("a"):
        pass
    assert off.spans == []


# --- output checks -----------------------------------------------------------

def test_window_check_counts_wrong_events(tmp_path):
    import pandas as pd

    from perfbench.stream_ingest import THRESHOLD, WINDOW_MS, check_windows

    log = loadgen.EventLog()
    log.keys = ["a"] * (THRESHOLD + 2) + ["b"] * THRESHOLD + ["c"]
    log.event_ms = [WINDOW_MS * 10 + 1] * len(log.keys)
    ws = pd.Timestamp(WINDOW_MS * 10, unit="ms", tz="UTC")
    out = tmp_path / "out"
    out.mkdir()
    rows = pd.DataFrame({"key": ["a", "a", "b"], "window_start": [ws] * 3,
                         "count": [THRESHOLD, THRESHOLD + 2, THRESHOLD - 1],
                         "batch_id": [0, 1, 1]})
    rows.to_parquet(out / "part-0.parquet")
    # "a" is right at its last emission; "b" reports a wrong count
    assert check_windows(log, str(out)) == THRESHOLD


def test_lookup_rules():
    from perfbench.serve_lookup import lookup_ok

    written, first = {"k1": {3, 4}}, {"k1": 100.0}
    assert lookup_ok(("k1", 101.0, 0.01, [4]), written, first)
    assert not lookup_ok(("k1", 101.0, 0.01, [9]), written, first)  # never written
    assert not lookup_ok(("k1", 101.0, 0.01, []), written, first)  # missing after commit
    assert lookup_ok(("k1", 99.0, 0.01, []), written, first)  # before the commit
    assert lookup_ok(("m1", 1.0, 0.01, []), written, first)
    assert not lookup_ok(("k1", 101.0, 0.01, None), written, first)  # raised


# --- the benchmark's declared surface ---------------------------------------

def test_metric_names_are_well_formed():
    names = ([m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
             + list(harness.END_TO_END) + list(harness.PER_LAYER))
    assert all(harness.METRIC_NAME.match(n) for n in names)
    assert len(set(n for n in names)) == len(harness.END_TO_END) + len(harness.PER_LAYER)


def test_declared_workloads_and_metrics_are_emitted():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in SPEC["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == harness.PER_LAYER
    # run.py adds these; each workload's measure() returns the rest
    added = {"setup_s", "cpu_s"}
    for w in WORKLOADS:
        with open(os.path.join(ROOT, "perfbench", f"{w}.py")) as f:
            tree = ast.parse(f.read())
        fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "measure")
        ret = [n.value for n in ast.walk(fn) if isinstance(n, ast.Return)]
        assert len(ret) == 1 and isinstance(ret[0], ast.Dict)
        keys = {k.value for k in ret[0].keys} - {"jobs"}
        assert keys | added == set(harness.END_TO_END), w


def test_late_generator_ticks_fail_their_events(tmp_path):
    w = loadgen.KafkaTopicWriter(str(tmp_path / "t"), "t")
    p = loadgen.OpenLoopProducer(w, loadgen.EventSource(1, 10, 1.1), rate=100, tick_s=0.1,
                                 seconds=1)
    p.late_s = [0.0, loadgen.LATE_LIMIT_S + 0.1, 0.2, loadgen.LATE_LIMIT_S * 3]
    assert p.late_events(loadgen.LATE_LIMIT_S) == 20
