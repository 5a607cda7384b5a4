"""Evaluator core tests — mirrors the reference's constructive style
(/root/reference/test/cddr/ksml/eval_test.clj): every DSL form evaluates
to a valid plan; unknown ops throw; v-> threads correctly
(core_test.clj:1-10)."""

import pytest

from ksml_spark import (
    KStreamRel,
    KTableRel,
    UnknownOperatorError,
    ksml,
    pipe,
    vthread,
)
from ksml_spark.exprs import Predicate, ValueMapper


def test_vthread_threads_first_arg():
    # (v-> a [:x 1] [:y 2]) => [:y [:x a 1] 2]  (core.clj:43-53)
    assert vthread("a", ["x", 1], ["y", 2]) == ["y", ["x", "a", 1], 2]


def test_self_evaluating_passthrough(spark):
    assert ksml(42, spark=spark) == 42
    assert ksml("plain string", spark=spark) == "plain string"
    assert ksml({"a": 1}, spark=spark) == {"a": 1}
    assert ksml(None, spark=spark) is None


def test_unknown_operator_raises(spark):
    # eval.clj:395: unknown expressions throw
    with pytest.raises(UnknownOperatorError):
        ksml([":definitely-not-an-op", 1], spark=spark)


def test_plain_string_list_is_data(spark):
    # a non-keyword-headed list of strings is data, not an application
    assert ksml(["a", "b"], spark=spark) == ["a", "b"]


def test_lambda_forms_wrap_without_evaluating(spark):
    sentinel = lambda k, v: (_ for _ in ()).throw(RuntimeError("must not run"))
    p = ksml(["predicate", sentinel], spark=spark)
    assert isinstance(p, Predicate)
    assert p.fn is sentinel  # wrapped, not called (eval.clj:386-389)


def test_lambda_py_modifier(spark):
    vm = ksml(["value-mapper", len, "py", "int"], spark=spark)
    assert isinstance(vm, ValueMapper)
    assert vm.opaque and vm.returns == "int"


def test_strs_and_topics(spark):
    assert ksml(["strs", "a", "b", "c"], spark=spark) == ["a", "b", "c"]
    assert ksml(["topics", "t1", "t2"], spark=spark) == ["t1", "t2"]


def test_stream_from_dataframe(spark, tables):
    s = ksml(["stream", tables["events"], {"key": "user_id", "time": "ts"}], spark=spark)
    assert isinstance(s, KStreamRel)
    assert s.key_cols == ("user_id",)
    assert s.time_col == "ts"


def test_operator_aliases_normalize(spark, tables):
    # ':group-by', 'group_by', 'group-by' all hit the same rule
    for head in (":group-by", "group_by", "group-by"):
        g = ksml(
            [head, ["stream", tables["events"], {"key": "user_id"}],
             ["key-value-mapper", {"k": "event_type"}]],
            spark=spark,
        )
        assert g.key_cols == ("k",)


def test_wordcount_end_to_end(spark, tables):
    """The reference's flagship example (README.md:59-68):
    stream -> flat-map-values(split) -> group-by -> count."""
    counts = pipe(
        ["stream", tables["documents"], {"key": "doc_id"}],
        ["flat-map-values", ["value-mapper", "split(lower(text), '[^a-z0-9]+')"], {"as": "word"}],
        ["where", "word <> ''"],
        ["group-by", ["key-value-mapper", {"word": "word"}]],
        ["count"],
        spark=spark,
    )
    assert isinstance(counts, KTableRel)
    rows = {r["word"]: r["count"] for r in counts.df.collect()}
    # oracle: recompute in python
    import re
    from collections import Counter

    expected = Counter()
    for r in tables["documents"].select("text").collect():
        expected.update(w for w in re.split(r"[^a-z0-9]+", r["text"].lower()) if w)
    assert rows == dict(expected)


def test_lru_map_refuses_with_honest_mapping(spark):
    """:lruMap (Stores.lruMap, eval.clj:222) is a BOUNDED kv store that
    silently evicts least-recently-used KEYS past maxEntries. Spark
    state is unbounded per key and bounds by time (watermark/TTL), not
    access recency — so the op refuses by default, naming both honest
    alternatives, instead of silently accepting bounded-store syntax
    with unbounded semantics."""
    from ksml_spark.errors import TypeDispatchError

    with pytest.raises(TypeDispatchError, match="with-retention"):
        ksml(["stores", ":lruMap", "my-store"], spark=spark)
    # camelCase alias normalizes identically
    with pytest.raises(TypeDispatchError, match="unbounded_ok"):
        ksml(["stores", "lru-map", "my-store"], spark=spark)
    # explicit opt-in accepts: unbounded-kv SUPERSET semantics (no key
    # ever evicted — strictly more data than the reference store keeps)
    spec = ksml(["stores", ":lruMap", "my-store", {"unbounded_ok": True}],
                spark=spark)
    assert spec.kind == "lru" and spec.name == "my-store"
    assert spec.persistent is False


def test_orc_text_json_csv_source_sink_roundtrip(spark, tmp_path):
    """Every file format the source table accepts round-trips through
    the generic ["to", {"format": ...}] sink."""
    from ksml_spark import ksml, pipe

    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "id long, name string")
    exp = {(1, "alpha"), (2, "beta")}
    for fmt in ("orc", "json", "csv", "parquet"):
        path = str(tmp_path / fmt)
        pipe(["stream", df, {}],
             ["to", {"format": fmt, "path": path}], spark=spark)
        back = ksml(["stream", [fmt, path], {}], spark=spark)
        got = {(int(r["id"]), r["name"]) for r in back.df.collect()}
        assert got == exp, fmt
    # text: one string column per line
    tpath = str(tmp_path / "text")
    df.selectExpr("concat(id, ' ', name) as value").write.text(tpath)
    lines = {r["value"] for r in
             ksml(["stream", ["text", tpath], {}], spark=spark).df.collect()}
    assert lines == {"1 alpha", "2 beta"}


def test_session_defaults_carry_codegen_cache_sizing(spark):
    """The engine's SparkSession must size the Janino codegen class
    cache above the 100-entry default — the 100-query suite evicts
    everything each pass otherwise and compile-heavy plans re-pay full
    Janino compilation per invocation (see session.py DEFAULT_CONF;
    r10 same-session A/B, full 100-query suite, idle box: 125.2s ->
    109.5s, -12.5%, the drops concentrated in the compile-heavy rows —
    lm_ppl_kn 3.82 -> 3.19s, vec_project 2.81 -> 2.14s). Static conf,
    so the running session proves it was applied at build time."""
    from ksml_spark.session import DEFAULT_CONF

    assert int(DEFAULT_CONF["spark.sql.codegen.cache.maxEntries"]) >= 1000
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 1000


def test_config_knob_forms_construct_by_name(spark):
    """The no-op-in-Spark config knobs (materialized / grouped /
    with-caching-* / with-logging-*) each evaluate BY NAME to the right
    config object with the right knob state — the Kafka Streams forms
    they mirror (eval.clj:169-208) must stay constructible even though
    Spark's runtime makes them advisory."""
    from ksml_spark import ksml
    from ksml_spark.operators.stores import Materialized

    m = ksml(["materialized", ["as", "totals-store"]], spark=spark)
    assert isinstance(m, Materialized) and m.name == "totals-store"

    on = ksml(["with-caching-enabled", ["materialized", ["as", "c1"]]], spark=spark)
    assert isinstance(on, Materialized) and on.caching is True and on.name == "c1"
    off = ksml(["with-caching-disabled", ["materialized", ["as", "c2"]]], spark=spark)
    assert off.caching is False and off.name == "c2"

    lon = ksml(["with-logging-enabled", ["materialized", ["as", "l1"]]], spark=spark)
    assert lon.logging is True and lon.name == "l1"
    loff = ksml(["with-logging-disabled", ["materialized", ["as", "l2"]]], spark=spark)
    assert loff.logging is False and loff.name == "l2"

    # knob state survives absorption into an outer materialized chain
    outer = ksml(["materialized",
                  ["with-caching-disabled",
                   ["with-logging-enabled", ["materialized", ["as", "chain"]]]]],
                 spark=spark)
    assert (outer.name, outer.caching, outer.logging) == ("chain", False, True)

    g = ksml(["grouped", ["as", "by-word"]], spark=spark)
    assert g == {"grouped": True, "name": "by-word"}
    assert ksml(["grouped"], spark=spark) == {"grouped": True}


def test_operator_docs_match_registry():
    """docs/OPERATORS.md is generated from the live registry; a change
    to an op's forms or docstring summary must regenerate it
    (``python scripts/gen_opdocs.py``)."""
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "scripts"))
    import gen_opdocs

    with open(os.path.join(root, "docs", "OPERATORS.md")) as f:
        assert f.read() == gen_opdocs.render()
