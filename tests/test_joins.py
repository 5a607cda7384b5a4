"""Join tests (SURVEY.md §2.3, FIXTURES.md F3): table-table,
stream-table, stream-global-table (broadcast), stream-stream windowed,
semi/anti extensions."""

import datetime as dt

from pyspark.sql import functions as F

from ksml_spark import GlobalKTableRel, KStreamRel, KTableRel, ksml


def rels(spark, left_right):
    left, right = left_right
    ls = ksml(["stream", left, {"key": "key", "time": "event_time"}], spark=spark)
    rs = ksml(["stream", right, {"key": "key", "time": "event_time"}], spark=spark)
    lt = ksml(["table", left, {"key": "key", "time": "event_time"}], spark=spark)
    rt = ksml(["table", right, {"key": "key", "time": "event_time"}], spark=spark)
    return ls, rs, lt, rt


def test_table_table_inner_join(spark, left_right):
    _, _, lt, rt = rels(spark, left_right)
    out = ksml(["join", lt, rt, ["value-joiner", lambda l, r: {"l_id": l["id"], "r_id": r["id"]}]], spark=spark)
    assert isinstance(out, KTableRel)
    rows = {r["key"]: (r["l_id"], r["r_id"]) for r in out.df.collect()}
    assert rows == {"k1": (1, 1), "k2": (2, 2)}


def test_table_table_left_join(spark, left_right):
    _, _, lt, rt = rels(spark, left_right)
    out = ksml(["left-join", lt, rt, ["value-joiner", lambda l, r: {"l_id": l["id"], "r_id": r["id"]}]], spark=spark)
    rows = {r["key"]: (r["l_id"], r["r_id"]) for r in out.df.collect()}
    assert rows == {"k1": (1, 1), "k2": (2, 2), "k3": (3, None), "k4": (4, None)}


def test_table_table_outer_join(spark, left_right):
    _, _, lt, rt = rels(spark, left_right)
    out = ksml(["outer-join", lt, rt], spark=spark)
    # full outer: k1..k5; the join key is always present (coalesced), as in
    # the reference where both sides share one key space
    rows = out.df.collect()
    assert {r["key"] for r in rows} == {"k1", "k2", "k3", "k4", "k5"}
    assert all(r["key"] is not None for r in rows)


def test_stream_table_join(spark, left_right):
    ls, _, _, rt = rels(spark, left_right)
    out = ksml(["join", ls, rt, ["value-joiner", lambda l, r: {"lp": l["payload"], "rp": r["payload"]}]], spark=spark)
    assert isinstance(out, KStreamRel)
    rows = {r["key"]: (r["lp"], r["rp"]) for r in out.df.collect()}
    assert rows == {"k1": ("l-one", "r-one"), "k2": ("l-two", "r-two")}


def test_stream_stream_windowed_join(spark, left_right):
    ls, rs, _, _ = rels(spark, left_right)
    out = ksml(
        ["join", ls, rs, ["join-window", 1000],
         ["value-joiner", lambda l, r: {"l_id": l["id"], "r_id": r["id"]}]],
        spark=spark,
    )
    rows = {(r["key"], r["l_id"], r["r_id"]) for r in out.df.collect()}
    # k1 within 0.5s -> joins; k2 2.5s apart -> dropped by the 1s window
    assert rows == {("k1", 1, 1)}


def test_stream_stream_windowed_left_join(spark, left_right):
    ls, rs, _, _ = rels(spark, left_right)
    out = ksml(
        ["left-join", ls, rs, ["join-window", 1000],
         ["value-joiner", lambda l, r: {"l_id": l["id"], "r_id": r["id"]}]],
        spark=spark,
    )
    rows = {(r["key"], r["l_id"], r["r_id"]) for r in out.df.collect()}
    assert rows == {("k1", 1, 1), ("k2", 2, None), ("k3", 3, None), ("k4", 4, None)}


def test_join_global_with_key_extractor(spark, tables):
    g = ksml(["global-table", tables["nation"], {"key": "n_nationkey"}], spark=spark)
    s = ksml(["stream", tables["supplier"], {"key": "s_suppkey"}], spark=spark)
    out = ksml(
        ["join-global", s, g,
         ["key-value-mapper", "s_nationkey"],
         ["value-joiner", lambda l, r: {"s_name": l["s_name"], "n_name": r["n_name"]}]],
        spark=spark,
    )
    assert out.df.count() == tables["supplier"].count()
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_left_join_global_unmatched_nulls(spark, spark_session=None):
    left = spark.createDataFrame([("a", 1), ("zz", 2)], "key string, id long")
    dim = spark.createDataFrame([("a", "Alpha")], "key string, name string")
    g = ksml(["global-table", dim, {"key": "key", "order": ["key"]}], spark=spark)
    s = ksml(["stream", left, {"key": "key"}], spark=spark)
    out = ksml(["left-join-global", s, g, ["value-joiner", None]], spark=spark)
    rows = {r["key"]: r["name"] for r in out.df.select("key", F.col("r_name").alias("name") if "r_name" in out.df.columns else "name").collect()}
    assert rows == {"a": "Alpha", "zz": None}


def test_semi_and_anti_join_extensions(spark, left_right):
    _, _, lt, rt = rels(spark, left_right)
    semi = ksml(["semi-join", lt, rt], spark=spark)
    anti = ksml(["anti-join", lt, rt], spark=spark)
    assert {r["key"] for r in semi.df.collect()} == {"k1", "k2"}
    assert {r["key"] for r in anti.df.collect()} == {"k3", "k4"}


def test_asof_join_matches_naive(spark, tables):
    """As-of join vs a per-row naive computation on collected data."""
    from ksml_spark import ksml, pipe

    clicks = ksml(["where", ["stream", tables["events"], {"key": "user_id", "time": "ts"}],
                   "event_type = 'click'"], spark=spark)
    errors = ksml(["where", ["stream", tables["events"], {"key": "user_id", "time": "ts"}],
                   "event_type = 'error'"], spark=spark)
    out = ksml(["asof-join", clicks, errors, {"order": ["event_id"]}], spark=spark)
    got = {r["event_id"]: r["r_event_id"]
           for r in out.df.select("event_id", "r_event_id").collect()}

    pdf = tables["events"].select("user_id", "ts", "event_type", "event_id").toPandas()
    clicks_p = pdf[pdf.event_type == "click"]
    errors_p = pdf[pdf.event_type == "error"]
    assert len(got) == len(clicks_p)
    for row in clicks_p.itertuples():
        prior = errors_p[(errors_p.user_id == row.user_id) & (errors_p.ts <= row.ts)]
        expected = None
        if len(prior):
            m = prior[prior.ts == prior.ts.max()]
            expected = int(m.event_id.max())  # tiebreak: greatest id at equal ts
        assert got[row.event_id] == expected, f"click {row.event_id}"


def test_asof_join_null_column_not_backfilled(spark):
    """A genuinely-NULL column in the matched right row must stay NULL —
    not be back-filled from an older right row (ADVICE r01)."""
    left = spark.createDataFrame(
        [("u", 100, dt.datetime(2024, 1, 1, 0, 0, 10))],
        "key string, lval long, event_time timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u", "old-code", 1, dt.datetime(2024, 1, 1, 0, 0, 1)),
            ("u", None, 2, dt.datetime(2024, 1, 1, 0, 0, 5)),  # matched row: code IS NULL
        ],
        "key string, code string, rid long, event_time timestamp",
    )
    from ksml_spark import ksml

    l = ksml(["stream", left, {"key": "key", "time": "event_time"}], spark=spark)
    r = ksml(["stream", right, {"key": "key", "time": "event_time"}], spark=spark)
    out = ksml(["asof-join", l, r], spark=spark)
    row = out.df.collect()[0]
    assert row["rid"] == 2          # matched the latest right row...
    assert row["code"] is None      # ...and took its NULL, not old-code


def test_asof_join_tolerance_nulls_stale_matches(spark):
    """{"tolerance": s} must null ALL right columns when the matched
    right row is older than the bound — atomically, and without
    falling back to an even older row."""
    import pytest

    from ksml_spark import ksml
    from ksml_spark.errors import ArityError

    left = spark.createDataFrame(
        [("u", 1, dt.datetime(2024, 1, 1, 0, 0, 10)),   # 5s after rid=2: fresh
         ("u", 2, dt.datetime(2024, 1, 1, 0, 2, 0)),    # 115s after: stale
         ("v", 3, dt.datetime(2024, 1, 1, 0, 0, 30))],  # no right rows at all
        "key string, lid long, event_time timestamp",
    )
    right = spark.createDataFrame(
        [("u", "a", 1, dt.datetime(2024, 1, 1, 0, 0, 1)),
         ("u", "b", 2, dt.datetime(2024, 1, 1, 0, 0, 5))],
        "key string, code string, rid long, event_time timestamp",
    )
    l = ksml(["stream", left, {"key": "key", "time": "event_time"}], spark=spark)
    r = ksml(["stream", right, {"key": "key", "time": "event_time"}], spark=spark)
    rows = {r_["lid"]: (r_["code"], r_["rid"]) for r_ in ksml(
        ["asof-join", l, r, {"tolerance": 30}], spark=spark).df.collect()}
    assert rows[1] == ("b", 2)        # within 30s: matched normally
    assert rows[2] == (None, None)    # stale: nulled, NOT re-matched to "a"
    assert rows[3] == (None, None)    # never matched
    # no tolerance: the stale match comes back
    rows2 = {r_["lid"]: r_["rid"] for r_ in ksml(
        ["asof-join", l, r], spark=spark).df.collect()}
    assert rows2[2] == 2
    with pytest.raises(ArityError, match="tolerance must be >= 0"):
        ksml(["asof-join", l, r, {"tolerance": -1}], spark=spark)


def test_anti_join_is_semi_complement(spark, tables):
    """Retirement pin (r14, clause c):
    anti-join is a one-line how-string dispatch into the same _do_join
    construction as the still-oracled semi/left/outer rows; its
    how-specific surface is exactly the complement contract. On the
    driver tables, semi and anti against the same right side partition
    the left EXACTLY: disjoint, union = every left row."""
    lt = ["stream", tables["customer"], {"key": "c_custkey"}]
    rt = ["stream", tables["orders"], {"key": "o_custkey"}]
    semi = ksml(["semi-join", lt, rt], spark=spark).df
    anti = ksml(["anti-join", lt, rt], spark=spark).df
    s = {r["c_custkey"] for r in semi.select("c_custkey").collect()}
    a = {r["c_custkey"] for r in anti.select("c_custkey").collect()}
    allk = {r["c_custkey"]
            for r in tables["customer"].select("c_custkey").collect()}
    assert s & a == set()
    assert s | a == allk
    # and the semi side agrees with the orders key set (EXISTS semantics)
    okeys = {r["o_custkey"]
             for r in tables["orders"].select("o_custkey").collect()}
    assert s == allk & okeys


def test_outer_join_is_left_union_right_anti(spark, tables):
    """Retirement pin (r16, clause c — the anti-join precedent): outer
    join is a one-line how-string dispatch ('full_outer') into the same
    _do_join construction as the still-oracled left_join_counts /
    semi_join_customers rows; its how-specific surface is exactly the
    both-sides null extension. On the driver tables: outer = left-join
    rows ∪ right rows with no left match (left columns null), the
    matched-or-left part agrees row-for-row with the left join, and the
    merged key column is never NULL."""
    lt = ["stream", tables["customer"], {"key": "c_nationkey"}]
    rt = ["stream", tables["supplier"], {"key": "s_nationkey"}]
    outer = ksml(["outer-join", lt, rt], spark=spark).df
    left = ksml(["left-join", lt, rt], spark=spark).df
    # compare on the shared projection (outer merges the right key
    # column into the left's; left-join keeps it)
    cols = [c for c in outer.columns if c in left.columns]
    assert "c_custkey" in cols and "s_suppkey" in cols
    o_l = sorted(map(tuple, outer.filter("c_custkey is not null")
                     .select(*cols).collect()))
    l_l = sorted(map(tuple, left.select(*cols).collect()))
    # every left-join row appears in outer, exactly once each ...
    assert o_l == l_l
    # ... plus exactly the right rows whose key has NO left match,
    # null-extended on the left side
    lkeys = {r["c_nationkey"]
             for r in tables["customer"].select("c_nationkey").collect()}
    extra = outer.filter("c_custkey is null")
    ekeys = sorted(r["s_suppkey"] for r in extra.select("s_suppkey").collect())
    expected_extra = sorted(
        r["s_suppkey"]
        for r in tables["supplier"].select("s_suppkey", "s_nationkey").collect()
        if r["s_nationkey"] not in lkeys
    )
    assert ekeys == expected_extra
    # the merged key column is the coalesced key: never NULL in outer
    assert outer.filter("c_nationkey is null").count() == 0
