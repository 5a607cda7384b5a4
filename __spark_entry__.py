"""Driver contract for the spark-graft builder (PySpark target).

Every query below is built through the ksml_spark DSL (data-as-query
vectors -> DataFrame plans; see SURVEY.md §3) and paired with an ANSI-SQL
DuckDB oracle. Cross-engine hash-stability rules used throughout:

* money/metric sums are exact-integer sums of rounded fixed-point values
  (SUM(CAST(ROUND(x*100) AS BIGINT))/100.0) — double summation order is
  engine-dependent, integer summation is not, and the bigint path hash-
  aggregates ~3x faster than DECIMAL (for >1e14-row sums switch back to
  DECIMAL(38) to avoid overflow);
* timestamps are emitted as epoch-second BIGINTs (display-timezone-free);
* dot products use sequential element order on both engines (zip_with +
  aggregate vs list_dot_product) so cosine similarities agree bit-for-bit;
* every computed column is aliased identically in the Spark plan and the
  oracle SQL.

Ops whose raw output has no reasonable SQL expression (approximate
sketches, iterative float refinement, driver-side merge-loop training)
emit INVARIANT-SHAPED outputs instead (r12): deterministic check columns
(tolerance booleans, coverage/fixpoint invariants, round-trip
reconstructions) whose expected relation DuckDB states literally — so
every registry row, including those three, is verified through the full
rows+schema+hash channel; none fall back to the weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ksml_spark import ksml, pipe
from ksml_spark.session import cpus
from ksml_spark.operators.dedup import N_BANDS, N_HASHES, ROWS_PER_BAND, SHINGLE_K


_TUNED = set()


def _tune(spark: SparkSession) -> SparkSession:
    """Give a session the engine's shuffle width and broadcast threshold
    where its builder set neither. A ``get_spark`` session already
    carries both (``DEFAULT_CONF``), and a width a caller pinned holds
    for the whole session. The width is the session's parallelism
    (``ksml_spark.session.cpus``): the driver benches at more than one
    core count, and AQE coalescing absorbs the small-partition side."""
    if id(spark) not in _TUNED:
        built = spark.sparkContext.getConf()
        for k, v in {
            "spark.sql.shuffle.partitions": str(cpus(spark)),
            "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        }.items():
            if built.contains(k):
                continue
            try:
                spark.conf.set(k, v)
            except Exception:
                pass  # conf locked down: proceed with session defaults
        _TUNED.add(id(spark))
    return spark


def _t(sf_dir: str, name: str) -> list:
    return ["parquet", f"{sf_dir}/{name}.parquet"]


# ---------------------------------------------------------------------------
# shared oracle fragments

def _minhash_cte(with_long: bool = False) -> str:
    """DuckDB CTEs replicating ksml_spark.operators.dedup.band_signatures."""
    from ksml_spark.operators.dedup import minhash_slice

    mh = ", ".join(
        "list_min(list_transform(s, x -> ('0x' || substr(md5('{m}#' || x), {p}, 8))::BIGINT)) AS mh_{j}".format(
            m=minhash_slice(j)[0], p=minhash_slice(j)[1], j=j
        )
        for j in range(N_HASHES)
    )
    bands = ", ".join(
        "md5("
        + "||".join(f"mh_{b * ROWS_PER_BAND + r}::VARCHAR" for r in range(ROWS_PER_BAND))
        + f") AS band_{b}"
        for b in range(N_BANDS)
    )
    sql = f"""
WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT doc_id, CASE WHEN len(t) < {SHINGLE_K} THEN [text]
       ELSE [array_to_string(t[i:i+{SHINGLE_K - 1}], ' ')
             for i in generate_series(1, len(t)-{SHINGLE_K - 1})] END AS s FROM toks),
mh AS (SELECT doc_id, {mh} FROM sh),
bands AS (SELECT doc_id, {bands} FROM mh)"""
    if with_long:
        longs = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, band_{b} AS bucket FROM bands"
            for b in range(N_BANDS)
        )
        sql += f",\nlong AS ({longs})"
    return sql


_LANGS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "ich"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"],
    "es": ["el", "la", "los", "que", "de", "un", "una", "es", "por", "con"],
}

_WORDS_DUCK = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"


def _lang_ratio_duck(lang: str) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in _LANGS[lang]) + "]"
    return (
        f"CASE WHEN len(w) > 0 THEN "
        f"len(list_filter(w, x -> list_contains({lst}, x)))::DOUBLE / len(w) "
        f"ELSE 0.0 END"
    )


def _lang_id_oracle() -> str:
    ratios = ", ".join(f"{_lang_ratio_duck(l)} AS s_{l}" for l in _LANGS)
    first = next(iter(_LANGS))
    m = "greatest(" + ", ".join(f"s_{l}" for l in _LANGS) + ")"
    cases = " ".join(f"WHEN s_{l} = {m} THEN '{l}'" for l in _LANGS)
    return f"""
WITH w0 AS (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents),
sc AS (SELECT doc_id, {ratios} FROM w0)
SELECT doc_id, CASE WHEN {m} <= 0.0 THEN 'und' {cases} END AS lang_pred FROM sc"""


# ---------------------------------------------------------------------------
# the query suite: name -> (builder(spark, sf_dir) -> DataFrame, oracle SQL)

def _q_q1(spark, sf):
    return pipe(
        ["stream", _t(sf, "lineitem"), {"key": ["l_orderkey", "l_linenumber"]}],
        ["where", "l_shipdate <= timestamp'2000-09-02 00:00:00'"],
        ["group-by", ["key-value-mapper", {"l_returnflag": "l_returnflag", "l_linestatus": "l_linestatus"}]],
        ["agg", {
            "sum_qty": "sum(cast(round((l_quantity) * 100) as bigint)) / cast(100 as double)",
            "sum_base_price": "sum(cast(round((l_extendedprice) * 100) as bigint)) / cast(100 as double)",
            "sum_disc_price": "sum(cast(round((l_extendedprice * (1 - l_discount)) * 1000000) as bigint)) / cast(1000000 as double)",
            "sum_charge": "sum(cast(round((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1000000) as bigint)) / cast(1000000 as double)",
            "avg_qty": "sum(cast(round((l_quantity) * 100) as bigint)) / cast(100 as double) / count(1)",
            "count_order": "count(1)",
        }],
        spark=spark,
    ).df


_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
  SUM(CAST(ROUND((l_quantity) * 100) AS BIGINT)) / cast(100 as double) AS sum_qty,
  SUM(CAST(ROUND((l_extendedprice) * 100) AS BIGINT)) / cast(100 as double) AS sum_base_price,
  SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT)) / cast(1000000 as double) AS sum_disc_price,
  SUM(CAST(ROUND((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1000000) AS BIGINT)) / cast(1000000 as double) AS sum_charge,
  SUM(CAST(ROUND((l_quantity) * 100) AS BIGINT)) / cast(100 as double) / COUNT(1) AS avg_qty,
  COUNT(1) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus"""


def _q_q5(spark, sf):
    """TPC-H Q5-style: 6-table join (3 broadcast dims via global-table) +
    filter + agg — local-supplier revenue per nation in one region/year."""
    orders = ksml(["where",
                   ["stream", _t(sf, "orders"), {"key": "o_custkey"}],
                   "o_orderdate >= timestamp'1996-01-01 00:00:00' and "
                   "o_orderdate < timestamp'1997-01-01 00:00:00'"], spark=spark)
    cust = ksml(["table", _t(sf, "customer"), {"key": "c_custkey", "unique": True}],
                spark=spark)
    co = ksml(["join", orders, cust], spark=spark)
    co = ksml(["select-key", co, ["key-value-mapper", {"o_orderkey": "o_orderkey"}]],
              spark=spark)
    li = ksml(["stream", _t(sf, "lineitem"), {"key": "l_orderkey"}], spark=spark)
    lco = ksml(["join", li, co], spark=spark)
    supp = ksml(["global-table", _t(sf, "supplier"),
                 {"key": "s_suppkey", "unique": True}], spark=spark)
    nation = ksml(["global-table", _t(sf, "nation"),
                   {"key": "n_nationkey", "unique": True}], spark=spark)
    region = ksml(["global-table", _t(sf, "region"),
                   {"key": "r_regionkey", "unique": True}], spark=spark)
    return pipe(
        ["join-global", lco, supp, ["key-value-mapper", "l_suppkey"]],
        # Q5's local-supplier condition: supplier and customer co-located
        ["where", "s_nationkey = c_nationkey"],
        ["join-global", nation, ["key-value-mapper", "s_nationkey"]],
        ["join-global", region, ["key-value-mapper", "n_regionkey"]],
        ["where", "r_name = 'ASIA'"],
        ["group-by", ["key-value-mapper", {"n_name": "n_name"}]],
        ["agg", {"revenue": "sum(cast(round((l_extendedprice * (1 - l_discount)) * 1000000) as bigint)) / cast(1000000 as double)"}],
        spark=spark,
    ).df


_Q5_ORACLE = """
SELECT n_name,
  SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT)) / cast(1000000 as double) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name"""


def _q_wordcount(spark, sf):
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["flat-map-values",
         ["value-mapper", "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')"],
         {"as": "word"}],
        ["group-by", ["key-value-mapper", {"word": "word"}]],
        ["count"],
        spark=spark,
    ).df


_WORDCOUNT_ORACLE = f"""
SELECT word, COUNT(*) AS count FROM (
  SELECT unnest({_WORDS_DUCK}) AS word FROM documents
) GROUP BY word"""


def _q_filter(spark, sf):
    return pipe(
        ["stream", _t(sf, "lineitem"), {"key": ["l_orderkey", "l_linenumber"]}],
        ["filter", ["predicate", "l_quantity >= 49 and l_discount > 0.05"]],
        ["select", {"l_orderkey": "l_orderkey", "l_linenumber": "l_linenumber",
                    "l_quantity": "l_quantity", "l_discount": "l_discount"}],
        spark=spark,
    ).df


_FILTER_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity, l_discount
FROM lineitem WHERE l_quantity >= 49 AND l_discount > 0.05"""


# (the filter_not_returns row was retired r16 — clause c; its complement
# contract lives on as tests/test_stateless.py::test_filter_not_is_filter_complement)


def _q_map_values(spark, sf):
    return pipe(
        ["stream", _t(sf, "lineitem"), {"key": ["l_orderkey", "l_linenumber"]}],
        ["map-values", ["value-mapper",
                        {"net_price": "cast(cast(l_extendedprice * (1 - l_discount) as decimal(18,6)) as double)"}]],
        spark=spark,
    ).df


_MAP_VALUES_ORACLE = """
SELECT l_orderkey, l_linenumber,
       CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS DOUBLE) AS net_price
FROM lineitem"""


def _q_select_key(spark, sf):
    return pipe(
        ["stream", _t(sf, "events"), {"key": "user_id", "time": "ts"}],
        ["select-key", ["key-value-mapper", {"key": "event_type"}]],
        ["group-by-key"],
        ["count"],
        spark=spark,
    ).df


_SELECT_KEY_ORACLE = """
SELECT event_type AS key, COUNT(*) AS count FROM events GROUP BY event_type"""


def _q_flat_map(spark, sf):
    return pipe(
        ["stream", _t(sf, "lineitem"), {"key": ["l_orderkey", "l_linenumber"]}],
        ["flat-map", ["key-value-mapper",
                      "array(named_struct('key', l_returnflag, 'value', l_quantity), "
                      "named_struct('key', l_linestatus, 'value', l_quantity))"]],
        ["group-by-key"],
        ["reduce", ["reducer", {"total_qty": "sum(cast(round((value) * 100) as bigint)) / cast(100 as double)"}]],
        spark=spark,
    ).df


_FLAT_MAP_ORACLE = """
SELECT key, SUM(CAST(ROUND((value) * 100) AS BIGINT)) / cast(100 as double) AS total_qty FROM (
  SELECT l_returnflag AS key, l_quantity AS value FROM lineitem
  UNION ALL
  SELECT l_linestatus AS key, l_quantity AS value FROM lineitem
) GROUP BY key"""


def _q_branch(spark, sf):
    b = ksml(
        ["branch", ["stream", _t(sf, "orders"), {"key": "o_custkey"}],
         ["predicate", "o_orderstatus = 'F'"],
         ["predicate", "o_totalprice > 100000"]],
        spark=spark,
    )
    return pipe(
        b[1],
        ["group-by", ["key-value-mapper", {"o_orderpriority": "o_orderpriority"}]],
        ["agg", {"n": "count(1)",
                 "revenue": "sum(cast(round((o_totalprice) * 100) as bigint)) / cast(100 as double)"}],
        spark=spark,
    ).df


_BRANCH_ORACLE = """
SELECT o_orderpriority, COUNT(1) AS n,
       SUM(CAST(ROUND((o_totalprice) * 100) AS BIGINT)) / cast(100 as double) AS revenue
FROM orders WHERE o_totalprice > 100000 AND NOT (o_orderstatus = 'F')
GROUP BY o_orderpriority"""


def _q_merge(spark, sf):
    clicks = ksml(["where", ["stream", _t(sf, "events"), {"key": "user_id", "time": "ts"}],
                   "event_type = 'click'"], spark=spark)
    errors = ksml(["where", ["stream", _t(sf, "events"), {"key": "user_id", "time": "ts"}],
                   "event_type = 'error'"], spark=spark)
    return pipe(
        ["merge", clicks, errors],
        ["group-by", ["key-value-mapper", {"event_type": "event_type"}]],
        ["agg", {"n": "count(1)"}],
        spark=spark,
    ).df


_MERGE_ORACLE = """
SELECT event_type, COUNT(1) AS n FROM events
WHERE event_type IN ('click', 'error') GROUP BY event_type"""


def _q_table_latest(spark, sf):
    return pipe(
        ["table", _t(sf, "events"),
         {"key": "user_id", "time": "ts", "order": ["ts", "event_id"]}],
        ["select", {"user_id": "user_id", "event_id": "event_id",
                    "event_type": "event_type", "value": "value"}],
        spark=spark,
    ).df


_TABLE_LATEST_ORACLE = """
SELECT user_id, event_id, event_type, value FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1"""


# (the table->filter->map-values->to-stream composition row was
# retired r14 — clause a; its shape lives on as
# tests/test_table.py::test_table_filter_mapvalues_composition_pin)


def _q_table_regroup(spark, sf):
    return pipe(
        ["table", _t(sf, "events"),
         {"key": "user_id", "time": "ts", "order": ["ts", "event_id"]}],
        ["group-by", ["key-value-mapper", {"event_type": "event_type"}]],
        ["agg", {"n_users": "count(1)",
                 "total_value": "sum(cast(round((value) * 100) as bigint)) / cast(100 as double)"}],
        spark=spark,
    ).df


_TABLE_REGROUP_ORACLE = """
SELECT event_type, COUNT(1) AS n_users,
       SUM(CAST(ROUND((value) * 100) AS BIGINT)) / cast(100 as double) AS total_value FROM (
  SELECT event_type, value FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
) GROUP BY event_type"""


def _q_reduce(spark, sf):
    return pipe(
        ["stream", _t(sf, "events"), {"key": "user_id", "time": "ts"}],
        ["group-by-key"],
        ["reduce", ["reducer", {"total": "sum(cast(round((value) * 100) as bigint)) / cast(100 as double)"}]],
        spark=spark,
    ).df


_REDUCE_ORACLE = """
SELECT user_id, SUM(CAST(ROUND((value) * 100) AS BIGINT)) / cast(100 as double) AS total
FROM events GROUP BY user_id"""


def _q_aggregate(spark, sf):
    return pipe(
        ["stream", _t(sf, "orders"), {"key": "o_custkey"}],
        ["group-by", ["key-value-mapper", {"o_orderstatus": "o_orderstatus"}]],
        ["aggregate", ["aggregator", {
            "n": "count(1)",
            "max_price": "max(o_totalprice)",
            "min_date_s": "cast(unix_timestamp(min(o_orderdate)) as bigint)",
        }]],
        spark=spark,
    ).df


_AGGREGATE_ORACLE = """
SELECT o_orderstatus, COUNT(1) AS n, MAX(o_totalprice) AS max_price,
       CAST(epoch(MIN(o_orderdate)) AS BIGINT) AS min_date_s
FROM orders GROUP BY o_orderstatus"""


def _q_windowed_count(spark, sf):
    return pipe(
        ["stream", _t(sf, "events"), {"key": "event_type", "time": "ts"}],
        ["group-by-key"],
        ["windowed-by", ["time-window", 3600000]],
        ["count"],
        ["select", {"window_start_s": "cast(unix_timestamp(window_start) as bigint)",
                    "event_type": "event_type", "n": "`count`"}],
        spark=spark,
    ).df


_WINDOWED_COUNT_ORACLE = """
SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start_s,
       event_type, COUNT(*) AS n
FROM events GROUP BY 1, 2"""


# (the hopping_count row was retired r16 — clause c; its overlap contract
# lives on as tests/test_agg.py::test_hopping_count_is_rolling_sum_of_tumbling)


def _q_anomaly(spark, sf):
    """The reference's end-to-end example, on the events table
    (/root/reference/examples/ksml/examples/anomaly_detection.clj:29-43):
    re-key to the user, windowed count per minute-bucket (scaled to 1 h for
    this data), filter counts above a threshold, back to a stream."""
    return pipe(
        ["stream", _t(sf, "events"), {"key": "event_id", "time": "ts"}],
        ["map", ["key-value-mapper", {"key": {"user_id": "user_id"},
                                      "value": {"event_type": "event_type"}}]],
        ["group-by-key"],
        ["windowed-by", ["time-window", 3600000]],
        ["count"],
        ["filter", ["predicate", "`count` >= 3"]],
        ["to-stream"],
        ["select", {"window_start_s": "cast(unix_timestamp(window_start) as bigint)",
                    "user_id": "user_id", "n": "`count`"}],
        spark=spark,
    ).df


_ANOMALY_ORACLE = """
SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start_s,
       user_id, COUNT(*) AS n
FROM events GROUP BY 1, 2 HAVING COUNT(*) >= 3"""


def _q_session_count(spark, sf):
    return pipe(
        ["stream", _t(sf, "events"), {"key": "user_id", "time": "ts"}],
        ["group-by-key"],
        ["windowed-by", ["session-window", 1800000]],
        ["count"],
        ["group-by", ["key-value-mapper", {"user_id": "user_id"}]],
        ["agg", {"n_sessions": "count(1)", "max_session_events": "max(`count`)"}],
        spark=spark,
    ).df


_SESSION_COUNT_ORACLE = """
WITH marked AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
), per AS (
  SELECT user_id, sid, COUNT(*) AS c FROM sess GROUP BY user_id, sid
)
SELECT user_id, COUNT(1) AS n_sessions, MAX(c) AS max_session_events
FROM per GROUP BY user_id"""


def _q_join_stream_table(spark, sf):
    return pipe(
        ["join",
         ["stream", _t(sf, "orders"), {"key": "o_custkey"}],
         ["table", _t(sf, "customer"), {"key": "c_custkey", "unique": True}],
         ["value-joiner",
          lambda l, r: {"segment": r["c_mktsegment"], "price": l["o_totalprice"]}]],
        ["group-by", ["key-value-mapper", {"segment": "segment"}]],
        ["agg", {"n_orders": "count(1)",
                 "revenue": "sum(cast(round((price) * 100) as bigint)) / cast(100 as double)"}],
        spark=spark,
    ).df


_JOIN_STREAM_TABLE_ORACLE = """
SELECT c_mktsegment AS segment, COUNT(1) AS n_orders,
       SUM(CAST(ROUND((o_totalprice) * 100) AS BIGINT)) / cast(100 as double) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment"""


def _q_left_join(spark, sf):
    per_cust = pipe(
        ["stream", _t(sf, "orders"), {"key": "o_custkey"}],
        ["group-by-key"],
        ["agg", {"n": "count(1)"}],
        spark=spark,
    )
    return pipe(
        ["left-join",
         ["table", _t(sf, "customer"), {"key": "c_custkey", "unique": True}],
         per_cust],
        ["select", {"c_custkey": "c_custkey", "n_orders": "coalesce(n, 0)"}],
        spark=spark,
    ).df


_LEFT_JOIN_ORACLE = """
SELECT c_custkey, coalesce(n, 0) AS n_orders
FROM customer LEFT JOIN (
  SELECT o_custkey, COUNT(1) AS n FROM orders GROUP BY o_custkey
) ON c_custkey = o_custkey"""


# (the outer_join_nations row was retired r16 — clause c; its null-extension
# contract lives on as tests/test_joins.py::test_outer_join_is_left_union_right_anti)


def _q_join_global(spark, sf):
    joined = ksml(
        ["join-global",
         ["stream", _t(sf, "orders"), {"key": "o_custkey"}],
         ["global-table", _t(sf, "nation"), {"key": "n_nationkey", "unique": True}],
         ["key-value-mapper", "o_custkey % 25"]],
        spark=spark,
    )
    return pipe(
        joined,
        ["group-by", ["key-value-mapper", {"n_name": "n_name"}]],
        ["agg", {"n": "count(1)"}],
        spark=spark,
    ).df


_JOIN_GLOBAL_ORACLE = """
SELECT n_name, COUNT(1) AS n FROM orders
JOIN nation ON o_custkey % 25 = n_nationkey GROUP BY n_name"""


def _q_semi_join(spark, sf):
    return pipe(
        ["semi-join",
         ["stream", _t(sf, "customer"), {"key": "c_custkey"}],
         ["stream", _t(sf, "orders"), {"key": "o_custkey"}]],
        ["select", {"c_custkey": "c_custkey", "c_name": "c_name"}],
        spark=spark,
    ).df


_SEMI_JOIN_ORACLE = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""


# (the anti-join row was retired r14 — clause c; its complement
# contract lives on as tests/test_joins.py::test_anti_join_is_semi_complement)


def _q_interval_join(spark, sf):
    clicks = ksml(["where", ["stream", _t(sf, "events"), {"key": "user_id", "time": "ts"}],
                   "event_type = 'click'"], spark=spark)
    errors = ksml(["where", ["stream", _t(sf, "events"), {"key": "user_id", "time": "ts"}],
                   "event_type = 'error'"], spark=spark)
    return pipe(
        ["join", clicks, errors, ["join-window", 3600000]],
        ["select", {"user_id": "user_id", "click_id": "event_id", "error_id": "r_event_id"}],
        spark=spark,
    ).df


_INTERVAL_JOIN_ORACLE = """
SELECT a.user_id AS user_id, a.event_id AS click_id, b.event_id AS error_id
FROM events a JOIN events b ON a.user_id = b.user_id
WHERE a.event_type = 'click' AND b.event_type = 'error'
  AND b.ts >= a.ts - INTERVAL 1 HOUR AND b.ts <= a.ts + INTERVAL 1 HOUR"""


def _q_asof_join(spark, sf):
    """Most recent error at most 30 min before each click (r08 re-pin
    of asof_join_click_error to {"tolerance": 1800} — the bounded-
    staleness asof; the unbounded default is the tolerance = ∞
    degenerate case of the same plan and stays covered by tests)."""
    clicks = ksml(["where", ["stream", _t(sf, "events"), {"key": "user_id", "time": "ts"}],
                   "event_type = 'click'"], spark=spark)
    errors = ksml(["where", ["stream", _t(sf, "events"), {"key": "user_id", "time": "ts"}],
                   "event_type = 'error'"], spark=spark)
    return pipe(
        ["asof-join", clicks, errors, {"order": ["event_id"],
                                       "tolerance": 1800}],
        ["select", {"user_id": "user_id", "click_id": "event_id",
                    "prior_error_id": "r_event_id"}],
        spark=spark,
    ).df


# the matched error's ts travels in the struct with its id (the op's
# atomic-staleness rule); epoch() is fractional seconds in both engines
_ASOF_JOIN_ORACLE = """
WITH u AS (
  SELECT user_id, ts, 1 AS side, event_id,
         NULL::STRUCT(id BIGINT, et TIMESTAMP) AS rrec
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, 0, NULL, {'id': event_id, 'et': ts}
  FROM events WHERE event_type = 'error'
), w AS (
  SELECT user_id, side, event_id, ts,
    last_value(rrec IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts ASC, side ASC, rrec.id ASC NULLS FIRST
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prior
  FROM u
)
SELECT user_id, event_id AS click_id,
       CASE WHEN epoch(ts) - epoch(prior.et) <= 1800.0
            THEN prior.id END AS prior_error_id
FROM w WHERE side = 1"""


def _q_window_rank(spark, sf):
    """Top-2 orders per customer by price (analytic window op)."""
    return pipe(
        ["stream", _t(sf, "orders"), {"key": "o_custkey"}],
        ["over", {"rnk": "row_number()"},
         {"partition": ["o_custkey"], "order": ["-o_totalprice", "o_orderkey"]}],
        ["where", "rnk <= 2"],
        ["select", {"o_custkey": "o_custkey", "rnk": "rnk",
                    "o_orderkey": "o_orderkey", "o_totalprice": "o_totalprice"}],
        spark=spark,
    ).df


_WINDOW_RANK_ORACLE = """
SELECT o_custkey, rnk, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
) WHERE rnk <= 2"""


def _q_rollup(spark, sf):
    return pipe(
        ["stream", _t(sf, "lineitem"), {"key": ["l_orderkey", "l_linenumber"]}],
        ["rollup", ["l_returnflag", "l_linestatus"],
         {"n": "count(1)",
          "revenue": "sum(cast(round((l_extendedprice) * 100) as bigint)) / cast(100 as double)"}],
        spark=spark,
    ).df


_ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus, COUNT(1) AS n,
       SUM(CAST(ROUND((l_extendedprice) * 100) AS BIGINT)) / cast(100 as double) AS revenue
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""


def _q_exact_distinct_users(spark, sf):
    return pipe(
        ["stream", _t(sf, "events"), {"key": "event_type"}],
        ["group-by-key"],
        ["agg", {"n_users": "count(distinct user_id)"}],
        spark=spark,
    ).df


_EXACT_DISTINCT_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY event_type"""


def _q_approx_distinct_users(spark, sf):
    """HLL++ sketch behind an invariant-shaped oracle (r12 upgrade of
    the old rows-only row): the estimate is approximate by design, so
    the row emits the TOLERANCE CHECK instead of the raw value —
    |approx - exact| <= max(5, 10% of exact) per group, a ~5-sigma
    bound at rsd=0.02 — which DuckDB states literally as TRUE per
    event_type. Any estimator bug beyond sketch noise (wrong grouping,
    collapsed sketch, off-by-scale) now fails rows+schema+hash; the
    exact twin above stays the value-level baseline. Spark's HLL++ is
    deterministic, so the check cannot flake."""
    appr = pipe(
        ["stream", _t(sf, "events"), {"key": "event_type"}],
        ["approx-distinct", "user_id", {"by": ["event_type"], "rsd": 0.02,
                                        "as": "n_users_approx"}],
        spark=spark,
    )
    exact = pipe(
        ["stream", _t(sf, "events"), {"key": "event_type"}],
        ["group-by-key"],
        ["agg", {"n_users_exact": "count(distinct user_id)"}],
        spark=spark,
    )
    return pipe(
        ["join", appr, exact],
        ["select", {"event_type": "event_type",
                    "within_tol":
                        "abs(n_users_approx - n_users_exact) <= "
                        "greatest(5, cast(round(0.1 * n_users_exact) as bigint))"}],
        spark=spark,
    ).df


_APPROX_DISTINCT_ORACLE = """
-- WHERE event_type IS NOT NULL mirrors the query's appr JOIN exact on
-- event_type: an equi-join never matches NULL keys (and Kafka Streams
-- drops null-key records from joins), so the NULL group has no
-- tolerance-check row. No-op on the NULL-free driver testdata; exact
-- under the r15 NULL-injection sweep.
SELECT event_type, TRUE AS within_tol FROM events
WHERE event_type IS NOT NULL GROUP BY event_type"""


def _q_dedup_first(spark, sf):
    return pipe(
        ["stream", _t(sf, "events"), {"key": "user_id", "time": "ts"}],
        ["dedup", {"by": ["user_id", "event_type"], "order": ["ts", "event_id"], "keep": "first"}],
        ["select", {"user_id": "user_id", "event_type": "event_type", "event_id": "event_id"}],
        spark=spark,
    ).df


_DEDUP_FIRST_ORACLE = """
SELECT user_id, event_type, event_id FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1"""


def _q_distinct(spark, sf):
    return pipe(
        ["stream", _t(sf, "lineitem"), {"key": ["l_orderkey", "l_linenumber"]}],
        ["select", {"l_returnflag": "l_returnflag", "l_linestatus": "l_linestatus"}],
        ["distinct"],
        spark=spark,
    ).df


_DISTINCT_ORACLE = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


def _q_topn(spark, sf):
    return pipe(
        ["stream", _t(sf, "orders"), {"key": "o_orderkey"}],
        ["select", {"o_orderkey": "o_orderkey", "o_totalprice": "o_totalprice"}],
        ["order-by", "-o_totalprice", "o_orderkey"],
        ["limit", 100],
        spark=spark,
    ).df


_TOPN_ORACLE = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""


def _q_sql(spark, sf):
    for name in ("orders", "customer", "nation"):
        ksml(["as-view", ["stream", _t(sf, name)], name], spark=spark)
    return ksml(
        ["sql", """
SELECT n_name, COUNT(1) AS n_orders,
       SUM(CAST(ROUND((o_totalprice) * 100) AS BIGINT)) / cast(100 as double) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name"""],
        spark=spark,
    ).df


_SQL_ORACLE = """
SELECT n_name, COUNT(1) AS n_orders,
       SUM(CAST(ROUND((o_totalprice) * 100) AS BIGINT)) / cast(100 as double) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name"""


def _q_json_props(spark, sf):
    return pipe(
        ["stream", _t(sf, "events"), {"key": "user_id", "time": "ts"}],
        ["group-by", ["key-value-mapper",
                      {"k_mod": "cast(get_json_object(props, '$.k') as bigint) % 10"}]],
        ["agg", {"n": "count(1)",
                 "sum_value": "sum(cast(round((value) * 100) as bigint)) / cast(100 as double)"}],
        spark=spark,
    ).df


_JSON_PROPS_ORACLE = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
       COUNT(1) AS n,
       SUM(CAST(ROUND((value) * 100) AS BIGINT)) / cast(100 as double) AS sum_value
FROM events GROUP BY 1"""


# --- extensions: text analysis --------------------------------------------

def _q_token_counts(spark, sf):
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["token-count", {"col": "text"}],
        ["select", {"doc_id": "doc_id", "n_tokens_ws": "n_tokens_ws",
                    "n_tokens_bpe": "n_tokens_bpe"}],
        spark=spark,
    ).df


_TOKEN_COUNTS_ORACLE = r"""
SELECT doc_id,
  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tokens_ws,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens_bpe
FROM documents"""


def _q_lang_id(spark, sf):
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["lang-id", {"col": "text"}],
        ["select", {"doc_id": "doc_id", "lang_pred": "lang_pred"}],
        spark=spark,
    ).df


def _q_quality(spark, sf):
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["quality-score", {"col": "text"}],
        ["select", {"doc_id": "doc_id", "quality": "round(quality, 6)"}],
        spark=spark,
    ).df


def _quality_cte() -> str:
    """CTE chain ending in qual(doc_id, quality) — shared by the
    quality_scores oracle and the corpus_prep pipeline oracle."""
    ratios = ", ".join(f"{_lang_ratio_duck(l)} AS s_{l}" for l in _LANGS)
    best = "greatest(" + ", ".join(f"s_{l}" for l in _LANGS) + ")"
    return f"""
WITH w0 AS (SELECT doc_id, text, {_WORDS_DUCK} AS w FROM documents),
sc AS (SELECT doc_id, text, w, {ratios} FROM w0),
parts AS (SELECT doc_id,
  least(1.0, length(text) / 1000.0) AS length_score,
  CASE WHEN len(w) > 0 THEN list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w)
       ELSE 0.0 END AS mean_wlen,
  length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct,
  length(text) AS n_chars,
  least(1.0, 4.0 * {best}) AS sw_score
FROM sc),
qual AS (SELECT doc_id, round((length_score
  + (CASE WHEN mean_wlen >= 3 AND mean_wlen <= 12 THEN 1.0 ELSE 0.0 END)
  + (1.0 - least(1.0, punct / (n_chars / 10.0 + 1.0)))
  + sw_score) / 4.0, 6) AS quality
FROM parts)"""


def _quality_oracle() -> str:
    return _quality_cte() + "\nSELECT doc_id, quality FROM qual"


def _q_fingerprint(spark, sf):
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["fingerprint", {"col": "text"}],
        ["select", {"doc_id": "doc_id", "rolling_fp": "rolling_fp"}],
        spark=spark,
    ).df


_FINGERPRINT_ORACLE = """
WITH norm AS (
  SELECT doc_id,
    CASE WHEN text IS NULL THEN NULL ELSE
    array_to_string(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                    x -> x <> ''), ' ') END AS s
  FROM documents
)
SELECT doc_id,
  CASE WHEN s IS NULL THEN NULL ELSE list_reduce(
    list_prepend([0::BIGINT, 1::BIGINT],
      list_transform(string_split_regex(s, ''), c -> [ord(c)::BIGINT, 0::BIGINT])),
    (acc, x) -> [(acc[1] + x[1] * acc[2]) % 1000000007, (acc[2] * 31) % 1000000007]
  )[1] END AS rolling_fp
FROM norm"""


# --- extensions: dedup / similarity ---------------------------------------

def _q_lsh_candidates(spark, sf):
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["lsh-candidates", {"col": "text", "id": "doc_id"}],
        spark=spark,
    ).df


_LSH_CANDIDATES_ORACLE = _minhash_cte(with_long=True) + """
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM long a JOIN long b
ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id"""


def _q_jaccard_pairs(spark, sf):
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["jaccard-pairs", {"col": "text", "id": "doc_id",
                           "block": ["lang", "n_chars div 100"], "threshold": 0.5}],
        spark=spark,
    ).df


_JACCARD_PAIRS_ORACLE = """
WITH d AS (SELECT doc_id, lang, n_chars // 100 AS nb,
           list_distinct(list_transform(string_split(text, ' '),
             x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS t FROM documents),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.t, b.t)) AS c, len(a.t) + len(b.t) AS n
  FROM d a JOIN d b ON a.lang = b.lang AND a.nb = b.nb AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, round(c::DOUBLE / (n - c), 6) AS jaccard
FROM pairs WHERE c::DOUBLE / (n - c) >= 0.5"""


def _q_hash_split(spark, sf):
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["hash-split", {"id": "doc_id", "salt": "v1",
                        "fractions": {"train": 0.9, "val": 0.05, "test": 0.05}}],
        ["select", {"doc_id": "doc_id", "split": "split"}],
        spark=spark,
    ).df


# integer cutoffs: floor(0.9 * 2^32), floor(0.95 * 2^32) — identical
# constants in the Spark op, so assignment is bit-exact across engines;
# NULL ids get a NULL split on both sides (the op guards them explicitly)
_HASH_SPLIT_ORACLE = """
SELECT doc_id,
  CASE WHEN doc_id IS NULL THEN NULL
       WHEN b < 3865470566 THEN 'train'
       WHEN b < 4080218931 THEN 'val'
       ELSE 'test' END AS split
FROM (SELECT doc_id,
      ('0x' || substr(md5(doc_id::VARCHAR || 'v1'), 1, 8))::BIGINT AS b
      FROM documents)"""


def _q_cap_per_group(spark, sf):
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["cap-per-group", {"by": ["lang"], "order": ["-n_chars", "doc_id"],
                           "n": 10}],
        ["select", {"doc_id": "doc_id", "lang": "lang", "n_chars": "n_chars"}],
        spark=spark,
    ).df


_CAP_PER_GROUP_ORACLE = """
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
) WHERE rn <= 10"""


def _simhash_cte() -> str:
    """DuckDB CTEs replicating ksml_spark.operators.dedup.simhash_signatures:
    md5(token) sliced into two 32-bit halves, per-bit vote sums, tie-exact
    ``2*s_j > n`` recombination. Bit 63 is the sign bit of a signed 64-bit
    value (written as -9223372036854775807 - 1 to stay BIGINT-typed)."""
    s_cols = ", ".join(
        f"sum((h{'lo' if j < 32 else 'hi'} >> {j % 32}) & 1) AS s_{j}"
        for j in range(64)
    )
    terms = " + ".join(
        "CASE WHEN 2*s_{j} > n THEN {p} ELSE 0 END".format(
            j=j, p=(1 << j) if j < 63 else "-9223372036854775807 - 1"
        )
        for j in range(64)
    )
    return f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
md5d AS (SELECT doc_id, md5(tok) AS m FROM toks),
halves AS (SELECT doc_id, ('0x' || substr(m, 1, 8))::BIGINT AS hhi,
                  ('0x' || substr(m, 9, 8))::BIGINT AS hlo FROM md5d),
summed AS (SELECT doc_id, count(*) AS n, {s_cols} FROM halves GROUP BY doc_id),
sims AS (SELECT doc_id, {terms} AS simhash FROM summed)"""


# the banded equi-join is an optimization; by pigeonhole it finds EXACTLY
# the hamming<=3 pairs, so the oracle brute-forces all pairs (fine at sf0.01)
_SIMHASH_PAIRS_ORACLE = _simhash_cte() + """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""


def _q_simhash_pairs(spark, sf):
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["simhash-pairs", {"col": "text", "id": "doc_id", "max_hamming": 3}],
        spark=spark,
    ).df


def _q_ann_topk(spark, sf):
    return pipe(
        ["stream", _t(sf, "embeddings"), {"key": "vec_id"}],
        ["ann-topk", {"id": "vec_id", "vec": "embedding", "k": 3, "dim": 64,
                      "queries": "vec_id % 50 = 0"}],
        spark=spark,
    ).df


_ANN_TOPK_ORACLE = """
WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
           FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv, n AS qn FROM p WHERE vec_id % 50 = 0),
sims AS (
  SELECT q.q_id, p.vec_id AS n_id,
         list_dot_product(q.qv, p.v) / (q.qn * p.n) AS sim
  FROM q, p WHERE p.vec_id != q.q_id
)
SELECT q_id, n_id, rank, round(sim, 6) AS sim FROM (
  SELECT q_id, n_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
  FROM sims
) WHERE rank <= 3"""


def _q_ann_lsh(spark, sf):
    return pipe(
        ["stream", _t(sf, "embeddings"), {"key": "vec_id"}],
        ["ann-lsh-topk", {"id": "vec_id", "vec": "embedding", "k": 3, "dim": 64,
                          "queries": "vec_id % 50 = 0", "sign_dims": 8}],
        spark=spark,
    ).df


_ANN_LSH_ORACLE = """
WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n,
           array_to_string(list_transform(embedding[1:8],
                           x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), '') AS bucket
           FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv, n AS qn, bucket FROM p WHERE vec_id % 50 = 0),
sims AS (
  SELECT q.q_id, p.vec_id AS n_id,
         list_dot_product(q.qv, p.v) / (q.qn * p.n) AS sim
  FROM q JOIN p USING (bucket) WHERE p.vec_id != q.q_id
)
SELECT q_id, n_id, rank, round(sim, 6) AS sim FROM (
  SELECT q_id, n_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
  FROM sims
) WHERE rank <= 3"""


def _q_ann_lsh_banded(spark, sf):
    """The late-r13 {'bands': b} OR-construction path of ann-lsh-topk
    (registered r14): band j hashes coordinates [j*4, (j+1)*4),
    a pair is a candidate if it co-buckets in ANY band, and the pair
    dedupe + (sim desc, n_id) ranking run after the band explode."""
    return pipe(
        ["stream", _t(sf, "embeddings"), {"key": "vec_id"}],
        ["ann-lsh-topk", {"id": "vec_id", "vec": "embedding", "k": 3,
                          "dim": 64, "queries": "vec_id % 50 = 0",
                          "sign_dims": 4, "bands": 4}],
        spark=spark,
    ).df


_ANN_LSH_BANDED_ORACLE = """
WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
           FROM embeddings),
bb AS (SELECT vec_id, v, n,
         CAST(j AS VARCHAR) || ':' ||
         array_to_string(list_transform(v[j*4+1 : j*4+4],
                         x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), '') AS bucket
       FROM p CROSS JOIN (VALUES (0), (1), (2), (3)) AS bands(j)),
cand AS (SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id AS n_id
         FROM bb qb JOIN bb cb USING (bucket)
         WHERE qb.vec_id % 50 = 0 AND cb.vec_id != qb.vec_id),
sims AS (SELECT c.q_id, c.n_id,
                list_dot_product(qp.v, np.v) / (qp.n * np.n) AS sim
         FROM cand c JOIN p qp ON qp.vec_id = c.q_id
                     JOIN p np ON np.vec_id = c.n_id)
SELECT q_id, n_id, rank, round(sim, 6) AS sim FROM (
  SELECT q_id, n_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
  FROM sims
) WHERE rank <= 3"""


def _q_neardup_banded(spark, sf):
    """The banded neardup-pairs path (registered r14, funded by the
    table_filter_mapvalues retirement): sign-LSH blocking with the
    OR-construction recall lever — candidates co-bucket in any of the
    4 bands, each reading a disjoint 4-coordinate slice."""
    return pipe(
        ["stream", _t(sf, "embeddings"), {"key": "vec_id"}],
        ["neardup-pairs", {"id": "vec_id", "vec": "embedding", "dim": 64,
                           "lsh_dims": 4, "bands": 4, "threshold": 0.4}],
        spark=spark,
    ).df


_NEARDUP_BANDED_ORACLE = """
WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
           FROM embeddings),
bb AS (SELECT vec_id,
         CAST(j AS VARCHAR) || ':' ||
         array_to_string(list_transform(v[j*4+1 : j*4+4],
                         x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), '') AS bucket
       FROM p CROSS JOIN (VALUES (0), (1), (2), (3)) AS bands(j)),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM bb a JOIN bb b USING (bucket) WHERE a.vec_id < b.vec_id)
SELECT c.id_a, c.id_b,
       round(list_dot_product(pa.v, pb.v) / (pa.n * pb.n), 6) AS sim
FROM cand c JOIN p pa ON pa.vec_id = c.id_a JOIN p pb ON pb.vec_id = c.id_b
WHERE round(list_dot_product(pa.v, pb.v) / (pa.n * pb.n), 6) >= 0.4"""


def _q_ann_ivf(spark, sf):
    return pipe(
        ["stream", _t(sf, "embeddings"), {"key": "vec_id"}],
        ["ann-ivf-topk", {"id": "vec_id", "vec": "embedding", "k": 3, "dim": 64,
                          "queries": "vec_id % 50 = 0",
                          "centroids": "vec_id % 127 = 3", "nprobe": 2}],
        spark=spark,
    ).df


_ANN_IVF_ORACLE = """
WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
           FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM p WHERE vec_id % 127 = 3),
assign AS (
  SELECT vec_id, v, n, cid AS cluster FROM (
    SELECT p.vec_id, p.v, p.n, c.cid,
           row_number() OVER (PARTITION BY p.vec_id
             ORDER BY list_dot_product(p.v, c.cv) / (p.n * c.cn) DESC, c.cid) AS rn
    FROM p, c
  ) WHERE rn = 1
),
qprobe AS (
  SELECT q_id, qv, qn, cid AS cluster FROM (
    SELECT p.vec_id AS q_id, p.v AS qv, p.n AS qn, c.cid,
           row_number() OVER (PARTITION BY p.vec_id
             ORDER BY list_dot_product(p.v, c.cv) / (p.n * c.cn) DESC, c.cid) AS rn
    FROM p, c WHERE p.vec_id % 50 = 0
  ) WHERE rn <= 2
),
sims AS (
  SELECT q.q_id, a.vec_id AS n_id,
         list_dot_product(q.qv, a.v) / (q.qn * a.n) AS sim
  FROM qprobe q JOIN assign a USING (cluster) WHERE a.vec_id != q.q_id
)
SELECT q_id, n_id, rank, round(sim, 6) AS sim FROM (
  SELECT q_id, n_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
  FROM sims
) WHERE rank <= 3"""


def _q_neardup_emb(spark, sf):
    return pipe(
        ["stream", _t(sf, "embeddings"), {"key": "vec_id"}],
        ["neardup-pairs", {"id": "vec_id", "vec": "embedding", "dim": 64,
                           "block": "label", "threshold": 0.4}],
        spark=spark,
    ).df


_NEARDUP_EMB_ORACLE = """
WITH p AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
           FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v) / (a.n * b.n), 6) AS sim
FROM p a JOIN p b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) / (a.n * b.n), 6) >= 0.4"""


def _q_histogram(spark, sf):
    """Document-length distribution in equal-RATIO log10 bins (r08
    re-pin of histogram_prices to {"scale": "log"} — the long-tail
    binning; the linear branch differs only in the bin expression and
    stays covered by tests). min=10/max=1000/bins=8 make llo=1 and
    width=0.25 exact doubles; log10 of integer lengths is engine-exact
    away from powers of 10 (where both engines are exact), and the
    back-transformed pow(10, ...) edges — 1 ULP apart between Java and
    DuckDB at e.g. 10^2.5 — are rounded to 6 in both."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["histogram", {"col": "n_chars", "bins": 8, "min": 10, "max": 1000,
                       "scale": "log"}],
        ["select", {"bin": "bin", "lo": "round(lo, 6)", "hi": "round(hi, 6)",
                    "count": "count"}],
        spark=spark,
    ).df


_HISTOGRAM_ORACLE = """
SELECT bin, round(pow(10.0, 1.0 + bin * 0.25), 6) AS lo,
       round(pow(10.0, 1.0 + (bin + 1) * 0.25), 6) AS hi, count(*) AS count
FROM (SELECT CAST(least(7, greatest(0,
        floor((log10(greatest(n_chars, 10.0)) - 1.0) / 0.25))) AS BIGINT) AS bin
      FROM documents WHERE n_chars IS NOT NULL)
GROUP BY bin"""


def _q_expect(spark, sf):
    """Data-contract gate over documents: one row per declared
    constraint with its violation count. accepted(lang) and min_rows
    deliberately FAIL at every SF so both ok states are exercised."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["expect", {"not_null": ["text", "lang"],
                    "unique": ["doc_id"],
                    "accepted": {"lang": ["en", "de"]},
                    "min_rows": 1_000_000}],
        spark=spark,
    ).df


_EXPECT_ORACLE = """
WITH a AS (SELECT count(*) AS n,
  count(*) FILTER (text IS NULL) AS nn_text,
  count(*) FILTER (lang IS NULL) AS nn_lang,
  count(DISTINCT doc_id) AS u_doc,
  count(*) FILTER (lang IS NULL OR lang NOT IN ('en', 'de')) AS acc_lang
FROM documents)
SELECT "constraint", CAST(violations AS BIGINT) AS violations,
       violations = 0 AS ok
FROM (
  SELECT 'not_null(text)' AS "constraint", nn_text AS violations FROM a
  UNION ALL SELECT 'not_null(lang)', nn_lang FROM a
  UNION ALL SELECT 'unique(doc_id)', n - u_doc FROM a
  UNION ALL SELECT 'accepted(lang)', acc_lang FROM a
  UNION ALL SELECT 'min_rows(1000000)', greatest(0, 1000000 - n) FROM a
)"""


def _q_dedup_paragraphs(spark, sf):
    """Intra-doc repeated-paragraph removal. Testdata has no natural
    paragraph breaks, so the query plants them deterministically (full
    text, its first-100-char prefix, then the full text AGAIN) — the
    repeat must drop, the prefix must survive unless it equals the
    whole text."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["select", {"doc_id": "doc_id",
                    "text": "concat(text, '\n\n', substring(text, 1, 100),"
                            " '\n\n', text)"}],
        ["dedup-paragraphs", {"col": "text", "id": "doc_id"}],
        ["select", {"doc_id": "doc_id", "text": "text"}],
        spark=spark,
    ).df


_DEDUP_PARAGRAPHS_ORACLE = """
WITH p AS (SELECT doc_id, trim(text) AS p1, trim(substr(text, 1, 100)) AS p2
           FROM documents)
SELECT doc_id,
  CASE WHEN p2 = p1 OR p2 = '' THEN p1
       ELSE p1 || chr(10) || chr(10) || p2 END AS text
FROM p"""


def _q_pack_chunks(spark, sf):
    """Concat-and-chunk sequence packing over doc_id order: each doc's
    training-chunk index and in-chunk offset at a 2048-token budget,
    via the two-level parallel prefix sum (buckets of 64 docs)."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["token-count", {"col": "text"}],
        ["pack-chunks", {"tokens": "n_tokens_ws", "order": "doc_id",
                         "budget": 2048, "bucket_size": 64}],
        ["select", {"doc_id": "doc_id", "n_tokens_ws": "n_tokens_ws",
                    "chunk": "chunk", "offset": "offset"}],
        spark=spark,
    ).df


_PACK_CHUNKS_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
    len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n
  FROM documents),
s AS (
  SELECT doc_id, n,
    CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
  FROM t)
SELECT doc_id, n AS n_tokens_ws,
       CAST(start // 2048 AS BIGINT) AS chunk,
       CAST(start % 2048 AS BIGINT) AS offset
FROM s"""


def _q_decontaminate(spark, sf):
    """Benchmark decontamination: corpus docs sharing >= 2 distinct word
    3-grams with the pseudo-benchmark subset (doc_id % 41 = 0). The pair
    list is the audit artifact; anti-join drops the leaked docs."""
    return pipe(
        ["decontaminate",
         ["stream", _t(sf, "documents"), {"key": "doc_id"}],
         ["where", ["stream", _t(sf, "documents"), {"key": "doc_id"}],
          "doc_id % 41 = 0"],
         {"n": 3, "min_shared": 2}],
        spark=spark,
    ).df


_DECONTAMINATE_ORACLE = f"""
WITH w AS (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents),
g AS (SELECT doc_id, unnest(CASE WHEN len(w) < 3 THEN []::VARCHAR[]
        ELSE [array_to_string(w[i:i+2], ' ')
              for i in generate_series(1, greatest(len(w) - 2, 1))] END) AS gram
      FROM w),
gh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS g FROM g),
b AS (SELECT doc_id AS bench_id, g FROM gh WHERE doc_id % 41 = 0)
SELECT c.doc_id AS corpus_id, b.bench_id, count(*) AS n_shared
FROM gh c JOIN b USING (g)
GROUP BY 1, 2 HAVING count(*) >= 2"""


def _q_semdedup(spark, sf):
    """SemDeDup (Abbas et al. 2023) end-to-end: nearest-centroid
    assignment (the SAME op_kmeans_assign rule the retired kmeans_assign
    row oracled — its (cluster, sim) output is exposed verbatim here, so
    the assign path keeps hash-exact driver evidence), then the paper's
    upper-triangular within-cluster cosine suppression. threshold 0.3:
    the synthetic embeddings are near-isotropic (within-cluster cosines
    top out ~0.5), so a real-corpus eps like 0.9 would drop nothing —
    0.3 exercises both keep classes (at sf0.01: 264 keep / 236 drop)."""
    return pipe(
        ["stream", _t(sf, "embeddings"), {"key": "vec_id"}],
        ["semdedup", {"id": "vec_id", "vec": "embedding", "dim": 64,
                      "centroids": "vec_id % 127 = 3", "threshold": 0.3}],
        ["select", {"vec_id": "vec_id", "cluster": "cluster",
                    "sim_centroid": "round(sim_centroid, 6)",
                    "keep": "keep"}],
        spark=spark,
    ).df


_SEMDEDUP_ORACLE = """
WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
           FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM p WHERE vec_id % 127 = 3),
a AS (SELECT vec_id, cid AS cluster, sim FROM (
  SELECT p.vec_id, c.cid,
         list_dot_product(p.v, c.cv) / (p.n * c.cn) AS sim,
         row_number() OVER (PARTITION BY p.vec_id
           ORDER BY list_dot_product(p.v, c.cv) / (p.n * c.cn) DESC, c.cid) AS rn
  FROM p, c) WHERE rn = 1),
m AS (SELECT a.vec_id, a.cluster, a.sim, p.v, p.n,
      row_number() OVER (PARTITION BY a.cluster
        ORDER BY a.sim ASC, a.vec_id ASC) AS rk
      FROM a JOIN p USING (vec_id)),
d AS (SELECT DISTINCT m2.vec_id FROM m m1 JOIN m m2
      ON m1.cluster = m2.cluster AND m1.rk < m2.rk
      AND list_dot_product(m1.v, m2.v) / (m1.n * m2.n) >= 0.3)
SELECT m.vec_id, m.cluster, round(m.sim, 6) AS sim_centroid,
       (d.vec_id IS NULL) AS keep
FROM m LEFT JOIN d ON m.vec_id = d.vec_id"""


def _q_semdedup_join(spark, sf):
    """Cross-corpus semantic dedup (semdedup-join): odd vec_ids are the
    NEW corpus, even vec_ids the reference — a left row drops iff some
    same-cluster reference member reaches cosine 0.3 (the reference
    always wins; no within-left suppression). Cluster spaces agree by
    construction: both sides assign to the same centroid sample drawn
    from the reference (vec_id % 126 = 2 — four even ids at sf0.01).
    Reference: the lsh-join incremental shape (eval.clj:220-238) in
    embedding space; threshold 0.3 per the semdedup_embeddings note
    (near-isotropic synthetic embeddings).

    Float-path risk RESOLVED (r11; was the r10 adjudicated
    accepted-risk): the assignment UDF's matmul fast path now
    re-decides any best-vs-second-best cosine gap within
    summation-order error using the oracle's exact sequential
    arithmetic (left-to-right dots on raw centroids — see
    similarity.py), so near-duplicated centroids assign identically on
    both engines; on this corpus the gaps are >= 2.4e-4 anyway (median
    0.08, measured r10) and the hash is unchanged. The pair-cosine
    threshold was never at risk: keep/drop cosines go through the
    sequential dot_col chain on the Spark side, same as semdedup's
    bit-reproducible contract."""
    return pipe(
        ["semdedup-join",
         ["where", ["stream", _t(sf, "embeddings"), {"key": "vec_id"}],
          "vec_id % 2 = 1"],
         ["where", ["stream", _t(sf, "embeddings"), {"key": "vec_id"}],
          "vec_id % 2 = 0"],
         {"id": "vec_id", "vec": "embedding", "dim": 64,
          "centroids": "vec_id % 126 = 2", "threshold": 0.3}],
        ["select", {"vec_id": "vec_id", "cluster": "cluster", "keep": "keep"}],
        spark=spark,
    ).df


_SEMDEDUP_JOIN_ORACLE = """
WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
           FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM p
      WHERE vec_id % 126 = 2 AND vec_id % 2 = 0),
a AS (SELECT vec_id, cid AS cluster FROM (
  SELECT p.vec_id, c.cid,
         row_number() OVER (PARTITION BY p.vec_id
           ORDER BY list_dot_product(p.v, c.cv) / (p.n * c.cn) DESC, c.cid) AS rn
  FROM p, c) WHERE rn = 1),
r AS (SELECT a.cluster AS rcl, p.v AS rv, p.n AS rn2
      FROM a JOIN p USING (vec_id) WHERE p.vec_id % 2 = 0),
l AS (SELECT p.vec_id, a.cluster, p.v, p.n
      FROM a JOIN p USING (vec_id) WHERE p.vec_id % 2 = 1),
d AS (SELECT DISTINCT l.vec_id FROM l JOIN r ON l.cluster = r.rcl
      AND list_dot_product(l.v, r.rv) / (l.n * r.rn2) >= 0.3)
SELECT l.vec_id, l.cluster, (d.vec_id IS NULL) AS keep
FROM l LEFT JOIN d USING (vec_id)"""


def _q_kmeans_centroids(spark, sf):
    """Lloyd refinement behind an invariant-shaped oracle (r12 upgrade
    of the old rows-only row): the iterative float means have no SQL
    expression and their exact bits vary run-to-run, so the row emits
    the DETERMINISTIC Lloyd invariants, which DuckDB states literally:
    every valid vector is assigned exactly once in the final round
    (sum(n) == count of non-NULL, dim-width, finite, nonzero-norm
    embeddings), surviving clusters are non-empty, K only shrinks from
    the init sample, centroids are dim-wide. Any fan-out / drop /
    dimension bug now fails rows+schema+hash; the blob-recovery and
    SSE-descent tests remain the value-level evidence."""
    km = pipe(
        ["stream", _t(sf, "embeddings"), {"key": "vec_id"}],
        ["kmeans-centroids", {"id": "vec_id", "vec": "embedding", "dim": 64,
                              "init": "vec_id % 127 = 3", "iters": 3}],
        ["select", {"one": "1", "n": "n", "c_dim": "size(centroid)"}],
        ["group-by", ["key-value-mapper", {"one": "one"}]],
        ["agg", {"n_clusters": "count(1)", "assigned": "sum(n)",
                 "min_n": "min(n)",
                 "bad_dims": "sum(case when c_dim = 64 then 0 else 1 end)"}],
        spark=spark,
    )
    emb = pipe(
        ["stream", _t(sf, "embeddings"), {"key": "vec_id"}],
        ["select", {"one_r": "1",
                    "valid": "case when embedding is not null"
                             " and size(embedding) = 64"
                             " and forall(embedding, x -> not isnan(x)"
                             "   and abs(x) < cast('Infinity' as double))"
                             " and aggregate(embedding, cast(0 as double),"
                             "   (a, x) -> a + x * x) > 0"
                             " then 1 else 0 end",
                    "is_init": "case when vec_id % 127 = 3 then 1 else 0 end"}],
        ["group-by", ["key-value-mapper", {"one_r": "one_r"}]],
        ["agg", {"n_valid": "sum(valid)", "k_init": "sum(is_init)"}],
        spark=spark,
    )
    return pipe(
        ["join", km, emb],
        ["select", {"coverage_ok": "assigned = n_valid",
                    "k_ok": "n_clusters >= 1 and n_clusters <= k_init",
                    "nonempty_ok": "min_n >= 1",
                    "dim_ok": "bad_dims = 0"}],
        spark=spark,
    ).df


_KMEANS_CENTROIDS_ORACLE = """
SELECT TRUE AS coverage_ok, TRUE AS k_ok, TRUE AS nonempty_ok, TRUE AS dim_ok"""


def _q_vec_quantize(spark, sf):
    """int8 symmetric quantization — 4x ANN memory shrink; q and scale
    compared element-exact against DuckDB."""
    return pipe(
        ["stream", _t(sf, "embeddings"), {"key": "vec_id"}],
        ["vec-quantize", {"vec": "embedding", "dim": 64}],
        ["select", {"vec_id": "vec_id",
                    "q_str": "array_join(q, ',')",
                    "q_scale": "round(q_scale, 6)"}],
        spark=spark,
    ).df


_VEC_QUANTIZE_ORACLE = """
WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v,
           list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS mx
           FROM embeddings)
SELECT vec_id,
  array_to_string(list_transform(v,
    x -> CASE WHEN mx > 0 THEN CAST(floor(x * 127 / mx + 0.5) AS INT) ELSE 0 END), ',') AS q_str,
  round(mx / 127.0, 6) AS q_scale
FROM p"""


def _q_sample_hash(spark, sf):
    """Stratified deterministic downsampling: rebalance by language."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["sample-hash", {"id": "doc_id", "salt": "s1", "by": "lang",
                         "fractions": {"en": 0.5, "de": 0.25, "*": 0.75}}],
        ["select", {"doc_id": "doc_id", "lang": "lang"}],
        spark=spark,
    ).df


# same md5 prefix + integer cutoffs as the Spark op: floor(f * 2^32)
_SAMPLE_HASH_ORACLE = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
    ('0x' || substr(md5(doc_id::VARCHAR || 's1'), 1, 8))::BIGINT AS b
  FROM documents)
WHERE b < CASE lang WHEN 'en' THEN 2147483648
                    WHEN 'de' THEN 1073741824
                    ELSE 3221225472 END"""


def _q_top_bigrams(spark, sf):
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["ngrams", {"col": "text", "n": 2, "top": 50}],
        spark=spark,
    ).df


_TOP_BIGRAMS_ORACLE = f"""
WITH w AS (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents),
g AS (SELECT unnest(CASE WHEN len(w) < 2 THEN []::VARCHAR[]
        ELSE [array_to_string(w[i:i+1], ' ')
              for i in generate_series(1, greatest(len(w) - 1, 1))] END) AS ngram
      FROM w)
SELECT ngram, count(*) AS count FROM g GROUP BY ngram
ORDER BY count DESC, ngram ASC LIMIT 50"""


def _q_repetition(spark, sf):
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["repetition-score", {"col": "text"}],
        ["select", {"doc_id": "doc_id", "n_words": "n_words",
                    "n_distinct_words": "n_distinct_words",
                    "dup_word_ratio": "round(dup_word_ratio, 6)",
                    "top_word_ratio": "round(top_word_ratio, 6)"}],
        spark=spark,
    ).df


_REPETITION_ORACLE = f"""
WITH w AS (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents),
pw AS (SELECT doc_id, unnest(w) AS word FROM w),
cnt AS (SELECT doc_id, word, count(*) AS c FROM pw GROUP BY 1, 2),
sig AS (SELECT doc_id, sum(c) AS nw, count(*) AS nd, max(c) AS top FROM cnt GROUP BY 1)
SELECT d.doc_id,
  CAST(coalesce(nw, 0) AS BIGINT) AS n_words, coalesce(nd, 0) AS n_distinct_words,
  round(CASE WHEN coalesce(nw, 0) > 0 THEN 1.0 - nd / nw::DOUBLE ELSE 0.0 END, 6) AS dup_word_ratio,
  round(CASE WHEN coalesce(nw, 0) > 0 THEN top / nw::DOUBLE ELSE 0.0 END, 6) AS top_word_ratio
FROM documents d LEFT JOIN sig USING (doc_id)"""


def _q_scrub(spark, sf):
    """PII/URL redaction. Testdata has no URLs/emails, so the query
    plants one of each per doc (deterministic) before scrubbing — the
    oracle plants identically and redaction is actually exercised."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["select", {"doc_id": "doc_id",
                    "text": "concat(text, ' http://x.io/', doc_id,"
                            " ' u', doc_id, '@ex.com tail')"}],
        ["scrub", {"col": "text", "patterns": ["url", "email"],
                   "replacement": "<X>"}],
        ["select", {"doc_id": "doc_id", "text": "text"}],
        spark=spark,
    ).df


_SCRUB_ORACLE = r"""
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      text || ' http://x.io/' || doc_id::VARCHAR || ' u' || doc_id::VARCHAR || '@ex.com tail',
      'https?://[^\s]+', '<X>', 'g'),
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<X>', 'g') AS text
FROM documents"""


def _q_frame_sample(spark, sf):
    """Video-frame-sampling batch shape (stub demuxer = byte slicing):
    explode payloads into strided, capped frame records."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["binarize", {"col": "text", "as": "payload"}],
        ["frame-sample", {"col": "payload", "id": "doc_id",
                          "frame_bytes": 256, "every": 2, "max_frames": 4}],
        ["select", {"doc_id": "doc_id", "frame_idx": "frame_idx",
                    "frame_hex": "lower(hex(frame))"}],
        spark=spark,
    ).df


# NOTE: the oracle slices VARCHAR by characters, the Spark op slices the
# binary payload by BYTES — equivalent ONLY because documents.text is pure
# ASCII at every SF (verified; DuckDB cannot slice blobs). On non-ASCII
# corpora the op is still byte-correct; the oracle is what's limited.
_FRAME_SAMPLE_ORACLE = """
WITH f AS (
  SELECT doc_id,
    unnest(list_transform(
      generate_series(0,
        greatest(CAST(ceil(octet_length(encode(text)) / 256.0) AS INT), 1) - 1,
        2)[1:4],
      i -> struct_pack(idx := i,
                       hx := lower(hex(encode(substr(text, i*256 + 1, 256))))))) AS s
  FROM documents)
SELECT doc_id, s.idx AS frame_idx, s.hx AS frame_hex FROM f"""


def _q_corpus_prep(spark, sf):
    """End-to-end training-corpus preparation — the composition a 100 TB
    pipeline actually runs: quality gate -> exact near-dup removal on
    normalized text (min-id representative) -> deterministic hash split
    -> per-(split, lang) document/token accounting. Every stage is a
    pure Column expression (one shuffle for the dedup, one for the final
    aggregation)."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["quality-score", {"col": "text"}],
        ["where", "round(quality, 6) >= 0.5"],
        ["select", {"doc_id": "doc_id", "lang": "lang", "text": "text",
                    "norm": "array_join(filter(split(lower(text), '[^a-z0-9]+'),"
                            " x -> x <> ''), ' ')"}],
        ["dedup", {"by": ["norm"], "order": ["doc_id"]}],
        ["hash-split", {"id": "doc_id", "salt": "v1",
                        "fractions": {"train": 0.9, "val": 0.05, "test": 0.05}}],
        ["token-count", {"col": "text"}],
        ["group-by", ["key-value-mapper", {"split": "split", "lang": "lang"}]],
        ["agg", {"n_docs": "count(1)", "tokens": "sum(n_tokens_ws)"}],
        spark=spark,
    ).df


_CORPUS_PREP_ORACLE = _quality_cte() + r""",
kept AS (
  SELECT d.doc_id, d.lang, d.text,
         array_to_string(list_filter(regexp_split_to_array(lower(d.text),
             '[^a-z0-9]+'), x -> x <> ''), ' ') AS norm
  FROM documents d JOIN qual USING (doc_id)
  WHERE quality >= 0.5
),
uniq AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
    FROM kept) WHERE rn = 1
),
sp AS (
  SELECT doc_id, lang, text,
    CASE WHEN b < 3865470566 THEN 'train'
         WHEN b < 4080218931 THEN 'val'
         ELSE 'test' END AS split
  FROM (SELECT *, ('0x' || substr(md5(doc_id::VARCHAR || 'v1'), 1, 8))::BIGINT AS b
        FROM uniq)
)
SELECT split, lang, count(*) AS n_docs,
       CAST(SUM(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS BIGINT) AS tokens
FROM sp GROUP BY 1, 2"""


def _q_multimodal(spark, sf):
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["binarize", {"col": "text", "as": "payload"}],
        ["decode-features", {"col": "payload", "id": "doc_id"}],
        spark=spark,
    ).df


def _q_media_meta(spark, sf):
    """Typed media-metadata struct column (SURVEY §2.10 column model),
    flattened for the oracle compare."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["binarize", {"col": "text", "as": "payload"}],
        ["media", {"col": "payload", "mime": "text/plain"}],
        ["select", {"doc_id": "doc_id", "mime": "media.mime",
                    "width": "media.width", "height": "media.height",
                    "n_bytes": "media.n_bytes"}],
        spark=spark,
    ).df


_MEDIA_META_ORACLE = """
SELECT doc_id, 'text/plain' AS mime, CAST(NULL AS INTEGER) AS width,
       CAST(NULL AS INTEGER) AS height,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents"""


_MULTIMODAL_ORACLE = """
SELECT doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  lower(hex(encode(substr(text, 1, 4)))) AS header_hex,
  CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_w,
  CAST((octet_length(encode(text)) * 7) % 480 AS BIGINT) AS fake_h
FROM documents"""


def _q_sessionize(spark, sf):
    """Per-event session labels (gap 1h) — the row-level complement of
    session-window aggregation; lag + running-sum windows, one shuffle
    on the key."""
    return pipe(
        ["stream", _t(sf, "events"), {"key": "user_id", "time": "ts"}],
        ["sessionize", {"gap": 3600000}],
        ["select", {"user_id": "user_id", "event_id": "event_id",
                    "session_id": "session_id",
                    "session_start": "session_start"}],
        spark=spark,
    ).df


_SESSIONIZE_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
         THEN 1 ELSE 0 END AS nw
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT user_id, event_id, ts,
    CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts) - 1 AS BIGINT)
      AS session_id
  FROM e)
SELECT user_id, event_id, session_id,
       min(ts) OVER (PARTITION BY user_id, session_id) AS session_start
FROM s"""


def _q_containment_pairs(spark, sf):
    """Containment (overlap-coefficient) near-dup pairs — catches the
    snippet-inside-page inclusion Jaccard misses; same inverted-index
    plan family as jaccard_pairs."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["containment-pairs", {"col": "text", "id": "doc_id",
                               "block": ["lang", "n_chars div 100"],
                               "threshold": 0.8}],
        spark=spark,
    ).df


_CONTAINMENT_ORACLE = """
WITH d AS (SELECT doc_id, lang, n_chars // 100 AS nb,
           list_distinct(list_transform(string_split(text, ' '),
             x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS t FROM documents),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.t, b.t)) AS c, len(a.t) AS na, len(b.t) AS nb2
  FROM d a JOIN d b ON a.lang = b.lang AND a.nb = b.nb AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, round(c::DOUBLE / na, 6) AS containment_a,
       round(c::DOUBLE / nb2, 6) AS containment_b
FROM p
WHERE round(c::DOUBLE / na, 6) >= 0.8 OR round(c::DOUBLE / nb2, 6) >= 0.8"""


def _q_bm25(spark, sf):
    """BM25 relevance of every document against a fixed query (Lucene
    idf variant) — corpus-curation lexical retrieval; postings reduce to
    query-term matches before any shuffle."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["bm25", {"col": "text", "id": "doc_id", "query": "the model data"}],
        spark=spark,
    ).df


_BM25_ORACLE = f"""
WITH w AS (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents),
d AS (SELECT doc_id, w, len(w) AS dl FROM w),
s AS (SELECT count(*) AS N, avg(dl) AS avgdl FROM d),
tf AS (SELECT doc_id, dl, t.term, count(*) AS tf
       FROM d, unnest(list_filter(w, x -> x IN ('data', 'model', 'the')))
       AS t(term)
       GROUP BY 1, 2, 3),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
SELECT doc_id, round(sum(
    ln(1 + (s.N - dfq.df + 0.5) / (dfq.df + 0.5))
    * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))), 6)
  AS score
FROM tf JOIN dfq USING (term) CROSS JOIN s GROUP BY 1"""


def _q_quantile_summary(spark, sf):
    """Per-group exact percentile profile (linear interpolation, the
    quantile_cont definition); {"approx": N} is the documented sketch
    path at scale."""
    return pipe(
        ["stream", _t(sf, "orders"), {"key": "o_orderkey"}],
        ["quantiles", {"col": "o_totalprice", "by": "o_orderpriority",
                       "ps": [0.25, 0.5, 0.75, 0.95]}],
        spark=spark,
    ).df


_QUANTILE_ORACLE = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.25), 6) AS p25,
       round(quantile_cont(o_totalprice, 0.50), 6) AS p50,
       round(quantile_cont(o_totalprice, 0.75), 6) AS p75,
       round(quantile_cont(o_totalprice, 0.95), 6) AS p95
FROM orders GROUP BY o_orderpriority"""


def _q_entropy(spark, sf):
    """Char- and word-level Shannon entropy per document — the
    garbage-text / spam signal."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["entropy", {"col": "text", "unit": "char", "as": "ent_char"}],
        ["entropy", {"col": "text", "unit": "word", "as": "ent_word"}],
        ["select", {"doc_id": "doc_id", "ent_char": "round(ent_char, 6)",
                    "ent_word": "round(ent_word, 6)"}],
        spark=spark,
    ).df


_ENTROPY_ORACLE = f"""
WITH ch AS (
  SELECT doc_id,
         unnest([substr(text, i, 1) for i in generate_series(1, len(text))]) AS u
  FROM documents),
cc AS (SELECT doc_id, u, count(*) AS c FROM ch GROUP BY 1, 2),
ce AS (SELECT doc_id, log2(sum(c)) - sum(c * log2(c)) / sum(c) AS ent
       FROM cc GROUP BY 1),
wd AS (SELECT doc_id, unnest({_WORDS_DUCK}) AS u FROM documents),
wc AS (SELECT doc_id, u, count(*) AS c FROM wd GROUP BY 1, 2),
we AS (SELECT doc_id, log2(sum(c)) - sum(c * log2(c)) / sum(c) AS ent
       FROM wc GROUP BY 1)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE round(coalesce(ce.ent, 0), 6) END AS ent_char,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE round(coalesce(we.ent, 0), 6) END AS ent_word
FROM documents d LEFT JOIN ce USING (doc_id) LEFT JOIN we USING (doc_id)"""


def _q_mix_sources(spark, sf):
    """Deterministic 3:1:1 source mixture (binding group keeps all its
    rows; others subsample by the shared md5 cutoff)."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["mix", {"by": "source", "weights": {"src0": 3, "src1": 1, "src2": 1},
                 "id": "doc_id", "salt": "v1"}],
        ["select", {"doc_id": "doc_id", "source": "source"}],
        spark=spark,
    ).df


_MIX_ORACLE = """
WITH c AS (SELECT source, count(*) AS n,
        CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 1.0
                    WHEN 'src2' THEN 1.0 END AS w
      FROM documents WHERE source IN ('src0', 'src1', 'src2') GROUP BY 1),
t AS (SELECT min(n / w) AS tmin FROM c),
cuts AS (SELECT source, CAST(floor(t.tmin * c.w / c.n * 4294967296) AS BIGINT)
         AS cut FROM c CROSS JOIN t)
SELECT d.doc_id, d.source FROM documents d JOIN cuts USING (source)
WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || 'v1'), 1, 8))::BIGINT < cut"""


def _q_lm_kn(spark, sf):
    """Per-document bigram-LM perplexity under interpolated Kneser-Ney
    (D=0.75), self-trained — the KenLM-class smoothing, fully
    relational (r08 re-pin of lm_ppl_bigram: the add-k option keeps
    oracle coverage through lm_ppl_frozen, so this slot now oracles
    the KN continuation-count path)."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["lm-score", {"col": "text", "id": "doc_id", "n": 2,
                      "smoothing": "kn", "discount": 0.75}],
        spark=spark,
    ).df


# replicates functions/corpus.py _lm_score_kn: P(w|v) = max(c(vw)-D,0)/c(v)
# + D·N1+(v·)/c(v)·Pcont(w), Pcont = (N1+(·w)+1)/(B+V+1); training ==
# scoring corpus, so every scored bigram joins its model rows
_LM_KN_ORACLE = f"""
WITH w AS (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents),
d AS (SELECT doc_id, w, len(w) AS l FROM w),
uni AS (SELECT unnest(w) AS u FROM d),
vv AS (SELECT count(DISTINCT u) AS v FROM uni),
g AS (SELECT doc_id,
        unnest([{{'p': w[i], 's': w[i+1]}}
                for i in generate_series(1, l - 1)]) AS s
      FROM d WHERE l >= 2),
types AS (SELECT s.p AS p, s.s AS s, count(*) AS cg FROM g GROUP BY 1, 2),
pref AS (SELECT p, sum(cg) AS cp, count(*) AS n1f FROM types GROUP BY 1),
cont AS (SELECT s, count(*) AS n1b FROM types GROUP BY 1),
bb AS (SELECT count(*) AS b FROM types),
occ AS (SELECT doc_id, s.p AS p, s.s AS s, count(*) AS tf FROM g GROUP BY 1, 2, 3),
sc AS (SELECT occ.doc_id,
         sum(occ.tf * ln(
           greatest(coalesce(t.cg, 0) - 0.75, 0) / pr.cp
           + 0.75 * pr.n1f / pr.cp
             * ((coalesce(c.n1b, 0) + 1) / (bb.b + vv.v + 1)))) AS lp,
         sum(occ.tf) AS np
       FROM occ LEFT JOIN types t ON occ.p = t.p AND occ.s = t.s
       LEFT JOIN pref pr ON occ.p = pr.p
       LEFT JOIN cont c ON occ.s = c.s
       CROSS JOIN bb CROSS JOIN vv
       GROUP BY 1)
SELECT doc_id, CAST(np AS BIGINT) AS n_scored,
       round(-lp / np, 6) AS nll, round(exp(-lp / np), 6) AS ppl
FROM sc"""


def _q_lm_frozen(spark, sf):
    """Frozen-stats lm-score: the model is batch-trained into a dict
    (lm_train_stats) and scoring is one shuffle-free per-row expression
    — the streaming-deployable path, oracle-checked on batch. Appends
    NULL scores for docs with < 2 tokens (shape difference vs the
    relational mode, which omits them)."""
    from ksml_spark.functions.corpus import lm_train_stats
    from ksml_spark.sources.files import load_table

    stats = lm_train_stats(load_table(spark, sf, "documents"), "text", n=2)
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["lm-score", {"col": "text", "id": "doc_id", "k": 0.1,
                      "stats": stats}],
        ["select", {"doc_id": "doc_id", "n_scored": "n_scored",
                    "nll": "nll", "ppl": "ppl"}],
        spark=spark,
    ).df


_LM_FROZEN_ORACLE = f"""
WITH w AS (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents),
d AS (SELECT doc_id, w, len(w) AS l FROM w),
uni AS (SELECT unnest(w) AS u FROM d),
cp AS (SELECT u, count(*) AS c FROM uni GROUP BY 1),
vv AS (SELECT count(*) AS v FROM cp),
g AS (SELECT doc_id,
        unnest([{{'p': w[i], 'g': array_to_string(w[i:i+1], ' ')}}
                for i in generate_series(1, l - 1)]) AS s
      FROM d WHERE l >= 2),
gg AS (SELECT s.g AS g, count(*) AS c FROM g GROUP BY 1),
occ AS (SELECT doc_id, s.g AS g, s.p AS p, count(*) AS tf FROM g GROUP BY 1, 2, 3),
sc AS (SELECT occ.doc_id,
         sum(occ.tf * ln((coalesce(gg.c, 0) + 0.1) / (coalesce(cp.c, 0) + 0.1 * vv.v))) AS lp,
         sum(occ.tf) AS np
       FROM occ LEFT JOIN gg USING (g) LEFT JOIN cp ON occ.p = cp.u CROSS JOIN vv
       GROUP BY 1)
SELECT d.doc_id, CAST(sc.np AS BIGINT) AS n_scored,
       round(-sc.lp / sc.np, 6) AS nll, round(exp(-sc.lp / sc.np), 6) AS ppl
FROM d LEFT JOIN sc ON d.doc_id = sc.doc_id"""


def _q_pmi(spark, sf):
    """Top-50 collocations by PMI among bigrams seen >= 5 times — the
    count threshold bounds the model join, so the unigram table joins a
    capped relation."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["pmi", {"col": "text", "min_count": 5, "top": 50}],
        spark=spark,
    ).df


_PMI_ORACLE = f"""
WITH w AS (SELECT {_WORDS_DUCK} AS w FROM documents),
uni AS (SELECT unnest(w) AS u FROM w),
c1 AS (SELECT u, count(*) AS c FROM uni GROUP BY 1),
t1 AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM c1),
b AS (SELECT unnest([{{'w1': w[i], 'w2': w[i+1]}}
                     for i in generate_series(1, len(w) - 1)]) AS s
      FROM w WHERE len(w) >= 2),
c12 AS (SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS c FROM b GROUP BY 1, 2),
t2 AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM c12)
SELECT w1, w2, CAST(c12.c AS BIGINT) AS pair_count,
       round(ln((c12.c / t2.t) / ((a.c / t1.t) * (bb.c / t1.t))), 6) AS pmi
FROM c12 JOIN c1 a ON c12.w1 = a.u JOIN c1 bb ON c12.w2 = bb.u
CROSS JOIN t1 CROSS JOIN t2
WHERE c12.c >= 5
ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 50"""


def _q_bpe_pairs(spark, sf):
    """Top-50 BPE merge candidates: within-word adjacent char pairs
    weighted by word frequency; the char explode runs on the vocabulary
    table, the corpus is scanned once."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["bpe-pairs", {"col": "text", "top": 50}],
        spark=spark,
    ).df


_BPE_PAIRS_ORACLE = f"""
WITH w AS (SELECT {_WORDS_DUCK} AS w FROM documents),
uni AS (SELECT unnest(w) AS u FROM w),
wc AS (SELECT u, count(*) AS c FROM uni GROUP BY 1),
p AS (SELECT unnest([substr(u, i, 2) for i in generate_series(1, len(u) - 1)]) AS pair, c
      FROM wc WHERE len(u) >= 2)
SELECT pair, CAST(sum(c) AS BIGINT) AS count FROM p GROUP BY 1
ORDER BY count DESC, pair ASC LIMIT 50"""


def _q_tfidf_topk(spark, sf):
    """Per-document top-3 keywords by smooth tf-idf (ties broken by
    term asc) — cluster labeling / doc features."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["tfidf-topk", {"col": "text", "id": "doc_id", "k": 3}],
        spark=spark,
    ).df


_TFIDF_TOPK_ORACLE = f"""
WITH n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
w AS (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents),
tf AS (SELECT doc_id, t.term, count(*) AS tf
       FROM w, unnest(w) AS t(term) GROUP BY 1, 2),
dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
s AS (SELECT doc_id, term, tf, tf * (ln((1 + n.n) / (1 + dfq.df)) + 1) AS tfidf
      FROM tf JOIN dfq USING (term) CROSS JOIN n),
r AS (SELECT doc_id, term, tf, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
      FROM s)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, round(tfidf, 6) AS tfidf, rank
FROM r WHERE rank <= 3"""


def _q_lsh_join_verified(spark, sf):
    """Incremental dedup: MinHash band-bucket candidates between the
    corpus (odd doc ids) and a reference set (even ids) — a
    two-relation equi-join on (band, bucket), no self-pairs — with the
    exact shingle-Jaccard precision pass ({"verify": 0.3}):
    (doc_a, doc_b, jaccard >= 0.3). The %2 split is chosen so the
    testdata's planted near-dup pairs straddle it (non-empty at
    sf0.01, unlike a sparser split)."""
    return pipe(
        ["lsh-join",
         ["where", ["stream", _t(sf, "documents"), {"key": "doc_id"}],
          "doc_id % 2 <> 0"],
         ["where", ["stream", _t(sf, "documents"), {"key": "doc_id"}],
          "doc_id % 2 = 0"],
         {"verify": 0.3}],
        spark=spark,
    ).df


_LSH_JOIN_VERIFIED_ORACLE = _minhash_cte(with_long=True) + """,
ts AS (SELECT doc_id,
        list_distinct(list_transform(s,
            x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS t
       FROM sh),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM long a JOIN long b
         ON a.band = b.band AND a.bucket = b.bucket
         WHERE a.doc_id % 2 <> 0 AND b.doc_id % 2 = 0),
j AS (SELECT doc_a, doc_b,
        CAST(len(list_intersect(ta.t, tb.t)) AS DOUBLE) AS c,
        CAST(len(ta.t) AS DOUBLE) AS na, CAST(len(tb.t) AS DOUBLE) AS nb
      FROM cand JOIN ts ta ON cand.doc_a = ta.doc_id
                JOIN ts tb ON cand.doc_b = tb.doc_id)
SELECT doc_a, doc_b, round(c / (na + nb - c), 6) AS jaccard
FROM j WHERE round(c / (na + nb - c), 6) >= 0.3"""


def _q_cooccurrence(spark, sf):
    """Window-3 term co-occurrence counts (GloVe-style matrix), pairs
    stored sorted, hapax tail pruned at 5, top-100."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["cooccurrence", {"col": "text", "window": 3, "min_count": 5,
                          "top": 100}],
        spark=spark,
    ).df


_COOCCURRENCE_ORACLE = f"""
WITH w AS (SELECT {_WORDS_DUCK} AS w FROM documents),
p AS (SELECT unnest(flatten([[{{'w1': least(w[i], w[j]),
                               'w2': greatest(w[i], w[j])}}
                              for j in generate_series(i + 1, least(i + 3, len(w)))]
                             for i in generate_series(1, len(w) - 1)])) AS s
      FROM w WHERE len(w) >= 2)
SELECT s.w1 AS w1, s.w2 AS w2, CAST(count(*) AS BIGINT) AS count
FROM p GROUP BY 1, 2 HAVING count(*) >= 5
ORDER BY count DESC, w1 ASC, w2 ASC LIMIT 100"""


def _q_dist_shift(spark, sf):
    """Token-distribution Jensen-Shannon shift between the src0
    sub-corpus and the rest — the drift probe (r08 re-pin of
    dist_shift_sources to {"metric": "js"}: symmetric, bounded by
    ln 2, comparable across corpus pairs; the KL branch shares every
    plan stage except the final term expression and stays covered by
    tests/test_corpus.py)."""
    return pipe(
        ["dist-shift",
         ["where", ["stream", _t(sf, "documents"), {"key": "doc_id"}],
          "source = 'src0'"],
         ["where", ["stream", _t(sf, "documents"), {"key": "doc_id"}],
          "source <> 'src0'"],
         {"k": 0.5, "min_count": 5, "top": 100, "metric": "js"}],
        spark=spark,
    ).df


_DIST_SHIFT_ORACLE = f"""
WITH wa AS (SELECT unnest({_WORDS_DUCK}) AS token FROM documents
            WHERE source = 'src0'),
wb AS (SELECT unnest({_WORDS_DUCK}) AS token FROM documents
       WHERE source <> 'src0'),
ca AS (SELECT token, count(*) AS cnt_a FROM wa GROUP BY 1),
cb AS (SELECT token, count(*) AS cnt_b FROM wb GROUP BY 1),
j AS (SELECT coalesce(ca.token, cb.token) AS token,
             coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
      FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
t AS (SELECT CAST(sum(cnt_a) AS DOUBLE) AS ta,
             CAST(sum(cnt_b) AS DOUBLE) AS tb,
             CAST(count(*) AS DOUBLE) AS v FROM j),
p AS (SELECT token, cnt_a, cnt_b,
        (cnt_a + 0.5) / (t.ta + 0.5 * t.v) AS pa,
        (cnt_b + 0.5) / (t.tb + 0.5 * t.v) AS pb
      FROM j CROSS JOIN t
      WHERE cnt_a >= 5 OR cnt_b >= 5)
SELECT token, CAST(cnt_a AS BIGINT) AS cnt_a, CAST(cnt_b AS BIGINT) AS cnt_b,
       round(pa, 9) AS p_a, round(pb, 9) AS p_b,
       round((pa * ln(pa / ((pa + pb) / 2))
              + pb * ln(pb / ((pa + pb) / 2))) / 2, 9) AS js_term
FROM p
ORDER BY js_term DESC, token ASC LIMIT 100"""


def _q_classify(spark, sf):
    """Frozen linear hashed-bigram document classifier (fastText-style,
    Joulin et al. 2016) over documents — relational weights mode: a
    deterministic full-coverage weight table w(b) = ((b % 97) - 48)/100
    over the 512-bucket hashed unigram+bigram feature space, BROADCAST
    into one explode -> join -> per-doc agg pass; score = sigmoid(bias
    + mean pooled weight), label = score >= 0.5. Registered r16, funded
    by the filter_not_returns retirement (clause c — the complement pin
    in tests/test_stateless.py)."""
    from pyspark.sql import functions as F

    w = spark.range(512).select(
        F.col("id").alias("bucket"),
        (((F.col("id") % 97) - 48) / 100.0).alias("weight"))
    return pipe(
        ["classify",
         ["stream", _t(sf, "documents"), {"key": "doc_id"}],
         ["stream", w, {"key": "bucket"}],
         {"col": "text", "id": "doc_id", "buckets": 512, "n": 2,
          "bias": -0.1, "threshold": 0.5}],
        spark=spark).df


_CLASSIFY_ORACLE = f"""
WITH w AS (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents),
g AS (SELECT doc_id,
      w || CASE WHEN len(w) < 2 THEN [] ELSE
           [w[i] || ' ' || w[i+1] for i in generate_series(1, len(w) - 1)]
           END AS g
      FROM w),
e AS (SELECT doc_id,
      ('0x' || substr(md5(unnest(g)), 1, 15))::BIGINT % 512 AS b FROM g),
s AS (SELECT d.doc_id, count(e.b) AS n_feats,
      round(CASE WHEN count(e.b) > 0 THEN
        1 / (1 + exp(-(-0.1 + sum(((e.b % 97) - 48) / 100.0) / count(e.b))))
        END, 6) AS score
      FROM documents d LEFT JOIN e ON d.doc_id = e.doc_id
      GROUP BY d.doc_id)
SELECT doc_id, n_feats, score, CAST(score >= 0.5 AS INT) AS label FROM s"""


def _q_shuffle(spark, sf):
    """Seeded deterministic global shuffle: shard = 60-bit
    md5('42|' || doc_id) mod 8, pos = 1-based rank within the shard
    under the hash order — the training-data scatter whose permutation
    is a pure function of (seed, id) on any partitioning (the
    partition-invariance sweep covers it directly). Registered r16,
    funded by the outer_join_nations retirement (clause c — the
    null-extension pin in tests/test_joins.py)."""
    return pipe(
        ["shuffle", ["stream", _t(sf, "documents"), {"key": "doc_id"}],
         {"id": "doc_id", "seed": 42, "shards": 8}],
        ["select", {"doc_id": "doc_id", "lang": "lang",
                    "shard": "shard", "pos": "pos"}],
        spark=spark).df


_SHUFFLE_ORACLE = """
SELECT doc_id, lang,
  CAST(('0x' || substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       % 8 AS INT) AS shard,
  CAST(row_number() OVER (
    PARTITION BY ('0x' || substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8
    ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
FROM documents"""


def _q_dsir(spark, sf):
    """DSIR importance scores (Xie et al. 2023): every document scored
    by how target-like its hashed unigram+bigram distribution is, with
    the English sub-corpus as the target and the full corpus as raw —
    the data-selection ranking a pretraining pipeline feeds into
    top-k / Gumbel resampling. 8192 buckets, Laplace smoothing 1.0;
    dsir_score rounded to 6 (sum order is the gram array order in both
    engines — see the op docstring)."""
    return pipe(
        ["dsir",
         ["stream", _t(sf, "documents"), {"key": "doc_id"}],
         ["where", ["stream", _t(sf, "documents"), {"key": "doc_id"}],
          "lang = 'en'"],
         {"col": "text", "id": "doc_id", "buckets": 8192, "n": 2,
          "smoothing": 1.0}],
        ["select", {"doc_id": "doc_id", "n_feats": "n_feats",
                    "dsir_score": "round(dsir_score, 6)"}],
        spark=spark,
    ).df


_DSIR_ORACLE = f"""
WITH w AS (SELECT doc_id, lang, {_WORDS_DUCK} AS w FROM documents),
g AS (SELECT doc_id, lang,
      w || CASE WHEN len(w) < 2 THEN [] ELSE
           [w[i] || ' ' || w[i+1] for i in generate_series(1, len(w) - 1)]
           END AS g
      FROM w),
e AS (SELECT doc_id, lang,
      ('0x' || substr(md5(unnest(g)), 1, 15))::BIGINT % 8192 AS b FROM g),
cq AS (SELECT b, count(*) AS c FROM e GROUP BY 1),
cp AS (SELECT b, count(*) AS c FROM e WHERE lang = 'en' GROUP BY 1),
t AS (SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM cp) AS tp,
             (SELECT CAST(sum(c) AS DOUBLE) FROM cq) AS tq),
lam AS (SELECT cq.b,
        ln((coalesce(cp.c, 0) + 1.0) / (t.tp + 8192.0))
      - ln((cq.c + 1.0) / (t.tq + 8192.0)) AS lam
        FROM cq LEFT JOIN cp ON cq.b = cp.b CROSS JOIN t)
SELECT d.doc_id, count(e.b) AS n_feats,
       round(sum(lam.lam), 6) AS dsir_score
FROM documents d LEFT JOIN e ON d.doc_id = e.doc_id
     LEFT JOIN lam ON e.b = lam.b
GROUP BY 1"""


def _q_chunk(spark, sf):
    """200-char chunks with 50-char overlap (RAG/context chunker);
    pure per-row fan-out, no shuffle, tail chunks never pure overlap."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["chunk", {"col": "text", "size": 200, "overlap": 50}],
        spark=spark,
    ).df


_CHUNK_ORACLE = """
WITH c AS (SELECT doc_id, lang, source, n_chars,
  unnest([{'i': CAST((s - 1) // 150 + 1 AS INT), 'c': substr(text, s, 200)}
          for s in generate_series(1, greatest(len(text) - 50, 1), 150)]) AS u
  FROM documents WHERE len(text) > 0)
SELECT doc_id, lang, source, n_chars, u.i AS chunk_idx, u.c AS chunk FROM c"""


def _q_sentence_split(spark, sf):
    """Sentence segmentation (terminator+space heuristic, sentinel
    construction shared with the oracle); indexes survive the
    min-chars filter."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["sentence-split", {"col": "text", "min_chars": 1}],
        spark=spark,
    ).df


_SENTENCE_SPLIT_ORACLE = r"""
WITH p AS (SELECT doc_id, lang, source, n_chars,
   string_split(regexp_replace(text, '([.?!])\s+', '\1' || chr(30), 'g'),
                chr(30)) AS l
   FROM documents),
u AS (SELECT doc_id, lang, source, n_chars,
   unnest([{'i': CAST(i AS INT), 's': trim(l[i])}
           for i in generate_series(1, len(l))]) AS s
   FROM p)
SELECT doc_id, lang, source, n_chars, s.i AS sent_idx, s.s AS sentence
FROM u WHERE length(s.s) >= 1"""


# ---------------------------------------------------------------------------
# r07 additions: pivot / unpivot / corr / collect-ordered / rolling /
# vec-norm / vec-pool (+ a cube query for the existing op)


def _q_pivot_status(spark, sf):
    """Order totals pivoted to one column per order status (explicit
    category domain — no inference scan; multi-agg cells follow Spark's
    {value}_{agg} naming)."""
    return pipe(
        ["stream", _t(sf, "orders"), {"key": "o_orderkey"}],
        ["pivot", {"group": "o_orderpriority", "on": "o_orderstatus",
                   "values": ["O", "F", "P"],
                   "aggs": {"total": "sum(cast(round(o_totalprice * 100) as bigint))"
                                     " / cast(100 as double)",
                            "n": "count(1)"}}],
        spark=spark,
    ).df


_PIVOT_STATUS_ORACLE = """
SELECT o_orderpriority,
  SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END) / CAST(100 AS DOUBLE) AS "O_total",
  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O_n",
  SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END) / CAST(100 AS DOUBLE) AS "F_total",
  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F_n",
  SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END) / CAST(100 AS DOUBLE) AS "P_total",
  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P_n"
FROM orders GROUP BY o_orderpriority"""


def _q_unpivot_lineitem(spark, sf):
    """Lineitem measures melted to long form (Expand node — per-row, no
    shuffle); sampled by orderkey to keep the compare set small."""
    return pipe(
        ["stream", _t(sf, "lineitem"), {"key": ["l_orderkey", "l_linenumber"]}],
        ["where", "l_orderkey % 50 = 0"],
        ["unpivot", {"ids": ["l_orderkey", "l_linenumber"],
                     "cols": ["l_quantity", "l_discount", "l_tax"],
                     "var": "metric", "value": "val"}],
        spark=spark,
    ).df


_UNPIVOT_LINEITEM_ORACLE = """
WITH s AS (SELECT * FROM lineitem WHERE l_orderkey % 50 = 0)
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM s
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM s
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM s"""


def _q_corr_lineitem(spark, sf):
    """Pairwise Pearson correlations of the lineitem measures in one
    aggregation pass (long form via stack)."""
    return pipe(
        ["stream", _t(sf, "lineitem"), {"key": ["l_orderkey", "l_linenumber"]}],
        ["corr", {"cols": ["l_quantity", "l_extendedprice", "l_discount"],
                  "round": 6}],
        spark=spark,
    ).df


_CORR_LINEITEM_ORACLE = """
SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
       round(corr(l_quantity, l_extendedprice), 6) AS corr FROM lineitem
UNION ALL
SELECT 'l_quantity', 'l_discount', round(corr(l_quantity, l_discount), 6) FROM lineitem
UNION ALL
SELECT 'l_extendedprice', 'l_discount', round(corr(l_extendedprice, l_discount), 6) FROM lineitem"""


def _q_collect_user_events(spark, sf):
    """Per-user event-type sequence (first 10 by (ts, event_id)) — the
    training-record assembly shape; joined to one string for the
    engine-portable compare."""
    return pipe(
        ["stream", _t(sf, "events"), {"key": "user_id"}],
        ["collect-ordered", {"by": "user_id", "order": ["ts", "event_id"],
                             "col": "event_type", "as": "seq", "limit": 10}],
        ["select", {"user_id": "user_id", "seq_str": "concat_ws(' ', seq)",
                    "n_first": "size(seq)"}],
        spark=spark,
    ).df


_COLLECT_USER_EVENTS_ORACLE = """
SELECT user_id,
       array_to_string(list(event_type ORDER BY ts, event_id)[1:10], ' ') AS seq_str,
       least(COUNT(1), 10) AS n_first
FROM events GROUP BY user_id"""


def _q_rolling_user(spark, sf):
    """Per-user trailing-hour rolling sum/count over event time (RANGE
    frame at second granularity, the contract the oracle reproduces
    with epoch_us // 1e6)."""
    return pipe(
        ["stream", _t(sf, "events"), {"key": "user_id", "time": "ts"}],
        ["rolling", {"by": "user_id", "time": "ts", "range": 3600,
                     "aggs": {"roll_sum": "sum(value)", "roll_n": "count(1)"}}],
        ["select", {"event_id": "event_id", "user_id": "user_id",
                    "roll_sum": "round(roll_sum, 3)", "roll_n": "roll_n"}],
        spark=spark,
    ).df


_ROLLING_USER_ORACLE = """
SELECT event_id, user_id,
       round(SUM(value) OVER w, 3) AS roll_sum,
       COUNT(1) OVER w AS roll_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)"""


def _q_cube_revenue(spark, sf):
    """All grouping-set combinations of (status, priority) — the cube
    analog of rollup_revenue (penny-sum for engine-portable money)."""
    return pipe(
        ["stream", _t(sf, "orders"), {"key": "o_orderkey"}],
        ["cube", ["o_orderstatus", "o_orderpriority"],
         {"n": "count(1)",
          "revenue": "sum(cast(round(o_totalprice * 100) as bigint))"
                     " / cast(100 as double)"}],
        spark=spark,
    ).df


_CUBE_REVENUE_ORACLE = """
SELECT o_orderstatus, o_orderpriority, COUNT(1) AS n,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / CAST(100 AS DOUBLE) AS revenue
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"""


def _q_vec_norm(spark, sf):
    """L2 norms + first unit components (double math end to end; the
    dim-unrolled chain matches DuckDB list_dot_product bit-for-bit)."""
    return pipe(
        ["stream", _t(sf, "embeddings"), {"key": "vec_id"}],
        ["vec-norm", {"col": "embedding", "dim": 64}],
        ["select", {"vec_id": "vec_id", "norm": "round(norm, 6)",
                    "u0": "round(unit[0], 6)", "u1": "round(unit[1], 6)",
                    "u2": "round(unit[2], 6)", "u3": "round(unit[3], 6)"}],
        spark=spark,
    ).df


_VEC_NORM_ORACLE = """
WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM p)
SELECT vec_id, round(nm, 6) AS norm,
       round(v[1] / nm, 6) AS u0, round(v[2] / nm, 6) AS u1,
       round(v[3] / nm, 6) AS u2, round(v[4] / nm, 6) AS u3
FROM n"""


def _q_vec_pool(spark, sf):
    """Per-label mean embedding (element-wise pooling), exploded to
    scalar (label, pos, value) rows for the compare."""
    from pyspark.sql import functions as F

    rel = pipe(
        ["stream", _t(sf, "embeddings"), {"key": "vec_id"}],
        ["vec-pool", {"col": "embedding", "by": "label", "mode": "mean",
                      "as": "pooled"}],
        spark=spark,
    )
    return rel.df.select(
        "label", "n", F.posexplode("pooled").alias("pos", "v")
    ).select("label", "n", "pos", F.round("v", 6).alias("v"))


_VEC_POOL_ORACLE = """
WITH x AS (SELECT label, unnest(embedding::DOUBLE[]) AS val,
                  unnest(range(0, len(embedding))) AS pos
           FROM embeddings)
SELECT label, COUNT(1) AS n, pos, round(avg(val), 6) AS v
FROM x GROUP BY label, pos"""


def _q_dup_spans(spark, sf):
    """Exact-substring-dup statistics: per-doc fraction of 3-token spans
    that also occur in another document (the Lee-et-al. repeated-span
    gate; postings joins, linear in tokens, never pairwise)."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["dup-spans", {"col": "text", "id": "doc_id", "k": 3}],
        spark=spark,
    ).df


_DUP_SPANS_ORACLE = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t, text
             FROM documents WHERE text IS NOT NULL),
sh AS (SELECT doc_id,
       CASE WHEN len(t) < 3 THEN [text]
            ELSE [array_to_string(t[i:i+2], ' ')
                  for i in generate_series(1, len(t) - 2)] END AS s
       FROM tok),
g AS (SELECT doc_id, ('0x' || substr(md5(x), 1, 15))::BIGINT AS gram
      FROM (SELECT doc_id, unnest(s) AS x FROM sh)),
pdg AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
gd AS (SELECT gram FROM pdg GROUP BY gram HAVING count(*) >= 2),
tot AS (SELECT doc_id, sum(cnt) AS n FROM pdg GROUP BY doc_id),
dup AS (SELECT p.doc_id, sum(p.cnt) AS d
        FROM pdg p JOIN gd USING (gram) GROUP BY p.doc_id)
SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_spans,
       CAST(coalesce(d.d, 0) AS BIGINT) AS dup_spans,
       round(coalesce(d.d, 0)::DOUBLE / t.n, 6) AS dup_fraction
FROM tot t LEFT JOIN dup d ON t.doc_id = d.doc_id"""


# ---------------------------------------------------------------------------
# r08 additions: oracle rows for the operators that were tests-only after
# r07 (freq-items, profile, persist, intersect, except, vec-project,
# winnow-pairs) — see the retirement-policy note at the registry head.


def _q_freq_items(spark, sf):
    """freq-items heavy hitters over o_orderpriority, exploded to rows.

    Oracle determinism: with support 0.01 the sketch holds 1/support =
    100 counters per partition while the column has 5 distinct values,
    so the KPS map never overflows/decrements and retains EVERY distinct
    value exactly — the sketch path runs, and its output equals SELECT
    DISTINCT. (Thresholded pruning is partition-order-dependent and
    deliberately not oracled; the no-false-negative contract is pinned
    by tests/test_extensions.py.)"""
    return pipe(
        ["stream", _t(sf, "orders"), {"key": "o_orderkey"}],
        ["freq-items", {"cols": ["o_orderpriority"], "support": 0.01}],
        ["select", {"priority": "explode(o_orderpriority_freqItems)"}],
        spark=spark,
    ).df


_FREQ_ITEMS_ORACLE = """
SELECT DISTINCT o_orderpriority AS priority FROM orders"""


def _q_profile_persist(spark, sf):
    """persist (bounded pin registry) feeding profile — the QA summary
    read off the pinned relation. The driver row hash-checks the EXACT
    stats (count/min/max: order-insensitive, engine-exact string
    formatting verified); mean/stddev/percentiles are merge-order-
    dependent floats and are covered by tests instead."""
    return pipe(
        ["stream", _t(sf, "lineitem"), {"key": ["l_orderkey", "l_linenumber"]}],
        ["persist"],
        ["profile", {"cols": ["l_quantity", "l_extendedprice", "l_discount"]}],
        ["where", "summary in ('count', 'min', 'max')"],
        spark=spark,
    ).df


_PROFILE_PERSIST_ORACLE = """
SELECT 'count' AS summary, count(l_quantity)::VARCHAR AS l_quantity,
       count(l_extendedprice)::VARCHAR AS l_extendedprice,
       count(l_discount)::VARCHAR AS l_discount FROM lineitem
UNION ALL
SELECT 'min', min(l_quantity)::VARCHAR, min(l_extendedprice)::VARCHAR,
       min(l_discount)::VARCHAR FROM lineitem
UNION ALL
SELECT 'max', max(l_quantity)::VARCHAR, max(l_extendedprice)::VARCHAR,
       max(l_discount)::VARCHAR FROM lineitem"""


def _q_intersect_except(spark, sf):
    """(BUILDING-segment customers ∩ customers with orders) \\ customers
    with a > 350k order — both whole-row set operators in one plan,
    each one hash shuffle (the distinct cost shape). The 350k cut keeps
    the result non-empty at sf0.001 AND sf0.01 (an order-status cut is
    degenerate at sf0.001: every ordering BUILDING customer has one)."""
    bld = ["select",
           ["where", ["stream", _t(sf, "customer"), {"key": "c_custkey"}],
            "c_mktsegment = 'BUILDING'"],
           {"custkey": "c_custkey"}]
    ordered = ["select", ["stream", _t(sf, "orders"), {"key": "o_custkey"}],
               {"custkey": "o_custkey"}]
    big = ["select",
           ["where", ["stream", _t(sf, "orders"), {"key": "o_custkey"}],
            "o_totalprice > 350000"],
           {"custkey": "o_custkey"}]
    return pipe(
        ["except", ["intersect", bld, ordered], big],
        spark=spark,
    ).df


_INTERSECT_EXCEPT_ORACLE = """
(SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
 INTERSECT SELECT o_custkey FROM orders)
EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 350000"""


def _q_vec_project(spark, sf):
    """Seeded JL sign projection 64 -> 4 dims, components as columns.

    BIT-EXACT oracle, no rounding: the oracle unrolls the identical
    left-associated sum with the identical md5-derived ±1 literals, and
    1/sqrt(4) = 0.5 is exact binary — verified 0/500 ULP mismatches."""
    return pipe(
        ["stream", _t(sf, "embeddings"), {"key": "vec_id"}],
        ["vec-project", {"col": "embedding", "dim": 64, "k": 4,
                         "seed": 7, "as": "proj"}],
        ["select", {"vec_id": "vec_id", "p0": "proj[0]", "p1": "proj[1]",
                    "p2": "proj[2]", "p3": "proj[3]"}],
        spark=spark,
    ).df


def _vec_project_oracle(dim: int = 64, k: int = 4, seed: int = 7) -> str:
    """DuckDB replica of operators/similarity.py op_vec_project: same
    md5(seed:j:i) sign derivation, same left-associated chain, same
    exact 0.5 scale — generated, like _simhash_cte()."""
    import hashlib

    def sign(j: int, i: int) -> float:
        h = hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()
        return 1.0 if int(h[0], 16) < 8 else -1.0

    scale = repr(1.0 / (k ** 0.5))
    comps = []
    for j in range(k):
        e = f"(v[1] * {sign(j, 0)})"
        for i in range(1, dim):
            e = f"({e} + v[{i + 1}] * {sign(j, i)})"
        comps.append(f"({e}) * {scale} AS p{j}")
    return (
        "WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)\n"
        "SELECT vec_id, " + ", ".join(comps) + " FROM p"
    )


def _q_substring_dedup(spark, sf):
    """The substring-dedup flagship composition end-to-end (the winnow
    analog of corpus_prep's MinHash path): winnow fingerprints ->
    winnow-pairs (shared-fp candidates, >= 2 shared, boilerplate cap) ->
    contraction CC -> min-id survivor per cluster -> left_anti drop.
    max_fp_docs=1000 is inert at oracle SF (500 docs) and guards the
    quadratic fan-out at scale."""
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["near-dedup", {"col": "text", "id": "doc_id", "method": "winnow",
                        "k": 3, "window": 4, "min_shared": 2,
                        "max_fp_docs": 1000}],
        ["select", {"doc_id": "doc_id", "lang": "lang", "source": "source",
                    "n_chars": "n_chars"}],
        spark=spark,
    ).df


# the tok/sh/h/w CTEs are the winnow fingerprint construction (they were
# the retired winnow_fingerprints row's oracle verbatim — this row is now
# the registry's winnow AND dup-clusters evidence: op_dup_clusters runs
# inside near-dedup here); pairs/clusters are a recursive-CTE transitive
# closure (exact at 500 docs)
_SUBSTRING_DEDUP_ORACLE = """
WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS t, text
             FROM documents WHERE text IS NOT NULL),
sh AS (SELECT doc_id,
       CASE WHEN len(t) < 3 THEN [text]
            ELSE [array_to_string(t[i:i+2], ' ')
                  for i in generate_series(1, len(t) - 2)] END AS s
       FROM tok),
h AS (SELECT doc_id, list_transform(s,
        x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hh FROM sh),
w AS (SELECT doc_id,
      list_distinct([list_min(hh[j:j+3])
                     for j in generate_series(1, greatest(len(hh) - 3, 1))])
        AS fps FROM h),
post AS (SELECT doc_id, unnest(fps) AS fp FROM w),
pairs AS (SELECT a.doc_id AS da, b.doc_id AS db
          FROM post a JOIN post b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 2),
edges AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node),
clus AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node),
losers AS (SELECT node FROM clus WHERE node <> cluster)
SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
LEFT JOIN losers l ON d.doc_id = l.node WHERE l.node IS NULL"""


# ---------------------------------------------------------------------------
# r09 additions: gopher-filter (then the last registered op without an
# oracled row) and the transform-with-state batch shim (the stateful
# escape hatch's first oracled execution; eval.clj:310-323 is the
# reference surface it backs).


def _q_gopher_filter(spark, sf):
    """Gopher quality rules (Rae et al. 2021, App. A) annotated per doc.

    Thresholds are tuned to the synthetic corpus so the oracle exercises
    both outcomes of every data-sensitive rule (word-count min 50 splits
    the 10-99-word docs; mean-word-len min 4.5 splits the 3.7-5.3 range;
    min_stopwords 1 splits on 'the'-containing docs). Pure per-row
    expressions — shuffle-free at any scale."""
    rules = ["rule_word_count", "rule_mean_word_len", "rule_symbol_ratio",
             "rule_bullet_lines", "rule_ellipsis_lines", "rule_alpha_words",
             "rule_stopwords", "gopher_pass"]
    return pipe(
        ["stream", _t(sf, "documents"), {"key": "doc_id"}],
        ["gopher-filter", {"col": "text",
                           "thresholds": {"min_mean_word_len": 4.5,
                                          "min_stopwords": 1}}],
        ["select", {"doc_id": "doc_id", **{r: r for r in rules}}],
        spark=spark,
    ).df


_GOPHER_FILTER_ORACLE = r"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks,
         list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lines
  FROM documents),
m AS (
  SELECT doc_id, text, len(toks) AS nw, len(lines) AS nl,
         CASE WHEN len(toks) > 0
              THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
         END AS mean_wlen,
         length(text) - length(replace(text, '#', '')) AS hashes,
         CAST(floor((length(text) - length(replace(text, '...', ''))) / 3) AS BIGINT)
           + (length(text) - length(replace(text, '…', ''))) AS ellipses,
         len(list_filter(lines, x -> regexp_matches(x, '^\s*[-*•]'))) AS n_bullet,
         len(list_filter(lines, x -> regexp_matches(x, '(\.\.\.|…)\s*$'))) AS n_ell,
         len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
         len(list_filter(['the','be','to','of','and','that','have','with'],
             sw -> list_contains(list_transform(toks, x -> lower(x)), sw))) AS n_stop
  FROM t),
r AS (
  SELECT doc_id,
    COALESCE(nw >= 50 AND nw <= 100000, FALSE) AS rule_word_count,
    COALESCE(mean_wlen >= 4.5 AND mean_wlen <= 10.0, FALSE) AS rule_mean_word_len,
    COALESCE(CASE WHEN nw > 0 THEN (hashes + ellipses)::DOUBLE / nw <= 0.1 END,
             FALSE) AS rule_symbol_ratio,
    COALESCE(text IS NOT NULL AND
             COALESCE(CASE WHEN nl > 0 THEN n_bullet::DOUBLE / nl END, 0.0) <= 0.9,
             FALSE) AS rule_bullet_lines,
    COALESCE(text IS NOT NULL AND
             COALESCE(CASE WHEN nl > 0 THEN n_ell::DOUBLE / nl END, 0.0) <= 0.3,
             FALSE) AS rule_ellipsis_lines,
    COALESCE(CASE WHEN nw > 0 THEN n_alpha::DOUBLE / nw END >= 0.8,
             FALSE) AS rule_alpha_words,
    COALESCE(n_stop >= 1, FALSE) AS rule_stopwords
  FROM m)
SELECT doc_id, rule_word_count, rule_mean_word_len, rule_symbol_ratio,
       rule_bullet_lines, rule_ellipsis_lines, rule_alpha_words, rule_stopwords,
       (rule_word_count AND rule_mean_word_len AND rule_symbol_ratio
        AND rule_bullet_lines AND rule_ellipsis_lines AND rule_alpha_words
        AND rule_stopwords) AS gopher_pass
FROM r"""


def _q_transform_with_state(spark, sf):
    """transform-with-state (Spark 4 StatefulProcessor) executing the
    protobuf-free batch shim: a per-user fold over events exercising all
    three typed state kinds (value state for the running count and ts
    bounds, list state for the cents ledger, map state for distinct
    event types). Deterministic: every output is order-independent.

    Hash stability: cents are floor(value*100 + 0.5) per row (identical
    IEEE double ops in pandas and DuckDB); timestamps fold as epoch
    seconds computed Spark-side (unix_timestamp == epoch_us // 1e6 for
    positive epochs). One shuffle on user_id — the same exchange the
    native transformWithStateInPandas path plans."""
    from pyspark.sql.streaming import StatefulProcessor

    class UserFold(StatefulProcessor):
        def init(self, handle):
            self.n = handle.getValueState("n", "n bigint")
            self.bounds = handle.getValueState("bounds", "lo bigint, hi bigint")
            self.cents = handle.getListState("cents", "c bigint")
            self.types = handle.getMapState("types", "t string", "c bigint")

        def handleInputRows(self, key, rows, timer_values):
            import numpy as np
            import pandas as pd

            for pdf in rows:
                prev = self.n.get()[0] if self.n.exists() else 0
                self.n.update((prev + len(pdf),))
                lo = int(pdf["ts_s"].min())
                hi = int(pdf["ts_s"].max())
                if self.bounds.exists():
                    b = self.bounds.get()
                    lo, hi = min(lo, b[0]), max(hi, b[1])
                self.bounds.update((lo, hi))
                # SQL NULL semantics, same as the oracle's aggregates
                # (found by the r15 NULL-injection sweep): SUM skips
                # NULL values and COUNT(DISTINCT) skips NULL keys. The
                # unguarded astype("int64") turned a NaN cent into
                # INT64_MIN garbage (silent-wrong) whose ledger sum then
                # overflowed int64 and aborted opaquely in Arrow.
                vals = pdf["value"].to_numpy()
                vals = vals[~np.isnan(vals)]
                self.cents.appendList(
                    [(int(c),) for c in
                     np.floor(vals * 100.0 + 0.5).astype("int64")])
                for t in pdf["event_type"]:
                    if t is None or (isinstance(t, float) and t != t):
                        continue
                    seen = self.types.getValue((t,)) if self.types.containsKey((t,)) else (0,)
                    self.types.updateValue((t,), (seen[0] + 1,))
            b = self.bounds.get()
            # SQL SUM over an all-NULL group is NULL, not 0 — emit a
            # typed NULL when the cents ledger is empty so a user whose
            # every value was NULL matches the oracle's SUM (the latent
            # gate mismatch ADVICE r15 flagged: Python sum([]) == 0).
            ledger = [c[0] for c in self.cents.get()]
            yield pd.DataFrame({
                "user_id": [key[0]],
                "n_events": [self.n.get()[0]],
                "total_cents": pd.array(
                    [sum(ledger) if ledger else None], dtype="Int64"),
                "n_types": [len(list(self.types.keys()))],
                "first_s": [b[0]], "last_s": [b[1]],
            })

        def close(self):
            pass

    return pipe(
        ["stream", _t(sf, "events"), {"key": "user_id"}],
        ["select", {"user_id": "user_id", "event_type": "event_type",
                    "value": "value",
                    "ts_s": "cast(unix_timestamp(ts) as bigint)"}],
        ["transform-with-state", UserFold(),
         {"key": ["user_id"],
          "schema": ("user_id long, n_events bigint, total_cents bigint, "
                     "n_types bigint, first_s bigint, last_s bigint")}],
        spark=spark,
    ).df


_TRANSFORM_WITH_STATE_ORACLE = """
SELECT user_id,
       COUNT(1) AS n_events,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
       COUNT(DISTINCT event_type) AS n_types,
       MIN(epoch_us(ts) // 1000000) AS first_s,
       MAX(epoch_us(ts) // 1000000) AS last_s
FROM events GROUP BY user_id"""


def _q_transform_with_state_ttl(spark, sf):
    """Second transform-with-state exemplar (r16, the protobuf-seam
    fallback of VERDICT r15 #5): driver evidence for the StatefulProcessor
    handle surface the fold row doesn't touch —

    - TTL-accepting state registration (``ttlDurationMs`` — the NATIVE
      PySpark StatefulProcessorHandle spelling — on value and map state;
      in batch the state lifetime is one group, so any TTL is trivially
      satisfied. Caveat (ADVICE r16): native Spark REJECTS TTL configs
      under timeMode 'none', so on a protobuf-equipped native path this
      registration surface is exercisable only under processing-time
      mode; the shim accepts it as the batch-lifecycle stand-in),
    - ``deleteIfExists`` mid-group,
    - the timeMode-'none' timer contract asserted INSIDE the processor
      (``listTimers`` empty, ``deleteTimer`` a no-op,
      ``getCurrentProcessingTimeInMs() == -1``) — a contract break fails
      the row, not just a unit test,
    - MULTI-ROW emission per key (one row per (user, event_type))
      through the shim's chunk-concat path.

    SQL NULL semantics throughout (the r15 fold fix): NULL event_type
    GROUPS (SQL GROUP BY keeps a NULL group), NULL cents are skipped by
    the sum and an all-NULL group sums to NULL. Deterministic: output is
    a per-(user, type) aggregate, order-independent."""
    from pyspark.sql.streaming import StatefulProcessor

    class PerType(StatefulProcessor):
        def init(self, handle):
            self.per_type = handle.getMapState(
                "per_type", "t string", "n bigint", ttlDurationMs=60_000)
            self.cents = handle.getMapState(
                "cents", "t string", "s bigint", ttlDurationMs=60_000)
            self.scratch = handle.getValueState(
                "scratch", "x bigint", ttlDurationMs=1)
            self._handle = handle

        def handleInputRows(self, key, rows, timer_values):
            import numpy as np
            import pandas as pd

            # timeMode-'none' timer contract (native batch rejects
            # timer registration the same way the shim does)
            assert list(self._handle.listTimers()) == []
            self._handle.deleteTimer(0)  # no-op, must not raise
            assert timer_values.getCurrentProcessingTimeInMs() == -1
            self.scratch.update((1,))
            for pdf in rows:
                vals = pdf["value"].to_numpy()
                for t, v in zip(pdf["event_type"], vals):
                    tk = (None,) if (t is None or (isinstance(t, float) and t != t)) else (t,)
                    n = self.per_type.getValue(tk)[0] if self.per_type.containsKey(tk) else 0
                    self.per_type.updateValue(tk, (n + 1,))
                    if not np.isnan(v):
                        c = int(np.floor(v * 100.0 + 0.5))
                        prev = self.cents.getValue(tk) if self.cents.containsKey(tk) else None
                        self.cents.updateValue(tk, ((prev[0] if prev else 0) + c,))
            self._handle.deleteIfExists("scratch")
            out = []
            for tk in self.per_type.keys():
                cents = (self.cents.getValue(tk)[0]
                         if self.cents.containsKey(tk) else None)
                out.append((key[0], tk[0], self.per_type.getValue(tk)[0], cents))
            yield pd.DataFrame({
                "user_id": [r[0] for r in out],
                "event_type": [r[1] for r in out],
                "n": [r[2] for r in out],
                "total_cents": pd.array([r[3] for r in out], dtype="Int64"),
            })

        def close(self):
            pass

    return pipe(
        ["stream", _t(sf, "events"), {"key": "user_id"}],
        ["select", {"user_id": "user_id", "event_type": "event_type",
                    "value": "value"}],
        ["transform-with-state", PerType(),
         {"key": ["user_id"],
          "schema": ("user_id long, event_type string, n bigint, "
                     "total_cents bigint")}],
        spark=spark,
    ).df


_TRANSFORM_WITH_STATE_TTL_ORACLE = """
SELECT user_id, event_type, COUNT(1) AS n,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events GROUP BY user_id, event_type"""


def _q_bpe_train_encode(spark, sf):
    """Composed tokenizer-training row: bpe-train a merge table on the
    documents corpus, bpe-encode the same corpus under it. r12 upgrade
    (was rows-only): hash-exact PARTIAL oracle via the round-trip
    invariant (tests/test_properties.py) — concatenating a doc's BPE
    tokens and replacing the '</w>' end-of-word markers with spaces
    reconstructs exactly the pre-tokenized word sequence, which DuckDB
    computes directly from text — so any encode bug corrupting token
    CONTENT or word BOUNDARIES fails rows+schema+hash. The merge-table
    values themselves (token split points within words) stay pinned by
    the merge-for-merge naive-reference parity test and the
    perrow==distinct impl-parity test."""
    docs = ["stream", _t(sf, "documents"), {"key": "doc_id"}]
    return pipe(
        ["bpe-encode", docs,
         ["bpe-train", docs, {"col": "text", "merges": 60, "min_freq": 2,
                              "min_pair_freq": 2}],
         {"col": "text"}],
        ["select", {"doc_id": "doc_id",
                    "rejoined": "case when bpe_tokens is null then null "
                                "else rtrim(replace(concat_ws('', bpe_tokens),"
                                " '</w>', ' ')) end"}],
        spark=spark,
    ).df


_BPE_TRAIN_ENCODE_ORACLE = """
SELECT doc_id,
       array_to_string(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                   x -> x <> ''), ' ') AS rejoined
FROM documents"""


# ---------------------------------------------------------------------------

# The query registry: name -> (query function, DuckDB oracle SQL). Every
# row has an oracle, compared hash-exactly by scripts/check_oracle.py.
# Entry order is historical and kept stable. Queries retired from the
# registry keep their coverage through another row that runs the same
# construction or through a dedicated test (see the "Retirement pin"
# tests).

_QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], Optional[str]]] = {
    "ann_lsh_banded": (_q_ann_lsh_banded, _ANN_LSH_BANDED_ORACLE),
    "neardup_banded": (_q_neardup_banded, _NEARDUP_BANDED_ORACLE),
    "freq_items_priority": (_q_freq_items, _FREQ_ITEMS_ORACLE),
    "profile_persist_lineitem": (_q_profile_persist, _PROFILE_PERSIST_ORACLE),
    "intersect_except_custkeys": (_q_intersect_except, _INTERSECT_EXCEPT_ORACLE),
    "vec_project_embeddings": (_q_vec_project, _vec_project_oracle()),
    "substring_dedup_prep": (_q_substring_dedup, _SUBSTRING_DEDUP_ORACLE),
    "asof_join_tolerance": (_q_asof_join, _ASOF_JOIN_ORACLE),
    "histogram_log_chars": (_q_histogram, _HISTOGRAM_ORACLE),
    "lm_ppl_kn": (_q_lm_kn, _LM_KN_ORACLE),
    "pmi_collocations": (_q_pmi, _PMI_ORACLE),
    "bpe_pair_counts": (_q_bpe_pairs, _BPE_PAIRS_ORACLE),
    "tfidf_topk_terms": (_q_tfidf_topk, _TFIDF_TOPK_ORACLE),
    "cooccurrence_window": (_q_cooccurrence, _COOCCURRENCE_ORACLE),
    "chunk_overlap": (_q_chunk, _CHUNK_ORACLE),
    "sentence_split": (_q_sentence_split, _SENTENCE_SPLIT_ORACLE),
    "lsh_join_verified": (_q_lsh_join_verified, _LSH_JOIN_VERIFIED_ORACLE),
    "dist_shift_js": (_q_dist_shift, _DIST_SHIFT_ORACLE),
    "lm_ppl_frozen": (_q_lm_frozen, _LM_FROZEN_ORACLE),
    "containment_pairs": (_q_containment_pairs, _CONTAINMENT_ORACLE),
    "bm25_scores": (_q_bm25, _BM25_ORACLE),
    "quantile_summary": (_q_quantile_summary, _QUANTILE_ORACLE),
    "doc_entropy": (_q_entropy, _ENTROPY_ORACLE),
    "mix_sources": (_q_mix_sources, _MIX_ORACLE),
    "sessionize_events": (_q_sessionize, _SESSIONIZE_ORACLE),
    "hash_split": (_q_hash_split, _HASH_SPLIT_ORACLE),
    "cap_per_group": (_q_cap_per_group, _CAP_PER_GROUP_ORACLE),
    "q1_pricing_summary": (_q_q1, _Q1_ORACLE),
    "q5_local_supplier_revenue": (_q_q5, _Q5_ORACLE),
    "wordcount": (_q_wordcount, _WORDCOUNT_ORACLE),
    "filter_highqty": (_q_filter, _FILTER_ORACLE),
    "classify_quality": (_q_classify, _CLASSIFY_ORACLE),
    "map_values_net": (_q_map_values, _MAP_VALUES_ORACLE),
    "select_key_count": (_q_select_key, _SELECT_KEY_ORACLE),
    "flat_map_pairs": (_q_flat_map, _FLAT_MAP_ORACLE),
    "branch_orders": (_q_branch, _BRANCH_ORACLE),
    "merge_event_types": (_q_merge, _MERGE_ORACLE),
    "table_latest_event": (_q_table_latest, _TABLE_LATEST_ORACLE),
    "table_regroup": (_q_table_regroup, _TABLE_REGROUP_ORACLE),
    "reduce_sum_by_user": (_q_reduce, _REDUCE_ORACLE),
    "aggregate_orders": (_q_aggregate, _AGGREGATE_ORACLE),
    "windowed_count": (_q_windowed_count, _WINDOWED_COUNT_ORACLE),
    "transform_with_state_ttl": (_q_transform_with_state_ttl, _TRANSFORM_WITH_STATE_TTL_ORACLE),
    "session_count": (_q_session_count, _SESSION_COUNT_ORACLE),
    "anomaly_detection": (_q_anomaly, _ANOMALY_ORACLE),
    "join_stream_table": (_q_join_stream_table, _JOIN_STREAM_TABLE_ORACLE),
    "left_join_counts": (_q_left_join, _LEFT_JOIN_ORACLE),
    "shuffle_shards": (_q_shuffle, _SHUFFLE_ORACLE),
    "join_global_nation": (_q_join_global, _JOIN_GLOBAL_ORACLE),
    "semi_join_customers": (_q_semi_join, _SEMI_JOIN_ORACLE),
    "bpe_train_encode": (_q_bpe_train_encode, _BPE_TRAIN_ENCODE_ORACLE),
    "gopher_filter": (_q_gopher_filter, _GOPHER_FILTER_ORACLE),
    "transform_with_state_fold": (_q_transform_with_state, _TRANSFORM_WITH_STATE_ORACLE),
    "semdedup_embeddings": (_q_semdedup, _SEMDEDUP_ORACLE),
    "semdedup_join": (_q_semdedup_join, _SEMDEDUP_JOIN_ORACLE),
    "dsir_scores": (_q_dsir, _DSIR_ORACLE),
    "dup_spans": (_q_dup_spans, _DUP_SPANS_ORACLE),
    "pivot_status_price": (_q_pivot_status, _PIVOT_STATUS_ORACLE),
    "unpivot_lineitem": (_q_unpivot_lineitem, _UNPIVOT_LINEITEM_ORACLE),
    "corr_lineitem": (_q_corr_lineitem, _CORR_LINEITEM_ORACLE),
    "collect_user_events": (_q_collect_user_events, _COLLECT_USER_EVENTS_ORACLE),
    "rolling_user_hour": (_q_rolling_user, _ROLLING_USER_ORACLE),
    "cube_revenue": (_q_cube_revenue, _CUBE_REVENUE_ORACLE),
    "vec_norm_units": (_q_vec_norm, _VEC_NORM_ORACLE),
    "vec_pool_label_mean": (_q_vec_pool, _VEC_POOL_ORACLE),
    "interval_join_click_error": (_q_interval_join, _INTERVAL_JOIN_ORACLE),
    "rollup_revenue": (_q_rollup, _ROLLUP_ORACLE),
    "window_rank_orders": (_q_window_rank, _WINDOW_RANK_ORACLE),
    "exact_distinct_users": (_q_exact_distinct_users, _EXACT_DISTINCT_ORACLE),
    "approx_distinct_users": (_q_approx_distinct_users, _APPROX_DISTINCT_ORACLE),
    "dedup_first_event": (_q_dedup_first, _DEDUP_FIRST_ORACLE),
    "distinct_flags": (_q_distinct, _DISTINCT_ORACLE),
    "topn_orders": (_q_topn, _TOPN_ORACLE),
    "sql_revenue_by_nation": (_q_sql, _SQL_ORACLE),
    "json_props_agg": (_q_json_props, _JSON_PROPS_ORACLE),
    "token_counts": (_q_token_counts, _TOKEN_COUNTS_ORACLE),
    "lang_id": (_q_lang_id, _lang_id_oracle()),
    "quality_scores": (_q_quality, _quality_oracle()),
    "doc_fingerprint": (_q_fingerprint, _FINGERPRINT_ORACLE),
    "lsh_candidates": (_q_lsh_candidates, _LSH_CANDIDATES_ORACLE),
    "jaccard_pairs": (_q_jaccard_pairs, _JACCARD_PAIRS_ORACLE),
    "decontaminate": (_q_decontaminate, _DECONTAMINATE_ORACLE),
    "pack_chunks": (_q_pack_chunks, _PACK_CHUNKS_ORACLE),
    "dedup_paragraphs": (_q_dedup_paragraphs, _DEDUP_PARAGRAPHS_ORACLE),
    "expect_contract": (_q_expect, _EXPECT_ORACLE),
    "simhash_pairs": (_q_simhash_pairs, _SIMHASH_PAIRS_ORACLE),
    "ann_topk": (_q_ann_topk, _ANN_TOPK_ORACLE),
    "ann_lsh_topk": (_q_ann_lsh, _ANN_LSH_ORACLE),
    "ann_ivf_topk": (_q_ann_ivf, _ANN_IVF_ORACLE),
    "neardup_embeddings": (_q_neardup_emb, _NEARDUP_EMB_ORACLE),
    "multimodal_features": (_q_multimodal, _MULTIMODAL_ORACLE),
    "media_meta": (_q_media_meta, _MEDIA_META_ORACLE),
    "corpus_prep": (_q_corpus_prep, _CORPUS_PREP_ORACLE),
    "frame_sample": (_q_frame_sample, _FRAME_SAMPLE_ORACLE),
    "repetition_scores": (_q_repetition, _REPETITION_ORACLE),
    "top_bigrams": (_q_top_bigrams, _TOP_BIGRAMS_ORACLE),
    "sample_hash_stratified": (_q_sample_hash, _SAMPLE_HASH_ORACLE),
    "vec_quantize": (_q_vec_quantize, _VEC_QUANTIZE_ORACLE),
    "kmeans_centroids": (_q_kmeans_centroids, _KMEANS_CENTROIDS_ORACLE),
    "scrub_text": (_q_scrub, _SCRUB_ORACLE),
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    return _q_q1(_tune(spark), "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def tuned(fn):
        return lambda spark, sf_dir: fn(_tune(spark), sf_dir)

    return {name: tuned(fn) for name, (fn, _) in _QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _QUERIES.items() if sql is not None}
