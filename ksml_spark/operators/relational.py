"""Relational DSL extensions (SURVEY.md §2.6 note + §2.10).

The reference has no SQL frontend or scalar-function library — lambdas use
whatever the host language provides (eval.clj:239-339). Our engine exposes
Spark's full built-in catalog through expression strings, which strictly
supersedes that surface. These ops make the DSL usable for wide relational
tables (the driver's TPC-H-ish star schema) without leaving the
data-as-query model:

    ["select", rel, {"out": "expr", ...}]        projection
    ["where",  rel, "sql-bool"]                  filter sugar
    ["agg",    grouped_or_rel, {"out": "agg-expr", ...}]
    ["order-by", rel, "a", "-b"]                 sort ("-" = desc)
    ["limit",  rel, n]
    ["distinct", rel, cols?]
    ["sql", "select ..."]                        full SQL escape hatch
    ["with-column", rel, name, "expr"]

Everything is a thin veneer over DataFrame builders — fully
Catalyst-optimizable, zero Python in the row path.
"""

from __future__ import annotations

import re
from typing import Optional, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..errors import ArityError
from ..eval import Ctx, defop
from ..exprs import to_col
from ..model import GroupedRel, KStreamRel, KTableRel, Rel
from .util import (
    STORAGE_REMOVED, float_opt, int_opt, opts_of, refuse_removed_opt,
)


def _as_rel(x) -> Rel:
    if isinstance(x, Rel):
        return x
    raise ArityError(f"expected a stream/table, got {type(x).__name__}")


@defop("select")
def op_select(ctx: Ctx, rel: Rel, cols: Union[dict, list]) -> Rel:
    """Projection. dict {name: expr} or list of column names/exprs."""
    rel = _as_rel(rel)
    if isinstance(cols, str):
        cols = [cols]
    if not isinstance(cols, (dict, list, tuple)):
        raise ArityError(
            f"select takes {{name: expr}} or a column list, got {cols!r}"
        )
    if isinstance(cols, dict):
        exprs = [to_col(v).alias(k) for k, v in cols.items()]
        names = list(cols)
    else:
        exprs = [to_col(c) for c in cols]
        names = [c for c in cols if isinstance(c, str)]
    df = rel.df.select(*exprs)
    keys = tuple(k for k in rel.key_cols if k in df.columns)
    t = rel.time_col if rel.time_col in df.columns else None
    return rel.with_df(df, key_cols=keys, time_col=t)


@defop("where")
def op_where(ctx: Ctx, rel: Rel, cond) -> Rel:
    """Filter sugar: SQL boolean expression over the rel's columns."""
    rel = _as_rel(rel)
    return rel.with_df(rel.df.filter(to_col(cond)))


@defop("with-column")
def op_with_column(ctx: Ctx, rel: Rel, name: str, expr) -> Rel:
    rel = _as_rel(rel)
    return rel.with_df(rel.df.withColumn(name, to_col(expr)))


@defop("agg")
def op_agg(ctx: Ctx, g, aggs: dict) -> KTableRel:
    """Aggregate a GroupedRel (or whole Rel = global agg) with named SQL
    aggregate expressions. Hash agg with map-side partials."""
    if not isinstance(aggs, dict) or not aggs:
        raise ArityError("agg needs a non-empty {name: aggregate-expr} dict")
    exprs = [to_col(v).alias(k) for k, v in aggs.items()]
    if isinstance(g, GroupedRel):
        gcols = g.grouping_cols()
        agged = g.df.groupBy(*gcols).agg(*exprs)
        from .grouping import _finish

        return _finish(g, agged)
    rel = _as_rel(g)
    return KTableRel(rel.df.agg(*exprs), key_cols=())


@defop("order-by")
def op_order_by(ctx: Ctx, rel: Rel, *cols) -> Rel:
    """Total sort — a range shuffle; at 100 TB use only as the final
    presentation step after aggregation has shrunk the data."""
    rel = _as_rel(rel)
    exprs = []
    for c in cols:
        if isinstance(c, str) and c.startswith("-"):
            exprs.append(F.col(c[1:]).desc())
        elif isinstance(c, (str, Column)):
            exprs.append(to_col(c))
        else:
            raise ArityError(
                f"order-by takes column names ('-col' for descending), got {c!r}"
            )
    return rel.with_df(rel.df.orderBy(*exprs))


@defop("limit")
def op_limit(ctx: Ctx, rel: Rel, n: int) -> Rel:
    if not isinstance(n, (int, float)) or isinstance(n, bool):
        raise ArityError(f"limit needs a row count, got {n!r}")
    return _as_rel(rel).with_df(rel.df.limit(int(n)))


@defop("distinct")
def op_distinct(ctx: Ctx, rel: Rel, cols=None) -> Rel:
    """Exact distinct — hash shuffle on all (or given) columns."""
    rel = _as_rel(rel)
    if cols is not None and not isinstance(cols, (list, tuple, str)):
        raise ArityError(f"distinct takes a column-name list, got {cols!r}")
    if isinstance(cols, str):
        cols = [cols]
    df = rel.df.dropDuplicates(list(cols)) if cols else rel.df.distinct()
    return rel.with_df(df)


@defop("over")
def op_over(ctx: Ctx, rel: Rel, cols: dict, *rest) -> Rel:
    """Analytic window columns (DSL extension; the reference has no
    analytic-function surface):

        ["over", rel, {"rnk": "row_number()", "prev": "lag(value, 1)"},
                 {"partition": ["k"], "order": ["ts", "-value"]}]

    Optional explicit frame (trailing averages, running windows):
    {"rows": [-9, 0]} = ROWS BETWEEN 9 PRECEDING AND CURRENT ROW;
    {"range": [-3600, 0]} = RANGE over the (numeric) order expression.
    null in either slot = UNBOUNDED on that side. Frames apply to the
    aggregate columns only; ranking/offset expressions (row_number,
    rank, dense_rank, percent_rank, ntile, cume_dist, lag, lead) are
    evaluated over a frameless spec on the same partition/order —
    Spark REQUIRES their built-in frame, so mixing them with framed
    aggregates in one call works instead of raising.

    One shuffle on the partition keys + per-partition sort — at scale,
    partition on high-cardinality keys (a global order-by without
    "partition" is a single-reducer antipattern and is refused)."""
    from pyspark.sql import Window

    opts = opts_of(rest)
    part = opts.get("partition")
    if not part:
        raise ArityError("over requires {'partition': cols} (no global windows)")
    if isinstance(part, str):
        part = [part]
    order = opts.get("order") or []
    if isinstance(order, str):
        order = [order]
    oexprs = [
        F.col(c[1:]).desc() if isinstance(c, str) and c.startswith("-") else to_col(c)
        for c in order
    ]
    w = Window.partitionBy(*[F.expr(p) for p in part])
    if oexprs:
        w = w.orderBy(*oexprs)
    w_plain = w  # frameless spec for ranking/offset functions
    rows_f, range_f = opts.get("rows"), opts.get("range")
    if rows_f is not None and range_f is not None:
        raise ArityError('over takes "rows" OR "range", not both')
    frame = rows_f if rows_f is not None else range_f
    if frame is not None:
        if not (isinstance(frame, (list, tuple)) and len(frame) == 2):
            raise ArityError(
                'over frame must be a 2-element [start, end] list '
                "(null = unbounded on that side), got " + repr(frame)
            )
        if not oexprs:
            raise ArityError("an over frame requires {'order': cols}")
        lo = Window.unboundedPreceding if frame[0] is None else int(frame[0])
        hi = Window.unboundedFollowing if frame[1] is None else int(frame[1])
        w = w.rowsBetween(lo, hi) if rows_f is not None else w.rangeBetween(lo, hi)
    # ranking/offset functions carry a REQUIRED built-in frame; applying a
    # user frame to them is an AnalysisException, so route them to the
    # frameless spec (same partition/order) and only aggregates to `w`
    _rank_fns = re.compile(
        r"^\s*(row_number|rank|dense_rank|percent_rank|ntile|cume_dist"
        r"|lag|lead)\s*\(", re.IGNORECASE,
    )
    df = rel.df
    for name, expr in cols.items():
        spec = w_plain if isinstance(expr, str) and _rank_fns.match(expr) else w
        df = df.withColumn(name, to_col(expr).over(spec))
    return rel.with_df(df)


@defop("rollup")
def op_rollup(ctx: Ctx, rel: Rel, cols, aggs: dict) -> KTableRel:
    """Hierarchical subtotals (DSL extension; the reference has no grouping
    sets, SURVEY.md §2.4 note — Spark gives them built-in). Same hash-agg
    + partial-aggregation shape as a plain group-by, one pass."""
    rel = _as_rel(rel)
    exprs = [to_col(v).alias(k) for k, v in aggs.items()]
    return KTableRel(rel.df.rollup(*cols).agg(*exprs), key_cols=tuple(cols))


@defop("cube")
def op_cube(ctx: Ctx, rel: Rel, cols, aggs: dict) -> KTableRel:
    """All grouping-set combinations (DSL extension, see rollup)."""
    rel = _as_rel(rel)
    exprs = [to_col(v).alias(k) for k, v in aggs.items()]
    return KTableRel(rel.df.cube(*cols).agg(*exprs), key_cols=tuple(cols))


@defop("approx-distinct")
def op_approx_distinct(ctx: Ctx, rel: Rel, col: str, *rest) -> KTableRel:
    """HyperLogLog++ distinct-count sketch per group (DSL extension):
    ["approx-distinct", rel_or_grouped, col, {"by": cols, "rsd": 0.05}].
    Constant memory per group at any cardinality — the sketch path for
    100 TB distinct counts (exact distinct shuffles every value)."""
    opts = opts_of(rest)
    if not isinstance(col, str):
        raise ArityError(f"approx-distinct needs a column name, got {col!r}")
    rsd = float_opt(opts, "rsd", "approx-distinct", 0.05)
    by = opts.get("by") or list(rel.key_cols)
    expr = F.approx_count_distinct(F.col(col), rsd).alias(opts.get("as", "approx_distinct"))
    df = rel.df.groupBy(*by).agg(expr) if by else rel.df.agg(expr)
    return KTableRel(df, key_cols=tuple(by or ()))


@defop("sql")
def op_sql(ctx: Ctx, query: str, **_) -> KStreamRel:
    """Full Spark SQL escape hatch over registered temp views."""
    if not isinstance(query, str):
        raise ArityError(f"sql takes a SQL string, got {type(query).__name__}")
    return KStreamRel(ctx.spark.sql(query))


@defop("as-view")
def op_as_view(ctx: Ctx, rel: Rel, name: str) -> Rel:
    """Register the rel as a temp view (for ["sql", ...] composition)."""
    if not isinstance(name, str):
        raise ArityError(f"as-view needs a view name string, got {name!r}")
    rel = _as_rel(rel)
    rel.df.createOrReplaceTempView(name)
    return rel


@defop("expect")
def op_expect(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Data-quality constraints as a relation (the pipeline data-contract
    gate a 100 TB ingestion job runs before writing):

        ["expect", rel, {"not_null": ["text", "lang"],
                         "unique": ["doc_id"],
                         "accepted": {"lang": ["en", "de", "fr", "es"]},
                         "min_rows": 1}]
        -> (constraint string, violations bigint, ok boolean), one row
           per declared constraint.

    Constraint kinds:
    * ``not_null``: cols — violations = NULL count per column;
    * ``unique``: col list — violations = rows minus distinct
      combinations (0 = the columns form a key). NOTE: count_distinct
      skips tuples containing a NULL, so rows with a NULL key column
      all count as violations — surprising but deliberate (a nullable
      column is not a key), and it matches the SQL oracle's
      COUNT(*) - COUNT(DISTINCT ...) arithmetic;
    * ``accepted``: {col: [values]} — violations = rows whose value
      falls outside the list (NULL counts as a violation — declare the
      column in not_null semantics separately if NULLs are legal);
    * ``matches``: {col: regex} — violations = non-NULL rows not fully
      matching the pattern (NULLs are not_null's concern);
    * ``between``: {col: [lo, hi]} — violations = non-NULL rows outside
      the inclusive range;
    * ``min_rows``: n — violations = shortfall below n.

    One aggregation pass over the input computes every constraint
    (conditional count_ifs + count_distinct share the single hash
    aggregation; map-side partials, one shuffle); the per-constraint
    rows are exploded from that single aggregate row. Compose with
    ["where", "NOT ok"] + a foreach/serve sink for alerting, or collect
    and raise in the driver for a hard gate. Batch-only (global counts).
    """
    from ..errors import ArityError

    rel = _as_rel(rel)
    opts = opts_of(rest)
    if rel.df.isStreaming:
        raise ArityError("expect is batch-only (global counts close the input)")
    df = rel.df
    aggs = [F.count(F.lit(1)).alias("__rows")]
    rows = []  # (constraint label, violations Column over the agg row)
    for c in opts.get("not_null", []) or []:
        aggs.append(F.count_if(F.col(c).isNull()).alias(f"__nn_{c}"))
        rows.append((f"not_null({c})", F.col(f"__nn_{c}")))
    uniq = opts.get("unique")
    if uniq:
        ucols = [uniq] if isinstance(uniq, str) else list(uniq)
        aggs.append(F.count_distinct(*[F.col(c) for c in ucols]).alias("__uniq"))
        rows.append(("unique(" + ",".join(ucols) + ")",
                     F.col("__rows") - F.col("__uniq")))
    for c, vals in (opts.get("accepted") or {}).items():
        ok = F.col(c).isin(list(vals))
        aggs.append(F.count_if(~F.coalesce(ok, F.lit(False))).alias(f"__acc_{c}"))
        rows.append((f"accepted({c})", F.col(f"__acc_{c}")))
    for c, pat in (opts.get("matches") or {}).items():
        bad = F.col(c).isNotNull() & ~F.col(c).rlike(f"^(?:{pat})$")
        aggs.append(F.count_if(bad).alias(f"__re_{c}"))
        rows.append((f"matches({c})", F.col(f"__re_{c}")))
    for c, (blo, bhi) in (opts.get("between") or {}).items():
        bad = F.col(c).isNotNull() & ~F.col(c).between(F.lit(blo), F.lit(bhi))
        aggs.append(F.count_if(bad).alias(f"__bt_{c}"))
        rows.append((f"between({c})", F.col(f"__bt_{c}")))
    if "min_rows" in opts:
        n = int(opts["min_rows"])
        rows.append((f"min_rows({n})",
                     F.greatest(F.lit(0).cast("long"), F.lit(n) - F.col("__rows"))))
    if not rows:
        raise ArityError(
            "expect needs at least one constraint: not_null / unique / "
            "accepted / matches / between / min_rows"
        )
    agged = df.agg(*aggs)
    report = agged.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(label).alias("constraint"),
                    viol.cast("long").alias("violations"),
                )
                for label, viol in rows
            ])
        ).alias("__c")
    ).select(
        F.col("__c.constraint").alias("constraint"),
        F.col("__c.violations").alias("violations"),
        (F.col("__c.violations") == 0).alias("ok"),
    )
    return rel.with_df(report, key_cols=("constraint",), time_col=None)


@defop("histogram")
def op_histogram(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Fixed-bin histogram of a numeric column:

        ["histogram", rel, {"col": "o_totalprice", "bins": 20,
                            "min": 0, "max": 600000}]
        -> (bin bigint, lo double, hi double, count bigint), one row per
           NON-EMPTY bin; values below min clamp into bin 0, >= max into
           the last bin, NULLs are skipped.

    Explicit [min, max) bounds keep the op single-pass and deterministic
    (bin edges are data-independent — an auto-ranged variant would need
    a min/max pre-pass and make edges drift with the data); the bin
    assignment is one codegen expression and the counts one hash
    aggregation with map-side partials. One shuffle of at most ``bins``
    rows.

    ``{"scale": "log"}`` bins on log10(value) instead — equal-ratio
    bins for long-tailed distributions (document lengths, token
    counts), where linear bins put everything in bin 0. Requires
    min > 0; values <= 0 clamp into bin 0 like any below-range value,
    and the reported (lo, hi) edges are the back-transformed powers of
    the bin boundaries."""
    rel = _as_rel(rel)
    opts = opts_of(rest)
    col = opts.get("col")
    if not col or "min" not in opts or "max" not in opts:
        raise ArityError("histogram needs {'col', 'min', 'max'} (+ optional 'bins')")
    bins = int_opt(opts, "bins", "histogram", 20)
    lo = float_opt(opts, "min", "histogram")
    hi = float_opt(opts, "max", "histogram")
    # None here means present-but-None from an opts_of-bypassing caller
    if lo is None or hi is None or not (hi > lo) or bins < 1:
        raise ArityError("histogram needs max > min and bins >= 1")
    scale = opts.get("scale", "linear")
    if scale not in ("linear", "log"):
        raise ArityError(f"histogram scale must be 'linear' or 'log', got {scale!r}")
    c = to_col(col)
    if scale == "log":
        import math

        if lo <= 0:
            raise ArityError("histogram {'scale': 'log'} needs min > 0")
        llo, lhi = math.log10(lo), math.log10(hi)
        width = (lhi - llo) / bins
        binned = F.floor((F.log10(F.greatest(c, F.lit(lo))) - F.lit(llo)) / F.lit(width))
    else:
        llo, width = lo, (hi - lo) / bins
        binned = F.floor((c - F.lit(lo)) / F.lit(width))
    bin_expr = F.least(
        F.lit(bins - 1), F.greatest(F.lit(0), binned)
    ).cast("long")
    keep = c.isNotNull()
    from pyspark.sql.types import DoubleType, FloatType

    if isinstance(rel.df.select(c).schema[0].dataType, (DoubleType, FloatType)):
        # NaN would otherwise form a junk NULL bin (floor(NaN) -> NULL
        # after the long cast); skip it like NULL
        keep = keep & ~F.isnan(c)
    out = (
        rel.df.filter(keep)
        .groupBy(bin_expr.alias("bin"))
        .agg(F.count(F.lit(1)).alias("count"))
        .select(
            "bin",
            *(
                [
                    F.pow(F.lit(10.0), F.lit(llo) + F.col("bin") * F.lit(width)).alias("lo"),
                    F.pow(F.lit(10.0), F.lit(llo) + (F.col("bin") + 1) * F.lit(width)).alias("hi"),
                ]
                if scale == "log"
                else [
                    (F.lit(lo) + F.col("bin") * F.lit(width)).alias("lo"),
                    (F.lit(lo) + (F.col("bin") + 1) * F.lit(width)).alias("hi"),
                ]
            ),
            "count",
        )
    )
    return rel.with_df(out, key_cols=("bin",), time_col=None)


@defop("quantiles")
def op_quantiles(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Per-group percentile summary of a numeric column:

        ["quantiles", rel, {"col": "o_totalprice", "by": "o_orderpriority",
                            "ps": [0.25, 0.5, 0.75, 0.95]}]
        -> one row per group: (by-cols..., p25, p50, p75, p95), linear
           interpolation between order statistics (the quantile_cont /
           numpy-linear definition), NULLs skipped, column names derived
           from the percentile (0.25 -> p25, 0.999 -> p99_9).

    Two engines behind one surface:

    * default (exact) — Spark's ``percentile`` aggregate: ONE pass, one
      hash agg, but it buffers each group's values to sort, so per-group
      memory is O(group rows). Right for profile/QA summaries over
      bounded groups; hash-exact against the SQL oracle.
    * {"approx": N} — ``percentile_approx`` with accuracy N (e.g.
      10000): a mergeable quantile sketch with map-side partial
      aggregation and O(accuracy) memory per group REGARDLESS of group
      size. This is the 100 TB path — at a billion rows per group the
      exact buffer is an executor OOM, the sketch is a few KB — at the
      cost of rank error <= 1/N (and no oracle hash-exactness, so the
      registry query pins the exact form and a test bounds
      approx-vs-exact drift).

    Reference: no analog (§2.10 extension surface)."""
    rel = _as_rel(rel)
    opts = opts_of(rest)
    col = opts.get("col")
    if not col:
        raise ArityError("quantiles needs {'col': ...}")
    ps = [float(p) for p in opts.get("ps", [0.25, 0.5, 0.75])]
    if not ps or not all(0.0 <= p <= 1.0 for p in ps):
        raise ArityError(f"quantiles ps must be fractions in [0, 1], got {ps!r}")
    by = opts.get("by") or []
    by = [by] if isinstance(by, str) else list(by)
    approx = opts.get("approx")

    def pname(p: float) -> str:
        return "p" + ("%g" % (p * 100)).replace(".", "_")

    c = to_col(col)
    parr = F.array(*[F.lit(p) for p in ps])
    if approx:
        agg = F.percentile_approx(c, parr, F.lit(int(approx)))
    else:
        agg = F.percentile(c, parr)
    grouped = rel.df.groupBy(*[to_col(g).alias(g) for g in by])
    out = grouped.agg(agg.alias("__q")).select(
        *by,
        *[F.round(F.col("__q").getItem(i), 6).alias(pname(p))
          for i, p in enumerate(ps)],
    )
    return rel.with_df(out, key_cols=tuple(by), time_col=None)


@defop("pivot")
def op_pivot(ctx: Ctx, rel: Rel, *rest) -> KTableRel:
    """Wide one-column-per-category matrix (DSL extension; the reference
    has no pivot surface):

        ["pivot", rel, {"group": ["o_orderpriority"],
                        "on": "o_orderstatus", "values": ["O", "F", "P"],
                        "aggs": {"total": "sum(o_totalprice)"}}]
        -> group cols + one column per (value[, agg name]) cell.

    ``values`` is REQUIRED: inferring the pivot domain is a full
    distinct scan of the pivot column before the real job can even be
    planned — the wrong default at 100 TB, and non-deterministic output
    schemas break downstream contracts. With the domain given, the plan
    is ONE hash aggregation (each cell an independent partial agg), no
    extra pass. Single-agg output columns are named exactly
    ``str(value)``; multi-agg cells are ``{value}_{aggname}`` (Spark's
    convention, pinned by test)."""
    rel = _as_rel(rel)
    opts = opts_of(rest)
    group = opts.get("group")
    on = opts.get("on")
    values = opts.get("values")
    aggs = opts.get("aggs")
    if not (group and on and aggs):
        raise ArityError("pivot needs {'group': cols, 'on': col, 'aggs': {...}}")
    if not values:
        raise ArityError(
            "pivot needs the explicit category domain {'values': [...]} — "
            "inferring it scans the whole pivot column before planning "
            "(and makes the output schema data-dependent)"
        )
    if isinstance(group, str):
        group = [group]
    exprs = [to_col(v).alias(k) for k, v in aggs.items()]
    df = rel.df.groupBy(*group).pivot(on, list(values)).agg(*exprs)
    return KTableRel(df, key_cols=tuple(group))


@defop("unpivot")
def op_unpivot(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Long form of a wide relation (melt; inverse of pivot):

        ["unpivot", rel, {"ids": ["l_orderkey", "l_linenumber"],
                          "cols": ["l_quantity", "l_discount"],
                          "var": "metric", "value": "val"}]
        -> (ids..., metric string, val): one row per id x measure.

    Pure per-row expansion (Spark Expand node — no shuffle, no Python,
    streaming-legal); output rows = input rows x len(cols). Measure
    columns must share a least-common type (Spark's unpivot contract —
    cast upstream otherwise; the error is curated here)."""
    rel = _as_rel(rel)
    opts = opts_of(rest)
    ids = opts.get("ids")
    cols = opts.get("cols")
    if not ids or not cols:
        raise ArityError("unpivot needs {'ids': cols, 'cols': measure_cols}")
    if isinstance(ids, str):
        ids = [ids]
    if isinstance(cols, str):
        cols = [cols]
    var = opts.get("var", "metric")
    val = opts.get("value", "value")
    if var == val:
        raise ArityError(
            f'unpivot: "var" and "value" must differ, both are {var!r}'
        )
    clash = set(ids) & {var, val}
    if clash:
        raise ArityError(f"unpivot output names collide with id columns: {clash}")
    try:
        df = rel.df.unpivot(list(ids), list(cols), var, val)
    except Exception as e:  # Spark's incompatible-type error, curated
        raise ArityError(
            f"unpivot: measure columns {cols} need a common type "
            f"(cast upstream): {e}"
        ) from None
    return rel.with_df(df, key_cols=tuple(ids), time_col=None)


@defop("corr")
def op_corr(ctx: Ctx, rel: Rel, *rest) -> KTableRel:
    """Pairwise Pearson correlation matrix in long form — the numeric
    QA probe (feature drift, redundant-measure detection):

        ["corr", rel, {"cols": ["l_quantity", "l_extendedprice",
                                "l_discount"], "round": 6}]
        -> (col_a, col_b, corr) for every unordered pair, col_a < col_b
           positionally.

    ONE aggregation pass computes all n*(n-1)/2 cells (each corr is an
    algebraic aggregate with map-side partials); the wide single row is
    then unpivoted to long form with a stack expression — no second
    scan, no Python."""
    rel = _as_rel(rel)
    opts = opts_of(rest)
    cols = opts.get("cols")
    if not cols or len(cols) < 2:
        raise ArityError("corr needs {'cols': [2+ numeric columns]}")
    nd = int_opt(opts, "round", "corr", 6)
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    wide = rel.df.agg(
        *[F.round(F.corr(a, b), nd).alias(f"__c{i}") for i, (a, b) in enumerate(pairs)]
    )
    stack = ", ".join(
        f"'{a}', '{b}', __c{i}" for i, (a, b) in enumerate(pairs)
    )
    out = wide.selectExpr(
        f"stack({len(pairs)}, {stack}) as (col_a, col_b, corr)"
    )
    return KTableRel(out, key_cols=("col_a", "col_b"))


@defop("collect-ordered")
def op_collect_ordered(ctx: Ctx, rel: Rel, *rest) -> KTableRel:
    """Deterministic per-key sequence assembly — the step that turns an
    event/turn/chunk relation into one training record per key:

        ["collect-ordered", rel, {"by": "user_id",
                                  "order": ["ts", "event_id"],
                                  "col": "event_type", "as": "seq",
                                  "limit": 20}]
        -> (by..., seq array): ``col`` values ordered by the ``order``
           columns (ascending; ties broken by later order columns —
           make the ordering total or the result is nondeterministic).

    ONE hash aggregation: collect_list of (order..., value) structs with
    map-side partials, sorted per group with array_sort (struct
    lexicographic order), then projected down to the values. ``limit``
    truncates AFTER the sort — state is still the full group, so cap
    heavy groups upstream (cap-per-group) when a bound matters."""
    rel = _as_rel(rel)
    opts = opts_of(rest)
    by = opts.get("by")
    order = opts.get("order")
    col = opts.get("col")
    if not by or not order or not col:
        raise ArityError("collect-ordered needs {'by', 'order', 'col'}")
    if isinstance(by, str):
        by = [by]
    if isinstance(order, str):
        order = [order]
    if any(isinstance(o, str) and o.startswith("-") for o in order):
        raise ArityError(
            "collect-ordered orders ascending only (struct sort); "
            "negate a numeric column upstream for descending"
        )
    out_name = opts.get("as", "seq")
    limit = opts.get("limit")
    if limit is not None and int(limit) < 1:
        raise ArityError(
            f"collect-ordered limit must be >= 1, got {limit!r} "
            "(omit it to keep whole groups)"
        )
    st = F.struct(
        *[to_col(o).alias(f"__o{i}") for i, o in enumerate(order)],
        to_col(col).alias("__v"),
    )
    arr = F.array_sort(F.collect_list(st))
    if limit:
        arr = F.slice(arr, 1, int(limit))
    seq = F.transform(arr, lambda s: s["__v"])
    df = rel.df.groupBy(*by).agg(seq.alias(out_name))
    return KTableRel(df, key_cols=tuple(by))


@defop("rolling")
def op_rolling(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Per-key event-time rolling aggregates (trailing window), the
    moving-average / rate probe:

        ["rolling", rel, {"by": "user_id", "time": "ts",
                          "range": 3600,
                          "aggs": {"roll_sum": "sum(value)",
                                   "roll_n": "count(1)"}}]
        -> input columns + one column per agg over the trailing
           ``range``-second frame [t - range, t] (inclusive), per key.

    SECOND granularity by contract: the frame is defined on the
    event-time cast to epoch seconds (documented truncation — the
    DuckDB oracle reproduces it exactly with epoch_us//1e6). One
    shuffle on the key + per-partition sort; rows with equal (key,
    second) are frame peers, so the result is insensitive to intra-key
    row order. Batch-only (a RANGE window frame needs the sorted
    history; streaming trailing aggregates belong to windowed-by /
    sessionize)."""
    rel = _as_rel(rel)
    opts = opts_of(rest)
    by = opts.get("by")
    time_c = opts.get("time") or rel.time_col
    rng = opts.get("range")
    aggs = opts.get("aggs")
    if not by or not time_c or rng is None or not aggs:
        raise ArityError("rolling needs {'by', 'time', 'range', 'aggs'}")
    if int(rng) < 0:
        raise ArityError(f"rolling range must be >= 0 seconds, got {rng!r}")
    if rel.df.isStreaming:
        raise ArityError(
            "rolling is batch-only (RANGE frame over sorted history); "
            "use windowed-by or sessionize on streams"
        )
    if isinstance(by, str):
        by = [by]
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*by)
        .orderBy(F.col(time_c).cast("long"))
        .rangeBetween(-int(rng), 0)
    )
    df = rel.df
    for name, expr in aggs.items():
        df = df.withColumn(name, to_col(expr).over(w))
    return rel.with_df(df)


def _set_op(op: str, left: Rel, right, rest, fn_all, fn_distinct):
    right = _as_rel(right)
    opts = opts_of(rest)
    if left.df.isStreaming or right.df.isStreaming:
        raise ArityError(
            f"{op} is batch-only (Spark streaming has no set-operation "
            "state); use join/anti-join forms on streams"
        )
    if set(left.df.columns) != set(right.df.columns):
        raise ArityError(
            f"{op}: relations must share a column set, got "
            f"{left.df.columns} vs {right.df.columns}"
        )
    rdf = right.df.select(*left.df.columns)  # align order for positional op
    df = (fn_all if opts.get("all") else fn_distinct)(left.df, rdf)
    return left.with_df(df)


@defop("intersect")
def op_intersect(ctx: Ctx, left: Rel, right, *rest) -> Rel:
    """Rows present in BOTH relations (DSL extension; the reference's
    closest form is a stream-stream join on full records):

        ["intersect", a, b]              set semantics (SQL INTERSECT)
        ["intersect", a, b, {"all": 1}]  bag semantics (INTERSECT ALL)

    Columns are matched by NAME (order-insensitive); both sides must
    share a column set. One hash shuffle on all columns — the same cost
    shape as distinct. Batch-only."""
    left = _as_rel(left)
    return _set_op(
        "intersect", left, right, rest,
        lambda a, b: a.intersectAll(b), lambda a, b: a.intersect(b),
    )


@defop("except")
def op_except(ctx: Ctx, left: Rel, right, *rest) -> Rel:
    """Rows of the first relation absent from the second (SQL EXCEPT):

        ["except", a, b]              set semantics
        ["except", a, b, {"all": 1}]  bag semantics (EXCEPT ALL)

    Name-matched columns, shared column set required, one hash shuffle.
    The whole-row complement of semi/anti-join (which compare by KEY).
    Batch-only."""
    left = _as_rel(left)
    return _set_op(
        "except", left, right, rest,
        lambda a, b: a.exceptAll(b), lambda a, b: a.subtract(b),
    )


@defop("persist")
def op_persist(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Pin the relation DISK_ONLY for reuse by several downstream queries.

    For interactive sessions, iterative pipelines, or an input that an
    operator reads more than once (lm-score training, pack-chunks,
    dedup-paragraphs):

        ["persist", rel]

    Registered in the engine's BOUNDED pin registry (oldest evicted,
    `ksml_spark.release_pinned()` frees all) — repeated persists in a
    long-lived session cannot accumulate cache blocks, unlike raw
    `df.persist()`. Streaming rels pass through unchanged (micro-batch
    caching is the engine's job)."""
    opts = opts_of(rest)
    refuse_removed_opt(opts, "storage", "persist", STORAGE_REMOVED)
    rel = _as_rel(rel)
    if rel.df.isStreaming:
        return rel
    from .util import pin

    return rel.with_df(pin(rel.df))


@defop("freq-items")
def op_freq_items(ctx: Ctx, rel: Rel, *rest) -> KTableRel:
    """Approximate heavy hitters per column (Karp/Papadimitriou/
    Shenker streaming frequent-items — Spark's freqItems):

        ["freq-items", rel, {"cols": ["event_type", "lang"],
                             "support": 0.01}]
        -> one row: <col>_freqItems array per requested column, every
           value with frequency > support (false positives possible,
           false negatives not — the sketch contract).

    Single pass, constant memory per column (~1/support counters per
    partition + one merge) — the 100 TB way to find dominant values /
    skewed keys BEFORE running a groupBy that would discover them the
    hard way. Batch-only (sketch merge is an unsupported streaming
    aggregation)."""
    opts = opts_of(rest)
    rel = _as_rel(rel)
    cols = opts.get("cols")
    if not cols:
        raise ArityError("freq-items needs {'cols': [...]}")
    if isinstance(cols, str):
        cols = [cols]
    if rel.df.isStreaming:
        raise ArityError("freq-items is batch-only (sketch merge agg)")
    support = float_opt(opts, "support", "freq-items", 0.01)
    if not (1e-4 <= support < 1.0):
        raise ArityError(
            f"freq-items support must be in [1e-4, 1), got {support!r} "
            "(Spark's sketch rejects supports below 1e-4)"
        )
    return KTableRel(rel.df.freqItems(list(cols), support), key_cols=())


@defop("profile")
def op_profile(ctx: Ctx, rel: Rel, *rest) -> KTableRel:
    """Numeric/string column profile — the one-call QA summary
    (count, mean, stddev, min, approximate quartiles, max):

        ["profile", rel, {"cols": ["l_quantity", "l_discount"]}]
        -> (summary string, one column per profiled input column,
            values as strings — Spark's summary() contract).

    One pass; percentiles via the approximate quantile sketch, never a
    sort. Batch-only."""
    opts = opts_of(rest)
    rel = _as_rel(rel)
    if rel.df.isStreaming:
        raise ArityError("profile is batch-only (use expect/histogram on streams)")
    cols = opts.get("cols")
    if isinstance(cols, str):
        cols = [cols]
    df = rel.df.select(*cols) if cols else rel.df
    return KTableRel(df.summary(), key_cols=("summary",))
