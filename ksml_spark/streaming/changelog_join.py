"""Streaming joins against a live KTable — both sides live-updating.

Reference semantics: :join/:left-join/:outer-join applied to two tables
(/root/reference/src/cddr/ksml/eval.clj:133-143, eval_test.clj:322-355):
each side is a changelog, the join output updates whenever EITHER side's
latest value for a key changes, and a side losing its value (tombstone)
retracts or downgrades the output row.

Spark can't express this natively: the KTable view is an update-mode
aggregation (latest_by), and Structured Streaming refuses joins between
two aggregated streams. The Spark-first alternative is ONE stateful
operator that subsumes both views and the join (SURVEY.md §7 "hard/risky"
(a)): union the two RAW changelogs with a side tag, group by key, and run
``applyInPandasWithState`` keeping (latest-left, latest-right) per key —
exactly Kafka Streams' two-store join processor, expressed as Spark
state. One shuffle on the key, state = two packed rows per key.

Both joins here (``changelog_join`` for KTable ⋈ KTable,
``stream_table_join`` for KStream ⋈ live KTable) share one plan builder
(``_join``: the side-tagged union with flat typed order columns,
the value structs, the ``r_`` output names and the output schema), one
emitted-frame builder (``_frame``) and the state codec in
``streaming/runtime.py``. Within a micro-batch a table side's latest
record is ``_last_max`` of its order columns, NULL as -infinity — the
same record ``max_by`` picks in the batch view.

Emission (update mode): after each micro-batch touching a key, emit the
current joined row when the join predicate holds (inner: both sides
present; left: left present; full_outer: either present); emit an
all-NULL-values retraction row when it held before and stopped holding.
``__seq`` (count of changelog records consumed for the key) orders
emissions, so "final state" = the row with max ``__seq`` per key.

Scale: identical shuffle shape to any keyed aggregation — the union is
map-side, the single exchange is on the join key, state is O(distinct
keys) with two value structs each, pruned by the state store's own
watermark/TTL config. No second stateful operator, no stream-stream
buffering of full histories.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import functions as F

from ..errors import TypeDispatchError
from ..model import KStreamRel, KTableRel
from .runtime import decode_state, encode_state


def _ord_ge(a, b) -> bool:
    """Order-tuple a >= b with NULL/NaT elements as -infinity: a record
    with a NULL order value never beats one with a real value — the same
    outcome as max_by in the batch view, where null ordering keys lose
    to any non-null. Equal tuples return True (later record wins)."""
    import pandas as pd

    for x, y in zip(a, b):
        xn = x is None or (not isinstance(x, (str, bytes, list, dict)) and pd.isna(x))
        yn = y is None or (not isinstance(y, (str, bytes, list, dict)) and pd.isna(y))
        if xn and yn:
            continue
        if xn:
            return False
        if yn:
            return True
        if x == y:
            continue
        return x > y
    return True


def _last_max(cols) -> int:
    """Position of the LAST row holding the lexicographic max of ``cols``
    (equal-length numpy arrays, one per order element) with NULL/NaT as
    -infinity: the row a sequential ``_ord_ge`` fold over the rows in
    arrival order keeps. NULLs are masked before any ``max``, so an
    object column of strings with a NULL compares strings only."""
    import numpy as np
    import pandas as pd

    cand = np.arange(len(cols[0]))
    for col in cols:
        if len(cand) == 1:
            break
        vals = col[cand]
        real = ~pd.isna(vals)
        if not real.any():
            continue  # whole element NULL: tie at -infinity, next element
        vals, cand = vals[real], cand[real]
        cand = cand[vals == vals.max()]
    return int(cand[-1])


class _Layout(NamedTuple):
    """Column names a join processor reads and emits."""

    keys: list
    lvals: list
    rvals: list
    out_rvals: list  # rvals renamed r_<c> where they clash with the left
    lo_cols: list  # left order elements as flat typed columns
    ro_cols: list  # right order elements


def _frame(lay: _Layout, key, lvs, rvs, seq=None):
    """One emitted frame: row i joins value dicts ``lvs[i]`` and
    ``rvs[i]`` (None = that side absent). Built as a plain dict of column
    lists, the session fold's measured rule (grouping.py): ~0.28 ms per
    frame against ~1.2 ms with a ``columns=`` keyword or a list of dicts."""
    import pandas as pd

    n = len(lvs)
    data = {c: [v] * n for c, v in zip(lay.keys, key)}
    for c in lay.lvals:
        data[c] = [None if lv is None else lv.get(c) for lv in lvs]
    for c, out in zip(lay.rvals, lay.out_rvals):
        data[out] = [None if rv is None else rv.get(c) for rv in rvs]
    if seq is not None:
        data["__seq"] = [seq] * n
    return pd.DataFrame(data)


def _batch(pdfs):
    """The key's micro-batch records as one frame (None when empty)."""
    import pandas as pd

    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return None
    return chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)


def _make_processor(how: str, lay: _Layout):
    """Per-key stateful fn for KTable ⋈ KTable: state = each side's latest
    (order tuple, value dict). Everything it closes over is plain Python
    data (cloudpickle ships it by value to the workers)."""

    def process(key, pdfs, state):
        import numpy as np

        if state.exists:
            lo, lv, ro, rv, emitted, seq = state.get
            ords = [decode_state(lo), decode_state(ro)]
            vals = [decode_state(lv), decode_state(rv)]
        else:
            ords, vals = [None, None], [None, None]
            emitted, seq = False, 0

        pdf = _batch(pdfs)
        if pdf is not None:
            side = pdf["__side"].to_numpy()
            for s, cols, vcol in ((0, lay.lo_cols, "__lv"), (1, lay.ro_cols, "__rv")):
                rows = np.flatnonzero(side == s)
                if not len(rows):
                    continue
                i = rows[_last_max([pdf[c].to_numpy()[rows] for c in cols])]
                o = tuple(pdf[c].iat[i] for c in cols)
                # >= : a same-order later batch wins, like max_by
                if ords[s] is None or _ord_ge(o, ords[s]):
                    ords[s] = o
                    vals[s] = None if pdf["__tomb"].iat[i] else pdf[vcol].iat[i]
            seq += len(pdf)
        lv, rv = vals

        if how == "inner":
            active = lv is not None and rv is not None
        elif how == "left":
            active = lv is not None
        else:  # full_outer
            active = lv is not None or rv is not None

        state.update((encode_state(ords[0]), encode_state(lv),
                      encode_state(ords[1]), encode_state(rv), active, seq))
        if active:
            yield _frame(lay, key, [lv], [rv], seq)
        elif emitted:
            # the joined row existed and no longer does: retract (the
            # KTable tombstone — all value columns NULL, key + seq kept)
            yield _frame(lay, key, [None], [None], seq)

    return process


def _make_stream_table_processor(how: str, lay: _Layout):
    """Per-key stateful fn for stream ⋈ live-table: state = latest right
    (order tuple, value dict); each LEFT record emits one enriched row.
    Records apply in event-time order with a NULL time first (-infinity,
    the ``_ord_ge`` rule) and right before left at equal times; see
    ``stream_table_join`` for the cross-batch rule."""

    def process(key, pdfs, state):
        import numpy as np

        if state.exists:
            ro, rv = map(decode_state, state.get)
        else:
            ro = rv = None

        pdf = _batch(pdfs)
        lvs, rvs = [], []
        if pdf is not None:
            # NaT is the minimum int64 in every datetime64 unit, so NULL
            # times sort first; -side puts right before left at equal
            # times; lexsort is stable, so arrival order breaks ties
            ts = np.asarray(pdf["__ts"], dtype="datetime64[ns]").view("int64")
            side = pdf["__side"].to_numpy()
            tomb = pdf["__tomb"].to_numpy()
            ords = [pdf[c].tolist() for c in lay.ro_cols]
            lcol, rcol = pdf["__lv"].tolist(), pdf["__rv"].tolist()
            for i in np.lexsort((-side, ts)).tolist():
                if side[i] == 1:  # right (table) update
                    o = tuple(col[i] for col in ords)
                    if ro is None or _ord_ge(o, ro):
                        ro, rv = o, None if tomb[i] else rcol[i]
                elif how != "inner" or rv is not None:
                    lvs.append(lcol[i])
                    rvs.append(rv)

        state.update((encode_state(ro), encode_state(rv)))
        if lvs:
            yield _frame(lay, key, lvs, rvs)

    return process


def _join(how: str, make, state_ddl: str, left, right, times=None, seq=False):
    """Run the per-key processor ``make(how, layout)`` over the side-tagged
    union of two sides, each ``(key cols, frame, order cols, tombstone
    Column or None)``. Order elements travel as flat typed columns
    (``__lo<i>``, ``__ro<i>``), not structs: a struct reaches pandas as one
    dict per row. ``times`` = (left, right) time column adds ``__ts``;
    ``seq`` adds the ``__seq`` output column."""
    (lk, ldf, lorder, ltomb), (rk, rdf, rorder, rtomb) = left, right
    lk, rk = list(lk), list(rk)
    if len(lk) != len(rk):
        raise TypeDispatchError(f"key arity mismatch: {lk} vs {rk}")
    lvals = [c for c in ldf.columns if c not in lk]
    rvals = [c for c in rdf.columns if c not in rk]
    taken = set(lk) | set(lvals)
    lay = _Layout(lk, lvals, rvals, [f"r_{c}" if c in taken else c for c in rvals],
                  [f"__lo{i}" for i in range(len(lorder))],
                  [f"__ro{i}" for i in range(len(rorder))])
    lv, rv = F.struct(*map(F.col, lvals)), F.struct(*map(F.col, rvals))
    lv_t = ldf.select(lv.alias("x")).schema["x"].dataType
    rv_t = rdf.select(rv.alias("x")).schema["x"].dataType

    def order(df, cols, names, own):
        return [F.col(c).alias(n) if own else F.lit(None).cast(df.schema[c].dataType).alias(n)
                for c, n in zip(cols, names)]

    def tagged(df, keys, side, tomb, time, values):
        return df.select(
            *[F.col(c).alias(n) for c, n in zip(keys, lk)],
            *order(ldf, lorder, lay.lo_cols, side == 0),
            *order(rdf, rorder, lay.ro_cols, side == 1),
            *([F.col(time).cast("timestamp").alias("__ts")] if times else []),
            F.lit(side).alias("__side"),
            (tomb if tomb is not None else F.lit(False)).alias("__tomb"),
            *values,
        )

    u = tagged(ldf, lk, 0, ltomb, times and times[0],
               [lv.alias("__lv"), F.lit(None).cast(rv_t).alias("__rv")]).unionByName(
        tagged(rdf, rk, 1, rtomb, times and times[1],
               [F.lit(None).cast(lv_t).alias("__lv"), rv.alias("__rv")]))
    schema = [f"`{c}` {ldf.schema[c].dataType.simpleString()}" for c in lk + lvals]
    schema += [f"`{n}` {rdf.schema[c].dataType.simpleString()}"
               for c, n in zip(rvals, lay.out_rvals)]
    schema += ["`__seq` bigint"] if seq else []
    return u.groupBy(*map(F.col, lk)).applyInPandasWithState(
        make(how, lay),
        outputStructType=", ".join(schema),
        stateStructType=state_ddl,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def stream_table_join(left, right: KTableRel, how: str):
    """Streaming KStream ⋈ streaming KTable (both sides live): per-key
    latest-right state, one output row per stream record
    (eval_test.clj:446-450 with a live table side). ``how`` in
    {"inner", "left"}. State is O(keys) — only the table side is stored;
    stream records pass through their arrival batch.

    Timestamp synchronization is per micro-batch. Within one, records
    apply in event-time order, right before left at equal times, so a
    table update at time T is visible to stream records with ts >= T of
    the same batch (Kafka Streams' timestamp-synchronized lookup). A NULL
    event time sorts first (-infinity, as a NULL order value loses in
    ``_ord_ge``): a NULL-time stream record sees only the table state of
    earlier batches, and a NULL-time table update applies before every
    record of its batch. Across batches the guarantee is weaker: a table
    update arriving in a LATER micro-batch than an already-emitted
    stream record with a later event time does not retro-apply to it.
    Co-partition and align batch boundaries (e.g. one source,
    maxFilesPerTrigger) when strict cross-batch synchronization
    matters."""
    if right.changelog is None:
        raise TypeDispatchError(
            "streaming stream-table join needs the table's raw changelog: "
            "join a [:table ...] source directly (view transforms drop it)"
        )
    if left.time_col is None:
        raise TypeDispatchError(
            "streaming stream-table join needs a time column on the stream "
            "side (records synchronize with table updates by event time)"
        )
    rdf, rorder, rtomb = right.changelog
    out = _join(how, _make_stream_table_processor, "ro string, rv string",
                (left.key_cols, left.df, (), None),
                (right.key_cols, rdf, rorder, rtomb),
                times=(left.time_col, right.time_col or rorder[0]))
    return KStreamRel(out, key_cols=tuple(left.key_cols), time_col=None)


def changelog_join(left: KTableRel, right: KTableRel, how: str) -> KTableRel:
    """Join two STREAMING KTables by their raw changelogs (see module
    docstring). ``how`` in {"inner", "left", "full_outer"}. Each side's
    latest record per key and batch is ``_last_max`` of its order
    columns; it replaces the stored one when ``_ord_ge`` holds, so the
    final state equals the batch join of the two ``max_by`` views."""
    if left.changelog is None or right.changelog is None:
        raise TypeDispatchError(
            "streaming table-table join needs both sides' raw changelogs: "
            "join [:table ...] sources directly (view transforms drop the "
            "changelog — apply filters/map-values AFTER the join, or to the "
            "underlying stream before table-ifying)"
        )
    # update output mode only (applyInPandasWithState); __seq orders
    # emissions per key
    out = _join(how, _make_processor,
                "lo string, lv string, ro string, rv string, emitted boolean, seq bigint",
                (left.key_cols, *left.changelog), (right.key_cols, *right.changelog),
                seq=True)
    return KTableRel(out, key_cols=tuple(left.key_cols), time_col=None, update_only=True)
