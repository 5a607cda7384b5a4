"""Serving layer: materialize a relation and answer point lookups
(SURVEY.md §2.8 — the reference's interactive queries).

Reference: /root/reference/src/cddr/ksml/ring.clj:20-53 — a ring handler
that routes a key lookup to whichever Kafka Streams instance hosts that
key's state store (find-host → local-or-forward). Spark has no
per-instance state ownership to route around: the materialized view IS
queryable from the driver, and Catalyst prunes the scan to the matching
rows. So the Spark-first parity surface is a handle over the
materialized table:

    h = ksml(["serve", rel, {"name": "counts"}], spark=spark)
    h.lookup("alice")                      # single-column key
    h.lookup({"window_start": ..., "event_type": "click"})  # composite
    h.all(); h.refresh(); h.stop()

Storage backends:

* ``storage: "memory"`` (default) — a batch rel registers a temp view
  (NO driver copy: lookups are filtered scans, Catalyst prunes). A
  streaming rel runs a ``foreachBatch`` query that folds each
  micro-batch into rows the handle owns — one copy, in driver RAM,
  O(keys) for an aggregate — the way the reference answers from each
  instance's local state store (ring.clj:20-53). The output mode is the
  one the rel allows: "complete" for aggregated tables (each batch's
  snapshot replaces the last), "update" for stateful-processor tables
  (``KTableRel.update_only`` — e.g. the streaming changelog join, whose
  applyInPandasWithState plan Spark refuses to run in complete mode:
  per key, the batch's emission becomes the live rows, a tombstone
  leaves none, and ``__closed`` finals accumulate), "append" for plain
  streams. Each fold is published whole and a batch id already folded
  is skipped (the idempotent-sink rule), so readers never see half a
  batch, and a full-key lookup is a dictionary read, not a Spark job.
  The handle registers no temp view. It GUARDS the driver-RAM ceiling:
  once the folded rows exceed ``max_memory_rows`` (default 1,000,000)
  after a refresh it warns (``overflow: "warn"``, default) or raises
  (``overflow: "error"``), naming ``storage: "table"``, the
  beyond-driver-memory path.
* ``storage: "table"`` — the beyond-driver-memory path: the view is
  written to a catalog table BUCKETED by the key columns
  (operators/sinks.py bucketed sink layout), and ``lookup()`` prunes the
  scan to a single bucket (SelectedBucketsCount: 1 in the plan) — the
  Spark analog of routing a lookup to the one instance hosting the key.
  Streaming rels refresh the table per trigger via foreachBatch; in
  update mode the emission log is compacted to its current truth every
  ``compact_every`` batches, so the table stays O(current state).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import date, datetime
from operator import itemgetter
from typing import Any, Optional

from pyspark.errors.exceptions.base import PySparkException
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ByteType, DateType, IntegerType, LongType,
                               ShortType, StringType, StructType, TimestampType)

from ..errors import ArityError
from ..operators.sinks import with_stream_opts
from ..operators.util import (float_opt, int_opt, opts_of, refuse_removed_opt,
                              session_conf, str_opt)
from ..eval import Ctx, defop
from ..model import KTableRel, Rel
from .runtime import await_available_now

# Key column type -> the Python type its values collect to, for the types
# where a Spark `col = probe` is plain equality of those Python values.
# Every other key type (floats, decimals, NTZ timestamps, structs, ...)
# is looked up with a filtered scan.
_PROBE_TYPES = {ByteType: int, ShortType: int, IntegerType: int,
                LongType: int, StringType: str, TimestampType: datetime,
                DateType: date}
_TS = TimestampType()

def _probe_type(dt) -> Optional[type]:
    if isinstance(dt, StringType) and dt.collation != "UTF8_BINARY":
        return None  # a collated `=` is not str equality
    return _PROBE_TYPES.get(type(dt))


class _Fold:
    """The rows a streaming ``storage: "memory"`` handle serves. The
    query's ``foreachBatch`` calls it once per micro-batch, on py4j's
    callback thread. Each call builds a new snapshot from the last one
    and the batch's rows and publishes it with one assignment, so readers
    take no lock and never see half a batch; a batch id already folded
    (a replay after a failure) is skipped.

    ``snapshot`` is (last folded batch id, {key: served rows},
    {key: served ``__closed`` rows}, served row count). A key is the
    key column's value, or a tuple of values for a composite key."""

    def __init__(self, schema: StructType, key_cols, mode: str):
        names = schema.fieldNames()
        self.mode = mode
        self.key_of = itemgetter(*[names.index(c) for c in key_cols])
        self.closed_at = names.index("__closed") if "__closed" in names else None
        served = [f for f in schema.fields
                  if mode != "update" or f.name not in ("__seq", "__closed")]
        self.schema = StructType(served)
        self.key_types = [_probe_type(schema[c].dataType) for c in key_cols]
        # update mode serves a projection: no __seq / __closed, and no
        # row whose value columns are all NULL (a retraction)
        self.keep = [names.index(f.name) for f in served]
        self.values = [names.index(f.name) for f in served
                       if f.name not in key_cols]
        self.make = Row(*[f.name for f in served])
        self.snapshot: tuple = (-1, {}, {}, 0)

    def __call__(self, bdf: DataFrame, batch_id: int) -> None:
        if batch_id <= self.snapshot[0]:
            return
        rows = bdf.collect()
        groups: dict = {}
        key_of = self.key_of
        for row in rows:
            groups.setdefault(key_of(row), []).append(row)
        _, index, closed, n = self.snapshot
        if self.mode == "complete":
            index, n = groups, len(rows)
        elif self.mode == "append":
            index = dict(index)
            for k, new in groups.items():
                index[k] = [*index.get(k, ()), *new]
            n += len(rows)
        else:
            index, closed = self._update(groups, index, closed)
            n = sum(map(len, index.values()))
        self.snapshot = (batch_id, index, closed, n)

    def _update(self, groups: dict, index: dict, closed: dict) -> tuple:
        """Per emitting key: its ``__closed`` rows join the key's finals,
        and its other rows become the live rows (one call of a stateful
        processor emits a key's whole current state)."""
        index, closed = dict(index), dict(closed)
        c = self.closed_at
        for k, rows in groups.items():
            fin = closed.get(k, [])
            if c is not None and any(r[c] for r in rows):
                fin = closed[k] = fin + self._served(r for r in rows if r[c])
            live = self._served(r for r in rows if c is None or not r[c])
            if fin or live:
                index[k] = fin + live
            else:
                index.pop(k, None)
        return index, closed

    def _served(self, rows) -> list:
        keep, make = self.keep, self.make
        return [make(*[r[i] for i in keep]) for r in rows
                if not self.values or any(r[i] is not None for i in self.values)]

    def rows(self) -> list:
        return [r for rows in self.snapshot[1].values() for r in rows]


@dataclass
class ServeHandle:
    """Queryable handle over a materialized relation."""

    spark: SparkSession
    name: str
    key_cols: tuple[str, ...]
    query: Any = None  # StreamingQuery when the rel was streaming
    latest_by_seq: bool = False  # update-mode table: dedup to max __seq/key
    bucketed: bool = False  # storage="table": key lookups prune to 1 bucket
    # streaming memory handle guard: folded row ceiling (0 = no guard —
    # batch temp views and bucketed tables have no driver copy to bound)
    memory_rows_cap: int = 0
    overflow: str = "warn"  # "warn" | "error" when the cap is exceeded
    buckets: int = 0  # storage="table": bucket count of the catalog table
    _key_types: Optional[dict] = None  # host_for: cached key-column types
    # batch storage="memory": (the session catalog, the temp view this
    # handle registered), so stop() only drops it while `name` is still
    # that view
    _view: Any = field(default=None, repr=False, compare=False)
    # streaming storage="memory": the rows the handle serves
    _fold: Optional[_Fold] = field(default=None, repr=False, compare=False)
    # streaming storage="table": [batches written], bumped by the writer,
    # and the count this handle last read at
    _written: Optional[list] = field(default=None, repr=False, compare=False)
    _read: int = field(default=0, repr=False, compare=False)

    def host_for(self, key) -> dict:
        """Metadata for where a key's state is served — the ring.clj
        parity surface: the reference's ring handler resolves a lookup
        via find-host (ring.clj:15-18) and either answers locally or
        proxies to the owning Kafka Streams instance (remote?,
        ring.clj:20-53). Spark has one serving endpoint (the driver
        querying the materialized view), so ``host`` is always the local
        driver and ``remote`` is always False; the within-cluster
        routing analog is the BUCKET: for ``storage="table"`` handles
        the returned ``bucket`` is the one bucket file-group a
        ``lookup(key)`` scan reads (Murmur3 pmod, Spark's
        HashPartitioning.partitionIdExpression — computed with the same
        F.hash the bucketed write used), i.e. "which shard owns this
        key". ``store`` mirrors find-host's store-name argument."""
        items = self._key_items(key)
        bucket = None
        # the bucket hash is ORDER-SENSITIVE: only computable from a
        # full key, taken in key-column order (partial-key dicts filter
        # fine in lookup() but name no single bucket)
        if dict(items).keys() == set(self.key_cols):
            items = [(c, dict(items)[c]) for c in self.key_cols]
        else:
            items = None
        if items is not None and self.bucketed and self.buckets:
            # literals must carry the EXACT column types — Murmur3 hashes
            # an int32 and an int64 of the same value differently, and
            # the write hashed the table's types. Types are cached on
            # first use: host_for is a routing-metadata call, so the
            # per-call cost is one local one-row job, not a repeated
            # catalog schema fetch.
            if self._key_types is None:
                self._key_types = {
                    f.name: f.dataType for f in self.spark.table(self.name).schema
                }
            lits = [F.lit(v).cast(self._key_types[c]) for c, v in items]
            row = (
                self.spark.range(1)
                .select(F.pmod(F.hash(*lits), F.lit(self.buckets)).alias("b"))
                .collect()
            )
            bucket = row[0].b
        return {
            "host": self.spark.conf.get("spark.driver.host", "localhost"),
            "remote": False,  # single serving endpoint: always local
            "store": self.name,
            "bucket": bucket,
            "buckets": self.buckets or None,
        }

    def _key_items(self, key) -> list:
        """Normalize a lookup key (scalar | tuple | dict) to
        [(col, value), ...] in key-column order."""
        if isinstance(key, dict):
            return list(key.items())
        if isinstance(key, (list, tuple)):
            if len(key) != len(self.key_cols):
                raise ArityError(
                    f"lookup expects {len(self.key_cols)} key parts, got {len(key)}"
                )
            return list(zip(self.key_cols, key))
        if len(self.key_cols) != 1:
            raise ArityError(f"composite key {self.key_cols}: pass a dict or tuple")
        return [(self.key_cols[0], key)]

    def _check_memory_ceiling(self) -> None:
        """The handle holds the rows it serves in driver RAM. Past the cap
        warn or refuse, so a growing keyspace surfaces as a clear signal —
        with the fix named (storage="table", the bucketed
        beyond-driver-memory path) — instead of an eventual driver OOM.
        Re-checked after every refresh() from the fold's own row count."""
        if not self.memory_rows_cap:
            return
        n = self._fold.snapshot[3]
        if n <= self.memory_rows_cap:
            return
        msg = (
            f"serve handle {self.name!r}: holds {n:,} served rows "
            f"(> max_memory_rows={self.memory_rows_cap:,}) in driver "
            "RAM. Re-serve with {'storage': 'table'} (bucketed catalog "
            "table, lookups prune to one bucket) or raise "
            "{'max_memory_rows': N} if the driver is sized for it."
        )
        if self.overflow == "error":
            raise ArityError(msg)
        import warnings

        warnings.warn(msg, ResourceWarning, stacklevel=3)

    def df(self) -> DataFrame:
        if self._fold is not None:
            return self.spark.createDataFrame(self._fold.rows(), self._fold.schema)
        if self._written is not None and self._written[0] != self._read:
            # the writer runs in the query's own session, so this
            # session's cached file listing of the table goes stale
            self._read = self._written[0]
            self.spark.catalog.refreshTable(self.name)
        df = self.spark.table(self.name)
        if self.latest_by_seq:
            df = self._latest(df)
        return df

    @staticmethod
    def current_rows(df: DataFrame, key_cols) -> DataFrame:
        """Rows constituting the current truth of an update-mode log:
        every ``__closed`` row (immutable finals — watermark-evicted
        sessions, see grouping.py) plus all rows carrying the max
        ``__seq`` per key. Markers are KEPT — ``_latest`` drops them for
        reads; table compaction persists them so later reads still
        dedup correctly.

        Full-row duplicates are dropped first: in an update-mode
        emission log an identical (key, __seq, window, value) row can
        only be a REPLAY of the same emission — the non-transactional
        foreachBatch retry hazard (a crash after an append/compaction
        commits but before the streaming checkpoint commits replays the
        batch; the log then holds that batch twice). An emission is a
        snapshot, so dedup is semantically a no-op on clean logs and
        makes both reads and compaction retry-idempotent."""
        from pyspark.sql import Window

        df = df.dropDuplicates()
        w = Window.partitionBy(*key_cols)
        df = df.withColumn("__maxseq", F.max("__seq").over(w))
        if "__closed" in df.columns:
            df = df.filter("__closed OR __seq = __maxseq")
        else:
            df = df.filter("__seq = __maxseq")
        return df.drop("__maxseq")

    def _latest(self, df: DataFrame) -> DataFrame:
        """An update-mode sink holds every emission; the current table
        state is ALL rows carrying the max __seq per key (one emission
        may be a multi-row snapshot — e.g. a streaming session fold
        emits every live session for the key with the same __seq, see
        grouping.py's session snapshot contract), minus retracted keys
        (all value columns NULL — the tombstone shape the changelog
        join emits). row_number()==1 here would drop all but one
        arbitrary session per key.

        Rows flagged ``__closed`` (watermark-evicted sessions — see the
        session fold's eviction contract in grouping.py) are immutable
        finals: they appear once at their closing __seq and never again,
        so they are kept from ANY seq and unioned with the live
        snapshot."""
        df = self.current_rows(df, self.key_cols).drop("__seq")
        if "__closed" in df.columns:
            df = df.drop("__closed")
        vals = [c for c in df.columns if c not in self.key_cols]
        if vals:
            df = df.filter(" OR ".join(f"`{c}` IS NOT NULL" for c in vals))
        return df

    def all(self) -> list:
        if self._fold is not None:
            return self._fold.rows()
        return self.df().collect()

    def lookup(self, key) -> list:
        """Rows for one key. ``key``: a scalar (single-column key), a
        tuple (positional composite), or a {col: value} dict.

        On a streaming ``storage: "memory"`` handle a probe that names
        every key column, each value non-NULL and of the exact Python
        type the column collects to (``str`` for strings, ``int`` for
        integral columns, a naive ``datetime`` for TIMESTAMP, a ``date``
        for DATE), is a dictionary read of the folded rows: no Spark
        job, and a lookup that starts after a batch commits sees that
        batch. Every other probe — partial-key dicts, ``None``, an int
        on a string column, tz-aware datetimes, floats — and every other
        handle runs the filtered scan ``df().filter(...).collect()``. A
        scan probe that makes Spark cast a served key which does not
        convert (``lookup(1)`` on a string key column holding ``"a"``)
        raises ArityError naming the column, its type and the probe's
        type; where every key converts, the scan's rows are returned."""
        items = self._key_items(key)
        k = self._exact_key(items) if self._fold is not None else None
        if k is not None:
            # Yield the GIL once. The fold runs on py4j's callback thread
            # in this interpreter, and clients reading the dict in a
            # closed loop would otherwise starve it (and any other Python
            # thread, such as an in-process load generator).
            time.sleep(0)
            return list(self._fold.snapshot[1].get(k, ()))
        df = self.df()
        for col, val in items:
            df = df.filter(df[col] == val)
        try:
            if not self.bucketed:
                return df.collect()
            # Spark's auto-bucketed-scan heuristic drops the bucketed read
            # for a bare filter (it only credits avoided shuffles, not
            # pruning); turn it off for the lookup so the scan reads ONE
            # bucket — "SelectedBucketsCount: 1 out of N" — the ring.clj
            # host-routing analog. The conf is session-wide, so
            # set/collect/restore runs under the engine's scoped-conf
            # lock: two client threads interleaving their restores would
            # otherwise leave the session at "false" for good.
            with session_conf(self.spark,
                              "spark.sql.sources.bucketing.autoBucketedScan.enabled",
                              "false"):
                return df.collect()
        except PySparkException as e:
            if e.getCondition() != "CAST_INVALID_INPUT":
                raise
            raise self._probe_type_error(items, df.schema) from e

    def _probe_type_error(self, items, schema) -> ArityError:
        """A probe whose `col = value` made Spark cast a served key that
        does not convert (an int probe on a string key column with a
        non-numeric key): name the columns whose probe type differs."""
        bad = [(c, v) for c, v in items
               if _probe_type(schema[c].dataType) is not type(v)] or items
        parts = ", ".join(
            f"key column {c!r} is {schema[c].dataType.simpleString().upper()} "
            f"but the probe {v!r} is a Python {type(v).__name__}"
            for c, v in bad)
        return ArityError(
            f"serve handle {self.name!r}: lookup {parts}, and a served key "
            "does not cast to the probe's type; probe with a value of the "
            "column's type")

    def _exact_key(self, items):
        """The folded-state key of a probe that names every key column
        with a non-NULL value of the exact type the column collects to,
        else None: the probe takes the scan."""
        probe = dict(items)
        if probe.keys() != set(self.key_cols):
            return None
        vals = []
        for c, t in zip(self.key_cols, self._fold.key_types):
            v = probe[c]
            if t is None or type(v) is not t:
                return None
            if t is datetime:
                if v.tzinfo is not None:
                    return None
                # the instant a literal of v compares at, as it collects
                v = _TS.fromInternal(_TS.toInternal(v))
            vals.append(v)
        return vals[0] if len(vals) == 1 else tuple(vals)

    def refresh(self) -> "ServeHandle":
        """Streaming handles: block until everything currently available
        at the source has been processed into the served rows."""
        if self.query is not None:
            if not self.query.isActive:
                # availableNow queries terminate; a fresh lookup needs a new run
                raise ArityError(
                    "availableNow serve query already finished; re-evaluate "
                    "['serve', ...] to snapshot new data"
                )
            self.query.processAllAvailable()
            self._check_memory_ceiling()
        return self

    def stop(self) -> None:
        """Stop the handle's query and drop the temp view a batch handle
        registered, so the name no longer shadows a catalog table. A view
        that a later ``serve`` took the name over with is left in place."""
        if self.query is not None and self.query.isActive:
            self.query.stop()
        if self._view is not None:
            catalog, view = self._view
            if view.equals(catalog.getTempView(self.name)):
                self.spark.catalog.dropTempView(self.name)


def _view_of(spark: SparkSession, name: str) -> tuple:
    """(session catalog, the temp view now registered as ``name``)."""
    catalog = spark._jsparkSession.sessionState().catalog()
    return catalog, catalog.getTempView(name)


def _bucketed_write(df: DataFrame, name: str, key_cols, buckets: int) -> None:
    """Overwrite ``name`` as a catalog table bucketed+sorted by the key
    columns: equality lookups on the key prune to one bucket."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, *key_cols)
        .sortBy(*key_cols)
        .saveAsTable(name)
    )


def _seed_or_recover(sp: SparkSession, bdf: DataFrame, name: str,
                     key_cols, buckets: int, batch_id: int) -> None:
    """Seed the serving table from the first batch — UNLESS a previous
    compaction swap crashed between ``DROP TABLE name`` and
    ``RENAME tmp TO name``, in which case ``<name>__compact_tmp`` holds
    the only copy of the full compacted state (including ``__closed``
    finals that exist nowhere else). The tmp was written by merging the
    then-current table with THIS batch (foreachBatch retries the
    uncommitted batch with the same data on restart), so recovery is a
    plain rename-back with NO re-append — appending the retried batch
    again would duplicate rows at the max ``__seq`` and corrupt reads.

    Recovery only applies when THIS RUN could have produced the tmp:
    compaction first fires at batch compact_every - 1 >= 1, so on
    ``batch_id == 0`` (a fresh checkpoint — new query, or the user
    deleted the old one) any existing tmp is a LEFTOVER of an abandoned
    run. Renaming it in would resurrect dead state whose higher
    per-key ``__seq`` would permanently win the latest-emission dedup
    over the new run's emissions (which restart at 1) — so a stale tmp
    is dropped, not recovered."""
    tmp = f"{name}__compact_tmp"
    try:
        tmp_exists = sp.catalog.tableExists(tmp)
    except Exception:
        tmp_exists = False
    if tmp_exists and batch_id > 0:
        sp.sql(f"ALTER TABLE `{tmp}` RENAME TO `{name}`")
        return
    if tmp_exists:  # batch 0: stale tmp from a previous, abandoned run
        sp.sql(f"DROP TABLE `{tmp}`")
    _bucketed_write(bdf, name, key_cols, buckets)


@defop("serve")
def op_serve(ctx: Ctx, rel: Rel, *rest) -> ServeHandle:
    """["serve", rel, {"name": ..., "key": cols?, "storage":
    "memory"|"table", "buckets": N, "trigger": ..., "checkpoint": ...,
    "timeout": s, "max_memory_rows": N, "overflow": "warn"|"error"}] —
    materialize + return a lookup handle. A streaming rel is served in
    the output mode it allows: complete for aggregated tables, update
    for stateful-processor tables, append for plain streams.
    ``trigger`` defaults to ``"available_now"``, which waits up to
    ``timeout`` seconds (default 120) for the query to drain and raises
    StreamTimeoutError past it."""
    opts = opts_of(rest)
    name = opts.get("name") or rel.name
    if not name:
        raise ArityError("serve needs {'name': ...}")
    key = opts.get("key")
    if isinstance(key, str):  # a bare column name is a 1-column key
        key = (key,)
    key_cols = tuple(key or rel.key_cols)
    if not key_cols:
        raise ArityError("serve needs key columns (keyed rel or {'key': cols})")
    missing = [c for c in key_cols if c not in rel.df.columns]
    if missing:
        raise ArityError(f"serve: key column(s) {missing} are not columns "
                         f"of the relation {rel.df.columns}")
    storage = str_opt(opts, "storage", "serve", "memory",
                      choices=("memory", "table"))
    buckets = int_opt(opts, "buckets", "serve", 8, lo=1)
    overflow = str_opt(opts, "overflow", "serve", "warn",
                       choices=("warn", "error"))
    refuse_removed_opt(opts, "output_mode", "serve",
                       "serve picks the output mode: complete for aggregated "
                       "tables, update for stateful-processor tables, append "
                       "for plain streams")
    update_only = bool(getattr(rel, "update_only", False))

    if not rel.df.isStreaming:
        if storage == "table":
            _bucketed_write(rel.df, name, key_cols, buckets)
            return ServeHandle(ctx.spark, name, key_cols, bucketed=True,
                               buckets=buckets)
        rel.df.createOrReplaceTempView(name)
        return ServeHandle(ctx.spark, name, key_cols,
                           _view=_view_of(ctx.spark, name))

    # streaming: aggregated tables serve a full consistent snapshot per
    # trigger (complete); stateful-processor tables (changelog join,
    # session fold) are update-mode-only and keep each key's latest
    # emission; plain streams append.
    mode = ("update" if update_only
            else "complete" if isinstance(rel, KTableRel)
            else "append")

    if storage == "table":
        # beyond-driver-memory: refresh a bucketed catalog table per
        # trigger. Complete mode overwrites the snapshot; update mode
        # appends emissions and the handle dedups by __seq at read —
        # with periodic COMPACTION (every ``compact_every`` batches the
        # accumulated log is deduped to its current truth and
        # bucketed-overwritten), so the table stays O(current state),
        # not O(all emissions ever).
        append_mode = mode == "update"
        compact_every = int_opt(opts, "compact_every", "serve", 32)
        written = [0]

        def write_batch(bdf: DataFrame, batch_id: int) -> None:
            if append_mode:
                try:
                    exists = bdf.sparkSession.catalog.tableExists(name)
                except Exception:
                    exists = False
                if not exists:
                    _seed_or_recover(bdf.sparkSession, bdf, name, key_cols,
                                     buckets, batch_id)
                elif compact_every > 0 and batch_id % compact_every == compact_every - 1:
                    sp = bdf.sparkSession
                    # current_rows dedups full-row duplicates, so a
                    # REPLAYED compaction batch (crash after the rename
                    # committed but before the checkpoint did — the
                    # table then already contains bdf) merges to the
                    # same result instead of doubling bdf's rows;
                    # likewise replayed plain appends compact away.
                    merged = sp.table(name).unionByName(bdf)
                    # Write the compacted truth to a TEMP table first,
                    # then swap — an in-place overwrite deletes the old
                    # files before writing, so a mid-write failure would
                    # lose the only copy of the emission log (including
                    # __closed finals that exist nowhere else). With the
                    # swap, a crash at any point leaves either the old
                    # table or the fully-written tmp intact — and a crash
                    # in the DROP→RENAME window is healed on restart:
                    # the retried batch finds ``name`` missing and
                    # ``_seed_or_recover`` renames tmp back instead of
                    # seeding a fresh table from one batch. The
                    # drop+rename pair is still two catalog ops, not one
                    # atomic swap: a concurrent lookup in that instant
                    # can transiently fail — single-writer serving, same
                    # caveat as any non-transactional catalog.
                    tmp = f"{name}__compact_tmp"
                    _bucketed_write(
                        ServeHandle.current_rows(merged, key_cols), tmp,
                        key_cols, buckets,
                    )
                    sp.sql(f"DROP TABLE `{name}`")
                    sp.sql(f"ALTER TABLE `{tmp}` RENAME TO `{name}`")
                else:
                    bdf.write.mode("append").format("parquet").insertInto(name)
            else:
                _bucketed_write(bdf, name, key_cols, buckets)
            written[0] += 1

        w = rel.df.writeStream.foreachBatch(write_batch).outputMode(mode)
        fold = None
    else:
        fold, written = _Fold(rel.df.schema, key_cols, mode), None
        w = rel.df.writeStream.foreachBatch(fold).queryName(name).outputMode(mode)
    trig = opts.get("trigger", "available_now")
    timeout = float_opt(opts, "timeout", "serve", 120.0)
    q = with_stream_opts(w, {**opts, "trigger": trig}).start()
    if trig == "available_now":
        await_available_now(q, timeout, f"serve {name!r}")
    handle = ServeHandle(
        ctx.spark, name, key_cols, query=q,
        bucketed=storage == "table",
        buckets=buckets if storage == "table" else 0,
        latest_by_seq=update_only,
        memory_rows_cap=(0 if storage == "table"
                         else int_opt(opts, "max_memory_rows", "serve",
                                      1_000_000)),
        overflow=overflow,
        _fold=fold,
        _written=written,
    )
    if trig == "available_now":
        handle._check_memory_ceiling()
    return handle
