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

* ``storage: "memory"`` (default) — batch rels register a temp view
  (NO driver copy: lookups are filtered scans, Catalyst prunes);
  streaming rels run a memory-sink query: "complete" output for
  aggregated tables (each trigger replaces the snapshot, so lookups
  always see a consistent latest state), "append" for plain streams,
  "update" + read-side max-__seq dedup for stateful-processor tables
  (``KTableRel.update_only`` — e.g. the streaming changelog join, whose
  applyInPandasWithState plan Spark refuses to run in complete mode).
  The memory sink collects the view to the driver — O(keys), not
  O(events), which is what a serving copy of an aggregate is — so a
  full-key lookup on a streaming handle is a dictionary read, not a
  Spark job: the handle keeps an index of the served rows keyed by the
  memory sink's batch id and rebuilds it once per new batch (the
  reference answers from the local state store the same way,
  ring.clj:20-53). The index holds at most ``_INDEX_MAX_ROWS`` rows; a
  larger snapshot is looked up with a filtered scan, as is a handle
  whose view name a later ``serve`` has taken over. O(keys) still has a
  driver-RAM ceiling: a streaming memory-sink handle GUARDS it,
  counting the served snapshot after each refresh and warning
  (``overflow: "warn"``, default) or raising (``overflow: "error"``)
  once it exceeds ``max_memory_rows`` (default 1,000,000) with
  instructions to switch to ``storage: "table"``, the
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

import threading
from dataclasses import dataclass, field
from datetime import date, datetime
from operator import itemgetter
from typing import Any, Optional

from pyspark.errors.exceptions.base import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ByteType, DateType, IntegerType, LongType,
                               ShortType, StringType, TimestampType)

from ..errors import ArityError
from ..operators.sinks import with_stream_opts
from ..operators.util import float_opt, int_opt, opts_of, session_conf, str_opt
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

# The largest snapshot a streaming memory handle indexes. A rebuild
# costs ~9 us a row in Python (~0.47 s at the cap) against ~0.1-0.3 s for
# one filtered scan (4 vCPU, a string key and a count): a batch that
# gets one lookup pays at most ~2-3 scans, one that gets a few breaks
# even. Above the cap the handle stops indexing and scans, so the Python
# copy of the snapshot never exceeds this many rows.
_INDEX_MAX_ROWS = 50_000


def _probe_type(dt) -> Optional[type]:
    if isinstance(dt, StringType) and dt.collation != "UTF8_BINARY":
        return None  # a collated `=` is not str equality
    return _PROBE_TYPES.get(type(dt))


@dataclass
class ServeHandle:
    """Queryable handle over a materialized relation."""

    spark: SparkSession
    name: str
    key_cols: tuple[str, ...]
    query: Any = None  # StreamingQuery when the rel was streaming
    latest_by_seq: bool = False  # update-mode sink: dedup to max __seq/key
    bucketed: bool = False  # storage="table": key lookups prune to 1 bucket
    # streaming memory-sink guard: snapshot row ceiling (0 = no guard —
    # batch temp views and bucketed tables have no driver copy to bound)
    memory_rows_cap: int = 0
    overflow: str = "warn"  # "warn" | "error" when the cap is exceeded
    buckets: int = 0  # storage="table": bucket count of the catalog table
    _key_types: Optional[dict] = None  # host_for: cached key-column types
    # storage="memory": (the session catalog, the temp view this handle
    # registered), so stop() and the index only act while `name` is
    # still that view. Streaming memory-sink lookups: the query's
    # MemorySink while the index is in use, else None; the key columns'
    # (row positions, probe types); and the published index (batch id,
    # {key: [Row, ...]})
    _view: Any = field(default=None, repr=False, compare=False)
    _sink: Any = field(default=None, repr=False, compare=False)
    _key_layout: Any = field(default=None, repr=False, compare=False)
    _index: Any = field(default=None, repr=False, compare=False)
    _index_lock: Any = field(default_factory=threading.Lock, repr=False,
                             compare=False)

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
        """The memory sink holds the full served snapshot in driver RAM
        (the lookup index copies at most ``_INDEX_MAX_ROWS`` of it).
        Count the snapshot (driver-local, cheap) and warn/refuse past the
        cap so a growing keyspace surfaces as a clear signal — with the
        fix named (storage="table", the bucketed beyond-driver-memory
        path) — instead of an eventual driver OOM. Re-checked after every
        refresh(); lookups between refreshes see an unchanged snapshot,
        so they skip the count."""
        if not self.memory_rows_cap:
            return
        n = self.spark.table(self.name).count()
        if n <= self.memory_rows_cap:
            return
        msg = (
            f"serve handle {self.name!r}: memory-sink snapshot holds {n:,} "
            f"rows (> max_memory_rows={self.memory_rows_cap:,}) in driver "
            "RAM. Re-serve with {'storage': 'table'} (bucketed catalog "
            "table, lookups prune to one bucket) or raise "
            "{'max_memory_rows': N} if the driver is sized for it."
        )
        if self.overflow == "error":
            raise ArityError(msg)
        import warnings

        warnings.warn(msg, ResourceWarning, stacklevel=3)

    def df(self) -> DataFrame:
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
        return self.df().collect()

    def lookup(self, key) -> list:
        """Rows for one key. ``key``: a scalar (single-column key), a
        tuple (positional composite), or a {col: value} dict.

        On a streaming ``storage: "memory"`` handle a probe that names
        every key column, each value non-NULL and of the exact Python
        type the column collects to (``str`` for strings, ``int`` for
        integral columns, a naive ``datetime`` for TIMESTAMP, a ``date``
        for DATE), is a dictionary read: no Spark job. The index is
        rebuilt from ``df()`` (so the ``__seq`` / tombstone /
        ``__closed`` rules apply as for a scan) once per memory-sink
        batch, so a lookup that starts after a batch commits sees that
        batch. The first lookup after a batch pays the rebuild (~9 us a
        row) and concurrent lookups wait for it. Every other probe —
        partial-key dicts, ``None``, an int on a string column, tz-aware
        datetimes, floats — every other handle, a snapshot of more than
        ``_INDEX_MAX_ROWS`` rows and a handle whose view name a later
        ``serve`` took over run the filtered scan
        ``df().filter(...).collect()``. A scan probe that makes Spark cast
        a served key which does not convert (``lookup(1)`` on a string
        key column holding ``"a"``) raises ArityError naming the column,
        its type and the probe's type; where every key converts, the
        scan's rows are returned."""
        items = self._key_items(key)
        if self._sink is not None:
            rows = self._index_lookup(items)
            if rows is not None:
                return rows
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

    def _index_lookup(self, items) -> Optional[list]:
        """The rows for a full-key probe read from the batch-versioned
        index, or None when the probe or the handle needs the scan."""
        if self._key_layout is None:
            schema = self.df().schema
            names = schema.fieldNames()
            self._key_layout = (
                [names.index(c) for c in self.key_cols if c in names],
                [_probe_type(schema[c].dataType) if c in names else None
                 for c in self.key_cols],
            )
        positions, types = self._key_layout
        probe = dict(items)
        if probe.keys() != set(self.key_cols):
            return None
        vals = []
        for c, t in zip(self.key_cols, types):
            v = probe[c]
            if t is None or type(v) is not t:
                return None
            if t is datetime:
                if v.tzinfo is not None:
                    return None
                # the instant a literal of v compares at, as it collects
                v = _TS.fromInternal(_TS.toInternal(v))
            vals.append(v)
        version = self._batch_id()
        if version is None:
            return None
        index = self._index
        if index is None or index[0] < version:
            index = self._rebuild_index(version, positions)
            if index is None:
                return None
        return list(index[1].get(vals[0] if len(vals) == 1 else tuple(vals), ()))

    def _batch_id(self) -> Optional[int]:
        """The memory sink's latest batch id (-1 before the first); the
        sink sets it when the batch's rows land, before the checkpoint
        commit. None once the view ``name`` is no longer the one this
        handle's sink registered (the query finished and a new ``serve``
        took the name): the index then stops for good, so lookups read
        the view that ``all()`` and ``df()`` read."""
        sink = self._sink
        if sink is None:
            return None
        if not self._owns_view():
            self._sink = self._index = None
            return None
        latest = sink.latestBatchId()
        return -1 if latest.isEmpty() else latest.get()

    def _rebuild_index(self, version: int, positions) -> Optional[tuple]:
        """Publish the index for ``version``, or stop indexing (None) once
        the snapshot holds more than ``_INDEX_MAX_ROWS`` rows. The version
        was read before this collect, so the index may hold a newer batch
        than its label (costing one extra rebuild), never an older one.
        Readers of a published index take no lock."""
        with self._index_lock:
            index = self._index
            if self._sink is None:
                return None
            if index is None or index[0] < version:
                rows = self.df().limit(_INDEX_MAX_ROWS + 1).collect()
                if len(rows) > _INDEX_MAX_ROWS:
                    # a served keyspace rarely shrinks: scan from now on
                    self._sink = self._index = None
                    return None
                key_of = itemgetter(*positions)
                groups: dict = {}
                for row in rows:
                    groups.setdefault(key_of(row), []).append(row)
                index = self._index = (version, groups)
        return index

    def refresh(self) -> "ServeHandle":
        """Streaming handles: block until everything currently available
        at the source has been processed into the serving table."""
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

    def _owns_view(self) -> bool:
        """Whether temp view ``name`` is still the one this handle
        registered (a later ``serve`` may have taken the name over)."""
        if self._view is None:
            return False
        catalog, view = self._view
        return view.equals(catalog.getTempView(self.name))

    def stop(self) -> None:
        """Stop the handle's query and drop the temp view it registered,
        so the name no longer shadows a catalog table. A view that a
        later ``serve`` took the name over with is left in place."""
        if self.query is not None and self.query.isActive:
            self.query.stop()
        if self._owns_view():
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
    "timeout": s, "output_mode": ...}] — materialize + return a lookup
    handle. ``trigger`` defaults to ``"available_now"``, which waits up
    to ``timeout`` seconds (default 120) for the query to drain and
    raises StreamTimeoutError past it."""
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
    storage = opts.get("storage", "memory")
    buckets = int_opt(opts, "buckets", "serve", 8)
    overflow = str_opt(opts, "overflow", "serve", "warn",
                       choices=("warn", "error"))
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
    # trigger (complete); stateful-processor tables (changelog join) are
    # update-mode-only and dedup at read; plain streams append.
    mode = opts.get("output_mode") or (
        "update" if update_only
        else "complete" if isinstance(rel, KTableRel)
        else "append"
    )
    if update_only and mode != "update":
        raise ArityError(
            "this table comes from a stateful processor (changelog join): "
            "Spark only runs it in update output mode — drop the "
            f"output_mode override ({mode!r}); lookups dedup to the latest "
            "emission per key automatically"
        )

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

        w = rel.df.writeStream.foreachBatch(write_batch).outputMode(mode)
    else:
        w = rel.df.writeStream.format("memory").queryName(name).outputMode(mode)
    trig = opts.get("trigger", "available_now")
    timeout = float_opt(opts, "timeout", "serve", 120.0)
    q = with_stream_opts(w, {**opts, "trigger": trig}).start()
    sink = view = None
    if storage != "table":
        # the index labels rows read from the view with the sink's batch
        # id: both are taken now, while the view is this query's
        sink, view = q._jsq.streamingQuery().sink(), _view_of(ctx.spark, name)
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
        _view=view,
        _sink=sink,
    )
    if trig == "available_now":
        handle._check_memory_ceiling()
    return handle
