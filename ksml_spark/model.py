"""Relational model: typed wrappers around Spark DataFrames.

The reference's fundamental abstractions (SURVEY.md §1.1) are KStream,
KTable, GlobalKTable and grouped/windowed intermediates
(/root/reference/src/cddr/ksml/eval.clj:71-73,148-162). Here each is a thin
wrapper over a DataFrame plus record-model metadata:

* ``key_cols``   — the columns that play the Kafka record *key* (drive
                   grouping, joins, partitioning).
* ``time_col``   — the event-time column (Kafka record timestamp).

The wrapper does NOT copy or collect anything: ``df`` holds a lazy logical
plan; Catalyst owns the DAG (the reference's Topology, core.clj:18-23).
Wide relational tables work directly (key_cols can be any columns); the
classic Kafka (key, value, event_time) shape is just the special case of a
one-column key.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class Rel:
    """Base: a DataFrame + record-model metadata."""

    df: DataFrame
    key_cols: tuple[str, ...] = ()
    time_col: Optional[str] = None
    name: Optional[str] = None  # [:named "x"] metadata

    # ---- record-model helpers -------------------------------------------
    def key_expr(self) -> Column:
        """The key as a single Column: the column itself for single-column
        keys, else a struct of the key columns."""
        if not self.key_cols:
            raise ValueError(f"{type(self).__name__} has no key columns")
        if len(self.key_cols) == 1:
            return F.col(self.key_cols[0])
        return F.struct(*[F.col(c) for c in self.key_cols])

    def value_col_names(self) -> list[str]:
        """All non-key, non-time columns (the record *value*)."""
        skip = set(self.key_cols) | ({self.time_col} if self.time_col else set())
        return [c for c in self.df.columns if c not in skip]

    def value_expr(self) -> Column:
        """The value as a single Column: the column itself if exactly one
        value column, else a struct of the value columns."""
        vals = self.value_col_names()
        if len(vals) == 1:
            return F.col(vals[0])
        return F.struct(*[F.col(c) for c in vals])

    def with_df(self, df: DataFrame, **kw) -> "Rel":
        return replace(self, df=df, **kw)

    def is_streaming(self) -> bool:
        return self.df.isStreaming

    def explain(self, mode: str = "formatted") -> None:
        self.df.explain(mode)


@dataclass
class KStreamRel(Rel):
    """Append-only record stream (reference :stream, eval.clj:71)."""


@dataclass
class KTableRel(Rel):
    """Changelog table: df IS the current latest-per-key view (tombstones
    already removed). Reference :table, eval.clj:72; SURVEY.md §1.1.

    ``changelog`` — set only by [:table ...] on a STREAMING source:
    (raw_changelog_df, order_cols, tombstone_col). The streaming
    table⋈table join consumes the raw changelogs (one stateful operator
    subsumes both views + the join — Spark refuses joins between two
    aggregated streams). Any view transform invalidates it (with_df
    resets to None): the transform applies to the view, not the log.

    ``update_only`` — True when df is produced by a stateful processor
    (applyInPandasWithState, e.g. the streaming changelog join): such
    plans only run in update output mode (Spark rejects complete), emit
    a ``__seq`` emission counter, and may retract via all-NULL-value
    rows. Consumers (the serving layer) must dedup to max __seq per key."""

    changelog: Optional[tuple] = None
    update_only: bool = False

    def with_df(self, df: DataFrame, **kw) -> "KTableRel":
        kw.setdefault("changelog", None)
        return replace(self, df=df, **kw)


@dataclass
class GlobalKTableRel(Rel):
    """Fully-replicated lookup table; joins against it broadcast.
    Reference :global-table, eval.clj:73."""


@dataclass
class WindowSpec:
    """A window definition (reference TimeWindows / JoinWindows /
    session stores, eval.clj:32,220-226; SURVEY.md §2.5).

    kind: "tumbling" | "hopping" | "session" | "join"
    Durations are Spark interval strings ("60 seconds").
    """

    kind: str
    size: str  # window size (tumbling/hopping), gap (session), reach (join)
    slide: Optional[str] = None  # hopping only
    grace: Optional[str] = None  # watermark delay / retention

    def column(self, time_col: str) -> Column:
        if self.kind == "tumbling":
            return F.window(F.col(time_col), self.size)
        if self.kind == "hopping":
            return F.window(F.col(time_col), self.size, self.slide or self.size)
        if self.kind == "session":
            return F.session_window(F.col(time_col), self.size)
        raise ValueError(f"window kind {self.kind!r} has no grouping column")


@dataclass
class GroupedRel:
    """Result of :group-by / :group-by-key (reference eval.clj:148-154):
    a DataFrame with materialized grouping-key columns, awaiting an
    aggregation. ``window`` set by :windowed-by."""

    df: DataFrame
    key_cols: tuple[str, ...]
    time_col: Optional[str] = None
    window: Optional[WindowSpec] = None
    source_is_table: bool = False

    def grouping_cols(self) -> list[Column]:
        cols = [F.col(c) for c in self.key_cols]
        if self.window is not None:
            if self.time_col is None:
                raise ValueError("windowed grouping requires a time column")
            cols = [self.window.column(self.time_col)] + cols
        return cols


@dataclass
class BranchedRel:
    """Result of :branch (reference eval.clj:100-106): N filtered streams,
    first-match-wins. Index or name to select a branch."""

    branches: list[KStreamRel]

    def __getitem__(self, i: int) -> KStreamRel:
        return self.branches[i]

    def __len__(self) -> int:
        return len(self.branches)
