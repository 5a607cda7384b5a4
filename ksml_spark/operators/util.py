"""Shared physical-plan and option helpers for operator implementations."""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Optional

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def opts_of(rest) -> dict:
    """Merge the dict arguments of an operator form (last wins).

    None-valued keys are DROPPED: an explicit ``{"opt": None}`` means
    "unset" — the programmatic opts-building contract (r14). Every
    option reads a missing key as absence, and letting None through
    instead produced opaque NoneType crashes downstream (option
    arithmetic, F.col(None), int(None)) for what a user meant as
    "use the default"."""
    o: dict = {}
    for r in rest:
        if isinstance(r, dict):
            # filter BEFORE merging: a later {"opt": None} is "as if the
            # key were absent" and must NOT erase an earlier dict's real
            # value (matching every bespoke parse site's semantics)
            o.update({k: v for k, v in r.items() if v is not None})
    return o


def int_opt(opts: dict, key: str, op: str, default=None, lo=None):
    """Curated int option parse — the ONE implementation behind every
    integer option read (r16, closing the ``int(opts.get(k, d))``
    None-safety class the r15 verdict counted at ~53 sites).

    Contract (the pos_int_opt rules, generalized):
    - None-safe independently of opts_of: a present-but-None value
      reads the DEFAULT (None means "unset" engine-wide), never
      ``int(None)``.
    - booleans are ints in Python ({'n': True} -> 1) and floats
      truncate (int(2.9) -> 2): both would pass a bare ``int()`` with
      a DIFFERENT value than the user wrote — refuse curatedly rather
      than reinterpret. Integral floats (2.0) and numeric strings
      ("17") stay accepted (the historical surface).
    - ``lo`` bounds the minimum when the option has one (0 for the
      "0 disables" guard caps, 1 for widths/counts); sites whose full
      int range is meaningful pass no bound.
    """
    from ..errors import ArityError

    desc = ("a positive int" if lo == 1
            else "a non-negative int" if lo == 0 else "an int")
    raw = opts.get(key)
    if raw is None:
        raw = default
    if raw is None:
        return None
    if isinstance(raw, bool) or (isinstance(raw, float) and not raw.is_integer()):
        raise ArityError(f"{op}: {key} must be {desc}, got {raw!r}")
    try:
        val = int(raw)
    except (TypeError, ValueError):
        raise ArityError(f"{op}: {key} must be {desc}, got {raw!r}") from None
    if lo is not None and val < lo:
        raise ArityError(f"{op}: {key} must be >= {lo}, got {val}")
    return val


def float_opt(opts: dict, key: str, op: str, default=None):
    """Curated float option parse — the float sibling of int_opt (r16),
    closing the same classes for the threshold/smoothing/bias surface:

    - None-safe independently of opts_of (present-but-None reads the
      DEFAULT, never ``float(None)``).
    - booleans refuse: ``float(True) -> 1.0`` would pass a threshold
      the user never wrote.
    - NaN refuses (including ``"nan"`` strings): every comparison
      against a NaN threshold is False, so a NaN silently drops ALL
      pairs / disables a filter — the silent-wrong class, worse than a
      crash. Infinities stay accepted (a +inf cap is a meaningful
      "no limit").
    - junk strings refuse curatedly instead of a raw ValueError
      mid-construction. Ints and numeric strings parse as before.

    Range checks stay at the call sites — each option documents its own
    domain there (k > 0, 0 < discount < 1, ...)."""
    from ..errors import ArityError

    raw = opts.get(key)
    if raw is None:
        raw = default
    if raw is None:
        return None
    if isinstance(raw, bool):
        raise ArityError(f"{op}: {key} must be a number, got {raw!r}")
    try:
        val = float(raw)
    except (TypeError, ValueError):
        raise ArityError(f"{op}: {key} must be a number, got {raw!r}") from None
    if val != val:
        raise ArityError(
            f"{op}: {key} is NaN — every comparison against NaN is false, "
            "which silently disables the option; pass a real number or "
            "omit the key"
        )
    return val


def str_opt(opts: dict, key: str, op: str, default=None, choices=None):
    """Curated string option parse — the string sibling of
    int_opt/float_opt (r16). The dangerous case is the SALT surface:
    ``str(opts.get("salt", ""))`` turns a present-but-None into the
    literal string ``"None"``, silently re-drawing every hash-split /
    sample / mix assignment — the silent-wrong class. None-safe like
    the numeric parses; ints coerce faithfully (a numeric salt means
    its digits); bools and other types refuse rather than reinterpret
    (str(True) -> "True"). ``choices`` enforces an enum curatedly."""
    from ..errors import ArityError

    raw = opts.get(key)
    if raw is None:
        raw = default
    if raw is None:
        return None
    if isinstance(raw, bool) or not isinstance(raw, (str, int)):
        raise ArityError(f"{op}: {key} must be a string, got {raw!r}")
    val = str(raw)
    if choices is not None and val not in choices:
        raise ArityError(
            f"{op}: {key} must be one of {list(choices)}, got {val!r}"
        )
    return val


def pos_int_opt(opts: dict, key: str, op: str, default=None):
    """Curated positive-int parse for vector-width / LSH-dims options
    (late r13, the zero-divisor refusal class): a zero or negative
    value otherwise reaches ``F.slice`` / the unrolled dot chain and
    aborts at first action with an opaque runtime error (negative
    slice length), and a junk string surfaces as a raw
    TypeError/ValueError mid-construction. None stays None (the
    dynamic-width zip_with paths). A literal 0 is REFUSED rather than
    read as "unspecified" — omitting the key is the documented way to
    get dynamic width. (r16: thin wrapper over the shared int_opt.)"""
    return int_opt(opts, key, op, default, lo=1)


def req_opt(opts: dict, key: str, op: str):
    """Fetch a REQUIRED option or raise the curated ArityError — a
    missing mandatory option is a DSL usage error and must never
    surface as a raw ``KeyError``."""
    from ..errors import ArityError

    if key not in opts:
        raise ArityError(f"{op} requires {{'{key}': ...}}")
    return opts[key]


def refuse_removed_opt(opts: dict, key: str, op: str, replacement: str) -> None:
    """Curated refusal of a retired implementation switch or caching
    hint: the op now picks its own path / storage level, and a form
    still passing ``key`` gets an ArityError naming what replaced it
    instead of a silently ignored option."""
    from ..errors import ArityError

    if key in opts:
        raise ArityError(
            f"{op}: option {key!r} was removed — {replacement}; drop the key"
        )


# Replacements named by the refusals of the retired caching options.
STORAGE_REMOVED = "the operator pins DISK_ONLY"
PERSIST_REMOVED = ('wrap the input in ["persist", rel] upstream, which pins '
                   "it in the bounded registry")


# One lock for every scoped flip of a session-wide conf: two threads
# interleaving their save/set/restore would otherwise restore each
# other's "prev" and leave the session at the flipped value for good.
_SESSION_CONF_LOCK = threading.RLock()


@contextmanager
def session_conf(spark, key: str, value: str):
    """Set a session-wide conf around an EAGER step (schema inference, a
    collect), then restore it, under the one lock above."""
    conf = spark.conf
    with _SESSION_CONF_LOCK:
        prev = conf.get(key)
        conf.set(key, value)
        try:
            yield
        finally:
            conf.set(key, prev)


def order_cols(order) -> list[Column]:
    """Parse order specs: ``"col"`` ascending, ``"-col"`` descending
    (the order-by convention)."""
    items = [order] if isinstance(order, str) else list(order)
    return [
        F.col(o[1:]).desc() if isinstance(o, str) and o.startswith("-") else F.col(o)
        for o in items
    ]


def shuffle_partitions(df: DataFrame, default: int = 200) -> int:
    """The session's shuffle parallelism, tolerating non-integer values
    (Databricks auto-optimized shuffle sets the conf to 'auto')."""
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return default


def source_bytes(df: DataFrame) -> Optional[int]:
    """Total size of the DataFrame's source files, or None when unknown
    (non-local paths, no file source). Cheap: a logical-plan walk plus
    local stat calls."""
    import os

    try:
        files = df.inputFiles()
        total = 0
        for f in files:
            p = f[7:] if f.startswith("file:///") else f
            if not p.startswith("/"):
                return None
            total += os.path.getsize(p)
        return total if files else None
    except Exception:
        return None


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a batch DataFrame when its source has fewer
    files than the configured shuffle parallelism.

    A small parquet file scans as one split, so compute-heavy per-row work
    (quadratic broadcast-join pair generation, per-row fold expressions)
    would run in a single task while the other cores idle; spreading one
    split's rows is a trivial shuffle. At scale the condition never fires
    (a 100 TB scan already has thousands of files) so no extra exchange is
    added to the real plan.

    The check counts source FILES (df.inputFiles() — a logical-plan walk,
    ~10ms) rather than scan partitions: df.rdd.getNumPartitions() would
    finalize the physical plan and, under AQE, run a real job (~1.3s)
    just to ask the question."""
    if df.isStreaming:  # micro-batch parallelism is the source's concern
        return df
    nparts = shuffle_partitions(df)
    try:
        nfiles = len(df.inputFiles())
    except Exception:
        return df
    if 0 < nfiles < nparts:
        return df.repartition(nparts)
    return df


# Bounded registry of operator-pinned (persisted) DataFrames.  The pair
# operators (jaccard / containment), lsh-candidates, and the persist op
# persist intermediate relations that the CALLER's later action
# materializes — the operator can't unpersist them eagerly without
# defeating the pin (Spark is lazy).  In a long-lived session, repeated
# invocations would otherwise accumulate cache blocks until the driver
# GCs the refs.  The registry gives that a hard bound: pins beyond the
# cap evict oldest-first (correctness-neutral — an evicted pin just
# recomputes from its lineage), and ``release_pinned()`` frees
# everything, for callers that know a batch of pair queries is done.
_PINNED: list[DataFrame] = []
_PIN_CAP = 8


def pin(df: DataFrame, level=None) -> DataFrame:
    """persist() with bounded-registry bookkeeping (see _PINNED above).
    DISK_ONLY by default: corpus-sized relations would thrash executor
    storage memory at 100 TB; only model-sized sites pass
    MEMORY_AND_DISK."""
    p = df.persist(level or StorageLevel.DISK_ONLY)
    _PINNED.append(p)
    while len(_PINNED) > _PIN_CAP:
        try:
            _PINNED.pop(0).unpersist(blocking=False)
        except Exception:
            pass  # a stopped session can't unpersist; dropping the ref is enough
    return p


def release_pinned() -> int:
    """Unpersist every operator-pinned relation; returns how many."""
    n = len(_PINNED)
    while _PINNED:
        try:
            _PINNED.pop().unpersist(blocking=False)
        except Exception:
            pass
    return n


def let1(bound, body):
    """Expression-level let-binding: evaluate ``bound`` ONCE per row and
    pass it to ``body`` as a higher-order-function lambda variable.

    Spark evaluates HOF lambda bodies interpreted with NO common-
    subexpression elimination, so a captured subtree (a tokenization,
    an md5 chain) inlined inside ``transform``/``aggregate`` lambdas is
    re-evaluated on EVERY element — turning a linear per-row fan-out
    into a quadratic one (measured r18: the cooccurrence pair fan-out
    dropped 7.0s -> 1.2s at sf0.1 from this binding alone; the winnow
    ``__h`` projection documents the same hazard). Wrapping the subtree
    as the single element of an array and transforming it binds the
    value once; lambda-variable reads are O(1).

    Only ARGUMENT positions of HOFs are evaluated once — anything a
    lambda body references must be a lambda variable or pay per-element
    re-evaluation. ``element_at(.., 1)`` unwraps the singleton result."""
    from pyspark.sql import functions as F

    return F.element_at(F.transform(F.array(bound), body), 1)


def md5_long_col(col, hex_chars: int = 15):
    """Engine-portable long hash: the first ``hex_chars`` hex digits of
    md5(col) as a non-negative BIGINT. DuckDB reproduces it exactly as
    ``('0x' || substr(md5(x), 1, hex_chars))::BIGINT``, so oracles stay
    hash-exact.

    Default 15 hex digits = 60 bits — the widest md5 slice that stays
    positive in a signed 64-bit long; at corpus scale (1e9+ distinct
    values) 32-bit slices take birthday collisions that merge unrelated
    identities. Pass 8 (32 bits) ONLY where a fixed 2^32 cutoff domain
    is the point (hash-split / sample-hash fraction thresholds) or where
    a 32-bit lane is the published construction (minhash, simhash
    halves) — never for join/identity hashing."""
    from pyspark.sql import functions as F

    return F.conv(F.substring(F.md5(col), 1, hex_chars), 16, 10).cast("long")
