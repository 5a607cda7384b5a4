"""Stateful processor escape hatch (SURVEY.md §2.6, M7).

Reference: :processor-supplier /root/reference/src/cddr/ksml/eval.clj:310-323
(raw per-record processor with init hook + state store access; commented
use :process! eval_test.clj:421-425) and :transformer-supplier
eval.clj:325-338 (1-in -> 1-out with return value; eval_test.clj:277).

Spark mapping: a keyed, Arrow-batched stateful function —

    ["process", s, fn, {"schema": <output DDL>,
                        "state": <state DDL, streaming only>,
                        "mode": "update"|"append",
                        "timeout": "NoTimeout"|"ProcessingTimeTimeout"|...}]

with ONE user-function contract for both modes (the unified-API analog of
the reference's Processor):

    fn(key: tuple, pdfs: Iterator[pandas.DataFrame], state) -> Iterator[pandas.DataFrame]

* streaming: compiled to ``applyInPandasWithState`` — ``state`` is Spark's
  GroupState (get/update/remove/timeout), backed by the state store and
  checkpointed, exactly the reference's per-key state store semantics.
* batch: compiled to ``applyInPandas`` with an in-memory ``BatchGroupState``
  per key — the whole group arrives as one batch, state starts empty.

Scale posture: one shuffle on the grouping key (same as any keyed agg);
state is per-key and partition-local. This is the documented slow path —
per SURVEY.md §7, express logic as Column expressions when possible.
"""

from __future__ import annotations

from typing import Any, Iterator, Optional

from pyspark.sql import functions as F

from ..errors import ArityError
from .util import opts_of, refuse_removed_opt
from ..eval import Ctx, defop
from ..exprs import Lambda
from ..model import KStreamRel, Rel


class BatchGroupState:
    """Batch stand-in for pyspark GroupState: per-key scratch state that
    lives for the duration of one applyInPandas group."""

    def __init__(self) -> None:
        self._value: Optional[tuple] = None

    @property
    def exists(self) -> bool:
        return self._value is not None

    def get(self) -> tuple:
        if self._value is None:
            raise ValueError("state does not exist")
        return self._value

    def getOption(self) -> Optional[tuple]:
        return self._value

    def update(self, value) -> None:
        self._value = tuple(value)

    def remove(self) -> None:
        self._value = None

    @property
    def hasTimedOut(self) -> bool:
        return False

    def setTimeoutDuration(self, *_args) -> None:  # no timers in batch
        pass

    def setTimeoutTimestamp(self, *_args) -> None:
        pass


@defop("process", "transform", "processor", "transformer")
def op_process(ctx: Ctx, rel: Rel, *rest) -> KStreamRel:
    """[:process!/:transform s fn {opts}] — keyed stateful processor."""
    fn = None
    opts: dict = {}
    for r in rest:
        if isinstance(r, Lambda):
            fn = r.fn
        elif callable(r) and not isinstance(r, dict):
            fn = r
        elif isinstance(r, dict):
            # None-valued keys mean "unset" (the opts_of contract)
            opts.update({k: v for k, v in r.items() if v is not None})
    if fn is None:
        raise ArityError("process needs a (key, batches, state) function")
    schema = opts.get("schema")
    if not schema:
        raise ArityError("process needs {'schema': <output DDL>}")
    key_cols = list(opts.get("key") or rel.key_cols)
    if not key_cols:
        raise ArityError("process requires key columns")

    if rel.df.isStreaming:
        state_schema = opts.get("state")
        if not state_schema:
            raise ArityError("streaming process needs {'state': <DDL>}")
        out = rel.df.groupBy(*[F.col(c) for c in key_cols]).applyInPandasWithState(
            fn,
            outputStructType=schema,
            stateStructType=state_schema,
            outputMode=opts.get("mode", "update"),
            timeoutConf=opts.get("timeout", "NoTimeout"),
        )
        return KStreamRel(out, key_cols=tuple(key_cols))

    from pyspark.sql.types import StructType

    out_names = (
        schema.fieldNames()
        if isinstance(schema, StructType)
        else StructType.fromDDL(schema).fieldNames()
    )

    def batch_fn(key, pdf):
        import pandas as pd

        chunks = list(fn(key, iter([pdf]), BatchGroupState()))
        if not chunks:
            # applyInPandas validates returned column names against the
            # output schema even for 0 rows — a bare DataFrame({}) fails.
            return pd.DataFrame(columns=out_names)
        return pd.concat(chunks, ignore_index=True)

    out = rel.df.groupBy(*[F.col(c) for c in key_cols]).applyInPandas(batch_fn, schema)
    return KStreamRel(out, key_cols=tuple(key_cols))


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _has_protobuf() -> bool:
    """transformWithStateInPandas' worker protocol imports google.protobuf
    at EXECUTION time; plan construction works without it."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except Exception:
        return False


class _ShimTimerValues:
    """TimerValues stand-in for the batch shim (timeMode 'none': no
    meaningful clocks, matching Spark's -1 sentinels)."""

    def getCurrentProcessingTimeInMs(self) -> int:
        return -1

    def getCurrentWatermarkInMs(self) -> int:
        return -1


class _ShimValueState:
    def __init__(self) -> None:
        self._v: Optional[tuple] = None

    def exists(self) -> bool:
        return self._v is not None

    def get(self) -> Optional[tuple]:
        return self._v

    def update(self, new_value) -> None:
        self._v = tuple(new_value)

    def clear(self) -> None:
        self._v = None


class _ShimListState:
    def __init__(self) -> None:
        self._items: list[tuple] = []

    def exists(self) -> bool:
        return bool(self._items)

    def get(self) -> Iterator[tuple]:
        return iter(list(self._items))

    def put(self, new_state) -> None:
        self._items = [tuple(v) for v in new_state]

    def appendValue(self, new_state) -> None:
        self._items.append(tuple(new_state))

    def appendList(self, new_state) -> None:
        self._items.extend(tuple(v) for v in new_state)

    def clear(self) -> None:
        self._items = []


class _ShimMapState:
    def __init__(self) -> None:
        self._m: dict = {}

    def exists(self) -> bool:
        return bool(self._m)

    def getValue(self, key):
        return self._m.get(tuple(key) if isinstance(key, (list, tuple)) else (key,))

    def containsKey(self, key) -> bool:
        k = tuple(key) if isinstance(key, (list, tuple)) else (key,)
        return k in self._m

    def updateValue(self, key, value) -> None:
        k = tuple(key) if isinstance(key, (list, tuple)) else (key,)
        self._m[k] = tuple(value)

    def iterator(self) -> Iterator[tuple]:
        return iter(list(self._m.items()))

    def keys(self) -> Iterator[tuple]:
        return iter(list(self._m))

    def values(self) -> Iterator[tuple]:
        return iter(list(self._m.values()))

    def removeKey(self, key) -> None:
        k = tuple(key) if isinstance(key, (list, tuple)) else (key,)
        self._m.pop(k, None)

    def clear(self) -> None:
        self._m = {}


class _ShimHandle:
    """StatefulProcessorHandle stand-in for the batch shim: typed state
    registration returns per-key transient stores (exactly the state
    lifetime Spark's own batch transformWithStateInPandas provides —
    state starts empty per key and is discarded after the group).
    Timers require a time mode and a streaming clock; the shim runs
    timeMode 'none' where real Spark rejects timer registration too."""

    def __init__(self) -> None:
        self._states: dict = {}

    # ttlDurationMs is the NATIVE PySpark spelling
    # (StatefulProcessorHandle.getValueState(stateName, schema,
    # ttlDurationMs)); the snake_case alias is kept for callers written
    # against older shim revisions (ADVICE r16) — a processor using the
    # native spelling must run unchanged on both paths.

    def getValueState(self, state_name: str, schema=None, ttl_duration_ms=None,
                      ttlDurationMs=None):
        return self._states.setdefault(state_name, _ShimValueState())

    def getListState(self, state_name: str, schema=None, ttl_duration_ms=None,
                     ttlDurationMs=None):
        return self._states.setdefault(state_name, _ShimListState())

    def getMapState(self, state_name: str, user_key_schema=None,
                    value_schema=None, ttl_duration_ms=None,
                    ttlDurationMs=None):
        return self._states.setdefault(state_name, _ShimMapState())

    def deleteIfExists(self, state_name: str) -> None:
        self._states.pop(state_name, None)

    def registerTimer(self, expiry_time_stamp_ms: int) -> None:
        raise RuntimeError(
            "timers are unavailable in the transform-with-state batch shim "
            "(timeMode 'none'); run streaming with google.protobuf installed"
        )

    def listTimers(self) -> Iterator[int]:
        return iter(())

    def deleteTimer(self, expiry_time_stamp_ms: int) -> None:
        pass


def _transform_with_state_shim(rel: Rel, proc, schema, key_cols) -> KStreamRel:
    """Protobuf-free batch execution of a StatefulProcessor: the exact
    per-key lifecycle Spark's own batch transformWithStateInPandas runs
    (fresh empty state per key, one handleInputRows call over the whole
    group, state discarded afterwards), compiled to applyInPandas.

    Same shuffle as the native path (one exchange on the grouping key);
    state lives on the executor for the duration of one Arrow group.

    The exchange is an EXPLICIT repartition at the session's shuffle
    parallelism (r16 stage-audit fix): the processor stage is Python-
    CPU-heavy but often bytes-small, exactly the shape AQE's
    byte-targeted coalescing collapses to one task — serializing ALL
    the per-key Python work while 31 cores idle (observed on the
    transform_with_state_ttl row: 1 task, 4.25s hot). An explicit
    width is preserved by AQE, and groupBy on the same keys reuses the
    hash partitioning, so the plan still has exactly one exchange."""
    import pandas as pd
    from pyspark.sql.types import StructType

    from .util import shuffle_partitions

    st = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    out_names = st.fieldNames()

    def group_fn(key, pdf):
        handle = _ShimHandle()
        proc.init(handle)
        try:
            chunks = list(proc.handleInputRows(key, iter([pdf]), _ShimTimerValues()))
        finally:
            try:
                proc.close()
            except Exception:
                pass
        if not chunks:
            return pd.DataFrame(columns=out_names)
        return pd.concat(chunks, ignore_index=True)

    src = rel.df.repartition(
        shuffle_partitions(rel.df), *[F.col(c) for c in key_cols])
    out = src.groupBy(*[F.col(c) for c in key_cols]).applyInPandas(group_fn, st)
    return KStreamRel(out, key_cols=tuple(key_cols))


@defop("transform-with-state")
def op_transform_with_state(ctx: Ctx, rel: Rel, *rest) -> KStreamRel:
    """Spark-4-native stateful processor — the closest analog of the
    reference's Processor interface (init hook, per-key state stores,
    punctuation):

        ["transform-with-state", s, processor, {"schema": <output DDL>,
                                                "mode": "update"|"append",
                                                "time": "none"|"processingTime"|"eventTime"}]

    ``processor`` is a ``pyspark.sql.streaming.StatefulProcessor``
    (instance or zero-arg factory): ``init(handle)`` ≈ Processor#init
    with typed state handles (value/list/map state, TTL),
    ``handleInputRows(key, rows, timerValues)`` ≈ Processor#process, and
    registered timers ≈ punctuate() — the piece ``applyInPandasWithState``
    (the ``process`` op) cannot express. Runs on batch AND streaming
    input with identical semantics (batch groups get transient state).

    Requires the RocksDB state store provider; it is set on the session
    if the conf is still on the HDFS default (runtime-settable, applies
    at query start). Batch input additionally needs the driver's
    StateStoreCoordinator RPC endpoint, which Spark only creates lazily
    for streaming queries — this op forces its creation (else batch runs
    die with RpcEndpointNotFoundException). NATIVE execution (not plan
    construction) needs ``google.protobuf`` in the Python env — the
    worker's state-server protocol uses it, so the path follows the
    environment: with protobuf the native operator runs; without it,
    BATCH input runs a semantics-preserving shim (fresh empty state per
    key, one handleInputRows pass per group, state discarded — the
    native batch lifecycle, compiled to applyInPandas), and streaming
    input gets a curated construction-time refusal pointing at the
    ``process`` op. Scale posture: one shuffle on the
    grouping key; state is per-key, partition-local, RocksDB-backed with
    changelog checkpointing — the Kafka Streams state-store model,
    verbatim."""
    proc = None
    opts = {}
    for r in rest:
        if isinstance(r, dict):
            # None-valued keys mean "unset" (the opts_of contract)
            opts.update({k: v for k, v in r.items() if v is not None})
        elif r is not None:
            proc = r
    refuse_removed_opt(
        opts, "impl", "transform-with-state",
        "the native operator runs when google.protobuf is installed, the "
        "batch shim otherwise",
    )
    schema = opts.get("schema")
    if proc is None or schema is None:
        raise ArityError(
            "transform-with-state needs a StatefulProcessor and {'schema': <DDL>}"
        )
    from pyspark.sql.streaming import StatefulProcessor

    if not isinstance(proc, StatefulProcessor) and callable(proc):
        proc = proc()
    if not isinstance(proc, StatefulProcessor):
        raise ArityError(
            "transform-with-state processor must be a StatefulProcessor "
            "(instance or zero-arg factory)"
        )
    key_cols = list(opts.get("key") or rel.key_cols)
    if not key_cols:
        raise ArityError("transform-with-state requires key columns")

    if not _has_protobuf():
        if rel.df.isStreaming:
            raise ArityError(
                "transform-with-state streaming execution needs "
                "google.protobuf (the worker state-server protocol); this "
                "environment lacks it — use the 'process' op "
                "(applyInPandasWithState) for streaming stateful logic, or "
                "run this plan on batch input (protobuf-free shim)"
            )
        return _transform_with_state_shim(rel, proc, schema, key_cols)

    conf = ctx.spark.conf
    current = conf.get("spark.sql.streaming.stateStore.providerClass", "")
    # only upgrade from unset / the HDFS default — a user-configured
    # custom provider must not be silently clobbered session-wide
    if not current or current.rsplit(".", 1)[-1] == "HDFSBackedStateStoreProvider":
        conf.set("spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER)
    elif "RocksDB" not in current:
        raise ArityError(
            "transform-with-state requires the RocksDB state store provider; "
            f"session is configured with {current}"
        )
    if not rel.df.isStreaming:
        try:  # force-create the lazily-registered coordinator endpoint
            ctx.spark._jsparkSession.streams().stateStoreCoordinator()
        except Exception:
            pass  # older/newer internals: let Spark surface its own error

    out = rel.df.groupBy(*[F.col(c) for c in key_cols]).transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType=schema,
        outputMode=opts.get("mode", "update"),
        timeMode=opts.get("time", "none"),
    )
    return KStreamRel(out, key_cols=tuple(key_cols))
