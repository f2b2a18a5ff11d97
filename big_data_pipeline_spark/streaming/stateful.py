"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference has no streaming at all (SURVEY.md §2.9); the built-in
windowed aggregations in streaming/windows.py cover the declarative
surface. This module covers the *imperative* stateful surface — the
Spark-native escape hatch for operators the SQL engine can't express
(per-key state machines, custom eviction, exponential averages).

Implemented operator: per-user running statistics (event count, value
sum, exponentially weighted moving average of ``value``) maintained in
a GroupState, emitting one row per key per micro-batch.

Timeout note: a continuously running deployment should pass
``GroupStateTimeout.ProcessingTimeTimeout`` and call
``state.setTimeoutDuration`` so quiet keys stop consuming state-store
memory. This module defaults to ``NoTimeout`` because pending
processing-time timeouts keep scheduling extra micro-batches after an
``availableNow`` drain has consumed all data — the query then never
terminates (observed: hundreds of empty batches) — and the drain is
this engine's verification path.

The EWMA recurrence is order-sensitive; each micro-batch's events of a
group are sorted by (ts, event_id) across all the Arrow batches they
arrive in, and correctness is asserted against a batch pandas
recomputation in tests (availableNow = single batch, so the recurrence
sees every event exactly once, in order).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

_ALPHA = 0.2


def _advance_stats(
    stats: tuple, batches: Iterator[pd.DataFrame]
) -> tuple:
    """Shared recurrence for BOTH stateful APIs (applyInPandasWithState
    and transformWithStateInPandas): one implementation, so the
    equivalence the tests assert can't silently desynchronize."""
    n, total, ewma = stats
    # A group's micro-batch arrives as several Arrow batches (at most
    # spark.sql.execution.arrow.maxRecordsPerBatch rows each) in no
    # particular order: sort the whole group, not each batch.
    pdfs = list(batches)
    if not pdfs:
        return stats
    pdf = pd.concat(pdfs, ignore_index=True)
    for v in pdf.sort_values(["ts", "event_id"], kind="mergesort")["value"]:
        n += 1
        total += float(v)
        ewma = float(v) if ewma is None else _ALPHA * float(v) + (1 - _ALPHA) * ewma
    return n, total, ewma


def _stats_row(key: tuple[Any, ...], stats: tuple) -> pd.DataFrame:
    n, total, ewma = stats
    return pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "value_sum": [total],
            "ewma": [ewma],
        }
    )


def _update_user_stats(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    stats = _advance_stats(
        state.get if state.exists else (0, 0.0, None), batches
    )
    state.update(stats)
    yield _stats_row(key, stats)


def running_user_stats(
    events: DataFrame, timeout: str = GroupStateTimeout.NoTimeout
) -> DataFrame:
    """Stateful per-user running stats over a streaming events frame.

    Pass ``GroupStateTimeout.ProcessingTimeTimeout`` for continuous
    deployments (see module docstring on why drains must use NoTimeout).
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_stats,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


# transformWithStateInPandas speaks a protobuf protocol between the
# python worker and the JVM state server; the container ships no
# installed ``protobuf`` package and pip is unavailable. The public
# google-cloud-sdk on this image DOES bundle a pure-Python protobuf
# runtime (6.32.0, appengine platform dir) — one minor version behind
# the 6.33 gencode in pyspark's StateMessage_pb2, bridged via
# protobuf's own documented escape hatch
# (TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK; wire format is stable
# across that gap, verified by a serialize/parse round-trip in
# tests/test_stateful_streaming.py actually exercising TWS end-to-end).
_VENDORED_PROTOBUF_DIRS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable, borrowing a vendored
    pure-Python runtime when no installed package exists.

    Must run BEFORE the SparkSession (and thus the python-worker daemon)
    starts: workers read PYTHONPATH at launch, so the path and the
    version-check escape hatch are exported to the process environment,
    not just this interpreter's ``sys.path``.
    """
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        pass
    import sys

    for d in _VENDORED_PROTOBUF_DIRS:
        if not os.path.isdir(os.path.join(d, "google", "protobuf")):
            continue
        os.environ.setdefault("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true")
        if d not in sys.path:
            sys.path.insert(0, d)
        pp = os.environ.get("PYTHONPATH", "")
        if d not in pp.split(os.pathsep):
            os.environ["PYTHONPATH"] = d + (os.pathsep + pp if pp else "")
        try:
            import google.protobuf  # noqa: F401
            from pyspark.sql.streaming.proto import StateMessage_pb2  # noqa: F401

            return True
        except Exception:  # noqa: BLE001 — any breakage means "not usable"
            continue
    return False


def tws_available() -> bool:
    """True when the runtime can execute transformWithStateInPandas
    (an importable ``google.protobuf``, installed or vendored)."""
    return ensure_protobuf()


class RunningUserStatsProcessor:
    """Spark 4 ``StatefulProcessor`` with the same semantics as
    ``_update_user_stats`` (count / sum / EWMA per user).

    transformWithStateInPandas is the successor API to
    applyInPandasWithState: typed state handles (value/list/map state),
    timers, and TTL live on a ``StatefulProcessorHandle`` instead of one
    opaque GroupState tuple. Requires the RocksDB state store provider.
    The equivalence test (tests/test_stateful_streaming.py) asserts both
    APIs produce identical rows when the runtime supports TWS.
    """

    def init(self, handle) -> None:  # StatefulProcessorHandle
        self._state = handle.getValueState("stats", STATE_SCHEMA)

    def handleInputRows(
        self, key: tuple[Any, ...], rows: Iterator[pd.DataFrame], timer_values
    ) -> Iterator[pd.DataFrame]:
        stats = _advance_stats(
            self._state.get() if self._state.exists() else (0, 0.0, None), rows
        )
        self._state.update(stats)
        yield _stats_row(key, stats)

    def close(self) -> None:
        pass


def running_user_stats_tws(events: DataFrame) -> DataFrame:
    """``transformWithStateInPandas`` twin of ``running_user_stats``.

    Raises RuntimeError when the runtime lacks protobuf (see
    ``tws_available``) — callers gate on that instead of crashing deep
    inside the streaming worker.
    """
    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas requires the protobuf package, "
            "which this runtime does not provide"
        )
    from pyspark.sql.streaming import StatefulProcessor

    # subclass assembled here so importing this module never needs the
    # streaming extras; isinstance checks in Spark accept duck-typed
    # processors only via the real base class
    proc = type(
        "RunningUserStatsTWS", (StatefulProcessor,), dict(RunningUserStatsProcessor.__dict__)
    )()
    # NOTE session-wide side effect, stated loudly: TWS requires the
    # RocksDB state store, and the provider is a session conf read at
    # query START — it cannot be scoped to one query. Later streaming
    # queries in this session also run on RocksDB (fine for new
    # checkpoints; checkpoints written by another provider are not
    # readable across the switch).
    spark = events.sparkSession
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


# --- streaming Misra-Gries heavy hitters ------------------------------------
# The streaming face of functions/sketches.misra_gries_topk: per group
# key, at most ``MG_K`` weighted counters live in the state store
# regardless of how many distinct values flow through — the
# fixed-memory answer to "top users per event type, continuously".
# Same decrement rule as the batch kernel (drain the minimum when more
# than k counters survive), same guarantee: any value with frequency
# > N_group/(k+1) is present, est ≤ true ≤ est + N_group/(k+1).
# Events are processed in (ts, event_id) order so drains are
# deterministic and replayable.

MG_K = 8

MG_STATE_SCHEMA = T.StructType(
    [
        T.StructField("values", T.ArrayType(T.StringType())),
        T.StructField("weights", T.ArrayType(T.LongType())),
        T.StructField("n_seen", T.LongType()),
    ]
)

MG_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("est_count", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ]
)


def _mg_insert(counters: dict, val: str, k: int) -> None:
    counters[val] = counters.get(val, 0) + 1
    if len(counters) > k:
        d = min(counters.values())
        for v in [v for v, c in counters.items() if c - d <= 0]:
            del counters[v]
        for v in counters:
            counters[v] -= d


def _make_update_heavy_hitters(k: int):
    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            values, weights, n_seen = state.get
            counters = dict(zip(values, weights))
        else:
            counters, n_seen = {}, 0
        for pdf in batches:
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            for uid in pdf["user_id"]:
                _mg_insert(counters, str(uid), k)
                n_seen += 1
        state.update(
            (list(counters), [int(c) for c in counters.values()], n_seen)
        )
        out = pd.DataFrame(
            {
                "event_type": key[0],
                "value": list(counters),
                "est_count": [int(c) for c in counters.values()],
                "n_seen": n_seen,
            }
        )
        yield out.sort_values(
            ["est_count", "value"], ascending=[False, True], kind="mergesort"
        )

    return update


def streaming_heavy_hitters(
    events: DataFrame,
    k: int = MG_K,
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """Bounded-state heavy-hitter tracking per event_type (see above).

    ``k`` is the counter budget per key (state = k (value, weight)
    pairs); threaded into the state-update closure so callers can trade
    memory for the N/(k+1) error bound without touching the module."""
    return events.groupBy("event_type").applyInPandasWithState(
        _make_update_heavy_hitters(k),
        outputStructType=MG_OUTPUT_SCHEMA,
        stateStructType=MG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )
