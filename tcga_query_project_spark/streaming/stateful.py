"""Custom stateful streaming operators (SURVEY.md §2.10 north-star:
``applyInPandasWithState`` for semantics the built-in windowed aggs
can't express).

The reference is batch-only; this is the streaming-scale extension
point: arbitrary per-key state machines (running cohort statistics,
sessionized KM inputs, dedup-seen sets) maintained incrementally by
Structured Streaming's state store, with Arrow-batched Python kernels.

Scale design: state is partitioned by the grouping key across the
cluster (one state-store shard per shuffle partition), checkpointed to
the streaming checkpoint location; Python sees one key-group at a time
as an iterator of Arrow batches, so executor memory stays bounded no
matter how many keys or how long the stream runs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


TOTALS_TWS_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("closed", LongType()),
    ]
)


def running_totals_tws(
    stream: DataFrame,
    key: str,
    value: str,
    ts: str,
    inactivity_gap: str = "1 hour",
) -> DataFrame:
    """Per-key running totals with timer-based finalization on the
    ``transformWithState`` API (the successor to
    ``applyInPandasWithState``: typed named state, event-time timers,
    optional TTL — one state-store shard per shuffle partition, same
    scale shape).

    Emits ``closed = 0`` rows with the running (n, total) as batches
    arrive, and a final ``closed = 1`` row when the event-time watermark
    passes ``last event + inactivity_gap`` — the "session is over,
    publish and clear" pattern that windowed aggregation cannot express
    (the built-in session window fixes WHAT is aggregated; a timer can
    publish arbitrary state exactly once at expiry and release it, so
    state stays bounded by ACTIVE keys, not all keys ever seen).

    Requires a streaming DataFrame; the watermark on ``ts`` drives the
    timers, so ``inactivity_gap`` semantics are event-time, replayable,
    and independent of wall-clock processing speed.

    Runtime dependency: transformWithState's Python state server speaks
    protobuf (``google.protobuf``) — environments without it can build
    the plan but the query fails at start; the timer test skips there.

    Throughput bound (profiled): like transition_pairs, wall time is
    dominated by the per-(key, micro-batch) Python invocation plus
    transformWithState's state-server round-trips (timers + value state
    over protobuf), not by the kernel body — a do-nothing
    applyInPandasWithState kernel already costs ~65% of this pipeline's
    wall on the same input. The matched-batch ``running_totals_tws_10x``
    row is the amortized figure; RocksDB is required by the API here
    (one column family per named state), not a tuning choice.
    """
    import re as _re

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    m = _re.fullmatch(
        r"\s*(\d+)\s*(second|minute|hour|day)s?\s*", inactivity_gap
    )
    if not m:
        raise ValueError(f"unparseable inactivity_gap: {inactivity_gap!r}")
    gap_ms = int(m.group(1)) * {
        "second": 1_000,
        "minute": 60_000,
        "hour": 3_600_000,
        "day": 86_400_000,
    }[m.group(2)]

    class _TotalsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState(
                "agg", "n long, total double, last_ms long"
            )
            self._handle = handle

        def handleInputRows(self, key_t, rows, timerValues):
            n, total, last_ms = (
                self._agg.get() if self._agg.exists() else (0, 0.0, 0)
            )
            for pdf in rows:
                # The Arrow batches the state server hands over carry
                # positional fallback names for some columns (observed:
                # ['key', 'value', '_2', '_3'] for the 4-column input) —
                # the upstream select fixes the order (key, value, _ts,
                # _ts_ms), so bind names by position, not label.
                pdf.columns = ["key", "value", "_ts", "_ts_ms"][
                    : len(pdf.columns)
                ]
                n += len(pdf)
                total += float(pdf["value"].sum())
                last_ms = max(
                    last_ms, int(pdf["_ts_ms"].max())
                )
            self._agg.update((n, total, last_ms))
            # one live timer per key: slide it to last-event + gap
            for t in self._handle.listTimers():
                self._handle.deleteTimer(t)
            self._handle.registerTimer(last_ms + gap_ms)
            yield pd.DataFrame(
                {
                    "key": [key_t[0]],
                    "n_events": [n],
                    "total_value": [total],
                    "closed": [0],
                }
            )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            # (pyspark invokes this with keyword arguments — the
            # parameter names are part of the StatefulProcessor API.)
            if self._agg.exists():
                n, total, _ = self._agg.get()
                self._agg.clear()
                yield pd.DataFrame(
                    {
                        "key": [key[0]],
                        "n_events": [n],
                        "total_value": [total],
                        "closed": [1],
                    }
                )

        def close(self) -> None:
            pass

    renamed = stream.select(
        stream[key].alias("key").cast("long"),
        stream[value].alias("value"),
        stream[ts].alias("_ts"),
        (F.unix_micros(stream[ts]) / F.lit(1000)).cast("long").alias("_ts_ms"),
    ).withWatermark("_ts", inactivity_gap)
    return renamed.groupBy("key").transformWithStateInPandas(
        _TotalsProcessor(),
        outputStructType=TOTALS_TWS_SCHEMA,
        outputMode="Update",
        timeMode="EventTime",
    )


TRANSITION_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("from_type", StringType()),
        StructField("to_type", StringType()),
    ]
)

#: only the TYPE is carried — the ordering contract is arrival-order
#: across batches, so a stored timestamp/id would never gate anything:
#: dead per-user state-store bytes (and an int() NaN crash site for
#: NULL timestamps, both flagged in review)
_LAST_EVENT_STATE = StructType([StructField("event_type", StringType())])


def _emit_transitions(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Chain this micro-batch's events (in (ts_us, event_id) order,
    NULLs FIRST — matching the batch operator's asc_nulls_first) onto
    the key's carried last event type; emit one (from, to) pair per
    adjacency and carry the new last type forward.

    Per-call constants matter more than asymptotics here: this kernel
    runs once per (key, micro-batch) — 24k invocations for 1.5k users
    over 16 triggers — on typically single-digit-row frames, and a
    profile showed the
    pandas ops (concat + mergesort + Series iteration) were ~5s of the
    15.7s pipeline. numpy lexsort over raw arrays and a skipped concat
    for the common single-frame case cut the per-call cost; the
    remaining floor is the applyInPandasWithState invocation boundary
    itself (a DO-NOTHING kernel measures 10.2s on the same input).
    """
    import numpy as np

    frames = list(batches)
    pdf = (
        frames[0]
        if len(frames) == 1
        else pd.concat(frames, ignore_index=True)
    )
    # NULLS FIRST on both sort keys (the batch family's
    # asc_nulls_first): unix_micros(NULL) arrives as NaN; lexsort
    # would put NaN LAST, so pin it below every real value. -inf is
    # unreachable for epoch micros, and float64 is integer-exact to
    # 2^53 (> any epoch-micros or event_id here), so the cast cannot
    # reorder real keys. lexsort is stable, matching mergesort +
    # na_position='first' on ties.
    ts = pdf["ts_us"].to_numpy(dtype="float64", copy=False)
    eid = pdf["event_id"].to_numpy(dtype="float64", copy=False)
    order = np.lexsort(
        (np.nan_to_num(eid, nan=-np.inf), np.nan_to_num(ts, nan=-np.inf))
    )
    tp = pdf["event_type"].to_numpy(dtype=object)[order]
    types = [None if t is None or t != t else t for t in tp]
    if state.exists:
        (last_type,) = state.get
        froms = [last_type] + types[:-1]
        tos = types
    else:
        froms = types[:-1]
        tos = types[1:]
    state.update((types[-1],))
    if froms:
        yield pd.DataFrame(
            {
                "key": [key[0]] * len(froms),
                "from_type": froms,
                "to_type": tos,
            }
        )


def transition_pairs(
    stream: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Streaming maintenance of the Markov transition-pair stream — the
    unbounded-input form of ``temporal.transition_matrix``'s pair
    extraction: per-user state carries only the LAST seen event
    (16 bytes + a type string per user, forever), and each micro-batch
    emits the newly-closed (from_type, to_type) adjacencies, so a
    downstream (windowed or foreachBatch) count keeps the matrix
    current without ever re-reading history. A lag/lead window cannot
    do this on a stream — the "previous row" may be any number of
    micro-batches in the past.

    Ordering contract: rows are chained in ``(ts, tiebreak)`` order
    WITHIN each micro-batch and appended to the carried last event in
    ARRIVAL order across batches — the operator does not reorder
    history that is already chained (no retraction). Feed it an
    event-time-ordered source (or accept arrival-order semantics, the
    standard trade of single-pass transition tracking); with ordered
    input the emitted pair multiset equals the batch operator's —
    pinned by the stream==batch test.

    Emits ``(key, from_type, to_type)`` in append mode; NULL event
    types are real states, exactly as in the batch form.

    Throughput bound (profiled): the pipeline is bounded by
    applyInPandasWithState's per-(key, micro-batch) Python invocation
    (~0.3 ms each), not by state-store traffic (~5% of wall; RocksDB
    measured SLOWER at this state size). Small micro-batches therefore
    measure the invocation boundary — the matched-batch
    ``transition_pairs_10x`` row reports the amortized operator
    throughput. At cluster scale the same bound argues for sizing
    triggers so each key sees FEW large batches, and for JVM-native
    operators (windowed agg, dropDuplicates) wherever the state
    transition doesn't need Python.
    """
    renamed = stream.select(
        stream[user_col].cast("long").alias("key"),
        F.unix_micros(stream[ts_col]).alias("ts_us"),
        stream[tiebreak_col].cast("long").alias("event_id"),
        stream[type_col].cast("string").alias("event_type"),
    )
    return renamed.groupBy("key").applyInPandasWithState(
        _emit_transitions,
        outputStructType=TRANSITION_SCHEMA,
        stateStructType=_LAST_EVENT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
