"""Custom stateful streaming operator via ``applyInPandasWithState``.

Example operator: per-user running profile (event count + running value sum),
emitted on every micro-batch — the shape any custom accumulating state takes
(session carts, feature aggregates, counters).  The state is a single tuple
per key, so memory is O(|users|) regardless of stream length.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, sum_value double"
STATE_SCHEMA = "n bigint, cents bigint"


def _update(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):  # noqa: F821
    import pandas as pd

    # accumulate EXACT integer cents, not a float running sum: float addition
    # is order- and batching-dependent (numpy even sums pairwise), which
    # would make the emitted profile non-reproducible across partitionings
    # and non-oracle-able; the fixture values are 2-dp money doubles, so
    # cents round-trips exactly (same contract as the decimal-cast batch
    # aggregates in functions/exact.py)
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += int((pdf["value"] * 100).round().astype("int64").sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [cents / 100.0]}
    )


def running_user_profile(events: DataFrame) -> DataFrame:
    """Streaming per-user accumulator (custom stateful op, Arrow-batched)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, n_events bigint"
)
SESSION_STATE_SCHEMA = "start_us bigint, end_us bigint, n bigint"


def make_session_update(gap_ms: int):
    """Update function for timeout-driven sessionization: each user's open
    session extends while events keep arriving; when the event-time watermark
    passes last-event + gap, the state TIMES OUT and the closed session is
    emitted exactly once.  Emission-on-timeout (not on every batch) is what
    makes the output append-safe, and timeout-driven state removal is what
    bounds memory: an idle user costs nothing after one gap."""

    def update(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):  # noqa: F821
        import pandas as pd

        if state.hasTimedOut:
            start_us, end_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(end_us, unit="us")],
                    "n_events": [n],
                }
            )
            return
        start_us, end_us, n = state.get if state.exists else (None, None, 0)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
            lo, hi = int(ts_us.min()), int(ts_us.max())
            start_us = lo if start_us is None else min(start_us, lo)
            end_us = hi if end_us is None else max(end_us, hi)
            n += len(pdf)
        state.update((start_us, end_us, n))
        # EventTimeTimeout fires on the first trigger whose watermark exceeds this
        state.setTimeoutTimestamp(end_us // 1000 + gap_ms)

    return update


def sessionize_with_timeout(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Custom gap-based sessionization via event-time TIMEOUTS — the stateful
    pattern Spark's built-in ``session_window`` can't give you when the
    per-session output needs custom accumulation or exactly-one-emission
    semantics.  Requires a watermark on ``ts`` (it drives both timeout firing
    and state eviction).  Output: one row per CLOSED session (append mode)."""
    n = int(gap.split()[0])
    unit = gap.split()[1]
    gap_ms = n * {"minutes": 60_000, "minute": 60_000, "seconds": 1_000, "second": 1_000}[unit]
    return (
        events.withWatermark("ts", gap)
        .groupBy("user_id")
        .applyInPandasWithState(
            make_session_update(gap_ms),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# --------------------------------------------------------------------------- #
# transformWithState — the Spark-4 arbitrary-state API (SPARK-46815)           #
# --------------------------------------------------------------------------- #


class RunningProfileProcessor(StatefulProcessor):
    """transformWithStateInPandas twin of `running_user_profile`: one
    ValueState tuple per user (count + running sum), updated per Arrow
    batch, emitted per micro-batch.  The new API is the forward path for
    custom state: typed state handles (value/list/map), timers, TTL, and
    it REQUIRES the RocksDB state-store provider — i.e. the spillable
    backend by construction.  Runtime deps: the state-server protocol
    speaks protobuf, so the Python `protobuf` package must be installed
    wherever the session and its Python workers run (the test gates on
    it)."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._state = handle.getValueState("profile", "n bigint, total double")

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        n, total = self._state.get() if self._state.exists() else (0, 0.0)
        for pdf in rows:
            n += len(pdf)
            total += float(pdf["value"].sum())
        self._state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [total]}
        )

    def close(self) -> None:
        pass


def running_user_profile_tws(events: DataFrame) -> DataFrame:
    """`running_user_profile` on the transformWithState API (requires
    spark.sql.streaming.stateStore.providerClass = RocksDB)."""
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningProfileProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
