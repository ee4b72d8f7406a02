"""Custom stateful streaming operators via applyInPandasWithState —
the engine's answer for semantics Spark's built-in stateful ops can't
express (SURVEY.md §2.3 extension; the reference has no event-time or
state at all).

Example operator: per-user running counters — each micro-batch updates
a GroupState holding (event_count, value_sum) per user.

Inactivity expiry (``expire_after_s``) uses processing-time timeouts.
NB: a query with registered processing-time timers never terminates
under Trigger.AvailableNow (the timers keep it ACTIVE waiting for
wall-clock); use expiry only with long-running processingTime-trigger
queries, never in drain-to-completion jobs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from batchprocessor_spark.functions.exactmath import pd_to_units

OUTPUT_SCHEMA = "user_id BIGINT, event_count BIGINT, value_sum DOUBLE, closed BOOLEAN"
# State accumulates VALUE IN EXACT INTEGER CENTS, not a double: double
# accumulation order differs between micro-batch splits (and from any
# batch oracle), while the cents lane (functions/exactmath.py) is
# associative, restart-safe, and descales to an identical double on
# every engine. events.value carries 2 decimals (asserted in
# tests/test_oracle_parity.py).
STATE_SCHEMA = "event_count BIGINT, value_cents BIGINT"


def _make_update_fn(expire_after_s: float | None):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if expire_after_s is not None and state.hasTimedOut:
            count, cents = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "event_count": [count],
                    "value_sum": [cents / 100.0],
                    "closed": [True],
                }
            )
            return
        count, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            count += len(pdf)
            cents += int(pd_to_units(pdf["value"], 100).sum())
        state.update((count, cents))
        if expire_after_s is not None:
            state.setTimeoutDuration(int(expire_after_s * 1000))
        # cents < 2^53 ⇒ exact as double; one correctly-rounded divide
        # gives the identical IEEE double as the oracle's
        # sum(cents)/100.0.
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "event_count": [count],
                "value_sum": [cents / 100.0],
                "closed": [False],
            }
        )

    return update


def running_user_counters(
    events_stream: DataFrame, expire_after_s: float | None = None
) -> DataFrame:
    """Stateful per-user counters over a stream of (user_id, value)
    rows. Arrow-batched per group; state lives in the state store
    (checkpointed, survives restarts)."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if expire_after_s is not None
        else GroupStateTimeout.NoTimeout
    )
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _make_update_fn(expire_after_s),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )

