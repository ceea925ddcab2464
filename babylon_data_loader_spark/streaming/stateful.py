"""Custom stateful streaming operator via applyInPandasWithState:
per-user running aggregates that survive across micro-batches.

This is the escape hatch for stateful semantics the built-in windowed
aggregations can't express (per-key running counters with custom
update logic, timeouts, session carry-over). State is per user_id;
Arrow batches in, Arrow batches out; no driver involvement.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

RUNNING_CENTS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
    ]
)


def _update_cents(
    key: tuple,
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    n, total = state.get if state.exists else (0, 0)
    for pdf in batches:
        n += len(pdf)
        total += int(pdf["cents"].sum())
    state.update((n, int(total)))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_cents": [int(total)]}
    )


def running_user_cents(events: DataFrame) -> DataFrame:
    """Streaming per-user running (count, integer-cents sum) with
    explicit state: each micro-batch emits the updated totals for the
    users it touched ("append" output, so it composes with
    append-only sinks like parquet). int64 state makes every
    emission independent of batch shape and summation order — the
    property a cross-engine oracle needs (float accumulation order
    varies with batching; integers don't care). Input must carry a
    BIGINT `cents` column."""
    return (
        events.select("user_id", "cents")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_cents,
            outputStructType=RUNNING_CENTS_SCHEMA,
            stateStructType="n BIGINT, total BIGINT",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
