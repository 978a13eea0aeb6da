"""Custom stateful streaming operators (applyInPandasWithState).

The reference's only stateful computation is the built-in windowed
aggregation (ST2/ST4). Real fraud pipelines also need ARBITRARY keyed
state — running per-user totals, velocity counters, model features that
evolve per event. Structured Streaming's escape hatch for that is
`applyInPandasWithState`: per group key, Arrow-batched pandas frames +
a persistent GroupState, checkpointed with the query.

`user_running_totals` maintains per-user lifetime spend/count and emits
the updated totals each micro-batch; it is the engine's one custom
keyed-state path, certified as `user_running_totals_streaming`. Money
accumulates in integer CENTS inside the state — float accumulation
order across micro-batches would otherwise make stream totals drift
from a batch recompute (the same reasoning as functions.numeric's
decimal sums; the equivalence test asserts exact equality).

Scale notes: state lives in the executor state store partitioned by the
group key — the same shuffle the aggregation would pay. State size is
O(distinct users) × a few longs: bounded, unlike the faithful-mode
window state. Use GroupStateTimeout (processing/event-time) to expire
idle keys when the key space is unbounded.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, total_cents long, n_events long"
STATE_SCHEMA = "total_cents long, n_events long"


def user_running_totals(transactions: DataFrame) -> DataFrame:
    """Per-user lifetime totals as a stateful stream transform.

    Input: streaming DataFrame with user_id + amount. Output (update
    mode): one row per user per micro-batch with the running totals —
    the latest row per user is the current truth (downstream: keep-last
    on n_events, or MERGE into a serving table via foreachBatch).

    The state function is a CLOSURE on purpose: cloudpickle serializes
    nested functions by value, so Python worker processes don't need
    this package importable on their own path (a module-level function
    is pickled by reference and breaks when the driver was launched
    from outside the repo).
    """

    def update_totals(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        total_cents, n = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            # 2-dp money → integer cents PER ROW (round before summing:
            # a float batch-sum rounded once can differ from the row-wise
            # exact cents by the accumulated representation error).
            # NULL amounts contribute nothing to the total but DO count
            # as events — SQL SUM/COUNT(*) semantics; a NaN would
            # otherwise kill the int64 cast (adversarial-sweep rule; the
            # counter stays 0-based where SQL SUM of all-NULLs is NULL,
            # which the oracle mirrors with COALESCE).
            vals = pdf["amount"].dropna()
            if len(vals):
                total_cents += int(vals.mul(100).round().astype("int64").sum())
            n += len(pdf)
        state.update((total_cents, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "total_cents": [total_cents], "n_events": [n]}
        )

    return (
        transactions.select("user_id", "amount")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

