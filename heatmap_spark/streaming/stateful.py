"""Custom stateful streaming operator via applyInPandasWithState.

The escape hatch for operators Structured Streaming's built-in
aggregations can't express (SURVEY.md §2.8, pyspark_guide §Streaming):
arbitrary per-key state evolved batch-by-batch in Arrow-batched pandas.

Example operator: per-user cumulative visit counter with last-seen
timestamp — the streaming analogue of a running total that must
survive across micro-batches.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, last_ts timestamp"
STATE_SCHEMA = "n bigint"


def running_user_counts(events: DataFrame) -> DataFrame:
    """Streaming DataFrame → per-user cumulative counts (update mode).

    The update function is deliberately NESTED: a module-level function
    would be cloudpickled by reference, requiring ``import
    heatmap_spark`` inside every Python worker — which fails when the
    driver process imported this package from a path workers don't
    share.  A closure serializes by value and is self-contained.
    """

    def update_counts(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        total = state.get[0] if state.exists else 0
        last_ts = None
        for pdf in pdfs:
            total += len(pdf)
            m = pdf["ts"].max()
            last_ts = m if last_ts is None else max(last_ts, m)
        state.update((total,))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [total], "last_ts": [last_ts]}
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update_counts,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


FUNNEL_OUTPUT_SCHEMA = (
    "user_id bigint, first_view timestamp, first_click timestamp, "
    "first_purchase timestamp"
)
FUNNEL_STATE_SCHEMA = "fv timestamp, fc timestamp, fp timestamp"


def funnel_states(events: DataFrame) -> DataFrame:
    """Streaming ordered funnel (view → click → purchase) as a per-user
    state machine in applyInPandasWithState (update mode).

    State = the three first-hit timestamps; each micro-batch replays
    its rows in (ts, event_id) order through the same transitions the
    batch operator (operators/sessions.event_funnel) applies, so with
    in-order arrival the converged state equals the batch result
    (equivalence-tested).  Late events BEFORE an already-recorded stage
    hit can't retroactively create transitions — the standard
    at-least-once funnel semantics under watermark discipline.
    """

    def update_funnel(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        fv, fc, fp = state.get if state.exists else (None, None, None)
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values(["ts", "event_id"])
            for ts, typ in zip(batch["ts"], batch["event_type"]):
                if typ == "view" and fv is None:
                    fv = ts
                elif typ == "click" and fc is None and fv is not None and ts >= fv:
                    fc = ts
                elif typ == "purchase" and fp is None and fc is not None and ts >= fc:
                    fp = ts
        state.update((fv, fc, fp))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "first_view": [fv],
                "first_click": [fc],
                "first_purchase": [fp],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update_funnel,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
