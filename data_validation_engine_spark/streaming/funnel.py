"""Window funnel as a custom stateful streaming operator — the
cross-batch twin of :func:`llmops.events.window_funnel`.

Same semantics (anchored-first-chain: stage k needs the k-th step at or
after the previous chain step and within ``window_us`` of the user's
FIRST entry event; see llmops/events.py), carried across micro-batches
by ``applyInPandasWithState``: per-user state is just ``(stage, t1,
tp)`` — three longs, not an event buffer — because the greedy fold is
forward-only: a batch's events, processed in event-time order, can only
advance the chain. Late events older than the chain tail would need
re-folding; the watermark bounds how late they can be, and the parity
attestation drains a single ``availableNow`` batch where order is
total (the same contract streaming_sessionize documents).

All timestamp arithmetic is integer epoch-microseconds computed
JVM-side BEFORE the Python hop (the timezone-immunity convention); the
step index is likewise resolved JVM-side so the state
function never touches strings.

Scale: state is three longs per ACTIVE user; each micro-batch shuffles
only the funnel-relevant events (non-step events are filtered before
the state exchange) by the user key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_validation_engine_spark.errors import ConfigurationError


def streaming_window_funnel(
    sdf: DataFrame,
    user_col: str,
    ts_col: str,
    event_col: str,
    steps: list[str],
    *,
    window_us: int,
    watermark: str = "1 hour",
):
    """Per-user funnel depth maintained across micro-batches.

    Emits one row per user per micro-batch in which the user had funnel
    events: ``(<user_col>, stage, t_enter_us, t_reach_us)`` — the state
    AFTER the batch. ``stage`` is monotone non-decreasing across a
    user's emissions, so the final reading is ``max_by(struct, stage)``
    (or the last emission) per user.
    """
    if not sdf.isStreaming:
        raise ConfigurationError(
            "streaming_window_funnel requires a streaming DataFrame; "
            "use llmops.events.window_funnel for batch frames"
        )
    if len(steps) < 2:
        raise ConfigurationError(
            "streaming_window_funnel needs at least 2 steps"
        )
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    n = len(steps)
    win = int(window_us)

    def advance(key, pdfs, state):
        import pandas as pd

        (user,) = key
        if state.exists:
            stage, t1, tp = state.get
        else:
            stage, t1, tp = 0, None, None
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # event-time order with the step index as tiebreak — identical
        # to the batch fold's (ts, step) struct sort
        pdf = pdf.sort_values(["__ts_us", "__step"], kind="mergesort")
        for t, s in zip(pdf["__ts_us"].tolist(), pdf["__step"].tolist()):
            t, s = int(t), int(s)
            if stage == 0 and s == 0:
                stage, t1, tp = 1, t, t
            elif 0 < stage < n and s == stage and t <= t1 + win:
                stage, tp = stage + 1, t
        state.update((stage, t1, tp))
        yield pd.DataFrame(
            {
                user_col: [user],
                "stage": [stage],
                "t_enter_us": [t1],
                "t_reach_us": [tp],
            }
        )

    out_schema = StructType(
        [
            StructField(user_col, sdf.schema[user_col].dataType),
            StructField("stage", IntegerType()),
            StructField("t_enter_us", LongType()),
            StructField("t_reach_us", LongType()),
        ]
    )
    step_idx = F.array_position(
        F.array(*[F.lit(s) for s in steps]), F.col(event_col)
    )
    return (
        sdf.withWatermark(ts_col, watermark)
        .withColumn("__step", (step_idx - 1).cast("int"))
        .where(F.col("__step") >= 0)
        .withColumn(
            "__ts_us", F.unix_micros(F.col(ts_col).cast("timestamp"))
        )
        .groupBy(F.col(user_col))
        .applyInPandasWithState(
            advance,
            outputStructType=out_schema,
            stateStructType="stage int, t1 long, tp long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
