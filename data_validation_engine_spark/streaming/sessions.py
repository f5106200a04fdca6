"""Sessionization: gaps-and-islands in batch, custom state in streaming.

The reference has no session operator (batch validation only); this is the
net-new stream-analytics surface sketched in SURVEY §2.8. Two paths with
identical semantics on bounded input:

- :func:`sessionize` (batch): pure window functions — one shuffle by the
  user key, ``lag`` to find gap boundaries, a running sum to number
  sessions. Catalyst plans it as a single sort-based window; no Python.
- :func:`streaming_sessionize`: the same assignment as a CUSTOM STATEFUL
  OPERATOR via ``applyInPandasWithState`` — per-user state carries
  ``(last_ts, session_idx)`` across micro-batches, the watermark bounds
  state retention. This is the pattern for operators Structured
  Streaming's built-ins can't express (built-in ``session_window`` covers
  plain session WINDOWS; carrying arbitrary per-key state — counters,
  last-values, custom timeouts — needs this hook).

Scale: state is one row per ACTIVE user key (watermark-evicted); each
micro-batch shuffles only by the user key. The Python boundary is
Arrow-batched (one pandas frame per key group), never per-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_validation_engine_spark.errors import ConfigurationError

DEFAULT_GAP_SECONDS = 30 * 60


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    *,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
) -> DataFrame:
    """Assign a per-user session index to every row (batch).

    A new session starts at a user's first event and whenever the gap from
    the previous event exceeds ``gap_seconds``. Adds ``session_idx``
    (1-based per user, in time order). One shuffle (by ``user_col``), one
    sort within partitions — the standard gaps-and-islands plan.
    """
    if df.isStreaming:
        raise ConfigurationError(
            "sessionize is batch-only; use streaming_sessionize for streams"
        )
    # integer microseconds, not double seconds: gap comparison and duration
    # stay exact (and bit-identical to DuckDB's epoch_us in the oracle)
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(user_col).orderBy(ts_col)
    prev = F.lag(ts_us).over(w)
    is_new = F.when(
        prev.isNull() | ((ts_us - prev) > F.lit(gap_seconds * 1_000_000)),
        F.lit(1),
    ).otherwise(F.lit(0))
    running = Window.partitionBy(user_col).orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(
        "session_idx", F.sum(is_new).over(running).cast("long")
    )


def session_stats(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    *,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
) -> DataFrame:
    """Per-session aggregate view: ``(user, session_idx, n_events,
    duration_us)`` — the rollup a training-data pipeline stores."""
    sessions = sessionize(
        df, user_col, ts_col, gap_seconds=gap_seconds
    )
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return sessions.groupBy(user_col, "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(ts_us) - F.min(ts_us)).alias("duration_us"),
    )


def streaming_sessionize(
    sdf: DataFrame,
    user_col: str,
    ts_col: str,
    *,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    watermark: str = "1 hour",
):
    """Per-user session assignment as a custom stateful streaming operator.

    ``applyInPandasWithState`` keeps ``(last_ts_micros, session_idx)`` per
    user key; rows in each micro-batch are processed in event-time order
    and continue or start sessions exactly like the batch rule. On a
    single ``availableNow`` drain the output equals :func:`sessionize`
    (pytest-asserted); across batches, state carries the boundary.

    Emits ``(<user_col>, event_ts_us, session_idx)`` — the key column
    keeps its input name and type; ``event_ts_us`` is the event time as
    integer epoch-microseconds (``timestamp_micros()`` recovers the
    instant). All timestamp arithmetic happens JVM-side via
    ``unix_micros`` BEFORE the Python hop: the Arrow/pandas timestamp
    conversion localizes to the driver session's timezone, and a non-UTC
    session under DST shifts event spacing non-uniformly — integer-long
    plumbing is immune by construction.
    """
    if not sdf.isStreaming:
        raise ConfigurationError(
            "streaming_sessionize requires a streaming DataFrame; use "
            "sessionize for batch frames"
        )
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    gap_us = int(gap_seconds) * 1_000_000

    def assign(key, pdfs, state):
        import pandas as pd

        (user,) = key
        if state.exists:
            last_us, idx = state.get
        else:
            last_us, idx = None, 0
        # applyInPandasWithState delivers a key's micro-batch rows as
        # MULTIPLE Arrow chunks in shuffle-arrival order; sorting each chunk
        # independently would break global event-time order for keys whose
        # rows span chunks. Concatenate first, sort once per key.
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values("__ts_us", kind="mergesort")
        ts_us = [int(t) for t in pdf["__ts_us"].tolist()]
        idxs = []
        for t in ts_us:
            if last_us is None or t - last_us > gap_us:
                idx += 1
            last_us = t
            idxs.append(idx)
        state.update((last_us, idx))
        yield pd.DataFrame(
            {
                user_col: [user] * len(idxs),
                "event_ts_us": ts_us,
                "session_idx": idxs,
            }
        )

    out_schema = StructType(
        [
            StructField(user_col, sdf.schema[user_col].dataType),
            StructField("event_ts_us", LongType()),
            StructField("session_idx", LongType()),
        ]
    )
    return (
        sdf.withWatermark(ts_col, watermark)
        # integer epoch-µs computed JVM-side: the state math never touches
        # a pandas datetime (the ts column itself stays in the frame only
        # to carry the watermark)
        .withColumn(
            "__ts_us", F.unix_micros(F.col(ts_col).cast("timestamp"))
        )
        .groupBy(F.col(user_col))
        .applyInPandasWithState(
            assign,
            outputStructType=out_schema,
            stateStructType="last_ts_micros long, session_idx long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
