"""Event-funnel and cohort-retention analytics over integer-microsecond
event streams — the product-analytics vocabulary (did users who arrived
in week W come back in week W+k; how far into signup→activate→convert
does each user get) expressed as engine-exact integer arithmetic.

Timestamps enter as **epoch-microsecond longs** (the repo-wide
convention: derive them JVM-side with ``unix_micros`` over an
explicit TIMESTAMP schema so no session-timezone or pandas hop can
shift them — see FLOATS.md).

Scale shapes:

- :func:`retention_cohorts` is two user-keyed shuffles (first-seen agg,
  active-period distinct) followed by one co-keyed join — AQE reuses
  the exchange partitioning — and a final tiny ``(cohort, offset)``
  aggregation whose cardinality is O(periods²), independent of user
  count. No window functions, no per-user state.
- :func:`window_funnel` is ONE user-keyed shuffle: per-user events
  collapse to a sorted ``(ts, step)`` array and a JVM-side
  ``aggregate`` fold walks it once. Per-task memory is bounded by the
  largest single user's funnel-event history (the same per-key bound
  sessionize documents); the fold is a Catalyst higher-order function —
  no Python, no UDF.

Funnel semantics (documented because they are the hashed contract):
stage k is reached iff there exist funnel events ``t1 <= t2 <= ... <=
tk`` with ``t1`` the EARLIEST step-0 event of the user, each ``t(i+1)``
the earliest step-i event at or after ``t(i)``, and ``tk <= t1 +
window_us`` — i.e. the greedy earliest chain anchored at the first
entry event. This equals the SQL cascade ``t1 = min(ts | step 0)``,
``t2 = min(ts | step 1, ts >= t1, ts <= t1+W)``, ... which is the
independent DuckDB oracle. (ClickHouse's windowFunnel tracks multiple
candidate chains; the anchored-first-chain variant is chosen exactly
because it has a closed-form SQL twin — the difference only shows when
a later re-entry event would start a better chain.)

No reference counterpart (the reference engine has no event-analytics
vocabulary); standard product-analytics semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def retention_cohorts(
    df: DataFrame,
    user_col: str,
    ts_us_col: str,
    *,
    period_us: int,
    cohort_col: str = "cohort",
    offset_col: str = "offset",
    out_col: str = "n_users",
) -> DataFrame:
    """Cohort-retention triangle: users bucketed by first-seen period,
    counted once per later period they were active in.

    Output: one row per ``(cohort, offset)`` with ``n_users`` active
    users, where ``cohort = first_seen_ts DIV period_us`` and ``offset
    = active_period - cohort`` (0 = the cohort's own period, so every
    cohort's offset-0 row is its size). All integer division —
    timestamps must be non-negative (epoch micros are).
    """
    # integral DIV, not float division: epoch-micro quotients sit near
    # the double mantissa edge where x/y can land at .99999… and a cast
    # truncates to the wrong bucket. DIV on BIGINT is exact.
    p = int(period_us)
    first = df.groupBy(F.col(user_col).alias("__u")).agg(
        F.expr(f"min({ts_us_col}) DIV {p}").alias(cohort_col)
    )
    active = df.select(
        F.col(user_col).alias("__u"),
        F.expr(f"{ts_us_col} DIV {p}").alias("__p"),
    ).distinct()
    return (
        active.join(first, "__u")
        .groupBy(
            F.col(cohort_col),
            (F.col("__p") - F.col(cohort_col)).alias(offset_col),
        )
        .agg(F.count(F.lit(1)).alias(out_col))
    )


def window_funnel(
    df: DataFrame,
    user_col: str,
    ts_us_col: str,
    event_col: str,
    steps: list[str],
    *,
    window_us: int,
    stage_col: str = "stage",
    entered_col: str = "t_enter_us",
    reached_col: str = "t_reach_us",
) -> DataFrame:
    """Per-user funnel depth: how many of ``steps`` (in order) the user
    completed within ``window_us`` of their first step-0 event.

    Output: one row per user having at least one event in ``steps`` —
    ``stage`` (0..len(steps)), ``t_enter_us`` (the anchoring step-0
    timestamp, NULL while stage 0), ``t_reach_us`` (timestamp of the
    deepest step reached, NULL while stage 0). Ties on timestamp break
    by step position (the struct sort), matching the ``>=`` cascade.
    """
    n = len(steps)
    if n < 2:
        raise ValueError("window_funnel needs at least 2 steps")
    step_idx = F.array_position(
        F.array(*[F.lit(s) for s in steps]), F.col(event_col)
    )
    evs = (
        df.select(
            F.col(user_col).alias("__u"),
            F.col(ts_us_col).alias("__ts"),
            (step_idx - 1).cast("int").alias("__step"),
        )
        .where(F.col("__step") >= 0)
        .groupBy("__u")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("__ts", "__step"))
            ).alias("__seq")
        )
    )
    zero = F.struct(
        F.lit(0).alias("stage"),
        F.lit(None).cast("long").alias("t1"),
        F.lit(None).cast("long").alias("tp"),
    )
    win = F.lit(int(window_us))

    def _advance(acc, e):
        start = (acc["stage"] == 0) & (e["__step"] == 0)
        deepen = (
            (acc["stage"] > 0)
            & (acc["stage"] < n)
            & (e["__step"] == acc["stage"])
            & (e["__ts"] <= acc["t1"] + win)
        )
        return (
            F.when(
                start,
                F.struct(
                    F.lit(1).alias("stage"),
                    e["__ts"].alias("t1"),
                    e["__ts"].alias("tp"),
                ),
            )
            .when(
                deepen,
                F.struct(
                    (acc["stage"] + 1).alias("stage"),
                    acc["t1"].alias("t1"),
                    e["__ts"].alias("tp"),
                ),
            )
            .otherwise(acc)
        )

    folded = evs.select(
        F.col("__u").alias(user_col),
        F.aggregate(F.col("__seq"), zero, _advance).alias("__acc"),
    )
    return folded.select(
        user_col,
        F.col("__acc")["stage"].alias(stage_col),
        F.col("__acc")["t1"].alias(entered_col),
        F.col("__acc")["tp"].alias(reached_col),
    )


def funnel_counts(
    per_user: DataFrame,
    *,
    n_steps: int,
    stage_col: str = "stage",
    entered_col: str = "t_enter_us",
    reached_col: str = "t_reach_us",
) -> DataFrame:
    """Collapse :func:`window_funnel` output to the funnel table: for
    each stage k >= 1, how many users reached at least stage k and the
    integer sum of their anchor→deepest lags (only over users whose
    deepest stage is exactly k, so the column is reproducible without
    re-deriving intermediate chain times).

    Output: ``(stage, n_at_least, n_exact, lag_sum_us)`` for k =
    1..n_steps. One broadcast-explode over an already-tiny frame.
    """
    stages = F.sequence(F.lit(1), F.lit(int(n_steps)))
    return (
        per_user.select(
            F.col(stage_col),
            (F.col(reached_col) - F.col(entered_col)).alias("__lag"),
            F.explode(stages).alias("stage_k"),
        )
        .where(F.col("stage_k") <= F.lit(int(n_steps)))
        .groupBy("stage_k")
        .agg(
            F.sum(
                (F.col(stage_col) >= F.col("stage_k")).cast("long")
            ).alias("n_at_least"),
            F.sum(
                (F.col(stage_col) == F.col("stage_k")).cast("long")
            ).alias("n_exact"),
            F.sum(
                F.when(
                    F.col(stage_col) == F.col("stage_k"), F.col("__lag")
                ).otherwise(F.lit(0))
            ).alias("lag_sum_us"),
        )
        .withColumnRenamed("stage_k", stage_col)
    )
