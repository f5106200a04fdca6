"""Grouped-ranking and rolling-window analytics — corpus-curation
primitives (top-k documents per source by quality, rolling event rates
per user, grouped score percentiles).

Scale shapes:

- :func:`grouped_topk` is ONE shuffle on the group keys; the ``rank <=
  k`` filter sits directly on the window so Spark's WindowGroupLimit
  rewrite (public optimizer rule, Spark 3.5+) keeps a size-k heap per
  key on the map side instead of sorting whole groups — at 100 TB the
  shuffle carries at most k rows per key per map partition, not the
  corpus.
- :func:`rolling_agg` is one keyed window with a RANGE frame on the
  epoch-seconds line — one shuffle, state bounded by the frame span, no
  self-join reformulation (the naive "join each row to its trailing
  window" is quadratic in the frame population).

Provenance: the reference engine has no ranking/rolling vocabulary
(group_by + pivot only, dve spark/rules.py); these extend the corpus
toolbox with standard SQL-window semantics so DuckDB window SQL is the
independent oracle.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_validation_engine_spark.llmops.asof import _ts_seconds


def grouped_topk(
    df: DataFrame,
    group_cols: list[str] | str,
    order_col: str,
    k: int,
    *,
    descending: bool = True,
    tiebreak_cols: list[str] | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-``k`` rows per group by ``order_col``, deterministic under
    ``tiebreak_cols`` (always order by them ascending after the primary
    key so reruns and other engines agree row-for-row).

    Output = input columns + ``rank_col`` (1-based dense position by
    ``row_number``).
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    primary = F.col(order_col).desc() if descending else F.col(order_col).asc()
    order = [primary] + [F.col(c).asc() for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*groups).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= F.lit(int(k)))
    )


def rolling_agg(
    df: DataFrame,
    *,
    partition_cols: list[str] | str,
    ts_col: str,
    window_seconds: float,
    aggs: Mapping[str, Column],
    include_current: bool = True,
) -> DataFrame:
    """Trailing-window aggregates per key over event time: for each row,
    aggregate the partition's rows whose timestamp lies in
    ``[ts - window_seconds, ts]`` (closed). ``include_current=False``
    shifts the frame to ``[ts - window_seconds, ts - 1us]`` — "state
    strictly before me", the leakage-safe variant.

    The RANGE frame runs on the microsecond line (timestamps via
    ``unix_micros``, numerics scaled by 1e6) so bounds are exact longs —
    no float row-inclusion ambiguity at the window edge.

    ``aggs`` maps output column name -> aggregate Column (e.g.
    ``{"avg_v": F.avg("value"), "n": F.count(F.lit(1))}``); each is
    applied ``.over`` the rolling frame.
    """
    keys = (
        [partition_cols]
        if isinstance(partition_cols, str)
        else list(partition_cols)
    )
    sec = _ts_seconds(F.col(ts_col), df.schema[ts_col].dataType)
    micros = F.round(sec * F.lit(1e6)).cast("long")
    upper = 0 if include_current else -1
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__us"))
        .rangeBetween(-int(round(window_seconds * 1e6)), upper)
    )
    out = df.withColumn("__us", micros)
    for name, agg in aggs.items():
        out = out.withColumn(name, agg.over(w))
    return out.drop("__us")


def frequent_items(
    df: DataFrame,
    group_cols: list[str] | str,
    value_col: str,
    k: int,
    *,
    min_count: int = 1,
) -> DataFrame:
    """Exact top-``k`` most frequent values per group (heavy hitters):
    ``(*group_cols, value, n, rank)``, ranked by count descending with
    the value ascending as the deterministic tiebreak.

    Composition of the engine's own primitives: one (group, value)
    count aggregation (map-side combine carries the load) then
    :func:`grouped_topk`'s WindowGroupLimit ranking — the count shuffle
    carries one row per distinct (group, value), and the rank shuffle at
    most the distinct values per group, never the raw rows. Exact by
    construction (this is the frequency table, not a sketch); for
    streams-scale value domains, cap the domain upstream or use the KMV
    sketch for cardinality first.
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    reserved = {"value", "n", "rank"} & set(groups)
    if reserved:
        raise ValueError(
            f"group columns collide with output names {sorted(reserved)}; "
            "rename them first"
        )
    counts = (
        # NULL is not a rankable item (same convention as the KMV sketch
        # and COUNT DISTINCT); it would also sort NULLS-FIRST into the
        # tiebreak here while the SQL oracle ranks NULLS LAST
        df.where(F.col(value_col).isNotNull())
        .groupBy(*groups, F.col(value_col).alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= int(min_count))
    )
    return grouped_topk(counts, groups, "n", k, tiebreak_cols=["value"])


def profile_diff(
    left: DataFrame,
    right: DataFrame,
    *,
    columns: list[str] | None = None,
) -> DataFrame:
    """Schema/stat drift between two frames, computed over their column
    profiles: one row per column present in EITHER side with
    ``(column, status, l_rows, r_rows, l_null, r_null, l_distinct,
    r_distinct, null_frac_delta)`` where ``status`` is ``added`` (right
    only), ``removed`` (left only), or ``common``.

    The monitoring companion to :func:`profile_columns`: run it between
    yesterday's and today's landing (or a reference snapshot and a new
    submission) to catch silent schema drift and null-rate shifts before
    the contract stage turns them into thousands of row errors. Two
    single-pass profiles + one tiny full-outer join on the column name —
    the data itself is scanned once per side.
    """
    def _side(df: DataFrame) -> DataFrame:
        if columns is None:
            return profile_columns(df)
        scoped = [c for c in columns if c in df.columns]
        if scoped:
            return profile_columns(df, scoped)
        # an explicit scope that matches nothing on this side must
        # contribute ZERO rows, not fall back to every column
        return profile_columns(df.limit(0)).limit(0)

    lp = _side(left)
    rp = _side(right)
    l = lp.select(
        F.col("column"),
        F.col("n_rows").alias("l_rows"),
        F.col("n_null").alias("l_null"),
        F.col("n_distinct").alias("l_distinct"),
    )
    r = rp.select(
        F.col("column"),
        F.col("n_rows").alias("r_rows"),
        F.col("n_null").alias("r_null"),
        F.col("n_distinct").alias("r_distinct"),
    )
    joined = l.join(r, on="column", how="full_outer")
    status = (
        F.when(F.col("l_rows").isNull(), F.lit("added"))
        .when(F.col("r_rows").isNull(), F.lit("removed"))
        .otherwise(F.lit("common"))
    )
    lfrac = F.col("l_null") / F.greatest(F.col("l_rows"), F.lit(1))
    rfrac = F.col("r_null") / F.greatest(F.col("r_rows"), F.lit(1))
    delta = F.when(
        status == "common", F.round(rfrac - lfrac, 6)
    ).otherwise(F.lit(None).cast("double"))
    return joined.select(
        "column",
        status.alias("status"),
        "l_rows",
        "r_rows",
        "l_null",
        "r_null",
        "l_distinct",
        "r_distinct",
        delta.alias("null_frac_delta"),
    )


def grouped_quantiles(
    df: DataFrame,
    group_cols: list[str] | str,
    value_col: str,
    probs: list[float],
    *,
    names: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Exact per-group quantiles (linear interpolation on the sorted
    values — SQL ``percentile_cont`` / R type-7, the definition every
    engine shares, so results are reproducible bit-for-bit modulo the
    final ``round_to`` rendering guard).

    Returns ``(*group_cols, n, <one column per prob>)``; column names
    default to ``q_25``-style from the prob's percent.

    Scale shape: ONE shuffle on the group keys. Exact quantiles buffer
    each group's value multiset in the aggregation state (the honest
    exact algorithm; same as any engine's ``percentile_cont``) — right
    for grouped distributions where groups are human-scale (per
    source/day/language). For billion-row single groups use Spark's
    ``percentile_approx`` (GK sketch, bounded state) as the scale path —
    approximate, so it has no cross-engine oracle and is deliberately
    not the default here.
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    if not probs:
        raise ValueError("probs must name at least one quantile")
    for p in probs:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"quantile prob out of [0,1]: {p}")
    if names is None:
        def _pname(p: float) -> str:
            pct = round(p * 100, 4)
            tag = str(int(pct)) if pct == int(pct) else str(pct).replace(".", "_")
            return f"q_{tag}"

        names = [_pname(p) for p in probs]
    if len(names) != len(probs):
        raise ValueError("names must match probs one-to-one")
    if "`" in value_col:
        raise ValueError(f"value_col may not contain backticks: {value_col}")
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.round(
            F.expr(f"percentile(`{value_col}`, {p!r})"), round_to
        ).alias(name)
        for p, name in zip(probs, names)
    ]
    return df.groupBy(*groups).agg(*aggs)


def sampled_quantiles(
    df: DataFrame,
    group_cols: list[str] | str,
    value_col: str,
    key_col: str,
    probs: list[float],
    *,
    k: int = 1024,
    names: list[str] | None = None,
    round_to: int = 6,
    seed: str = "",
) -> DataFrame:
    """Approximate per-group quantiles from a DETERMINISTIC hash sample:
    the ``k`` rows with the smallest md5 hash of ``key_col`` form a
    uniform sample of the group (the KMV trick applied to row sampling),
    and the exact type-7 quantiles of that sample estimate the group's
    (relative error ~1/sqrt(k)). Output mirrors
    :func:`grouped_quantiles` with ``n`` = sampled row count.

    Why not exact quantiles at 100 TB: ``percentile`` buffers the whole
    group per aggregation state. This sketch shuffles AT MOST ``k`` rows
    per group per map task — Spark's WindowGroupLimit rewrite pushes the
    rank<=k cut BELOW the exchange, so each task forwards only its local
    min-k candidates — and the sample is MERGEABLE across shards exactly
    like the KMV sketch (min-k of a union = min-k of the min-ks), so
    shard-parallel ingestion composes. Unlike a random sample, the hash
    sample is a pure function of the data: reruns, repartitionings, and
    other engines produce the IDENTICAL sample, hence engine-exact
    estimates of an approximate statistic (the same property the KMV
    distinct sketch pins). NULL values are excluded on both sides (a
    NULL cannot contribute to a quantile); ``key_col`` should identify
    rows (duplicate keys stay deterministic via the value tiebreak, they
    just correlate the sample). ``seed`` derives an independent sample
    family.
    """
    from data_validation_engine_spark.llmops.sketch import kmv_hash

    if k < 1:
        raise ValueError(f"sample size k must be >= 1, got {k}")
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    hv = "__hv"
    if hv in df.columns:
        raise ValueError(
            f"input column collides with helper name: {hv}"
        )
    hashed = df.where(
        F.col(value_col).isNotNull() & F.col(key_col).isNotNull()
    ).select(
        *groups,
        F.col(value_col),
        kmv_hash(F.col(key_col), seed=seed).alias(hv),
    )
    sample = grouped_topk(
        hashed,
        groups,
        hv,
        k,
        descending=False,
        tiebreak_cols=[value_col],
        rank_col="__rank",
    ).drop(hv, "__rank")
    return grouped_quantiles(
        sample, groups, value_col, probs, names=names, round_to=round_to
    )


def quantile_buckets(
    df: DataFrame,
    group_cols: list[str] | str,
    value_col: str,
    n_buckets: int,
    *,
    bucket_col: str = "bucket",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Equi-depth binning: assign every row its quantile bucket (1-based
    ``ntile``) of ``value_col`` within its group — the standard
    feature-engineering discretisation (equal POPULATION per bucket, not
    equal width). One shuffle on the group keys.

    Determinism: bucket POPULATIONS are always reproducible, but when
    equal values straddle a bucket boundary, WHICH tied row lands on
    which side depends on partition order unless ``tiebreak_cols``
    (ordered ascending after the value, same convention as
    :func:`grouped_topk`) makes the sort total. Pass a unique key there
    whenever per-row bucket assignment must be stable across runs or
    engines.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    # NULL values take a NULL bucket and do not occupy positions in the
    # ntile split (Spark would otherwise sort them NULLS-FIRST into
    # bucket 1, displacing real low values — and diverge from SQL
    # engines that rank NULLS LAST)
    v = F.col(value_col)
    order = [v.asc()] + [F.col(c).asc() for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*groups).orderBy(*order)
    binned = df.where(v.isNotNull()).withColumn(
        bucket_col, F.ntile(int(n_buckets)).over(w)
    )
    nulls = df.where(v.isNull()).withColumn(
        bucket_col, F.lit(None).cast("int")
    )
    return binned.unionByName(nulls)


def outlier_flags(
    df: DataFrame,
    group_cols: list[str] | str,
    value_col: str,
    *,
    factor: float = 1.5,
    flag_col: str = "is_outlier",
    round_to: int = 6,
) -> DataFrame:
    """Tukey IQR outlier flags per group: a row is an outlier when its
    value falls outside ``[q25 - factor*iqr, q75 + factor*iqr]`` of its
    GROUP's distribution. Composition of the engine's own primitives:
    one exact :func:`grouped_quantiles` pass, broadcast back onto the
    rows (the quantile table has one row per group — always the small
    side), one per-row comparison. NULL values are never outliers.

    The distribution-level companion to row-level contract checks: a
    physically-possible value can still be wildly implausible for its
    cohort, and that is a data-quality signal a validation engine
    should surface.
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    helpers = {f"__g{i}" for i in range(len(groups))} | {"__q25", "__q75"}
    clash = helpers & set(df.columns)
    if clash:
        raise ValueError(
            f"input columns collide with outlier_flags helper names "
            f"{sorted(clash)}; rename them first"
        )
    q = grouped_quantiles(
        df, groups, value_col, [0.25, 0.75], round_to=round_to
    ).select(
        *[F.col(g).alias(f"__g{i}") for i, g in enumerate(groups)],
        F.col("q_25").alias("__q25"),
        F.col("q_75").alias("__q75"),
    )
    if groups:
        # NULL-SAFE key equality: a NULL group is still a cohort with a
        # real distribution — a null-unsafe join would drop its quantile
        # row and silently null out every flag in that group
        cond = [
            df[g].eqNullSafe(q[f"__g{i}"]) for i, g in enumerate(groups)
        ]
        joined = df.join(F.broadcast(q), on=cond, how="left").drop(
            *[f"__g{i}" for i in range(len(groups))]
        )
    else:
        # global flagging: the quantile frame is one row — attach it to
        # every row (join on [] is not a Spark join form)
        joined = df.crossJoin(F.broadcast(q))
    iqr = F.col("__q75") - F.col("__q25")
    lo = F.col("__q25") - F.lit(float(factor)) * iqr
    hi = F.col("__q75") + F.lit(float(factor)) * iqr
    v = F.col(value_col)
    flag = F.when(v.isNull(), F.lit(False)).otherwise(
        (v < lo) | (v > hi)
    )
    return joined.withColumn(flag_col, flag).drop("__q25", "__q75")


def profile_columns(
    df: DataFrame,
    columns: list[str] | None = None,
) -> DataFrame:
    """Column-level data profile: one output row per profiled column with
    ``(column, n_rows, n_null, n_distinct, min_value, max_value)`` —
    min/max rendered as strings so heterogeneous column types share one
    schema (the standard profiling-report shape).

    This is the data-quality surface a validation engine owes its users
    before any contract is written: null saturation, key-ness
    (``n_distinct == n_rows``), and domain bounds per column, computed in
    ONE pass — a single wide aggregate (Catalyst plans the multi-distinct
    via its expand rewrite: one scan, one shuffle of the expanded
    grouping rows) followed by a driver-side unpivot of the 1-row result
    into the per-column layout. Nulls are excluded from ``n_distinct``
    and min/max, matching ANSI aggregate semantics.
    """
    if columns is not None and not columns:
        raise ValueError(
            "profile columns is an empty list; pass None to profile "
            "every column"
        )
    cols = df.columns if columns is None else list(columns)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"profile columns not in frame: {missing}")
    # internal aliases are INDEX-based and the profiled name enters the
    # stack only as an escaped string literal, so arbitrary column names
    # (spaces, dots, quotes) profile cleanly
    aggs = []
    for i, c in enumerate(cols):
        col = F.col(f"`{c}`") if "`" not in c else df[c]
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{i}"),
            F.sum(col.isNull().cast("long")).alias(f"__null_{i}"),
            F.count_distinct(col).alias(f"__dist_{i}"),
            F.min(col).cast("string").alias(f"__min_{i}"),
            F.max(col).cast("string").alias(f"__max_{i}"),
        ]
    wide = df.agg(*aggs)
    # unpivot the single wide row with stack() — still one job, no
    # per-column re-scan of the input
    def _lit(c: str) -> str:
        return "'" + c.replace("\\", "\\\\").replace("'", "\\'") + "'"

    stack_args = ", ".join(
        f"{_lit(c)}, __n_{i}, __null_{i}, __dist_{i}, __min_{i}, __max_{i}"
        for i, c in enumerate(cols)
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column, n_rows, n_null, n_distinct, min_value, max_value)"
    )


def winsorize(
    df: DataFrame,
    group_cols: list[str] | str | None,
    value_col: str,
    *,
    lower: float = 0.05,
    upper: float = 0.95,
    out_col: str | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Winsorize (clip) ``value_col`` to its group's
    ``[lower, upper]`` quantiles — the standard tail-taming transform
    before averaging noisy quality scores or training on heavy-tailed
    features. Same composition discipline as :func:`outlier_flags`: one
    exact :func:`grouped_quantiles` pass, a BROADCAST of the one-row-
    per-group bound table back onto the rows, one per-row
    least/greatest. NULLs pass through unclipped.

    Writes ``out_col`` (default: replaces ``value_col``). Quantiles use
    the same interpolation both engines share, so clipped values stay
    hash-exact when the inputs are (integerize money first, as
    everywhere).
    """
    if not (0.0 <= lower < upper <= 1.0):
        raise ValueError(
            f"need 0 <= lower < upper <= 1, got ({lower}, {upper})"
        )
    groups = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols or [])
    )
    out_col = out_col or value_col
    helpers = {f"__g{i}" for i in range(len(groups))} | {"__lo", "__hi"}
    clash = helpers & set(df.columns)
    if clash:
        raise ValueError(
            f"input columns collide with winsorize helper names "
            f"{sorted(clash)}; rename them first"
        )
    q = grouped_quantiles(
        df,
        groups,
        value_col,
        [lower, upper],
        names=["__q_lo", "__q_hi"],
        round_to=round_to,
    ).select(
        *[F.col(g).alias(f"__g{i}") for i, g in enumerate(groups)],
        F.col("__q_lo").alias("__lo"),
        F.col("__q_hi").alias("__hi"),
    )
    if groups:
        cond = [
            df[g].eqNullSafe(q[f"__g{i}"]) for i, g in enumerate(groups)
        ]
        joined = df.join(F.broadcast(q), on=cond, how="left").drop(
            *[f"__g{i}" for i in range(len(groups))]
        )
    else:
        joined = df.crossJoin(F.broadcast(q))
    v = F.col(value_col)
    clipped = F.when(v.isNull(), v).otherwise(
        F.least(F.greatest(v, F.col("__lo")), F.col("__hi"))
    )
    return joined.withColumn(out_col, clipped).drop("__lo", "__hi")


def impute_nulls(
    df: DataFrame,
    columns: Mapping[str, str | int | float],
    *,
    group_cols: list[str] | str | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Fill NULLs per column by strategy: ``"mean"``, ``"median"``, or a
    literal constant (any non-strategy value). With ``group_cols`` the
    statistic is computed per cohort (a missing reading imputes to ITS
    group's centre, not the global one) and broadcast back — one
    aggregation pass for ALL mean/median columns together, one
    broadcast join, zero shuffles of the data itself.

    Mean is ``sum/count`` (exact for integer inputs — integerize money
    first); median is the same exact interpolated percentile as
    :func:`grouped_quantiles`. Groups whose statistic is NULL (all-NULL
    cohort) leave the value NULL — silently inventing a global fallback
    would hide a dead cohort. The fill is cast to the column's own type
    (an INTEGER column truncates a fractional mean — cast the column to
    double first if you want fractional fills).
    """
    if not columns:
        raise ValueError("impute_nulls needs at least one column")
    groups = (
        [group_cols]
        if isinstance(group_cols, str)
        else list(group_cols or [])
    )
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"impute columns not in frame: {missing}")
    stat_cols = {
        c: strat
        for c, strat in columns.items()
        if strat in ("mean", "median")
    }
    aggs = []
    for c, strat in stat_cols.items():
        if strat == "mean":
            aggs.append(
                (
                    F.sum(F.col(c)).cast("double")
                    / F.count(F.col(c)).cast("double")
                ).alias(f"__fill_{c}")
            )
        else:
            aggs.append(
                F.round(
                    F.expr(f"percentile({c}, 0.5)"), round_to
                ).alias(f"__fill_{c}")
            )
    out = df
    if aggs:
        helpers = {f"__g{i}" for i in range(len(groups))} | {
            f"__fill_{c}" for c in stat_cols
        }
        clash = helpers & set(df.columns)
        if clash:
            raise ValueError(
                f"input columns collide with impute helper names "
                f"{sorted(clash)}; rename them first"
            )
        if groups:
            stats = df.groupBy(*groups).agg(*aggs).select(
                *[F.col(g).alias(f"__g{i}") for i, g in enumerate(groups)],
                *[F.col(f"__fill_{c}") for c in stat_cols],
            )
            cond = [
                df[g].eqNullSafe(stats[f"__g{i}"])
                for i, g in enumerate(groups)
            ]
            out = df.join(F.broadcast(stats), on=cond, how="left").drop(
                *[f"__g{i}" for i in range(len(groups))]
            )
        else:
            stats = df.agg(*aggs)
            out = df.crossJoin(F.broadcast(stats))
    for c, strat in columns.items():
        if strat in ("mean", "median"):
            fill = F.col(f"__fill_{c}").cast(df.schema[c].dataType)
        else:
            fill = F.lit(strat).cast(df.schema[c].dataType)
        out = out.withColumn(c, F.coalesce(F.col(c), fill))
    return out.drop(*[f"__fill_{c}" for c in stat_cols])
