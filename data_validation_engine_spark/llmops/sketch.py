"""Distinct-count sketches: deterministic K-Minimum-Values (KMV).

Exact ``COUNT(DISTINCT x)`` per group is a full shuffle of every distinct
value; at 100 TB the distinct set itself can exceed executor memory for
hot groups. The classic fix (Bar-Yossef et al. 2002, "Counting distinct
elements in a data stream") is the KMV sketch: hash every value into a
uniform space, keep only the ``k`` smallest hashes per group, and
estimate the cardinality from the ``k``-th smallest — the sketch is
``O(k)`` memory per group regardless of cardinality, mergeable, and the
estimate's relative error is ~``1/sqrt(k-2)``.

Engine-portability is the point of this implementation: the hash is the
first 15 hex chars of ``md5(seed || value)`` read as a 60-bit integer
(same trick as the split/sampling family, `llmops/split.py:34`), so any
SQL engine reproduces the exact same sketch and the exact same estimate
— the estimator divides two exactly-representable doubles
(``(k-1) * 2^60`` and the k-th hash), which IEEE-754 rounds identically
everywhere. Groups with fewer than ``k`` distinct values report the
EXACT count (the sketch saw every value).

Scale shape: one shuffle of ``(group, 8-byte hash)`` for the distinct,
then a rank/aggregate pair that reuses the same hash partitioning on
``group`` (single additional exchange). No value wider than 8 bytes ever
shuffles; the raw values themselves never leave the map side.

The reference engine has no sketch surface (batch row validation only);
this is a net-new extension following SURVEY §8.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: hash space: 16^15 = 2^60 — 15 hex chars of the md5, fits a signed long
HASH_SPACE = float(1 << 60)

DEFAULT_K = 256


def kmv_hash(value: Column, *, seed: str = "") -> Column:
    """Deterministic 60-bit hash of ``value`` in ``[0, 2^60)``.

    ``seed`` derives an independent sketch family; the value is cast to
    string so any type works. Pure per-row projection, codegen'd JVM-side.
    """
    digest = F.md5(F.concat(F.lit(seed), value.cast("string")))
    return F.conv(F.substring(digest, 1, 15), 16, 10).cast("bigint")


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    *,
    k: int = DEFAULT_K,
    seed: str = "",
) -> DataFrame:
    """Per-group approximate distinct count via a KMV sketch.

    Returns ``(*group_cols, n_seen, kth_hash, approx_distinct)``:

    - ``n_seen`` — number of sketch slots filled (= exact distinct count
      when below ``k``);
    - ``kth_hash`` — the k-th smallest hash (null while the sketch is
      unsaturated);
    - ``approx_distinct`` — ``n_seen`` exactly when unsaturated, else
      ``(k-1) * 2^60 / kth_hash`` (double).

    Deterministic and engine-exact: every intermediate is an integer
    except the final single division.
    """
    return _kmv_tail(
        df.select(
            *group_cols, kmv_hash(F.col(value_col), seed=seed).alias("__hv")
        ),
        group_cols,
        k,
    )


def kmv_merge(
    sketches: DataFrame,
    group_cols: list[str],
    *,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Merge per-partition KMV sketches (rows of ``(group, __hv)``) into
    the per-group estimate — the union of min-k sets re-ranked and cut at
    ``k`` is exactly the sketch of the unioned data, which is what makes
    KMV usable across independently-sketched shards / days / sources.

    Input must carry one row per (group, hash) surviving each shard's
    local cut; the rank-and-aggregate tail is SHARED with
    :func:`kmv_distinct`, so the two paths can never diverge.
    """
    return _kmv_tail(sketches.select(*group_cols, "__hv"), group_cols, k)


def _kmv_tail(
    hashed: DataFrame, group_cols: list[str], k: int
) -> DataFrame:
    """Shared sketch tail: distinct hashes -> per-group min-k -> count /
    k-th hash / estimate. NULL hashes (NULL input values) are dropped
    first — ``COUNT(DISTINCT x)`` ignores NULLs, and a NULL would
    otherwise sort NULLS-FIRST into sketch rank 1 on the Spark side while
    DuckDB ranks NULLS LAST, corrupting both the estimate and the
    cross-engine parity."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    hashed = hashed.where(F.col("__hv").isNotNull()).distinct()
    if group_cols:
        w = Window.partitionBy(*group_cols).orderBy("__hv")
        ranked = hashed.withColumn("__rn", F.row_number().over(w)).where(
            F.col("__rn") <= k
        )
    else:
        # global sketch: sort+limit plans as TakeOrderedAndProject (each
        # partition keeps a k-heap, driver merges k·P rows) — no
        # single-partition window bottleneck
        ranked = (
            hashed.orderBy("__hv")
            .limit(k)
            .withColumn(
                "__rn", F.row_number().over(Window.orderBy("__hv"))
            )
        )
    agg = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_seen"),
        F.max(F.when(F.col("__rn") == k, F.col("__hv"))).alias("kth_hash"),
    )
    estimate = F.when(
        F.col("n_seen") < k, F.col("n_seen").cast("double")
    ).otherwise(
        F.lit(float(k - 1) * HASH_SPACE) / F.col("kth_hash").cast("double")
    )
    return agg.withColumn("approx_distinct", estimate)


def kmv_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    *,
    k: int = DEFAULT_K,
    seed: str = "",
) -> DataFrame:
    """Materialise the sketch itself — one ``(group..., __hv)`` row per
    surviving min-k hash — rather than the estimate. This is the
    shippable O(k)-per-group synopsis: persist it per shard/day/source,
    then :func:`kmv_merge` re-estimates unions and
    :func:`kmv_set_estimates` answers set-overlap questions WITHOUT
    touching the raw data again."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    hashed = (
        df.select(
            *group_cols, kmv_hash(F.col(value_col), seed=seed).alias("__hv")
        )
        .where(F.col("__hv").isNotNull())
        .distinct()
    )
    if group_cols:
        w = Window.partitionBy(*group_cols).orderBy("__hv")
    else:
        w = Window.orderBy("__hv")
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_set_estimates(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    group_cols: list[str],
    *,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Distinct-count estimates for the UNION and INTERSECTION of two
    sketched sets, plus their Jaccard similarity — per group — from the
    sketches ALONE (Beyer et al. 2007, "On synopses for distinct value
    estimation under multiset operations"): cut the combined hash sets
    back to min-k (that IS the sketch of A∪B); within that cut, the
    fraction of hashes present in both sketches estimates Jaccard;
    intersection = jaccard x union.

    Returns ``(*group_cols, union_n_seen, union_est, n_both, jaccard,
    intersect_est)``. When BOTH sketches are unsaturated the sketch saw
    every value, so union/intersection are exact counts.

    Engine-exact: every intermediate is an integer; jaccard is one
    division and intersect one multiply of IEEE doubles. Scale shape:
    the inputs are already O(k) per group — the whole computation
    shuffles sketch rows only, never data.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    a = sketch_a.select(*group_cols, "__hv").withColumn(
        "__in_a", F.lit(1)
    ).withColumn("__in_b", F.lit(0))
    b = sketch_b.select(*group_cols, "__hv").withColumn(
        "__in_a", F.lit(0)
    ).withColumn("__in_b", F.lit(1))
    both = (
        a.unionByName(b)
        .groupBy(*group_cols, "__hv")
        .agg(
            F.max("__in_a").alias("__in_a"),
            F.max("__in_b").alias("__in_b"),
        )
    )
    if group_cols:
        w = Window.partitionBy(*group_cols).orderBy("__hv")
    else:
        w = Window.orderBy("__hv")
    cut = both.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") <= k
    )
    agg = cut.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("union_n_seen"),
        F.max(F.when(F.col("__rn") == k, F.col("__hv"))).alias(
            "__kth"
        ),
        F.sum(
            F.when((F.col("__in_a") == 1) & (F.col("__in_b") == 1), 1)
            .otherwise(0)
        ).alias("n_both"),
    )
    union_est = F.when(
        F.col("union_n_seen") < k, F.col("union_n_seen").cast("double")
    ).otherwise(
        F.lit(float(k - 1) * HASH_SPACE) / F.col("__kth").cast("double")
    )
    jaccard = F.col("n_both").cast("double") / F.col(
        "union_n_seen"
    ).cast("double")
    return (
        agg.withColumn("union_est", union_est)
        .withColumn("jaccard", jaccard)
        .withColumn(
            "intersect_est", F.col("jaccard") * F.col("union_est")
        )
        .drop("__kth")
    )


# -- Apache DataSketches HLL (JVM-native, Spark 3.5+) ------------------------
#
# KMV above is the ENGINE-PORTABLE sketch (bit-identical in any SQL
# engine — the oracle story). When cross-engine exactness is not needed,
# Spark's built-in DataSketches HLL is the production path: tighter error
# at the same state size, registers updated JVM-side inside the hash
# aggregate (no Python, no extra shuffle), and the binary sketch column
# is MERGEABLE — persist per-partition/per-day sketches once, roll them
# up forever without touching the raw data again. Public API only
# (pyspark.sql.functions.hll_*; Apache DataSketches memory format).


def hll_profile(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    *,
    lg_k: int = 12,
    keep_sketch: bool = True,
) -> DataFrame:
    """Per-group HLL distinct-count: ``group_cols + (n_est, sketch?)``.

    ``lg_k`` trades state (2^lg_k registers ≈ KB-scale) against relative
    error (~1.04/sqrt(2^lg_k): lg_k=12 → ~1.6%). The sketch column makes
    the profile INCREMENTAL: keep it, and tomorrow's rollup is
    :func:`hll_rollup` over (yesterday's sketches ∪ today's batch
    sketches) — the raw corpus is touched exactly once per batch.
    """
    sk = F.hll_sketch_agg(F.col(value_col), lg_k).alias("sketch")
    out = df.groupBy(*group_cols).agg(sk)
    est = F.hll_sketch_estimate("sketch").alias("n_est")
    if keep_sketch:
        return out.select(*group_cols, est, "sketch")
    return out.select(*group_cols, est)


def hll_rollup(
    sketches: DataFrame,
    group_cols: list[str],
    *,
    sketch_col: str = "sketch",
    allow_different_lg_k: bool = False,
) -> DataFrame:
    """Merge persisted HLL sketches to a coarser grouping (day → month,
    shard → corpus): ``group_cols + (n_est, sketch)``. Union is
    register-wise max, so merged estimates equal what a single pass over
    the union of the raw data would have produced — the property that
    makes sketch tables a substitute for re-scans."""
    merged = sketches.groupBy(*group_cols).agg(
        F.hll_union_agg(F.col(sketch_col), allow_different_lg_k).alias(
            "sketch"
        )
    )
    return merged.select(
        *group_cols,
        F.hll_sketch_estimate("sketch").alias("n_est"),
        "sketch",
    )


# -- Count-Min sketch: mergeable approximate frequencies -----------------
def _cms_col(value: Column, depth: int, width: int, seed: str) -> Column:
    """``array<struct<row,col>>``: the value's cell in each of ``depth``
    md5-derived hash rows — deterministic, so two engines (and two
    days' batches) index identical cells.

    NULL hashes to its own marker ("n"; real values prefix "v:" so no
    string can collide with it) — a raw NULL would yield NULL cells
    that build stores but query's equi-join can never match, silently
    breaking the never-undercount guarantee for NULL-heavy columns."""
    cells = [
        F.struct(
            F.lit(r).alias("row"),
            _cms_row_col(value, r, width, seed).alias("col"),
        )
        for r in range(depth)
    ]
    return F.array(*cells)


def _cms_row_col(value: Column, r: int, width: int, seed: str) -> Column:
    """The value's column index in hash row ``r`` — the single-row slice
    of :func:`_cms_col`, exposed so consumers that can short-circuit on
    one row at a time (the :func:`heavy_hitters` screen) don't have to
    materialise the full depth-array per input row."""
    keyed = F.coalesce(
        F.concat(F.lit("v:"), value.cast("string")), F.lit("n")
    )
    digest = F.md5(F.concat(F.lit(f"{seed}|cms{r}|"), keyed))
    return (
        # 60-bit value: long arithmetic, not decimal — same result
        # (15 hex chars < 2^63), measurably cheaper per gram
        F.conv(F.substring(digest, 1, 15), 16, 10).cast("long")
        % F.lit(width)
    ).cast("int")


def cms_build(
    df: DataFrame,
    value_col: str,
    *,
    group_cols: list[str] | None = None,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
    seed: str = "",
) -> DataFrame:
    """Count-Min sketch of a value column's frequencies: ``group_cols +
    (row, col, n)`` — at most ``depth * width`` cells per group
    regardless of how many distinct values the data holds.

    Exact :func:`frequent_items` shuffles every distinct value; at
    100 TB a high-cardinality column (URLs, user ids) makes that the
    dominant exchange. The CMS caps shuffle width at ``depth*width``
    COUNTER CELLS (map-side combine collapses rows into cells before
    the exchange), trading a one-sided overestimate bounded by
    ``2e/width * total_weight`` with prob ``1 - (1/2)^depth``
    (Cormode & Muthukrishnan 2005). Hash rows are md5-derived —
    deterministic across engines, reruns, and shards, which is what
    makes the cell table MERGEABLE: :func:`cms_merge` of two batches'
    sketches equals the sketch of the union, so persist per-batch
    sketches and never re-touch raw data.

    ``weight_col`` counts tokens/bytes instead of rows.
    """
    if depth <= 0 or width <= 0:
        raise ValueError("depth and width must be positive")
    groups = list(group_cols or [])
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    cells = df.select(
        *groups,
        F.explode(
            _cms_col(F.col(value_col), depth, width, seed)
        ).alias("__cell"),
        w.alias("__w"),
    )
    return cells.groupBy(
        *groups, F.col("__cell")["row"].alias("row"),
        F.col("__cell")["col"].alias("col"),
    ).agg(F.sum("__w").alias("n"))


def cms_merge(
    sketches: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Merge CMS cell tables (same depth/width/seed) to a coarser
    grouping: cell-wise sum — the linearity that makes the sketch a
    substitute for re-scanning raw batches."""
    groups = list(group_cols or [])
    return sketches.groupBy(*groups, "row", "col").agg(
        F.sum("n").alias("n")
    )


def cms_query(
    sketch: DataFrame,
    values: DataFrame,
    value_col: str,
    *,
    group_cols: list[str] | None = None,
    depth: int = 4,
    width: int = 1024,
    seed: str = "",
) -> DataFrame:
    """Point-estimate frequencies for a candidate value table:
    ``values' columns + n_est`` where ``n_est = min`` over the value's
    ``depth`` cells (absent cells read 0). Broadcast the candidate
    side's cells against the sketch — the sketch is at most
    ``depth*width`` rows per group, so this is an equi-join on (row,
    col), never a scan of raw data. The estimate NEVER undercounts;
    overcount bound as in :func:`cms_build`."""
    groups = list(group_cols or [])
    probes = values.select(
        *groups,
        F.col(value_col),
        F.explode(
            _cms_col(F.col(value_col), depth, width, seed)
        ).alias("__cell"),
    ).select(
        *groups,
        value_col,
        F.col("__cell")["row"].alias("row"),
        F.col("__cell")["col"].alias("col"),
    )
    # eqNullSafe on the group columns: groupBy in cms_build keeps a NULL
    # group key as a real group, so an equality join would orphan NULL-
    # group probes onto n_est=0 — violating the never-undercount
    # guarantee (same __g_ alias + eqNullSafe pattern as standardize).
    # row/col are never NULL (lit-constructed), plain equality there.
    sketch_r = sketch.select(
        *[F.col(g).alias(f"__g_{g}") for g in groups],
        F.col("row").alias("__s_row"),
        F.col("col").alias("__s_col"),
        F.col("n"),
    )
    cond = (F.col("row") == F.col("__s_row")) & (
        F.col("col") == F.col("__s_col")
    )
    for g in groups:
        cond = cond & F.col(g).eqNullSafe(F.col(f"__g_{g}"))
    joined = probes.join(sketch_r, cond, "left").select(
        *groups, value_col, F.coalesce(F.col("n"), F.lit(0)).alias("__n")
    )
    return joined.groupBy(*groups, value_col).agg(
        F.min("__n").alias("n_est")
    )


# -- Bloom filter: mergeable approximate set membership ------------------
def _bloom_positions(
    value: Column, m_bits: int, k_hashes: int, seed: str
) -> Column:
    """``array<int>``: the value's ``k_hashes`` bit positions in a
    ``m_bits``-wide Bloom filter, md5-derived — deterministic, so two
    engines (and two days' batches) set identical bits.

    NULL keys to its own marker ("n"; real values prefix "v:"), same
    contract as :func:`_cms_col`: NULL is a real member, queries for it
    must hit the bits the build stored.
    """
    return F.array(
        *[
            _bloom_position(value, h, m_bits, seed)
            for h in range(k_hashes)
        ]
    )


def _bloom_position(
    value: Column, h: int, m_bits: int, seed: str
) -> Column:
    """Bit position of ``value`` for hash row ``h`` — the single-row
    slice of :func:`_bloom_positions`, exposed so probes that test one
    position at a time as plain codegen projections (the
    ``decontaminate_bloom`` screen) don't build the array per row."""
    keyed = F.coalesce(
        F.concat(F.lit("v:"), value.cast("string")), F.lit("n")
    )
    digest = F.md5(F.concat(F.lit(f"{seed}|bloom{h}|"), keyed))
    return (
        # 60-bit value: long, not decimal (see _cms_col)
        F.conv(F.substring(digest, 1, 15), 16, 10).cast("long")
        % F.lit(m_bits)
    ).cast("int")


def bloom_build(
    df: DataFrame,
    value_col: str,
    *,
    group_cols: list[str] | None = None,
    m_bits: int = 1 << 16,
    k_hashes: int = 5,
    seed: str = "",
) -> DataFrame:
    """Bloom filter of a value column: ``group_cols + (word, bits)`` —
    a SPARSE bit array (63 bits per long word — see the sign-bit
    note in the code — zero words absent), at most ``m_bits/63 + 1``
    rows per group regardless of member count.

    The 100 TB use case is membership pre-filtering without shipping
    the member set: decontamination (does this training doc's n-gram
    appear in the benchmark set?), incremental-dedup pre-screens (has
    this content hash been seen in ANY prior batch?), and join
    pre-filtering (drop probe rows whose key cannot match before the
    shuffle). An exact semi-join shuffles every probe key; the Bloom
    caps the shipped state at ``m_bits/8`` BYTES per group (Bloom
    1970). No false negatives ever; false-positive rate
    ``(1 - e^(-k*n/m))^k`` — ~0.01 at ``m/n = 16, k = 5``.

    Bit positions are md5-derived (:func:`_bloom_positions`), so the
    word table is MERGEABLE: :func:`bloom_merge` of two batches'
    filters (bitwise OR) equals the filter of the union — persist
    per-batch filters and never re-touch raw data. Map-side combine
    collapses rows into words before the exchange, so the shuffle
    width is bounded by the word count, not the row count.

    Spark's built-in ``df.stat.bloomFilter`` collects one opaque
    driver-side object — no grouping, no SQL-side probe join, not
    mergeable across batches without driver round-trips. This keeps
    the filter IN the cluster as a DataFrame.
    """
    if m_bits <= 0 or k_hashes <= 0:
        raise ValueError("m_bits and k_hashes must be positive")
    groups = list(group_cols or [])
    pos = df.select(
        *groups,
        F.explode(
            _bloom_positions(F.col(value_col), m_bits, k_hashes, seed)
        ).alias("__pos"),
    )
    # 63 bits per word, NOT 64: bit 63 is the sign bit, where engines
    # disagree (Spark shiftleft wraps silently, DuckDB errors on the
    # overflow) — staying in positive-long territory keeps the word
    # table bit-identical across engines for ~1.6% extra rows.
    word = (F.col("__pos") / F.lit(63)).cast("int").alias("word")
    # (expr: the Python shiftleft wrapper takes only a literal numBits)
    bit_mask = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(__pos % 63 AS INT))"
    )
    return pos.groupBy(*groups, word).agg(
        F.bit_or(bit_mask).alias("bits")
    )


def bloom_merge(
    filters: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Merge Bloom word tables (same m_bits/k_hashes/seed) to a coarser
    grouping: word-wise bitwise OR — the union property that lets
    per-batch / per-shard filters stand in for a filter of the whole."""
    groups = list(group_cols or [])
    return filters.groupBy(*groups, "word").agg(
        F.bit_or("bits").alias("bits")
    )


def bloom_might_contain(
    bloom: DataFrame,
    values: DataFrame,
    value_col: str,
    *,
    group_cols: list[str] | None = None,
    m_bits: int = 1 << 16,
    k_hashes: int = 5,
    seed: str = "",
) -> DataFrame:
    """Probe a candidate value table against a Bloom word table.
    Returns the DEDUPLICATED ``(group_cols, value_col, might_contain)``
    verdict table — one row per distinct probed value per group, other
    ``values`` columns dropped (the probe explodes each value to
    ``k_hashes`` lookups and re-aggregates, so carrying payload columns
    through would multiply them; join the verdicts back on
    ``group_cols + value_col`` to annotate full rows, as
    :func:`~.decontam.decontaminate_bloom` does). ``might_contain`` is
    TRUE iff all ``k_hashes`` bits are set (never a false negative; FP
    rate as in :func:`bloom_build`).

    Each probe value explodes to ``k_hashes`` (word, bit) lookups
    equi-joined against the word table — at most ``m_bits/63 + 1`` rows
    per group on the build side, so AQE broadcasts it for any sane
    ``m_bits``; raw member data is never touched. Group columns join
    null-safely (groupBy keeps NULL as a real group — same guarantee
    fix as :func:`cms_query`); ``word`` is never NULL, plain equality
    there.
    """
    groups = list(group_cols or [])
    probes = values.select(
        *groups,
        F.col(value_col),
        F.explode(
            _bloom_positions(F.col(value_col), m_bits, k_hashes, seed)
        ).alias("__pos"),
    ).select(
        *groups,
        value_col,
        (F.col("__pos") / F.lit(63)).cast("int").alias("word"),
        (F.col("__pos") % 63).cast("int").alias("__bit"),
    )
    bloom_r = bloom.select(
        *[F.col(g).alias(f"__g_{g}") for g in groups],
        F.col("word").alias("__b_word"),
        F.col("bits"),
    )
    cond = F.col("word") == F.col("__b_word")
    for g in groups:
        cond = cond & F.col(g).eqNullSafe(F.col(f"__g_{g}"))
    hit = (
        F.coalesce(F.col("bits"), F.lit(0).cast("long")).bitwiseAND(
            F.expr("shiftleft(CAST(1 AS BIGINT), __bit)")
        )
        != 0
    )
    joined = probes.join(bloom_r, cond, "left").select(
        *groups, value_col, hit.alias("__hit")
    )
    return joined.groupBy(*groups, value_col).agg(
        F.bool_and("__hit").alias("might_contain")
    )


def cms_screen(
    sketch_rows,
    value: Column,
    min_count: int,
    *,
    depth: int,
    width: int,
    seed: str = "",
) -> Column:
    """Boolean screen over a COLLECTED :func:`cms_build` cell table:
    true iff the value's CMS estimate (min over its ``depth`` cells)
    reaches ``min_count`` — i.e. EVERY one of its cells does. The
    sketch never undercounts, so no value whose true count reaches
    ``min_count`` is ever screened out.

    Expressed as a conjunction of per-row "col in hot-column-set"
    tests over plain literal InSets: no 1-row
    broadcast join, no array<array> literal, no interpreted
    transform/element_at walk per input row — and codegen
    short-circuits the AND, so the non-hot majority stops after hash
    row 0 instead of computing all ``depth`` md5 cells. Factored out
    of :func:`heavy_hitters` so fused pipelines (e.g.
    ``substrings.marked_positions``, which screens gram POSITIONS in
    the same pass that generates them) reuse the identical screen."""
    cells = [[0] * width for _ in range(depth)]
    for r in sketch_rows:
        cells[r["row"]][r["col"]] = r["n"]
    screen = None
    for r in range(depth):
        hot_cols = [c for c in range(width) if cells[r][c] >= min_count]
        cond = _cms_row_col(value, r, width, seed).isin(
            hot_cols
        ) if hot_cols else F.lit(False)
        screen = cond if screen is None else screen & cond
    return screen if screen is not None else F.lit(False)


def heavy_hitters(
    df: DataFrame,
    value_col: str,
    min_count: int,
    *,
    weight_col: str | None = None,
    depth: int = 4,
    width: int = 4096,
    seed: str = "",
) -> DataFrame:
    """EXACT heavy hitters — every value occurring at least
    ``min_count`` times (by rows, or by ``weight_col`` total) with its
    exact count — without shuffling the full distinct-value set:
    ``(value, n)``.

    The plain ``groupBy(value)`` shuffles one row per distinct value —
    at 100 TB a high-cardinality column (URLs, user ids, n-grams)
    makes that exchange the job. This runs two scans instead:

    1. :func:`cms_build` collapses the column into ``depth*width``
       counter cells (map-side combined; the only full-column shuffle
       is cell-bounded).
    2. The cell table — ``depth*width*8`` bytes, 128 KiB at the
       defaults — is COLLECTED ONCE (bounded control-plane fetch, the
       same class as :func:`~...decontam.decontaminate_bloom`'s word
       array) and shipped back as a 1-row broadcast, so the screen is
       a pure per-row projection: estimate = min over the value's
       ``depth`` cells, rows below ``min_count`` never leave the map
       side. The sketch NEVER undercounts, so no true heavy hitter is
       lost.
    3. The exact ``groupBy`` runs on the surviving sliver only; the
       final ``n >= min_count`` cut removes the light values the CMS
       overcount let through (``~2e/width`` of total weight per
       value — widen ``width`` if the leakage is material).

    Output is IDENTICAL to the naive exact operator (pinned by test).
    Grouped variants: build per-group sketches with
    :func:`cms_build` + :func:`cms_query` — this operator keeps the
    collect bounded by staying ungrouped.
    """
    if min_count <= 0:
        raise ValueError("min_count must be positive")
    sketch = cms_build(
        df, value_col, depth=depth, width=width,
        weight_col=weight_col, seed=seed,
    ).collect()  # depth*width rows max: bounded control-plane fetch
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    screen = cms_screen(
        sketch, F.col(value_col), min_count,
        depth=depth, width=width, seed=seed,
    )
    survivors = df.where(screen).select(F.col(value_col), w.alias("__w"))
    exact = survivors.groupBy(value_col).agg(F.sum("__w").alias("n"))
    return exact.where(F.col("n") >= min_count)


def windowed_heavy_hitters(
    cells: DataFrame,
    events: DataFrame,
    ts_col: str,
    value_col: str,
    min_count: int,
    *,
    window_seconds: int,
    depth: int = 4,
    width: int = 4096,
    seed: str = "",
    check_totals: bool = False,
) -> DataFrame:
    """EXACT per-window heavy hitters on an unbounded stream's history
    — the streaming lift of :func:`heavy_hitters`: ``(window_start,
    value, n)`` for every value with
    at least ``min_count`` occurrences in its tumbling window.

    The streaming side never holds per-value state: run
    :func:`~data_validation_engine_spark.streaming.cardinality.streaming_cms_cells`
    continuously (``depth*width`` watermark-evicted state rows per
    window, any value cardinality) and persist the drained cells. This
    batch pass then:

    1. densifies the persisted cells into ONE map per window (a
       group-count-bounded aggregation: windows × depth×width entries);
    2. broadcast-joins that per-window map onto the raw events by
       ``window_start`` alone — the per-value estimate is then a pure
       per-row projection (min over the value's ``depth`` cells), so
       the CMS screen runs map-side with NO per-value shuffle, exactly
       like the batch operator's 1-row broadcast;
    3. exact-counts the surviving sliver only, and applies the final
       ``n >= min_count`` cut.

    Never-undercount ⇒ output is IDENTICAL to the naive per-window
    exact group-by (the :func:`heavy_hitters` guarantee, per window) —
    PROVIDED every probed event was counted into the cells. The CMS
    never undercounts what it saw, but it cannot screen for what it
    never saw: an event the streaming pass's watermark dropped as late
    (yet which remains in the raw ``events`` table) lowers the cell
    estimate below the true raw count, and a true heavy hitter whose
    estimate falls under ``min_count`` would be silently screened out.
    Either probe exactly the events the streaming pass
    admitted, or pass ``check_totals=True`` for a cheap consistency
    gate: per PROBED window, ``sum(cells.n)`` must equal ``depth`` ×
    the window's probed-event count (each event increments exactly
    ``depth`` cells), and any mismatching window raises loudly. The
    gate — like this operator's exact-count stage, which counts rows —
    assumes the cells were built with UNIT weights
    (``streaming_cms_cells`` without a ``weight_col``); a
    weighted-increment cells table needs a weighted probe and is out
    of scope here. Cells covering windows OUTSIDE the probe range are
    fine (the comparison is probe-side only): scoping the probe to a
    maintenance slice of a long-lived cells table is the normal shape.

    The broadcast is bounded by windows-in-scope × ``depth*width`` × 8
    bytes (~128 KiB per window at the defaults) — scope the ``cells``
    input to the maintenance pass's window range, not all history.

    ``window_seconds`` must equal the streaming aggregation's window
    (the join keys on the same ``floor(epoch/window)*window`` bucket
    the cells table carries).
    """
    if min_count <= 0:
        raise ValueError("min_count must be positive")
    if window_seconds <= 0:
        raise ValueError("window_seconds must be positive")
    dense = cells.groupBy("window_start").agg(
        F.map_from_arrays(
            F.collect_list(
                F.col("row").cast("long") * F.lit(int(width))
                + F.col("col").cast("long")
            ),
            F.collect_list(F.col("n")),
        ).alias("__cms_map")
    )
    win = (
        F.floor(
            F.unix_timestamp(F.col(ts_col)) / F.lit(int(window_seconds))
        ).cast("long")
        * F.lit(int(window_seconds))
    ).alias("window_start")
    probe = events.select(win, F.col(value_col))
    if check_totals:
        # cells-cover-the-probe premise (docstring): each counted event
        # increments exactly `depth` cells, so per PROBED window
        # sum(cells.n) == depth * probed-event-count. Unit-weight cells
        # assumed; probe-side left join so cells for windows outside
        # the probe range never false-fail. Both sides are
        # window-count-bounded aggregations; the collect is too.
        bad = (
            probe.groupBy("window_start")
            .agg((F.count(F.lit(1)) * F.lit(int(depth))).alias("__want"))
            .join(
                cells.groupBy("window_start").agg(
                    F.sum("n").alias("__got")
                ),
                "window_start",
                "left",
            )
            .where(
                ~F.coalesce(F.col("__got"), F.lit(0)).eqNullSafe(
                    F.coalesce(F.col("__want"), F.lit(0))
                )
            )
            .select("window_start", "__want", "__got")
            .collect()
        )
        if bad:
            sample = ", ".join(
                f"window {r['window_start']}: cells carry {r['__got']} "
                f"increments, probe implies {r['__want']}"
                for r in bad[:5]
            )
            raise ValueError(
                "windowed_heavy_hitters(check_totals=True): the cells "
                "do not cover exactly the probed events (late data "
                "dropped by the streaming watermark, or extra/missing "
                f"probe rows) in {len(bad)} window(s) — {sample}. The "
                "exactness guarantee needs cells == counted(probe); "
                "restrict the probe to the admitted events."
            )
    # estimate >= min_count  <=>  every one of the value's depth cells
    # reads >= min_count: spelled as a short-circuiting conjunction of
    # scalar map lookups instead of an interpreted transform walk over
    # the cell array (the heavy_hitters screen convention; here
    # the cells vary per window so the lookup stays a broadcast join,
    # but the non-hot majority still stops after hash row 0)
    screen = None
    for r in range(depth):
        lookup = F.coalesce(
            F.element_at(
                F.col("__cms_map"),
                F.lit(r * int(width)).cast("long")
                + _cms_row_col(
                    F.col(value_col), r, width, seed
                ).cast("long"),
            ),
            F.lit(0).cast("long"),
        )
        cond = lookup >= F.lit(int(min_count))
        screen = cond if screen is None else screen & cond
    survivors = (
        probe.join(F.broadcast(dense), "window_start")
        .where(screen)
        .select("window_start", value_col)
    )
    exact = survivors.groupBy("window_start", value_col).agg(
        F.count(F.lit(1)).alias("n")
    )
    return exact.where(F.col("n") >= F.lit(int(min_count)))
