"""Skew-bounded self-join pair generation for LSH bucket joins.

The candidate stage of MinHash dedup and embedding near-dup is a self-join
on a bucket key. A plain equi-join puts EVERY pair of a bucket into the one
task that owns the bucket's key, so a single hot bucket of n rows (near-
duplicate-heavy corpora produce exactly this) costs n² inside one task —
a scale hazard at 100 TB.

``bounded_self_join`` makes the per-task input size a constant: each bucket
of n rows is split into ``S = ceil(n / max_bucket_rows)`` contiguous blocks
by rank, and the bucket's pairs are produced per block-pair ``(i, j)`` with
``i <= j``. Each join task then sees at most ``2 * max_bucket_rows`` input
rows regardless of bucket skew, and the n² work of a hot bucket spreads
over ``S * (S + 1) / 2`` independent tasks. The output pair set is EXACTLY
the naive self-join's (no sampling, no cap loss):

- blocks are contiguous in rank order, so for ``i < j`` every cross-block
  pair already satisfies ``a.order < b.order`` and appears exactly once;
- within a block (``i == j``) the usual ``a.order < b.order`` filter
  applies.

Small buckets (n <= max_bucket_rows) get S = 1, which degenerates to the
plain self-join — zero replication, zero extra work. Replication for a hot
bucket is (S + 1) copies of each (narrow) row, negligible next to its
n²/2 output pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_MAX_BUCKET_ROWS = 4096


def bounded_self_join(
    df: DataFrame,
    key_cols: list[str],
    *,
    order_col: str,
    max_bucket_rows: int = DEFAULT_MAX_BUCKET_ROWS,
    materialize: bool = True,
) -> DataFrame:
    """All unordered row pairs of ``df`` sharing ``key_cols``, skew-bounded.

    Returns ``key_cols + (a, b, __blk_i, __blk_j)`` where ``a``/``b`` are
    structs of the non-key columns and ``a.<order_col> < b.<order_col>``.
    ``order_col`` must be unique within each bucket (it defines the rank
    order that makes blocks contiguous). ``__blk_i``/``__blk_j`` are the
    internal block tags, exposed for plan/skew assertions — callers drop
    them.

    ``materialize=False`` skips the eager checkpoint of the tagged frame:
    the right call when ``df``'s lineage is CHEAP (a scan plus a few
    shuffles) — computing it once per join side inside the final job
    beats a serialized up-front materialization action. Keep the default
    when the lineage is expensive (minhash/simhash signature pipelines).
    """
    payload = [c for c in df.columns if c not in key_cols]
    w = Window.partitionBy(*[F.col(c) for c in key_cols])
    n = F.count(F.lit(1)).over(w)
    rank = F.row_number().over(w.orderBy(F.col(order_col))) - F.lit(1)
    n_blocks = F.ceil(n / F.lit(max_bucket_rows)).cast("int")
    # contiguous block id: floor(rank * S / n) — balanced, and rank order
    # is preserved across blocks (block i's rows all precede block j's for
    # i < j), which is what makes cross-block pairs pre-ordered
    #
    # materialise once: both join sides branch from this frame, and Spark
    # does NOT reuse the exchange across the branches (verified on the
    # adaptive plan), so ``df``'s lineage — typically the CPU-heavy
    # minhash/simhash signature pipeline — would execute twice. Measured
    # ~25% off minhash_pairs at sf0.1; the saving scales with signature
    # cost. Same recompute-on-executor-loss tradeoff as the CC rounds'
    # localCheckpoints (dedup.py) — acceptable for a frame this narrow.
    tagged = df.select(
        *key_cols,
        F.struct(*[F.col(c) for c in payload]).alias("__row"),
        F.floor(rank * n_blocks / n).cast("int").alias("__blk"),
        n_blocks.alias("__nblk"),
    )
    if materialize:
        tagged = tagged.localCheckpoint(eager=True)
    a_side = tagged.select(
        *key_cols,
        F.col("__row").alias("a"),
        F.col("__blk").alias("__blk_i"),
        F.explode(
            F.sequence(F.col("__blk"), F.col("__nblk") - F.lit(1))
        ).alias("__blk_j"),
    )
    b_side = tagged.select(
        *key_cols,
        F.col("__row").alias("b"),
        F.explode(F.sequence(F.lit(0), F.col("__blk"))).alias("__blk_i"),
        F.col("__blk").alias("__blk_j"),
    )
    return a_side.join(
        b_side, on=[*key_cols, "__blk_i", "__blk_j"], how="inner"
    ).where(
        (F.col("__blk_i") != F.col("__blk_j"))
        | (F.col(f"a.`{order_col}`") < F.col(f"b.`{order_col}`"))
    )
