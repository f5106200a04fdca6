"""ANN quality measurement: recall@k of an approximate top-k against
the exact top-k — the tuning target for ``n_probe``/``pq_m``/
``refine_factor`` that the approximate paths otherwise lack.

Recall@k is THE standard ANN quality metric (the ann-benchmarks.com
convention): for each query, ``|approx ∩ exact| / k``. Both inputs are
top-k frames (``k`` rows per query/group), so everything here is
bounded by construction — the join is semi over ≤ groups × k rows, the
aggregation emits one row per group, and the division is a single
correctly-rounded double op over exact integers (the engine-exact
class every oracle replays bit-identically).

Scale shape: measurement runs on a SAMPLE of queries (hundreds), never
the corpus — each query's two top-k frames are what's expensive, and
those costs belong to the search operators being measured. This module
never touches the vectors.

No reference counterpart (``/root/reference`` has no vector surface).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["ann_recall", "pair_recall"]


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    *,
    id_col: str = "vec_id",
    group_cols: Sequence[str] = (),
    k: int | None = None,
    recall_col: str = "recall",
) -> DataFrame:
    """Per-group recall of ``approx`` against ``exact``.

    Both frames carry the retrieved ``id_col`` plus the shared
    ``group_cols`` (query id, method, ... — empty for single-query
    frames). Output: one row per group with ``n_hits`` (ids in both),
    ``n_exact``, ``n_approx`` (exact longs) and ``recall`` =
    ``n_hits / (k or n_exact)``. The denominator defaults to the
    EXACT side's size — the honest denominator when the exact frame
    was cut short (corpus smaller than k); pass ``k`` to pin the
    conventional fixed-k denominator.

    Groups present on only one side still emit a row (full outer over
    the group-bounded aggregates, counts null-filled to 0) — an
    approximate method returning nothing for a query must read as
    recall 0, not as a silently missing row.
    """
    keys = [*group_cols, id_col]
    for c in keys:
        if c not in approx.columns:
            raise ValueError(f"ann_recall: approx frame lacks column {c!r}")
        if c not in exact.columns:
            raise ValueError(f"ann_recall: exact frame lacks column {c!r}")
    if k is not None and k < 1:
        raise ValueError(f"ann_recall: k must be >= 1, got {k}")
    gcols = list(group_cols)

    def _count(df: DataFrame, name: str) -> DataFrame:
        agg = df.groupBy(*gcols).agg(F.count(F.lit(1)).alias(name))
        return agg

    # top-k frames are k rows per group — the exact side broadcasts
    hits = _count(
        approx.join(F.broadcast(exact.select(*keys)), keys, "left_semi"),
        "n_hits",
    )
    n_exact = _count(exact, "n_exact")
    n_approx = _count(approx, "n_approx")
    if gcols:
        joined = n_exact.join(n_approx, gcols, "full").join(
            hits, gcols, "full"
        )
    else:
        joined = n_exact.crossJoin(n_approx).crossJoin(hits)
    denom = (
        F.lit(int(k)).cast("double")
        if k is not None
        else F.coalesce(F.col("n_exact"), F.lit(0)).cast("double")
    )
    return joined.select(
        *gcols,
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        F.coalesce(F.col("n_exact"), F.lit(0)).alias("n_exact"),
        F.coalesce(F.col("n_approx"), F.lit(0)).alias("n_approx"),
        F.when(
            denom > 0,
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / denom,
        )
        .otherwise(F.lit(None).cast("double"))
        .alias(recall_col),
    )


def pair_recall(
    approx: DataFrame,
    exact: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    group_cols: Sequence[str] = (),
    broadcast_exact: bool = False,
) -> DataFrame:
    """Recall AND precision of an approximate near-duplicate PAIR set
    against exact ground truth — the dedup-side sibling of
    :func:`ann_recall` (the tuning target for ``bands``/``num_hashes``/
    ``max_hamming`` that the probabilistic candidate generators
    otherwise lack: MinHash banding loses true pairs it never
    collides, SimHash hamming bands admit pairs Jaccard rejects).

    Inputs are pair frames ``(id_a, id_b)`` plus shared ``group_cols``
    (method, threshold, ... — empty for a single measurement). Each
    side's pairs must be DISTINCT as unordered pairs (the operators'
    ``id_a < id_b`` convention satisfies this); orientation is
    normalized here, so an ``(a, b)`` on one side matches a ``(b, a)``
    on the other. Output per group: ``n_hits`` (pairs in both),
    ``n_exact``, ``n_approx`` (exact longs), ``recall`` =
    ``n_hits / n_exact`` and ``precision`` = ``n_hits / n_approx``
    (single correctly-rounded divisions; NULL when the denominator is
    0). Groups on only one side still emit a row (counts 0) — a method
    finding nothing must read as recall 0, not a missing row. Group
    keys must be non-NULL (NULL keys never merge across the two sides
    under standard join semantics — tag arms with literals).

    Scale shape: unlike top-k frames, pair sets are corpus-bounded, so
    the hit count is a plain shuffle equi-join on the normalized
    8-byte-pair key (``broadcast_exact=True`` when ground truth is a
    small labelled sample); counts are map-side-combined aggregations.
    Never touches document text or vectors.
    """
    gcols = list(group_cols)
    for side, df in (("approx", approx), ("exact", exact)):
        for c in [id_a, id_b, *gcols]:
            if c not in df.columns:
                raise ValueError(
                    f"pair_recall: {side} frame lacks column {c!r}"
                )

    def _norm(df: DataFrame) -> DataFrame:
        return df.select(
            *gcols,
            F.least(F.col(id_a), F.col(id_b)).alias("__pa"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("__pb"),
        )

    na, ne = _norm(approx), _norm(exact)
    keys = [*gcols, "__pa", "__pb"]
    ne_join = F.broadcast(ne) if broadcast_exact else ne

    def _count(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy(*gcols).agg(F.count(F.lit(1)).alias(name))

    hits = _count(na.join(ne_join, keys, "left_semi"), "n_hits")
    n_exact = _count(ne, "n_exact")
    n_approx = _count(na, "n_approx")
    if gcols:
        joined = n_exact.join(n_approx, gcols, "full").join(
            hits, gcols, "full"
        )
    else:
        joined = n_exact.crossJoin(n_approx).crossJoin(hits)

    def _ratio(num: str, den: str) -> F.Column:
        d = F.coalesce(F.col(den), F.lit(0))
        return F.when(
            d > 0,
            F.coalesce(F.col(num), F.lit(0)).cast("double")
            / d.cast("double"),
        ).otherwise(F.lit(None).cast("double"))

    return joined.select(
        *gcols,
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        F.coalesce(F.col("n_exact"), F.lit(0)).alias("n_exact"),
        F.coalesce(F.col("n_approx"), F.lit(0)).alias("n_approx"),
        _ratio("n_hits", "n_exact").alias("recall"),
        _ratio("n_hits", "n_approx").alias("precision"),
    )
