"""Similarity search over embedding columns (``array<float>``).

Two paths, one exact and one sub-linear:

- :func:`cosine_topk` — exact brute force: broadcast the query vector(s),
  compute cosine per row, ``orderBy(...).limit(k)``. Spark plans the limit
  as TakeOrderedAndProject (per-partition top-k + driver merge of k·P rows)
  — no global sort shuffle, so this scales to any table size; it is the
  correctness baseline and the right choice when every row must be scored.
- :func:`ann_topk` — LSH-bucketed approximate path: random-hyperplane signs
  partition vectors into 2^planes buckets; a query probes only its own
  bucket, so the scored fraction is ~1/2^planes of the table. Bucketing is
  a per-row projection (no shuffle). The scale path for REPEATED probes is
  :func:`write_lsh_partitioned` + :func:`ann_topk_partitioned`: the table
  is persisted partitioned by bucket and a probe pushes a static partition
  filter, so the scan reads one directory (plan-asserted in
  ``tests/test_llmops.py::test_ann_partition_pruning``).

Numeric portability: all arithmetic is double-precision left-fold sums in
array index order (``aggregate(zip_with(...))``), which is bit-identical to
the DuckDB oracle's ``list_reduce(list_transform(...))`` — so cosine values
round-trip exactly and the oracle hash-compare is stable.

Hyperplanes come from a deterministic splitmix64-style integer hash of
(plane, dim) — reproducible here and embeddable as literals in oracle SQL,
with no RNG state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_validation_engine_spark.llmops.pairs import (
    DEFAULT_MAX_BUCKET_ROWS,
    bounded_self_join,
)


def _as_double(arr: Column) -> Column:
    return arr.cast("array<double>")


def _dbl_sql(v: float) -> str:
    """One double as exact SQL text (``repr`` round-trips shortest
    form; NaN/Infinity need the string-cast spelling)."""
    import math

    f = float(v)
    if math.isnan(f):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(f):
        sign = "-" if f < 0 else ""
        return f"CAST('{sign}Infinity' AS DOUBLE)"
    return f"CAST({f!r} AS DOUBLE)"


def dlit_array(values) -> Column:
    """``array<double>`` literal built as ONE parsed SQL expression.

    The per-element ``F.lit`` spelling costs one py4j round trip per
    element — ~0.8s of driver time for a 1000-double grid rebuilt on
    every query construction. One ``F.expr`` parse is ~50x cheaper and
    yields the identical ``array(CAST(..))`` expression."""
    return F.expr(
        "array(" + ",".join(_dbl_sql(v) for v in values) + ")"
    )


def dlit_matrix(rows) -> Column:
    """``array<array<double>>`` literal as one parsed SQL expression
    (see :func:`dlit_array`)."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_dbl_sql(v) for v in row) + ")"
            for row in rows
        )
        + ")"
    )


def dot_col(a: Column, b: Column) -> Column:
    """Dot product of two numeric arrays, double left-fold in index order."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(_as_double(a), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def cosine_topk(
    df: DataFrame,
    query: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str | None = None,
    exclude_self: bool = True,
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k by cosine similarity to a single query row.

    ``query`` must be a 1-row frame; it is broadcast, so the "join" is a
    map-side operation over the table. Ties break on ascending id, making
    the cutoff deterministic.
    """
    qcol = query_vec_col or vec_col
    qdf = query.select(
        F.col(qcol).alias("__qvec"),
        F.col(id_col).alias("__qid") if id_col in query.columns else F.lit(None).alias("__qid"),
    )
    scored = df.crossJoin(F.broadcast(qdf)).select(
        F.col(id_col),
        F.round(cosine_col(F.col(vec_col), F.col("__qvec")), round_to).alias(
            "cosine"
        ),
        F.col("__qid"),
    )
    if exclude_self:
        scored = scored.where(
            F.col("__qid").isNull() | (F.col(id_col) != F.col("__qid"))
        )
    return (
        scored.select(id_col, "cosine")
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


# -- LSH bucketing -----------------------------------------------------------

_MASK = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """Deterministic 64-bit mix (public splitmix64 constants)."""
    x = (x + 0x9E3779B97F4A7C15) & _MASK
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _MASK
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _MASK
    return x ^ (x >> 31)


def hyperplanes(
    n_planes: int, dim: int, *, offset: int = 0
) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1)^dim.

    Values derive from splitmix64(plane * dim + dim_index) — stable across
    processes and engines, so the same planes can be inlined as literals in
    an oracle SQL string. ``offset`` shifts the plane index space so
    multiple independent tables (OR-amplification) draw disjoint planes.
    """
    planes = []
    for p in range(offset, offset + n_planes):
        row = []
        for d in range(dim):
            h = _splitmix64(p * 100_003 + d)
            row.append((h >> 11) / float(1 << 53) * 2.0 - 1.0)
        planes.append(row)
    return planes


def bucket_col(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id as a bit string ('101...')."""
    bits = []
    for plane in planes:
        lit_plane = dlit_array(plane)
        bits.append(
            F.when(dot_col(vec, lit_plane) >= 0, F.lit("1")).otherwise(
                F.lit("0")
            )
        )
    return F.concat(*bits)


def with_lsh_bucket(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    n_planes: int = 4,
    dim: int = 64,
    out_col: str = "bucket",
    planes: list[list[float]] | None = None,
) -> DataFrame:
    planes = planes if planes is not None else hyperplanes(n_planes, dim)
    return df.withColumn(out_col, bucket_col(F.col(vec_col), planes))


def multiprobe_ann_topk(
    df: DataFrame,
    query: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    n_tables: int = 3,
    dim: int = 64,
    exclude_self: bool = True,
    round_to: int = 6,
) -> DataFrame:
    """OR-amplified ANN: union the probe buckets of ``n_tables``
    independent hyperplane tables, then rank exactly.

    A true neighbour at angle θ lands in the query's bucket of ONE table
    with probability (1-θ/π)^planes; across L independent tables the miss
    probability compounds down — recall = 1-(1-p)^L — while cost grows
    only linearly in L (each table is a per-row projection + one
    candidate-id union; the exact cosine runs once over the deduplicated
    candidate set). The recall/cost dial for production dedup.
    """
    table_sets = [
        hyperplanes(n_planes, dim, offset=t * n_planes)
        for t in range(n_tables)
    ]
    # one equi-join per table on that table's bucket key (hash-joinable —
    # an OR-of-equalities condition would degrade to a nested-loop join),
    # unioned and deduplicated before the exact ranking
    probed = None
    for t, planes in enumerate(table_sets):
        side = df.select(
            F.col(id_col),
            F.col(vec_col),
            bucket_col(F.col(vec_col), planes).alias("__b"),
        )
        qside = query.select(
            F.col(vec_col).alias("__qvec"),
            F.col(id_col).alias("__qid"),
            bucket_col(F.col(vec_col), planes).alias("__b"),
        )
        hit = side.join(F.broadcast(qside), on="__b", how="inner").drop("__b")
        probed = hit if probed is None else probed.unionByName(hit)
    if exclude_self:
        probed = probed.where(F.col(id_col) != F.col("__qid"))
    return (
        probed.select(
            F.col(id_col),
            F.round(
                cosine_col(F.col(vec_col), F.col("__qvec")), round_to
            ).alias("cosine"),
        )
        .dropDuplicates([id_col])
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    dim: int = 64,
    threshold: float = 0.9,
    round_to: int = 6,
    max_bucket_rows: int = DEFAULT_MAX_BUCKET_ROWS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH-bucketed self-join.

    Candidate pairs come from an equi-join on the random-hyperplane bucket
    (same-bucket vectors only — never an all-pairs cross join); candidates
    are verified with the exact cosine and kept at ``>= threshold``.
    Returns ``(id_a, id_b, cosine)`` with ``id_a < id_b``.

    Scale levers: candidate volume ~ n²/2^planes per bucket skew; recall of
    a true pair with angle θ is (1-θ/π)^planes — raise ``n_planes`` for
    cheaper/lower-recall, or run multiple plane sets and union for
    OR-amplified recall. Norms are precomputed per vector, so each
    candidate pair costs exactly one dot product. The bucket self-join is
    skew-bounded (``max_bucket_rows``; see :mod:`llmops.pairs`): one hot
    bucket spreads over many tasks instead of going quadratic in one.
    """
    planes = hyperplanes(n_planes, dim)
    bucketed = df.select(
        F.col(id_col),
        F.col(vec_col),
        bucket_col(F.col(vec_col), planes).alias("__bucket"),
        norm_col(F.col(vec_col)).alias("__norm"),
    )
    return (
        bounded_self_join(
            bucketed,
            ["__bucket"],
            order_col=id_col,
            max_bucket_rows=max_bucket_rows,
        )
        .select(
            F.col(f"a.`{id_col}`").alias("id_a"),
            F.col(f"b.`{id_col}`").alias("id_b"),
            F.round(
                dot_col(F.col(f"a.`{vec_col}`"), F.col(f"b.`{vec_col}`"))
                / (F.col("a.`__norm`") * F.col("b.`__norm`")),
                round_to,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def knn_join(
    df: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    n_tables: int = 1,
    dim: int = 64,
    round_to: int = 6,
    max_bucket_rows: int = DEFAULT_MAX_BUCKET_ROWS,
) -> DataFrame:
    """Approximate k-nearest-neighbour JOIN: top-``k`` same-bucket
    neighbours for EVERY row — the all-rows variant of the single-probe
    ANN (retrieval-eval tables, dedup clustering feeds, link graphs).

    Candidates come from the skew-bounded LSH-bucket self-join (never an
    all-pairs cross join), optionally OR-amplified across ``n_tables``
    independent plane sets (union + pair dedup); each unordered candidate
    pair serves BOTH directions; ranking is a per-source window on
    ``(cosine DESC, neighbour id ASC)`` — rounded cosine + id tiebreak
    keep the cutoff engine-exact. Rows whose bucket is a singleton in
    every table emit no neighbours (the LSH contract).

    Returns ``(id, neighbour, cosine, rank)``, ``rank`` in 1..k.
    """
    from pyspark.sql import Window

    half_pairs = []
    for t in range(n_tables):
        planes = hyperplanes(n_planes, dim, offset=t * n_planes)
        bucketed = df.select(
            F.col(id_col),
            F.col(vec_col),
            bucket_col(F.col(vec_col), planes).alias("__bucket"),
            norm_col(F.col(vec_col)).alias("__norm"),
        )
        half_pairs.append(
            bounded_self_join(
                bucketed,
                ["__bucket"],
                order_col=id_col,
                max_bucket_rows=max_bucket_rows,
                materialize=False,
            ).select(
                F.col(f"a.`{id_col}`").alias("id_a"),
                F.col(f"b.`{id_col}`").alias("id_b"),
                F.round(
                    dot_col(F.col(f"a.`{vec_col}`"), F.col(f"b.`{vec_col}`"))
                    / (F.col("a.`__norm`") * F.col("b.`__norm`")),
                    round_to,
                ).alias("cosine"),
            )
        )
    half = half_pairs[0]
    for extra in half_pairs[1:]:
        half = half.unionAll(extra)
    if n_tables > 1:
        # the same pair can surface from several tables; cosine is
        # identical every time, so distinct is an exact dedup
        half = half.distinct()
    sym = half.unionAll(
        half.select(
            F.col("id_b").alias("id_a"),
            F.col("id_a").alias("id_b"),
            "cosine",
        )
    )
    w = Window.partitionBy("id_a").orderBy(
        F.col("cosine").desc(), F.col("id_b").asc()
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("id_a").alias(id_col),
            F.col("id_b").alias("neighbour"),
            "cosine",
            "rank",
        )
    )


def ann_topk(
    df: DataFrame,
    query: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    dim: int = 64,
    exclude_self: bool = True,
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket.

    Returns ``(id, cosine, bucket)``. Recall trades off against probe cost
    via ``n_planes`` (2^planes buckets); multi-probe (flipping low-margin
    bits) is the standard extension and composes on top of this operator.
    """
    planes = hyperplanes(n_planes, dim)
    table = with_lsh_bucket(
        df, vec_col=vec_col, planes=planes, out_col="__bucket"
    )
    qdf = with_lsh_bucket(
        query, vec_col=vec_col, planes=planes, out_col="__qbucket"
    ).select(
        F.col(vec_col).alias("__qvec"),
        F.col(id_col).alias("__qid"),
        "__qbucket",
    )
    probed = table.join(
        F.broadcast(qdf), on=F.col("__bucket") == F.col("__qbucket"), how="inner"
    )
    if exclude_self:
        probed = probed.where(F.col(id_col) != F.col("__qid"))
    return (
        probed.select(
            F.col(id_col),
            F.round(
                cosine_col(F.col(vec_col), F.col("__qvec")), round_to
            ).alias("cosine"),
            F.col("__bucket").alias("bucket"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def embedding_bucket_index(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    n_tables: int = 1,
    dim: int = 64,
) -> DataFrame:
    """The persistable ANN admission index of a corpus: narrow
    ``(id, table_idx, bucket)`` rows — one row per (document, table).

    The embedding-space sibling of ``dedup.minhash_index``: a 100 TB
    corpus maintains this as a parquet side-table (partitioned by
    ``table_idx``/``bucket``, appended as batches land), and incremental
    near-dup admission joins new batches against it without re-reading
    corpus vectors except to verify actual candidates. Buckets use the
    deterministic splitmix64 hyperplanes, so an index built at any time
    is join-compatible with any later batch bucketed with the same
    ``(n_planes, n_tables, dim)``.
    """
    parts = []
    for t in range(n_tables):
        planes = hyperplanes(n_planes, dim, offset=t * n_planes)
        parts.append(
            df.select(
                F.col(id_col),
                F.lit(t).alias("table_idx"),
                bucket_col(F.col(vec_col), planes).alias("bucket"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def incremental_embedding_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_index: DataFrame | None = None,
    n_planes: int = 6,
    n_tables: int = 1,
    dim: int = 64,
    threshold: float = 0.9,
    round_to: int = 6,
) -> DataFrame:
    """Embedding-cosine dedup of a NEW batch against an existing corpus,
    without corpus x corpus — the admission filter of a deduplicated
    vector corpus (semantic near-dups, cross-source paraphrases).

    Semantics (conservative filter, deterministic given the planes): a
    new row is DROPPED iff some corpus row, or some new row with a
    smaller ``id_col``, shares an LSH bucket in ANY table AND has exact
    cosine >= ``threshold`` — ids must be unique across corpus and batch
    together. Recall follows the hyperplane-LSH curve ``1-(1-(1-θ/π)^
    planes)^tables`` — identical to :func:`embedding_neardup_pairs` at
    ``n_tables=1`` (candidate-identical, pytest-pinned).

    ``corpus_index``: a pre-built :func:`embedding_bucket_index` frame
    (typically read back from parquet). When supplied, corpus vectors
    are only read to verify the candidates that actually arise (a
    semi-join prunes the scan to those ids).

    Scale shape: one bucket-keyed equi-join (new buckets x union index;
    AQE skew-split handles hot buckets), candidate ``distinct``, then
    one dot product per surviving candidate pair.
    """
    new_index = embedding_bucket_index(
        new_df, id_col=id_col, vec_col=vec_col,
        n_planes=n_planes, n_tables=n_tables, dim=dim,
    )
    if corpus_index is None:
        corpus_index = embedding_bucket_index(
            corpus_df, id_col=id_col, vec_col=vec_col,
            n_planes=n_planes, n_tables=n_tables, dim=dim,
        )
    new_b = new_index.select(
        F.col(id_col).alias("id_a"), "table_idx", "bucket"
    )
    all_b = corpus_index.select(
        F.col(id_col).alias("id_b"), "table_idx", "bucket",
        F.lit(False).alias("__new_b"),
    ).unionByName(
        new_index.select(
            F.col(id_col).alias("id_b"), "table_idx", "bucket",
            F.lit(True).alias("__new_b"),
        )
    )
    candidates = (
        new_b.join(all_b, on=["table_idx", "bucket"])
        # corpus partner, or an earlier new row — never self, never a
        # corpus x corpus pair (left side is new-only by construction)
        .where((~F.col("__new_b")) | (F.col("id_b") < F.col("id_a")))
        .select("id_a", "id_b")
        .distinct()
    )
    union_vecs = corpus_df.select(
        F.col(id_col), F.col(vec_col)
    ).unionByName(new_df.select(F.col(id_col), F.col(vec_col)))
    ids_needed = (
        candidates.select(F.col("id_a").alias(id_col))
        .unionByName(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    pruned = union_vecs.join(ids_needed, on=id_col, how="left_semi").select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        norm_col(F.col(vec_col)).alias("__n"),
    )
    va = pruned.select(
        F.col(id_col).alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    vb = pruned.select(
        F.col(id_col).alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    drops = (
        candidates.join(va, on="id_a")
        .join(vb, on="id_b")
        .where(
            F.round(
                dot_col(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb")),
                round_to,
            )
            >= threshold
        )
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return new_df.join(drops, on=id_col, how="left_anti")


def write_lsh_partitioned(
    df: DataFrame,
    path: str,
    *,
    vec_col: str = "embedding",
    n_planes: int = 4,
    dim: int = 64,
    bucket_col_name: str = "bucket",
    mode: str = "overwrite",
) -> None:
    """Persist vectors PARTITIONED BY their LSH bucket — the scale path for
    repeated ANN probes.

    Each bucket becomes its own partition directory, so a probe that
    filters on the partition column prunes the scan to ~1/2^planes of the
    data (the claim in this module's header, made testable by
    ``tests/test_llmops.py::test_ann_partition_pruning``). Use the same
    ``(n_planes, dim)`` at probe time: hyperplanes are a deterministic
    function of those two values.
    """
    planes = hyperplanes(n_planes, dim)
    (
        df.withColumn(bucket_col_name, bucket_col(F.col(vec_col), planes))
        .write.mode(mode)
        .partitionBy(bucket_col_name)
        .parquet(path)
    )


def ann_topk_partitioned(
    spark,
    path: str,
    query: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    dim: int = 64,
    bucket_col_name: str = "bucket",
    exclude_self: bool = True,
    round_to: int = 6,
) -> DataFrame:
    """ANN probe over a table written by :func:`write_lsh_partitioned`.

    The query's bucket is computed driver-side (a 1-row collect — the
    query vector is driver data by definition, same class of probe as the
    header peek in sources/csv.py) and pushed as a STATIC equality filter
    on the partition column, so Catalyst prunes the scan to the one
    matching directory: the plan's ``PartitionFilters`` carries the bucket
    literal and only that partition's files are read.
    """
    planes = hyperplanes(n_planes, dim)
    qrows = query.select(
        F.col(vec_col).alias("__qvec"),
        F.col(id_col).alias("__qid"),
        bucket_col(F.col(vec_col), planes).alias("__qbucket"),
    ).collect()
    if len(qrows) != 1:
        raise ValueError(
            f"query must be exactly one row, got {len(qrows)}"
        )
    qvec = [float(x) for x in qrows[0]["__qvec"]]
    qid = qrows[0]["__qid"]
    qbucket = int(qrows[0]["__qbucket"])
    qlit = dlit_array(qvec)
    table = spark.read.parquet(path).where(
        F.col(bucket_col_name) == F.lit(qbucket)
    )
    scored = table.select(
        F.col(id_col),
        F.round(cosine_col(F.col(vec_col), qlit), round_to).alias("cosine"),
        F.col(bucket_col_name).alias("bucket"),
    )
    if exclude_self:
        scored = scored.where(F.col(id_col) != F.lit(qid))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def hard_negative_samples(
    df: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.3,
    max_cosine: float = 0.85,
    candidate_factor: int = 4,
    n_planes: int = 6,
    n_tables: int = 1,
    dim: int = 64,
    round_to: int = 6,
    max_bucket_rows: int = DEFAULT_MAX_BUCKET_ROWS,
) -> DataFrame:
    """HARD negatives for contrastive training: for every row, up to
    ``k`` neighbours whose cosine lies in ``[min_cosine, max_cosine]``
    — similar enough that the model must work to separate them, below
    the ceiling that marks near-duplicates/positives (the DPR/SimCSE
    hard-negative recipe; uniform negatives are
    :func:`~data_validation_engine_spark.llmops.split.negative_samples`,
    and a strong setup mixes both). Returns ``(id_col, rank,
    neighbour, cosine)``, rank 1-based by descending cosine inside the
    band (the column is named ``neighbour``, the
    :func:`knn_join` convention — alias it to ``neg_id`` downstream if
    that name is wanted).

    Candidates come from the same skew-bounded LSH-bucket self-join as
    :func:`knn_join` — never an all-pairs cross join — oversampled by
    ``candidate_factor`` before the band filter so band losses don't
    starve the cut. Anchors whose buckets hold no in-band neighbour
    emit fewer than ``k`` rows (loud gaps, the
    :func:`negative_samples` convention — backfill from the uniform
    sampler if the training loop needs exactly ``k``). CAVEAT: the
    candidate pool is the top ``k * candidate_factor`` by cosine, so
    an anchor with more than ``k * (candidate_factor - 1)`` near-
    duplicates ABOVE ``max_cosine`` can exhaust the pool before the
    band — raise ``candidate_factor`` when heavy near-duplicate mass
    sits above the ceiling (or dedup near-duplicates first, the usual
    pipeline order).

    Scale shape: identical to :func:`knn_join` (bucketed candidate
    generation bounds per-task input; WindowGroupLimit cuts per
    anchor); the band filter is a per-row predicate between the two.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    if candidate_factor < 1:
        raise ValueError("candidate_factor must be >= 1")
    if not -1.0 <= min_cosine <= max_cosine <= 1.0:
        raise ValueError("need -1 <= min_cosine <= max_cosine <= 1")
    cands = knn_join(
        df,
        k * candidate_factor,
        id_col=id_col,
        vec_col=vec_col,
        n_planes=n_planes,
        n_tables=n_tables,
        dim=dim,
        round_to=round_to,
        max_bucket_rows=max_bucket_rows,
    )
    band = cands.drop("rank").where(
        (F.col("cosine") >= min_cosine) & (F.col("cosine") <= max_cosine)
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbour").asc()
    )
    return (
        band.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "rank", "neighbour", "cosine")
    )
