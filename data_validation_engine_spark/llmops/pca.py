"""PCA over embedding columns via mergeable sufficient statistics.

Dimensionality reduction for retrieval/clustering pipelines: fit the
top-k principal components of an ``array<float>`` column and project
every row. The distributed part never materialises anything bigger than
d(d+3)/2 doubles per aggregation state (d = embedding width, so ~2 KB of
state at d=64, ~2 MB at d=1024): the corpus is reduced to
``(n, Σx, Σ flattened-upper-triangular xxᵀ)`` with the repo's
deterministic two-level ordered fold (:func:`~.vectors.grouped_vector_sum`
applied to the per-row outer-product vector), the d×d eigenproblem is
solved on the DRIVER with numpy (d×d is control-plane-sized at any
corpus scale), and the projection broadcasts back as a per-row
expression — no shuffle, no Python in the projection path.

Determinism: the sufficient stats are bit-exact under any partitioning
(ordered folds); the eigendecomposition is a pure driver-side function
of them; eigenvector sign is pinned (largest-|entry| coordinate made
positive) so repeated fits agree. JL projection
(:func:`~.vectors.project_vectors`) remains the cheaper data-independent
alternative; PCA is the data-aware one.

No reference counterpart (`/root/reference` has no vector surface).
Public math: Pearson 1901; the streaming-sufficient-stats formulation is
standard (e.g. Spark MLlib's RowMatrix.computeCovariance — reimplemented
here engine-exactly rather than called, to keep the ordered-fold
determinism contract).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_validation_engine_spark.llmops.vectors import (
    DEFAULT_SEGMENT_SIZE,
    grouped_vector_sum,
)

__all__ = ["moment_stats", "pca_fit", "pca_project"]


def _upper_outer(vec: Column, dim: int) -> Column:
    """Flattened upper triangle (row-major, diagonal included) of
    ``vec · vecᵀ`` — d(d+1)/2 doubles, one per-row projection. Built as
    a nested higher-order transform (3 expression nodes), NOT d(d+1)/2
    literal expressions — a d=64 literal tree is 2080 multiplies and
    falls out of whole-stage codegen (the Janino 64KB method wall the
    repo documents at llmops/bpe.py)."""
    v = vec.cast("array<double>")
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: F.transform(
                F.slice(v, i, F.lit(dim) - i + F.lit(1)),
                lambda x: F.element_at(v, i) * x,
            ),
        )
    )


def moment_stats(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    segment_size: int = DEFAULT_SEGMENT_SIZE,
    method: str = "ordered",
) -> tuple[int, list[float], list[float]]:
    """Corpus moments ``(n, Σx, Σ upper-tri xxᵀ)``. Driver traffic:
    d + d(d+1)/2 doubles either way.

    ``method="ordered"`` (default) — the deterministic two-level
    ordered fold: bit-exact under any partitioning, the attestation
    path, but the per-row outer product is an interpreted HOF (~d²/2
    lambda-interpreted multiplies per row — Spark never codegens
    lambda bodies), the dominant CPU line of a PCA fit at scale.

    ``method="fast"`` — the vectorized production path: one numpy ``Xᵀ·X`` per Arrow batch inside
    ``mapInPandas`` (~100× fewer interpreter dispatches), partials
    summed by position in one tiny (d + d(d+1)/2 key) shuffle. Batch
    and partition addition order is NOT pinned, so the low-order float
    bits may differ run-to-run — mathematically the same moments
    (parity pytest-pinned to ~1e-9 relative), but non-oracle by the
    FLOATS.md rule; use for production fits, not hashed surfaces."""
    if method == "fast":
        return _moment_stats_fast(df, vec_col=vec_col, dim=dim)
    if method != "ordered":
        raise ValueError(
            f"moment_stats: method must be 'ordered' or 'fast', got "
            f"{method!r}"
        )
    tri = dim * (dim + 1) // 2
    wide = df.select(
        F.lit(1).alias("__g"),
        F.col(id_col),
        F.concat(
            F.col(vec_col).cast("array<double>"),
            _upper_outer(F.col(vec_col), dim),
        ).alias("__m"),
    )
    row = (
        grouped_vector_sum(
            wide, ["__g"], id_col, "__m",
            dim=dim + tri, segment_size=segment_size,
        )
        .select("n", "vec_sum")
        .collect()
    )
    if not row:
        raise ValueError("moment_stats: empty input")
    n = int(row[0]["n"])
    total = [float(v) for v in row[0]["vec_sum"]]
    return n, total[:dim], total[dim:]


def _moment_stats_fast(
    df: DataFrame, *, vec_col: str, dim: int
) -> tuple[int, list[float], list[float]]:
    """Vectorized moment fold (see :func:`moment_stats` method="fast").

    Each ``mapInPandas`` batch emits ONE partial row — a
    ``[n, Σx, upper-tri Σxxᵀ]`` vector of 1 + d + d(d+1)/2 doubles
    (~17 KB at d=64 per ~10k-row batch) — so a 100 TB corpus reduces
    to millions of tiny partials, position-summed in one shuffle whose
    key space is the flat index (≤ d(d+3)/2 + 1 keys)."""
    flat = 1 + dim + dim * (dim + 1) // 2

    def fold(batches):
        import numpy as np
        import pandas as pd

        r, c = np.triu_indices(dim)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if x.shape[1] != dim:
                raise ValueError(
                    f"moment_stats: vector width {x.shape[1]} != dim {dim}"
                )
            outer = x.T @ x
            yield pd.DataFrame(
                {
                    "s": [
                        np.concatenate(
                            [[float(len(pdf))], x.sum(axis=0), outer[r, c]]
                        ).tolist()
                    ]
                }
            )

    partials = df.select(F.col(vec_col).alias(vec_col)).mapInPandas(
        fold, schema="s array<double>"
    )
    rows = (
        partials.select(F.posexplode("s").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    if not rows:
        raise ValueError("moment_stats: empty input")
    total = [0.0] * flat
    for r_ in rows:
        total[r_["i"]] = float(r_["v"])
    n = int(round(total[0]))
    return n, total[1 : dim + 1], total[dim + 1 :]


def pca_fit(
    df: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    segment_size: int = DEFAULT_SEGMENT_SIZE,
    method: str = "ordered",
) -> tuple[list[float], list[list[float]], list[float]]:
    """Fit: returns ``(mean, components, explained_variance)`` with
    ``components`` the top-``k`` eigenvectors (rows) of the sample
    covariance, eigenvalue-descending, signs pinned. ``method="fast"``
    uses the vectorized moment fold (production; see
    :func:`moment_stats`)."""
    import numpy as np

    if not 1 <= k <= dim:
        raise ValueError(f"pca_fit: k must be in [1, {dim}], got {k}")
    n, s1, s2 = moment_stats(
        df, id_col=id_col, vec_col=vec_col, dim=dim,
        segment_size=segment_size, method=method,
    )
    if n < 2:
        raise ValueError(f"pca_fit: needs >= 2 rows, got {n}")
    mean = np.array(s1) / n
    cov = np.empty((dim, dim))
    it = iter(s2)
    for i in range(dim):
        for j in range(i, dim):
            v = next(it)
            cov[i, j] = cov[j, i] = v
    # E[xxT]*n -> sample covariance: (Σxxᵀ − n·μμᵀ) / (n−1)
    cov = (cov - n * np.outer(mean, mean)) / (n - 1)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = []
    expl = []
    for idx in order:
        comp = vecs[:, idx]
        pin = int(np.argmax(np.abs(comp)))
        if comp[pin] < 0:
            comp = -comp
        comps.append([float(x) for x in comp])
        expl.append(float(vals[idx]))
    return [float(x) for x in mean], comps, expl


def pca_project(
    df: DataFrame,
    mean: list[float],
    components: list[list[float]],
    *,
    vec_col: str = "embedding",
    out_col: str = "pca",
    round_to: int | None = 6,
) -> DataFrame:
    """Project rows onto the fitted components: ``out_col[c] =
    Σ_i (x_i − μ_i)·W_c_i`` as one per-row JVM expression (index-order
    left fold per component — no shuffle, no UDF)."""
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"),
        F.array(*[F.lit(float(m)) for m in mean]),
        lambda x, m: x - m,
    )
    def score(comp: list[float]) -> Column:
        s = F.aggregate(
            F.zip_with(
                centered,
                F.array(*[F.lit(float(w)) for w in comp]),
                lambda x, w: x * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.round(s, round_to) if round_to is not None else s

    return df.withColumn(
        out_col, F.array(*[score(c) for c in components])
    )
