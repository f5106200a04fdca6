"""Round-13 ADVICE fixes (ADVICE.md, r12 advisor): each item gets the
regression test that would have caught it.

1. ivf_pq_topk must accept refine_df so refine_factor works on the
   documented deployment shape (codes-only table from
   ivf_assign + pq_encode, raw vectors in a separate table) — pre-fix
   it hard-coded refine_df=df and the exact re-rank failed with an
   unresolved-column AnalysisException.
2./3. pq_encode / pq_topk must validate corpus-side array lengths: a
   short vector (or code array) previously made zip_with pad with
   NULLs and silently DROPPED the row from ranking.
4. windowed_heavy_hitters(check_totals=True) must not false-fail when
   the cells table legitimately covers more windows than the probe
   range (probe-side comparison, not full outer).
5./6. WARC: gzip corruption wrapped per strict (test_warc.py::
   test_corrupt_gzip_member_loud_and_salvage) and RFC-822 header
   unfolding (test_warc.py::test_header_folding_unfolds).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_validation_engine_spark.llmops.ivf import default_centroids
from data_validation_engine_spark.llmops.pq import (
    ivf_pq_topk,
    pq_encode,
    pq_topk,
)
from test_pq import BOOKS, _codeword_corpus


def test_ivf_pq_refine_on_codes_only_table(spark):
    """The ADVICE deployment shape: persisted table carries cell +
    codes but NOT the raw vector; refine_df supplies the vectors."""
    from data_validation_engine_spark.llmops.ivf import ivf_assign

    rows, raw = _codeword_corpus(spark)
    cents = default_centroids(raw, n_cells=4)
    table = pq_encode(
        ivf_assign(raw, cents, cell_col="ivf_cell"), BOOKS
    )  # keep_vec=False drops embedding
    assert "embedding" not in table.columns
    q = raw.where("vec_id = 13")
    got = ivf_pq_topk(
        table, q, 5,
        centroids=cents, codebooks=BOOKS,
        cell_col="ivf_cell", codes_col="pq_codes",
        n_probe=4, refine_factor=4, refine_df=raw,
    ).orderBy("rank").collect()
    qvec = dict(rows)[13]

    def l2sq(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    want = sorted((l2sq(qvec, v), i) for i, v in rows if i != 13)[:5]
    assert [(r["pq_dist"], r["vec_id"]) for r in got] == want


def test_pq_encode_rejects_short_corpus_vector(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0, 0.0]), (1, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="expected array length 4"):
        pq_encode(df, BOOKS).collect()


def test_pq_topk_rejects_short_code_array(spark):
    coded = spark.createDataFrame(
        [(0, [0, 1]), (1, [2]), (2, [3, 0])],
        "vec_id long, pq_codes array<int>",
    )
    q = spark.createDataFrame(
        [(99, [0.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="expected array length 2"):
        pq_topk(
            coded, q, 2, codebooks=BOOKS, codes_col="pq_codes"
        ).collect()


def test_check_totals_tolerates_extra_cell_windows(spark):
    """Cells covering windows outside the probe range (a maintenance
    slice of a long-lived cells table) must pass the gate."""
    from data_validation_engine_spark.llmops.sketch import (
        _cms_col,
        windowed_heavy_hitters,
    )

    depth, width = 3, 64
    all_events = spark.createDataFrame(
        [(s, "a") for s in (5, 10, 110, 120, 130, 250)],
        "sec long, v string",
    ).selectExpr("timestamp_seconds(sec) AS ts", "v")
    cells = (
        all_events.select(
            (
                F.floor(F.unix_timestamp("ts") / 100).cast("long") * 100
            ).alias("window_start"),
            F.explode(_cms_col(F.col("v"), depth, width, "")).alias("c"),
        )
        .groupBy(
            "window_start",
            F.col("c.row").alias("row"),
            F.col("c.col").alias("col"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # probe only the middle window; cells also cover windows 0 and 200
    probe = all_events.where("unix_timestamp(ts) between 100 and 199")
    got = windowed_heavy_hitters(
        cells, probe, "ts", "v", 3,
        window_seconds=100, depth=depth, width=width, check_totals=True,
    ).collect()
    assert [(r["window_start"], r["v"], r["n"]) for r in got] == [
        (100, "a", 3)
    ]
