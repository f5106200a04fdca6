"""The ann_recall operator (recall@k of approximate vs exact top-k) and
the pq_fit -> codebooks-entity -> similarity_topk composition (the
classifier_fit weights-entity pattern applied to PQ), each also proven
against its DuckDB twin on the embeddings table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_validation_engine_spark.llmops.pq import (
    default_codebooks,
    pq_codebooks_from_rows,
    pq_codebooks_to_rows,
    pq_fit,
    pq_topk,
)
from data_validation_engine_spark.llmops.recall import ann_recall
from data_validation_engine_spark.steps import StepEngine, parse_step
from __spark_entry__ import (
    _PQ_ADC_CTES,
    _multiprobe_ann_oracle,
    _similarity_ivf_oracle,
    _similarity_topk_oracle,
)
from test_pq import BOOKS, _codeword_corpus


# --- ann_recall library surface -----------------------------------------


def test_ann_recall_basic_and_k_denominator(spark):
    exact = spark.createDataFrame(
        [(i,) for i in range(10)], "vec_id long"
    )
    approx = spark.createDataFrame(
        [(i,) for i in (0, 1, 2, 3, 4, 50, 51, 52, 53, 54)],
        "vec_id long",
    )
    [r] = ann_recall(approx, exact).collect()
    assert (r["n_hits"], r["n_exact"], r["n_approx"]) == (5, 10, 10)
    assert r["recall"] == 0.5
    # fixed-k denominator
    [r] = ann_recall(approx, exact, k=20).collect()
    assert r["recall"] == 0.25


def test_ann_recall_grouped_and_missing_groups(spark):
    # exact has queries q1, q2; approx returns nothing for q2 and has
    # an extra group q3 — both must surface as rows, not vanish
    exact = spark.createDataFrame(
        [("q1", 1), ("q1", 2), ("q2", 1), ("q2", 9)],
        "q string, vec_id long",
    )
    approx = spark.createDataFrame(
        [("q1", 1), ("q1", 7), ("q3", 1)], "q string, vec_id long"
    )
    got = {
        r["q"]: r
        for r in ann_recall(
            approx, exact, group_cols=["q"], k=2
        ).collect()
    }
    assert set(got) == {"q1", "q2", "q3"}
    assert got["q1"]["n_hits"] == 1 and got["q1"]["recall"] == 0.5
    assert got["q2"]["n_hits"] == 0 and got["q2"]["recall"] == 0.0
    assert got["q3"]["n_exact"] == 0 and got["q3"]["recall"] == 0.0


def test_ann_recall_validates(spark):
    df = spark.createDataFrame([(1,)], "vec_id long")
    other = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError, match="lacks column"):
        ann_recall(df, other)
    with pytest.raises(ValueError, match="k must be"):
        ann_recall(df, df, k=0)


def _duck_recall_arm(method: str, cte: str) -> str:
    """One oracle recall row: |cte ∩ ex| / 10 with the same
    hits|n_exact|n_approx|floor(recall*1e6) surface the Spark side
    emits."""
    return f"""
    SELECT 'rec' AS op, '{method}' AS k,
           CAST((SELECT count(*) FROM {cte}
                 WHERE vec_id IN (SELECT vec_id FROM ex)) AS VARCHAR)
           || '|10|' ||
           CAST((SELECT count(*) FROM {cte}) AS VARCHAR) || '|' ||
           CAST(CAST(floor((SELECT count(*) FROM {cte}
                 WHERE vec_id IN (SELECT vec_id FROM ex))::DOUBLE
                 / 10.0 * 1000000) AS BIGINT) AS VARCHAR) AS v
    """


# each arm reads its approximate CTE three times and ``ex`` twice;
# MATERIALIZED computes every CTE once (DuckDB otherwise inlines a CTE
# at each reference, and the multiprobe oracle dominates the query)
_ANN_RECALL_SQL = (
    f"""
    WITH ex AS MATERIALIZED (SELECT vec_id FROM ({_similarity_topk_oracle(k=10)})),
    iv AS MATERIALIZED (SELECT vec_id FROM ({_similarity_ivf_oracle(k=10)})),
    ivfull AS MATERIALIZED (
        SELECT vec_id FROM ({_similarity_ivf_oracle(k=10, n_probe=16)})
    ),
    mp AS MATERIALIZED (SELECT vec_id FROM ({_multiprobe_ann_oracle(k=10)})),
    pqt AS MATERIALIZED (
        SELECT vec_id FROM (
            {_PQ_ADC_CTES.replace("__PQ_K__", "10")}
            SELECT vec_id FROM top
        )
    )
    """
    + _duck_recall_arm("ivf", "iv")
    + "UNION ALL"
    + _duck_recall_arm("ivf_full", "ivfull")
    + "UNION ALL"
    + _duck_recall_arm("multiprobe", "mp")
    + "UNION ALL"
    + _duck_recall_arm("pq", "pqt")
)


def test_ann_recall_on_real_ann_paths(spark, sf_dir, duck_oracle):
    """Recall@10 of each approximate top-10 against the exact cosine
    top-10 for query vec 0, matched against DuckDB:

    - ivf: the 4-of-16-cell IVF probe (the pruned-scan path);
    - ivf_full: the 16-of-16 probe, which scans everything and must
      therefore measure recall exactly 1.0 (the arm that pins the
      measurement itself);
    - multiprobe: the 3-table OR-amplified hyperplane probe;
    - pq: raw ADC over placeholder codebooks, without refine, so it
      measures the quantization loss the refine stage repairs.

    v = n_hits|n_exact|n_approx|floor(recall * 1e6): the counts are
    exact longs and recall is one correctly-rounded division of exact
    integers."""
    from data_validation_engine_spark.llmops.ivf import ivf_topk
    from data_validation_engine_spark.llmops.similarity import (
        cosine_topk,
        multiprobe_ann_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where("vec_id = 0")
    exact = cosine_topk(emb, q, 10).select("vec_id")
    books = default_codebooks(emb, dim=64, m=8, k=16)
    approx = {
        "ivf": ivf_topk(emb, q, 10, n_cells=16, n_probe=4),
        "ivf_full": ivf_topk(emb, q, 10, n_cells=16, n_probe=16),
        "multiprobe": multiprobe_ann_topk(emb, q, 10),
        "pq": pq_topk(emb, q, 10, codebooks=books),
    }
    recs = {
        method: ann_recall(ap.select("vec_id"), exact, k=10)
        for method, ap in approx.items()
    }
    # probing ALL cells must be exact-equivalent: recall == 1.0
    [r] = recs["ivf_full"].collect()
    assert r["recall"] == 1.0
    # a 4-of-16 probe is a subset scan: recall in [0, 1], hits bounded
    [r] = recs["ivf"].collect()
    assert 0.0 <= r["recall"] <= 1.0 and r["n_hits"] <= 10
    out = None
    for method, rec in recs.items():
        rec = rec.selectExpr(
            "'rec' AS op",
            f"'{method}' AS k",
            "CONCAT_WS('|', CAST(n_hits AS STRING),"
            " CAST(n_exact AS STRING), CAST(n_approx AS STRING),"
            " CAST(CAST(floor(recall * 1000000) AS BIGINT) AS STRING))"
            " AS v",
        )
        out = rec if out is None else out.unionByName(rec)
    duck_oracle("ann_recall", out, _ANN_RECALL_SQL)


# --- codebooks entity round-trip ----------------------------------------


def test_codebooks_entity_roundtrip_and_validation():
    rows = pq_codebooks_to_rows(BOOKS)
    assert rows[0] == (-1, -1, [2.0, 4.0, 2.0])  # m, k, dsub sentinel
    assert pq_codebooks_from_rows(rows) == BOOKS
    # order-insensitive
    assert pq_codebooks_from_rows(list(reversed(rows))) == BOOKS
    with pytest.raises(ValueError, match="missing geometry sentinel"):
        pq_codebooks_from_rows(rows[1:])
    with pytest.raises(ValueError, match="carries 7"):
        pq_codebooks_from_rows(rows[:-1])  # trailing codeword lost
    with pytest.raises(ValueError, match="duplicate cell"):
        pq_codebooks_from_rows(rows + [rows[-1]])


@pytest.mark.slow
def test_declared_pq_fit_entity_feeds_similarity_topk(spark):
    """pq_fit -> entity -> similarity_topk(codebooks_entity=...) must
    equal the library path with the same trained codebooks."""
    _, df = _codeword_corpus(spark)
    eng = StepEngine(spark)
    ents = {"emb": df, "query": df.where("vec_id = 13")}
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "pq_fit",
                "entity_name": "emb",
                "dim": 4,
                "pq_m": 2,
                "pq_k": 4,
                "n_iters": 2,
                "new_entity_name": "books",
            }
        ),
    )
    assert ents["books"].count() == 2 * 4 + 1  # grid + sentinel
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "similarity_topk",
                "entity_name": "emb",
                "target_name": "query",
                "method": "pq",
                "k": 5,
                "codebooks_entity": "books",
                "new_entity_name": "top",
            }
        ),
    )
    trained = pq_fit(df, dim=4, m=2, k=4, n_iters=2)
    want = pq_topk(
        df, df.where("vec_id = 13"), 5, codebooks=trained
    ).collect()
    got = ents["top"].collect()
    assert [(r["vec_id"], r["pq_dist"]) for r in got] == [
        (r["vec_id"], r["pq_dist"]) for r in want
    ]
    # at most one codebook source
    with pytest.raises(Exception, match="at most one"):
        eng.evaluate(
            ents,
            config=parse_step(
                {
                    "operation": "similarity_topk",
                    "entity_name": "emb",
                    "target_name": "query",
                    "method": "pq",
                    "codebooks": [[[0.0, 0.0]] * 2] * 2,
                    "codebooks_entity": "books",
                }
            ),
        )
    # a filtered (sparse) entity fails loudly, never mis-codes
    ents["books_sparse"] = ents["books"].where(
        "NOT (subspace = 1 AND code = 3)"
    )
    with pytest.raises(Exception, match="carries 7"):
        eng.evaluate(
            ents,
            config=parse_step(
                {
                    "operation": "similarity_topk",
                    "entity_name": "emb",
                    "target_name": "query",
                    "method": "pq",
                    "codebooks_entity": "books_sparse",
                }
            ),
        )


_PQ_ENTITY_SQL = (
    _PQ_ADC_CTES.replace("__PQ_K__", "20")
    + """
    SELECT 'cb' AS op,
           CAST(s AS VARCHAR) || '|' || CAST(j AS VARCHAR) AS k,
           (SELECT string_agg(
                CAST(CAST(floor(cv[s * 8 + i]::DOUBLE * 1000000)
                     AS BIGINT) AS VARCHAR), ',' ORDER BY i)
            FROM (SELECT unnest(range(1, 9)) AS i)) AS v
    FROM subs CROSS JOIN cb
    UNION ALL
    SELECT 'ent', CAST(rk AS VARCHAR),
           CAST(vec_id AS VARCHAR) || '|' ||
           CAST(CAST(floor(dist * 1000000) AS BIGINT) AS VARCHAR)
    FROM top
"""
)


def test_codebooks_entity_search_matches_duckdb(spark, sf_dir, duck_oracle):
    """The codebooks-entity -> similarity_topk composition on the
    embeddings table, matched against DuckDB:

    - 'cb' — the codebooks ENTITY surface itself ((subspace, code) ->
      the centroid's per-component floor(x*1e6) fold), proving the
      entity round-trip carries the exact geometry. These are the
      deterministic placeholder codebooks, so the oracle can re-derive
      them from the embeddings table; the trained path's parity with
      the library is pinned above;
    - 'ent' — ADC top-20 computed by the similarity_topk step FED FROM
      THE ENTITY (codebooks_entity=...), which must match the same
      index-order ADC folds the oracle replays — proving the
      entity-resolved codebooks reach the search bit-identically."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = default_codebooks(emb, dim=64, m=8, k=16)
    ents = {
        "emb": emb,
        "query": emb.where("vec_id = 0"),
        "books": spark.createDataFrame(
            pq_codebooks_to_rows(books),
            "subspace int, code int, centroid array<double>",
        ),
    }
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {
                "operation": "similarity_topk",
                "entity_name": "emb",
                "target_name": "query",
                "method": "pq",
                "k": 20,
                "codebooks_entity": "books",
                "new_entity_name": "top",
            }
        ),
    )
    cb = ents["books"].where("subspace >= 0").selectExpr(
        "'cb' AS op",
        "CONCAT_WS('|', CAST(subspace AS STRING),"
        " CAST(code AS STRING)) AS k",
        "array_join(transform(centroid,"
        " x -> CAST(CAST(floor(x * 1000000) AS BIGINT) AS STRING)),"
        " ',') AS v",
    )
    ent = ents["top"].selectExpr(
        "'ent' AS op",
        "CAST(rank AS STRING) AS k",
        "CONCAT_WS('|', CAST(vec_id AS STRING),"
        " CAST(CAST(floor(pq_dist * 1000000) AS BIGINT) AS STRING)) AS v",
    )
    duck_oracle("pq_entity", cb.unionByName(ent), _PQ_ENTITY_SQL)


def test_declared_ann_recall_step(spark):
    eng = StepEngine(spark)
    ents = {
        "approx": spark.createDataFrame(
            [(1,), (2,), (99,)], "vec_id long"
        ),
        "exact": spark.createDataFrame(
            [(1,), (2,), (3,)], "vec_id long"
        ),
    }
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "ann_recall",
                "entity_name": "approx",
                "target_name": "exact",
                "k": 3,
                "new_entity_name": "rec",
            }
        ),
    )
    [r] = ents["rec"].collect()
    assert r["n_hits"] == 2 and abs(r["recall"] - 2 / 3) < 1e-12


# --- trained codebooks beat the placeholder on a clustered corpus -------


def _grid_corpus(spark):
    """Deterministic (a, b) lattice: subspace 0 carries 100*a, subspace
    1 carries 100*b (a, b in 0..15), ids a-major — so the FIRST 16
    vectors are exactly the b = 0 row. The default (first-16-vectors)
    codebooks therefore resolve subspace 0 perfectly but have ZERO
    resolution on subspace 1 (all 16 codewords sit at b ≈ 0), while
    pq_fit's per-subspace k-means pulls centroids out along b — the
    textbook case where training the quantizer on the data beats the
    placeholder."""
    rows = []
    for i in range(256):
        a, b = i % 16, i // 16
        v = [0.0] * 8
        for s in range(4):
            v[s] = 100.0 * a + ((i * 37 + s * 11) % 7 - 3) * 0.05
        for s in range(4, 8):
            v[s] = 100.0 * b + ((i * 53 + s * 13) % 7 - 3) * 0.05
        rows.append((i, v))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


@pytest.mark.slow
def test_pq_fit_codebooks_beat_default_on_recall(spark):
    df = _grid_corpus(spark)
    q = df.where("vec_id = 200")  # a = 8, b = 12
    default = default_codebooks(df, dim=8, m=2, k=16)
    # exact L2 truth: refine over the entire corpus (k x 26 >= 256),
    # which is codebook-independent by construction
    exact = pq_topk(
        df, q, 10, codebooks=default, refine_factor=26
    ).select("vec_id")

    def recall(books):
        approx = pq_topk(df, q, 10, codebooks=books).select("vec_id")
        [r] = ann_recall(approx, exact, k=10).collect()
        return r["recall"]

    r_default = recall(default)
    r_trained = recall(pq_fit(df, dim=8, m=2, k=16, n_iters=6))
    # measured: trained 0.6, default 0.0 — assert with margin
    assert r_default <= 0.2, r_default
    assert r_trained >= r_default + 0.3, (r_trained, r_default)


def test_declared_full_pq_pipeline(spark):
    """The complete declared deployment pipeline: pq_fit -> pq_encode
    (cells + codes, raw vectors dropped) -> pq_topk_many over the
    codes-only table (entity codebooks, IVF-pruned) -> ann_recall vs
    the flat batch — five JSON steps, no library calls."""
    from data_validation_engine_spark.llmops.ivf import default_centroids

    _, df = _codeword_corpus(spark)
    cents = default_centroids(df, n_cells=4)
    eng = StepEngine(spark)
    ents = {"emb": df, "qs": df.where("vec_id IN (2, 9)")}
    steps = [
        {
            "operation": "pq_fit",
            "entity_name": "emb",
            "dim": 4, "pq_m": 2, "pq_k": 4, "n_iters": 2,
            "new_entity_name": "books",
        },
        {
            "operation": "pq_encode",
            "entity_name": "emb",
            "codebooks_entity": "books",
            "centroids": cents,
            "keep_vector": False,
            "new_entity_name": "codes",
        },
        {
            "operation": "pq_topk_many",
            "entity_name": "codes",
            "target_name": "qs",
            "k": 3,
            "codebooks_entity": "books",
            "centroids": cents,
            "cell_column": "ivf_cell",
            "codes_column": "pq_codes",
            "n_probe": 4,
            "new_entity_name": "pruned",
        },
        {
            "operation": "pq_topk_many",
            "entity_name": "codes",
            "target_name": "qs",
            "k": 3,
            "codebooks_entity": "books",
            "codes_column": "pq_codes",
            "new_entity_name": "flat",
        },
        {
            "operation": "ann_recall",
            "entity_name": "pruned",
            "target_name": "flat",
            "group_columns": ["query_id"],
            "k": 3,
            "new_entity_name": "rec",
        },
    ]
    for s in steps:
        eng.evaluate(ents, config=parse_step(s))
    assert "embedding" not in ents["codes"].columns
    assert {"ivf_cell", "pq_codes"} <= set(ents["codes"].columns)
    rows = ents["rec"].collect()
    assert len(rows) == 2
    # n_probe=4 of 4 cells scans everything: pruned == flat, recall 1.0
    assert all(r["recall"] == 1.0 for r in rows), rows
