"""Product quantization (llmops/pq.py): geometry checks, encode
determinism, the ADC-equals-exact identity on codeword-exact corpora,
per-subspace training, and the pre-encoded deployment shape."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from data_validation_engine_spark.llmops.pq import (
    default_codebooks,
    pq_encode,
    pq_fit,
    pq_topk,
)
from __spark_entry__ import _duck_l2sq


BOOKS = [
    # m=2 subspaces, k=4 codewords of dsub=2 each
    [[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [2.0, 2.0]],
    [[0.0, 0.0], [0.5, 0.5], [1.0, 1.0], [3.0, 0.0]],
]


def _codeword_corpus(spark):
    """Every vector is an exact concatenation of codewords, so PQ
    reconstruction is lossless and ADC distance == exact squared L2."""
    rows = [
        (i, BOOKS[0][a] + BOOKS[1][b])
        for i, (a, b) in enumerate(itertools.product(range(4), range(4)))
    ]
    return rows, spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_geometry_validation(spark):
    _, df = _codeword_corpus(spark)
    with pytest.raises(ValueError, match="not divisible"):
        default_codebooks(df, dim=4, m=3, k=4)
    with pytest.raises(ValueError, match="need 99 vectors"):
        default_codebooks(df, dim=4, m=2, k=99)


def test_encode_assigns_own_codewords(spark):
    rows, df = _codeword_corpus(spark)
    got = {
        r["vec_id"]: list(r["pq_codes"])
        for r in pq_encode(df, BOOKS).collect()
    }
    for i, (a, b) in enumerate(itertools.product(range(4), range(4))):
        assert got[i] == [a, b], (i, got[i])
    # the raw vector column is dropped in the codes table by default
    assert "embedding" not in pq_encode(df, BOOKS).columns


def test_adc_equals_exact_on_codeword_corpus(spark):
    rows, df = _codeword_corpus(spark)
    qid = 13
    qvec = dict(rows)[qid]

    def l2sq(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    want = sorted(
        ((l2sq(qvec, v), i) for i, v in rows if i != qid)
    )[:5]
    got = pq_topk(
        df, df.where(F.col("vec_id") == qid), 5, codebooks=BOOKS
    ).orderBy("rank").collect()
    assert [(r["pq_dist"], r["vec_id"]) for r in got] == want
    assert [r["rank"] for r in got] == [1, 2, 3, 4, 5]


def test_precoded_table_equals_on_the_fly(spark):
    _, df = _codeword_corpus(spark)
    coded = pq_encode(df, BOOKS, keep_vec=True)
    q = df.where("vec_id = 0")
    a = pq_topk(df, q, 4, codebooks=BOOKS).collect()
    b = pq_topk(coded, q, 4, codebooks=BOOKS, codes_col="pq_codes").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pq_fit_recovers_separable_subspace_clusters(spark):
    # two tight clusters per subspace; k=2 per-subspace k-means must
    # split them and encode must map members to their own cluster
    rows = []
    for i in range(40):
        left = [0.0, 0.0] if i % 2 == 0 else [10.0, 10.0]
        right = [5.0, 0.0] if i % 3 == 0 else [-5.0, 0.0]
        rows.append((i, [c + (i % 5) * 0.01 for c in left] + right))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    books = pq_fit(df, dim=4, m=2, k=2, n_iters=4)
    assert len(books) == 2 and all(len(b) == 2 for b in books)
    codes = {
        r["vec_id"]: list(r["pq_codes"])
        for r in pq_encode(df, books).collect()
    }
    # same-cluster rows share a code in each subspace
    assert codes[0][0] == codes[2][0] != codes[1][0]
    assert codes[0][1] == codes[3][1] != codes[1][1]


def test_default_codebooks_on_real_embeddings(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = default_codebooks(emb, dim=64, m=8, k=16)
    assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8
    coded = pq_encode(emb, books, codes_col="c")
    stats = coded.select(
        F.min(F.array_min("c")).alias("lo"),
        F.max(F.array_max("c")).alias("hi"),
        F.min(F.size("c")).alias("m"),
    ).collect()[0]
    assert stats["lo"] >= 0 and stats["hi"] <= 15 and stats["m"] == 8
    # 32x compression claim: 8 ints vs 64 floats per row, no shuffle
    from data_validation_engine_spark.scale import count_shuffles

    assert count_shuffles(coded) == 0

def test_pq_declared_as_similarity_topk_method(spark, sf_dir):
    from data_validation_engine_spark.steps import parse_step
    from data_validation_engine_spark.steps.engine import StepEngine

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ents = {"embeddings": emb, "query": emb.where("vec_id = 0")}
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {
                "operation": "similarity_topk",
                "entity_name": "embeddings",
                "target_name": "query",
                "method": "pq",
                "k": 10,
                "dim": 64,
                "new_entity_name": "out",
            }
        ),
    )
    rows = ents["out"].orderBy("rank").collect()
    assert [r["rank"] for r in rows] == list(range(1, 11))
    assert all(r["vec_id"] != 0 for r in rows)
    # the declared step equals the library call with the same defaults
    books = default_codebooks(emb, dim=64, m=8, k=16)
    lib = pq_topk(
        emb, emb.where("vec_id = 0"), 10, codebooks=books
    ).orderBy("rank").collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in lib]


def test_refine_recovers_exact_recall_on_real_embeddings(spark, sf_dir):
    """The FAISS-style exact re-rank: on this concentrated-distance
    synthetic table raw ADC@10 recall is low by nature (distance
    spread ~1.3-2.7), but every true top-10 neighbour sits inside the
    ADC top-few-hundred shortlist, so a refined search must return
    exactly the brute-force L2 top-10 (placeholder codebooks need a
    wider shortlist than trained ones — factor 30 here)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = default_codebooks(emb, dim=64, m=8, k=16)
    q = emb.where("vec_id = 0")
    qv = [float(x) for x in q.collect()[0]["embedding"]]
    exact = (
        emb.where("vec_id != 0")
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.array(*[F.lit(x) for x in qv]),
                    lambda a, b: (a.cast("double") - b)
                    * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
        )
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    )
    refined = pq_topk(
        emb, q, 10, codebooks=books, refine_factor=30
    ).orderBy("rank").collect()
    assert [(r["vec_id"], r["pq_dist"]) for r in refined] == [
        (r["vec_id"], r["d"]) for r in exact
    ]


def test_ivf_pq_composition(spark, sf_dir):
    """IVF cells prune the scan, ADC ranks the survivors, refine
    re-ranks exactly — and with all cells probed the composition
    equals plain pq_topk."""
    from data_validation_engine_spark.llmops.ivf import (
        default_centroids,
        ivf_assign,
    )
    from data_validation_engine_spark.llmops.pq import ivf_pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = default_centroids(emb, n_cells=8)
    books = default_codebooks(emb, dim=64, m=8, k=16)
    q = emb.where("vec_id = 0")

    # all cells probed == plain PQ
    full = ivf_pq_topk(
        emb, q, 10, centroids=cents, codebooks=books, n_probe=8
    ).collect()
    plain = pq_topk(emb, q, 10, codebooks=books).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, plain))

    # pruned probe returns k rows from the probed cells only
    assigned = ivf_assign(emb, cents, cell_col="cell")
    coded = pq_encode(assigned, books, codes_col="c", keep_vec=True)
    pruned = ivf_pq_topk(
        coded, q, 10, centroids=cents, codebooks=books,
        cell_col="cell", codes_col="c", n_probe=2,
    ).collect()
    assert len(pruned) == 10
    probe_cells = {
        r["cell"]
        for r in assigned.join(
            spark.createDataFrame(
                [(r["vec_id"],) for r in pruned], "vec_id long"
            ),
            "vec_id",
        ).collect()
    }
    assert len(probe_cells) <= 2  # survivors came from probed cells

    # refine over the pruned shortlist: distances become exact L2
    refined = ivf_pq_topk(
        coded, q, 10, centroids=cents, codebooks=books,
        cell_col="cell", codes_col="c", n_probe=8, refine_factor=30,
    ).orderBy("rank").collect()
    import math
    qv = [float(x) for x in q.collect()[0]["embedding"]]
    emb_map = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.collect()
    }
    for r in refined:
        exact = sum(
            (a - b) ** 2 for a, b in zip(emb_map[r["vec_id"]], qv)
        )
        assert math.isclose(r["pq_dist"], exact, rel_tol=1e-9)


# --- batched multi-query search (round 13) -------------------------------


def test_pq_topk_many_matches_per_query_calls(spark):
    """The batched query-as-column ADC fold must be bit-identical to
    the single-query LUT path, per query."""
    from data_validation_engine_spark.llmops.pq import pq_topk_many

    rows, df = _codeword_corpus(spark)
    queries = df.where("vec_id IN (0, 5, 13)")
    many = pq_topk_many(df, queries, 4, codebooks=BOOKS)
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["pq_dist"])
        for r in many.collect()
    }
    assert len(got) == 12
    for qid in (0, 5, 13):
        single = pq_topk(
            df, df.where(F.col("vec_id") == qid), 4, codebooks=BOOKS
        ).collect()
        for r in single:
            assert got[(qid, r["rank"])] == (r["vec_id"], r["pq_dist"])


def test_pq_topk_many_precoded_and_validation(spark):
    from data_validation_engine_spark.llmops.pq import (
        pq_encode,
        pq_topk_many,
    )

    _, df = _codeword_corpus(spark)
    coded = pq_encode(df, BOOKS, keep_vec=True)
    q = df.where("vec_id IN (1, 2)")
    a = pq_topk_many(df, q, 3, codebooks=BOOKS).collect()
    b = pq_topk_many(
        coded, q, 3, codebooks=BOOKS, codes_col="pq_codes"
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    bad_q = spark.createDataFrame(
        [(9, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="query embedding"):
        pq_topk_many(df, bad_q, 3, codebooks=BOOKS).collect()


def test_probe_cells_col_matches_driver_ranking(spark):
    from data_validation_engine_spark.llmops.ivf import default_centroids
    from data_validation_engine_spark.llmops.pq import probe_cells_col

    rows, df = _codeword_corpus(spark)
    cents = default_centroids(df, n_cells=4)
    got = {
        r["vec_id"]: list(r["cells"])
        for r in df.select(
            "vec_id",
            probe_cells_col(F.col("embedding"), cents, 2).alias("cells"),
        ).collect()
    }

    def l2sq(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    for vid, vec in rows:
        want = [
            i
            for _, i in sorted(
                (l2sq(vec, c), i) for i, c in enumerate(cents)
            )[:2]
        ]
        assert got[vid] == want, (vid, got[vid], want)


def test_ivf_pq_topk_many_matches_flat_on_probed_cells(spark):
    """Batched IVF-PQ equals the single-query ivf_pq_topk per query
    (same pruning, same ADC, same ranking)."""
    from data_validation_engine_spark.llmops.ivf import default_centroids
    from data_validation_engine_spark.llmops.pq import (
        ivf_pq_topk,
        ivf_pq_topk_many,
    )

    _, df = _codeword_corpus(spark)
    cents = default_centroids(df, n_cells=4)
    queries = df.where("vec_id IN (3, 8, 12)")
    many = ivf_pq_topk_many(
        df, queries, 4, centroids=cents, codebooks=BOOKS, n_probe=2
    )
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["pq_dist"])
        for r in many.collect()
    }
    for qid in (3, 8, 12):
        single = ivf_pq_topk(
            df, df.where(F.col("vec_id") == qid), 4,
            centroids=cents, codebooks=BOOKS, n_probe=2,
        ).collect()
        assert len(single) > 0
        for r in single:
            assert got[(qid, r["rank"])] == (r["vec_id"], r["pq_dist"])


# multi-query twin of the _PQ_ADC_CTES chain: lut/dist/top gain a qid
# key; the 'mivf' arm adds the per-query probe-cell cut (same centroid
# folds, row_number <= n_probe per query, ties to the lower cell)
_PQ_MANY_SQL = f"""
    WITH cb AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
               embedding AS cv
        FROM embeddings ORDER BY vec_id LIMIT 16
    ),
    subs AS (SELECT unnest(range(0, 8)) AS s),
    assign AS (
        SELECT e.vec_id, subs.s,
               (min(struct_pack(
                   d := list_reduce(list_transform(
                       generate_series(1, 8),
                       i -> (e.embedding[subs.s * 8 + i]::DOUBLE
                             - c.cv[subs.s * 8 + i]::DOUBLE)
                          * (e.embedding[subs.s * 8 + i]::DOUBLE
                             - c.cv[subs.s * 8 + i]::DOUBLE)),
                       (x, y) -> x + y),
                   j := c.j))).j AS code
        FROM embeddings e CROSS JOIN subs CROSS JOIN cb c
        GROUP BY e.vec_id, subs.s
    ),
    qs AS (
        SELECT vec_id AS qid, embedding AS qv FROM embeddings
        WHERE vec_id IN (0, 7, 23)
    ),
    lut AS (
        SELECT qs.qid, subs.s, c.j,
               list_reduce(list_transform(
                   generate_series(1, 8),
                   i -> (qs.qv[subs.s * 8 + i]::DOUBLE
                         - c.cv[subs.s * 8 + i]::DOUBLE)
                      * (qs.qv[subs.s * 8 + i]::DOUBLE
                         - c.cv[subs.s * 8 + i]::DOUBLE)),
                   (x, y) -> x + y) AS d
        FROM subs CROSS JOIN cb c CROSS JOIN qs
    ),
    dist AS (
        SELECT l.qid, a.vec_id,
               list_reduce([0.0] || list(l.d ORDER BY a.s),
                           (x, y) -> x + y) AS dist
        FROM assign a JOIN lut l ON l.s = a.s AND l.j = a.code
        GROUP BY l.qid, a.vec_id
    ),
    topf AS (
        SELECT qid, vec_id, dist,
               row_number() OVER (
                   PARTITION BY qid ORDER BY dist ASC, vec_id ASC
               ) AS rk
        FROM dist WHERE vec_id <> qid
    ),
    cent AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i,
               embedding AS cv
        FROM embeddings ORDER BY vec_id LIMIT 16
    ),
    ccell AS (
        SELECT e.vec_id,
               (min(struct_pack(
                   d := {_duck_l2sq('e.embedding', 'c.cv')},
                   i := c.i))).i AS cell
        FROM embeddings e CROSS JOIN cent c
        GROUP BY e.vec_id
    ),
    qcells AS (
        SELECT qid, cell FROM (
            SELECT qs.qid, c.i AS cell,
                   row_number() OVER (
                       PARTITION BY qs.qid
                       ORDER BY {_duck_l2sq('qs.qv', 'c.cv')} ASC,
                                c.i ASC
                   ) AS pr
            FROM qs CROSS JOIN cent c
        ) WHERE pr <= 4
    ),
    topp AS (
        SELECT d.qid, d.vec_id, d.dist,
               row_number() OVER (
                   PARTITION BY d.qid ORDER BY d.dist ASC, d.vec_id ASC
               ) AS rk
        FROM dist d
        JOIN ccell ON ccell.vec_id = d.vec_id
        JOIN qcells ON qcells.qid = d.qid AND qcells.cell = ccell.cell
        WHERE d.vec_id <> d.qid
    )
    SELECT 'many' AS op,
           CAST(qid AS VARCHAR) || '|' || CAST(rk AS VARCHAR) AS k,
           CAST(vec_id AS VARCHAR) || '|' ||
           CAST(CAST(floor(dist * 1000000) AS BIGINT) AS VARCHAR) AS v
    FROM topf WHERE rk <= 5
    UNION ALL
    SELECT 'mivf',
           CAST(qid AS VARCHAR) || '|' || CAST(rk AS VARCHAR),
           CAST(vec_id AS VARCHAR) || '|' ||
           CAST(CAST(floor(dist * 1000000) AS BIGINT) AS VARCHAR)
    FROM topp WHERE rk <= 5
    UNION ALL
    SELECT 'rc', CAST(f.qid AS VARCHAR),
           CAST(COALESCE(h.n, 0) AS VARCHAR) || '|' ||
           CAST(COALESCE(te.n, 0) AS VARCHAR) || '|' ||
           CAST(COALESCE(tp.n, 0) AS VARCHAR) || '|' ||
           CAST(CAST(floor(COALESCE(h.n, 0)::DOUBLE / 5.0 * 1000000)
                AS BIGINT) AS VARCHAR)
    FROM (SELECT DISTINCT qid FROM qs) f
    LEFT JOIN (
        SELECT p.qid, count(*) AS n
        FROM (SELECT qid, vec_id FROM topp WHERE rk <= 5) p
        JOIN (SELECT qid, vec_id FROM topf WHERE rk <= 5) t
          ON t.qid = p.qid AND t.vec_id = p.vec_id
        GROUP BY p.qid
    ) h ON h.qid = f.qid
    LEFT JOIN (
        SELECT qid, count(*) AS n FROM topf WHERE rk <= 5 GROUP BY qid
    ) te ON te.qid = f.qid
    LEFT JOIN (
        SELECT qid, count(*) AS n FROM topp WHERE rk <= 5 GROUP BY qid
    ) tp ON tp.qid = f.qid
"""


def test_declared_batch_and_ivf_batch_match_duckdb(spark, sf_dir, duck_oracle):
    """Batched multi-query PQ search on the embeddings table, matched
    against DuckDB:

    - 'many' — ADC top-5 per query for the 3-query batch {0, 7, 23}
      via the DECLARED pq_topk_many step (query-as-column ADC folds,
      WindowGroupLimit ranking) — the oracle replays every (query,
      corpus, subspace) fold independently;
    - 'mivf' — the IVF-pruned batch path (n_probe=4 of 16 cells, probe
      cells computed per query as an expression): each query ranks only
      its probed cells' rows, top-5 each;
    - 'rc' — recall@5 of the pruned batch vs the flat batch per query
      (ann_recall group_cols=["query_id"]) — the composition the
      operators exist for.

    Distances hash as floor(x*1e6)."""
    from data_validation_engine_spark.llmops.ivf import default_centroids
    from data_validation_engine_spark.llmops.pq import ivf_pq_topk_many
    from data_validation_engine_spark.llmops.recall import ann_recall
    from data_validation_engine_spark.steps import parse_step
    from data_validation_engine_spark.steps.engine import StepEngine

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = default_codebooks(emb, dim=64, m=8, k=16)
    queries = emb.where("vec_id IN (0, 7, 23)")
    ents = {"emb": emb, "qs": queries}
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {
                "operation": "pq_topk_many",
                "entity_name": "emb",
                "target_name": "qs",
                "k": 5,
                "codebooks": books,
                "new_entity_name": "flat",
            }
        ),
    )
    fmt = (
        "CONCAT_WS('|', CAST(vec_id AS STRING),"
        " CAST(CAST(floor(pq_dist * 1000000) AS BIGINT) AS STRING)) AS v"
    )
    many = ents["flat"].selectExpr(
        "'many' AS op",
        "CONCAT_WS('|', CAST(query_id AS STRING),"
        " CAST(rank AS STRING)) AS k",
        fmt,
    )
    cents = default_centroids(emb, n_cells=16)
    pruned = ivf_pq_topk_many(
        emb, queries, 5, centroids=cents, codebooks=books, n_probe=4
    )
    mivf = pruned.selectExpr(
        "'mivf' AS op",
        "CONCAT_WS('|', CAST(query_id AS STRING),"
        " CAST(rank AS STRING)) AS k",
        fmt,
    )
    rc = ann_recall(
        pruned.select("query_id", "vec_id"),
        ents["flat"].select("query_id", "vec_id"),
        group_cols=["query_id"],
        k=5,
    ).selectExpr(
        "'rc' AS op",
        "CAST(query_id AS STRING) AS k",
        "CONCAT_WS('|', CAST(n_hits AS STRING), CAST(n_exact AS STRING),"
        " CAST(n_approx AS STRING),"
        " CAST(CAST(floor(recall * 1000000) AS BIGINT) AS STRING)) AS v",
    )
    duck_oracle(
        "pq_many", many.unionByName(mivf).unionByName(rc), _PQ_MANY_SQL
    )
