"""Round-9 fixes: BPE join-path encode, chi2 empty-side guard,
ecdf NULL policy, sql_query name validation, winsorize bound pinning.

Each test pins a behaviour the r8 ADVICE flagged as engine-divergent or
data-dependent; the BPE tests additionally prove the production join
path ≡ the fold path and that its plan does not grow with K.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_validation_engine_spark.errors import ConfigurationError
from data_validation_engine_spark.llmops.bpe import bpe_encode, bpe_train
from data_validation_engine_spark.llmops.stats import (
    chi2_drift,
    ecdf_normalize,
)


DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the cats sat"),
    (3, "a mat a cat a hat"),
    (4, "hat hat hat cat"),
    (5, ""),
]


@pytest.mark.slow
def test_bpe_fold_path_equals_join_path(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    merges, words = bpe_train(
        df, "text", n_merges=6, return_words=True
    )
    assert merges, "training must learn at least one merge"
    fold = {
        r["doc_id"]: (r["n_words"], r["n_subwords"], r["subwords_csv"])
        for r in bpe_encode(df, "doc_id", "text", merges).collect()
    }
    join = {
        r["doc_id"]: (r["n_words"], r["n_subwords"], r["subwords_csv"])
        for r in bpe_encode(
            df, "doc_id", "text", word_table=words
        ).collect()
    }
    assert fold == join
    # and the shuffle-join variant agrees too (the no-broadcast fallback
    # for pathological vocabularies)
    shuffled = {
        r["doc_id"]: (r["n_words"], r["n_subwords"], r["subwords_csv"])
        for r in bpe_encode(
            df, "doc_id", "text", word_table=words, broadcast_words=False
        ).collect()
    }
    assert fold == shuffled


def test_bpe_join_path_plan_independent_of_k(spark):
    """At K=1000 the join path's plan must contain no K-deep fold chain
    — plan size independent of the merge count (the fold path at that K
    would blow whole-stage codegen)."""
    df = spark.createDataFrame(DOCS[:2], "doc_id long, text string")
    words = spark.createDataFrame(
        [("the", "the", 1), ("cat", "c▁at", 2), ("sat", "s▁at", 2)],
        "word string, subwords string, n_subwords long",
    )
    enc = bpe_encode(df, "doc_id", "text", word_table=words)
    plan = enc._jdf.queryExecution().optimizedPlan().toString()
    assert "aggregate(" not in plan, "join path must not fold merges"
    assert len(plan) < 20_000
    out = {r["doc_id"]: r["subwords_csv"] for r in enc.collect()}
    # OOV words ('on', 'mat', 'cats') fall back to character symbols
    assert out[1].split(" ")[0] == "the"
    assert "c▁a▁t▁s" in out[2]


def test_bpe_unseen_word_falls_back_to_chars(spark):
    df = spark.createDataFrame([(1, "zzz")], "doc_id long, text string")
    words = spark.createDataFrame(
        [("the", "the", 1)], "word string, subwords string, n_subwords long"
    )
    row = bpe_encode(df, "doc_id", "text", word_table=words).collect()[0]
    assert row["subwords_csv"] == "z▁z▁z"
    assert row["n_subwords"] == 3


def test_bpe_encode_rejects_ambiguous_arguments(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="exactly one"):
        bpe_encode(df, "doc_id", "text")
    with pytest.raises(ValueError, match="exactly one"):
        bpe_encode(df, "doc_id", "text", [("a", "b")], word_table=df)


def test_chi2_empty_side_emits_null_not_inf(spark):
    """An empty snapshot makes every expected count zero on that side;
    the guard must emit NULL (not a crash, not inf) — the documented
    engine-exact degenerate policy."""
    ref = spark.createDataFrame(
        [("a",), ("a",), ("b",)], "lbl string"
    )
    cur = spark.createDataFrame([], "lbl string")
    rows = chi2_drift(ref, cur, "lbl").collect()
    assert {r["value"] for r in rows} == {"a", "b"}
    for r in rows:
        # e_cur = row * 0 / N = 0 → guarded NULL; e_ref = row * N / N > 0
        assert r["chi2_cur"] is None
        assert r["chi2_ref"] is not None


def test_ecdf_normalize_null_value_fails_loudly(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "id long, v double"
    )
    with pytest.raises(Exception, match="ecdf_normalize: NULL"):
        ecdf_normalize(df, "v").collect()


def test_ecdf_normalize_null_group_fails_loudly(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, None)], "id long, v double, g string"
    )
    with pytest.raises(Exception, match="ecdf_normalize: NULL"):
        ecdf_normalize(df, "v", group_cols=["g"]).collect()


def test_ecdf_normalize_clean_data_unchanged(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 20.0), (4, 40.0)], "id long, v double"
    )
    got = {r["id"]: r["ecdf"] for r in ecdf_normalize(df, "v").collect()}
    assert got == {1: 0.25, 2: 0.75, 3: 0.75, 4: 1.0}


def test_sql_query_rejects_reserved_and_invalid_names(spark, sf_dir):
    from data_validation_engine_spark import StepEngine
    from data_validation_engine_spark.steps import parse_step

    eng = StepEngine(spark)
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    for bad in ("args", "not-an-identifier"):
        with pytest.raises(ConfigurationError, match="sql_query"):
            eng.evaluate(
                {bad: nation},
                config=parse_step(
                    {
                        "operation": "sql",
                        "entity_name": bad,
                        "query": "SELECT * FROM {" + bad + "}",
                        "new_entity_name": "out",
                    }
                ),
            )


def test_winsorize_bounds_pinned_when_one_side_never_clips(spark):
    """The hashed-bound pattern the data_profiling row now uses: bounds
    from the percentile join, not reconstructed from clipped rows — a
    group clipping on only one side must still emit BOTH bounds."""
    # 20 identical high values + 1 low outlier: p95 == max → nothing
    # clips high; the old max/min-over-clipped reconstruction gave NULL
    vals = [(1.0,)] + [(100.0,)] * 20
    df = spark.createDataFrame(vals, "cents double")
    bounds = df.agg(
        F.round(F.expr("percentile(cents, 0.05)"), 6).alias("lo"),
        F.round(F.expr("percentile(cents, 0.95)"), 6).alias("hi"),
    ).collect()[0]
    assert bounds["lo"] is not None and bounds["hi"] is not None
    assert bounds["hi"] == 100.0


def _mk_docs(spark):
    """Corpus + batch with planted near-dups crossing the boundary."""
    base = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta doc{i} "
            f"iota kappa lambda mu nu xi omicron pi rho")
        for i in range(8)
    ]
    corpus = spark.createDataFrame(base, "doc_id long, text string")
    batch = spark.createDataFrame(
        [
            # 100: near-dup of corpus doc 3 (one token differs)
            (100, base[3][1].replace("rho", "sigma")),
            # 101: fresh
            (101, "completely different words entirely novel content here "
                  "with many distinct tokens that never repeat corpus"),
            # 102: near-dup of 100 (earlier NEW row) — must also drop
            (102, base[3][1].replace("rho", "tau")),
            # 103: exact dup of corpus doc 5
            (103, base[5][1]),
        ],
        "doc_id long, text string",
    )
    return corpus, batch


@pytest.mark.slow
def test_incremental_minhash_matches_full_pairs_filter(spark):
    """The incremental path must drop exactly the new ids the FULL
    banded pair set over the union implies (same banding → identical
    candidates → identical verified drops)."""
    from data_validation_engine_spark.llmops.dedup import (
        incremental_minhash_dedup,
        minhash_pairs,
    )

    corpus, batch = _mk_docs(spark)
    kept = {
        r["doc_id"]
        for r in incremental_minhash_dedup(
            batch, corpus, "doc_id", "text", threshold=0.5
        ).collect()
    }
    pairs = minhash_pairs(
        corpus.unionByName(batch), "doc_id", "text", threshold=0.5
    ).collect()
    new_ids = {100, 101, 102, 103}
    derived_drops = set()
    for r in pairs:
        a, b = r["id_a"], r["id_b"]  # a < b
        if b in new_ids:
            derived_drops.add(b)
    assert kept == new_ids - derived_drops
    assert 100 in derived_drops and 103 in derived_drops
    assert 101 in kept


@pytest.mark.slow
def test_incremental_minhash_prebuilt_index_equivalent(spark):
    """Feeding a persisted (round-tripped) minhash_index must give the
    same survivors as building it on the fly — the production shape
    where the corpus text is never re-read for indexing."""
    import tempfile

    from data_validation_engine_spark.llmops.dedup import (
        incremental_minhash_dedup,
        minhash_index,
    )

    corpus, batch = _mk_docs(spark)
    path = tempfile.mkdtemp(prefix="dve_mhidx_") + "/index"
    minhash_index(corpus, "doc_id", "text").write.parquet(path)
    idx = spark.read.parquet(path)
    on_fly = {
        r["doc_id"]
        for r in incremental_minhash_dedup(
            batch, corpus, "doc_id", "text", threshold=0.5
        ).collect()
    }
    prebuilt = {
        r["doc_id"]
        for r in incremental_minhash_dedup(
            batch, corpus, "doc_id", "text", corpus_index=idx, threshold=0.5
        ).collect()
    }
    assert on_fly == prebuilt


def test_incremental_minhash_declared_step(spark):
    from data_validation_engine_spark import StepEngine
    from data_validation_engine_spark.steps import parse_step

    corpus, batch = _mk_docs(spark)
    ents = {"batch": batch, "corpus": corpus}
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {
                "operation": "dedup_incremental",
                "method": "minhash",
                "entity_name": "batch",
                "target_name": "corpus",
                "id_column": "doc_id",
                "text_column": "text",
                "threshold": 0.5,
                "new_entity_name": "admitted",
            }
        ),
    )
    kept = {r["doc_id"] for r in ents["admitted"].collect()}
    assert 101 in kept and 100 not in kept and 103 not in kept


@pytest.mark.slow
def test_incremental_embedding_dedup_matches_pair_filter(spark):
    """The embedding admission filter must drop exactly the new ids the
    full LSH pair set over the union implies (same planes → identical
    candidates → identical verified drops)."""
    import math

    from data_validation_engine_spark.llmops import (
        embedding_bucket_index,
        embedding_neardup_pairs,
        incremental_embedding_dedup,
    )

    dim = 8

    def vec(seed, eps=0.0):
        # deterministic unit-ish vectors; eps nudges one coordinate
        v = [math.sin(seed * 13 + d) for d in range(dim)]
        v[0] += eps
        return v

    corpus = spark.createDataFrame(
        [(i, vec(i)) for i in range(6)], "vec_id long, embedding array<double>"
    )
    batch = spark.createDataFrame(
        [
            (100, vec(2, eps=0.001)),   # near-dup of corpus 2
            (101, vec(40)),             # fresh direction
            (102, vec(2, eps=0.002)),   # near-dup of 100 (earlier new row)
        ],
        "vec_id long, embedding array<double>",
    )
    kept = {
        r["vec_id"]
        for r in incremental_embedding_dedup(
            batch, corpus, dim=dim, threshold=0.999
        ).collect()
    }
    pairs = embedding_neardup_pairs(
        corpus.unionByName(batch), dim=dim, threshold=0.999
    ).collect()
    new_ids = {100, 101, 102}
    derived = {r["id_b"] for r in pairs if r["id_b"] in new_ids}
    assert kept == new_ids - derived
    assert 101 in kept and 100 not in kept

    # persisted-index path must agree with on-the-fly
    import tempfile

    path = tempfile.mkdtemp(prefix="dve_embidx_") + "/index"
    embedding_bucket_index(corpus, dim=dim).write.parquet(path)
    prebuilt = {
        r["vec_id"]
        for r in incremental_embedding_dedup(
            batch,
            corpus,
            corpus_index=spark.read.parquet(path),
            dim=dim,
            threshold=0.999,
        ).collect()
    }
    assert prebuilt == kept


def test_incremental_embedding_declared_step(spark):
    import math

    from data_validation_engine_spark import StepEngine
    from data_validation_engine_spark.steps import parse_step

    dim = 8

    def vec(seed, eps=0.0):
        v = [math.sin(seed * 13 + d) for d in range(dim)]
        v[0] += eps
        return v

    corpus = spark.createDataFrame(
        [(i, vec(i)) for i in range(6)], "vec_id long, embedding array<double>"
    )
    batch = spark.createDataFrame(
        [(100, vec(2, eps=0.001)), (101, vec(40))],
        "vec_id long, embedding array<double>",
    )
    ents = {"batch": batch, "corpus": corpus}
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {
                "operation": "embedding_neardup",
                "entity_name": "batch",
                "target_name": "corpus",
                "dim": dim,
                "threshold": 0.999,
                "new_entity_name": "admitted",
            }
        ),
    )
    kept = {r["vec_id"] for r in ents["admitted"].collect()}
    assert kept == {101}


def test_driver_row_budget_and_oracle_coverage():
    """The driver records at most 50 rows: the layout must stay exactly
    50 and (round 10 — env_probe retired, its fingerprint recorded in
    the r9 verdict) EVERY row must carry a DuckDB oracle twin."""
    import __spark_entry__ as entry

    q = entry.queries()
    o = entry.oracle_sql()
    assert len(q) == 50
    assert set(q) - set(o) == set(), "rows without an oracle twin"
    assert set(o) <= set(q), "stale oracle entries for removed rows"


@pytest.mark.slow
def test_round9_singletons_hash_all_string(spark, sf_dir):
    """The round-9 localization singletons must keep their hashed frames
    free of numeric dtypes (the engine→pandas dtype-coercion divergence
    class) — every column is a string."""
    import __spark_entry__ as entry

    # round 10: the singletons re-merged into union rows; the frames
    # must stay all-string (the broader allowlist gate lives in
    # tests/test_hash_discipline.py — this pins the four merged rows)
    # round 12: corpus_terms now rides the text_corpus union row
    rows = ["window_analytics", "text_corpus", "sessionize"]
    q = entry.queries()
    for name in rows:
        df = q[name](spark, sf_dir)
        kinds = {f.dataType.typeName() for f in df.schema.fields}
        assert kinds == {"string"}, f"{name}: {df.schema.simpleString()}"
