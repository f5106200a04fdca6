"""Round-14 optimization round: parity tests for this round's levers.

Contract: "same results, fewer/narrower passes" — every test pins that the
optimized path returns EXACTLY the rows of the unoptimized path, and the
plan-shape tests pin the structural claims OPTIMIZATION_r14.md makes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import assert_frames_equal


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"doc {i} shared boilerplate sentence common tail piece "
            f"unique-{i} words repeat repeat number {i % 7}")
        for i in range(40)
    ]
    # two exact-duplicate groups + near-duplicates so banding produces
    # real survivors and the survivor-only set aggregation is exercised
    rows += [(100 + i, rows[i][1]) for i in range(6)]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestMinhashSurvivorSets:
    """r14: the verification shingle sets are aggregated AFTER banding,
    over candidate ids only — never carried through the signature
    exchange (VERDICT r13, Next-round #1)."""

    def test_pairs_match_full_set_aggregation(self, spark, docs):
        from data_validation_engine_spark.llmops.dedup import (
            _verify_jaccard,
            band_keys,
            bounded_self_join,
            minhash_pairs,
            shingle_occurrence_rows,
        )

        got = minhash_pairs(docs, "doc_id", "text", threshold=0.5)

        # reference: the r13 shape — one aggregation carrying signatures
        # AND full-corpus collect_list sets, verify joins over all ids
        num_hashes, bands = 12, 4
        sig_names = [f"mh_{i}" for i in range(num_hashes)]
        shingled = shingle_occurrence_rows(docs, "doc_id", "text")
        sets_sig = shingled.groupBy("doc_id").agg(
            F.collect_list("shingle").alias("__shingles"),
            *[
                F.min(
                    F.md5(F.concat(F.lit(f"mh{i}|"), F.col("shingle")))
                ).alias(f"mh_{i}")
                for i in range(num_hashes)
            ],
        )
        narrow_bands = sets_sig.select(
            F.col("doc_id"),
            F.posexplode(F.array(*band_keys(sig_names, bands))).alias(
                "__band_idx", "__band_key"
            ),
        )
        candidates = (
            bounded_self_join(
                narrow_bands,
                ["__band_idx", "__band_key"],
                order_col="doc_id",
                max_bucket_rows=4096,
            )
            .select(
                F.col("a.`doc_id`").alias("id_a"),
                F.col("b.`doc_id`").alias("id_b"),
            )
            .distinct()
        )
        ref = _verify_jaccard(
            candidates,
            shingled,
            "doc_id",
            0.5,
            sets=sets_sig.select("doc_id", "__shingles"),
        )
        assert_frames_equal(
            got.orderBy("id_a", "id_b"), ref.orderBy("id_a", "id_b")
        )

    def test_set_aggregation_is_downstream_of_candidate_filter(
        self, spark, docs
    ):
        from data_validation_engine_spark.llmops.dedup import minhash_pairs

        plan = (
            minhash_pairs(docs, "doc_id", "text", threshold=0.5)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        # the survivor filter exists ...
        assert "LeftSemi" in plan
        # ... and no aggregate carries the shingle-set payload alongside
        # the signature mins (the r13 regression shape)
        for line in plan.splitlines():
            if "collect_list" in line:
                assert "min(md5(" not in line, line


class TestSharedTermFrequencies:
    """r14: one term_frequencies pass feeds tfidf/vocab/postings
    (VERDICT r13, Next-round #4)."""

    def test_tfidf_parity(self, spark, docs):
        from data_validation_engine_spark.llmops.text import (
            term_frequencies,
            tfidf_top_terms,
        )

        tf = term_frequencies(docs, "doc_id", "text")
        direct = tfidf_top_terms(docs, "doc_id", "text")
        shared = tfidf_top_terms(docs, "doc_id", "text", tf=tf)
        assert_frames_equal(direct, shared)

    def test_vocab_parity(self, spark, docs):
        from data_validation_engine_spark.llmops.text import (
            build_vocab,
            term_frequencies,
        )

        from data_validation_engine_spark.llmops.dedup import tokens_col

        tf = term_frequencies(docs, "doc_id", "text")
        for mc, mdf in ((1, 1), (3, 1), (2, 2)):
            # the pre-r14 implementation: tokenize + two-phase
            # countDistinct aggregation over raw occurrence rows
            direct_rows = sorted(
                map(
                    tuple,
                    docs.select(
                        "doc_id",
                        F.explode(tokens_col(F.col("text"))).alias("term"),
                    )
                    .groupBy("term")
                    .agg(
                        F.count(F.lit(1)).alias("count"),
                        F.countDistinct("doc_id").alias("doc_freq"),
                    )
                    .where(
                        (F.col("count") >= mc) & (F.col("doc_freq") >= mdf)
                    )
                    .collect(),
                )
            )
            shared = build_vocab(
                docs, "doc_id", "text", min_count=mc, min_doc_freq=mdf,
                tf=tf,
            )
            plain = build_vocab(
                docs, "doc_id", "text", min_count=mc, min_doc_freq=mdf
            )
            assert_frames_equal(plain, shared)
            assert sorted(map(tuple, shared.collect())) == direct_rows

    def test_postings_parity(self, spark, docs):
        from data_validation_engine_spark.llmops.text import (
            build_postings,
            term_frequencies,
        )

        tf = term_frequencies(docs, "doc_id", "text")
        direct = build_postings(docs, "doc_id", "text", min_doc_freq=3)
        shared = build_postings(
            docs, "doc_id", "text", min_doc_freq=3, tf=tf
        )
        assert_frames_equal(direct, shared)
