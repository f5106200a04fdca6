"""Round-6 steps through the FULL dischema JSON path: one config file
declares weighted sampling, top-k ranking, rolling aggregates,
incremental dedup against a corpus entity, containment pairs, and a
rollup — proving the new vocabulary is config-driven end-to-end (JSON ->
parse -> engine), not just callable from Python.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from data_validation_engine_spark.pipeline import run_pipeline

SF_DIR = "/root/testdata/sf0.001"

DISCHEMA = {
    "contract": {
        "datasets": {
            "events": {
                "fields": {
                    "event_id": "int",
                    "user_id": "int",
                    "event_type": "str",
                    "value": "float",
                },
                "key_field": "event_id",
                "mandatory_fields": ["event_id", "user_id"],
            }
        }
    },
    "transformations": {
        "rules": [],
        "filters": [],
        "post_filter_rules": [
            {
                "operation": "top_k",
                "entity": "events",
                "group_by": ["event_type"],
                "order_column": "value",
                "k": 3,
                "tiebreak_columns": ["event_id"],
                "new_entity_name": "top_events",
            },
            {
                "operation": "rolling_agg",
                "entity": "events",
                "partition_by": ["user_id"],
                "ts_column": "event_id",
                "window_seconds": 0.000005,
                "aggregations": [["n_win", "count(1)"]],
                "new_entity_name": "rolled",
            },
            {
                "operation": "group_by",
                "entity": "events",
                "group_by": "event_type",
                "grouping": "rollup",
                "agg_columns": {
                    "count(1)": "n",
                    "cast(grouping_id() as bigint)": "gid",
                },
                "new_entity_name": "rolled_up",
            },
        ],
    },
}


@pytest.fixture(scope="module")
def workspace(tmp_path_factory, spark):
    root = tmp_path_factory.mktemp("r6_dischema")
    (root / "dischema.json").write_text(json.dumps(DISCHEMA))
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    # stringified input (the contract casts back); event_id doubles as an
    # integer "timestamp" for the rolling step
    ev.selectExpr(
        "CAST(event_id AS STRING) event_id",
        "CAST(user_id AS STRING) user_id",
        "event_type",
        "CAST(value AS STRING) value",
    ).write.mode("overwrite").parquet(str(root / "events.parquet"))
    return root


@pytest.fixture(scope="module")
def result(spark, workspace, tmp_path_factory):
    work = tmp_path_factory.mktemp("r6_dischema_work")
    return run_pipeline(
        spark,
        workspace / "dischema.json",
        {"events": str(workspace / "events.parquet")},
        work,
        write_report=False,
    )


def test_pipeline_succeeds_with_round6_steps(result):
    assert result.success
    assert {"top_events", "rolled", "rolled_up"} <= set(result.entities)


def test_top_k_entity_from_json(result, spark):
    top = result.entities["top_events"]
    assert top.where("rank > 3").count() == 0
    n_types = top.select("event_type").distinct().count()
    assert top.count() == 3 * n_types


def test_rolling_entity_from_json(result):
    rolled = result.entities["rolled"]
    # window of 5 integer units on the event_id line: n_win is between 1
    # and 6 (self + up to 5 predecessors within the window per user)
    mn, mx = rolled.agg(
        F.min("n_win"), F.max("n_win")
    ).first()
    assert mn >= 1 and mx >= 1


def test_rollup_entity_from_json(result, spark):
    ru = {
        (r.event_type, r.gid): r.n
        for r in result.entities["rolled_up"].collect()
    }
    total = sum(n for (t, g), n in ru.items() if g == 0)
    assert ru[(None, 1)] == total


# -- corpus-hygiene vocabulary through the same JSON path ----------------------

HYGIENE_DISCHEMA = {
    "contract": {
        "datasets": {
            "documents": {
                "fields": {
                    "doc_id": "int",
                    "text": "str",
                    "lang": "str",
                    "source": "str",
                    "n_chars": "int",
                },
                "key_field": "doc_id",
                "mandatory_fields": ["doc_id", "text"],
            }
        }
    },
    "transformations": {
        "rules": [],
        "filters": [],
        "post_filter_rules": [
            {"operation": "copy_entity", "entity": "documents",
             "new_entity_name": "benchmark"},
            {"operation": "filter_without_notifying", "entity": "benchmark",
             "expression": "doc_id % 97 = 0"},
            {"operation": "filter_without_notifying", "entity": "documents",
             "expression": "doc_id % 97 != 0"},
            {"operation": "text_repetition", "entity": "documents",
             "id_column": "doc_id", "new_entity_name": "rep"},
            {"operation": "pii_scrub", "entity": "documents",
             "id_column": "doc_id", "new_entity_name": "scrubbed"},
            {"operation": "chunk_documents", "entity": "documents",
             "id_column": "doc_id", "chunk_tokens": 32, "overlap": 8,
             "new_entity_name": "chunks"},
            {"operation": "pack_sequences", "entity": "documents",
             "id_column": "doc_id", "capacity": 512, "n_shards": 8,
             "new_entity_name": "packs"},
            {"operation": "decontaminate", "entity": "documents",
             "target_name": "benchmark", "new_entity_name": "contam_flags"},
        ],
    },
}


@pytest.fixture(scope="module")
def hygiene_result(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("r6_hygiene")
    (root / "dischema.json").write_text(json.dumps(HYGIENE_DISCHEMA))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.selectExpr(
        "CAST(doc_id AS STRING) doc_id", "text", "lang", "source",
        "CAST(n_chars AS STRING) n_chars",
    ).write.mode("overwrite").parquet(str(root / "documents.parquet"))
    work = tmp_path_factory.mktemp("r6_hygiene_work")
    return run_pipeline(
        spark,
        root / "dischema.json",
        {"documents": str(root / "documents.parquet")},
        work,
        write_report=False,
    )


@pytest.mark.slow
def test_hygiene_pipeline_succeeds(hygiene_result):
    assert hygiene_result.success
    assert {
        "rep", "scrubbed", "chunks", "packs", "contam_flags", "benchmark",
    } <= set(hygiene_result.entities)


def test_hygiene_entities_from_json(hygiene_result, spark):
    ents = hygiene_result.entities
    n_corpus = ents["documents"].count()
    assert ents["rep"].count() == n_corpus
    assert ents["scrubbed"].count() == n_corpus
    assert ents["packs"].count() == n_corpus
    assert ents["contam_flags"].count() == n_corpus
    assert ents["chunks"].count() > n_corpus  # explode really ran
    # benchmark docs are excluded from the corpus, so self-contamination
    # can't inflate the flag; flags are boolean + hit counts agree
    flags = ents["contam_flags"]
    assert flags.where("contaminated AND n_hits = 0").count() == 0
    assert flags.where("NOT contaminated AND n_hits > 0").count() == 0


# -- profiling / linkage / retrieval / graph vocabulary, same JSON path -------

PROFILING_DISCHEMA = {
    "contract": {
        "datasets": {
            "documents": {
                "fields": {
                    "doc_id": "int",
                    "text": "str",
                    "lang": "str",
                    "source": "str",
                    "n_chars": "int",
                },
                "key_field": "doc_id",
                "mandatory_fields": ["doc_id"],
            }
        }
    },
    "transformations": {
        "rules": [],
        "filters": [],
        "post_filter_rules": [
            {"operation": "approx_distinct", "entity": "documents",
             "group_by": ["lang"], "value_column": "text", "k": 16,
             "new_entity_name": "lang_cards"},
            {"operation": "grouped_quantiles", "entity": "documents",
             "group_by": ["lang"], "value_column": "n_chars",
             "probs": [0.5], "new_entity_name": "len_quants"},
            {"operation": "profile", "entity": "documents",
             "columns": ["doc_id", "lang", "source"],
             "new_entity_name": "doc_profile"},
            {"operation": "bm25", "entity": "documents",
             "id_column": "doc_id", "query": "spark window stream",
             "new_entity_name": "hits"},
            # self-linkage: documents vs a copied register of themselves
            {"operation": "copy_entity", "entity": "documents",
             "new_entity_name": "register"},
            {"operation": "add", "entity": "register",
             "column_name": "reg_name", "expression": "lang || source"},
            {"operation": "add", "entity": "documents",
             "column_name": "doc_name", "expression": "lang || source"},
            {"operation": "fuzzy_join", "entity": "documents",
             "right_entity": "register", "left_column": "doc_name",
             "right_column": "reg_name", "max_distance": 1,
             "new_entity_name": "linked"},
            # graph: doc -> source-bucket edges, ranked
            {"operation": "add", "entity": "documents",
             "column_name": "src_bucket",
             "expression": "CAST(1000000 + abs(hash(source)) % 50 AS BIGINT)"},
            {"operation": "pagerank", "entity": "documents",
             "src_column": "doc_id", "dst_column": "src_bucket",
             "iterations": 2, "new_entity_name": "ranks"},
            # round-6 second wave: drift, binning, outliers, heavy
            # hitters, vocab encoding, and the dataset-level gate
            {"operation": "profile_diff", "entity": "documents",
             "target_name": "register", "new_entity_name": "drift"},
            {"operation": "quantile_buckets", "entity": "documents",
             "group_by": ["lang"], "value_column": "n_chars",
             "n_buckets": 4, "new_entity_name": "binned"},
            {"operation": "outlier_flags", "entity": "documents",
             "group_by": ["lang"], "value_column": "n_chars",
             "new_entity_name": "flagged"},
            {"operation": "frequent_items", "entity": "documents",
             "group_by": ["lang"], "value_column": "source", "k": 2,
             "new_entity_name": "top_sources"},
            {"operation": "build_vocab", "entity": "documents",
             "id_column": "doc_id", "min_count": 5,
             "new_entity_name": "vocab"},
            {"operation": "encode_tokens", "entity": "documents",
             "vocab_entity": "vocab", "id_column": "doc_id",
             "new_entity_name": "encoded"},
            {"operation": "profile_gate", "entity": "documents",
             "min_rows": 10, "max_null_frac": 0.99,
             "new_entity_name": "documents"},
        ],
    },
}


@pytest.fixture(scope="module")
def profiling_result(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("r6_profiling")
    (root / "dischema.json").write_text(json.dumps(PROFILING_DISCHEMA))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.selectExpr(
        "CAST(doc_id AS STRING) doc_id", "text", "lang", "source",
        "CAST(n_chars AS STRING) n_chars",
    ).write.mode("overwrite").parquet(str(root / "documents.parquet"))
    work = tmp_path_factory.mktemp("r6_profiling_work")
    return run_pipeline(
        spark,
        root / "dischema.json",
        {"documents": str(root / "documents.parquet")},
        work,
        write_report=False,
    )


@pytest.mark.slow
def test_profiling_pipeline_succeeds(profiling_result):
    assert profiling_result.success
    assert {
        "lang_cards", "len_quants", "doc_profile", "hits", "linked", "ranks",
        "drift", "binned", "flagged", "top_sources", "vocab", "encoded",
    } <= set(profiling_result.entities)


def test_profiling_entities_from_json(profiling_result, spark):
    ents = profiling_result.entities
    langs = ents["documents"].select("lang").distinct().count()
    assert ents["lang_cards"].count() == langs
    # text values are near-unique: the k=16 sketch saturates, so the
    # estimator path (not the exact path) is what the JSON drove
    assert ents["lang_cards"].where("kth_hash IS NOT NULL").count() > 0
    assert ents["len_quants"].count() == langs
    assert {r.column for r in ents["doc_profile"].collect()} == {
        "doc_id", "lang", "source",
    }
    assert ents["hits"].count() > 0
    # every document matches its own register row at distance 0
    n_docs = ents["documents"].count()
    assert ents["linked"].where("distance = 0").count() >= n_docs
    # every named source bucket received rank mass above the base
    ranks = ents["ranks"]
    assert ranks.where("node >= 1000000 AND pagerank > 0").count() > 0
    assert ranks.count() > n_docs  # docs + buckets all ranked


def test_second_wave_entities_from_json(profiling_result, spark):
    ents = profiling_result.entities
    n_docs = ents["documents"].count()
    langs = ents["documents"].select("lang").distinct().count()
    # drift: register has the two added name columns, documents too after
    # the adds ran in order — statuses all present
    statuses = {r.status for r in ents["drift"].collect()}
    assert "common" in statuses
    assert ents["binned"].where("bucket BETWEEN 1 AND 4").count() == n_docs
    assert ents["flagged"].count() == n_docs
    assert ents["flagged"].where("is_outlier").count() < n_docs
    assert ents["top_sources"].where("rank <= 2").count() == \
        ents["top_sources"].count()
    assert ents["vocab"].count() > 0
    assert ents["encoded"].count() == n_docs  # every doc has tokens
