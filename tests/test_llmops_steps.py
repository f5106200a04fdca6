"""Dischema-declarable corpus (llmops) steps: the reference drives all
processing through a JSON ``transformations`` list (dve configuration/v1/
steps.py:346-365), so corpus cleaning must be declarable the same way.

E2E: documents.parquet + planted dirt -> quality gates -> exact dedup ->
minhash near-dedup, all from one dischema JSON.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from data_validation_engine_spark.pipeline import run_pipeline
from data_validation_engine_spark.steps import (
    ExactDedup,
    MinHashDedup,
    QualityFilters,
    SimilarityTopK,
    StepEngine,
    parse_step,
)

SF_DIR = "/root/testdata/sf0.001"

DISCHEMA = {
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
            {
                "operation": "quality_filters",
                "entity": "documents",
                "text_column": "text",
                "min_tokens": 5,
                "max_tokens": 5000,
            },
            {
                "operation": "dedup_exact",
                "entity": "documents",
                "key_columns": ["text"],
                "order_column": "doc_id",
                "normalize_text": True,
                "count_column": None,
            },
            {
                "operation": "dedup_minhash",
                "entity": "documents",
                "id_column": "doc_id",
                "text_column": "text",
                "threshold": 0.8,
                "new_entity_name": "clean_documents",
            },
        ],
    },
}


@pytest.fixture(scope="module")
def corpus_workspace(tmp_path_factory, spark):
    """documents.parquet + planted dirt, staged as a pipeline input."""
    root = tmp_path_factory.mktemp("llmops_steps")
    (root / "dischema.json").write_text(json.dumps(DISCHEMA))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = {r["doc_id"]: r["text"] for r in docs.where("doc_id IN (0, 1)").collect()}
    near = base[1].split()
    near[len(near) // 2] = "zzzmutated"
    dirt = spark.createDataFrame(
        [
            # exact dup of doc 0 modulo case/whitespace
            (9000, "  " + base[0].upper() + "  ", "en", "planted", len(base[0])),
            # near dup of doc 1 (one token changed -> jaccard >= 0.8)
            (9001, " ".join(near), "en", "planted", len(base[1])),
            # junk: under the 5-token quality floor
            (9002, "too short", "en", "planted", 9),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.unionByName(dirt).write.mode("overwrite").parquet(
        str(root / "documents.parquet")
    )
    return root


@pytest.fixture(scope="module")
def corpus_result(spark, corpus_workspace, tmp_path_factory):
    work = tmp_path_factory.mktemp("llmops_steps_work")
    return run_pipeline(
        spark,
        corpus_workspace / "dischema.json",
        {"documents": str(corpus_workspace / "documents.parquet")},
        work,
        write_report=False,
    )


@pytest.mark.slow
def test_corpus_pipeline_succeeds(corpus_result):
    assert corpus_result.success
    assert "clean_documents" in corpus_result.entities


def test_quality_gate_drops_junk_doc(corpus_result):
    codes = {
        r["error_code"]
        for r in corpus_result.messages.where(
            ~F.col("is_informational")
        ).collect()
    }
    assert "BAD_TOKEN_COUNT" in codes
    clean_ids = {
        r["doc_id"]
        for r in corpus_result.entities["clean_documents"]
        .select("doc_id")
        .collect()
    }
    assert 9002 not in clean_ids


def test_exact_and_near_dedup_drop_planted_dups(corpus_result):
    clean = corpus_result.entities["clean_documents"]
    clean_ids = {r["doc_id"] for r in clean.select("doc_id").collect()}
    # survivors keep the minimum doc_id of each duplicate group
    assert 0 in clean_ids and 1 in clean_ids
    assert 9000 not in clean_ids  # exact dup (case/whitespace) of doc 0
    assert 9001 not in clean_ids  # near dup of doc 1
    # the declarative steps must produce EXACTLY what direct library calls
    # produce (the corpus itself contains natural near-dups, so the count
    # is data-dependent — parity is the invariant, not a constant)
    assert len(clean_ids) < 503
    # count_column: null dropped the copy-count column
    assert "n_copies" not in clean.columns


def test_dischema_steps_match_direct_library_calls(
    spark, corpus_result, corpus_workspace
):
    from data_validation_engine_spark.llmops.dedup import (
        exact_dedup,
        minhash_dedup,
    )

    docs = spark.read.parquet(str(corpus_workspace / "documents.parquet"))
    survivors = docs.where(
        "size(split(trim(text), '\\\\s+')) BETWEEN 5 AND 5000"
        " AND size(regexp_extract_all(text, '[^A-Za-z0-9\\\\s]', 0))"
        "     / length(text) < 0.2"
        " AND (length(regexp_replace(text, '\\\\s+', ''))"
        "      / size(split(trim(text), '\\\\s+'))) BETWEEN 2.0 AND 15.0"
    )
    expected = minhash_dedup(
        exact_dedup(
            survivors, ["text"], order_col="doc_id", normalize_text=True
        ).drop("n_copies"),
        "doc_id",
        "text",
        threshold=0.8,
    )
    expected_ids = {r["doc_id"] for r in expected.select("doc_id").collect()}
    clean_ids = {
        r["doc_id"]
        for r in corpus_result.entities["clean_documents"]
        .select("doc_id")
        .collect()
    }
    assert clean_ids == expected_ids


def test_similarity_topk_step(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    entities = {
        "embeddings": emb,
        "query": emb.where("vec_id = 7"),
    }
    engine = StepEngine(spark)
    engine.evaluate(
        entities,
        config=SimilarityTopK(
            entity_name="embeddings",
            target_name="query",
            k=5,
            new_entity_name="neighbours",
        ),
    )
    out = entities["neighbours"].collect()
    assert len(out) == 5
    assert all(r["vec_id"] != 7 for r in out)  # exclude_self
    cosines = [r["cosine"] for r in out]
    assert cosines == sorted(cosines, reverse=True)

    # ANN variant: results are a subset of the probed bucket, still ranked
    engine.evaluate(
        entities,
        config=SimilarityTopK(
            entity_name="embeddings",
            target_name="query",
            k=5,
            method="ann",
            new_entity_name="ann_neighbours",
        ),
    )
    ann = entities["ann_neighbours"].collect()
    assert 0 < len(ann) <= 5
    assert all(r["vec_id"] != 7 for r in ann)


def test_llmops_steps_parse_from_json():
    """The four corpus steps parse from reference-style dischema dicts."""
    s1 = parse_step(
        {
            "operation": "dedup_exact",
            "entity_name": "docs",
            "key_columns": "text",
            "order_column": "doc_id",
        }
    )
    assert isinstance(s1, ExactDedup) and s1.output_name == "docs"
    s2 = parse_step(
        {
            "operation": "dedup_minhash",
            "entity_name": "docs",
            "id_column": "doc_id",
            "text_column": "text",
            "exact_components": True,
        }
    )
    assert isinstance(s2, MinHashDedup) and s2.exact_components
    s3 = parse_step(
        {"operation": "quality_filters", "entity_name": "docs", "min_tokens": 2}
    )
    assert isinstance(s3, QualityFilters) and s3.min_tokens == 2
    s4 = parse_step(
        {
            "operation": "similarity_topk",
            "entity_name": "emb",
            "target_name": "q",
            "method": "ann",
            "k": 3,
        }
    )
    assert isinstance(s4, SimilarityTopK) and s4.k == 3


@pytest.mark.slow
def test_text_analysis_steps_match_library(spark):
    """The six round-5 declarable corpus steps compute exactly what the
    direct library calls compute (the JSON vocabulary adds no semantics)."""
    from data_validation_engine_spark.llmops.dedup import simhash_table
    from data_validation_engine_spark.llmops.similarity import (
        embedding_neardup_pairs,
        multiprobe_ann_topk,
    )
    from data_validation_engine_spark.llmops.text import (
        language_id,
        text_fingerprint,
        text_stats,
        tfidf_top_terms,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    engine = StepEngine(spark)
    entities = {"documents": docs, "embeddings": emb, "q": emb.where("vec_id = 3")}
    cases = [
        (
            {"operation": "text_stats", "entity_name": "documents",
             "id_column": "doc_id", "new_entity_name": "stats"},
            "stats",
            text_stats(docs, "doc_id", "text"),
        ),
        (
            {"operation": "lang_id", "entity_name": "documents",
             "id_column": "doc_id", "new_entity_name": "langs"},
            "langs",
            language_id(docs, "doc_id", "text"),
        ),
        (
            {"operation": "tfidf_top_terms", "entity_name": "documents",
             "id_column": "doc_id", "new_entity_name": "terms"},
            "terms",
            tfidf_top_terms(docs, "doc_id", "text"),
        ),
        (
            {"operation": "text_fingerprint", "entity_name": "documents",
             "id_column": "doc_id", "new_entity_name": "prints"},
            "prints",
            text_fingerprint(docs, "doc_id", "text"),
        ),
        (
            {"operation": "dedup_simhash", "entity_name": "documents",
             "id_column": "doc_id", "new_entity_name": "sigs"},
            "sigs",
            simhash_table(docs, "doc_id", "text"),
        ),
        (
            {"operation": "embedding_neardup", "entity_name": "embeddings",
             "threshold": 0.3, "new_entity_name": "neardups"},
            "neardups",
            embedding_neardup_pairs(emb, threshold=0.3),
        ),
        (
            {"operation": "similarity_topk", "entity_name": "embeddings",
             "target_name": "q", "method": "multiprobe", "k": 5,
             "n_planes": 6, "new_entity_name": "mp"},
            "mp",
            multiprobe_ann_topk(emb, emb.where("vec_id = 3"), 5),
        ),
    ]
    for config, out_name, expected in cases:
        engine.evaluate(entities, config=parse_step(config))
        got = {tuple(r) for r in entities[out_name].collect()}
        want = {tuple(r) for r in expected.collect()}
        assert got == want and len(got) > 0, config["operation"]


def test_minhash_star_component_algorithm_declarable(spark):
    """component_algorithm='star' routes the declarative fuzzy dedup
    through large-star/small-star CC and matches label propagation."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    engine = StepEngine(spark)
    outs = {}
    for algo in ("label", "star"):
        entities = {"documents": docs}
        engine.evaluate(
            entities,
            config=parse_step(
                {
                    "operation": "dedup_minhash",
                    "entity_name": "documents",
                    "id_column": "doc_id",
                    "text_column": "text",
                    "threshold": 0.5,
                    "exact_components": True,
                    "component_algorithm": algo,
                    "new_entity_name": "deduped",
                }
            ),
        )
        outs[algo] = {
            r["doc_id"] for r in entities["deduped"].select("doc_id").collect()
        }
    assert outs["label"] == outs["star"] and len(outs["star"]) > 0


def test_sessionize_step_matches_library(spark):
    """The declarable sessionize step equals the library calls in both
    output modes."""
    from data_validation_engine_spark.streaming import (
        session_stats,
        sessionize,
    )

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    engine = StepEngine(spark)
    entities = {"events": events}
    engine.evaluate(
        entities,
        config=parse_step(
            {
                "operation": "sessionize",
                "entity_name": "events",
                "user_column": "user_id",
                "ts_column": "ts",
                "gap_seconds": 1800,
                "new_entity_name": "sessions",
            }
        ),
    )
    got = {tuple(r) for r in entities["sessions"].collect()}
    want = {
        tuple(r)
        for r in session_stats(events, "user_id", "ts", gap_seconds=1800).collect()
    }
    assert got == want and len(got) > 0

    engine.evaluate(
        entities,
        config=parse_step(
            {
                "operation": "sessionize",
                "entity_name": "events",
                "user_column": "user_id",
                "ts_column": "ts",
                "output": "events",
                "new_entity_name": "tagged",
            }
        ),
    )
    assert entities["tagged"].count() == events.count()
    got_idx = {
        (r["event_id"], r["session_idx"])
        for r in entities["tagged"].select("event_id", "session_idx").collect()
    }
    want_idx = {
        (r["event_id"], r["session_idx"])
        for r in sessionize(events, "user_id", "ts")
        .select("event_id", "session_idx")
        .collect()
    }
    assert got_idx == want_idx


@pytest.mark.slow
def test_pair_graph_steps_match_library(spark):
    """Declarable simhash-pairs and connected-components steps chain into
    the full pair-graph pipeline and equal the library calls."""
    from data_validation_engine_spark.llmops import (
        connected_components,
        simhash_pairs,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(
        "doc_id % 5 = 0"
    )
    engine = StepEngine(spark)
    entities = {"documents": docs}
    engine.evaluate(
        entities,
        config=parse_step(
            {
                "operation": "dedup_simhash_pairs",
                "entity_name": "documents",
                "id_column": "doc_id",
                "bits": 32,
                "max_hamming": 1,
                "new_entity_name": "pairs",
            }
        ),
    )
    got_pairs = {tuple(r) for r in entities["pairs"].collect()}
    want_pairs = {
        tuple(r)
        for r in simhash_pairs(
            docs, "doc_id", "text", bits=32, max_hamming=1
        ).collect()
    }
    assert got_pairs == want_pairs and len(got_pairs) > 0

    engine.evaluate(
        entities,
        config=parse_step(
            {
                "operation": "connected_components",
                "entity_name": "pairs",
                "new_entity_name": "clusters",
            }
        ),
    )
    got_cc = {tuple(r) for r in entities["clusters"].collect()}
    want_cc = {
        tuple(r)
        for r in connected_components(
            simhash_pairs(docs, "doc_id", "text", bits=32, max_hamming=1)
        ).collect()
    }
    assert got_cc == want_cc and len(got_cc) > 0


def test_hash_sample_declarable_step(spark):
    from data_validation_engine_spark.llmops import deterministic_sample
    from data_validation_engine_spark.steps import StepEngine, parse_step

    df = spark.range(1000).withColumnRenamed("id", "k")
    ents = {"rows": df}
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {
                "operation": "hash_sample",
                "entity_name": "rows",
                "key_column": "k",
                "fraction": 0.25,
                "new_entity_name": "kept",
            }
        ),
    )
    step = {r["k"] for r in ents["kept"].collect()}
    lib = {r["k"] for r in deterministic_sample(df, "k", 0.25).collect()}
    assert step == lib and 0 < len(lib) < 1000


def test_ivf_step_accepts_explicit_centroids(spark):
    """An offline-trained quantizer rides the step config: explicit
    centroids change the cell layout vs the placeholder quantizer, and
    the step path equals the library call with the same centroids."""
    from data_validation_engine_spark.llmops.ivf import ivf_topk
    from data_validation_engine_spark.steps import StepEngine, parse_step

    embs = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    )
    dim = len(embs.first()["embedding"])
    cents = [
        [1.0 if i == (j % dim) else 0.0 for i in range(dim)]
        for j in range(4)
    ]
    ents = {"embeddings": embs, "q": embs.where("vec_id = 0")}
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {
                "operation": "similarity_topk",
                "entity_name": "embeddings",
                "target_name": "q",
                "method": "ivf",
                "k": 5,
                "n_probe": 2,
                "centroids": cents,
                "new_entity_name": "out",
            }
        ),
    )
    step = [(r["vec_id"], r["cosine"]) for r in ents["out"].collect()]
    lib = [
        (r["vec_id"], r["cosine"])
        for r in ivf_topk(
            embs, embs.where("vec_id = 0"), 5, centroids=cents, n_probe=2
        ).collect()
    ]
    assert step == lib and len(lib) == 5


@pytest.mark.slow
def test_hygiene_steps_match_library(spark):
    """The round-6 corpus-hygiene steps (repetition signals, PII scrub,
    benchmark decontamination) compute exactly what the direct library
    calls compute."""
    from data_validation_engine_spark.llmops import (
        decontaminate,
        pii_scrub,
        repetition_stats,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    engine = StepEngine(spark)
    entities = {
        "documents": docs.where("doc_id % 97 != 0"),
        "benchmark": docs.where("doc_id % 97 = 0"),
    }
    cases = [
        (
            {"operation": "text_repetition", "entity_name": "documents",
             "id_column": "doc_id", "new_entity_name": "rep"},
            "rep",
            repetition_stats(entities["documents"], "doc_id", "text"),
        ),
        (
            {"operation": "pii_scrub", "entity_name": "documents",
             "id_column": "doc_id", "new_entity_name": "scrubbed"},
            "scrubbed",
            pii_scrub(entities["documents"], "doc_id", "text"),
        ),
        (
            {"operation": "decontaminate", "entity_name": "documents",
             "target_name": "benchmark", "ngram": 5,
             "new_entity_name": "flags"},
            "flags",
            decontaminate(
                entities["documents"], entities["benchmark"],
                "doc_id", "text", ngram=5,
            ),
        ),
    ]
    for config, out_name, expected in cases:
        engine.evaluate(entities, config=parse_step(config))
        got = {tuple(r) for r in entities[out_name].collect()}
        want = {tuple(r) for r in expected.collect()}
        assert got == want and len(got) > 0, config["operation"]


def test_sequence_prep_steps_match_library(spark):
    """Declarable chunking/packing equals the direct library calls."""
    from data_validation_engine_spark.llmops import (
        chunk_documents,
        pack_sequences,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    engine = StepEngine(spark)
    entities = {"documents": docs}
    cases = [
        (
            {"operation": "chunk_documents", "entity_name": "documents",
             "id_column": "doc_id", "chunk_tokens": 32, "overlap": 8,
             "new_entity_name": "chunks"},
            "chunks",
            chunk_documents(docs, "doc_id", "text",
                            chunk_tokens=32, overlap=8),
        ),
        (
            {"operation": "pack_sequences", "entity_name": "documents",
             "id_column": "doc_id", "capacity": 512, "n_shards": 8,
             "new_entity_name": "packs"},
            "packs",
            pack_sequences(docs, "doc_id", "text",
                           capacity=512, n_shards=8),
        ),
    ]
    for config, out_name, expected in cases:
        engine.evaluate(entities, config=parse_step(config))
        got = {tuple(r) for r in entities[out_name].collect()}
        want = {tuple(r) for r in expected.collect()}
        assert got == want and len(got) > 0, config["operation"]


def test_url_functions(spark):
    from data_validation_engine_spark.functions.library import (
        register_all_functions,
    )

    register_all_functions(spark)
    row = spark.sql(
        """
        SELECT url_host('https://Blog.Example.COM/a/b?q=1') AS h,
               url_domain('https://blog.example.com/a') AS d,
               url_domain('http://localhost:8080/x') AS single,
               url_path('https://a.b.c/p/q.html?z=1') AS p,
               url_host('%%%not a url') AS bad
        """
    ).first()
    assert row["h"] == "blog.example.com"
    assert row["d"] == "example.com"
    assert row["single"] == "localhost"
    assert row["p"] == "/p/q.html"
    assert row["bad"] is None
