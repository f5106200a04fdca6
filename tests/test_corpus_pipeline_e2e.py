"""End-to-end training-corpus pipeline over the declared step
vocabulary: raw crawl (HTML + JSON sidecar) → text extraction →
normalization → quality scoring → exact dedup → leakage-safe split →
vocab/encode → pack materialization → deterministic shard export.

Every stage is a JSON-declarable step (or the documented export
function); the test proves the whole story COMPOSES — row counts and
tokens are conserved through each stage, duplicates actually collapse,
splits are disjoint, the export manifest reproduces bit-for-bit."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from data_validation_engine_spark.steps import StepEngine, parse_step


def _steps(eng, ents, configs):
    for c in configs:
        eng.evaluate(ents, config=parse_step(c))


@pytest.mark.slow
def test_declared_corpus_pipeline(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # synthesize a crawl: real text wrapped in markup, a JSON sidecar,
    # and a planted duplicate slice (shifted ids) the dedup must collapse
    crawl = docs.selectExpr(
        "doc_id",
        "concat('<html><body><script>x=1</script><p>', text,"
        " '</p></body></html>') AS html",
        "concat('{\"lang\": \"', lang, '\"}') AS meta",
    )
    crawl = crawl.unionByName(
        crawl.where("doc_id % 7 = 0").selectExpr(
            "doc_id + 1000000 AS doc_id", "html", "meta"
        )
    )
    n_raw = crawl.count()
    n_planted = crawl.where("doc_id >= 1000000").count()

    eng = StepEngine(spark)
    ents = {"crawl": crawl}
    _steps(
        eng,
        ents,
        [
            {
                "operation": "extract_html_text",
                "entity_name": "crawl",
                "html_column": "html",
                "new_entity_name": "texts",
            },
            {
                "operation": "normalize_text",
                "entity_name": "texts",
                "text_column": "text",
                "collapse_whitespace": True,
                "new_entity_name": "clean",
            },
            {
                "operation": "parse_json",
                "entity_name": "clean",
                "json_column": "meta",
                "json_schema": "lang STRING",
                "new_entity_name": "typed",
            },
            {
                "operation": "compression_ratio",
                "entity_name": "typed",
                "new_entity_name": "scored",
            },
            # quality gate: drop rows that failed sidecar parsing or
            # compress suspiciously well (pure boilerplate)
            {
                "operation": "filter_without_notifying",
                "entity_name": "scored",
                "expression": (
                    "is_valid AND coalesce(compression_ratio, 0) > 0.05"
                    " AND length(text) > 0"
                ),
                "new_entity_name": "quality",
            },
            {
                "operation": "dedup_exact",
                "entity_name": "quality",
                "key_columns": ["text"],
                "order_column": "doc_id",
                "new_entity_name": "unique_docs",
            },
            {
                "operation": "hash_split",
                "entity_name": "unique_docs",
                "key_column": "doc_id",
                "splits": {"train": 0.9, "val": 0.1},
                "new_entity_name": "splits",
            },
        ],
    )
    quality = ents["quality"]
    unique_docs = ents["unique_docs"]
    assert quality.count() == n_raw  # synthetic crawl is all parseable
    # every planted duplicate collapsed onto its min-id original
    assert unique_docs.count() == n_raw - n_planted
    assert unique_docs.where("doc_id >= 1000000").count() == 0
    dup_counts = unique_docs.where("doc_id % 7 = 0 AND doc_id < 1000000")
    assert dup_counts.agg(F.min("n_copies")).first()[0] == 2

    splits = ents["splits"]
    counts = {
        r["split"]: r["n"]
        for r in splits.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts) == {"train", "val"}
    assert counts["train"] + counts["val"] == unique_docs.count()

    # tokenizer prep + pack materialization on the train split
    _steps(
        eng,
        ents,
        [
            {
                "operation": "filter_without_notifying",
                "entity_name": "splits",
                "expression": "split = 'train'",
                "new_entity_name": "train",
            },
            {
                "operation": "build_vocab",
                "entity_name": "train",
                "id_column": "doc_id",
                "text_column": "text",
                "min_count": 2,
                "new_entity_name": "vocab",
            },
            {
                "operation": "encode_tokens",
                "entity_name": "train",
                "vocab_entity": "vocab",
                "id_column": "doc_id",
                "text_column": "text",
                "new_entity_name": "encoded",
            },
            {
                "operation": "materialize_packs",
                "entity_name": "encoded",
                "key_column": "doc_id",
                "ids_column": "ids_csv",
                "capacity": 256,
                "n_shards": 4,
                "pad_token_id": 0,
                "new_entity_name": "packs",
            },
        ],
    )
    encoded, packs = ents["encoded"], ents["packs"]
    tok_in = encoded.agg(F.sum("n_tokens")).first()[0]
    tok_out = packs.agg(F.sum("n_tokens")).first()[0]
    assert tok_in == tok_out  # packing conserves every token
    assert packs.where("size(input_ids) <> 256").count() == 0  # padded

    # deterministic shard export with a reproducible manifest
    from data_validation_engine_spark.scale import write_training_shards

    m1 = write_training_shards(
        ents["train"], str(tmp_path / "exp1"), "doc_id", n_shards=4
    ).collect()
    m2 = write_training_shards(
        ents["train"].repartition(5),
        str(tmp_path / "exp2"),
        "doc_id",
        n_shards=4,
    ).collect()
    assert [tuple(r) for r in m1] == [tuple(r) for r in m2]
    assert sum(r["n_rows"] for r in m1) == counts["train"]


@pytest.mark.slow
def test_declared_round11_curation_pipeline(spark, sf_dir):
    """The round-11 curation story composes: classifier quality filter
    (logit-space threshold) → LSH index admission of a new batch
    against a compacted side-table → token-budget curation per lang →
    stride-scheduled interleave. Each stage is a declared step; the
    test pins conservation and ordering invariants across the chain."""
    from data_validation_engine_spark.llmops.dedup import (
        minhash_index,
        tokens_col,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars", "text"
    )
    corpus = docs.where("doc_id % 4 != 0")
    batch = docs.where("doc_id % 4 = 0").unionByName(
        # planted near-verbatim re-crawls of corpus docs: the admission
        # pass must drop them
        corpus.where("doc_id % 8 == 1").selectExpr(
            "doc_id + 1000000 AS doc_id", "lang", "n_chars", "text"
        )
    )
    n_planted = batch.where("doc_id >= 1000000").count()
    assert n_planted > 0

    eng = StepEngine(spark)
    w = [float(((b * 7 + 3) % 21) - 10) for b in range(256)]
    ents = {
        "batch": batch,
        "corpus": corpus,
        # a stale index: built over the corpus plus rows for docs that
        # were since dropped (simulated by indexing everything)
        "stale_index": minhash_index(docs, "doc_id", "text"),
    }
    _steps(
        eng,
        ents,
        [
            {
                "operation": "compact_minhash_index",
                "entity_name": "stale_index",
                "live_entity": "corpus",
                "id_column": "doc_id",
                "new_entity_name": "index",
            },
            {
                "operation": "classifier_score",
                "entity_name": "batch",
                "text_column": "text",
                "weights": w,
                "average": True,
                "threshold_prob": 0.5,
                "keep_column": "keep",
                "new_entity_name": "scored",
            },
            {
                "operation": "filter_without_notifying",
                "entity_name": "scored",
                "expression": "keep",
                "new_entity_name": "passed",
            },
            {
                "operation": "dedup_incremental",
                "entity_name": "passed",
                "target_name": "corpus",
                "method": "minhash",
                "index_entity": "index",
                "id_column": "doc_id",
                "text_column": "text",
                "threshold": 0.9,
                "new_entity_name": "admitted",
            },
        ],
    )
    # the compacted index only holds live corpus ids
    assert ents["index"].join(
        corpus.select("doc_id"), "doc_id", "left_anti"
    ).count() == 0
    # every planted re-crawl that passed the quality gate was dropped
    # by the admission pass; genuinely-new passing docs were admitted
    passed, admitted = ents["passed"], ents["admitted"]
    assert admitted.where("doc_id >= 1000000").count() == 0
    assert (
        admitted.count()
        == passed.where("doc_id < 1000000").count()
    )

    ents["admitted_tok"] = ents["admitted"].withColumn(
        "n_tokens", F.size(tokens_col(F.col("text")))
    )
    _steps(
        eng,
        ents,
        [
            {
                "operation": "select_token_budget",
                "entity_name": "admitted_tok",
                "score_column": "n_chars",
                "token_column": "n_tokens",
                "group_by": ["lang"],
                "budget_tokens": 1500,
                "tiebreak_column": "doc_id",
                "new_entity_name": "curated",
            },
            {
                "operation": "interleave_sources",
                "entity_name": "curated",
                "source_column": "lang",
                "weights": {
                    "en": 2.0, "de": 1.0, "fr": 1.0, "es": 1.0,
                    "zh": 1.0,
                },
                "key_column": "doc_id",
                "new_entity_name": "ordered",
            },
        ],
    )
    curated, ordered = ents["curated"], ents["ordered"]
    # per-lang budgets: overshoot by at most the crossing doc
    per_lang = (
        curated.groupBy("lang")
        .agg(F.sum("n_tokens").alias("t"), F.max("n_tokens").alias("mx"))
        .collect()
    )
    for r in per_lang:
        assert r["t"] < 1500 + r["mx"], r
    assert ordered.count() == curated.count()
    # stride scheduling: en appears ~2x as often in any decent prefix
    head = (
        ordered.orderBy("interleave_order", "lang", "doc_id")
        .limit(24)
        .groupBy("lang")
        .count()
        .collect()
    )
    by_lang = {r["lang"]: r["count"] for r in head}
    assert by_lang.get("en", 0) >= max(
        v for k, v in by_lang.items() if k != "en"
    )


@pytest.mark.slow
def test_warc_to_corpus_compliance_pipeline(spark, sf_dir, tmp_path):
    """The round-13 ingestion story end to end: a WARC crawl archive →
    read_warc → HTML text extraction → URL canonicalization → domain
    blocklist → Gopher + C4 quality gates → exact dedup — the web
    chain as declared steps over a real (synthesized) archive."""
    import gzip

    from data_validation_engine_spark.sources.warc import read_warc

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where("doc_id < 60")
        .collect()
    )

    def record(uri: str, html: bytes) -> bytes:
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
        head = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            + f"WARC-Target-URI: {uri}\r\n".encode()
            + f"Content-Length: {len(http)}\r\n".encode()
        )
        return head + b"\r\n" + http + b"\r\n\r\n"

    parts = []
    for r in docs:
        host = f"{'blocked' if r['doc_id'] % 5 == 0 else 'ok'}.site{r['doc_id'] % 3}.example"
        body = (
            f"<html><body><p>{r['text'] or ''} with the final word.</p>"
            "</body></html>"
        ).encode()
        parts.append(record(f"https://{host}/d/{r['doc_id']}?utm_source=x", body))
    (tmp_path / "crawl.warc.gz").write_bytes(
        b"".join(gzip.compress(p) for p in parts)
    )

    from data_validation_engine_spark.llmops.web import (
        canonicalize_url,
        extract_html_text,
    )

    raw = read_warc(spark, str(tmp_path), glob="*.warc.gz")
    pages = extract_html_text(
        raw.selectExpr(
            "record_offset AS doc_id",
            "target_uri",
            "CAST(payload AS STRING) AS html",
        ),
        "html",
    ).withColumn("url", canonicalize_url(F.col("target_uri")))
    assert pages.count() == len(docs)

    eng = StepEngine(spark)
    ents = {
        "pages": pages,
        "blocked": spark.createDataFrame(
            [("blocked.site0.example",), ("blocked.site1.example",),
             ("blocked.site2.example",)],
            "host string",
        ),
        # the clean reference corpus the LM quality score trains on
        "ref": spark.read.parquet(f"{sf_dir}/documents.parquet").where(
            "doc_id >= 60"
        ).select("doc_id", "text"),
    }
    _steps(
        eng,
        ents,
        [
            {
                "operation": "url_blocklist",
                "entity_name": "pages",
                "target_name": "blocked",
            },
            {
                "operation": "filter",
                "entity_name": "pages",
                "expression": "NOT coalesce(url_blocked, true)",
            },
            {
                "operation": "gopher_quality_flags",
                "entity_name": "pages",
                "min_words": 10,
                "min_stop_words": 1,
            },
            {
                "operation": "c4_clean",
                "entity_name": "pages",
                "min_line_words": 3,
                "min_sentences": 1,
            },
            {
                "operation": "gopher_repetition_flags",
                "entity_name": "pages",
            },
            {
                "operation": "filter",
                "entity_name": "pages",
                "expression": "flag_word_count AND c4_keep AND rep_keep",
            },
            {
                "operation": "dedup_exact",
                "entity_name": "pages",
                "key_columns": ["c4_text"],
                "order_column": "doc_id",
            },
            # LM quality scoring against a clean reference corpus: the
            # trained counts export as an entity (train → persist →
            # score as JSON)
            {
                "operation": "word_lm",
                "entity_name": "pages",
                "new_entity_name": "scored",
                "key_column": "doc_id",
                "reference_name": "ref",
                "model_entity": "wlm",
                "min_count": 2,
            },
        ],
    )
    # cut the deep lineage once — every assertion below would
    # otherwise re-run the whole WARC→...→LM chain per action
    out = ents["scored"].localCheckpoint()
    n_blocked = len([r for r in docs if r["doc_id"] % 5 == 0])
    a = out.selectExpr(
        "count(*) AS n",
        "sum(CAST(url_blocked AS INT)) AS blocked",
        "sum(CAST(length(c4_text) > 0 AS INT)) AS with_text",
        "sum(CAST(NOT rep_keep AS INT)) AS rep_dropped",
        "sum(CAST(rep_dup_line_frac IS NULL AS INT)) AS rep_null",
        "sum(CAST(logprob_avg IS NULL AS INT)) AS lp_null",
        "sum(CAST(n_tokens != hits_0 + hits_1 + hits_2 + hits_3"
        " AS INT)) AS hist_bad",
    ).collect()[0]
    assert a["n"] > 0
    assert a["blocked"] == 0
    # every blocked-host page is gone, the rest survived the gates
    assert a["n"] <= len(docs) - n_blocked
    # the chain preserved usable text
    assert a["with_text"] == a["n"]
    # the repetition gate actually evaluated (synthetic pages are
    # non-repetitive prose - all survivors carry passing flags)
    assert a["rep_dropped"] == 0 and a["rep_null"] == 0
    # LM scores attached to every surviving page; histogram is exact
    assert a["lp_null"] == 0 and a["hist_bad"] == 0
    # the exported model entity is self-contained (sentinel + counts)
    assert ents["wlm"].where("ord = 0").count() == 1
