"""Round-11 new operators: minhash-index maintenance, fastText-style
classifier inference, and streaming-lifted windowed heavy hitters."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# --- minhash index maintenance -----------------------------------------


@pytest.fixture(scope="module")
def span_docs(spark):
    # 40 docs; every 8th is a near-duplicate (one char dropped) of the
    # previous doc so band collisions exist
    rows = []
    for i in range(40):
        base = (
            f"alpha bravo charlie delta echo foxtrot golf hotel "
            f"india juliett kilo lima mike november oscar {i % 5}"
        )
        if i % 8 == 7:
            base = base[:-1]
        rows.append((i, base))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_compact_prunes_dead_ids_and_reingest_dupes(spark, span_docs):
    from data_validation_engine_spark.llmops.dedup import (
        compact_minhash_index,
        minhash_index,
    )

    index = minhash_index(span_docs, "doc_id", "text")
    bands = index.select("band_idx").distinct().count()
    # simulate a backfill replay (every row appended twice) plus
    # deletions (every 5th doc no longer live)
    appended = index.unionByName(index)
    live = span_docs.where("doc_id % 5 != 0")
    compacted = compact_minhash_index(appended, live, "doc_id")
    assert compacted.count() == live.count() * bands
    assert (
        compacted.groupBy("doc_id", "band_idx").count().where("count > 1")
    ).count() == 0
    assert (
        compacted.where("doc_id % 5 = 0")
    ).count() == 0


@pytest.mark.slow
def test_compact_preserves_admission_decisions(spark, span_docs):
    """Compacted index == fresh index over the live corpus, for the
    decisions incremental_minhash_dedup makes about a new batch."""
    from data_validation_engine_spark.llmops.dedup import (
        compact_minhash_index,
        incremental_minhash_dedup,
        minhash_index,
    )

    corpus = span_docs.where("doc_id < 30")
    live = corpus.where("doc_id % 3 != 0")
    stale_index = minhash_index(corpus, "doc_id", "text").unionByName(
        minhash_index(corpus.where("doc_id % 2 = 0"), "doc_id", "text")
    )
    compacted = compact_minhash_index(stale_index, live, "doc_id")
    fresh = minhash_index(live, "doc_id", "text")
    # the index frames themselves agree row-for-row (set compare —
    # exceptAll trips an attribute-rebinding bug over the unioned
    # posexplode branches in Spark 4.1)
    as_set = lambda df: {  # noqa: E731
        (r["doc_id"], r["band_idx"], r["band_key"]) for r in df.collect()
    }
    assert as_set(compacted) == as_set(fresh)
    new = span_docs.where("doc_id >= 30").select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    got_a = sorted(
        r["doc_id"]
        for r in incremental_minhash_dedup(
            new, live, "doc_id", "text", corpus_index=compacted
        ).collect()
    )
    got_b = sorted(
        r["doc_id"]
        for r in incremental_minhash_dedup(
            new, live, "doc_id", "text", corpus_index=fresh
        ).collect()
    )
    assert got_a == got_b


def test_index_stats_reports_skew(spark):
    from data_validation_engine_spark.llmops.dedup import (
        minhash_index_stats,
    )

    rows = [(i, 0, "hot") for i in range(12)] + [
        (100 + i, 0, f"cold{i}") for i in range(3)
    ] + [(200 + i, 1, f"b1-{i % 2}") for i in range(4)]
    index = spark.createDataFrame(
        rows, "doc_id long, band_idx int, band_key string"
    )
    got = {
        r["band_idx"]: r
        for r in minhash_index_stats(index, hot_threshold=10).collect()
    }
    assert got[0]["n_rows"] == 15
    assert got[0]["n_keys"] == 4
    assert got[0]["max_key_rows"] == 12
    assert got[0]["n_hot_keys"] == 1
    assert got[0]["n_hot_rows"] == 12
    assert got[1]["n_hot_keys"] == 0
    assert got[1]["max_key_rows"] == 2


# --- classifier inference ----------------------------------------------


def _weights(n: int) -> list[float]:
    return [float(((b * 7 + 3) % 21) - 10) for b in range(n)]


def test_classifier_score_matches_python(spark):
    from data_validation_engine_spark.llmops.classifier import (
        classifier_score,
    )
    from data_validation_engine_spark.llmops.dsir import ngram_buckets

    w = _weights(64)
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "lazy dog"), (3, None), (4, "  ")],
        "id long, text string",
    )
    feats = {
        r["id"]: list(r["f"])
        for r in df.select(
            "id", ngram_buckets(F.col("text"), buckets=64).alias("f")
        ).collect()
    }
    got = {
        r["id"]: (r["clf_logit"], r["nf"])
        for r in classifier_score(
            df, "text", w, bias=0.5, n_feats_col="nf"
        ).collect()
    }
    for i in (1, 2, 3, 4):
        fs = feats[i]
        want = 0.5 + (sum(w[b] for b in fs) / len(fs) if fs else 0.0)
        assert got[i][1] == len(fs)
        assert got[i][0] == pytest.approx(want, abs=1e-12), i


def test_classifier_sum_mode_and_prob(spark):
    from data_validation_engine_spark.llmops.classifier import (
        classifier_score,
    )

    w = _weights(64)
    df = spark.createDataFrame([(1, "alpha beta")], "id long, text string")
    [r] = classifier_score(
        df, "text", w, average=False, prob_col="p"
    ).collect()
    assert r["p"] == pytest.approx(
        1.0 / (1.0 + math.exp(-r["clf_logit"])), abs=1e-12
    )


def test_classifier_filter_threshold_in_logit_space(spark):
    from data_validation_engine_spark.llmops.classifier import (
        classifier_filter,
        classifier_score,
    )

    w = _weights(128)
    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i + 1} tok{i * 3} common words") for i in range(60)],
        "id long, text string",
    )
    scored = classifier_score(docs, "text", w)
    cut = math.log(0.7 / 0.3)
    want = sorted(
        r["id"] for r in scored.where(F.col("clf_logit") >= cut).collect()
    )
    flagged = classifier_filter(
        docs, "text", w, threshold_prob=0.7, keep_col="keep"
    )
    got = sorted(r["id"] for r in flagged.where("keep").collect())
    assert got == want
    assert flagged.count() == 60  # audit mode keeps every row
    kept = classifier_filter(docs, "text", w, threshold_prob=0.7)
    assert sorted(r["id"] for r in kept.collect()) == want
    # the filter plan never evaluates a sigmoid/exp
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "EXP(" not in plan.upper().replace("EXPLODE", "")


def test_classifier_validates_inputs(spark):
    from data_validation_engine_spark.llmops.classifier import (
        classifier_filter,
        classifier_score,
    )

    df = spark.createDataFrame([(1, "x")], "id long, text string")
    with pytest.raises(ValueError, match="weights"):
        classifier_score(df, "text", [1.0])
    with pytest.raises(ValueError, match="threshold_prob"):
        classifier_filter(df, "text", _weights(8), threshold_prob=1.0)


def test_classifier_plan_is_narrow(spark):
    from data_validation_engine_spark.llmops.classifier import (
        classifier_score,
    )

    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(10)], "id long, text string"
    )
    plan = (
        classifier_score(df, "text", _weights(512))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the weight vector is a 1-row broadcast; no shuffle of data rows
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan


# --- windowed heavy hitters --------------------------------------------


def test_windowed_heavy_hitters_equals_naive(spark, sf_dir):
    from data_validation_engine_spark.llmops.sketch import (
        windowed_heavy_hitters,
    )
    from data_validation_engine_spark.streaming.cardinality import (
        streaming_cms_cells,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts", "event_type"
    )
    # batch twin of the streamed cells (stream/batch parity of
    # streaming_cms_cells is already pinned on the cms_sketch row) —
    # build the cells the same way the drain would persist them
    from data_validation_engine_spark.llmops.sketch import _cms_col

    win = (
        F.floor(F.unix_timestamp("ts") / F.lit(86400)).cast("long") * 86400
    ).alias("window_start")
    cells = (
        events.select(
            win,
            F.explode(_cms_col(F.col("event_type"), 3, 64, "")).alias(
                "__c"
            ),
        )
        .groupBy(
            "window_start",
            F.col("__c")["row"].alias("row"),
            F.col("__c")["col"].alias("col"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = windowed_heavy_hitters(
        cells, events, "ts", "event_type", 5,
        window_seconds=86400, depth=3, width=64,
    )
    naive = (
        events.select(win, "event_type")
        .groupBy("window_start", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .where("n >= 5")
    )
    assert got.exceptAll(naive).count() == 0
    assert naive.exceptAll(got).count() == 0
    assert got.count() > 0


def test_windowed_heavy_hitters_validates(spark):
    from data_validation_engine_spark.llmops.sketch import (
        windowed_heavy_hitters,
    )

    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError, match="min_count"):
        windowed_heavy_hitters(df, df, "ts", "v", 0, window_seconds=60)
    with pytest.raises(ValueError, match="window_seconds"):
        windowed_heavy_hitters(df, df, "ts", "v", 1, window_seconds=0)


# --- declared steps -----------------------------------------------------


def test_declared_classifier_and_maintenance_steps(spark):
    from data_validation_engine_spark.steps import StepEngine, parse_step

    eng = StepEngine(spark)
    docs = spark.createDataFrame(
        [(i, f"alpha beta tok{i} gamma") for i in range(20)],
        "doc_id long, text string",
    )
    ents = {"docs": docs}
    w = _weights(64)
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "classifier_score",
                "entity_name": "docs",
                "text_column": "text",
                "weights": w,
                "threshold_prob": 0.5,
                "keep_column": "keep",
                "new_entity_name": "scored",
            }
        ),
    )
    assert ents["scored"].count() == 20
    assert {"keep", "clf_logit"} <= set(ents["scored"].columns)

    from data_validation_engine_spark.llmops.dedup import minhash_index

    ents["index"] = minhash_index(docs, "doc_id", "text").unionByName(
        minhash_index(docs, "doc_id", "text")
    )
    ents["live"] = docs.where("doc_id % 2 = 0")
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "compact_minhash_index",
                "entity_name": "index",
                "live_entity": "live",
                "id_column": "doc_id",
                "new_entity_name": "compacted",
            }
        ),
    )
    n_bands = ents["index"].select("band_idx").distinct().count()
    assert ents["compacted"].count() == 10 * n_bands


def test_declared_windowed_heavy_hitters_step(spark, sf_dir):
    from data_validation_engine_spark.llmops.sketch import _cms_col
    from data_validation_engine_spark.steps import StepEngine, parse_step

    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts", "event_type"
    )
    win = (
        F.floor(F.unix_timestamp("ts") / F.lit(86400)).cast("long") * 86400
    ).alias("window_start")
    cells = (
        events.select(
            win,
            F.explode(_cms_col(F.col("event_type"), 3, 64, "")).alias("__c"),
        )
        .groupBy(
            "window_start",
            F.col("__c")["row"].alias("row"),
            F.col("__c")["col"].alias("col"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    eng = StepEngine(spark)
    ents = {"events": events, "cells": cells}
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "windowed_heavy_hitters",
                "entity_name": "events",
                "cells_entity": "cells",
                "ts_column": "ts",
                "value_column": "event_type",
                "min_count": 5,
                "window_seconds": 86400,
                "depth": 3,
                "width": 64,
                "new_entity_name": "hh",
            }
        ),
    )
    naive = (
        events.select(win, "event_type")
        .groupBy("window_start", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .where("n >= 5")
    )
    assert ents["hh"].exceptAll(naive).count() == 0
    assert naive.exceptAll(ents["hh"]).count() == 0


# --- classifier training -----------------------------------------------


def _numpy_fit(feats, ys, n_buckets, *, average, epochs, lr, l2):
    import numpy as np

    w = np.zeros(n_buckets)
    b = 0.0
    n = len(ys)
    for _ in range(epochs):
        grad = np.zeros(n_buckets)
        bias_grad = 0.0
        for fs, y in zip(feats, ys):
            scale = (1.0 / len(fs)) if (average and fs) else 1.0
            z = b + (sum(w[f] for f in fs) * scale if fs else 0.0)
            r = 1.0 / (1.0 + math.exp(-z)) - y
            bias_grad += r
            for f in fs:
                grad[f] += r * scale
        w = w - lr * (grad / n + l2 * w)
        b -= lr * bias_grad / n
    return w, b


def test_classifier_fit_matches_numpy_reference(spark):
    from data_validation_engine_spark.llmops.classifier import (
        classifier_fit,
    )
    from data_validation_engine_spark.llmops.dsir import ngram_buckets

    rows = [
        (i, f"good text {i % 3} quality prose", 1) for i in range(20)
    ] + [(100 + i, f"spam spam buy{i % 4} now click", 0) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, text string, y int")
    feats = [
        list(r["f"])
        for r in df.orderBy("id")
        .select("id", ngram_buckets(F.col("text"), buckets=128).alias("f"))
        .collect()
    ]
    ys = [r["y"] for r in df.orderBy("id").collect()]
    w, b = classifier_fit(
        df, "text", "y", n_buckets=128, epochs=5, lr=0.5
    )
    import numpy as np

    w_ref, b_ref = _numpy_fit(
        feats, ys, 128, average=True, epochs=5, lr=0.5, l2=0.0
    )
    np.testing.assert_allclose(np.array(w), w_ref, atol=1e-9)
    assert b == pytest.approx(b_ref, abs=1e-9)


@pytest.mark.slow
def test_classifier_fit_learns_separable_data(spark):
    from data_validation_engine_spark.llmops.classifier import (
        classifier_fit,
        classifier_score,
    )

    rows = [
        (i, f"excellent article depth research {i % 5}", 1)
        for i in range(40)
    ] + [
        (100 + i, f"lottery winner pills casino {i % 5}", 0)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, text string, y int")
    w, b = classifier_fit(
        df, "text", "y", n_buckets=256, epochs=30, lr=2.0
    )
    scored = classifier_score(df, "text", w, bias=b)
    acc = (
        scored.where(
            ((F.col("clf_logit") >= 0) & (F.col("y") == 1))
            | ((F.col("clf_logit") < 0) & (F.col("y") == 0))
        ).count()
        / 80
    )
    assert acc == 1.0  # linearly separable vocabularies


def test_classifier_fit_l2_and_sum_mode(spark):
    from data_validation_engine_spark.llmops.classifier import (
        classifier_fit,
    )
    from data_validation_engine_spark.llmops.dsir import ngram_buckets
    import numpy as np

    rows = [(1, "a b", 1), (2, "c d", 0), (3, None, 1), (4, "a c", 0)]
    df = spark.createDataFrame(rows, "id long, text string, y int")
    feats = [
        list(r["f"])
        for r in df.orderBy("id")
        .select("id", ngram_buckets(F.col("text"), buckets=32).alias("f"))
        .collect()
    ]
    ys = [r["y"] for r in df.orderBy("id").collect()]
    w, b = classifier_fit(
        df, "text", "y", n_buckets=32, epochs=4, lr=0.3,
        l2=0.01, average=False,
    )
    w_ref, b_ref = _numpy_fit(
        feats, ys, 32, average=False, epochs=4, lr=0.3, l2=0.01
    )
    np.testing.assert_allclose(np.array(w), w_ref, atol=1e-9)
    assert b == pytest.approx(b_ref, abs=1e-9)


def test_classifier_fit_validates(spark):
    from data_validation_engine_spark.llmops.classifier import (
        classifier_fit,
    )
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = spark.createDataFrame([(1, "x", 1)], "id long, text string, y int")
    with pytest.raises(ValueError, match="epochs"):
        classifier_fit(df, "text", "y", epochs=0)
    with pytest.raises(ValueError, match="empty"):
        classifier_fit(df.where("id < 0"), "text", "y", epochs=1)
    bad = spark.createDataFrame(
        [(1, "x", 1), (2, "y", None)], "id long, text string, y int"
    )
    with pytest.raises(SparkRuntimeException, match="0/1"):
        classifier_fit(bad, "text", "y", epochs=1, n_buckets=16)


@pytest.mark.slow
def test_declared_classifier_fit_then_score(spark):
    """Train → score entirely in the declared vocabulary: the weights
    travel as an entity (bucket, weight; bias at bucket = -1)."""
    from data_validation_engine_spark.errors import ConfigurationError
    from data_validation_engine_spark.steps import StepEngine, parse_step

    rows = [
        (i, f"excellent article depth research {i % 5}", 1)
        for i in range(30)
    ] + [
        (100 + i, f"lottery winner pills casino {i % 5}", 0)
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "id long, text string, y int")
    eng = StepEngine(spark)
    ents = {"labelled": df, "corpus": df.select("id", "text")}
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "classifier_fit",
                "entity_name": "labelled",
                "text_column": "text",
                "label_column": "y",
                "n_buckets": 256,
                "epochs": 25,
                "lr": 2.0,
                "new_entity_name": "model",
            }
        ),
    )
    # 256 buckets + bias row (-1) + n_buckets sentinel (-2, ADVICE r11)
    assert ents["model"].count() == 258
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "classifier_score",
                "entity_name": "corpus",
                "text_column": "text",
                "weights_entity": "model",
                "threshold_prob": 0.5,
                "keep_column": "keep",
                "new_entity_name": "scored",
            }
        ),
    )
    kept = ents["scored"].where("keep")
    assert kept.count() == 30
    assert kept.where("id >= 100").count() == 0
    # exactly one weight source must be given
    with pytest.raises(ConfigurationError, match="exactly one"):
        eng.evaluate(
            ents,
            config=parse_step(
                {
                    "operation": "classifier_score",
                    "entity_name": "corpus",
                    "text_column": "text",
                    "new_entity_name": "x",
                }
            ),
        )


def test_classifier_score_composes_with_streaming(spark, tmp_path):
    """The scorer is a stateless projection + stream-static broadcast
    join, so it lifts to Structured Streaming unchanged — continuous
    quality filtering of an ingest stream. Parity with batch pinned."""
    from data_validation_engine_spark.llmops.classifier import (
        classifier_score,
    )

    src = str(tmp_path / "src")
    docs = spark.createDataFrame(
        [
            (i, f"good text {i % 3}" if i % 2 else f"spam casino {i % 3}")
            for i in range(40)
        ],
        "id long, text string",
    )
    docs.write.mode("overwrite").parquet(src)
    w = _weights(64)
    sdf = spark.readStream.schema("id long, text string").parquet(src)
    out = str(tmp_path / "out")
    q = (
        classifier_score(sdf, "text", w, bias=1.0)
        .writeStream.format("parquet")
        .option("path", f"{out}/d")
        .option("checkpointLocation", f"{out}/c")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["id"]: r["clf_logit"]
        for r in spark.read.parquet(f"{out}/d").collect()
    }
    want = {
        r["id"]: r["clf_logit"]
        for r in classifier_score(docs, "text", w, bias=1.0).collect()
    }
    assert got == want


# --- repeated-substring removal ----------------------------------------


BOILER = "SUBSCRIBE TO OUR NEWSLETTER FOR MORE GREAT CONTENT TODAY"


@pytest.fixture(scope="module")
def boiler_docs(spark):
    import random

    rng = random.Random(7)
    words = [f"w{rng.randrange(10 ** 9)}" for _ in range(800)]
    rows = []
    for i in range(16):
        body = " ".join(words[i * 50:(i + 1) * 50])
        if i % 4 == 0:
            body = body[:30] + BOILER + body[30:]
        rows.append((i, body))
    rows += [(100, None), (101, "short")]
    return spark.createDataFrame(rows, "doc_id long, text string"), dict(
        rows
    )


def test_remove_repeated_substrings_surgical(spark, boiler_docs):
    from data_validation_engine_spark.llmops.substrings import (
        remove_repeated_substrings,
    )

    df, orig = boiler_docs
    out = remove_repeated_substrings(
        df, "doc_id", "text", min_len=20, min_docs=3
    )
    res = {r["doc_id"]: r for r in out.collect()}
    for i in range(16):
        r = res[i]
        if i % 4 == 0:
            # the full planted span is gone (gram-cover guarantee) and
            # nothing else was touched
            assert BOILER not in r["text"]
            assert r["n_spans"] == 1
            assert r["n_removed_chars"] == len(BOILER)
            assert r["text"] == orig[i].replace(BOILER, "")
        else:
            assert r["text"] == orig[i] and r["n_spans"] == 0, i
    assert res[100]["text"] is None and res[100]["n_spans"] == 0
    assert res[101]["text"] == "short"


def test_remove_repeated_substrings_within_doc_repeats_kept(spark):
    """Within-document repetition alone never triggers — min_docs
    counts DISTINCT documents."""
    from data_validation_engine_spark.llmops.substrings import (
        remove_repeated_substrings,
    )

    phrase = "THE SAME PHRASE REPEATED INSIDE ONE DOCUMENT ONLY"
    df = spark.createDataFrame(
        [
            (1, f"a1 b1 {phrase} c1 d1 {phrase} e1"),
            (2, "completely different prose xyzzy plugh quux"),
            (3, "another unrelated body of words entirely here"),
        ],
        "doc_id long, text string",
    )
    out = remove_repeated_substrings(
        df, "doc_id", "text", min_len=20, min_docs=2
    )
    [r] = out.where("doc_id = 1").collect()
    assert r["n_spans"] == 0 and phrase in r["text"]


def test_remove_repeated_substrings_out_col_and_merge(spark):
    """Overlapping hot grams merge into one span; out_col keeps the
    original text column."""
    from data_validation_engine_spark.llmops.substrings import (
        remove_repeated_substrings,
        repeated_substring_spans,
    )

    shared = "abcdefghij" * 6  # one 60-char shared run
    df = spark.createDataFrame(
        [
            (1, f"XXXX{shared}YYYY"),
            (2, f"PPPP{shared}QQQQ"),
            (3, "totally unrelated text body here"),
        ],
        "doc_id long, text string",
    )
    spans = repeated_substring_spans(
        df, "doc_id", "text", min_len=20, min_docs=2
    ).collect()
    per_doc = {}
    for r in spans:
        per_doc.setdefault(r["doc_id"], []).append(
            (r["start"], r["end"])
        )
    # hot grams also cover the periodic self-overlaps; the union is
    # ONE span covering the whole shared run in each doc
    assert len(per_doc[1]) == 1 and len(per_doc[2]) == 1
    s, e = per_doc[1][0]
    assert s == 5 and e == 5 + len(shared)
    out = remove_repeated_substrings(
        df, "doc_id", "text", min_len=20, min_docs=2, out_col="clean"
    )
    [r] = out.where("doc_id = 1").collect()
    assert r["text"].startswith("XXXX" + shared[:5])  # original kept
    assert r["clean"] == "XXXXYYYY"


def test_remove_repeated_substrings_validates(spark):
    from data_validation_engine_spark.llmops.substrings import (
        repeated_substring_spans,
    )

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="min_len"):
        repeated_substring_spans(df, "doc_id", "text", min_len=1)
    with pytest.raises(ValueError, match="min_docs"):
        repeated_substring_spans(df, "doc_id", "text", min_docs=1)


def test_declared_remove_repeated_substrings(spark, boiler_docs):
    from data_validation_engine_spark.steps import StepEngine, parse_step

    df, _ = boiler_docs
    eng = StepEngine(spark)
    ents = {"docs": df.where("text IS NOT NULL")}
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "remove_repeated_substrings",
                "entity_name": "docs",
                "id_column": "doc_id",
                "min_len": 20,
                "min_docs": 3,
                "new_entity_name": "scrubbed",
            }
        ),
    )
    assert (
        ents["scrubbed"].where(F.col("text").contains(BOILER)).count() == 0
    )
    assert ents["scrubbed"].count() == ents["docs"].count()


def test_compact_maintains_every_admission_side_table(spark, sf_dir):
    """The maintenance pass is schema-agnostic: the embedding-bucket
    ANN index and the winnowed-fingerprint span index compact with the
    same call as the minhash index."""
    from data_validation_engine_spark.llmops.dedup import (
        compact_minhash_index,
    )
    from data_validation_engine_spark.llmops.similarity import (
        embedding_bucket_index,
    )
    from data_validation_engine_spark.llmops.spans import (
        winnowed_fingerprints,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(60)
    eix = embedding_bucket_index(emb)
    live = emb.where("vec_id % 2 = 0")
    got = compact_minhash_index(eix.unionByName(eix), live, "vec_id")
    want = embedding_bucket_index(live)
    as_set = lambda df, cols: {  # noqa: E731
        tuple(r[c] for c in cols) for r in df.collect()
    }
    cols = ["vec_id", "table_idx", "bucket"]
    assert as_set(got, cols) == as_set(want, cols)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    fix = winnowed_fingerprints(docs, "doc_id", "text")
    livedocs = docs.where("doc_id % 3 != 0")
    got2 = compact_minhash_index(
        fix.unionByName(fix), livedocs, "doc_id"
    )
    want2 = winnowed_fingerprints(livedocs, "doc_id", "text")
    c2 = ["doc_id", "h"]
    assert as_set(got2, c2) == as_set(want2, c2)


def test_training_shards_json_format(spark, sf_dir, tmp_path):
    """JSON-lines shard export: same shard assignment, in-shard order,
    and manifest as parquet; reproducible across partitionings."""
    import glob

    from data_validation_engine_spark.scale import write_training_shards

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    m1 = write_training_shards(
        df, str(tmp_path / "j1"), "doc_id", n_shards=4, format="json"
    ).collect()
    m2 = write_training_shards(
        df.repartition(7), str(tmp_path / "j2"), "doc_id",
        n_shards=4, format="json",
    ).collect()
    assert [tuple(r) for r in m1] == [tuple(r) for r in m2]
    mp = write_training_shards(
        df, str(tmp_path / "p"), "doc_id", n_shards=4
    ).collect()
    key = lambda r: (r["shard"], r["n_rows"], r["checksum"])  # noqa: E731
    assert [key(r) for r in m1] == [key(r) for r in mp]
    assert len(glob.glob(str(tmp_path / "j1" / "shard=*" / "*.json"))) == 4
    with pytest.raises(ValueError, match="format"):
        write_training_shards(
            df, str(tmp_path / "x"), "doc_id", n_shards=2, format="orc"
        )


@pytest.mark.slow
def test_char_ngram_features_end_to_end(spark):
    """Char-gram mode: features survive formatting changes (whitespace
    collapse), work on short texts, and train/score consistently."""
    from data_validation_engine_spark.llmops.classifier import (
        char_ngram_buckets,
        classifier_fit,
        classifier_score,
    )

    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "ab"), (4, None)],
        "id long, text string",
    )
    got = {
        r["id"]: list(r["f"])
        for r in df.select(
            "id",
            char_ngram_buckets(F.col("text"), n=3, buckets=64).alias("f"),
        ).collect()
    }
    assert got[1] == got[2]  # case + whitespace-run invariant
    assert len(got[3]) == 1  # short text -> one whole-text gram
    assert got[4] == []
    # separable by characters even with ONE-word texts (word bigrams
    # would see nothing to pair)
    rows = [(i, f"goodword{i % 3}", 1) for i in range(30)] + [
        (100 + i, f"spamword{i % 3}", 0) for i in range(30)
    ]
    train = spark.createDataFrame(rows, "id long, text string, y int")
    w, b = classifier_fit(
        train, "text", "y", n_buckets=256, char_n=3, epochs=30, lr=2.0
    )
    scored = classifier_score(train, "text", w, bias=b, char_n=3)
    acc = (
        scored.where(
            ((F.col("clf_logit") >= 0) & (F.col("y") == 1))
            | ((F.col("clf_logit") < 0) & (F.col("y") == 0))
        ).count()
        / 60
    )
    assert acc == 1.0
    with pytest.raises(ValueError, match="n must be"):
        df.select(char_ngram_buckets(F.col("text"), n=1))


def test_robots_filtering_composes_with_streaming(spark, tmp_path):
    """robots_allowed is a stream-static equi-join + per-row regex, so
    continuous crawl-compliance filtering works on an ingest stream;
    parity with batch pinned."""
    from data_validation_engine_spark.llmops.robots import (
        parse_robots,
        robots_allowed,
    )

    robots = spark.createDataFrame(
        [("site.ex", "User-agent: *\nDisallow: /private/")],
        "host string, body string",
    )
    rules = parse_robots(robots, "host", "body")
    src = str(tmp_path / "urls")
    urls = spark.createDataFrame(
        [
            (i, f"http://site.ex/{'private' if i % 3 == 0 else 'pub'}/p{i}")
            for i in range(30)
        ],
        "id long, url string",
    )
    urls.write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema("id long, url string").parquet(src)
    out = str(tmp_path / "out")
    q = (
        robots_allowed(sdf, rules, "url", agent="trainbot")
        .writeStream.format("parquet")
        .option("path", f"{out}/d")
        .option("checkpointLocation", f"{out}/c")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["id"]: r["robots_allowed"]
        for r in spark.read.parquet(f"{out}/d").collect()
    }
    want = {
        r["id"]: r["robots_allowed"]
        for r in robots_allowed(urls, rules, "url", agent="trainbot").collect()
    }
    assert got == want
    assert sum(1 for v in got.values() if not v) == 10
