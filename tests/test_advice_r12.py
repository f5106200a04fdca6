"""Round-12 ADVICE fixes (ADVICE.md, r11 advisor): each item gets the
regression test that would have caught it.

1. robots_allowed(host_col=...) must lowercase the user-supplied host
   column (parse_robots lowercases rule hosts unconditionally — a
   mixed-case precomputed host silently never joined and came back
   allowed).
2. classifier_fit must accept BOOLEAN labels (cast-before-validate;
   boolean-vs-int isin under Spark 4 ANSI rules failed instead of
   giving the documented loud 0/1 error).
3. _resolve_classifier_weights must reject a sparse weights entity
   (trailing-bucket loss silently shrank the feature space and made
   every score wrong with no error) and a missing bias row.
4. repeated_substring_spans(exact_verify=True) must agree with the
   default path on collision-free corpora (the option closes the
   60-bit-hash collision window by re-grouping on gram TEXT).
5. windowed_heavy_hitters(check_totals=True) must raise loudly when
   the probed events are not exactly what the cells counted (the
   watermark-dropped-late-data hazard), and pass when they are.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_validation_engine_spark.llmops.classifier import classifier_fit
from data_validation_engine_spark.llmops.robots import (
    parse_robots,
    robots_allowed,
)
from data_validation_engine_spark.llmops.sketch import (
    windowed_heavy_hitters,
)
from data_validation_engine_spark.llmops.substrings import (
    repeated_substring_spans,
)


ROBOTS = "User-agent: *\nDisallow: /private/\n"


@pytest.mark.slow
def test_robots_host_col_is_case_folded(spark):
    rules = parse_robots(
        spark.createDataFrame(
            [("EXAMPLE.com", ROBOTS)], "host string, body string"
        ),
        "host",
        "body",
    )
    urls = spark.createDataFrame(
        [(1, "http://example.com/private/x", "Example.COM")],
        "doc_id long, url string, myhost string",
    )
    [r] = robots_allowed(
        urls, rules, "url", agent="bot", host_col="myhost"
    ).collect()
    assert r["robots_allowed"] is False  # pre-fix: True (never joined)


def test_classifier_fit_accepts_boolean_labels(spark):
    df = spark.createDataFrame(
        [("good text here", True), ("bad", False)] * 4,
        "text string, label boolean",
    )
    w, b = classifier_fit(
        df, "text", "label", n_buckets=16, epochs=1, lr=0.1
    )
    assert len(w) == 16  # no ANSI boolean-vs-int analysis error


def test_classifier_fit_still_loud_on_bad_labels(spark):
    df = spark.createDataFrame(
        [("x", 2.0), ("y", 0.0)], "text string, label double"
    )
    with pytest.raises(Exception, match="must be 0/1"):
        classifier_fit(
            df, "text", "label", n_buckets=16, epochs=1, lr=0.1
        )


def _score_step(spark, weight_rows):
    """Drive classifier_score through the step engine with a weights
    entity built from the given (bucket, weight) rows."""
    from data_validation_engine_spark.steps import parse_step
    from data_validation_engine_spark.steps.engine import StepEngine

    ents = {
        "docs": spark.createDataFrame(
            [(1, "hello world")], "doc_id long, text string"
        ),
        "model": spark.createDataFrame(
            weight_rows, "bucket int, weight double"
        ),
    }
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {
                "operation": "classifier_score",
                "entity_name": "docs",
                "text_column": "text",
                "weights_entity": "model",
                "new_entity_name": "scored",
            }
        ),
    )
    return ents["scored"]


def test_sparse_weights_entity_rejected(spark):
    from data_validation_engine_spark.errors import ConfigurationError

    dense = [(-1, 0.5)] + [(b, float(b)) for b in range(8)]
    _score_step(spark, dense).collect()  # pre-sentinel export: fine

    with pytest.raises(ConfigurationError, match="not a dense"):
        _score_step(spark, [(-1, 0.5), (0, 1.0), (7, 2.0)])

    with pytest.raises(ConfigurationError, match="bias row"):
        _score_step(spark, [(b, float(b)) for b in range(8)])

    # TRAILING loss (the exact ADVICE scenario): buckets 0..7 of a
    # declared 16 are dense by max()+1 — only the -2 sentinel written
    # by classifier_fit can catch it
    with pytest.raises(ConfigurationError, match="not a dense"):
        _score_step(
            spark,
            [(-2, 16.0), (-1, 0.5)] + [(b, float(b)) for b in range(8)],
        )


def test_exact_verify_agrees_on_collision_free_corpus(spark):
    boiler = "SHARED BOILERPLATE " * 3  # 57 chars > min_len
    docs = spark.createDataFrame(
        [(i, f"unique head {i} {boiler} unique tail {i}") for i in range(6)]
        + [(99, "no repeats in this one at all")],
        "doc_id long, text string",
    )
    kw = dict(min_len=20, min_docs=3, width=256)
    base = {
        (r["doc_id"], r["start"], r["end"])
        for r in repeated_substring_spans(docs, "doc_id", "text", **kw).collect()
    }
    verified = {
        (r["doc_id"], r["start"], r["end"])
        for r in repeated_substring_spans(
            docs, "doc_id", "text", exact_verify=True, **kw
        ).collect()
    }
    assert base == verified and len(base) == 6


def test_windowed_heavy_hitters_check_totals(spark):
    from data_validation_engine_spark.llmops.sketch import _cms_col

    events = spark.createDataFrame(
        [(i, "hot" if i % 2 == 0 else f"cold{i}") for i in range(20)],
        "sec long, v string",
    ).select(
        F.timestamp_seconds(F.col("sec")).alias("ts"), "v"
    )
    depth, width = 3, 64
    # cells built from the SAME events: totals consistent
    cells = (
        events.select(
            (F.floor(F.unix_timestamp("ts") / 100) * 100)
            .cast("long")
            .alias("window_start"),
            F.explode(_cms_col(F.col("v"), depth, width, "")).alias("c"),
        )
        .groupBy("window_start", F.col("c.row").alias("row"), F.col("c.col").alias("col"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = windowed_heavy_hitters(
        cells, events, "ts", "v", 5,
        window_seconds=100, depth=depth, width=width,
        check_totals=True,
    ).collect()
    assert {(r["window_start"], r["v"], r["n"]) for r in out} == {(0, "hot", 10)}

    # drop one event from the cells (a watermark-dropped late row):
    # the premise breaks and the gate must raise, naming the window
    cells_short = (
        events.where("sec != 0")
        .select(
            (F.floor(F.unix_timestamp("ts") / 100) * 100)
            .cast("long")
            .alias("window_start"),
            F.explode(_cms_col(F.col("v"), depth, width, "")).alias("c"),
        )
        .groupBy("window_start", F.col("c.row").alias("row"), F.col("c.col").alias("col"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    with pytest.raises(ValueError, match="do not cover"):
        windowed_heavy_hitters(
            cells_short, events, "ts", "v", 5,
            window_seconds=100, depth=depth, width=width,
            check_totals=True,
        )


def test_exact_verify_and_check_totals_declared_as_steps(spark):
    """The two r12 hardening options are JSON-declarable (step parity
    with the library kwargs)."""
    from data_validation_engine_spark.steps import parse_step
    from data_validation_engine_spark.steps.engine import StepEngine

    boiler = "SHARED BOILERPLATE " * 3
    ents = {
        "docs": spark.createDataFrame(
            [(i, f"head {i} {boiler} tail {i}") for i in range(5)],
            "doc_id long, text string",
        )
    }
    eng = StepEngine(spark)
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "remove_repeated_substrings",
                "entity_name": "docs",
                "id_column": "doc_id",
                "min_len": 20,
                "min_docs": 3,
                "width": 256,
                "exact_verify": True,
                "new_entity_name": "clean",
            }
        ),
    )
    assert ents["clean"].where("n_spans > 0").count() == 5

    cells = spark.createDataFrame(
        [], "window_start long, row int, col int, n long"
    )
    events = spark.createDataFrame(
        [(1, "a")], "sec long, v string"
    ).selectExpr("timestamp_seconds(sec) AS ts", "v")
    ents2 = {"events": events, "cells": cells}
    with pytest.raises(ValueError, match="do not cover"):
        StepEngine(spark).evaluate(
            ents2,
            config=parse_step(
                {
                    "operation": "windowed_heavy_hitters",
                    "entity_name": "events",
                    "cells_entity": "cells",
                    "ts_column": "ts",
                    "value_column": "v",
                    "min_count": 1,
                    "window_seconds": 100,
                    "check_totals": True,
                    "new_entity_name": "hh",
                }
            ),
        )
