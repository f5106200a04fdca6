"""classifier_eval (r11 verdict, Next-round #6): distributed holdout
metrics — confusion counts as exact longs, precision/recall/f1/accuracy
as single correctly-rounded divisions, per-group slices, and the
train -> eval -> filter JSON-step composition."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_validation_engine_spark.llmops.classifier import (
    classifier_eval,
    classifier_filter,
)


def _corpus(spark):
    # deterministic texts; integer weights make the logits exact
    rows = [
        (i, f"tok{i % 7} tok{i % 3} filler", 1 if i % 2 == 0 else 0)
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "id long, text string, y int")


W = [float(((b * 7 + 3) % 21) - 10) for b in range(64)]


def test_counts_match_manual_confusion(spark):
    docs = _corpus(spark)
    decided = classifier_filter(
        docs, "text", W, bias=1.0, average=False,
        threshold_prob=0.5, keep_col="keep",
    ).select("id", "keep", "y").collect()
    want = {"tp": 0, "fp": 0, "tn": 0, "fn": 0}
    for r in decided:
        k = ("t" if r["keep"] == bool(r["y"]) else "f") + (
            "p" if r["keep"] else "n"
        )
        want[k] += 1

    [m] = classifier_eval(
        docs, "text", "y", W, bias=1.0, average=False,
        threshold_prob=0.5,
    ).collect()
    assert m["n"] == 40
    assert (m["tp"], m["fp"], m["tn"], m["fn"]) == (
        want["tp"], want["fp"], want["tn"], want["fn"]
    )
    if m["tp"] + m["fp"]:
        assert m["precision"] == want["tp"] / (want["tp"] + want["fp"])
    if m["tp"] + m["fn"]:
        assert m["recall"] == want["tp"] / (want["tp"] + want["fn"])
    assert m["accuracy"] == (want["tp"] + want["tn"]) / 40


def test_grouped_and_null_metrics(spark):
    docs = _corpus(spark).withColumn(
        "grp", F.when(F.col("id") < 20, "a").otherwise("b")
    )
    out = {
        r["grp"]: r
        for r in classifier_eval(
            docs, "text", "y", W, bias=1.0, average=False,
            group_cols=["grp"],
        ).collect()
    }
    assert set(out) == {"a", "b"}
    assert out["a"]["n"] == 20 and out["b"]["n"] == 20

    # all-negative labels with nothing predicted positive: precision
    # and recall must be NULL, not 0/0 garbage
    neg = spark.createDataFrame(
        [(1, "x y z", 0)], "id long, text string, y int"
    )
    [m] = classifier_eval(
        neg, "text", "y", [-100.0] * 64, bias=-100.0
    ).collect()
    assert m["precision"] is None and m["recall"] is None
    assert m["f1"] is None and m["accuracy"] == 1.0


def test_boolean_labels_and_loud_bad_labels(spark):
    docs = _corpus(spark).withColumn("yb", F.col("y") == 1)
    [m] = classifier_eval(
        docs, "text", "yb", W, bias=1.0, average=False
    ).collect()
    assert m["tp"] + m["fn"] == 20  # the 20 positive labels

    bad = spark.createDataFrame(
        [(1, "x", 3)], "id long, text string, y int"
    )
    with pytest.raises(Exception, match="must be 0/1"):
        classifier_eval(bad, "text", "y", W).collect()


@pytest.mark.slow
def test_train_eval_filter_compose_as_json_steps(spark):
    from data_validation_engine_spark.steps import parse_step
    from data_validation_engine_spark.steps.engine import StepEngine

    sep = [
        (i, "good quality prose here", 1) for i in range(30)
    ] + [(i + 100, "spam spam buy now", 0) for i in range(30)]
    ents = {
        "train": spark.createDataFrame(
            sep, "id long, text string, y int"
        ),
        "holdout": spark.createDataFrame(
            sep[::3], "id long, text string, y int"
        ),
    }
    eng = StepEngine(spark)
    for cfg in (
        {
            "operation": "classifier_fit",
            "entity_name": "train",
            "text_column": "text",
            "label_column": "y",
            "n_buckets": 128,
            "epochs": 30,
            "lr": 2.0,
            "new_entity_name": "model",
        },
        {
            "operation": "classifier_eval",
            "entity_name": "holdout",
            "text_column": "text",
            "label_column": "y",
            "weights_entity": "model",
            "new_entity_name": "metrics",
        },
        {
            "operation": "classifier_score",
            "entity_name": "holdout",
            "text_column": "text",
            "weights_entity": "model",
            "threshold_prob": 0.5,
            "keep_column": "keep",
            "new_entity_name": "filtered",
        },
    ):
        eng.evaluate(ents, config=parse_step(cfg))
    [m] = ents["metrics"].collect()
    # separable two-phrase corpus: the fit must nail the holdout
    assert m["fn"] == 0 and m["fp"] == 0
    assert m["precision"] == 1.0 and m["recall"] == 1.0 and m["f1"] == 1.0
    # eval's decisions agree with filter's keep flags
    agree = ents["filtered"].where(
        (F.col("keep") & (F.col("y") == 1))
        | (~F.col("keep") & (F.col("y") == 0))
    )
    assert agree.count() == m["n"]
