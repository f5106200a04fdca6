"""Round-6 operators: interval (range-overlap) join, top-k per group,
rolling event-time aggregates, incremental dedup against a corpus.

Each operator is verified against its naive Spark twin (the semantics
oracle) and plan-asserted to keep the scale shape: no nested-loop /
cartesian joins, WindowGroupLimit on the top-k filter.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from data_validation_engine_spark.llmops.analytics import (
    grouped_topk,
    rolling_agg,
)
from data_validation_engine_spark.llmops.dedup import (
    incremental_exact_dedup,
    incremental_ngram_dedup,
    jaccard_col,
    shingles_col,
)
from data_validation_engine_spark.llmops.interval import interval_join
from data_validation_engine_spark.steps import StepEngine, parse_step

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


# -- interval join -----------------------------------------------------------
@pytest.fixture(scope="module")
def intervals(spark):
    rng = random.Random(7)
    left = [
        (i, i % 5, s := rng.uniform(0, 1000), s + rng.uniform(0, 120))
        for i in range(300)
    ]
    right = [
        (j, j % 5, s := rng.uniform(0, 1000), s + rng.uniform(0, 300))
        for j in range(200)
    ]
    ldf = spark.createDataFrame(left, "lid long, key long, s double, e double")
    rdf = spark.createDataFrame(right, "rid long, key long, s double, e double")
    return ldf, rdf


def _naive_pairs(ldf, rdf, keyed: bool):
    cond = (F.col("a.s") <= F.col("b.e")) & (F.col("b.s") <= F.col("a.e"))
    if keyed:
        cond = (F.col("a.key") == F.col("b.key")) & cond
    return {
        (r.lid, r.rid)
        for r in ldf.alias("a")
        .join(rdf.alias("b"), cond)
        .select("a.lid", "b.rid")
        .collect()
    }


def test_interval_join_matches_naive_predicate(intervals):
    ldf, rdf = intervals
    out = interval_join(
        ldf,
        rdf,
        left_start="s",
        left_end="e",
        right_start="s",
        right_end="e",
        on="key",
        bucket_width=60.0,
    )
    got = {(r.lid, r.r_rid) for r in out.collect()}
    assert got == _naive_pairs(ldf, rdf, keyed=True)
    # anchor-bucket dedup: pairs are unique without a distinct()
    assert out.count() == len(got)
    # prefixed right columns, left columns first
    assert out.columns == ["lid", "key", "s", "e", "r_rid", "r_s", "r_e"]


def test_interval_join_no_key_and_no_nested_loop(intervals):
    ldf, rdf = intervals
    out = interval_join(
        ldf.limit(60),
        rdf.limit(50),
        left_start="s",
        left_end="e",
        right_start="s",
        right_end="e",
        bucket_width=200.0,
    )
    got = {(r.lid, r.r_rid) for r in out.collect()}
    assert got == _naive_pairs(ldf.limit(60), rdf.limit(50), keyed=False)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_interval_join_bucket_width_invariance(intervals):
    ldf, rdf = intervals
    base = None
    for width in (25.0, 60.0, 500.0):
        out = interval_join(
            ldf,
            rdf,
            left_start="s",
            left_end="e",
            right_start="s",
            right_end="e",
            on="key",
            bucket_width=width,
        )
        got = frozenset((r.lid, r.r_rid) for r in out.collect())
        base = base or got
        assert got == base


def test_interval_join_timestamps_declared_step(spark, events):
    # event [ts, ts+10min] windows x per-user maintenance windows
    right = (
        events.where(F.col("event_id") % 17 == 0)
        .select(
            F.col("event_id").alias("win_id"),
            "user_id",
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("w_end"),
        )
    )
    left = events.select(
        "event_id",
        "user_id",
        F.col("ts").alias("t_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("t_end"),
    )
    engine = StepEngine(spark, register_functions=False)
    step = parse_step(
        {
            "operation": "interval_join",
            "entity_name": "ev",
            "target_name": "win",
            "new_entity_name": "hits",
            "left_start": "t_start",
            "left_end": "t_end",
            "right_start": "w_start",
            "right_end": "w_end",
            "on": ["user_id"],
            "bucket_width": 600.0,
        }
    )
    entities = {"ev": left, "win": right}
    engine.evaluate(entities, config=step)
    got = {
        (r.event_id, r.r_win_id) for r in entities["hits"].collect()
    }
    naive = (
        left.alias("a")
        .join(
            right.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.t_start") <= F.col("b.w_end"))
            & (F.col("b.w_start") <= F.col("a.t_end")),
        )
        .select("a.event_id", "b.win_id")
    )
    assert got == {(r.event_id, r.win_id) for r in naive.collect()}
    assert len(got) > 0


# -- top-k per group ---------------------------------------------------------
def test_grouped_topk_matches_sql_window(spark, events):
    out = grouped_topk(
        events, "event_type", "value", 3, tiebreak_cols=["event_id"]
    )
    events.createOrReplaceTempView("ev_topk")
    want = spark.sql(
        "SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY event_type"
        " ORDER BY value DESC, event_id) AS rank FROM ev_topk) WHERE rank <= 3"
    )
    assert out.exceptAll(want).count() == 0
    assert want.exceptAll(out).count() == 0


def test_grouped_topk_uses_window_group_limit(events):
    out = grouped_topk(events, "event_type", "value", 5, tiebreak_cols=["event_id"])
    # the rank<=k filter must ride the window (map-side size-k heaps),
    # not run as a post-filter over fully sorted groups
    assert "WindowGroupLimit" in _plan(out)


def test_grouped_topk_ascending(events):
    out = grouped_topk(
        events,
        ["event_type"],
        "value",
        1,
        descending=False,
        tiebreak_cols=["event_id"],
    )
    mins = events.groupBy("event_type").agg(F.min("value").alias("value"))
    got = {(r.event_type, r.value) for r in out.select("event_type", "value").collect()}
    assert got == {(r.event_type, r.value) for r in mins.collect()}


# -- rolling aggregates ------------------------------------------------------
def test_rolling_agg_matches_sql_range_frame(spark, events):
    out = rolling_agg(
        events,
        partition_cols="user_id",
        ts_col="ts",
        window_seconds=3600,
        aggs={"n_1h": F.count(F.lit(1)), "sum_1h": F.sum("value")},
    )
    events.createOrReplaceTempView("ev_roll")
    want = spark.sql(
        "SELECT *, count(1) OVER w AS n_1h, sum(value) OVER w AS sum_1h"
        " FROM ev_roll WINDOW w AS (PARTITION BY user_id ORDER BY"
        " unix_micros(CAST(ts AS TIMESTAMP))"
        " RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"
    )
    assert out.exceptAll(want).count() == 0
    assert want.exceptAll(out).count() == 0


def test_rolling_agg_exclude_current_is_leakage_safe(events):
    out = rolling_agg(
        events,
        partition_cols="user_id",
        ts_col="ts",
        window_seconds=3600,
        aggs={"n_prev": F.count(F.lit(1))},
        include_current=False,
    )
    rows = out.select("user_id", "ts", "n_prev").collect()
    # each user's earliest event sees zero prior events
    earliest: dict = {}
    for r in rows:
        if r.user_id not in earliest or r.ts < earliest[r.user_id].ts:
            earliest[r.user_id] = r
    assert all(r.n_prev == 0 for r in earliest.values())


def test_rolling_agg_declared_step(spark, events):
    engine = StepEngine(spark, register_functions=False)
    step = parse_step(
        {
            "operation": "rolling_agg",
            "entity_name": "ev",
            "new_entity_name": "out",
            "partition_by": ["user_id"],
            "ts_column": "ts",
            "window_seconds": 3600,
            "aggregations": [["n_1h", "count(1)"], ["sum_1h", "sum(value)"]],
        }
    )
    entities = {"ev": events}
    engine.evaluate(entities, config=step)
    lib = rolling_agg(
        events,
        partition_cols="user_id",
        ts_col="ts",
        window_seconds=3600,
        aggs={"n_1h": F.count(F.lit(1)), "sum_1h": F.sum("value")},
    )
    assert entities["out"].exceptAll(lib).count() == 0
    assert lib.exceptAll(entities["out"]).count() == 0


def test_top_k_declared_step(spark, events):
    engine = StepEngine(spark, register_functions=False)
    step = parse_step(
        {
            "operation": "top_k",
            "entity_name": "ev",
            "new_entity_name": "out",
            "group_by": ["event_type"],
            "order_column": "value",
            "k": 2,
            "tiebreak_columns": ["event_id"],
        }
    )
    entities = {"ev": events}
    engine.evaluate(entities, config=step)
    lib = grouped_topk(events, "event_type", "value", 2, tiebreak_cols=["event_id"])
    assert entities["out"].exceptAll(lib).count() == 0
    assert lib.exceptAll(entities["out"]).count() == 0


# -- incremental dedup -------------------------------------------------------
@pytest.fixture(scope="module")
def corpus_and_new(docs):
    return (
        docs.where(F.col("doc_id") % 5 != 0),
        docs.where(F.col("doc_id") % 5 == 0),
    )


def test_incremental_exact_dedup(spark, docs, corpus_and_new):
    corpus, new = corpus_and_new
    # plant an exact dup of a corpus doc and an in-batch dup pair
    c0 = corpus.limit(1).select("text").first().text
    extra = spark.createDataFrame(
        [(100001, c0, "en", "planted", len(c0)),
         (100002, "same batch text", "en", "planted", 15),
         (100003, "same batch text", "en", "planted", 15)],
        docs.schema,
    )
    new2 = new.unionByName(extra)
    out = incremental_exact_dedup(new2, corpus, "text", order_col="doc_id")
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert 100001 not in ids        # exact corpus dup dropped
    assert 100002 in ids            # first of in-batch pair survives
    assert 100003 not in ids        # second dropped
    # untouched new docs survive iff their text is not in the corpus
    corpus_texts = {r.text for r in corpus.select("text").collect()}
    for r in new.collect():
        assert (r.doc_id in ids) == (r.text not in corpus_texts)


def test_incremental_ngram_dedup_matches_naive_exists(docs, corpus_and_new):
    corpus, new = corpus_and_new
    out = incremental_ngram_dedup(new, corpus, "doc_id", "text", threshold=0.5)
    got = {r.doc_id for r in out.select("doc_id").collect()}

    sh = docs.select(
        "doc_id",
        shingles_col(F.col("text")).alias("sh"),
        (F.col("doc_id") % 5 == 0).alias("is_new"),
    )
    pairs = (
        sh.where("is_new")
        .alias("a")
        .join(
            sh.alias("b"),
            (F.col("b.doc_id") != F.col("a.doc_id"))
            & (
                (~F.col("b.is_new"))
                | (F.col("b.doc_id") < F.col("a.doc_id"))
            ),
        )
    )
    dropped = {
        r.doc_id
        for r in pairs.where(
            F.round(jaccard_col(F.col("a.sh"), F.col("b.sh")), 6) >= 0.5
        )
        .select(F.col("a.doc_id").alias("doc_id"))
        .distinct()
        .collect()
    }
    want = {r.doc_id for r in new.select("doc_id").collect()} - dropped
    assert got == want
    assert len(got) < new.count()  # the corpus split plants real near-dups


def test_incremental_dedup_declared_step(spark, corpus_and_new):
    corpus, new = corpus_and_new
    engine = StepEngine(spark, register_functions=False)
    step = parse_step(
        {
            "operation": "dedup_incremental",
            "entity_name": "new",
            "target_name": "corpus",
            "new_entity_name": "kept",
            "method": "ngram",
            "id_column": "doc_id",
            "text_column": "text",
            "threshold": 0.5,
        }
    )
    entities = {"new": new, "corpus": corpus}
    engine.evaluate(entities, config=step)
    lib = incremental_ngram_dedup(new, corpus, "doc_id", "text", threshold=0.5)
    assert {r.doc_id for r in entities["kept"].select("doc_id").collect()} == {
        r.doc_id for r in lib.select("doc_id").collect()
    }


def test_incremental_ngram_never_pairs_corpus_with_corpus(corpus_and_new):
    corpus, new = corpus_and_new
    out = incremental_ngram_dedup(new, corpus, "doc_id", "text", threshold=0.5)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


# -- rollup / cube grouping --------------------------------------------------
def test_group_by_rollup_subtotals(spark, events):
    from data_validation_engine_spark.errors import ConfigurationError

    engine = StepEngine(spark, register_functions=False)
    ents = {"ev": events}
    engine.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "group_by",
                "entity_name": "ev",
                "new_entity_name": "r",
                "group_by": "event_type",
                "grouping": "rollup",
                "agg_columns": {
                    "count(1)": "n",
                    "cast(grouping_id() as bigint)": "gid",
                },
            }
        ),
    )
    rows = {(r.event_type, r.gid): r.n for r in ents["r"].collect()}
    # grand-total row aggregates everything, tagged gid=1
    assert rows[(None, 1)] == events.count()
    per_type = {
        r.event_type: r["count(1)"]
        for r in events.groupBy("event_type").agg(F.count(F.lit(1))).collect()
    }
    for t, n in per_type.items():
        assert rows[(t, 0)] == n
    # pivot + rollup is rejected loudly
    with pytest.raises(ConfigurationError):
        engine.evaluate(
            {"ev": events},
            config=parse_step(
                {
                    "operation": "group_by",
                    "entity_name": "ev",
                    "group_by": "event_type",
                    "grouping": "rollup",
                    "pivot_column": "event_type",
                    "agg_columns": {"count(1)": "n"},
                }
            ),
        )


def test_group_by_cube_covers_all_subsets(spark, events):
    engine = StepEngine(spark, register_functions=False)
    ents = {"ev": events}
    engine.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "group_by",
                "entity_name": "ev",
                "new_entity_name": "c",
                "group_by": "event_type, user_id % 2",
                "grouping": "cube",
                "agg_columns": {"count(1)": "n"},
            }
        ),
    )
    out = ents["c"].collect()
    n_types = events.select("event_type").distinct().count()
    # (types+1) x (parities+1) grouping grid
    assert len(out) == (n_types + 1) * 3


# -- containment (asymmetric near-dup) ---------------------------------------
@pytest.mark.slow
def test_containment_pairs_matches_naive_and_catches_wrapper(spark, docs):
    from data_validation_engine_spark.llmops.dedup import containment_pairs

    row = docs.where("doc_id = 3").first()
    host = f"header intro words {row.text} footer closing words here"
    extra = spark.createDataFrame(
        [(99001, host, "en", "planted", len(host))], docs.schema
    )
    d2 = docs.unionByName(extra)
    out = containment_pairs(d2, "doc_id", "text", threshold=0.8)
    got = {(r.id_a, r.id_b): r.containment for r in out.collect()}
    # the wrapped doc is fully contained in its host; Jaccard would be low
    assert got.get((3, 99001)) == 1.0

    sh = d2.select(
        "doc_id", shingles_col(F.col("text")).alias("sh")
    )
    naive = (
        sh.alias("a")
        .join(sh.alias("b"), F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(
                F.size(F.array_intersect("a.sh", "b.sh"))
                / F.size("a.sh"),
                6,
            ).alias("c"),
        )
        .where(F.col("c") >= 0.8)
    )
    assert got == {(r.id_a, r.id_b): r.c for r in naive.collect()}


def test_containment_pairs_declared_step_and_plan(spark, docs):
    from data_validation_engine_spark.llmops.dedup import containment_pairs

    engine = StepEngine(spark, register_functions=False)
    ents = {"d": docs}
    engine.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "dedup_containment_pairs",
                "entity_name": "d",
                "new_entity_name": "p",
                "id_column": "doc_id",
                "threshold": 0.8,
            }
        ),
    )
    lib = containment_pairs(docs, "doc_id", "text", threshold=0.8)
    got = {tuple(r) for r in ents["p"].collect()}
    assert got == {tuple(r) for r in lib.collect()}
    plan = _plan(ents["p"])
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


# -- weighted sampling -------------------------------------------------------
def test_weighted_sample_is_deterministic_and_weight_monotone(spark, docs):
    from data_validation_engine_spark.llmops.split import weighted_sample

    a = weighted_sample(docs, "doc_id", "n_chars", rate=1 / 2000)
    b = weighted_sample(
        docs.repartition(7), "doc_id", "n_chars", rate=1 / 2000
    )
    ka = {r.doc_id for r in a.select("doc_id").collect()}
    kb = {r.doc_id for r in b.select("doc_id").collect()}
    assert ka == kb and 0 < len(ka) < docs.count()  # partitioning-stable

    # monotone in weight: raising every weight can only ADD rows
    import pyspark.sql.functions as G

    bigger = weighted_sample(
        docs.withColumn("n_chars", G.col("n_chars") * 2),
        "doc_id",
        "n_chars",
        rate=1 / 2000,
    )
    kc = {r.doc_id for r in bigger.select("doc_id").collect()}
    assert ka <= kc

    # a different seed draws a different (still deterministic) sample
    other = weighted_sample(
        docs, "doc_id", "n_chars", rate=1 / 2000, seed="exp2"
    )
    ko = {r.doc_id for r in other.select("doc_id").collect()}
    assert ko != ka


def test_weighted_sample_keep_rate_tracks_weights(spark, docs):
    from data_validation_engine_spark.llmops.split import weighted_sample

    total = docs.count()
    rate = 1 / 4000
    kept = weighted_sample(docs, "doc_id", "n_chars", rate=rate).count()
    expected = (
        docs.selectExpr(
            f"CAST(sum(least(1.0, n_chars * {rate})) AS DOUBLE) AS e"
        )
        .first()
        .e
    )
    # binomial concentration: within 5 sigma of the expected volume
    sigma = (expected * (1 - expected / total)) ** 0.5
    assert abs(kept - expected) < 5 * sigma + 1


def test_weighted_sample_declared_step(spark, docs):
    from data_validation_engine_spark.llmops.split import weighted_sample

    engine = StepEngine(spark, register_functions=False)
    ents = {"d": docs}
    engine.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "weighted_sample",
                "entity_name": "d",
                "new_entity_name": "s",
                "key_column": "doc_id",
                "weight_column": "n_chars",
                "rate": 0.0005,
            }
        ),
    )
    lib = weighted_sample(docs, "doc_id", "n_chars", rate=0.0005)
    assert {r.doc_id for r in ents["s"].select("doc_id").collect()} == {
        r.doc_id for r in lib.select("doc_id").collect()
    }
