"""Round-13 optimization round: parity tests for the shared-computation
levers (guide §1.2 — compute heavy per-row projections once, reuse across
surfaces). Every test pins that the optimized path returns EXACTLY the
rows of the unoptimized path, because the optimization contract for this
round is "same results, fewer passes"."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def assert_frames_equal(a, b):
    """Order-insensitive exact row equality (schemas by column name)."""
    assert a.columns == b.columns
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"doc {i} shared boilerplate sentence common tail piece "
            f"unique-{i} words repeat repeat number {i % 7}")
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_classifier_features_col_parity(spark, docs):
    from data_validation_engine_spark.llmops.classifier import (
        char_ngram_buckets,
        classifier_eval,
        classifier_filter,
        classifier_score,
    )
    from data_validation_engine_spark.llmops.dsir import ngram_buckets

    w = [float(((b * 7 + 3) % 21) - 10) for b in range(64)]
    feats = docs.withColumn(
        "wf", ngram_buckets(F.col("text"), n_max=2, buckets=64)
    ).withColumn(
        "cf", char_ngram_buckets(F.col("text"), n=3, buckets=64)
    )
    for avg in (False, True):
        direct = classifier_score(
            docs, "text", w, bias=3.0, average=avg, n_feats_col="nf"
        ).select("doc_id", "clf_logit", "nf")
        shared = classifier_score(
            feats, "text", w, bias=3.0, average=avg, n_feats_col="nf",
            features_col="wf",
        ).select("doc_id", "clf_logit", "nf")
        assert_frames_equal(direct, shared)
    direct = classifier_filter(
        docs, "text", w, bias=3.0, average=False, char_n=3,
        threshold_prob=0.5, keep_col="keep",
    ).select("doc_id", "keep")
    shared = classifier_filter(
        feats, "text", w, bias=3.0, average=False, char_n=3,
        threshold_prob=0.5, keep_col="keep", features_col="cf",
    ).select("doc_id", "keep")
    assert_frames_equal(direct, shared)
    lab = docs.withColumn("y", (F.col("doc_id") % 2 == 0).cast("int"))
    labf = feats.withColumn("y", (F.col("doc_id") % 2 == 0).cast("int"))
    direct = classifier_eval(
        lab, "text", "y", w, bias=3.0, average=False, threshold_prob=0.5
    )
    shared = classifier_eval(
        labf, "text", "y", w, bias=3.0, average=False,
        threshold_prob=0.5, features_col="wf",
    )
    assert_frames_equal(direct, shared)


@pytest.mark.slow
def test_substring_shared_marked_parity(spark, docs):
    from data_validation_engine_spark.llmops.substrings import (
        marked_positions,
        remove_repeated_substrings,
        repeated_substring_spans,
        spans_from_marked,
        verify_marked,
    )

    kw = dict(min_len=12, min_docs=3, depth=3, width=512)
    marked = marked_positions(docs, "doc_id", "text", **kw)
    # hash mode: split pieces == one-shot operator
    assert_frames_equal(
        spans_from_marked(marked, "doc_id", min_len=12),
        repeated_substring_spans(docs, "doc_id", "text", **kw),
    )
    # verify mode: filter-then-merge == one-shot exact_verify operator
    assert_frames_equal(
        spans_from_marked(
            verify_marked(marked, "doc_id", 3), "doc_id", min_len=12
        ),
        repeated_substring_spans(
            docs, "doc_id", "text", exact_verify=True, **kw
        ),
    )
    # precomputed-spans splice == internal-spans splice
    spans = repeated_substring_spans(docs, "doc_id", "text", **kw)
    assert_frames_equal(
        remove_repeated_substrings(docs, "doc_id", "text", spans=spans, **kw),
        remove_repeated_substrings(docs, "doc_id", "text", **kw),
    )


def test_marked_positions_regimes_agree(spark, docs):
    """The adaptive CMS cutover (r13 round 2): a width small enough to
    saturate (every cell >= min_docs, exact-group-by regime) and a
    width sized to actually screen (sketch regime) must produce the
    identical marked-position set — and both must equal a naive exact
    gram-frequency replay with no sketch machinery at all."""
    from data_validation_engine_spark.llmops.substrings import (
        marked_positions,
    )

    ml, md = 12, 3
    pos = docs.selectExpr(
        "doc_id",
        f"explode(CASE WHEN length(text) >= {ml} THEN"
        f" sequence(1, length(text) - {ml} + 1)"
        " ELSE array() END) AS s",
        "text",
    ).selectExpr("doc_id", "s", f"substring(text, s, {ml}) AS __gt")
    hot = (
        pos.groupBy("__gt")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= md)
        .select("__gt")
    )
    naive = pos.join(hot, "__gt").select(
        "doc_id", F.col("s").alias("__s"), "__gt"
    )
    saturated = marked_positions(
        docs, "doc_id", "text", min_len=ml, min_docs=md,
        depth=3, width=4,
    )
    screened = marked_positions(
        docs, "doc_id", "text", min_len=ml, min_docs=md,
        depth=3, width=1 << 16,
    )
    assert_frames_equal(saturated.select("doc_id", "__s", "__gt"), naive)
    assert_frames_equal(screened.select("doc_id", "__s", "__gt"), naive)


@pytest.mark.slow
def test_span_paragraph_passthrough_parity(spark, docs):
    """The q_span_dedup rewrite's premise: winnowed fingerprints and
    paragraph splits are per-row projections, so (a) passing the
    precomputed frame through ``fps=``/``paras=`` returns exactly the
    internally-built result, and (b) the incremental path's
    index/new-batch sides are FILTERS of the full-corpus fingerprint
    frame."""
    from data_validation_engine_spark.llmops.paragraphs import (
        paragraph_frequency,
        remove_repeated_paragraphs,
        split_paragraphs,
    )
    from data_validation_engine_spark.llmops.spans import (
        shared_span_pairs,
        shared_spans_incremental,
        winnowed_fingerprints,
    )

    multi = docs.selectExpr(
        "doc_id",
        "concat(text, '\\ncommon footer line', '\\nunique ', doc_id) AS text",
    )
    fps = winnowed_fingerprints(multi, "doc_id", "text", width=8, window=4)
    assert_frames_equal(
        shared_span_pairs(
            multi, "doc_id", "text", width=8, window=4, fps=fps
        ),
        shared_span_pairs(multi, "doc_id", "text", width=8, window=4),
    )
    corpus = multi.where("doc_id % 4 != 0")
    new = multi.where("doc_id % 4 = 0")
    assert_frames_equal(
        shared_spans_incremental(
            new, fps.where("doc_id % 4 != 0"), "doc_id", "text",
            width=8, window=4, new_fps=fps.where("doc_id % 4 = 0"),
        ),
        shared_spans_incremental(
            new,
            winnowed_fingerprints(
                corpus, "doc_id", "text", width=8, window=4
            ),
            "doc_id", "text", width=8, window=4,
        ),
    )
    paras = split_paragraphs(multi, "doc_id", "text")
    assert_frames_equal(
        paragraph_frequency(multi, "doc_id", "text", paras=paras),
        paragraph_frequency(multi, "doc_id", "text"),
    )
    for keep in ("none", "first"):
        assert_frames_equal(
            remove_repeated_paragraphs(
                multi, "doc_id", "text", max_docs=1, keep=keep,
                paras=paras,
            ),
            remove_repeated_paragraphs(
                multi, "doc_id", "text", max_docs=1, keep=keep
            ),
        )


def test_cms_parity_keyed_build_matches_two_half_builds(spark, docs):
    """The CMS batch arm's 'merge' rewrite: building one sketch keyed by
    (group, parity) and merging the parity dimension away must equal
    union-then-merge of two separately built half sketches — a value's
    cells depend only on the value, never on its group."""
    from data_validation_engine_spark.llmops.sketch import (
        cms_build,
        cms_merge,
    )

    d = docs.withColumn("lang", (F.col("doc_id") % 3).cast("string"))
    kw = dict(depth=3, width=16)
    two = cms_merge(
        cms_build(
            d.where("doc_id % 2 = 0"), "text", group_cols=["lang"], **kw
        ).unionByName(
            cms_build(
                d.where("doc_id % 2 = 1"), "text",
                group_cols=["lang"], **kw,
            )
        ),
        group_cols=["lang"],
    )
    one = cms_merge(
        cms_build(
            d.withColumn("__par", F.col("doc_id") % 2), "text",
            group_cols=["lang", "__par"], **kw,
        ).drop("__par"),
        group_cols=["lang"],
    )
    assert_frames_equal(one, two)


def test_tfidf_top1_agg_matches_window(spark, docs):
    """The tfidf_top_terms top_n=1 rewrite: the min_by aggregation must
    return exactly the rows the ranking-window formulation returns
    (same (tf desc, df asc, term asc) total order)."""
    from pyspark.sql import Window

    from data_validation_engine_spark.llmops import tfidf_top_terms
    from data_validation_engine_spark.llmops.dedup import tokens_col

    terms = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = docs.agg(F.count(F.lit(1)).alias("__n"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    old = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(
                    F.col("__n").cast("double") / F.col("df").cast("double")
                ),
                6,
            ),
        )
        .withColumn("__rank", F.row_number().over(w))
        .where("__rank <= 1")
        .select(
            "doc_id", "term", "tf", "df",
            F.col("__n").alias("n_docs"), "tfidf",
        )
    )
    assert_frames_equal(
        tfidf_top_terms(docs, "doc_id", "text"), old
    )


def test_minhash_index_filter_commutes(spark, docs):
    """The q_r12_index_maintenance rewrite's premise: minhash_index is a
    per-document projection, so indexing a filtered corpus equals
    filtering the full index."""
    from data_validation_engine_spark.llmops.dedup import minhash_index

    full = minhash_index(docs, "doc_id", "text")
    assert_frames_equal(
        minhash_index(docs.where("doc_id % 2 = 0"), "doc_id", "text"),
        full.where("doc_id % 2 = 0"),
    )


def test_parallel_arms_matches_serial_union(spark):
    """_parallel_arms (guide §2.6, overlap independent arm construction)
    must return row-for-row the serial unionByName in argument order,
    and each arm's session-conf mutations must stay arm-local."""
    import __spark_entry__ as e

    seen_partitions = {}

    def arm_a(s, d):
        # pin a conf in THIS arm's session; sibling arms must not see it
        with e._state_partitions(s, 3):
            seen_partitions["a"] = s.conf.get("spark.sql.shuffle.partitions")
            return s.createDataFrame([(1, "a")], "k int, v string")

    def arm_b(s, d):
        seen_partitions["b"] = s.conf.get("spark.sql.shuffle.partitions")
        return s.createDataFrame([(2, "b")], "k int, v string")

    def arm_c(s, d):
        return s.createDataFrame([(3, "c")], "k int, v string")

    out = e._parallel_arms(spark, "", arm_a, arm_b, arm_c)
    rows = [(r.k, r.v) for r in out.collect()]
    assert sorted(rows) == [(1, "a"), (2, "b"), (3, "c")]
    assert seen_partitions["a"] == "3"
    # arm_b's cloned session keeps the parent's value, never arm_a's pin
    assert seen_partitions["b"] == spark.conf.get(
        "spark.sql.shuffle.partitions"
    )
    # the parent session is untouched after the arms complete
    assert spark.conf.get("spark.sql.shuffle.partitions") != "3"
