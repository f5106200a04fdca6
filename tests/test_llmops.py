"""llmops operator tests: dedup, similarity, text analysis, multimodal.

Scale-shape assertions live here too: the MinHash-LSH plan must contain no
cartesian product (candidate generation is banded), and the brute-force
top-k must plan as a limited sort (TakeOrderedAndProject), not a global
sort.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_validation_engine_spark.llmops import (
    ann_topk,
    cosine_topk,
    exact_dedup,
    language_id,
    minhash_dedup,
    minhash_pairs,
    simhash,
    text_fingerprint,
    text_stats,
    tfidf_top_terms,
)
from data_validation_engine_spark.llmops.dedup import (
    hamming_distance,
    shingles_col,
)
from data_validation_engine_spark.llmops.multimodal import (
    attach_binary,
    binary_meta,
    codec_decoder,
    decode_binary,
    fake_decoder,
    sample_frames,
)

DOC = "the quick brown fox jumps over the lazy dog again and again"
NEAR = "the quick brown fox jumps over the lazy dog again and once"
OTHER = "completely different words about spark plans and shuffles here"


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [(0, DOC), (1, NEAR), (2, OTHER), (3, DOC)],
        "doc_id long, text string",
    )


# -- dedup -------------------------------------------------------------------

def test_exact_dedup_keeps_min_and_counts(docs):
    out = exact_dedup(docs, "text", order_col="doc_id")
    rows = {r["doc_id"]: r["n_copies"] for r in out.collect()}
    assert rows == {0: 2, 1: 1, 2: 1}


def test_exact_dedup_normalized(spark):
    df = spark.createDataFrame(
        [(0, "A  b C"), (1, "a b c"), (2, "x")], "doc_id long, text string"
    )
    out = exact_dedup(df, "text", order_col="doc_id", normalize_text=True)
    rows = {r["doc_id"]: r["n_copies"] for r in out.collect()}
    assert rows == {0: 2, 2: 1}


def test_minhash_finds_near_and_exact_dups(docs):
    pairs = minhash_pairs(docs, "doc_id", "text", threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(0, 3)] == 1.0  # exact duplicate
    assert (0, 1) in got and 0.5 <= got[(0, 1)] < 1.0  # near duplicate
    assert not any(2 in p for p in got)  # unrelated doc pairs with nothing


def test_minhash_dedup_drops_higher_ids(docs):
    kept = {r["doc_id"] for r in minhash_dedup(docs, "doc_id", "text").collect()}
    assert 0 in kept and 2 in kept and 3 not in kept


def test_connected_components_transitive_cluster(spark):
    from data_validation_engine_spark.llmops.dedup import connected_components

    # 1-3, 2-3 form ONE cluster through 3; 5-6 a second; 9 isolated (no edge)
    pairs = spark.createDataFrame(
        [(1, 3), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    comps = {
        r["id"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_minhash_dedup_exact_components_vs_greedy(spark):
    from data_validation_engine_spark.llmops import minhash_dedup

    # B and C are both near-dups of A (and of each other via A's text);
    # exact components keep only the cluster minimum
    docs = spark.createDataFrame(
        [(0, DOC), (1, DOC), (2, DOC), (3, OTHER)],
        "doc_id long, text string",
    )
    exact = {
        r["doc_id"]
        for r in minhash_dedup(
            docs, "doc_id", "text", exact_components=True
        ).collect()
    }
    assert exact == {0, 3}


def test_minhash_plan_has_no_cartesian_product(docs):
    plan = minhash_pairs(docs, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_length_and_similarity(docs):
    out = docs.select(
        "doc_id", simhash(F.col("text")).alias("sh")
    ).collect()
    sh = {r["doc_id"]: r["sh"] for r in out}
    assert all(len(v) == 16 and set(v) <= {"0", "1"} for v in sh.values())
    assert sh[0] == sh[3]  # identical text, identical signature
    ham_near = sum(a != b for a, b in zip(sh[0], sh[1]))
    ham_far = sum(a != b for a, b in zip(sh[0], sh[2]))
    assert ham_near <= ham_far


def test_simhash_table_matches_column(spark, docs):
    from data_validation_engine_spark.llmops import simhash_table

    via_table = {
        r["doc_id"]: r["simhash"]
        for r in simhash_table(docs, "doc_id", "text").collect()
    }
    via_col = {
        r["doc_id"]: r["sh"]
        for r in docs.select("doc_id", simhash(F.col("text")).alias("sh")).collect()
    }
    assert via_table == via_col


def test_simhash_degenerate_docs_agree(spark):
    """NULL, blank, and whitespace-only text normalise to zero tokens in
    BOTH simhash formulations: all-ones signature, no null propagation."""
    from data_validation_engine_spark.llmops import simhash_table

    deg = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "real tokens here")],
        "doc_id long, text string",
    )
    via_col = {
        r["doc_id"]: r["sh"]
        for r in deg.select("doc_id", simhash(F.col("text")).alias("sh")).collect()
    }
    via_table = {
        r["doc_id"]: r["simhash"]
        for r in simhash_table(deg, "doc_id", "text").collect()
    }
    assert via_col == via_table
    assert via_col[1] == via_col[2] == via_col[3] == "1" * 16
    assert via_col[4] != "1" * 16


def test_hamming_distance_column(spark):
    df = spark.createDataFrame([("1010", "1001")], "a string, b string")
    got = df.select(
        hamming_distance(F.col("a"), F.col("b"), bits=4).alias("h")
    ).first()["h"]
    assert got == 2


def test_shingle_rows_matches_column_formulation(spark, docs):
    from data_validation_engine_spark.llmops.dedup import shingle_rows

    via_rows = {
        (r["doc_id"], r["shingle"])
        for r in shingle_rows(docs, "doc_id", "text").collect()
    }
    via_col = set()
    for r in docs.select(
        "doc_id", shingles_col(F.col("text"), 3).alias("s")
    ).collect():
        for s in r["s"]:
            via_col.add((r["doc_id"], s))
    assert via_rows == via_col


def test_shingles_short_text(spark):
    df = spark.createDataFrame([("one two",), ("",)], "text string")
    got = df.select(shingles_col(F.col("text"), 3).alias("s")).collect()
    assert got[0]["s"] == ["one two"]
    assert got[1]["s"] == [""]  # blank text: single empty shingle


# -- similarity --------------------------------------------------------------

@pytest.fixture()
def embs(spark):
    import math

    rows = []
    for i in range(50):
        vec = [math.sin(i * 17.0 + d) for d in range(8)]
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(embs):
    out = cosine_topk(embs, embs.where("vec_id = 0"), 5).collect()
    assert len(out) == 5
    assert all(r["vec_id"] != 0 for r in out)
    cosines = [r["cosine"] for r in out]
    assert cosines == sorted(cosines, reverse=True)
    assert all(-1.0 <= c <= 1.0 for c in cosines)


def test_cosine_topk_plans_limited_sort(embs):
    plan = (
        cosine_topk(embs, embs.where("vec_id = 0"), 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


@pytest.mark.slow
def test_multiprobe_ann_recall_dominates_single_table(spark, embs):
    from data_validation_engine_spark.llmops import multiprobe_ann_topk

    q = embs.where("vec_id = 0")
    exact = [
        r["vec_id"] for r in cosine_topk(embs, q, 10).collect()
    ]
    single = {
        r["vec_id"]
        for r in multiprobe_ann_topk(
            embs, q, 10, dim=8, n_planes=4, n_tables=1
        ).collect()
    }
    multi = {
        r["vec_id"]
        for r in multiprobe_ann_topk(
            embs, q, 10, dim=8, n_planes=4, n_tables=4
        ).collect()
    }
    recall_single = len(single & set(exact)) / len(exact)
    recall_multi = len(multi & set(exact)) / len(exact)
    assert recall_multi >= recall_single
    # candidates are genuine: every returned cosine matches the exact rank
    plan = multiprobe_ann_topk(embs, q, 5, dim=8)._jdf.queryExecution()
    assert "CartesianProduct" not in plan.executedPlan().toString()


def test_embedding_neardup_bucketed(embs):
    from data_validation_engine_spark.llmops import embedding_neardup_pairs

    pairs = embedding_neardup_pairs(embs, dim=8, threshold=0.99)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    for r in pairs.collect():
        assert r["id_a"] < r["id_b"] and r["cosine"] >= 0.99


def test_ann_probe_subset_of_bucket(embs):
    out = ann_topk(embs, embs.where("vec_id = 0"), 5, dim=8).collect()
    assert len(out) <= 5
    assert len({r["bucket"] for r in out}) <= 1  # all from the query's bucket
    # ANN results are a subset of the exact ranking's candidate set
    exact = {
        r["vec_id"]: r["cosine"]
        for r in cosine_topk(embs, embs.where("vec_id = 0"), 50).collect()
    }
    for r in out:
        assert r["vec_id"] in exact
        assert abs(exact[r["vec_id"]] - r["cosine"]) < 1e-9


# -- text --------------------------------------------------------------------

def test_text_stats_values(spark):
    df = spark.createDataFrame([(0, "ab cd! the x")], "doc_id long, text string")
    r = text_stats(df, "doc_id", "text").first()
    assert r["n_chars"] == 12
    assert r["n_tokens"] == 4
    assert r["n_bpe_tokens"] == 5  # ab / cd / ! / the / x
    assert r["punct_ratio"] == round(1 / 12, 4)
    assert r["stopword_ratio"] == 0.25  # 'the' of 4 tokens


def test_language_id_votes_and_cjk(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat is of the house"),
            (1, "el perro y la casa de que"),
            (2, "der hund und die katze ist"),
            (3, "你好世界"),
            (4, "zzz qqq xxx"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang_pred"] for r in language_id(df, "doc_id", "text").collect()}
    assert got == {0: "en", 1: "es", 2: "de", 3: "zh", 4: "und"}


def test_tfidf_top_term_is_distinctive(spark):
    df = spark.createDataFrame(
        [
            (0, "shared shared unique0 unique0 unique0"),
            (1, "shared shared unique1"),
            (2, "shared other other"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["term"] for r in tfidf_top_terms(df, "doc_id", "text").collect()}
    # per-doc top term prefers high-tf, low-df terms over the shared one
    assert got[0] == "unique0" and got[2] == "other"


def test_fingerprint_whitespace_case_invariant(spark):
    df = spark.createDataFrame(
        [(0, "The  Quick   Fox"), (1, "the quick fox")],
        "doc_id long, text string",
    )
    fps = [r["fingerprint"] for r in text_fingerprint(df, "doc_id", "text").collect()]
    assert fps[0] == fps[1]


# -- multimodal --------------------------------------------------------------

def test_binary_meta_roundtrip(spark):
    df = spark.createDataFrame([(0, "abc")], "doc_id long, text string")
    r = binary_meta(attach_binary(df, "text"), "doc_id").first()
    assert r["n_bytes"] == 3
    import hashlib

    assert r["content_hash"] == hashlib.md5(b"abc").hexdigest()


def test_decode_binary_fake_decoder(spark):
    df = spark.createDataFrame(
        [(0, "abc"), (1, "")], "doc_id long, text string"
    )
    rows = {
        r["id"]: r
        for r in decode_binary(
            attach_binary(df, "text"), "doc_id", decoder=fake_decoder
        ).collect()
    }
    assert rows[0]["n_bytes"] == 3
    assert rows[0]["features"][0] == 3.0
    assert rows[0]["decode_error"] is None
    assert rows[1]["features"] == [0.0, 0.0, 0.0, 0.0]


def test_decode_binary_contains_row_failures(spark):
    df = spark.createDataFrame([(0, "ok"), (1, "boom")], "doc_id long, text string")

    def flaky(payload: bytes) -> list[float]:
        if payload == b"boom":
            raise ValueError("bad asset")
        return [1.0]

    rows = {
        r["id"]: r
        for r in decode_binary(
            attach_binary(df, "text"), "doc_id", decoder=flaky
        ).collect()
    }
    assert rows[0]["decode_error"] is None and rows[0]["features"] == [1.0]
    assert rows[1]["features"] is None
    assert "bad asset" in rows[1]["decode_error"]


def test_codec_stubs_fail_loudly(spark):
    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    # default decoder is the codec stub: a missing CAPABILITY aborts the
    # job loudly (containing it per-row would let a codec-less run
    # "succeed" with every row errored); data errors stay per-row
    with pytest.raises(Exception):
        decode_binary(attach_binary(df, "text"), "doc_id").first()
    with pytest.raises(NotImplementedError):
        sample_frames(df, "doc_id")
    with pytest.raises(NotImplementedError):
        codec_decoder(b"x")


# -- skew-bounded self-join (llmops/pairs.py) --------------------------------


@pytest.mark.slow
def test_bounded_self_join_exact_on_skewed_buckets(spark):
    """One hot bucket (800 rows) + small buckets: the block-decomposed
    self-join must return EXACTLY the naive join's pair set while keeping
    every block's input bounded by max_bucket_rows per side."""
    from data_validation_engine_spark.llmops.pairs import bounded_self_join

    rows = (
        [(i, "hot") for i in range(800)]
        + [(1000 + i, f"cold{i % 17}") for i in range(120)]
        + [(5000, "single")]
    )
    df = spark.createDataFrame(rows, "id long, bucket string").repartition(8)

    bounded = bounded_self_join(
        df, ["bucket"], order_col="id", max_bucket_rows=100
    )
    got = {
        (r["a"]["id"], r["b"]["id"])
        for r in bounded.select("a", "b").collect()
    }
    naive = (
        df.selectExpr("id AS id_a", "bucket")
        .join(df.selectExpr("id AS id_b", "bucket"), on="bucket")
        .where(F.col("id_a") < F.col("id_b"))
    )
    expected = {(r["id_a"], r["id_b"]) for r in naive.collect()}
    assert got == expected  # no lost pairs, no duplicates, no self-pairs

    # per-block input bound: every (bucket, blk_i, blk_j) cell draws its
    # two sides from blocks of <= max_bucket_rows rows, so no task input
    # exceeds 2 * max regardless of the hot bucket's size
    per_block = (
        bounded.groupBy("bucket", "__blk_i", "__blk_j")
        .agg(
            F.count_distinct(F.col("a.`id`")).alias("na"),
            F.count_distinct(F.col("b.`id`")).alias("nb"),
        )
        .collect()
    )
    assert max(max(r["na"], r["nb"]) for r in per_block) <= 100
    # the hot bucket really was decomposed (ceil(800/100) = 8 blocks ->
    # 36 block-pairs), not routed through one task
    hot_blocks = {
        (r["__blk_i"], r["__blk_j"]) for r in per_block if r["bucket"] == "hot"
    }
    assert len(hot_blocks) == 8 * 9 // 2


def test_bounded_self_join_small_buckets_unreplicated(spark):
    """Buckets under the threshold must take the degenerate S=1 path:
    exactly one block-pair per bucket (no replication)."""
    from data_validation_engine_spark.llmops.pairs import bounded_self_join

    df = spark.createDataFrame(
        [(i, f"b{i % 5}") for i in range(50)], "id long, bucket string"
    )
    out = bounded_self_join(df, ["bucket"], order_col="id", max_bucket_rows=100)
    blocks = {
        (r["bucket"], r["__blk_i"], r["__blk_j"])
        for r in out.select("bucket", "__blk_i", "__blk_j").collect()
    }
    assert blocks == {(f"b{i}", 0, 0) for i in range(5)}


def test_minhash_pairs_skew_guard_equivalence(docs):
    """minhash_pairs results are independent of max_bucket_rows (the guard
    redistributes work, never changes the pair set)."""
    wide = minhash_pairs(docs, "doc_id", "text", threshold=0.3)
    tight = minhash_pairs(
        docs, "doc_id", "text", threshold=0.3, max_bucket_rows=2
    )
    w = {(r["id_a"], r["id_b"], r["jaccard"]) for r in wide.collect()}
    t = {(r["id_a"], r["id_b"], r["jaccard"]) for r in tight.collect()}
    assert w == t and len(w) > 0


def test_embedding_neardup_skew_guard_equivalence(embs):
    from data_validation_engine_spark.llmops.similarity import (
        embedding_neardup_pairs,
    )

    wide = embedding_neardup_pairs(embs, threshold=0.5, n_planes=2)
    tight = embedding_neardup_pairs(
        embs, threshold=0.5, n_planes=2, max_bucket_rows=3
    )
    w = {(r["id_a"], r["id_b"], r["cosine"]) for r in wide.collect()}
    t = {(r["id_a"], r["id_b"], r["cosine"]) for r in tight.collect()}
    assert w == t and len(w) > 0


def test_ann_partition_pruning(spark, embs, tmp_path):
    """The scale path for repeated probes: embeddings written PARTITIONED
    BY LSH bucket, probe pushed as a static partition filter. Asserts the
    pruned scan (PartitionFilters carries the bucket literal) and result
    parity with the unpartitioned ann_topk on the same planes — turning
    the module-header claim into a tested property."""
    import pathlib

    from data_validation_engine_spark.llmops.similarity import (
        ann_topk,
        ann_topk_partitioned,
        write_lsh_partitioned,
    )

    path = str(tmp_path / "emb_by_bucket")
    write_lsh_partitioned(embs, path, n_planes=3, dim=8)
    # more than one partition directory exists, so pruning is meaningful
    parts = [
        p.name
        for p in pathlib.Path(path).iterdir()
        if p.name.startswith("bucket=")
    ]
    assert len(parts) > 1

    query = embs.where("vec_id = 2")
    probe = ann_topk_partitioned(
        spark, path, query, 5, n_planes=3, dim=8
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    # static partition filter reached the scan: only one directory is read
    assert "PartitionFilters" in plan
    qbucket = probe.select("bucket").first()["bucket"]
    assert f"bucket = {qbucket}" in plan or f"bucket#" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    # all returned rows come from the single probed bucket
    assert {r["bucket"] for r in probe.collect()} <= {qbucket}

    # parity with the unpartitioned probe on the same plane set
    flat = ann_topk(embs, query, 5, n_planes=3, dim=8)
    got = [(r["vec_id"], r["cosine"]) for r in probe.collect()]
    want = [(r["vec_id"], r["cosine"]) for r in flat.collect()]
    assert got == want


def test_connected_components_star_matches_label_propagation(spark):
    """Same clusters as min-label propagation on a mixed graph (two
    transitive clusters + a singleton pair + isolated chain piece)."""
    from data_validation_engine_spark.llmops.dedup import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(1, 3), (2, 3), (10, 11), (11, 12), (12, 13), (20, 21), (30, 31)],
        "id_a long, id_b long",
    )
    label = {
        (r["id"], r["component"])
        for r in connected_components(pairs).collect()
    }
    star = {
        (r["id"], r["component"])
        for r in connected_components_star(pairs).collect()
    }
    assert star == label
    assert (13, 10) in star and (3, 1) in star and (31, 30) in star


@pytest.mark.slow
def test_connected_components_star_fewer_rounds_on_deep_chain(spark):
    """A 33-node chain is the adversarial case for label propagation (the
    min label travels one hop per round -> rounds ~ diameter); the
    star algorithm contracts the chain in O(log^2 n) rounds."""
    from data_validation_engine_spark.llmops.dedup import (
        connected_components,
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(32)], "id_a long, id_b long"
    )
    s_label, s_star = {}, {}
    lab = connected_components(chain, max_iterations=64, stats=s_label)
    star = connected_components_star(chain, stats=s_star)
    assert {tuple(r) for r in lab.collect()} == {(i, 0) for i in range(33)}
    assert {tuple(r) for r in star.collect()} == {(i, 0) for i in range(33)}
    assert s_star["rounds"] < s_label["rounds"], (s_star, s_label)
    # the gap is asymptotic, not incidental: diameter rounds vs ~log^2
    assert s_label["rounds"] >= 32
    assert s_star["rounds"] <= 10


def test_ivf_assignment_is_map_side_and_total(spark):
    """IVF cell assignment is one per-row projection (zero shuffles) and
    assigns every vector to a valid cell."""
    from data_validation_engine_spark.llmops import (
        default_centroids,
        ivf_assign,
    )
    from data_validation_engine_spark.scale import count_shuffles

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = default_centroids(emb, n_cells=8)
    assert len(cents) == 8
    assigned = ivf_assign(emb, cents)
    assert count_shuffles(assigned) == 0
    row = assigned.selectExpr(
        "count(*) AS n",
        "count(cell) AS n_assigned",
        "min(cell) AS lo",
        "max(cell) AS hi",
    ).first()
    assert row["n"] == row["n_assigned"] and 0 <= row["lo"] <= row["hi"] <= 7


def test_ivf_topk_subset_of_bruteforce_order(spark):
    """IVF results are drawn from the probed cells and ranked by the same
    exact cosine as brute force: every IVF hit appears in the brute-force
    ranking with the identical score; full probe (n_probe = n_cells)
    recovers the exact top-k."""
    from data_validation_engine_spark.llmops import cosine_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where("vec_id = 0")
    brute = {
        r["vec_id"]: r["cosine"] for r in cosine_topk(emb, q, 200).collect()
    }
    ivf = ivf_topk(emb, q, 10, n_cells=8, n_probe=2).collect()
    assert 0 < len(ivf) <= 10
    for r in ivf:
        assert brute.get(r["vec_id"]) == pytest.approx(r["cosine"], abs=0)
    full = ivf_topk(emb, q, 10, n_cells=8, n_probe=8)
    exact = cosine_topk(emb, q, 10)
    assert [
        (r["vec_id"], r["cosine"]) for r in full.select("vec_id", "cosine").collect()
    ] == [(r["vec_id"], r["cosine"]) for r in exact.collect()]


def test_ivf_declarable_step_matches_library(spark):
    from data_validation_engine_spark.llmops import ivf_topk
    from data_validation_engine_spark.steps import StepEngine, parse_step

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    entities = {"embeddings": emb, "q": emb.where("vec_id = 5")}
    StepEngine(spark).evaluate(
        entities,
        config=parse_step(
            {
                "operation": "similarity_topk",
                "entity_name": "embeddings",
                "target_name": "q",
                "method": "ivf",
                "k": 7,
                "n_cells": 8,
                "n_probe": 3,
                "new_entity_name": "hits",
            }
        ),
    )
    got = [tuple(r) for r in entities["hits"].collect()]
    want = [
        tuple(r)
        for r in ivf_topk(
            emb, emb.where("vec_id = 5"), 7, n_cells=8, n_probe=3
        ).collect()
    ]
    assert got == want and len(got) > 0


def test_simhash_pairs_finds_near_dups_no_cartesian(docs, spark):
    """Banded simhash pairs: the planted near-dup (one token changed) is
    found within hamming 2 with pigeonhole-exact candidates; identical
    docs pair at hamming 0; the plan never goes cartesian."""
    from data_validation_engine_spark.llmops import simhash_pairs

    out = simhash_pairs(docs, "doc_id", "text", max_hamming=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert pairs.get((0, 3)) == 0  # identical texts
    assert (0, 1) in pairs  # near dup (1 token changed)
    assert (1, 3) in pairs


def test_simhash_pairs_candidates_are_exact_vs_bruteforce(spark):
    """Within max_hamming, banded candidate generation loses NOTHING: the
    pair set equals the brute-force all-pairs hamming filter."""
    from data_validation_engine_spark.llmops import simhash_pairs, simhash_table
    from data_validation_engine_spark.llmops.dedup import hamming_distance
    from pyspark.sql import functions as F

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(120)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    sigs = simhash_table(docs, "doc_id", "text")
    a = sigs.selectExpr("doc_id AS id_a", "simhash AS sa")
    b = sigs.selectExpr("doc_id AS id_b", "simhash AS sb")
    brute = (
        a.crossJoin(b)
        .where("id_a < id_b")
        .select(
            "id_a",
            "id_b",
            hamming_distance(F.col("sa"), F.col("sb")).cast("long").alias("hamming"),
        )
        .where("hamming <= 3")
    )
    want = {(r["id_a"], r["id_b"], r["hamming"]) for r in brute.collect()}
    assert got == want and len(want) > 0


# -- exact n-gram Jaccard pairs (prefix filtering) ---------------------------

def test_ngram_jaccard_exact_pairs(docs):
    """The exact operator returns EVERY pair at/above threshold: the
    duplicate pair at 1.0, both near-dup pairs, nothing touching the
    unrelated doc."""
    from data_validation_engine_spark.llmops import ngram_jaccard_pairs

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert got[(0, 3)] == 1.0
    assert set(got) == {(0, 1), (0, 3), (1, 3)}
    assert got[(0, 1)] == got[(1, 3)] and 0.5 <= got[(0, 1)] < 1.0


def test_ngram_jaccard_matches_bruteforce(spark):
    """Prefix filtering loses NOTHING: the pair set equals the brute-force
    all-pairs exact Jaccard over the same shingle sets (the AllPairs
    prefix-filter theorem, pinned on real corpus text)."""
    from data_validation_engine_spark.llmops import ngram_jaccard_pairs
    from data_validation_engine_spark.llmops.dedup import (
        jaccard_col,
        shingles_col,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(120)
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.3
        ).collect()
    }
    sh = docs.select(
        "doc_id", shingles_col(F.col("text")).alias("sh")
    )
    a = sh.selectExpr("doc_id AS id_a", "sh AS sha")
    b = sh.selectExpr("doc_id AS id_b", "sh AS shb")
    brute = (
        a.crossJoin(b)
        .where("id_a < id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                jaccard_col(F.col("sha"), F.col("shb")), 6
            ).alias("jaccard"),
        )
        .where("jaccard >= 0.3")
    )
    want = {(r["id_a"], r["id_b"], r["jaccard"]) for r in brute.collect()}
    assert got == want and len(want) > 0


def test_ngram_jaccard_plan_no_cartesian(docs):
    from data_validation_engine_spark.llmops import ngram_jaccard_pairs

    plan = (
        ngram_jaccard_pairs(docs, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_declarable_step_matches_library(spark, docs):
    from data_validation_engine_spark.llmops import ngram_jaccard_pairs
    from data_validation_engine_spark.steps import StepEngine, parse_step

    ents = {"documents": docs}
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {
                "operation": "dedup_ngram_pairs",
                "entity_name": "documents",
                "id_column": "doc_id",
                "text_column": "text",
                "threshold": 0.5,
                "new_entity_name": "pairs",
            }
        ),
    )
    step = {tuple(r) for r in ents["pairs"].collect()}
    lib = {
        tuple(r)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert step == lib and len(lib) == 3


# -- deterministic hash split / sample ---------------------------------------

def test_hash_split_deterministic_and_total(spark):
    """Every row gets exactly one stable label; proportions land near the
    requested fractions; a rerun (and a repartition) reproduces the
    assignment bit-for-bit — the property randomSplit does NOT have."""
    from data_validation_engine_spark.llmops import hash_split

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.repartition(13), "doc_id").collect()
    }
    assert a == b and len(a) == docs.count()
    n = len(a)
    from collections import Counter

    c = Counter(a.values())
    assert set(c) <= {"train", "val", "test"}
    assert abs(c["train"] / n - 0.8) < 0.15  # 50 docs: coarse but present


def test_hash_split_fractions_must_sum_to_one(spark):
    import pytest as _pytest

    from data_validation_engine_spark.llmops import hash_split

    docs = spark.range(5).withColumnRenamed("id", "k")
    with _pytest.raises(ValueError):
        hash_split(docs, "k", splits={"a": 0.5, "b": 0.2})


def test_deterministic_sample_nested(spark):
    """Smaller fractions are SUBSETS of larger ones (subsample ladders),
    and the kept count tracks the fraction."""
    from data_validation_engine_spark.llmops import deterministic_sample

    df = spark.range(2000).withColumnRenamed("id", "k")
    s10 = {r["k"] for r in deterministic_sample(df, "k", 0.1).collect()}
    s50 = {r["k"] for r in deterministic_sample(df, "k", 0.5).collect()}
    assert s10 <= s50
    assert abs(len(s50) / 2000 - 0.5) < 0.05
    assert abs(len(s10) / 2000 - 0.1) < 0.03
    # independent seed decorrelates
    t10 = {
        r["k"]
        for r in deterministic_sample(df, "k", 0.1, seed="exp2").collect()
    }
    assert t10 != s10


def test_hash_bucket_matches_duckdb(spark):
    """The bucket formula is engine-independent: DuckDB computes the
    identical assignment from the same keys."""
    import duckdb

    from data_validation_engine_spark.llmops import hash_bucket
    from pyspark.sql import functions as F

    df = spark.range(500).withColumnRenamed("id", "k")
    got = {
        r["k"]: r["b"]
        for r in df.select("k", hash_bucket(F.col("k")).alias("b")).collect()
    }
    want = dict(
        duckdb.sql(
            "SELECT k, ('0x' || substring(md5(CAST(k AS VARCHAR)), 1, 4))::INT"
            " FROM range(500) t(k)"
        ).fetchall()
    )
    assert got == want


def test_hash_split_declarable_step(spark):
    from data_validation_engine_spark.llmops import hash_split
    from data_validation_engine_spark.steps import StepEngine, parse_step

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ents = {"documents": docs}
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {
                "operation": "hash_split",
                "entity_name": "documents",
                "key_column": "doc_id",
                "splits": {"train": 0.9, "test": 0.1},
                "seed": "exp1",
                "new_entity_name": "split_docs",
            }
        ),
    )
    step = {
        r["doc_id"]: r["split"] for r in ents["split_docs"].collect()
    }
    lib = {
        r["doc_id"]: r["split"]
        for r in hash_split(
            docs, "doc_id", splits={"train": 0.9, "test": 0.1}, seed="exp1"
        ).collect()
    }
    assert step == lib and set(lib.values()) <= {"train", "test"}


def test_leakage_safe_split_by_dedup_cluster(spark):
    """Operator composition for the production concern the split operator
    exists for: near-duplicate documents must never straddle train/test.
    minhash pairs -> connected components -> split by CLUSTER id: every
    member of a near-dup cluster lands in the same split, deterministically."""
    from data_validation_engine_spark.llmops import (
        connected_components,
        hash_split,
        minhash_pairs,
    )

    docs = spark.createDataFrame(
        [(0, DOC), (1, NEAR), (2, OTHER), (3, DOC), (4, NEAR)],
        "doc_id long, text string",
    )
    pairs = minhash_pairs(docs, "doc_id", "text", threshold=0.5)
    comps = connected_components(pairs).withColumnRenamed("id", "doc_id")
    labelled = (
        docs.join(comps, "doc_id", "left")
        .withColumn("component", F.coalesce("component", F.col("doc_id")))
    )
    split = hash_split(labelled, "component", splits={"train": 0.5, "test": 0.5})
    rows = {r["doc_id"]: (r["component"], r["split"]) for r in split.collect()}
    # docs 0,1,3,4 form one near-dup cluster; 2 is isolated
    assert len({rows[d][0] for d in (0, 1, 3, 4)}) == 1
    assert len({rows[d][1] for d in (0, 1, 3, 4)}) == 1  # same split
    # assignment is keyed on the cluster id, not the doc id: a member's
    # split equals hash_split of its component value
    comp_split = {
        r["component"]: r["split"]
        for r in hash_split(
            split.select("component").distinct(),
            "component",
            splits={"train": 0.5, "test": 0.5},
        ).collect()
    }
    for d, (c, s) in rows.items():
        assert comp_split[c] == s


def test_connected_components_raises_on_nonconvergence(spark):
    """Hitting max_iterations with labels still moving is a WRONG-RESULT
    condition (half-merged clusters), so it raises instead of returning."""
    import pytest as _pytest

    from data_validation_engine_spark.llmops.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=3)
    # and one round above the diameter budget converges cleanly
    ok = connected_components(chain, max_iterations=13)
    assert {tuple(r) for r in ok.collect()} == {(i, 0) for i in range(13)}


# -- as-of (point-in-time) join ----------------------------------------------

def test_asof_join_semantics(spark):
    """Inclusive at-or-before, per-key, LEFT semantics."""
    from data_validation_engine_spark.llmops import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 7, "d")],
        "k long, ts long, ev string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 9, 900.0)],
        "k long, ts long, v double",
    )
    got = {
        r["ev"]: (r["asof_ts"], r["asof_v"])
        for r in asof_join(
            left, right, "k", left_ts="ts", right_ts="ts"
        ).collect()
    }
    assert got == {
        "c": (None, None),       # nothing at-or-before 5
        "a": (10, 100.0),        # equal timestamp matches
        "b": (15, 150.0),        # latest preceding, not first
        "d": (None, None),       # other key's rows invisible
    }


def test_asof_join_matches_bruteforce(spark):
    """The window formulation equals the definitional join: for every
    left row, the right row with max(ts) among those <= left.ts."""
    from data_validation_engine_spark.llmops import asof_join
    from pyspark.sql import Window

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    left = ev.where("event_type <> 'purchase'").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.where("event_type = 'purchase'")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("v"))
    )
    got = {
        (r["event_id"], r["asof_ts"], r["asof_v"])
        for r in asof_join(
            left, right, "user_id", left_ts="ts", right_ts="ts",
            value_cols=["v"],
        ).collect()
    }
    w = Window.partitionBy("event_id").orderBy(F.col("r_ts").desc())
    best = (
        left.join(
            right.selectExpr("user_id", "ts AS r_ts", "v"), on="user_id"
        )
        .where("r_ts <= ts")
        .withColumn("__rn", F.row_number().over(w))
        .where("__rn = 1")
        .select("event_id", "r_ts", "v")
    )
    # unmatched left rows (no purchase at-or-before, or none at all) must
    # surface with nulls — LEFT semantics
    brute = left.join(best, on="event_id", how="left")
    want = {
        (r["event_id"], r["r_ts"], r["v"]) for r in brute.collect()
    }
    assert got == want and len(got) > 100
    assert any(m is None for _, m, _ in got)  # both outcomes exercised
    assert any(m is not None for _, m, _ in got)


def test_asof_join_single_shuffle_and_no_range_join(spark):
    from data_validation_engine_spark.llmops import asof_join
    from data_validation_engine_spark.scale import count_shuffles

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    left = ev.select("event_id", "user_id", "ts")
    right = ev.where("event_type = 'purchase'").select(
        "user_id", "ts", "value"
    )
    out = asof_join(left, right, "user_id", left_ts="ts", right_ts="ts")
    assert count_shuffles(out) == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_prefix_collision_raises(spark):
    import pytest as _pytest

    from data_validation_engine_spark.llmops import asof_join

    left = spark.createDataFrame([(1, 10, 0.0)], "k long, ts long, asof_v double")
    right = spark.createDataFrame([(1, 5, 1.0)], "k long, ts long, v double")
    with _pytest.raises(ValueError, match="collide"):
        asof_join(left, right, "k", left_ts="ts", value_cols=["v"])


def test_asof_join_declarable_step(spark):
    from data_validation_engine_spark.llmops import asof_join
    from data_validation_engine_spark.steps import StepEngine, parse_step

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ents = {
        "clicks": ev.where("event_type = 'click'").select(
            "event_id", "user_id", "ts"
        ),
        "purchases": ev.where("event_type = 'purchase'").select(
            "user_id", "ts", "value"
        ),
    }
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {
                "operation": "asof_join",
                "entity_name": "clicks",
                "target_name": "purchases",
                "on": ["user_id"],
                "left_ts": "ts",
                "new_entity_name": "enriched",
            }
        ),
    )
    step = {tuple(r) for r in ents["enriched"].collect()}
    lib = {
        tuple(r)
        for r in asof_join(
            ents["clicks"], ents["purchases"], "user_id", left_ts="ts"
        ).collect()
    }
    assert step == lib and len(lib) > 10


def test_asof_join_forward_direction(spark):
    """direction='forward': the EARLIEST right row at-or-after, per key
    (next-event labelling)."""
    from data_validation_engine_spark.llmops import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 30, "c"), (2, 7, "d")],
        "k long, ts long, ev string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 25, 250.0), (2, 5, 500.0)],
        "k long, ts long, v double",
    )
    got = {
        r["ev"]: (r["asof_ts"], r["asof_v"])
        for r in asof_join(
            left, right, "k", left_ts="ts", direction="forward"
        ).collect()
    }
    assert got == {
        "a": (10, 100.0),   # equal ts matches (inclusive)
        "b": (25, 250.0),   # earliest following, not latest
        "c": (None, None),  # nothing at-or-after 30
        "d": (None, None),  # key 2's only row is in the past
    }


def test_asof_join_tolerance_nulls_stale_matches(spark):
    from data_validation_engine_spark.llmops import asof_join

    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 200, "b")], "k long, ts long, ev string"
    )
    right = spark.createDataFrame(
        [(1, 95, 1.0)], "k long, ts long, v double"
    )
    no_cap = {
        r["ev"]: r["asof_v"]
        for r in asof_join(left, right, "k", left_ts="ts").collect()
    }
    capped = {
        r["ev"]: (r["asof_ts"], r["asof_v"])
        for r in asof_join(
            left, right, "k", left_ts="ts", tolerance=10
        ).collect()
    }
    assert no_cap == {"a": 1.0, "b": 1.0}
    # within 10 units: kept; 105 units stale: BOTH carried columns null
    assert capped == {"a": (95, 1.0), "b": (None, None)}


def test_asof_join_bad_direction_raises(spark):
    import pytest as _pytest

    from data_validation_engine_spark.llmops import asof_join

    df = spark.createDataFrame([(1, 1)], "k long, ts long")
    with _pytest.raises(ValueError, match="direction"):
        asof_join(df, df, "k", left_ts="ts", direction="nearest")


def test_stratified_sample_deterministic_per_stratum(spark):
    """Per-stratum fractions apply independently; same key ⇒ same outcome
    across reruns; kept sets nest as a stratum's fraction grows; absent
    strata default to dropped."""
    from data_validation_engine_spark.llmops import (
        deterministic_sample,
        stratified_sample,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fr = {"en": 0.5, "code": 0.1}
    s1 = {r["doc_id"] for r in stratified_sample(
        docs, "doc_id", "lang", fr).collect()}
    s2 = {r["doc_id"] for r in stratified_sample(
        docs, "doc_id", "lang", fr).collect()}
    assert s1 == s2 and len(s1) > 0
    # per-stratum equivalence: stratum members kept by stratified ==
    # plain deterministic sampling of that stratum at its fraction
    for lang, frac in fr.items():
        sub = docs.where(F.col("lang") == lang)
        want = {r["doc_id"] for r in deterministic_sample(
            sub, "doc_id", frac).collect()}
        got = {d for d in s1} & {
            r["doc_id"] for r in sub.select("doc_id").collect()}
        assert got == want, lang
    # strata not named are dropped entirely by default
    named = {r["doc_id"] for r in docs.where(
        F.col("lang").isin(list(fr))).select("doc_id").collect()}
    assert s1 <= named
    # nesting within a stratum
    grown = {r["doc_id"] for r in stratified_sample(
        docs, "doc_id", "lang", {"en": 0.8, "code": 0.1}).collect()}
    assert s1 <= grown


def test_stratified_sample_declarable_step(spark):
    from data_validation_engine_spark.llmops import stratified_sample
    from data_validation_engine_spark.steps import StepEngine, parse_step

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ents = {"documents": docs}
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {
                "operation": "stratified_sample",
                "entity_name": "documents",
                "key_column": "doc_id",
                "strata_column": "lang",
                "fractions": {"en": 0.3},
                "default_fraction": 1.0,
                "new_entity_name": "mixed",
            }
        ),
    )
    step = {r["doc_id"] for r in ents["mixed"].collect()}
    lib = {
        r["doc_id"]
        for r in stratified_sample(
            docs, "doc_id", "lang", {"en": 0.3}, default_fraction=1.0
        ).collect()
    }
    assert step == lib and 0 < len(lib) < docs.count()


def test_asof_join_composite_key(spark):
    """Multi-column keys partition the as-of lookup correctly."""
    from data_validation_engine_spark.llmops import asof_join

    left = spark.createDataFrame(
        [(1, "x", 10), (1, "y", 10), (2, "x", 10)],
        "k long, sub string, ts long",
    )
    right = spark.createDataFrame(
        [(1, "x", 5, 1.0), (1, "y", 7, 2.0), (2, "y", 3, 9.0)],
        "k long, sub string, ts long, v double",
    )
    got = {
        (r["k"], r["sub"]): r["asof_v"]
        for r in asof_join(
            left, right, ["k", "sub"], left_ts="ts"
        ).collect()
    }
    assert got == {(1, "x"): 1.0, (1, "y"): 2.0, (2, "x"): None}


def test_transform_binary_fake_resizer(spark):
    """Resize plumbing: payloads come back exactly target_bytes long,
    bytes out (writable as a multimodal column), per-row errors contained."""
    from data_validation_engine_spark.llmops.multimodal import (
        attach_binary,
        codec_resizer,
        fake_resizer,
        transform_binary,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(50)
    wb = attach_binary(docs, "text")
    out = transform_binary(
        wb, "doc_id", transform=fake_resizer(target_bytes=64)
    ).collect()
    assert len(out) == 50
    assert all(r.n_bytes == 64 and len(r.content) == 64 for r in out)
    assert all(r.transform_error is None for r in out)
    # truncate-or-pad is deterministic: prefix matches the source text
    src = {r.doc_id: r.text.encode()[:64] for r in docs.collect()}
    assert all(bytes(r.content).rstrip(b"\0") == src[r.id].rstrip(b"\0") for r in out)

    # a failing transform is contained per-row, not per-task
    def explode_on_short(payload: bytes) -> bytes:
        if len(payload) < 400:
            raise ValueError("too small")
        return payload[:8]

    mixed = transform_binary(wb, "doc_id", transform=explode_on_short).collect()
    assert any(r.transform_error is not None for r in mixed)
    assert any(r.transform_error is None for r in mixed)

    # the codec stub fails loudly, by contract
    import pytest as _pytest

    with _pytest.raises(Exception):
        transform_binary(wb, "doc_id").collect()


# -- round-6 corpus hygiene: repetition / PII / decontamination ---------------


def test_repetition_stats_semantics(spark):
    from data_validation_engine_spark.llmops import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a a a a a"),            # one token repeated: fully repetitive
            (2, "one two three four five six"),  # all distinct
            (3, "x y x y x y"),          # bigram cycle
            (4, ""),                     # degenerate: zero tokens
            (5, "solo"),                 # shorter than any n-gram
            (6, None),                   # NULL text == blank
        ],
        "doc_id int, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in repetition_stats(df, "doc_id", "text").collect()
    }
    assert rows[1]["top_token_frac"] == 1.0
    assert rows[1]["dup_bigram_frac"] == 0.75  # 4 bigrams, 1 distinct
    assert rows[1]["repetitive"]
    assert rows[2]["top_token_frac"] == round(1 / 6, 6)
    assert rows[2]["dup_bigram_frac"] == 0.0
    assert not rows[2]["repetitive"]
    # 'x y x y x y': 5 bigrams, 2 distinct -> 0.6; top token 3/6
    assert rows[3]["dup_bigram_frac"] == 0.6
    assert rows[3]["top_token_frac"] == 0.5
    for d in (4, 5, 6):
        assert rows[d]["dup_bigram_frac"] == 0.0
        assert rows[d]["dup_trigram_frac"] == 0.0
    assert rows[4]["top_token_frac"] == 0.0 and not rows[4]["repetitive"]
    assert rows[6]["n_tokens"] == 0


def test_pii_scrub_redacts_and_counts(spark):
    from data_validation_engine_spark.llmops import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "write to alice.smith+x@example.co.uk today"),
            (2, "card 4111111111111111 exp 12/29"),
            (3, "from 192.168.0.1 to 10.0.0.254"),
            (4, "clean text, nothing to redact"),
            (5, None),
        ],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in pii_scrub(df, "doc_id", "text").collect()}
    assert rows[1]["n_emails"] == 1 and "<EMAIL>" in rows[1]["clean"]
    assert "alice" not in rows[1]["clean"]
    assert rows[2]["n_longnums"] == 1 and "<NUM>" in rows[2]["clean"]
    assert rows[3]["n_ips"] == 2 and rows[3]["clean"].count("<IP>") == 2
    assert rows[4]["clean"] == "clean text, nothing to redact"
    assert (rows[4]["n_emails"], rows[4]["n_longnums"], rows[4]["n_ips"]) == (0, 0, 0)
    assert rows[5]["clean"] == ""  # NULL normalises to blank


def test_pii_scrub_email_digits_not_double_redacted(spark):
    """An email containing a long digit run is redacted as ONE email, not
    an email plus a card number (replacement order is load-bearing)."""
    from data_validation_engine_spark.llmops import pii_scrub

    df = spark.createDataFrame(
        [(1, "user12345678901234@host.org")], "doc_id int, text string"
    )
    row = pii_scrub(df, "doc_id", "text").first()
    assert row["n_emails"] == 1 and row["n_longnums"] == 0
    assert row["clean"] == "<EMAIL>"


def test_decontaminate_flags_overlap(spark):
    from data_validation_engine_spark.llmops import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id int, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains a benchmark 5-gram verbatim
            (1, "intro text the quick brown fox jumps and more"),
            # same words, different order: no shared 5-gram
            (2, "fox brown quick the jumps dog lazy the over"),
            # exact copy: every 5-gram hits
            (3, "the quick brown fox jumps over the lazy dog"),
            (4, ""),
        ],
        "doc_id int, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in decontaminate(corpus, bench, "doc_id", "text").collect()
    }
    assert rows[1]["contaminated"] and rows[1]["n_hits"] == 1
    assert not rows[2]["contaminated"] and rows[2]["n_hits"] == 0
    assert rows[3]["contaminated"] and rows[3]["n_hits"] == 5
    assert not rows[4]["contaminated"]
    assert len(rows) == 4  # one row per corpus doc, flagged or not


def test_decontaminate_short_doc_whole_text_gram(spark):
    """Docs shorter than the n-gram contribute their whole text, so an
    exact short-text leak still flags."""
    from data_validation_engine_spark.llmops import decontaminate

    bench = spark.createDataFrame([(9, "two words")], "doc_id int, text string")
    corpus = spark.createDataFrame(
        [(1, "two words"), (2, "other words")], "doc_id int, text string"
    )
    rows = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate(corpus, bench, "doc_id", "text").collect()
    }
    assert rows == {1: True, 2: False}


# -- round-6 sequence preparation: chunking + packing --------------------------


def test_chunk_documents_windows_and_overlap(spark):
    from data_validation_engine_spark.llmops import chunk_documents

    df = spark.createDataFrame(
        [
            (1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),  # 10 tokens
            (2, "a b"),                             # shorter than one chunk
            (3, ""),                                # zero tokens -> zero rows
        ],
        "doc_id int, text string",
    )
    rows = chunk_documents(
        df, "doc_id", "text", chunk_tokens=4, overlap=1
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # starts step by 3: 0,3,6,9 -> windows of <=4 tokens each
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["chunk_text"] for r in c1] == [
        "t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9", "t9",
    ]
    assert [r["n_chunk_tokens"] for r in c1] == [4, 4, 4, 1]
    # overlap: last token of each window is the first of the next
    assert by_doc[2][0]["chunk_text"] == "a b"
    assert 3 not in by_doc


def test_chunk_documents_rejects_bad_overlap(spark):
    from data_validation_engine_spark.llmops import chunk_documents

    df = spark.createDataFrame([(1, "a b")], "doc_id int, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=4)


def test_pack_sequences_concat_and_split_rule(spark):
    from data_validation_engine_spark.llmops import pack_sequences

    # single shard so the running offset is deterministic by doc_id order
    df = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in [(1, 6), (2, 6), (3, 6), (4, 2)]],
        "doc_id int, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in pack_sequences(
            df, "doc_id", "text", capacity=10, n_shards=1
        ).collect()
    }
    # offsets 0, 6, 12, 18 -> packs 0, 0, 1, 1
    assert [rows[i]["pack_idx"] for i in (1, 2, 3, 4)] == [0, 0, 1, 1]
    assert [rows[i]["pack_offset"] for i in (1, 2, 3, 4)] == [0, 6, 2, 8]
    assert all(r["shard"] == 0 for r in rows.values())


def test_pack_sequences_shards_partition_work(spark):
    """Every shard's packs fill contiguously: within a shard, consecutive
    docs' offsets are the running token sum (no cross-shard interference)."""
    from data_validation_engine_spark.llmops import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = pack_sequences(
        docs, "doc_id", "text", capacity=512, n_shards=8
    ).collect()
    assert {r["shard"] for r in out} == set(range(8))
    by_shard = {}
    for r in sorted(out, key=lambda r: (r["shard"], r["doc_id"])):
        prev = by_shard.get(r["shard"], 0)
        assert r["pack_idx"] * 512 + r["pack_offset"] == prev
        by_shard[r["shard"]] = prev + r["n_tokens"]


def test_chunk_documents_reconstructs_corpus(spark):
    """Dropping each non-first chunk's overlap prefix and concatenating
    reconstructs every document's token stream exactly (no token lost or
    duplicated by the windowing) — checked over the whole sf0.001 corpus."""
    from data_validation_engine_spark.llmops import chunk_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    chunk_tokens, overlap = 32, 8
    out = chunk_documents(
        docs, "doc_id", "text", chunk_tokens=chunk_tokens, overlap=overlap
    ).collect()
    chunks = {}
    for r in out:
        chunks.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r["chunk_text"]
    originals = {
        r["doc_id"]: r["text"].split() for r in docs.collect() if r["text"]
    }
    assert set(chunks) == {d for d, t in originals.items() if t}
    for doc_id, by_idx in chunks.items():
        rebuilt = []
        for i in range(len(by_idx)):
            toks = by_idx[i].split()
            rebuilt.extend(toks if i == 0 else toks[overlap:])
        # trailing windows shorter than overlap re-emit already-seen tokens
        # (documented stride rule), so compare against the rebuilt prefix
        assert rebuilt[: len(originals[doc_id])] == originals[doc_id], doc_id


# -- round-6 vector aggregation: centroids + nearest-prototype -----------------


def test_label_centroids_exact_small_case(spark):
    from data_validation_engine_spark.llmops import label_centroids

    df = spark.createDataFrame(
        [
            (0, 0, [1.0, 0.0]),
            (1, 0, [3.0, 2.0]),
            (2, 1, [0.0, 4.0]),
        ],
        "vec_id long, label int, embedding array<float>",
    )
    rows = {
        r["label"]: r
        for r in label_centroids(
            df, "label", "vec_id", "embedding", dim=2
        ).collect()
    }
    assert rows[0]["n"] == 2 and rows[0]["centroid"] == [2.0, 1.0]
    assert rows[1]["n"] == 1 and rows[1]["centroid"] == [0.0, 4.0]


def test_label_centroids_partitioning_independent(spark):
    """The two-level ordered fold gives bit-identical centroids regardless
    of input partitioning AND segment size — the determinism claim naive
    float groupBy-sum cannot make."""
    from data_validation_engine_spark.llmops import label_centroids

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = sorted(
        tuple(r)
        for r in label_centroids(
            embs, "label", "vec_id", "embedding", dim=64, segment_size=16
        ).collect()
    )
    reparted = sorted(
        tuple(r)
        for r in label_centroids(
            embs.repartition(13),
            "label", "vec_id", "embedding", dim=64, segment_size=16,
        ).collect()
    )
    assert base == reparted and len(base) > 1
    # NOTE: different segment sizes change fold grouping, hence potentially
    # the last float bits — determinism is per (order, segment_size), which
    # both engines share. Same size must match; that is the contract.


def test_nearest_centroid_assigns_and_breaks_ties(spark):
    from data_validation_engine_spark.llmops import (
        label_centroids,
        nearest_centroid,
    )

    df = spark.createDataFrame(
        [
            (0, 0, [1.0, 0.0]),
            (1, 1, [0.0, 1.0]),
            (2, 0, [2.0, 0.1]),
        ],
        "vec_id long, label int, embedding array<float>",
    )
    cents = label_centroids(df, "label", "vec_id", "embedding", dim=2)
    got = {
        r["vec_id"]: r["assigned_label"]
        for r in nearest_centroid(df, cents).collect()
    }
    assert got[0] == 0 and got[2] == 0 and got[1] == 1
    # exact tie: equidistant vector -> lowest label wins deterministically
    tie = spark.createDataFrame(
        [(9, 0, [1.0, 1.0])], "vec_id long, label int, embedding array<float>"
    )
    two = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "label int, centroid array<double>",
    )
    r = nearest_centroid(tie, two).first()
    assert r["assigned_label"] == 0


def test_centroid_steps_match_library(spark):
    from data_validation_engine_spark.llmops import (
        label_centroids,
        nearest_centroid,
    )
    from data_validation_engine_spark.steps import StepEngine, parse_step

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ents = {"embeddings": embs}
    eng = StepEngine(spark)
    eng.evaluate(
        ents,
        config=parse_step(
            {"operation": "label_centroids", "entity_name": "embeddings",
             "dim": 64, "new_entity_name": "cents"}
        ),
    )
    eng.evaluate(
        ents,
        config=parse_step(
            {"operation": "nearest_centroid", "entity_name": "embeddings",
             "target_name": "cents", "new_entity_name": "assigned"}
        ),
    )
    lib_c = label_centroids(embs, "label", "vec_id", "embedding", dim=64)
    lib_a = nearest_centroid(embs, lib_c)

    def freeze(df):
        return {
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.collect()
        }

    assert freeze(ents["cents"]) == freeze(lib_c)
    assert freeze(ents["assigned"]) == freeze(lib_a)


def test_build_vocab_counts_and_floors(spark):
    from data_validation_engine_spark.llmops import build_vocab

    df = spark.createDataFrame(
        [
            (1, "a a b c"),
            (2, "a b"),
            (3, ""),
        ],
        "doc_id int, text string",
    )
    all_terms = {
        r["term"]: (r["count"], r["doc_freq"])
        for r in build_vocab(df, "doc_id", "text").collect()
    }
    assert all_terms == {"a": (3, 2), "b": (2, 2), "c": (1, 1)}
    floored = {
        r["term"]
        for r in build_vocab(
            df, "doc_id", "text", min_count=2, min_doc_freq=2
        ).collect()
    }
    assert floored == {"a", "b"}


def test_build_vocab_declarable_step(spark):
    from data_validation_engine_spark.llmops import build_vocab
    from data_validation_engine_spark.steps import StepEngine, parse_step

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ents = {"documents": docs}
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {"operation": "build_vocab", "entity_name": "documents",
             "id_column": "doc_id", "min_count": 3,
             "new_entity_name": "vocab"}
        ),
    )
    step = {tuple(r) for r in ents["vocab"].collect()}
    lib = {
        tuple(r)
        for r in build_vocab(docs, "doc_id", "text", min_count=3).collect()
    }
    assert step == lib and len(lib) > 0


def test_label_centroids_negative_order_floor_semantics(spark):
    """Segment bucketing uses FLOOR division (DuckDB `//`), not Spark's
    truncate-toward-zero `div` — negative order values must land in the
    same segments in both engines for the fold to be bit-identical."""
    from data_validation_engine_spark.llmops import label_centroids

    df = spark.createDataFrame(
        [(-1, 0, [1.0, 2.0]), (1, 0, [3.0, 4.0]), (-65, 0, [5.0, 6.0])],
        "vec_id long, label int, embedding array<float>",
    )
    row = label_centroids(
        df, "label", "vec_id", "embedding", dim=2, segment_size=64
    ).first()
    # floor buckets: -65 -> -2, -1 -> -1, 1 -> 0; fold order is
    # (5,6) then (1,2) then (3,4) -> mean (3, 4)
    assert row["n"] == 3 and row["centroid"] == [3.0, 4.0]


def test_ivf_served_by_engine_trained_centroids(spark):
    """Composition: the deterministic label centroids double as an IVF
    coarse quantizer trained BY the engine itself — per-label prototypes
    become the cell layout, and the probe still returns exact cosines
    from the pruned cells (recall >= the same-k probe under the
    placeholder quantizer, since label cells align with the corpus
    structure)."""
    from data_validation_engine_spark.llmops import (
        cosine_topk,
        ivf_topk,
        label_centroids,
    )

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = [
        list(r["centroid"])
        for r in label_centroids(
            embs, "label", "vec_id", "embedding", dim=64
        ).orderBy("label").collect()
    ]
    q = embs.where("vec_id = 0")
    got = ivf_topk(embs, q, 10, centroids=cents, n_probe=4)
    rows = got.collect()
    assert len(rows) == 10
    cosines = [r["cosine"] for r in rows]
    assert cosines == sorted(cosines, reverse=True)
    # probed-cell results are a subset of the exact brute-force ranking
    exact = {
        r["vec_id"]: r["cosine"] for r in cosine_topk(embs, q, 500).collect()
    }
    for r in rows:
        assert exact[r["vec_id"]] == r["cosine"]


def test_knn_join_all_rows_ranked(spark, embs):
    from data_validation_engine_spark.llmops import knn_join

    out = knn_join(embs, 3, dim=8, n_planes=2).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["vec_id"], []).append(r)
    assert len(by_src) > 1
    for src, rows in by_src.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 3
        cosines = [r["cosine"] for r in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r["neighbour"] != src for r in rows)


def test_knn_join_symmetric_candidates(spark):
    """Every candidate pair serves both directions: if b is in a's
    same-bucket candidate set, a is in b's (ranks may differ)."""
    from data_validation_engine_spark.llmops import knn_join

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # k large enough to keep every candidate: directed edges come in pairs
    out = knn_join(embs, 10_000)
    edges = {(r["vec_id"], r["neighbour"]) for r in out.collect()}
    assert edges and all((b, a) in edges for (a, b) in edges)


def test_knn_join_or_amplification_adds_candidates(spark):
    from data_validation_engine_spark.llmops import knn_join

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    single = knn_join(embs, 10_000, n_tables=1).count()
    amplified = knn_join(embs, 10_000, n_tables=3).count()
    assert amplified >= single


def test_knn_join_plan_no_cartesian(spark):
    from data_validation_engine_spark.llmops import knn_join

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = (
        knn_join(embs, 5)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_join_declarable_step(spark):
    from data_validation_engine_spark.llmops import knn_join
    from data_validation_engine_spark.steps import StepEngine, parse_step

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ents = {"embeddings": embs}
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {"operation": "knn_join", "entity_name": "embeddings",
             "k": 5, "new_entity_name": "knn"}
        ),
    )
    step = {tuple(r) for r in ents["knn"].collect()}
    lib = {tuple(r) for r in knn_join(embs, 5).collect()}
    assert step == lib and len(lib) > 0


@pytest.mark.slow
def test_minhash_dedup_best_quality_survivor(spark):
    """quality_col switches survivor selection from min-id to best
    quality per exact cluster (production shape: keep the cleanest copy);
    ties break to the ascending id."""
    from data_validation_engine_spark.llmops import minhash_dedup

    docs = spark.createDataFrame(
        [
            (0, DOC, 1.0),
            (1, DOC, 9.0),   # same cluster as 0 and 3, best quality
            (3, DOC, 9.0),   # ties with 1 -> 1 wins (lower id)
            (2, OTHER, 0.1),  # unpaired: always survives
        ],
        "doc_id long, text string, quality double",
    )
    kept = {
        r["doc_id"]
        for r in minhash_dedup(
            docs, "doc_id", "text", quality_col="quality"
        ).collect()
    }
    assert kept == {1, 2}
    worst = {
        r["doc_id"]
        for r in minhash_dedup(
            docs, "doc_id", "text",
            quality_col="quality", higher_is_better=False,
        ).collect()
    }
    assert worst == {0, 2}


@pytest.mark.slow
def test_minhash_dedup_quality_step_matches_library(spark):
    from data_validation_engine_spark.llmops import minhash_dedup, text_stats
    from data_validation_engine_spark.steps import StepEngine, parse_step

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).withColumn("q", F.col("n_chars").cast("double"))
    ents = {"documents": docs}
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {"operation": "dedup_minhash", "entity_name": "documents",
             "id_column": "doc_id", "text_column": "text",
             "quality_column": "q", "new_entity_name": "kept"}
        ),
    )
    step = {r["doc_id"] for r in ents["kept"].collect()}
    lib = {
        r["doc_id"]
        for r in minhash_dedup(
            docs, "doc_id", "text", quality_col="q"
        ).collect()
    }
    assert step == lib and 0 < len(lib) <= docs.count()


@pytest.mark.slow
def test_kmeans_fit_deterministic_and_improving(spark):
    """kmeans_fit is bit-identical under repartition (the whole point of
    the ordered-fold update) and each iteration does not increase the
    total squared-L2 cost (Lloyd's invariant, modulo the documented
    per-iteration rounding)."""
    from data_validation_engine_spark.llmops import kmeans_fit
    from data_validation_engine_spark.llmops.ivf import ivf_assign, l2sq_col

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def cost(cents):
        assigned = ivf_assign(embs.select("vec_id", "embedding"), cents)
        cent_df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)],
            "cell int, c array<double>",
        )
        return (
            assigned.join(cent_df, on="cell")
            .select(
                l2sq_col(F.col("embedding"), F.col("c")).alias("d")
            )
            .agg(F.sum("d"))
            .first()[0]
        )

    c1 = kmeans_fit(embs, 4, dim=64, n_iters=1, segment_size=64)
    c2 = kmeans_fit(embs, 4, dim=64, n_iters=2, segment_size=64)
    c2_rep = kmeans_fit(
        embs.repartition(7), 4, dim=64, n_iters=2, segment_size=64
    )
    assert c2 == c2_rep
    assert len(c2) == 4 and all(len(c) == 64 for c in c2)
    assert cost(c2) <= cost(c1) * 1.000001  # tolerance for 6dp rounding


def test_kmeans_empty_cell_keeps_previous_centroid(spark):
    """A centroid that captures no points keeps its previous coordinates
    instead of vanishing or going NaN."""
    from data_validation_engine_spark.llmops import kmeans_fit

    # two tight clusters; k=3 seeded by the first three points leaves the
    # seed inside a cluster with no exclusive territory after one update
    pts = [(0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [10.0, 10.0]),
           (3, [10.1, 10.0]), (4, [0.05, 0.0])]
    df = spark.createDataFrame(
        pts, "vec_id long, embedding array<float>"
    )
    cents = kmeans_fit(df, 3, dim=2, n_iters=3, segment_size=4)
    assert len(cents) == 3
    assert all(all(v == v for v in c) for c in cents)  # no NaN


def test_kmeans_declarable_step(spark):
    from data_validation_engine_spark.llmops import kmeans_fit
    from data_validation_engine_spark.llmops.ivf import ivf_assign
    from data_validation_engine_spark.steps import StepEngine, parse_step

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ents = {"embeddings": embs}
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {"operation": "kmeans", "entity_name": "embeddings",
             "k": 4, "n_iters": 2, "segment_size": 64,
             "new_entity_name": "cells"}
        ),
    )
    got = {
        r["cell"]: (r["n"], list(r["centroid"]))
        for r in ents["cells"].collect()
    }
    cents = kmeans_fit(embs, 4, dim=64, n_iters=2, segment_size=64)
    counts = {
        r["cell"]: r["n"]
        for r in ivf_assign(embs.select("vec_id", "embedding"), cents)
        .groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == {
        i: (counts.get(i, 0), c) for i, c in enumerate(cents)
    }


def test_kmeans_centroids_feed_ivf(spark):
    """The trained quantizer drops straight into the IVF probe."""
    from data_validation_engine_spark.llmops import ivf_topk, kmeans_fit

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = kmeans_fit(embs, 4, dim=64, n_iters=2, segment_size=64)
    out = ivf_topk(embs, embs.where("vec_id = 0"), 5,
                   centroids=cents, n_probe=2).collect()
    assert len(out) == 5
    cos = [r["cosine"] for r in out]
    assert cos == sorted(cos, reverse=True)


class TestDecontaminateBloom:
    def _frames(self, spark):
        bench = spark.createDataFrame(
            [(1, "the secret benchmark answer is forty two exactly")],
            "qid long, text string",
        )
        corpus = spark.createDataFrame(
            [
                (1, "a clean document about spark joins and shuffles"),
                (2, "leaked: the secret benchmark answer is forty two exactly copied"),
                (3, "another unrelated clean text body with words"),
            ],
            "doc_id long, text string",
        )
        return corpus, bench

    def test_identical_to_exact_operator(self, spark):
        from data_validation_engine_spark.llmops.decontam import (
            decontaminate,
            decontaminate_bloom,
        )

        corpus, bench = self._frames(spark)
        exact = sorted(
            map(tuple, decontaminate(corpus, bench, "doc_id", "text", ngram=4).collect())
        )
        via_bloom = sorted(
            map(
                tuple,
                decontaminate_bloom(
                    corpus, bench, "doc_id", "text", ngram=4, m_bits=4096
                ).collect(),
            )
        )
        assert via_bloom == exact
        flagged = {t[0]: t[2] for t in via_bloom}
        assert flagged == {1: False, 2: True, 3: False}

    def test_triage_mode_never_misses(self, spark):
        from data_validation_engine_spark.llmops.decontam import (
            decontaminate_bloom,
        )

        corpus, bench = self._frames(spark)
        out = {
            r["doc_id"]: (r["n_hits"], r["contaminated"])
            for r in decontaminate_bloom(
                corpus, bench, "doc_id", "text", ngram=4,
                m_bits=4096, exact_verify=False,
            ).collect()
        }
        assert out[2] == (None, True)  # the true hit always flags
        assert len(out) == 3

    def test_screen_is_joinless_projection(self, spark):
        from data_validation_engine_spark.llmops.decontam import (
            decontaminate_bloom,
        )

        corpus, bench = self._frames(spark)
        plan = (
            decontaminate_bloom(
                corpus, bench, "doc_id", "text", ngram=4,
                m_bits=4096, exact_verify=False,
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # r13 round 2 shape: the probe runs over EXPLODED shingle rows
        # as codegen projections against the 1-row word-array
        # broadcast; the only exchanges carry the doc-id sliver (the
        # suspect distinct + the id-universe join) — never shingle or
        # corpus text bytes
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "shingle" not in line and "text" not in line, line
        assert plan.count("Exchange hashpartitioning") <= 2
        # bench grams were collected into the filter before this plan:
        # the corpus long-doc branch is the single Generate
        assert plan.count("Generate explode") == 1


class TestHardNegativeSamples:
    def _vectors(self, spark):
        import math
        import random

        rng = random.Random(3)
        rows = []
        # 3 well-separated clusters in 8-d: in-cluster cosines high,
        # cross-cluster moderate via a shared component
        for c in range(3):
            base = [0.0] * 8
            base[c] = 1.0
            base[7] = 1.2  # shared direction: cross-cluster cos ~0.59
            for i in range(20):
                v = [
                    b + rng.uniform(-0.05, 0.05) for b in base
                ]
                n = math.sqrt(sum(x * x for x in v))
                rows.append((c * 100 + i, [x / n for x in v]))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_band_and_rank_contract(self, spark):
        from data_validation_engine_spark.llmops.similarity import (
            hard_negative_samples,
        )

        df = self._vectors(spark)
        out = hard_negative_samples(
            df, 5, dim=8, n_planes=1,
            min_cosine=0.4, max_cosine=0.9,
        ).collect()
        assert out, "no hard negatives found at all"
        per = {}
        for r in out:
            assert 0.4 <= r["cosine"] <= 0.9
            assert r["vec_id"] != r["neighbour"]
            per.setdefault(r["vec_id"], []).append(r)
        for anchor, rows in per.items():
            ranks = sorted(r["rank"] for r in rows)
            assert ranks == list(range(1, len(rows) + 1))
            assert len(rows) <= 5
            # hard negatives live in OTHER clusters (in-cluster ~0.99+)
            assert all(
                r["neighbour"] // 100 != anchor // 100 for r in rows
            )

    def test_validation(self, spark):
        import pytest as _pytest

        from data_validation_engine_spark.llmops.similarity import (
            hard_negative_samples,
        )

        df = self._vectors(spark)
        with _pytest.raises(ValueError):
            hard_negative_samples(df, 0, dim=8)
        with _pytest.raises(ValueError):
            hard_negative_samples(df, 3, dim=8, min_cosine=0.9, max_cosine=0.5)
        with _pytest.raises(ValueError):
            hard_negative_samples(df, 3, dim=8, candidate_factor=0)
