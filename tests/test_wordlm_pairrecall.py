"""Word n-gram LM with Stupid Backoff (llmops/lm.py, Brants 2007) and
near-duplicate pair recall/precision (llmops/recall.py pair_recall),
pinned against pure-Python references and hand cases, and each declared
step proven against its DuckDB twin on the documents table."""

from __future__ import annotations

import math
import re

import pytest

from data_validation_engine_spark.llmops.lm import (
    stupid_backoff_score,
    train_word_lm,
    word_lm_from_rows,
    word_lm_to_rows,
    word_ngram_counts,
)
from data_validation_engine_spark.llmops.recall import pair_recall
from data_validation_engine_spark.steps import parse_step
from data_validation_engine_spark.steps.engine import StepEngine
from __spark_entry__ import (
    _DUCK_TOKS,
    _docs,
    _duck_shingles,
    _minhash_pair_ctes,
)

N = 3
ALPHA = 0.4


# ---------------------------------------------------------------- python ref
def _py_tokens(t):
    if t is None:
        return []
    return [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]


def _py_model(texts, n=N, min_count=1):
    counts: dict[tuple[int, str], int] = {}
    total = 0
    for t in texts:
        toks = _py_tokens(t)
        total += len(toks)
        for i in range(1, len(toks) + 1):
            for k in range(1, min(n, i) + 1):
                g = " ".join(toks[i - k : i])
                counts[(k, g)] = counts.get((k, g), 0) + 1
    if min_count > 1:
        counts = {kg: c for kg, c in counts.items() if c >= min_count}
    return counts, total


def _py_score(text, counts, total, n=N, alpha=ALPHA):
    """Returns (n_tokens, hits dict, logprob_avg, perplexity)."""
    toks = _py_tokens(text)
    hits = {k: 0 for k in range(0, n + 1)}
    lps = []
    for i in range(1, len(toks) + 1):
        avail = min(n, i)
        resolved, score = 0, None
        for k in range(avail, 0, -1):
            g = " ".join(toks[i - k : i])
            c = counts.get((k, g), 0)
            if c > 0:
                ctx = (
                    total
                    if k == 1
                    else counts[(k - 1, " ".join(toks[i - k : i - 1]))]
                )
                score = alpha ** (avail - k) * c / ctx
                resolved = k
                break
        if resolved == 0:
            score = alpha**avail / total
        hits[resolved] += 1
        lps.append(math.log(score))
    if not toks:
        return 0, hits, None, None
    avg = sum(lps) / len(lps)
    return len(toks), hits, avg, math.exp(-avg)


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .where("doc_id % 7 < 3")
    )
    rows = docs.collect()
    return docs, [(r["doc_id"], r["text"]) for r in rows]


@pytest.fixture(scope="module")
def trained(spark, corpus):
    docs, rows = corpus
    train = docs.where("doc_id % 7 = 0")
    model, total = train_word_lm(train, "text", n=N)
    py_counts, py_total = _py_model(
        [t for d, t in rows if d % 7 == 0], n=N
    )
    return model, total, py_counts, py_total


def test_counts_match_python(trained):
    model, total, py_counts, py_total = trained
    assert total == py_total
    got = {
        (r["ord"], r["gram"]): r["cnt"] for r in model.collect()
    }
    assert got == py_counts


def test_scores_match_python(spark, corpus, trained):
    docs, rows = corpus
    model, total, py_counts, py_total = trained
    # negative ids carry md5-gibberish variants: guaranteed-OOV rows so
    # the floor path is exercised (the template corpus shares its vocab)
    evald = docs.where("doc_id % 7 = 2").unionByName(
        docs.where("doc_id % 7 = 2 AND doc_id % 3 = 0").selectExpr(
            "-doc_id - 1 AS doc_id", "md5(CAST(doc_id AS STRING)) AS text"
        )
    )
    out = stupid_backoff_score(
        evald, model, total, "doc_id", "text", n=N, alpha=ALPHA
    ).collect()
    assert out, "eval slice is empty"
    by_id = {d: t for d, t in rows}
    import hashlib

    for d, _t in list(by_id.items()):
        if d % 7 == 2 and d % 3 == 0:
            by_id[-d - 1] = hashlib.md5(str(d).encode()).hexdigest()
    saw_backoff = saw_oov = False
    for r in out:
        nt, hits, lp, ppl = _py_score(by_id[r["doc_id"]], py_counts, py_total)
        assert r["n_tokens"] == nt
        for k in range(0, N + 1):
            assert r[f"hits_{k}"] == hits[k], (r["doc_id"], k)
        if nt == 0:
            assert r["logprob_avg"] is None and r["perplexity"] is None
        else:
            assert r["logprob_avg"] == pytest.approx(lp, abs=2e-6)
            assert r["perplexity"] == pytest.approx(ppl, rel=1e-5)
        saw_backoff = saw_backoff or any(hits[k] for k in range(1, N))
        saw_oov = saw_oov or hits[0] > 0
    # the held-out slice must actually exercise backoff and OOV paths
    assert saw_backoff and saw_oov


def test_hand_case_and_edge_docs(spark):
    train = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "id int, text string"
    )
    model, total = train_word_lm(train, "text", n=3)
    assert total == 6
    evald = spark.createDataFrame(
        [(10, "a b c"), (12, "a c"), (13, "z"), (14, ""), (15, None)],
        "id int, text string",
    )
    out = {
        r["id"]: r
        for r in stupid_backoff_score(
            evald, model, total, "id", "text", n=3, alpha=0.4
        ).collect()
    }
    # full trigram resolution
    assert (out[10]["hits_1"], out[10]["hits_2"], out[10]["hits_3"]) == (1, 1, 1)
    assert out[10]["logprob_avg"] == pytest.approx(
        (math.log(2 / 6) + math.log(1.0) + math.log(0.5)) / 3, abs=1e-6
    )
    # "a c": bigram "a c" unseen -> backoff to unigram with one alpha
    assert out[12]["hits_1"] == 2 and out[12]["hits_2"] == 0
    assert out[12]["logprob_avg"] == pytest.approx(
        (math.log(2 / 6) + math.log(0.4 / 6)) / 2, abs=1e-6
    )
    # OOV floor
    assert out[13]["hits_0"] == 1
    assert out[13]["logprob_avg"] == pytest.approx(math.log(0.4 / 6), abs=1e-6)
    # empty / NULL text: zero counts, NULL score
    for i in (14, 15):
        assert out[i]["n_tokens"] == 0 and out[i]["logprob_avg"] is None


def test_min_count_prunes_consistently(spark, corpus):
    docs, rows = corpus
    train = docs.where("doc_id % 7 = 0")
    model, total = train_word_lm(train, "text", n=N, min_count=3)
    py_counts, py_total = _py_model(
        [t for d, t in rows if d % 7 == 0], n=N, min_count=3
    )
    assert total == py_total  # total never shrinks with pruning
    got = {(r["ord"], r["gram"]): r["cnt"] for r in model.collect()}
    assert got == py_counts
    # pruned model still scores loudly-consistently (no ctx=0 raise)
    evald = docs.where("doc_id % 7 = 1").limit(50)
    out = stupid_backoff_score(
        evald, model, total, "doc_id", "text", n=N
    ).collect()
    by_id = {d: t for d, t in rows}
    for r in out:
        nt, hits, lp, _ = _py_score(
            by_id[r["doc_id"]], py_counts, py_total
        )
        assert [r[f"hits_{k}"] for k in range(N + 1)] == [
            hits[k] for k in range(N + 1)
        ]
        if nt:
            assert r["logprob_avg"] == pytest.approx(lp, abs=2e-6)


def test_partitioning_invariance(spark, corpus, trained):
    docs, _ = corpus
    model, total, _, _ = trained
    evald = docs.where("doc_id % 7 = 2")
    a = stupid_backoff_score(
        evald, model, total, "doc_id", "text", n=N
    ).collect()
    b = stupid_backoff_score(
        evald.repartition(13), model.repartition(5), total,
        "doc_id", "text", n=N,
    ).collect()
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(map(tuple, a), key=lambda t: t[0]) == sorted(
        map(tuple, b), key=lambda t: t[0]
    )


def test_inconsistent_model_raises(spark):
    # a seen bigram whose PREFIX unigram ("a", the context) is missing:
    # per-order pruning mismatch must raise, not score wrong
    model = spark.createDataFrame(
        [(2, "a b", 5), (1, "b", 3)], "ord int, gram string, cnt long"
    )
    evald = spark.createDataFrame([(1, "a b")], "id int, text string")
    with pytest.raises(Exception, match="inconsistent"):
        stupid_backoff_score(
            evald, model, 10, "id", "text", n=2
        ).collect()


def test_model_entity_roundtrip_and_validation(spark):
    train = spark.createDataFrame([(1, "x y")], "id int, text string")
    model, total = train_word_lm(train, "text", n=2)
    rows = word_lm_to_rows(model, total)
    m2, t2 = word_lm_from_rows(rows)
    assert t2 == total
    assert sorted(map(tuple, m2.collect())) == sorted(
        map(tuple, model.select("ord", "gram", "cnt").collect())
    )
    with pytest.raises(ValueError, match="sentinel"):
        word_lm_from_rows(m2)  # sentinel stripped
    with pytest.raises(ValueError, match="no tokens"):
        train_word_lm(
            spark.createDataFrame([(1, "")], "id int, text string"), "text"
        )
    with pytest.raises(ValueError, match="n must be"):
        word_ngram_counts(train, "text", n=0)


def test_word_lm_step_train_export_score(spark):
    eng = StepEngine(spark)
    ents = {
        "ref": spark.createDataFrame(
            [(1, "a b c"), (2, "a b d")], "id int, text string"
        ),
        "docs": spark.createDataFrame(
            [(10, "a b c"), (13, "z")], "doc_id int, text string"
        ),
    }
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "word_lm",
                "entity_name": "docs",
                "new_entity_name": "scored",
                "key_column": "doc_id",
                "reference_name": "ref",
                "model_entity": "lmmodel",
            }
        ),
    )
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "word_lm",
                "entity_name": "docs",
                "new_entity_name": "scored2",
                "key_column": "doc_id",
                "model_name": "lmmodel",
            }
        ),
    )
    a = sorted(map(tuple, ents["scored"].collect()))
    b = sorted(map(tuple, ents["scored2"].collect()))
    assert a == b  # entity-fed model path is bit-identical
    with pytest.raises(Exception, match="exactly one"):
        eng.evaluate(
            ents,
            config=parse_step(
                {
                    "operation": "word_lm",
                    "entity_name": "docs",
                    "key_column": "doc_id",
                }
            ),
        )


#: word-gram struct explode shared by both word_lm oracle slices:
#: every (pos, ord<=min(3,pos)) gram ending at each position
_WORDLM_GRAMS = (
    "unnest(flatten(list_transform(generate_series(1, len(toks)), i -> "
    "list_transform(generate_series(1, least(3, i)), k -> "
    "{'p': i, 'o': k, 'g': array_to_string(toks[i - k + 1:i], ' ')}))))"
)

_WORDLM_SQL = f"""
    WITH tok AS (
        SELECT doc_id,
               CASE WHEN text IS NULL THEN CAST([] AS VARCHAR[])
                    ELSE list_filter(
                        string_split_regex(lower(text), '[^a-z0-9]+'),
                        t -> t <> '') END AS toks
        FROM documents
    ),
    tr AS (SELECT toks FROM tok WHERE doc_id % 3 <> 0),
    trg AS (SELECT {_WORDLM_GRAMS} AS s FROM tr),
    cnts AS (
        SELECT s.o AS ord, s.g AS gram, count(*) AS cnt
        FROM trg GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    total AS (SELECT COALESCE(SUM(len(toks)), 0) AS t FROM tr),
    topg AS (
        SELECT ord, gram, cnt,
               row_number() OVER (
                   PARTITION BY ord ORDER BY cnt DESC, gram) AS rk
        FROM cnts
    ),
    ev AS (SELECT doc_id, toks FROM tok WHERE doc_id % 3 = 0),
    eg AS (
        SELECT doc_id, s.p AS pos, s.o AS ord, s.g AS gram FROM (
            SELECT doc_id, {_WORDLM_GRAMS} AS s FROM ev
        )
    ),
    res AS (
        SELECT doc_id, pos,
               COALESCE(MAX(CASE WHEN c.cnt IS NOT NULL
                                 THEN e.ord END), 0) AS ro
        FROM eg e LEFT JOIN cnts c ON c.ord = e.ord AND c.gram = e.gram
        GROUP BY doc_id, pos
    ),
    hist AS (
        SELECT doc_id, COUNT(*) AS nt,
               COUNT(*) FILTER (WHERE ro = 0) AS h0,
               COUNT(*) FILTER (WHERE ro = 1) AS h1,
               COUNT(*) FILTER (WHERE ro = 2) AS h2,
               COUNT(*) FILTER (WHERE ro = 3) AS h3
        FROM res GROUP BY doc_id
    )
    SELECT 'n' AS op, 'total' AS k, CAST(t AS VARCHAR) AS v FROM total
    UNION ALL
    SELECT 'g', CAST(ord AS VARCHAR) || '|' || gram,
           CAST(cnt AS VARCHAR) || '|' || CAST(rk AS VARCHAR)
    FROM topg WHERE rk <= 15
    UNION ALL
    SELECT 'd', CAST(e.doc_id AS VARCHAR),
           CAST(COALESCE(h.nt, 0) AS VARCHAR) || '|' ||
           CAST(COALESCE(h.h0, 0) AS VARCHAR) || '|' ||
           CAST(COALESCE(h.h1, 0) AS VARCHAR) || '|' ||
           CAST(COALESCE(h.h2, 0) AS VARCHAR) || '|' ||
           CAST(COALESCE(h.h3, 0) AS VARCHAR)
    FROM ev e LEFT JOIN hist h ON e.doc_id = h.doc_id
"""


def test_declared_word_lm_matches_duckdb(spark, sf_dir, duck_oracle):
    """The declared word_lm step, matched against DuckDB: train on
    doc_id%3!=0 with min_count=2 (the pruning path), export the
    sentinel-carrying counts entity, score the held-out doc_id%3=0
    slice. Surfaces: 'n' the unpruned token total (the ord=0 sentinel),
    'g' the top-15 grams per order by (cnt DESC, gram) — pins training
    counts and pruning — and 'd' the per-doc exact-integer backoff
    histogram n_tokens|hits_0..hits_3 — pins tokenization, gram
    construction, the model join and the whole cascade, with zero
    floats in the hash (the log-score itself is transcendental and is
    pinned against the Python reference above)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    ents = {
        "docs": docs.where("doc_id % 3 = 0"),
        "ref": docs.where("doc_id % 3 != 0"),
    }
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {
                "operation": "word_lm",
                "entity_name": "docs",
                "new_entity_name": "scored",
                "key_column": "doc_id",
                "reference_name": "ref",
                "model_entity": "wlm",
                "min_count": 2,
            }
        ),
    )
    model_rows = ents["wlm"]
    n_row = model_rows.where("ord = 0").selectExpr(
        "'n' AS op", "'total' AS k", "CAST(cnt AS STRING) AS v"
    )
    w15 = Window.partitionBy("ord").orderBy(F.desc("cnt"), F.asc("gram"))
    g = (
        model_rows.where("ord > 0")
        .withColumn("rk", F.row_number().over(w15))
        .where("rk <= 15")
        .selectExpr(
            "'g' AS op",
            "CONCAT_WS('|', CAST(ord AS STRING), gram) AS k",
            "CONCAT_WS('|', CAST(cnt AS STRING), CAST(rk AS STRING)) AS v",
        )
    )
    d = ents["scored"].selectExpr(
        "'d' AS op",
        "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', CAST(n_tokens AS STRING), CAST(hits_0 AS STRING),"
        " CAST(hits_1 AS STRING), CAST(hits_2 AS STRING),"
        " CAST(hits_3 AS STRING)) AS v",
    )
    duck_oracle("wordlm", n_row.unionByName(g).unionByName(d), _WORDLM_SQL)


# ------------------------------------------------------------- pair_recall
def test_pair_recall_hand_case(spark):
    approx = spark.createDataFrame(
        [(1, 2), (4, 3)], "id_a int, id_b int"
    )
    exact = spark.createDataFrame(
        [(2, 1), (3, 5), (6, 7)], "id_a int, id_b int"
    )
    r = pair_recall(approx, exact).collect()[0]
    # (1,2) matches reversed (2,1); (4,3) normalizes to (3,4) - no match
    assert (r["n_hits"], r["n_exact"], r["n_approx"]) == (1, 3, 2)
    assert r["recall"] == pytest.approx(1 / 3)
    assert r["precision"] == pytest.approx(0.5)


def test_pair_recall_groups_and_empty_sides(spark):
    approx = spark.createDataFrame(
        [("m1", 1, 2), ("m2", 1, 2), ("m2", 8, 9)],
        "method string, id_a int, id_b int",
    )
    exact = spark.createDataFrame(
        [("m1", 1, 2), ("m1", 3, 4), ("m3", 5, 6)],
        "method string, id_a int, id_b int",
    )
    rows = {
        r["method"]: r
        for r in pair_recall(
            approx, exact, group_cols=["method"], broadcast_exact=True
        ).collect()
    }
    assert set(rows) == {"m1", "m2", "m3"}
    assert rows["m1"]["recall"] == pytest.approx(0.5)
    assert rows["m1"]["precision"] == pytest.approx(1.0)
    # m2: no ground truth -> recall NULL, precision 0
    assert rows["m2"]["n_exact"] == 0 and rows["m2"]["recall"] is None
    assert rows["m2"]["precision"] == pytest.approx(0.0)
    # m3: method found nothing -> recall 0, precision NULL
    assert rows["m3"]["n_approx"] == 0 and rows["m3"]["precision"] is None
    assert rows["m3"]["recall"] == pytest.approx(0.0)
    with pytest.raises(ValueError, match="lacks column"):
        pair_recall(approx.drop("id_b"), exact)


#: the perturbed-union corpus shared by every pair-recall oracle
#: slice (appending ONE word keeps every original shingle)
_PR_UDOCS = (
    "(SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0 "
    "UNION ALL SELECT doc_id + 1000000 AS doc_id, "
    "text || ' spark' AS text FROM documents WHERE doc_id % 10 = 0)"
)


def _pair_recall_oracle() -> str:
    """Composes the attested minhash CTE chain twice (4-band and
    1-band configs, each scoped inside its own subquery-WITH so the
    CTE names never clash) with the NAIVE exact-Jaccard twin, then the
    recall arithmetic is plain set counting."""
    mh4 = _minhash_pair_ctes(12, 4, 0.5).replace(
        "FROM documents", f"FROM {_PR_UDOCS} u"
    )
    mh1 = _minhash_pair_ctes(12, 1, 0.5).replace(
        "FROM documents", f"FROM {_PR_UDOCS} u"
    )
    r6 = "CAST(CAST(floor({x} * 1000000) AS BIGINT) AS VARCHAR)"
    arm = (
        "SELECT '{m}' AS op, 'pairs' AS k, "
        "CAST(n_hits AS VARCHAR) || '|' || CAST(n_exact AS VARCHAR)"
        " || '|' || CAST(n_approx AS VARCHAR) || '|' || "
        + "CASE WHEN n_exact = 0 THEN '~' ELSE "
        + r6.format(x="n_hits::DOUBLE / n_exact")
        + " END || '|' || "
        + "CASE WHEN n_approx = 0 THEN '~' ELSE "
        + r6.format(x="n_hits::DOUBLE / n_approx")
        + " END AS v FROM {src}"
    )
    return f"""
        WITH mh4 AS (
            SELECT id_a, id_b FROM (WITH {mh4} SELECT id_a, id_b FROM pairs)
        ),
        mh1 AS (
            SELECT id_a, id_b FROM (WITH {mh1} SELECT id_a, id_b FROM pairs)
        ),
        utoked AS (
            SELECT doc_id, {_DUCK_TOKS} AS toks FROM {_PR_UDOCS} u
        ),
        ush AS (
            SELECT doc_id, {_duck_shingles()} AS shingles FROM utoked
        ),
        uposts AS (SELECT doc_id, unnest(shingles) AS s FROM ush),
        ucand AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM uposts a JOIN uposts b
              ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        ex AS (
            SELECT id_a, id_b FROM (
                SELECT id_a, id_b,
                       round(len(list_intersect(x.shingles, y.shingles))::DOUBLE
                             / len(list_distinct(
                                   list_concat(x.shingles, y.shingles))), 6)
                           AS j
                FROM ucand
                JOIN ush x ON ucand.id_a = x.doc_id
                JOIN ush y ON ucand.id_b = y.doc_id
            ) WHERE j >= 0.5
        ),
        b4c AS (
            SELECT (SELECT count(*) FROM mh4 m JOIN ex e
                    ON m.id_a = e.id_a AND m.id_b = e.id_b) AS n_hits,
                   (SELECT count(*) FROM ex) AS n_exact,
                   (SELECT count(*) FROM mh4) AS n_approx
        ),
        b1c AS (
            SELECT (SELECT count(*) FROM mh1 m JOIN ex e
                    ON m.id_a = e.id_a AND m.id_b = e.id_b) AS n_hits,
                   (SELECT count(*) FROM ex) AS n_exact,
                   (SELECT count(*) FROM mh1) AS n_approx
        ),
        idc AS (
            SELECT (SELECT count(*) FROM ex) AS n_hits,
                   (SELECT count(*) FROM ex) AS n_exact,
                   (SELECT count(*) FROM ex) AS n_approx
        )
        {arm.format(m="b4", src="b4c")}
        UNION ALL
        {arm.format(m="b1", src="b1c")}
        UNION ALL
        {arm.format(m="id", src="idc")}
    """


@pytest.mark.slow
def test_pair_recall_minhash_vs_exact_on_corpus(spark, sf_dir, duck_oracle):
    """The production measurement, declared as one pair_recall step
    with group_columns and matched against DuckDB: MinHash-LSH recall
    against EXACT n-gram Jaccard ground truth on real documents. Three
    arms: 'b4' MinHash-LSH at the default 4 bands (3-row bands collide
    easily — high recall), 'b1' the same 12 hashes as ONE 12-row band
    (a pair must match all 12 minhashes — the strictness lever), 'id'
    the exact set against itself (the 1.0/1.0 identity pin). MinHash
    verifies candidates with exact Jaccard, so precision is exactly 1.0
    on both approximate arms; banding loses only pairs that never
    collide. Counts are exact longs; recall/precision hash as
    floor(x*1e6) of single correctly-rounded divisions."""
    from data_validation_engine_spark.llmops import (
        minhash_pairs,
        ngram_jaccard_pairs,
    )

    sl = _docs(spark, sf_dir).where("doc_id % 10 = 0").select(
        "doc_id", "text"
    )
    # perturbed-union device (the dedup_minhash row's construction):
    # appending one word keeps every original shingle, so each
    # (d, d+1000000) pair has Jaccard (w-2)/(w-1) >= 0.5 — guaranteed
    # non-vacuous ground truth at every scale factor
    u = sl.unionByName(
        sl.selectExpr(
            "doc_id + 1000000 AS doc_id", "text || ' spark' AS text"
        )
    )
    n_guaranteed = sl.count()
    # pair frames are corpus-bounded and tiny at these SFs; checkpoint
    # once — the exact side is referenced six times across the arms
    # (three exact tags + three hit joins), and without the cut each
    # reference re-runs the whole shingle chain
    ex = ngram_jaccard_pairs(
        u, "doc_id", "text", threshold=0.5
    ).localCheckpoint()
    mh4 = minhash_pairs(
        u, "doc_id", "text", threshold=0.5, bands=4
    ).localCheckpoint()
    mh1 = minhash_pairs(
        u, "doc_id", "text", threshold=0.5, bands=1
    ).localCheckpoint()
    approx = (
        mh4.selectExpr("'b4' AS method", "id_a", "id_b")
        .unionByName(mh1.selectExpr("'b1' AS method", "id_a", "id_b"))
        .unionByName(ex.selectExpr("'id' AS method", "id_a", "id_b"))
    )
    exact = (
        ex.selectExpr("'b4' AS method", "id_a", "id_b")
        .unionByName(ex.selectExpr("'b1' AS method", "id_a", "id_b"))
        .unionByName(ex.selectExpr("'id' AS method", "id_a", "id_b"))
    )
    ents = {"approx": approx, "exact": exact}
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {
                "operation": "pair_recall",
                "entity_name": "approx",
                "new_entity_name": "pr",
                "target_name": "exact",
                "group_columns": ["method"],
            }
        ),
    )
    arms = {r["method"]: r for r in ents["pr"].collect()}
    r = arms["b4"]
    assert r["n_exact"] >= n_guaranteed, "construction-guaranteed pairs missing"
    assert r["precision"] == pytest.approx(1.0)  # exact-verified
    assert 0.0 < r["recall"] <= 1.0
    assert r["n_hits"] == r["n_approx"]
    # a pair that matches all 12 minhashes matches every 3-row band
    assert arms["b1"]["recall"] <= r["recall"]
    assert arms["id"]["recall"] == pytest.approx(1.0)
    assert arms["id"]["precision"] == pytest.approx(1.0)
    r6 = (
        "COALESCE(CAST(CAST(floor({x} * 1000000) AS BIGINT) AS STRING),"
        " '~')"
    )
    frame = ents["pr"].selectExpr(
        "method AS op",
        "'pairs' AS k",
        "CONCAT_WS('|', CAST(n_hits AS STRING), CAST(n_exact AS STRING),"
        " CAST(n_approx AS STRING),"
        f" {r6.format(x='recall')}, {r6.format(x='precision')}) AS v",
    )
    duck_oracle("pair_recall", frame, _pair_recall_oracle())
