"""The Gopher document-quality gate (Rae 2021 §A1.1), C4 line-level
cleaning (Raffel 2020 §2.2) and the IVF cell-occupancy gauge; the two
declared crawl filters are also proven against their DuckDB twins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_validation_engine_spark.llmops.gopher import (
    GOPHER_STOP_WORDS,
    gopher_quality_flags,
)
from data_validation_engine_spark.llmops.ivf import (
    default_centroids,
    ivf_assign,
    ivf_stats,
)
from __spark_entry__ import _docs

GOOD = (
    "The quick brown fox jumps over the lazy dog and then decides "
    "that it would have been wiser to rest with friends. "
) * 5  # 110 words, all rules pass


def _flags(spark, text, **kw):
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    return gopher_quality_flags(df, "text", **kw).collect()[0]


def test_good_document_passes_all_rules(spark):
    r = _flags(spark, GOOD)
    assert r["gopher_keep"] is True
    assert r["gopher_words"] == 110  # 22 words x 5 repeats
    assert r["gopher_stop_words"] >= 4


def test_word_count_bounds(spark):
    r = _flags(spark, "too short to pass")
    assert r["flag_word_count"] is False and r["gopher_keep"] is False
    r = _flags(spark, GOOD, max_words=50)
    assert r["flag_word_count"] is False


def test_mean_word_len_and_symbols(spark):
    # mean word length 1 -> fail
    r = _flags(spark, " ".join(["a"] * 60))
    assert r["flag_mean_word_len"] is False
    # heavy hash/ellipsis symbols -> symbol ratio fail
    spam = GOOD + " " + "# … ... # #" * 5
    r = _flags(spark, spam)
    assert r["gopher_symbol_ratio"] > 0.1
    assert r["flag_symbol_ratio"] is False


def test_bullet_and_ellipsis_lines(spark):
    bullets = "\n".join(f"• item {i} of the list" for i in range(10))
    r = _flags(spark, bullets, min_words=10)
    assert r["gopher_bullet_frac"] == 1.0
    assert r["flag_bullet_lines"] is False
    dots = "\n".join(
        f"trailing thought number {i} goes on and on..." for i in range(10)
    )
    r = _flags(spark, dots, min_words=10)
    assert r["gopher_ellipsis_frac"] == 1.0
    assert r["flag_ellipsis_lines"] is False
    # single-line GOOD text: line rules pass
    r = _flags(spark, GOOD)
    assert r["flag_bullet_lines"] is True
    assert r["flag_ellipsis_lines"] is True


def test_alpha_words_and_stop_words(spark):
    numbers = " ".join(str(i) for i in range(60))
    r = _flags(spark, numbers)
    assert r["gopher_alpha_frac"] == 0.0
    assert r["flag_alpha_words"] is False
    assert r["flag_stop_words"] is False
    # stop-word count is DISTINCT hits from the paper list
    r = _flags(spark, "the the the the " + "word " * 50, min_words=10)
    assert r["gopher_stop_words"] == 1
    assert r["flag_stop_words"] is False
    assert set(GOPHER_STOP_WORDS) == {
        "the", "be", "to", "of", "and", "that", "have", "with"
    }


def test_null_text_fails_closed(spark):
    df = spark.createDataFrame(
        [(1, None), (2, GOOD)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r for r in gopher_quality_flags(df, "text").collect()
    }
    assert got[1]["gopher_keep"] is False
    assert got[1]["flag_word_count"] is False
    assert got[2]["gopher_keep"] is True


def test_gate_is_zero_shuffle(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        gopher_quality_flags(docs, "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # per-row projection only
    # the synthetic corpus is a technical-word bag (few Gopher stop
    # words, 10-99 words/doc) — paper defaults reject ALL of it (the
    # honest outcome); relaxed thresholds exercise both outcomes
    out = gopher_quality_flags(
        docs, "text", min_words=30, min_stop_words=1
    )
    assert out.count() == docs.count()
    kept = out.where("gopher_keep").count()
    assert 0 < kept < docs.count()


# --- ivf_stats ------------------------------------------------------------


def test_ivf_stats_counts_and_hot(spark):
    rows = (
        [(i, [0.0, 0.0]) for i in range(2)]        # near centroid 0
        + [(10 + i, [10.0, 10.0]) for i in range(18)]  # hot cell
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[0.0, 0.0], [10.0, 10.0], [99.0, 99.0], [55.0, 55.0]]
    got = {r["cell"]: r for r in ivf_stats(df, cents).collect()}
    assert set(got) == {0, 1}  # empty cells absent
    assert got[0]["n_rows"] == 2 and got[1]["n_rows"] == 18
    assert abs(got[1]["frac"] - 0.9) < 1e-12
    # uniform share = 5 rows/cell; hot_factor 4 -> hot iff n > 20?? no:
    # n * k > factor * total  ->  18 * 4 = 72 > 4 * 20 = 80 is False;
    # with factor 3: 72 > 60 -> hot
    assert got[1]["hot"] is False
    got3 = {
        r["cell"]: r for r in ivf_stats(df, cents, hot_factor=3.0).collect()
    }
    assert got3[1]["hot"] is True and got3[0]["hot"] is False


def test_ivf_stats_persisted_layout_and_validation(spark):
    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    cents = [[0.0, 0.0], [7.0, 0.0]]
    assigned = ivf_assign(df, cents, cell_col="c")
    a = sorted(
        map(tuple, ivf_stats(df, cents).collect())
    )
    b = sorted(
        map(
            tuple,
            ivf_stats(assigned, cell_col="c", n_cells=2).collect(),
        )
    )
    assert a == b
    with pytest.raises(ValueError, match="exactly one"):
        ivf_stats(df)
    with pytest.raises(ValueError, match="needs n_cells"):
        ivf_stats(assigned, cell_col="c")


_GOPHER_SQL = """
    WITH base AS (
        SELECT doc_id, COALESCE(text, '') AS t FROM documents
    ),
    w AS (
        SELECT doc_id, t,
               list_filter(regexp_split_to_array(t, '\\s+'),
                           x -> length(x) > 0) AS words,
               list_filter(regexp_split_to_array(t, '\\n'),
                           x -> length(trim(x)) > 0) AS lines
        FROM base
    ),
    m AS (
        SELECT doc_id, t, words, lines,
               len(words) AS n_words,
               len(lines) AS n_lines,
               COALESCE(list_sum(list_transform(words,
                                                x -> length(x))), 0)
                   AS total_chars,
               (length(t) - length(replace(t, '#', '')))
               + (length(t) - length(replace(t, '...', ''))) / 3
               + (length(t) - length(replace(t, '…', ''))) AS n_sym,
               len(list_filter(lines,
                   x -> substring(ltrim(x), 1, 1) IN ('•', '-', '*')))
                   AS n_bullet,
               len(list_filter(lines,
                   x -> right(rtrim(x), 3) = '...'
                        OR right(rtrim(x), 1) = '…')) AS n_ell,
               len(list_filter(words,
                   x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
               len(list_filter(
                   ['the', 'be', 'to', 'of', 'and', 'that', 'have',
                    'with'],
                   s -> list_contains(
                       list_transform(words, x -> lower(x)), s)))
                   AS n_stop
        FROM w
    ),
    r AS (
        SELECT doc_id, n_words, n_stop,
               CASE WHEN n_words > 0
                    THEN total_chars::DOUBLE / n_words END AS mean_wl,
               CASE WHEN n_words > 0
                    THEN n_sym::DOUBLE / n_words END AS sym_ratio,
               CASE WHEN n_words > 0
                    THEN n_alpha::DOUBLE / n_words END AS alpha_frac,
               CASE WHEN n_lines > 0
                    THEN n_bullet::DOUBLE / n_lines END AS bullet_frac,
               CASE WHEN n_lines > 0
                    THEN n_ell::DOUBLE / n_lines END AS ell_frac,
               n_lines
        FROM m
    ),
    f AS (
        SELECT doc_id, n_words, n_stop, mean_wl, sym_ratio, alpha_frac,
               bullet_frac, ell_frac,
               (n_words >= 30 AND n_words <= 100000) AS f_wc,
               COALESCE(mean_wl >= 3.0 AND mean_wl <= 10.0, FALSE)
                   AS f_mwl,
               COALESCE(sym_ratio <= 0.1, FALSE) AS f_sym,
               COALESCE(bullet_frac < 0.9, n_lines = 0) AS f_bul,
               COALESCE(ell_frac < 0.3, n_lines = 0) AS f_ell,
               COALESCE(alpha_frac >= 0.8, FALSE) AS f_alpha,
               (n_stop >= 1) AS f_stop
        FROM r
    )
    SELECT 'g' AS op, CAST(doc_id AS VARCHAR) AS k,
           CAST(n_words AS VARCHAR) || '|' ||
           CAST(n_stop AS VARCHAR) || '|' ||
           CAST(CAST(f_wc AS INT) AS VARCHAR) || '|' ||
           CAST(CAST(f_mwl AS INT) AS VARCHAR) || '|' ||
           CAST(CAST(f_sym AS INT) AS VARCHAR) || '|' ||
           CAST(CAST(f_bul AS INT) AS VARCHAR) || '|' ||
           CAST(CAST(f_ell AS INT) AS VARCHAR) || '|' ||
           CAST(CAST(f_alpha AS INT) AS VARCHAR) || '|' ||
           CAST(CAST(f_stop AS INT) AS VARCHAR) || '|' ||
           CAST(CAST((f_wc AND f_mwl AND f_sym AND f_bul AND f_ell
                      AND f_alpha AND f_stop) AS INT) AS VARCHAR)
           || '|' ||
           COALESCE(CAST(CAST(floor(mean_wl * 1000000) AS BIGINT)
                    AS VARCHAR), '~') || '|' ||
           COALESCE(CAST(CAST(floor(sym_ratio * 1000000) AS BIGINT)
                    AS VARCHAR), '~') || '|' ||
           COALESCE(CAST(CAST(floor(alpha_frac * 1000000) AS BIGINT)
                    AS VARCHAR), '~') || '|' ||
           COALESCE(CAST(CAST(floor(bullet_frac * 1000000) AS BIGINT)
                    AS VARCHAR), '~') || '|' ||
           COALESCE(CAST(CAST(floor(ell_frac * 1000000) AS BIGINT)
                    AS VARCHAR), '~') AS v
    FROM f
"""


def test_declared_gopher_step_composes_with_filter(spark, sf_dir, duck_oracle):
    """The declared gopher_quality_flags step over the documents table,
    with relaxed thresholds (min_words=30, min_stop_words=1) so the
    synthetic corpus exercises both keep outcomes, matched against
    DuckDB: per doc the exact integer metrics (word/stop-word counts),
    all seven rule booleans + the keep conjunction, and the ratio
    metrics as floor(x*1e6) of single correctly-rounded divisions. A
    declared filter on gopher_keep then keeps what the library keeps."""
    from data_validation_engine_spark.steps import StepEngine, parse_step

    docs = _docs(spark, sf_dir)
    eng = StepEngine(spark)
    ents = {"docs": docs}
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "gopher_quality_flags",
                "entity_name": "docs",
                "min_words": 30,
                "min_stop_words": 1,
                "new_entity_name": "flagged",
            }
        ),
    )
    r6 = (
        "COALESCE(CAST(CAST(floor({x} * 1000000) AS BIGINT) AS STRING),"
        " '~')"
    )
    frame = ents["flagged"].selectExpr(
        "'g' AS op",
        "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', CAST(gopher_words AS STRING),"
        " CAST(gopher_stop_words AS STRING),"
        " CAST(CAST(flag_word_count AS INT) AS STRING),"
        " CAST(CAST(flag_mean_word_len AS INT) AS STRING),"
        " CAST(CAST(flag_symbol_ratio AS INT) AS STRING),"
        " CAST(CAST(flag_bullet_lines AS INT) AS STRING),"
        " CAST(CAST(flag_ellipsis_lines AS INT) AS STRING),"
        " CAST(CAST(flag_alpha_words AS INT) AS STRING),"
        " CAST(CAST(flag_stop_words AS INT) AS STRING),"
        " CAST(CAST(gopher_keep AS INT) AS STRING),"
        f" {r6.format(x='gopher_mean_word_len')},"
        f" {r6.format(x='gopher_symbol_ratio')},"
        f" {r6.format(x='gopher_alpha_frac')},"
        f" {r6.format(x='gopher_bullet_frac')},"
        f" {r6.format(x='gopher_ellipsis_frac')}) AS v",
    )
    duck_oracle("gopher", frame, _GOPHER_SQL)
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "filter",
                "entity_name": "flagged",
                "expression": "gopher_keep",
            }
        ),
    )
    n_kept = ents["flagged"].count()
    assert 0 < n_kept < docs.count()
    lib = gopher_quality_flags(
        docs, "text", min_words=30, min_stop_words=1
    ).where("gopher_keep")
    assert n_kept == lib.count()


# --- C4 cleaning -----------------------------------------------------------


PROSE = "This sentence is long enough to keep and it ends properly."


def _c4(spark, text, **kw):
    from data_validation_engine_spark.llmops.c4 import c4_clean

    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    return c4_clean(df, "text", **kw).collect()[0]


def test_c4_line_rules(spark):
    text = "\n".join(
        [
            PROSE,                           # kept
            "no terminal punctuation here",  # dropped: no punct
            "Too short.",                    # dropped: < 3 words
            "Enable JavaScript to view this page.",  # dropped: js rule
            'He said "stop" and left. "Quoted line ends with a quote."',
            PROSE,
        ]
    )
    r = _c4(spark, text, min_sentences=3)
    kept_lines = r["c4_text"].split("\n")
    assert len(kept_lines) == 3
    assert r["c4_lines_total"] == 6 and r["c4_lines_kept"] == 3
    assert r["c4_keep"] is True


def test_c4_quote_terminated_sentences(spark):
    # a kept line ending in a BARE end quote counts as one sentence;
    # a '."' ending is not double-counted
    r = _c4(spark, 'Then she said to everyone "go away now"')
    assert r["c4_lines_kept"] == 1 and r["c4_sentences"] == 1
    r = _c4(spark, 'He finished with the words "that is all."')
    assert r["c4_lines_kept"] == 1 and r["c4_sentences"] == 1
    # dialogue-style prose passes the page floor it used to fail
    dialogue = "\n".join(
        [f'Speaker number {i} said clearly "line {i} here"' for i in range(5)]
    )
    r = _c4(spark, dialogue)
    assert r["c4_sentences"] == 5 and r["c4_keep"] is True


def test_c4_page_rules(spark):
    good = "\n".join([PROSE] * 6)
    assert _c4(spark, good)["c4_keep"] is True
    assert _c4(spark, good + "\nlorem ipsum dolor.")["c4_has_lorem"] is True
    assert _c4(spark, good + "\nLorem Ipsum.")["c4_keep"] is False
    assert _c4(spark, good + "\nvar x = {;")["c4_keep"] is False
    # sentence floor on the CLEANED text
    r = _c4(spark, "\n".join([PROSE] * 3))
    assert r["c4_sentences"] == 3 and r["c4_keep"] is False


def test_c4_null_and_empty_fail_closed(spark):
    from data_validation_engine_spark.llmops.c4 import c4_clean

    df = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id long, text string"
    )
    for r in c4_clean(df, "text").collect():
        assert r["c4_text"] == "" and r["c4_keep"] is False


def test_c4_zero_shuffle_on_corpus(spark, sf_dir):
    from data_validation_engine_spark.llmops.c4 import c4_clean

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = c4_clean(docs, "text", min_line_words=2, min_sentences=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert out.count() == docs.count()


#: the C4 proof's corpus construction, shared verbatim by both twins: the
#: synthetic documents are single-line unpunctuated word bags, so the
#: splice plants every C4 rule's trigger — terminal punctuation
#: (doc_id%3=0), multi-line pages with punctuated lines (%3=1),
#: untouched no-punct pages (%3=2), lorem-ipsum (%7=0) and brace
#: (%11=0) page poisons
_C4_CASE_SQL = (
    "CASE WHEN doc_id % 7 = 0 THEN CONCAT(text, ' and lorem ipsum.') "
    "WHEN doc_id % 11 = 0 THEN CONCAT(text, ' { code block.') "
    "WHEN doc_id % 13 = 5 THEN CONCAT(text, ' she said \"go now\"') "
    "WHEN doc_id % 3 = 0 THEN CONCAT(text, '.') "
    "WHEN doc_id % 3 = 1 THEN REPLACE(text, ' batch ', '.\n') "
    "ELSE text END"
)

_C4_SQL = f"""
    WITH corpus AS (
        -- COALESCE mirrors c4_clean's fail-closed NULL handling (a
        -- NULL-text doc cleans to the empty page, flags false)
        SELECT doc_id, COALESCE({_C4_CASE_SQL}, '') AS t FROM documents
    ),
    l AS (
        SELECT doc_id, t,
               list_filter(
                   regexp_split_to_array(t, '\\n'),
                   ln -> right(rtrim(ln), 1) IN ('.', '!', '?', '"')
                         AND len(list_filter(
                                 regexp_split_to_array(ln, '\\s+'),
                                 x -> length(x) > 0)) >= 3
                         AND NOT contains(lower(ln), 'javascript')
               ) AS kept,
               len(list_filter(regexp_split_to_array(t, '\\n'),
                               x -> length(trim(x)) > 0)) AS n_total
        FROM corpus
    ),
    c AS (
        SELECT doc_id, t, n_total, len(kept) AS n_kept,
               -- array_to_string of an EMPTY list is NULL in DuckDB;
               -- Spark's array_join gives '' — coalesce to match
               COALESCE(array_to_string(
                   list_transform(kept, x -> trim(x)), chr(10)), '')
                   AS cleaned,
               -- a kept line terminated by a BARE end quote (no .!?
               -- before it) counts as one sentence (kept lines have
               -- >= 3 words, so the penultimate char always exists)
               len(list_filter(kept,
                   ln -> right(rtrim(ln), 1) = '"'
                         AND substr(rtrim(ln),
                                    length(rtrim(ln)) - 1, 1)
                             NOT IN ('.', '!', '?'))) AS n_qsent
        FROM l
    ),
    m AS (
        SELECT doc_id, cleaned, n_kept, n_total,
               length(cleaned) - length(
                   replace(replace(replace(cleaned, '.', ''), '!', ''),
                           '?', '')) + n_qsent AS n_sent,
               contains(lower(t), 'lorem ipsum') AS has_lorem,
               contains(t, '{{') AS has_brace
        FROM c
    )
    SELECT 'c4' AS op, CAST(doc_id AS VARCHAR) AS k,
           md5(cleaned) || '|' ||
           CAST(n_kept AS VARCHAR) || '|' ||
           CAST(n_total AS VARCHAR) || '|' ||
           CAST(n_sent AS VARCHAR) || '|' ||
           CAST(CAST(has_lorem AS INT) AS VARCHAR) || '|' ||
           CAST(CAST(has_brace AS INT) AS VARCHAR) || '|' ||
           CAST(CAST((n_sent >= 1 AND NOT has_lorem AND NOT has_brace)
                AS INT) AS VARCHAR) AS v
    FROM m
"""


def test_declared_c4_step_matches_duckdb(spark, sf_dir, duck_oracle):
    """The declared c4_clean step over the spliced corpus
    (_C4_CASE_SQL), matched against DuckDB: per doc the cleaned page's
    md5 + exact line/sentence counts + the page flags + keep
    (min_line_words=3, min_sentences=1 so the corpus exercises every
    rule both ways)."""
    from data_validation_engine_spark.steps import StepEngine, parse_step

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_C4_CASE_SQL} AS text"
    )
    ents = {"docs": docs}
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {
                "operation": "c4_clean",
                "entity_name": "docs",
                "min_line_words": 3,
                "min_sentences": 1,
                "new_entity_name": "clean",
            }
        ),
    )
    frame = ents["clean"].selectExpr(
        "'c4' AS op",
        "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', md5(c4_text),"
        " CAST(c4_lines_kept AS STRING),"
        " CAST(c4_lines_total AS STRING),"
        " CAST(c4_sentences AS STRING),"
        " CAST(CAST(c4_has_lorem AS INT) AS STRING),"
        " CAST(CAST(c4_has_brace AS INT) AS STRING),"
        " CAST(CAST(c4_keep AS INT) AS STRING)) AS v",
    )
    duck_oracle("c4", frame, _C4_SQL)


# --- streaming lift: the gates are stateless projections ------------------


def test_gopher_and_c4_stream_equals_batch(spark, sf_dir, tmp_path):
    """Both crawl filters are watermark-free per-row projections, so
    they lift onto readStream unchanged — streaming output must equal
    the batch twin row-for-row."""
    import shutil

    from data_validation_engine_spark.llmops.c4 import c4_clean

    src = tmp_path / "docs_src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", src / "part-0.parquet")
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def pipe(df):
        flagged = gopher_quality_flags(
            df, "text", min_words=30, min_stop_words=1
        )
        return c4_clean(
            flagged, "text", min_line_words=2, min_sentences=1
        ).select(
            "doc_id", "gopher_keep", "gopher_words", "c4_keep",
            "c4_lines_kept", "c4_sentences",
        )

    out = str(tmp_path / "out")
    q = (
        pipe(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    want = pipe(batch)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
