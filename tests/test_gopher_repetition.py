"""Gopher §A1.2 repetition signals (llmops/gopher.py
gopher_repetition_flags), pinned against a pure-Python reference and
hand-computable cases, and the declared step proven against its DuckDB
twin."""

from __future__ import annotations

import re
from collections import Counter

import pytest

from data_validation_engine_spark.llmops.gopher import (
    gopher_repetition_flags,
)
from data_validation_engine_spark.steps import parse_step
from data_validation_engine_spark.steps.engine import StepEngine
from __spark_entry__ import _docs


# ---------------------------------------------------------------- python ref
def _words(t):
    return [w for w in re.split(r"\s+", t) if w]


def _items(t, sep_re):
    # Spark trim() strips only ASCII spaces — the reference must match
    out = []
    for x in re.split(sep_re, t):
        s = x.strip(" ")
        if s:
            out.append(s)
    return out


def _dup_beyond_first(items):
    c = Counter(items)
    cnt = sum(v - 1 for v in c.values() if v > 1)
    chars = sum((v - 1) * len(k) for k, v in c.items() if v > 1)
    return cnt, chars


def _grams(ws, n):
    return [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]


def _top_gram_frac(ws, n, total_chars):
    if len(ws) < n:
        return 0.0
    c = Counter(_grams(ws, n))
    best_c, best_v = 0, ""
    for g in sorted(c):
        if c[g] > best_c:
            best_c, best_v = c[g], g
    if best_c < 2:
        return 0.0
    return best_c * len(best_v) / total_chars


def _dup_cover_frac(ws, n, total_chars):
    if len(ws) < n:
        return 0.0
    gs = _grams(ws, n)
    c = Counter(gs)
    starts = sorted(i + 1 for i, g in enumerate(gs) if c[g] >= 2)
    covered = 0
    a = b = 0
    runs = []
    for s in starts:
        if b == 0:
            a, b = s, s + n - 1
        elif s <= b:
            b = max(b, s + n - 1)
        else:
            runs.append((a, b))
            a, b = s, s + n - 1
    if b > 0:
        runs.append((a, b))
    for a, b in runs:
        covered += sum(len(w) for w in ws[a - 1 : b]) + (b - a)
    return covered / total_chars


def _py_reference(t):
    """Returns the full metric dict, or None values for empty text."""
    if not t:
        return None
    ws = _words(t)
    if not ws:
        return None
    total_chars = sum(len(w) for w in ws) + len(ws) - 1
    lines = _items(t, r"\n")
    paras = _items(t, r"\n{2,}")
    dl_cnt, dl_chars = _dup_beyond_first(lines)
    dp_cnt, dp_chars = _dup_beyond_first(paras)
    line_chars = sum(len(x) for x in lines)
    para_chars = sum(len(x) for x in paras)
    out = {
        "rep_words": len(ws),
        "rep_total_chars": total_chars,
        "rep_dup_lines": dl_cnt,
        "rep_dup_paras": dp_cnt,
        "rep_dup_line_frac": dl_cnt / len(lines) if lines else None,
        "rep_dup_line_char_frac": (
            dl_chars / line_chars if line_chars else None
        ),
        "rep_dup_para_frac": dp_cnt / len(paras) if paras else None,
        "rep_dup_para_char_frac": (
            dp_chars / para_chars if para_chars else None
        ),
    }
    for n in (2, 3, 4):
        out[f"rep_top_{n}gram_frac"] = _top_gram_frac(ws, n, total_chars)
    for n in (5, 6, 7, 8, 9, 10):
        out[f"rep_dup_{n}gram_frac"] = _dup_cover_frac(
            ws, n, total_chars
        )
    return out


METRIC_COLS = [
    "rep_words",
    "rep_total_chars",
    "rep_dup_lines",
    "rep_dup_paras",
    "rep_dup_line_frac",
    "rep_dup_line_char_frac",
    "rep_dup_para_frac",
    "rep_dup_para_char_frac",
    "rep_top_2gram_frac",
    "rep_top_3gram_frac",
    "rep_top_4gram_frac",
] + [f"rep_dup_{n}gram_frac" for n in (5, 6, 7, 8, 9, 10)]


def _assert_matches(row, ref, doc_id):
    for c in METRIC_COLS:
        got, want = row[c], ref[c] if ref else None
        if want is None:
            if c in ("rep_words", "rep_total_chars", "rep_dup_lines",
                     "rep_dup_paras"):
                assert got == 0, (doc_id, c, got)
            else:
                assert got is None, (doc_id, c, got)
        elif isinstance(want, int):
            assert got == want, (doc_id, c, got, want)
        else:
            assert got == pytest.approx(want, abs=1e-6), (
                doc_id, c, got, want,
            )


def test_matches_python_on_corpus(spark, sf_dir):
    """Real documents PLUS adversarial variants: duplicated-line
    rebuilds, self-concatenations (every gram duplicated), and
    whitespace-heavy edges — all 17 metric columns must match the
    reference exactly."""
    base = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where("doc_id % 5 = 0")
        .selectExpr("doc_id", "text")
    )
    variants = base.selectExpr(
        "doc_id + 1000000 AS doc_id",
        # self-concatenation separated by a blank line: every line,
        # paragraph and n-gram repeats
        "text || '\\n\\n' || text AS text",
    ).unionByName(
        base.selectExpr(
            "doc_id + 2000000 AS doc_id",
            # first 120 chars repeated 3x on separate lines
            "concat_ws('\\n', substr(text, 1, 120), substr(text, 1, 120),"
            " substr(text, 1, 120)) AS text",
        )
    )
    df = base.unionByName(variants)
    rows = {r["doc_id"]: r["text"] for r in df.collect()}
    out = gopher_repetition_flags(df, "text").collect()
    assert len(out) == len(rows)
    checked_dup = 0
    for r in out:
        ref = _py_reference(rows[r["doc_id"]])
        _assert_matches(r, ref, r["doc_id"])
        if ref and ref["rep_dup_5gram_frac"] > 0:
            checked_dup += 1
    assert checked_dup > 0, "no doc exercised the dup-gram cover path"


def test_hand_cases_and_edges(spark):
    rows = [
        (1, "a b\na b\nc d"),
        (2, "x y\n\nx y\n\nz w"),
        (3, "a b a b a b"),
        (4, "q w e r t q w e r t x"),
        (5, "a a a a a a a"),
        (6, ""),
        (7, None),
        (8, "unique words only here today"),
        (9, "   \n\t\n  "),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {r["id"]: r for r in gopher_repetition_flags(df, "text").collect()}
    assert out[1]["rep_dup_line_frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert out[1]["rep_dup_line_char_frac"] == pytest.approx(
        3 / 9, abs=1e-6
    )
    assert out[2]["rep_dup_para_frac"] == pytest.approx(1 / 3, abs=1e-6)
    # "a b a b a b": top 2-gram "a b" x3, 9 chars of 11
    assert out[3]["rep_top_2gram_frac"] == pytest.approx(
        9 / 11, abs=1e-6
    )
    # two non-overlapping dup 5-gram runs: 9 + 9 chars of 21
    assert out[4]["rep_total_chars"] == 21
    assert out[4]["rep_dup_5gram_frac"] == pytest.approx(
        18 / 21, abs=1e-6
    )
    # overlapping occurrences merge to full coverage
    assert out[5]["rep_dup_5gram_frac"] == 1.0
    # empty/NULL text: integer anchors 0, fracs NULL, fail closed
    for i in (6, 7):
        assert out[i]["rep_words"] == 0
        assert out[i]["rep_dup_line_frac"] is None
        assert out[i]["rep_keep"] is False
    # all-unique doc: top gram count 1 is not repetition
    assert out[8]["rep_top_2gram_frac"] == 0.0
    assert out[8]["rep_keep"] is True
    # whitespace-only text has no words: fail closed like empty
    assert out[9]["rep_words"] == 0 and out[9]["rep_keep"] is False


def test_thresholds_and_flags(spark):
    df = spark.createDataFrame(
        [(1, "spam ham " * 30), (2, "w" + " x y z".join(str(i) for i in range(40)))],
        "id int, text string",
    )
    out = {
        r["id"]: r
        for r in gopher_repetition_flags(df, "text").collect()
    }
    # doc 1 is one repeated bigram: every gram family trips
    assert out[1]["rep_keep"] is False
    assert out[1]["flag_top_2gram"] is False
    assert out[1]["flag_dup_5gram"] is False
    with pytest.raises(ValueError, match="3 thresholds"):
        gopher_repetition_flags(df, "text", max_top_gram_fracs=(0.2,))
    with pytest.raises(ValueError, match="6 thresholds"):
        gopher_repetition_flags(df, "text", max_dup_gram_fracs=(0.1,))


@pytest.mark.slow
def test_partitioning_invariance(spark, sf_dir):
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where("doc_id % 25 = 0")
        .select("doc_id", "text")
    )
    a = sorted(
        map(tuple, gopher_repetition_flags(docs, "text").collect())
    )
    b = sorted(
        map(
            tuple,
            gopher_repetition_flags(docs.repartition(7), "text").collect(),
        )
    )
    assert a == b


@pytest.mark.slow
def test_declared_step(spark):
    eng = StepEngine(spark)
    ents = {
        "docs": spark.createDataFrame(
            [(1, "a b\na b\nc d"), (2, "fine text with variety here")],
            "doc_id int, text string",
        )
    }
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "gopher_repetition_flags",
                "entity_name": "docs",
                "new_entity_name": "flagged",
                "max_dup_line_frac": 0.5,
            }
        ),
    )
    out = {r["doc_id"]: r for r in ents["flagged"].collect()}
    # relaxed threshold: 1/3 dup lines now passes
    assert out[1]["flag_dup_lines"] is True
    assert out[2]["rep_keep"] is True
    # function output and step output agree column-for-column
    fn = gopher_repetition_flags(
        ents["docs"], "text", max_dup_line_frac=0.5
    )
    assert sorted(map(tuple, fn.collect())) == sorted(
        map(tuple, ents["flagged"].collect())
    )


def _rep_oracle() -> str:
    """The 13-signal DuckDB twin: dup line/para stats via unnest +
    group-by (occurrences beyond the first), top-gram char mass via a
    (count DESC, gram) rank, and the dup-n-gram char coverage via
    QUALIFY-filtered duplicate starts + gaps-and-islands interval
    merging (overlap-only, matching the Spark fold's `s <= last_e`),
    charged per merged run from the word array."""
    cover_ctes = []
    cover_joins = []
    for n in (5, 6, 7, 8, 9, 10):
        cover_ctes.append(f"""
    gn{n} AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(ws) - {n} + 1),
                   i -> {{'s': i,
                          'g': array_to_string(ws[i:i + {n} - 1], ' ')}}
               )) AS sg
        FROM tot WHERE len(ws) >= {n}
    ),
    gs{n} AS (
        SELECT doc_id, sg.s AS s FROM gn{n}
        QUALIFY count(*) OVER (PARTITION BY doc_id, sg.g) >= 2
    ),
    brk{n} AS (
        SELECT doc_id, s, s + {n} - 1 AS e,
               CASE WHEN s <= COALESCE(MAX(s + {n} - 1) OVER (
                        PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -1) THEN 0 ELSE 1 END AS brk
        FROM gs{n}
    ),
    isl{n} AS (
        SELECT doc_id, s, e,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY s) AS grp
        FROM brk{n}
    ),
    run{n} AS (
        SELECT doc_id, MIN(s) AS a, MAX(e) AS b
        FROM isl{n} GROUP BY doc_id, grp
    ),
    cov{n} AS (
        SELECT r.doc_id,
               SUM(list_sum(list_transform(t.ws[r.a:r.b],
                                           w -> length(w)))
                   + (r.b - r.a)) AS covered
        FROM run{n} r JOIN tot t USING (doc_id) GROUP BY r.doc_id
    )""")
        cover_joins.append(f"LEFT JOIN cov{n} ON tot.doc_id = cov{n}.doc_id")

    top_ctes = []
    top_joins = []
    for n in (2, 3, 4):
        top_ctes.append(f"""
    tg{n} AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(ws) - {n} + 1),
                   i -> array_to_string(ws[i:i + {n} - 1], ' ')
               )) AS g
        FROM tot WHERE len(ws) >= {n}
    ),
    tc{n} AS (SELECT doc_id, g, count(*) AS c FROM tg{n} GROUP BY 1, 2),
    top{n} AS (
        SELECT doc_id, c, length(g) AS l FROM (
            SELECT doc_id, g, c,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY c DESC, g) AS rk
            FROM tc{n}
        ) WHERE rk = 1
    )""")
        top_joins.append(f"LEFT JOIN top{n} ON tot.doc_id = top{n}.doc_id")

    def frac6(expr: str) -> str:
        return (
            f"COALESCE(CAST(CAST(floor(({expr}) * 1000000) AS BIGINT)"
            " AS VARCHAR), '~')"
        )

    # per-doc frac expressions (NULL when no words; 0.0 when words but
    # fewer than n grams / top count < 2 — the operator's convention)
    def cover_frac(n: int) -> str:
        return (
            f"CASE WHEN len(ws) = 0 THEN NULL "
            f"WHEN len(ws) < {n} OR cov{n}.covered IS NULL THEN 0.0 "
            f"ELSE round(cov{n}.covered::DOUBLE / total_chars, 6) END"
        )

    def top_frac(n: int) -> str:
        return (
            f"CASE WHEN len(ws) = 0 THEN NULL "
            f"WHEN len(ws) < {n} OR top{n}.c IS NULL OR top{n}.c < 2 "
            f"THEN 0.0 "
            f"ELSE round((top{n}.c * top{n}.l)::DOUBLE / total_chars, 6)"
            " END"
        )

    frac_exprs = [
        "CASE WHEN ld.n_items > 0 THEN"
        " round(COALESCE(ld.dcnt, 0)::DOUBLE / ld.n_items, 6) END",
        "CASE WHEN ld.item_chars > 0 THEN"
        " round(COALESCE(ld.dchars, 0)::DOUBLE / ld.item_chars, 6) END",
        "CASE WHEN pd.n_items > 0 THEN"
        " round(COALESCE(pd.dcnt, 0)::DOUBLE / pd.n_items, 6) END",
        "CASE WHEN pd.item_chars > 0 THEN"
        " round(COALESCE(pd.dchars, 0)::DOUBLE / pd.item_chars, 6) END",
        top_frac(2), top_frac(3), top_frac(4),
    ] + [cover_frac(n) for n in (5, 6, 7, 8, 9, 10)]
    thresholds = [
        0.30, 0.20, 0.30, 0.20, 0.20, 0.18, 0.16,
        0.15, 0.14, 0.13, 0.12, 0.11, 0.10,
    ]
    keep = " AND ".join(
        f"COALESCE(({e}) <= {t}, FALSE)"
        for e, t in zip(frac_exprs, thresholds)
    )
    v = (
        "CAST(CASE WHEN len(ws) > 0 THEN len(ws) ELSE 0 END AS VARCHAR)"
        " || '|' || CAST(total_chars AS VARCHAR)"
        " || '|' || CAST(COALESCE(ld.dcnt, 0) AS VARCHAR)"
        " || '|' || CAST(COALESCE(pd.dcnt, 0) AS VARCHAR) || '|' || "
        + " || '|' || ".join(frac6(e) for e in frac_exprs)
        + f" || '|' || CAST(CASE WHEN {keep} THEN 1 ELSE 0 END AS VARCHAR)"
    )
    return f"""
    WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
    ),
    corpus AS (
        SELECT doc_id, text FROM base
        UNION ALL
        SELECT doc_id + 1000000, text || chr(10) || chr(10) || text
        FROM base WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 2000000,
               substr(text, 1, 120) || chr(10) || substr(text, 1, 120)
               || chr(10) || substr(text, 1, 120)
        FROM base WHERE doc_id % 10 = 0
    ),
    tot AS (
        SELECT doc_id,
               list_filter(string_split_regex(COALESCE(text, ''), '\\s+'),
                           w -> w <> '') AS ws,
               COALESCE(text, '') AS t,
               CASE WHEN len(list_filter(string_split_regex(
                        COALESCE(text, ''), '\\s+'), w -> w <> '')) > 0
                    THEN list_sum(list_transform(
                        list_filter(string_split_regex(
                            COALESCE(text, ''), '\\s+'), w -> w <> ''),
                        w -> length(w)))
                         + len(list_filter(string_split_regex(
                             COALESCE(text, ''), '\\s+'), w -> w <> ''))
                         - 1
                    ELSE 0 END AS total_chars
        FROM corpus
    ),
    lit AS (
        SELECT doc_id,
               unnest(list_filter(list_transform(
                   string_split_regex(t, '\\n'), x -> trim(x, ' ')),
                   x -> x <> '')) AS it
        FROM tot
    ),
    lstat AS (SELECT doc_id, it, count(*) AS c FROM lit GROUP BY 1, 2),
    ld AS (
        SELECT doc_id,
               SUM(c - 1) FILTER (WHERE c > 1) AS dcnt,
               SUM((c - 1) * length(it)) FILTER (WHERE c > 1) AS dchars,
               SUM(c) AS n_items, SUM(c * length(it)) AS item_chars
        FROM lstat GROUP BY doc_id
    ),
    pit AS (
        SELECT doc_id,
               unnest(list_filter(list_transform(
                   string_split_regex(t, '\\n{{2,}}'), x -> trim(x, ' ')),
                   x -> x <> '')) AS it
        FROM tot
    ),
    pstat AS (SELECT doc_id, it, count(*) AS c FROM pit GROUP BY 1, 2),
    pd AS (
        SELECT doc_id,
               SUM(c - 1) FILTER (WHERE c > 1) AS dcnt,
               SUM((c - 1) * length(it)) FILTER (WHERE c > 1) AS dchars,
               SUM(c) AS n_items, SUM(c * length(it)) AS item_chars
        FROM pstat GROUP BY doc_id
    ),{",".join(top_ctes)},{",".join(cover_ctes)}
    SELECT 'r' AS op, CAST(tot.doc_id AS VARCHAR) AS k, {v} AS v
    FROM tot
    LEFT JOIN ld ON tot.doc_id = ld.doc_id
    LEFT JOIN pd ON tot.doc_id = pd.doc_id
    {" ".join(top_joins)}
    {" ".join(cover_joins)}
    """


@pytest.mark.slow
def test_declared_step_matches_duckdb(spark, sf_dir, duck_oracle):
    """The declared step over documents ∪ two adversarial variant
    families (self-concatenation separated by a blank line — every
    line/paragraph/gram duplicated — and a 3×-repeated 120-char head on
    separate lines), so all four dup families and the interval-merge
    cover path are non-vacuous, matched against DuckDB. Per doc: the
    integer anchors (words, joined-token chars, dup line/para counts)
    plus all 13 fracs as floor(x*1e6) of single correctly-rounded
    divisions ('~' for the no-words NULL), plus the keep conjunction."""
    base = _docs(spark, sf_dir).where("doc_id % 5 = 0").selectExpr(
        "doc_id", "text"
    )
    corpus = base.unionByName(
        base.where("doc_id % 10 = 0").selectExpr(
            "doc_id + 1000000 AS doc_id",
            "text || '\\n\\n' || text AS text",
        )
    ).unionByName(
        base.where("doc_id % 10 = 0").selectExpr(
            "doc_id + 2000000 AS doc_id",
            "concat_ws('\\n', substr(text, 1, 120), substr(text, 1, 120),"
            " substr(text, 1, 120)) AS text",
        )
    )
    ents = {"docs": corpus}
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {
                "operation": "gopher_repetition_flags",
                "entity_name": "docs",
                "new_entity_name": "flagged",
            }
        ),
    )
    r6 = (
        "COALESCE(CAST(CAST(floor({x} * 1000000) AS BIGINT) AS STRING),"
        " '~')"
    )
    v = (
        "CONCAT_WS('|', CAST(rep_words AS STRING),"
        " CAST(rep_total_chars AS STRING),"
        " CAST(rep_dup_lines AS STRING), CAST(rep_dup_paras AS STRING), "
        + ", ".join(r6.format(x=c) for c in METRIC_COLS[4:])
        + ", CAST(CAST(rep_keep AS INT) AS STRING))"
    )
    frame = ents["flagged"].selectExpr(
        "'r' AS op", "CAST(doc_id AS STRING) AS k", f"{v} AS v"
    )
    duck_oracle("repetition", frame, _rep_oracle())
