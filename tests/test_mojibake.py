"""Mojibake detection + repair (llmops/normalize.py), pinned against
Python's codec round-trip; the detection counts are also proven against
their DuckDB twin."""

from __future__ import annotations

import pytest

from data_validation_engine_spark.llmops.normalize import (
    MOJIBAKE_MARKERS,
    fix_mojibake,
    mojibake_stats,
)
from data_validation_engine_spark.steps import parse_step
from data_validation_engine_spark.steps.engine import StepEngine
from __spark_entry__ import _docs


def _break(s: str) -> str:
    """Create mojibake exactly the way the wild does: UTF-8 bytes
    mis-decoded as WHATWG windows-1252 (cp1252 for the 27 defined
    0x80-0x9F printables — the visible "â€™" artifacts — with the 5
    undefined bytes passing through as C1 controls, which is what
    browsers do)."""
    out = []
    for byte in s.encode("utf-8"):
        try:
            out.append(bytes([byte]).decode("windows-1252"))
        except UnicodeDecodeError:
            out.append(chr(byte))
    return "".join(out)


CLEAN = [
    "it’s a café — “nice” one…",
    "naïve piñata über señor",
    "£5 · 30° «quoted»",
]


def test_stats_counts_markers(spark):
    rows = [(i, _break(t)) for i, t in enumerate(CLEAN)] + [
        (10, "plain ascii text"),
        (11, ""),
        (12, None),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {r["id"]: r for r in mojibake_stats(df, "text").collect()}
    for i, t in enumerate(CLEAN):
        broken = _break(t)
        expected = sum(broken.count(m) for m in MOJIBAKE_MARKERS)
        assert expected > 0, (i, broken)
        assert out[i]["mojibake_count"] == expected
        assert out[i]["mojibake_frac"] == pytest.approx(
            round(expected / len(broken), 6), abs=1e-9
        )
    assert out[10]["mojibake_count"] == 0
    assert out[10]["mojibake_frac"] == 0.0
    for i in (11, 12):
        assert out[i]["mojibake_count"] == 0
        assert out[i]["mojibake_frac"] is None


def test_fix_recovers_original(spark):
    rows = [(i, _break(t)) for i, t in enumerate(CLEAN)]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {r["id"]: r for r in fix_mojibake(df, "text").collect()}
    for i, t in enumerate(CLEAN):
        assert out[i]["mojibake_fixed"] is True
        assert out[i]["text"] == t, (out[i]["text"], t)


def test_fix_guards(spark):
    rows = [
        # emoji: not Latin-1-representable -> untouched (guard 1)
        (1, "mojibake â€™ plus emoji 😀"),
        # legitimate Latin-1 with no markers -> untouched (guard 3)
        (2, "résumé déjà vu"),
        # clean ascii -> untouched
        (3, "nothing to fix here"),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {
        r["id"]: r
        for r in fix_mojibake(df, "text", output_col="fixed").collect()
    }
    for i in (1, 2, 3):
        assert out[i]["mojibake_fixed"] is False
        assert out[i]["fixed"] == out[i]["text"]
    assert out[4]["mojibake_fixed"] is False and out[4]["fixed"] is None
    assert out[5]["mojibake_fixed"] is False and out[5]["fixed"] == ""


def test_double_mojibake_one_layer_per_call(spark):
    original = "it’s fine"
    double = _break(_break(original))
    df = spark.createDataFrame([(1, double)], "id int, text string")
    once = fix_mojibake(df, "text").collect()[0]
    assert once["mojibake_fixed"] is True
    assert once["text"] == _break(original)
    twice = fix_mojibake(
        spark.createDataFrame([(1, once["text"])], "id int, text string"),
        "text",
    ).collect()[0]
    assert twice["text"] == original


def test_steps_and_corpus_roundtrip(spark, sf_dir):
    """Declared steps over real documents ∪ broken variants: every
    broken variant repairs back to its source text byte-for-byte,
    clean rows pass through untouched with flag false."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where("doc_id % 20 = 0")
        .select("doc_id", "text")
    )
    rows = docs.collect()
    # python-side break (the codec work a foreign system did wrong)
    broken = spark.createDataFrame(
        [(r["doc_id"] + 1000000, _break("café — it’s " + (r["text"] or "")))
         for r in rows],
        "doc_id long, text string",
    )
    eng = StepEngine(spark)
    ents = {"docs": docs.unionByName(broken)}
    eng.evaluate(
        ents,
        config=parse_step(
            {"operation": "mojibake_stats", "entity_name": "docs"}
        ),
    )
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "fix_mojibake",
                "entity_name": "docs",
                "output_column": "fixed",
            }
        ),
    )
    out = ents["docs"].collect()
    by_id = {r["doc_id"]: r for r in out}
    for r in rows:
        clean = by_id[r["doc_id"]]
        assert clean["mojibake_fixed"] is False
        assert clean["fixed"] == clean["text"]
        b = by_id[r["doc_id"] + 1000000]
        assert b["mojibake_count"] > 0
        assert b["mojibake_fixed"] is True
        assert b["fixed"] == "café — it’s " + (r["text"] or "")


#: injected-marker prefix shared verbatim by both mojibake_stats twins —
#: plain string literals, so the two engines build identical variant
#: text without needing byte-codec work in SQL
_ENC_PREFIX = "cafÃ© â€™ mojibake Â° sample â€œ "


def _encoding_oracle() -> str:
    from data_validation_engine_spark.llmops.normalize import (
        MOJIBAKE_MARKERS,
    )

    terms = " + ".join(
        f"(length(t) - length(replace(t, '{m}', ''))) // {len(m)}"
        for m in MOJIBAKE_MARKERS
    )
    return f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 1000000, '{_ENC_PREFIX}' || text
        FROM documents WHERE doc_id % 10 = 0
    ),
    c AS (SELECT doc_id, COALESCE(text, '') AS t FROM corpus),
    m AS (SELECT doc_id, t, {terms} AS cnt FROM c)
    SELECT 's' AS op, CAST(doc_id AS VARCHAR) AS k,
           CAST(cnt AS VARCHAR) || '|' ||
           CASE WHEN length(t) > 0
                THEN CAST(CAST(floor(round(cnt::DOUBLE / length(t), 6)
                     * 1000000) AS BIGINT) AS VARCHAR)
                ELSE '~' END AS v
    FROM m
"""


def test_declared_stats_match_duckdb(spark, sf_dir, duck_oracle):
    """The declared mojibake_stats step over documents ∪ marker-injected
    variants (the shared _ENC_PREFIX literal prepended at offset ids —
    both twins build the identical string, no codec work in SQL),
    matched against DuckDB. Per doc: the exact marker count and
    floor(frac*1e6) of the single division ('~' for empty text). The
    repair is engine byte-codec work and is pinned by the round trips
    above; its decision inputs — these counts — are what this proves."""
    from pyspark.sql import functions as F

    base = _docs(spark, sf_dir).where("doc_id % 10 = 0").select(
        "doc_id", "text"
    )
    corpus = base.unionByName(
        base.select(
            (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
            F.concat(F.lit(_ENC_PREFIX), F.col("text")).alias("text"),
        )
    )
    ents = {"docs": corpus}
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {"operation": "mojibake_stats", "entity_name": "docs"}
        ),
    )
    frame = ents["docs"].selectExpr(
        "'s' AS op",
        "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', CAST(mojibake_count AS STRING),"
        " COALESCE(CAST(CAST(floor(mojibake_frac * 1000000) AS BIGINT)"
        " AS STRING), '~')) AS v",
    )
    duck_oracle("encoding", frame, _encoding_oracle())
