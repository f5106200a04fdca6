"""URL blocklist filtering (llmops/web.py url_blocklist — the
RefinedWeb-style domain cut): host extraction, suffix-aware matching
via the candidate-explode equi-join, NULL-host loudness, and the
declared step proven against its DuckDB twin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_validation_engine_spark.llmops.web import (
    host_suffixes,
    url_blocklist,
    url_host,
)
from data_validation_engine_spark.steps import StepEngine, parse_step
from __spark_entry__ import _docs


def test_url_host_extraction(spark):
    rows = [
        (1, "https://WWW.Example.COM/path?q=1"),
        (2, "http://user:pw@Evil.example:8080/x"),
        (3, "not a url"),
        (4, None),
        (5, "ftp://files.example.org"),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    got = {
        r["id"]: r["h"]
        for r in df.select("id", url_host(F.col("url")).alias("h")).collect()
    }
    assert got[1] == "www.example.com"
    assert got[2] == "evil.example"
    assert got[3] is None and got[4] is None
    assert got[5] == "files.example.org"


def test_host_suffixes_bounded_and_no_bare_tld(spark):
    df = spark.createDataFrame(
        [(1, "a.b.c.d"), (2, "example.com"), (3, "localhost")],
        "id long, h string",
    )
    got = {
        r["id"]: list(r["s"])
        for r in df.select(
            "id", host_suffixes(F.col("h")).alias("s")
        ).collect()
    }
    assert got[1] == ["a.b.c.d", "b.c.d", "c.d"]
    assert got[2] == ["example.com"]
    assert got[3] == []  # a single label never matches
    # max_labels caps the explode
    deep = spark.createDataFrame(
        [(1, ".".join(f"l{i}" for i in range(40)))], "id long, h string"
    )
    [r] = deep.select(
        host_suffixes(F.col("h"), max_labels=5).alias("s")
    ).collect()
    assert len(r["s"]) == 5


def test_url_blocklist_suffix_matching(spark):
    docs = spark.createDataFrame(
        [
            (1, "https://ads.evil.example/banner"),
            (2, "https://evil.example/root"),
            (3, "https://good.example/page"),
            (4, "https://notevil.example.org/x"),  # no suffix match
            (5, "garbage"),
        ],
        "doc_id long, url string",
    )
    blocked = spark.createDataFrame(
        [("evil.example",), ("tracker.net",)], "host string"
    )
    got = {
        r["doc_id"]: r["url_blocked"]
        for r in url_blocklist(docs, blocked).collect()
    }
    assert got[1] is True and got[2] is True
    assert got[3] is False and got[4] is False
    assert got[5] is None  # unparseable: loud NULL, never silent pass
    # composes into the keep filter without dropping NULL-host rows
    kept = url_blocklist(docs, blocked).where(
        "url_blocked IS NULL OR NOT url_blocked"
    )
    assert {r["doc_id"] for r in kept.collect()} == {3, 4, 5}


def test_url_blocklist_precomputed_host_and_case(spark):
    docs = spark.createDataFrame(
        [(1, "Sub.Evil.Example"), (2, "ok.example")],
        "doc_id long, myhost string",
    )
    blocked = spark.createDataFrame([("EVIL.example",)], "host string")
    got = {
        r["doc_id"]: r["url_blocked"]
        for r in url_blocklist(
            docs, blocked, host_col="myhost"
        ).collect()
    }
    assert got[1] is True and got[2] is False


def test_url_blocklist_plan_is_equi_join(spark):
    docs = spark.createDataFrame(
        [(i, f"https://h{i}.example.com/") for i in range(50)],
        "doc_id long, url string",
    )
    blocked = spark.createDataFrame(
        [(f"h{i}.example.com",) for i in range(0, 50, 7)], "host string"
    )
    out = url_blocklist(docs, blocked)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert out.where("url_blocked").count() == 8


#: the blocklist proof's corpus construction, shared verbatim by both twins:
#: per-doc URL from the source column (ads. subdomain every 5th doc,
#: junk every 13th to exercise the loud NULL), blocklist of three
#: hosts exercising exact, subdomain-suffix, and subdomain-only hits
_URLS_CASE_SQL = (
    "CASE WHEN doc_id % 13 = 0 THEN 'not a url' "
    "ELSE CONCAT('https://', "
    "CASE WHEN doc_id % 5 = 0 THEN 'ads.' ELSE '' END, "
    "source, '.example.com/doc/', CAST(doc_id AS STRING)) END"
)

_URLS_BLOCKED = ("src3.example.com", "src7.example.com",
                 "ads.src1.example.com")

_URLS_SQL = f"""
    WITH corpus AS (
        SELECT doc_id, {_URLS_CASE_SQL} AS url FROM documents
    ),
    h AS (
        SELECT doc_id,
               NULLIF(regexp_replace(regexp_replace(lower(
                   regexp_extract(trim(url),
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)),
                   '^.*@', ''), ':[0-9]+$', ''), '') AS host
        FROM corpus
    ),
    s AS (
        SELECT doc_id, host,
               CASE WHEN host IS NULL THEN NULL ELSE (
                   len(list_filter(
                       list_transform(
                           range(0, greatest(least(
                               len(string_split(host, '.')) - 1, 10),
                               1)),
                           i -> array_to_string(
                               string_split(host, '.')[i + 1 :], '.')),
                       x -> contains(x, '.') AND x IN
                            ('src3.example.com', 'src7.example.com',
                             'ads.src1.example.com'))) > 0
               ) END AS blocked
        FROM h
    )
    SELECT 'u' AS op, CAST(doc_id AS VARCHAR) AS k,
           COALESCE(host, '~') || '|' ||
           COALESCE(CAST(CAST(blocked AS INT) AS VARCHAR), '~') AS v
    FROM s
"""


def test_declared_step_matches_duckdb(spark, sf_dir, duck_oracle):
    """The declared url_blocklist step over the constructed URL corpus
    (_URLS_CASE_SQL / _URLS_BLOCKED, both stated verbatim in the
    oracle), matched against DuckDB: per doc the extracted host and the
    suffix-aware blocked flag — src3/src7 docs (and their ads.
    subdomains) blocked by the parent domain, src1 blocked only on its
    ads. subdomain, junk URLs flag NULL ('~')."""
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_URLS_CASE_SQL} AS url"
    )
    ents = {
        "docs": docs,
        "blocked": spark.createDataFrame(
            [(h,) for h in _URLS_BLOCKED], "host string"
        ),
    }
    StepEngine(spark).evaluate(
        ents,
        config=parse_step(
            {
                "operation": "url_blocklist",
                "entity_name": "docs",
                "target_name": "blocked",
                "new_entity_name": "flagged",
            }
        ),
    )
    frame = ents["flagged"].withColumn(
        "__h", url_host(F.col("url"))
    ).selectExpr(
        "'u' AS op",
        "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', COALESCE(__h, '~'),"
        " COALESCE(CAST(CAST(url_blocked AS INT) AS STRING), '~'))"
        " AS v",
    )
    duck_oracle("urls", frame, _URLS_SQL)
