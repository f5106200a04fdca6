"""Robots Exclusion Protocol operators (llmops/robots.py, RFC 9309)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_validation_engine_spark.llmops.robots import (
    parse_robots,
    robots_allowed,
)

ROBOTS_A = """\
# comments are stripped
User-agent: *
Disallow: /private/
Allow: /private/ok.html
Disallow: /*.json$

User-agent: trainbot
User-agent: otherbot
Disallow: /no-train/
Allow:
"""

ROBOTS_B = """\
User-agent: *
Disallow:
"""


def _rules(spark):
    df = spark.createDataFrame(
        [("a.ex", ROBOTS_A), ("b.ex", ROBOTS_B), ("c.ex", None)],
        "host string, body string",
    )
    return parse_robots(df, "host", "body")


def test_parse_groups_and_patterns(spark):
    rules = {
        (r["host"], r["agent"], r["directive"], r["pattern"])
        for r in _rules(spark).collect()
    }
    # the * group of a.ex holds 3 rules; the two-agent group shares its rule
    assert ("a.ex", "*", "disallow", "/private/") in rules
    assert ("a.ex", "*", "allow", "/private/ok.html") in rules
    assert ("a.ex", "*", "disallow", "/*.json$") in rules
    assert ("a.ex", "trainbot", "disallow", "/no-train/") in rules
    assert ("a.ex", "otherbot", "disallow", "/no-train/") in rules
    # blank Disallow/Allow emits nothing: b.ex has no rules at all
    assert not any(h == "b.ex" for h, *_ in rules)
    assert not any(h == "c.ex" for h, *_ in rules)


def _allowed(spark, url, agent):
    urls = spark.createDataFrame([(url,)], "url string")
    [r] = robots_allowed(
        urls, _rules(spark), "url", agent=agent
    ).collect()
    return r["robots_allowed"]


@pytest.mark.slow
def test_longest_match_and_allow_tiebreak(spark):
    # /private/ blocked, but the longer Allow carves out ok.html
    assert _allowed(spark, "http://a.ex/private/x.html", "anybot") is False
    assert _allowed(spark, "http://a.ex/private/ok.html", "anybot") is True
    assert _allowed(spark, "http://a.ex/public/x.html", "anybot") is True


def test_wildcard_and_anchor(spark):
    assert _allowed(spark, "http://a.ex/data/file.json", "anybot") is False
    # $ anchors: .json.txt is NOT matched by /*.json$
    assert _allowed(spark, "http://a.ex/data/file.json.txt", "anybot") is True


def test_exact_agent_group_preempts_star(spark):
    # trainbot gets ITS group (only /no-train/ blocked) — the * group's
    # /private/ rule does not apply to it
    assert _allowed(spark, "http://a.ex/no-train/doc", "TrainBot") is False
    assert _allowed(spark, "http://a.ex/private/x.html", "TrainBot") is True
    # other agents still see the * group
    assert _allowed(spark, "http://a.ex/no-train/doc", "anybot") is True


def test_no_rules_and_no_robots_mean_allowed(spark):
    assert _allowed(spark, "http://b.ex/anything", "anybot") is True
    assert _allowed(spark, "http://c.ex/anything", "anybot") is True
    assert _allowed(spark, "http://unknown.ex/x", "anybot") is True


def test_duplicate_urls_keep_multiplicity(spark):
    urls = spark.createDataFrame(
        [("http://a.ex/private/x",)] * 3, "url string"
    )
    out = robots_allowed(urls, _rules(spark), "url", agent="anybot")
    rows = out.collect()
    assert len(rows) == 3
    assert all(r["robots_allowed"] is False for r in rows)


def test_query_counts_in_path_match(spark):
    # RFC: the matched portion is path + optional query
    urls = spark.createDataFrame(
        [("http://a.ex/page?fmt=x.json",)], "url string"
    )
    extra = spark.createDataFrame(
        [("a.ex", "User-agent: *\nDisallow: /*fmt=*")],
        "host string, body string",
    )
    rules = parse_robots(extra, "host", "body")
    [r] = robots_allowed(urls, rules, "url", agent="anybot").collect()
    assert r["robots_allowed"] is False


def test_declared_steps(spark):
    from data_validation_engine_spark.steps import StepEngine, parse_step

    eng = StepEngine(spark, register_functions=False)
    ents = {
        "robots": spark.createDataFrame(
            [("a.ex", ROBOTS_A)], "host string, body string"
        ),
        "urls": spark.createDataFrame(
            [("http://a.ex/private/x",), ("http://a.ex/ok",)],
            "url string",
        ),
    }
    eng.evaluate(ents, config=parse_step({
        "operation": "parse_robots", "entity_name": "robots",
        "new_entity_name": "rules"}))
    eng.evaluate(ents, config=parse_step({
        "operation": "robots_allowed", "entity_name": "urls",
        "rules_name": "rules", "agent": "anybot",
        "new_entity_name": "checked"}))
    got = {r["url"]: r["robots_allowed"] for r in ents["checked"].collect()}
    assert got == {"http://a.ex/private/x": False, "http://a.ex/ok": True}
