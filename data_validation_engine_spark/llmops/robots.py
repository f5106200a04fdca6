"""Robots Exclusion Protocol evaluation at corpus scale (RFC 9309).

A crawl-derived training corpus carries compliance obligations: URLs
disallowed for your agent should be filtered, and at 100 TB that
filter is a join, not a per-URL HTTP fetch. Two operators:

- :func:`parse_robots` — robots.txt BODIES (however fetched; one row
  per host) into a typed rule table: ``(host, agent, directive,
  pattern, match_regex, pattern_len)``.
- :func:`robots_allowed` — URLs against that rule table with RFC 9309
  semantics: the most specific matching agent group (exact agent,
  else ``*``), longest-pattern-wins among matching rules, allow wins
  ties, no matching rule (or no robots.txt) means allowed.

Wildcards per the spec: ``*`` matches any octet sequence, a trailing
``$`` anchors the end; other characters match literally (the regex
translation escapes them).

Scale shape: rule tables are tiny per host (and skew-safe: one row
per rule, grouped by host); :func:`robots_allowed` collapses them to
ONE row per host and decides per URL with a pure array fold after the
host equi-join (AQE broadcasts the dimension side) — the URL stream
never shuffles, never multiplies by rule count, and the operator
lifts to Structured Streaming unchanged (no per-row-id window). No
Python, no per-URL state.

Net-new vs the reference (no crawl surface); public spec: RFC 9309,
"Robots Exclusion Protocol".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["parse_robots", "robots_allowed"]


def parse_robots(
    df: DataFrame,
    host_col: str,
    robots_col: str,
) -> DataFrame:
    """Parse robots.txt bodies into rule rows: ``(host, agent,
    directive, pattern, match_regex, pattern_len)``.

    Group structure per RFC 9309: a group is one or more
    ``User-agent:`` lines followed by rules; every rule belongs to all
    agents of its group. Comments (``#`` to end of line) are stripped;
    directives are case-insensitive; unknown directives and blank
    patterns on ``Allow``/``Disallow`` are ignored (an empty
    ``Disallow:`` means "allow everything" — representable by emitting
    no rule). Agents are lowercased (they match case-insensitively),
    and so is ``host`` — :func:`robots_allowed` lowercases the host it
    derives from each URL (DNS names are case-insensitive, RFC 4343),
    so the rule table must share that canonicalization or mixed-case
    rule hosts would silently never join and every URL under them
    would come back allowed.

    Implemented as per-row array folds over the body's lines — zero
    shuffle until the final explode. ``match_regex`` is the compiled
    RFC pattern (``*`` → ``.*``, trailing ``$`` anchors, the rest
    literal) anchored at the path start; ``pattern_len`` is the
    longest-match precedence key.
    """
    lines = F.split(
        F.regexp_replace(F.coalesce(F.col(robots_col), F.lit("")), r"\r", ""),
        "\n",
    )
    cleaned = F.transform(
        lines, lambda l: F.trim(F.regexp_replace(l, r"#.*$", ""))
    )
    # fold: state = (group_id, in_agent_run) — a User-agent line after a
    # rule line OPENS a new group; consecutive User-agent lines share one
    parsed = F.filter(
        F.transform(
            F.aggregate(
                cleaned,
                F.struct(
                    F.lit(0).alias("gid"),
                    F.lit(True).alias("in_agents"),
                    F.expr(
                        "CAST(array() AS array<struct<gid:int,kind:string,"
                        "value:string>>)"
                    ).alias("out"),
                ),
                lambda acc, l: F.when(
                    F.lower(l).rlike(r"^user-agent\s*:"),
                    F.struct(
                        F.when(acc["in_agents"], acc["gid"]).otherwise(
                            acc["gid"] + 1
                        ).alias("gid"),
                        F.lit(True).alias("in_agents"),
                        F.concat(
                            acc["out"],
                            F.array(
                                F.struct(
                                    F.when(
                                        acc["in_agents"], acc["gid"]
                                    ).otherwise(acc["gid"] + 1).alias("gid"),
                                    F.lit("agent").alias("kind"),
                                    F.lower(
                                        F.trim(
                                            F.regexp_extract(
                                                l, r"(?i)^user-agent\s*:(.*)$", 1
                                            )
                                        )
                                    ).alias("value"),
                                )
                            ),
                        ).alias("out"),
                    ),
                ).when(
                    F.lower(l).rlike(r"^(allow|disallow)\s*:"),
                    F.struct(
                        acc["gid"].alias("gid"),
                        F.lit(False).alias("in_agents"),
                        F.concat(
                            acc["out"],
                            F.array(
                                F.struct(
                                    acc["gid"].alias("gid"),
                                    F.lower(
                                        F.regexp_extract(
                                            l, r"(?i)^(allow|disallow)\s*:", 1
                                        )
                                    ).alias("kind"),
                                    F.trim(
                                        F.regexp_extract(
                                            l,
                                            r"(?i)^(?:allow|disallow)\s*:(.*)$",
                                            1,
                                        )
                                    ).alias("value"),
                                )
                            ),
                        ).alias("out"),
                    ),
                ).otherwise(acc),
                lambda acc: acc["out"],
            ),
            lambda e: e,
        ),
        lambda e: (e["kind"] == "agent") | (e["value"] != ""),
    )
    exploded = df.select(
        F.lower(F.col(host_col)).alias("host"),
        F.explode(parsed).alias("__e"),
    ).select(
        "host",
        F.col("__e.gid").alias("gid"),
        F.col("__e.kind").alias("kind"),
        F.col("__e.value").alias("value"),
    )
    agents = exploded.where(F.col("kind") == "agent").select(
        "host", "gid", F.col("value").alias("agent")
    )
    rules = exploded.where(F.col("kind") != "agent").select(
        "host",
        "gid",
        F.col("kind").alias("directive"),
        F.col("value").alias("pattern"),
    )
    # RFC pattern -> anchored regex: escape, then '*' wildcards and the
    # trailing '$' anchor
    esc = F.regexp_replace(
        F.col("pattern"), r"([.\^$+?()\[\]{}|\\])", r"\\$1"
    )
    # the replacement "$" must itself be escaped (Java replacement
    # strings treat bare $ as a group reference); the result puts a
    # regex end-anchor where the RFC pattern's trailing $ was
    with_anchor = F.when(
        F.col("pattern").endswith("$"),
        F.regexp_replace(esc, r"\\\$$", r"\$"),
    ).otherwise(esc)
    regex = F.concat(
        F.lit("^"), F.regexp_replace(with_anchor, r"\*", ".*")
    )
    return agents.join(rules, ["host", "gid"]).select(
        "host",
        "agent",
        "directive",
        "pattern",
        regex.alias("match_regex"),
        F.length("pattern").alias("pattern_len"),
    )


def robots_allowed(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str,
    *,
    agent: str,
    host_col: str | None = None,
    out_col: str = "robots_allowed",
) -> DataFrame:
    """Evaluate URLs against a :func:`parse_robots` rule table for
    ``agent``: adds ``out_col`` (boolean). RFC 9309 decision order:

    1. group selection — rules for the EXACT agent (lowercased
       substring-token match per the common implementation: equality
       here) if any exist for the host, else the ``*`` group;
    2. among the selected group's rules whose pattern matches the
       URL's path (+query), the LONGEST pattern decides;
    3. ``allow`` wins length ties; no matching rule, no group, or no
       rules for the host at all → allowed.

    ``host_col`` names a precomputed host column; otherwise the host
    is derived from the URL (lowercased, port kept — match how the
    rule table's hosts were keyed).
    """
    a = agent.lower()
    # lowercase BOTH branches: parse_robots lowercases rule hosts
    # unconditionally (the table's invariant), so a precomputed
    # mixed-case host column must fold too or it silently never joins
    # and every URL under it comes back allowed
    host = (
        F.lower(F.col(host_col))
        if host_col is not None
        else F.lower(
            F.regexp_extract(
                F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1
            )
        )
    )
    path = F.regexp_extract(F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    # The rule table collapses to ONE row per host (a
    # dimension-sized aggregation) and the decision becomes a per-URL
    # fold over that host's rule array — no per-row-id window, so the
    # URL side never shuffles and never multiplies by its rule count,
    # and the operator lifts to Structured Streaming unchanged
    # (stream-static equi-join + projection; a window/
    # monotonically_increasing_id shape would be batch-only). The
    # decisive rule maximises pattern_len*2 +
    # (allow ? 1 : 0) over the selected group's matching rules — the
    # longest pattern wins and allow wins length ties — and no match /
    # no group / no rules means allowed.
    per_host = (
        rules.where(F.col("agent").isin(a, "*"))
        .groupBy(F.col("host").alias("__host"))
        .agg(
            F.collect_list(
                F.struct("agent", "directive", "match_regex",
                         "pattern_len")
            ).alias("__rules")
        )
    )
    joined = (
        urls.withColumn("__host", host)
        .withColumn("__path", path)
        .join(per_host, "__host", "left")
    )
    rules_arr = F.coalesce(
        F.col("__rules"),
        F.array().cast(
            "array<struct<agent:string,directive:string,"
            "match_regex:string,pattern_len:int>>"
        ),
    )
    has_exact = F.exists(rules_arr, lambda r: r["agent"] == a)
    selected = F.filter(
        rules_arr,
        lambda r: F.when(has_exact, r["agent"] == a).otherwise(
            r["agent"] == "*"
        ),
    )
    hits = F.filter(
        selected,
        lambda r: F.regexp_like(F.col("__path"), r["match_regex"]),
    )
    best = F.aggregate(
        hits,
        F.struct(
            F.lit(-1).alias("score"), F.lit(True).alias("allow")
        ),
        lambda acc, r: F.when(
            r["pattern_len"] * F.lit(2)
            + F.when(r["directive"] == "allow", 1).otherwise(0)
            > acc["score"],
            F.struct(
                (
                    r["pattern_len"] * F.lit(2)
                    + F.when(r["directive"] == "allow", 1).otherwise(0)
                ).alias("score"),
                (r["directive"] == "allow").alias("allow"),
            ),
        ).otherwise(acc),
    )
    return joined.withColumn(out_col, best["allow"]).select(
        *urls.columns, out_col
    )
