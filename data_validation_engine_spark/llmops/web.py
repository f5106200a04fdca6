"""Web-corpus ingestion helpers: HTML → text and JSON sidecar parsing.

Raw web crawls arrive as HTML strings and JSON metadata sidecars; both
must become clean columns before any quality/dedup operator runs. Two
per-row, zero-shuffle projections:

- :func:`extract_html_text` — the regexp-cascade text extractor
  (drop non-content blocks, strip tags, decode entities, collapse
  whitespace). A real DOM parser is strictly better on pathological
  markup; the regexp cascade is the standard cheap path (what CCNet's
  preprocessing and most public crawl pipelines start from) and stays
  fully JVM-side. Named-entity decode covers the common eight;
  ``unescape="full"`` adds Python's ``html.unescape`` for numeric and
  exotic entities as an Arrow-batched hop (same pattern as
  ``normalize_text``'s Unicode form).
- :func:`parse_json_column` — typed extraction of a JSON string column
  via ``from_json`` with an explicit DDL schema (never inferred —
  mirrors the engine's declared-schema contract), with a loud
  ``is_valid`` flag instead of silent NULLs.

No reference counterpart (`/root/reference` has no corpus surface).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "canonicalize_url",
    "extract_anchor_texts",
    "extract_html_text",
    "extract_links",
    "host_suffixes",
    "parse_json_column",
    "url_blocklist",
    "url_host",
]

# the eight entities that dominate real markup; everything else needs
# `unescape="full"`
_NAMED_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&#x27;", "'"),
    ("&amp;", "&"),  # LAST: earlier rules must see the raw &-forms
]

# block-level elements whose boundaries should become newlines, so
# "<p>a</p><p>b</p>" reads "a\nb" not "ab"
_BLOCK_TAGS = (
    "p|div|br|li|ul|ol|h1|h2|h3|h4|h5|h6|tr|table|blockquote|pre|"
    "section|article|header|footer"
)


def _full_unescape(col: Column) -> Column:
    import pandas as pd  # noqa: F401 — resolves the UDF type hints
    from pyspark.sql.functions import pandas_udf

    def _un(s):
        import html

        return s.map(lambda x: html.unescape(x) if x is not None else None)

    _un.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf("string")(_un)(col)


def extract_html_text(
    df: DataFrame,
    html_col: str,
    *,
    unescape: str | None = "basic",
    output_col: str | None = None,
) -> DataFrame:
    """Strip an HTML column to visible text; NULL stays NULL.

    Cascade (all JVM regexp — one codegen stage):

    1. drop ``<script>``/``<style>``/``<noscript>``/``<template>``
       blocks and HTML comments wholesale (their content is never
       visible text);
    2. turn block-element boundaries into newlines, then strip ALL
       remaining tags;
    3. decode entities — ``"basic"`` rewrites the common eight
       JVM-side, ``"full"`` adds Python's ``html.unescape`` (numeric
       ``&#NNN;``/``&#xHH;`` and the long named table) as an
       Arrow-batched hop, ``None`` skips;
    4. collapse runs of spaces/tabs and 3+ newlines, trim.

    Writes ``output_col`` (default ``text``).
    """
    if unescape not in ("basic", "full", None):
        raise ValueError(
            f"unescape must be 'basic', 'full' or None, got {unescape!r}"
        )
    col: Column = F.col(html_col)
    # (?is): case-insensitive, dot-matches-newline. Non-greedy bodies.
    for tag in ("script", "style", "noscript", "template"):
        col = F.regexp_replace(
            col, f"(?is)<{tag}\\b.*?</{tag}\\s*>", " "
        )
    col = F.regexp_replace(col, "(?s)<!--.*?-->", " ")
    col = F.regexp_replace(
        col, f"(?i)</?(?:{_BLOCK_TAGS})\\b[^>]*>", "\n"
    )
    col = F.regexp_replace(col, "(?s)<[^>]*>", " ")
    if unescape is not None:
        for ent, rep in _NAMED_ENTITIES:
            # the entity strings contain no regex metacharacters
            col = F.regexp_replace(col, ent, rep)
    if unescape == "full":
        col = _full_unescape(col)
    col = F.regexp_replace(col, "[ \t]+", " ")
    col = F.regexp_replace(col, " ?\n ?", "\n")
    col = F.regexp_replace(col, "\n{3,}", "\n\n")
    # full whitespace trim (Spark trim() is space-only; block-tag
    # boundaries leave leading/trailing newlines)
    col = F.regexp_replace(col, "^\\s+|\\s+$", "")
    return df.withColumn(output_col or "text", col)


def parse_json_column(
    df: DataFrame,
    json_col: str,
    schema: str,
    *,
    output_col: str = "parsed",
    valid_col: str = "is_valid",
) -> DataFrame:
    """Parse a JSON string column into a typed struct column.

    ``schema`` is an explicit Spark DDL string (e.g. ``"url STRING,
    fetch_ts BIGINT, headers MAP<STRING,STRING>"``) — never inferred,
    matching the engine's declared-schema contract (schema inference
    over 100 TB of sidecars is a full extra scan AND nondeterministic
    under sampling). Malformed JSON yields a NULL struct and
    ``is_valid = false`` (NULL input stays NULL and counts as valid —
    absence is not corruption); gate on the flag with the sync-filter
    stage rather than letting silent NULLs flow downstream.
    """
    # PERMISSIVE from_json renders malformed input as an all-NULL struct
    # (indistinguishable from '{}'), so corruption must be detected via
    # the corrupt-record column, which captures the raw text on failure
    corrupt = "__corrupt__"
    if corrupt in schema:
        raise ValueError(f"schema may not declare {corrupt}")
    full = F.from_json(
        F.col(json_col),
        f"{schema}, {corrupt} STRING",
        {"columnNameOfCorruptRecord": corrupt},
    )
    ok = F.col(json_col).isNull() | full[corrupt].isNull()
    parsed = F.when(
        F.col(json_col).isNotNull() & full[corrupt].isNull(),
        full.dropFields(corrupt),
    )
    return df.withColumn(output_col, parsed).withColumn(valid_col, ok)


def extract_links(
    df: DataFrame,
    html_col: str,
    *,
    base_url_col: str | None = None,
    output_col: str = "href",
    unique: bool = True,
) -> DataFrame:
    """Extract anchor targets from an HTML column: one row per href —
    the crawl-side edge extractor that feeds the link graph
    (``graph.pagerank`` / ``connected_components`` take the output
    directly as an edge list).

    Href values come from ``<a ... href="...">`` / ``href='...'`` /
    unquoted ``href=...`` (case-insensitive, whitespace-tolerant
    around ``=``), entity-decoded for the separator entities real
    markup embeds in URLs (``&amp;`` and friends), with fragments
    (``#...``) stripped and ``javascript:``/``mailto:``/``data:``/
    ``tel:`` pseudo-links dropped. When ``base_url_col`` is given,
    relative hrefs are resolved against it with RFC-3986's common
    cases: scheme-relative ``//host/x``, root-relative ``/x``, and
    path-relative ``x`` (resolved against the base's directory;
    ``.``/``..`` segments are NOT normalised — at corpus scale the
    dominant consumers key on host anyway and a loud un-normalised
    path beats a wrong one).

    ``unique`` dedups per source row (the within-page repeat of nav
    links would otherwise dominate the edge list). Scale shape: one
    ``regexp_extract_all`` + per-row array transforms, zero shuffle,
    no Python — the explode multiplies rows by out-degree only.
    """
    html = F.coalesce(F.col(html_col), F.lit(""))
    raw = F.regexp_extract_all(
        html,
        F.lit(
            r"(?i)<a\s[^>]*?href\s*=\s*"
            r"(?:\"([^\"]*)\"|'([^']*)'|([^\s\"'>]+))"
        ),
        1,
    )
    # group 1 only matches double-quoted hrefs; run the other two
    # groups separately (regexp_extract_all takes ONE group index)
    raw2 = F.regexp_extract_all(
        html,
        F.lit(
            r"(?i)<a\s[^>]*?href\s*=\s*"
            r"(?:\"([^\"]*)\"|'([^']*)'|([^\s\"'>]+))"
        ),
        2,
    )
    raw3 = F.regexp_extract_all(
        html,
        F.lit(
            r"(?i)<a\s[^>]*?href\s*=\s*"
            r"(?:\"([^\"]*)\"|'([^']*)'|([^\s\"'>]+))"
        ),
        3,
    )
    merged = F.filter(
        F.concat(raw, raw2, raw3), lambda h: h != ""
    )
    cleaned = F.transform(
        merged,
        lambda h: F.regexp_replace(
            F.regexp_replace(
                F.trim(h), r"&amp;|&#38;|&#x26;", "&"
            ),
            r"#.*$",
            "",
        ),
    )
    kept = F.filter(
        cleaned,
        lambda h: (h != "")
        & ~h.rlike(r"(?i)^(javascript|mailto|data|tel):"),
    )
    if base_url_col is not None:
        base = F.coalesce(F.col(base_url_col), F.lit(""))
        scheme = F.regexp_extract(base, r"^([a-zA-Z][a-zA-Z0-9+.-]*):", 1)
        origin = F.regexp_extract(base, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
        # base directory: origin + path up to (and including) the last /
        dirpath = F.regexp_extract(
            base, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^?#]*/)", 1
        )
        dirpath = F.when(dirpath == "", F.concat(origin, F.lit("/"))).otherwise(
            dirpath
        )
        kept = F.transform(
            kept,
            lambda h: F.when(
                h.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), h
            )
            .when(h.rlike(r"^//"), F.concat(scheme, F.lit(":"), h))
            .when(h.rlike(r"^/"), F.concat(origin, h))
            # '?page=2' keeps the base FILENAME (RFC 3986 §5.3), unlike
            # path-relative refs which replace it
            .when(
                h.rlike(r"^\?"),
                F.concat(F.regexp_extract(base, r"^([^?#]*)", 1), h),
            )
            .otherwise(F.concat(dirpath, h)),
        )
    if unique:
        kept = F.array_distinct(kept)
    return df.select("*", F.explode(kept).alias(output_col))


def extract_anchor_texts(
    df: DataFrame,
    html_col: str,
    *,
    output_href: str = "href",
    output_text: str = "anchor_text",
) -> DataFrame:
    """Extract ``(href, anchor_text)`` pairs from an HTML column — the
    anchor-text corpus signal (what the web says a page is about;
    classic relevance/label source for retrieval training sets, and
    the edge-attribute companion to :func:`extract_links`).

    One row per ``<a ...>...</a>`` element with a usable href:
    ``href`` cleaned exactly as :func:`extract_links` does (entity
    separators decoded, fragment stripped, pseudo-links dropped) and
    ``anchor_text`` = the element's inner text with nested tags
    stripped, entities decoded (the common set), and whitespace
    collapsed; empty anchor texts (image links) yield ``''`` rather
    than dropping the edge. Per-row regexes only — zero shuffle, no
    Python; rows multiply by out-degree at the final explode.
    """
    html = F.coalesce(F.col(html_col), F.lit(""))
    elements = F.regexp_extract_all(
        html, F.lit(r"(?is)(<a\s[^>]*>.*?</a>)"), 1
    )

    def _href(e: Column) -> Column:
        dq = F.regexp_extract(e, r"(?is)href\s*=\s*\"([^\"]*)\"", 1)
        sq = F.regexp_extract(e, r"(?is)href\s*=\s*'([^']*)'", 1)
        uq = F.regexp_extract(e, r"(?is)href\s*=\s*([^\s\"'>]+)", 1)
        raw = F.when(dq != "", dq).when(sq != "", sq).otherwise(uq)
        return F.regexp_replace(
            F.regexp_replace(F.trim(raw), r"&amp;|&#38;|&#x26;", "&"),
            r"#.*$",
            "",
        )

    def _text(e: Column) -> Column:
        inner = F.regexp_extract(e, r"(?is)<a\s[^>]*>(.*?)</a>", 1)
        decoded = F.regexp_replace(inner, r"(?s)<[^>]*>", " ")
        # JVM-side common-entity decode (the extract_html_text "basic"
        # set) — no Arrow hop in a nested lambda
        for ent, rep in _NAMED_ENTITIES:
            decoded = F.replace(decoded, F.lit(ent), F.lit(rep))
        return F.trim(F.regexp_replace(decoded, r"\s+", " "))

    pairs = F.transform(
        elements,
        lambda e: F.struct(_href(e).alias("h"), _text(e).alias("t")),
    )
    kept = F.filter(
        pairs,
        lambda p: (p["h"] != "")
        & ~p["h"].rlike(r"(?i)^(javascript|mailto|data|tel):"),
    )
    return df.select("*", F.explode(kept).alias("__a")).select(
        "*",
        F.col("__a")["h"].alias(output_href),
        F.col("__a")["t"].alias(output_text),
    ).drop("__a")


#: query parameters that identify a click, not a resource — the common
#: tracking set every crawl canonicalizer strips (utm_* by prefix)
DEFAULT_TRACKING_PARAMS = (
    "gclid", "fbclid", "msclkid", "dclid", "igshid", "mc_cid",
    "mc_eid", "yclid", "ref", "ref_src", "spm", "_ga",
)


def canonicalize_url(
    url: Column,
    *,
    extra_drop_params: tuple[str, ...] = (),
    keep_fragment: bool = False,
) -> Column:
    """Canonical form of a URL column for URL-level dedup and frontier
    keys (the standard crawl recipe, RFC 3986 §6 normalizations plus
    tracking-param hygiene):

    - scheme and host lowercased; default ports stripped (``:80`` on
      http, ``:443`` on https);
    - fragment dropped (unless ``keep_fragment``);
    - tracking parameters removed — ``utm_*`` by prefix plus
      :data:`DEFAULT_TRACKING_PARAMS` and ``extra_drop_params`` (exact
      name match, case-insensitive);
    - surviving query parameters SORTED by full ``k=v`` text (stable:
      two URLs differing only in param order collapse);
    - empty path becomes ``/``; an emptied query drops its ``?``.

    Two crawls of ``HTTP://Site.EX:80/a?utm_source=x&b=2&a=1`` and
    ``http://site.ex/a?a=1&b=2`` produce the same key. NULL and
    unparseable (no ``scheme://host``) inputs return NULL — filter or
    coalesce downstream; dedup on ``md5(canonicalize_url(url))``.

    Pure per-row regexp/array expressions — zero shuffle, no Python.
    Path case and ``.``/``..`` segments are preserved (paths are
    case-sensitive per the RFC; resolve relative segments at extract
    time, see :func:`extract_links`).
    """
    u = F.trim(url)
    scheme = F.lower(F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))
    # only strip the port matching the scheme's default
    host = F.when(
        (scheme == "http") & hostport.rlike(r":80$"),
        F.regexp_replace(hostport, r":80$", ""),
    ).when(
        (scheme == "https") & hostport.rlike(r":443$"),
        F.regexp_replace(hostport, r":443$", ""),
    ).otherwise(hostport)
    path = F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    # the '?' must sit BEFORE any '#' (a fragment like '#sec?x=1'
    # holds no query), and the query starts at the FIRST '?': '?' is
    # legal INSIDE a query per RFC 3986, and a greedy '^[^#]*\?' would
    # anchor on the LAST one, silently dropping everything between —
    # distinct URLs would collapse to one canonical dedup key
    # (mirrors the path regex's '[^?#]*' stop)
    query = F.regexp_extract(u, r"^[^#?]*\?([^#]*)", 1)
    fragment = F.regexp_extract(u, r"#(.*)$", 1)

    drop_exact = [p.lower() for p in DEFAULT_TRACKING_PARAMS] + [
        p.lower() for p in extra_drop_params
    ]
    params = F.filter(
        F.split(query, "&"),
        lambda kv: (kv != "")
        & ~F.lower(F.regexp_extract(kv, r"^([^=]*)", 1)).rlike(r"^utm_")
        & ~F.lower(F.regexp_extract(kv, r"^([^=]*)", 1)).isin(drop_exact),
    )
    sorted_q = F.array_join(F.array_sort(params), "&")
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(sorted_q != "", F.concat(F.lit("?"), sorted_q)).otherwise(
            F.lit("")
        ),
    )
    if keep_fragment:
        rebuilt = F.concat(
            rebuilt,
            F.when(fragment != "", F.concat(F.lit("#"), fragment)).otherwise(
                F.lit("")
            ),
        )
    return F.when((scheme != "") & (host != ""), rebuilt)


def url_host(url: Column) -> Column:
    """The lowercased host of an absolute URL (port and credentials
    stripped; NULL when the input has no ``scheme://host``) — the join
    key the crawl-compliance operators share (robots rule tables,
    blocklists)."""
    hostport = F.lower(
        F.regexp_extract(
            F.trim(url), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1
        )
    )
    bare = F.regexp_replace(
        F.regexp_replace(hostport, r"^.*@", ""), r":\d+$", ""
    )
    return F.when(bare != "", bare)


def host_suffixes(host: Column, *, max_labels: int = 10) -> Column:
    """Every dot-suffix of a host down to the registrable tail —
    ``a.b.c.d`` → ``[a.b.c.d, b.c.d, c.d]`` (single labels excluded:
    blocking a bare TLD is never the intent). Bounded by
    ``max_labels`` so a pathological million-label host cannot blow up
    the explode. This is what makes blocklist matching an EQUI-join:
    explode the candidates once and hash-join the blocklist, instead
    of a per-(row × pattern) suffix comparison."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    return F.filter(
        F.transform(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.least(n - F.lit(2), F.lit(int(max_labels) - 1)),
                    F.lit(0),
                ),
            ),
            lambda i: F.array_join(F.slice(labels, i + 1, n), "."),
        ),
        lambda s: (F.length(s) > 0) & s.contains("."),
    )


def url_blocklist(
    df: DataFrame,
    blocked: DataFrame,
    url_col: str = "url",
    *,
    id_col: str = "doc_id",
    blocked_host_col: str = "host",
    host_col: str | None = None,
    max_labels: int = 10,
    flag_col: str = "url_blocked",
) -> DataFrame:
    """Flag rows whose URL host (or any parent domain) appears in a
    blocklist table — the RefinedWeb/FineWeb URL-filter stage
    (Penedo 2023 arXiv:2306.01116 §3.1; the public crawl pipelines'
    first cut) as a dimension equi-join.

    ``blocked`` is a (possibly huge — the public lists run to millions
    of domains) one-column host table; matching is suffix-aware
    (``ads.evil.example`` is blocked by ``evil.example``). Scale
    shape: each row explodes into at most ``max_labels`` candidate
    suffixes ((id, suffix) rows of ~30 bytes), the blocklist joins as
    a plain equi-join — broadcast when small, shuffle hash join when
    huge, AQE's call — and one distinct + left join restores the
    per-row flag. The corpus' wide columns never shuffle: only ids
    travel. Rows with an unparseable URL get ``flag_col`` NULL (decide
    loudly downstream), never a silent pass."""
    host = (
        F.lower(F.col(host_col))
        if host_col is not None
        else url_host(F.col(url_col))
    )
    keyed = df.withColumn("__host", host)
    cand = keyed.select(
        F.col(id_col),
        F.explode(
            host_suffixes(F.col("__host"), max_labels=max_labels)
        ).alias("__sfx"),
    )
    blocked_hosts = blocked.select(
        F.lower(F.col(blocked_host_col)).alias("__sfx")
    )
    hits = (
        cand.join(blocked_hosts, "__sfx", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__blocked", F.lit(True))
    )
    return (
        keyed.join(hits, id_col, "left")
        .withColumn(
            flag_col,
            F.when(F.col("__host").isNull(), F.lit(None).cast("boolean"))
            .otherwise(F.coalesce(F.col("__blocked"), F.lit(False))),
        )
        .drop("__host", "__blocked")
    )
