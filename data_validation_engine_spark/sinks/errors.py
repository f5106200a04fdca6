"""Error feed sink: the message feed -> JSONL.

Replaces the reference's background-thread row writer
(dve common/error_utils.py:30-173). A submission's messages are one
tagged feed: each row carries the JSONL feed it belongs to in ``FEED``
(``data_contract``, ``business_rules``, or null for the presence/XSD/
processing-error rows no feed receives). The feed is error-sized, so the
pipeline collects it once with a bounded ``limit(cap + 1).toArrow()``
(:func:`collect_feed`); at or under the cap every sink reads that Arrow
table driver-side and no sink starts a Spark job. Over the cap the feed
stays a DataFrame: the data-sized sinks (the JSONL feeds, the rejection
keys, the report's detail rows) read it distributed, and the counts read
one bounded grouping-sets summary of it (sinks/report.py).

The driver-side JSONL writer lays a feed out as Spark's JSON writer
does: ``part-00000-<uuid>-c000.json`` plus ``_SUCCESS``, each line's
fields in schema order with null fields omitted, text as UTF-8 — readers
cannot tell the writers apart. It also writes the literal rows of the
pipeline's early returns (entity presence, XSD failure), which
:func:`write_literal_messages_jsonl` returns as a DataFrame.
"""

from __future__ import annotations

import json
import uuid
from pathlib import Path
from typing import TYPE_CHECKING, Iterable, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pyarrow as pa

Feed = Union[DataFrame, "pa.Table"]
"""A message feed: a DataFrame, or the Arrow table :func:`collect_feed`
returned for it."""

MAX_DETAIL_ROWS = 100_000
"""The error report's detail-sheet cap, and the most messages a feed
collect brings to the driver."""

FEED = "__feed__"
"""Column of the tagged feed: the JSONL feed a message is written to."""

FEEDS = ("data_contract", "business_rules")


def tag_feed(messages: DataFrame | None, name: str | None) -> DataFrame | None:
    """``messages`` with its ``FEED`` tag (null: written to no feed)."""
    if messages is None:
        return None
    return messages.withColumn(FEED, F.lit(name).cast("string"))


def collect_feed(feed: DataFrame, cap: int = MAX_DETAIL_ROWS) -> "pa.Table | None":
    """The feed as an Arrow table when it has at most ``cap`` rows, else
    None. One bounded job: ``limit(cap + 1)`` is enough to tell. A cap of 0
    never collects."""
    if cap <= 0:
        return None
    table = feed.limit(cap + 1).toArrow()
    return table if table.num_rows <= cap else None


def select_feed(feed: Feed, name: str | None = None) -> Feed:
    """The rows tagged ``name`` (every row when None), without the tag."""
    if isinstance(feed, DataFrame):
        rows = feed if name is None else feed.where(F.col(FEED) == name)
        return rows.drop(FEED)
    if name is not None:
        import pyarrow.compute as pc

        feed = feed.filter(pc.equal(feed[FEED], name))
    return feed.drop_columns([FEED])


def write_messages_jsonl(messages: Feed, uri: str, *, mode: str = "append") -> None:
    """Write a message feed as JSONL: a DataFrame with Spark's JSON writer,
    a collected table driver-side (appended to a local path)."""
    if isinstance(messages, DataFrame):
        messages.write.mode(mode).json(uri)
        return
    path = _local_path(uri)
    if path is None or mode != "append":
        raise ValueError(f"a collected feed is appended to a local path: {uri}")
    _write_jsonl(messages.to_pylist(), messages.column_names, path)


def _local_path(uri: str) -> str | None:
    """The filesystem path when ``uri`` targets the local FS, else None."""
    if uri.startswith("file://"):
        return uri[len("file://"):]
    if "://" in uri:
        return None
    return uri


def _write_jsonl(rows: Iterable[dict], fields: list[str], path: str) -> None:
    """Append rows in the Spark JSON writer's layout and line format,
    driver-side: schema field order, nulls omitted (``ignoreNullFields``),
    UTF-8 text."""
    out = Path(path)
    out.mkdir(parents=True, exist_ok=True)
    lines = [
        json.dumps(
            {k: row[k] for k in fields if row.get(k) is not None},
            ensure_ascii=False,
            separators=(",", ":"),
        )
        for row in rows
    ]
    part = out / f"part-00000-{uuid.uuid4()}-c000.json"
    part.write_text("".join(line + "\n" for line in lines), encoding="utf-8")
    (out / "_SUCCESS").touch()


def write_literal_messages_jsonl(
    spark,
    rows: list[dict],
    uri: str,
    *,
    mode: str = "append",
) -> DataFrame:
    """Write KNOWN-TINY literal message rows as a JSONL feed and return
    them as a messages DataFrame.

    The caller guarantees ``rows`` is bounded driver metadata (e.g. one
    row per declared entity) — this is NOT a data-scale sink. Local
    paths get the driver-side fast path with Spark-writer-identical
    layout; anything else (object stores, ``mode="overwrite"``) takes
    the standard distributed writer.
    """
    from data_validation_engine_spark.messages import MESSAGE_SCHEMA

    df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
    path = _local_path(uri)
    if path is None or mode != "append":
        df.write.mode(mode).json(uri)
    else:
        _write_jsonl(rows, MESSAGE_SCHEMA.names, path)
    return df
