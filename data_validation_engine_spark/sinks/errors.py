"""Error feed sink: the message feed -> JSONL.

Replaces the reference's background-thread row writer
(dve common/error_utils.py:30-173). A submission's messages are one
tagged feed: each row carries the JSONL feed it belongs to in ``FEED``
(``file_transformation``, ``data_contract``, ``business_rules``, or null
for a processing error no feed receives). The feed is error-sized, so
the pipeline collects it once with a bounded ``limit(cap + 1).toArrow()``
(:func:`collect_feed`); at or under the cap every sink reads that Arrow
table driver-side and no sink starts a Spark job. Over the cap the feed
stays a DataFrame: the data-sized sinks (the JSONL feeds, the rejection
keys, the report's detail rows) read it distributed, and the counts read
one bounded grouping-sets summary of it (sinks/report.py). A submission
that stops at file transformation has only literal messages, already an
Arrow table (messages.literal_feed), read the same way.

The driver-side JSONL writer lays a feed out as Spark's JSON writer
does: ``part-00000-<uuid>-c000.json`` plus ``_SUCCESS``, each line's
fields in schema order with null fields omitted, text as UTF-8 — readers
cannot tell the writers apart.
"""

from __future__ import annotations

import json
import uuid
from pathlib import Path
from typing import TYPE_CHECKING, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_validation_engine_spark.messages import FEED

if TYPE_CHECKING:
    import pyarrow as pa

Feed = Union[DataFrame, "pa.Table"]
"""A message feed: a DataFrame, or an Arrow table (:func:`collect_feed`'s
collect of one, or messages.literal_feed)."""

MAX_DETAIL_ROWS = 100_000
"""The error report's detail-sheet cap, and the most messages a feed
collect brings to the driver."""

FEEDS = ("file_transformation", "data_contract", "business_rules")


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
    a collected table driver-side (appended to a local path) in that
    writer's layout and line format: schema field order, nulls omitted
    (``ignoreNullFields``), UTF-8 text."""
    if isinstance(messages, DataFrame):
        messages.write.mode(mode).json(uri)
        return
    path = _local_path(uri)
    if path is None or mode != "append":
        raise ValueError(f"a collected feed is appended to a local path: {uri}")
    lines = [
        json.dumps(
            {k: v for k, v in row.items() if v is not None},
            ensure_ascii=False,
            separators=(",", ":"),
        )
        for row in messages.to_pylist()
    ]
    out = Path(path)
    out.mkdir(parents=True, exist_ok=True)
    part = out / f"part-00000-{uuid.uuid4()}-c000.json"
    part.write_text("".join(line + "\n" for line in lines), encoding="utf-8")
    (out / "_SUCCESS").touch()


def _local_path(uri: str) -> str | None:
    """The filesystem path when ``uri`` targets the local FS, else None."""
    if uri.startswith("file://"):
        return uri[len("file://"):]
    if "://" in uri:
        return None
    return uri
