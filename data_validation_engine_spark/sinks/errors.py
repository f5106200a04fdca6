"""Error feed sink: messages DataFrame -> JSONL, one distributed write.

Replaces the reference's background-thread row writer
(dve common/error_utils.py:30-173): messages are already a DataFrame, so
the feed is a single ``write.json`` — no queue, no driver serialisation.

The driver-side 1-row audit-append pattern of sinks/audit.py, applied
to messages: pipeline early-return paths (entity presence,
XSD failure) emit a HANDFUL of driver-literal submission messages, and a
full Spark ``write.json`` job for 2-3 rows costs ~0.75s of job + commit
protocol. :func:`write_literal_messages_jsonl` writes those known-tiny
literal feeds driver-side into the same directory layout
(``part-00000-<uuid>-c000.json`` + ``_SUCCESS``, null fields omitted,
schema field order) so readers cannot tell the writers apart. Data-scale
feeds (contract/business-rule messages) keep the distributed writer, and
any non-local URI falls back to it too.
"""

from __future__ import annotations

import json
import uuid
from pathlib import Path

from pyspark.sql import DataFrame


def write_messages_jsonl(
    messages: DataFrame, uri: str, *, mode: str = "append"
) -> None:
    messages.write.mode(mode).json(uri)


def _local_path(uri: str) -> str | None:
    """The filesystem path when ``uri`` targets the local FS, else None."""
    if uri.startswith("file://"):
        return uri[len("file://"):]
    if "://" in uri:
        return None
    return uri


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
        return df
    out = Path(path)
    out.mkdir(parents=True, exist_ok=True)
    fields = [f.name for f in MESSAGE_SCHEMA.fields]
    lines = []
    for row in rows:
        # schema field order, nulls omitted — exactly the distributed
        # JSON writer's default (ignoreNullFields=true)
        obj = {k: row[k] for k in fields if row.get(k) is not None}
        lines.append(json.dumps(obj, separators=(",", ":")))
    part = out / f"part-00000-{uuid.uuid4()}-c000.json"
    part.write_text("".join(line + "\n" for line in lines))
    (out / "_SUCCESS").touch()
    return df
