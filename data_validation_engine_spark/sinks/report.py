"""Error report and error aggregates (dve reporting/excel_report.py:24-345).

Every error-sized artifact of a submission (the report's summary and
aggregates sheets, the ``error_aggregates`` rows and the submission
statistics) is derived driver-side from one :class:`FeedSummary`, whose
size is bounded by entities x codes x locations, not by messages.
:func:`summarise_feed` is the only aggregation that depends on the form
the pipeline hands the feed in (see sinks/errors.py): a collected Arrow
table is grouped with pyarrow and starts no Spark job; a feed over the
cap, still a DataFrame, is one grouping-sets query whose small result is
collected as Arrow. The detail sheet reads rows, not counts: the
collected table, or over the cap its first ``max_detail_rows`` in sort
order. Excel output requires the optional openpyxl — gated behind an
import-try with a CSV fallback so the report is always produced.
"""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path
from typing import TYPE_CHECKING, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_validation_engine_spark.messages import RECORD_INDEX, rejects_record
from data_validation_engine_spark.sinks.errors import MAX_DETAIL_ROWS, Feed

if TYPE_CHECKING:
    import pyarrow as pa

_FINE_KEYS = (
    "entity",
    "error_code",
    "failure_type",
    "is_informational",
    "error_location",
    "category",
)
_AGGREGATE_KEYS = _FINE_KEYS[:3]

# grouping_id() sets one bit per key a grouping set leaves out, the first
# key highest: the fine set leaves none, the aggregate set the last three
_FINE_ID, _AGGREGATE_ID, _GLOBAL_ID = 0, 0b000111, 0b111111


class FeedSummary(NamedTuple):
    """A message feed's counts, as small as its distinct keys."""

    fine: "pa.Table"
    """``_FINE_KEYS`` plus ``n_messages``, the messages per fine key."""
    codes: "pa.Table"
    """``_AGGREGATE_KEYS`` plus ``n_messages`` and ``n_records`` (distinct
    record indexes)."""
    n_record_rejections: int
    """Distinct rejected-record keys, ``concat_ws('/', original_entity,
    index)`` over :func:`rejects_record` rows: a null part is skipped and
    two nulls make the empty key."""


def _group(table: "pa.Table", keys, **aggregates: tuple) -> "pa.Table":
    """``table`` grouped by ``keys``: the keys, then one column per
    keyword, ``name=(column or [], pyarrow aggregate function)``."""
    keys = list(keys)
    out = table.group_by(keys).aggregate(list(aggregates.values()))
    made = [f"{col}_{fn}" if col else fn for col, fn in aggregates.values()]
    return out.select([*keys, *made]).rename_columns([*keys, *aggregates])


def summarise_feed(messages: Feed) -> FeedSummary:
    """The summary of a collected table (pyarrow, no Spark job) or of a
    feed DataFrame (one ``GROUPING SETS`` query collected as Arrow)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(messages, DataFrame):
        rejected_key = F.when(
            rejects_record(),
            F.concat_ws(
                "/", F.col("original_entity"), F.col(RECORD_INDEX).cast("string")
            ),
        )
        rows = (
            messages.groupingSets(
                [list(_FINE_KEYS), list(_AGGREGATE_KEYS), []], *_FINE_KEYS
            )
            .agg(
                F.grouping_id().alias("gid"),
                F.count(F.lit(1)).alias("n_messages"),
                F.count_distinct(F.col(RECORD_INDEX)).alias("n_records"),
                F.count_distinct(rejected_key).alias("n_rejections"),
            )
            .toArrow()
        )

        def level(gid: int, *names: str) -> "pa.Table":
            # rebuilt, so every field is nullable as in a pyarrow group_by
            part = rows.filter(pc.equal(rows["gid"], gid))
            return pa.table({n: part[n] for n in names})

        return FeedSummary(
            level(_FINE_ID, *_FINE_KEYS, "n_messages"),
            level(_AGGREGATE_ID, *_AGGREGATE_KEYS, "n_messages", "n_records"),
            sum(level(_GLOBAL_ID, "n_rejections")["n_rejections"].to_pylist()),
        )
    rejected = messages.filter(
        pc.and_(
            pc.equal(messages["failure_type"], "record"),
            pc.invert(messages["is_informational"]),
        )
    )
    entity = rejected["original_entity"]
    index = pc.cast(rejected[RECORD_INDEX], pa.string())
    # concat_ws: a null part is skipped, two nulls give ""
    key = pc.coalesce(pc.binary_join_element_wise(entity, index, "/"), entity, index, "")
    return FeedSummary(
        _group(messages, _FINE_KEYS, n_messages=([], "count_all")),
        _group(
            messages,
            _AGGREGATE_KEYS,
            n_messages=([], "count_all"),
            n_records=(RECORD_INDEX, "count_distinct"),
        ),
        pc.count_distinct(key).as_py(),
    )


def error_aggregates(summary: FeedSummary) -> "pa.Table":
    """Per (entity, error code, failure type) counts — the machine-readable
    audit artifact (engine-native column names; the report sheets use the
    reference-shaped ones below), null keys first as Spark sorts them."""
    return summary.codes.rename_columns(
        [*_AGGREGATE_KEYS, "n_errors", "n_records"]
    ).sort_by([(k, "ascending") for k in _AGGREGATE_KEYS], null_placement="at_start")


def write_error_aggregates(
    aggregates: "pa.Table", submission_id: str, uri: str
) -> None:
    """Overwrite the local path ``uri`` with the aggregates stamped with
    the submission id, in the Spark parquet writer's layout
    (``part-00000-<uuid>-c000.snappy.parquet`` plus ``_SUCCESS``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = aggregates.append_column(
        "submission_id",
        pa.array([submission_id] * aggregates.num_rows, pa.string()),
    )
    out = Path(uri)
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    part = out / f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
    pq.write_table(table, part, compression="snappy")
    (out / "_SUCCESS").touch()


def message_statistics(summary: FeedSummary) -> dict[str, int]:
    """The submission statistics: messages, distinct rejected records and
    warnings."""
    counts = summary.fine["n_messages"].to_pylist()
    informational = summary.fine["is_informational"].to_pylist()
    return {
        "n_messages": sum(counts),
        "n_record_rejections": summary.n_record_rejections,
        "n_warnings": sum(n for n, i in zip(counts, informational) if i),
    }


def report_type_col() -> "F.Column":
    """The reference's report category (dve reporting/constants.py:8-22):
    informational -> Warning, record failures -> Record Rejection,
    everything else (submission/integrity) -> File Rejection."""
    return (
        F.when(F.col("is_informational"), F.lit("Warning"))
        .when(F.col("failure_type") == "record", F.lit("Record Rejection"))
        .otherwise(F.lit("File Rejection"))
    )


def _report_type(rows: "pa.Table") -> "pa.Array":
    """:func:`report_type_col` over Arrow rows."""
    import pyarrow.compute as pc

    record = pc.fill_null(pc.equal(rows["failure_type"], "record"), False)
    return pc.if_else(
        pc.fill_null(rows["is_informational"], False),
        "Warning",
        pc.if_else(record, "Record Rejection", "File Rejection"),
    )


REPORT_CATEGORIES = ("File Rejection", "Record Rejection", "Warning")


def _summary_sheet(summary: FeedSummary) -> "pa.Table":
    """Summary sheet: one row per report category in the reference's
    heading order, zero-filled so all three rows are always present
    (dve SummaryItems row_headings, reporting/excel_report.py)."""
    import pyarrow as pa

    counts = dict.fromkeys(REPORT_CATEGORIES, 0)
    types = _report_type(summary.fine).to_pylist()
    for category, n in zip(types, summary.fine["n_messages"].to_pylist()):
        counts[category] += n
    return pa.table(
        {"Type": list(counts), "Count": pa.array(list(counts.values()), pa.int64())}
    )


_SHEET_KEYS = ("Type", "Table", "Data_Item", "Category", "Error_Code")


def aggregates_sheet(summary: FeedSummary) -> "pa.Table":
    """Reference-shaped aggregates sheet (AGGREGATE_SCHEMA +
    calculate_aggregates, dve reporting/error_report.py:28-36,115-140):
    counts per Type/Table/Data_Item/Category/Error_Code, Type ascending
    then Count descending, ties in key order with null keys last."""
    import pyarrow as pa

    fine = summary.fine
    typed = pa.table(
        {
            "Type": _report_type(fine),
            "Table": fine["entity"],
            "Data_Item": fine["error_location"],
            "Category": fine["category"],
            "Error_Code": fine["error_code"],
            "Count": fine["n_messages"],
        }
    )
    return _group(typed, _SHEET_KEYS, Count=("Count", "sum")).sort_by(
        [("Type", "ascending"), ("Count", "descending")]
        + [(k, "ascending") for k in _SHEET_KEYS[1:]],
        null_placement="at_end",
    )


_DETAIL_COLUMNS = (
    ("Table", "entity"),
    ("Type", None),  # _report_type
    ("Error_Code", "error_code"),
    ("Data_Item", "error_location"),
    ("Error", "error_message"),
    ("Record_Index", RECORD_INDEX),
    ("Value", "value"),
    ("ID", "reporting_field"),
    ("Category", "category"),
)
"""The detail sheet's columns and the message field each one shows."""

_DETAIL_INPUTS = [
    "is_informational",
    "failure_type",
    *(src for _, src in _DETAIL_COLUMNS if src is not None),
]


def _detail_sheet(rows: "pa.Table", max_detail_rows: int) -> "pa.Table":
    """Reference-shaped error detail sheet (ERROR_SCHEMA, dve
    reporting/error_report.py:16-26): the first ``max_detail_rows`` rows
    by Type, Table and Record_Index (a stable sort, nulls first)."""
    import pyarrow as pa

    sheet = pa.table(
        {
            name: _report_type(rows) if src is None else rows[src]
            for name, src in _DETAIL_COLUMNS
        }
    )
    return sheet.sort_by(
        [("Type", "ascending"), ("Table", "ascending"), ("Record_Index", "ascending")],
        null_placement="at_start",
    ).slice(0, max_detail_rows)


def write_error_report(
    messages: Feed,
    out_path: str,
    *,
    summary: FeedSummary | None = None,
    max_detail_rows: int = MAX_DETAIL_ROWS,
    output_format: str = "auto",
) -> str:
    """Write the error report of a feed DataFrame or collected table;
    returns the path written. ``summary`` is the feed's
    :func:`summarise_feed`, computed here when not given.

    ``output_format``: ``"auto"`` uses openpyxl when available (xlsx:
    summary + detail + aggregates sheets) and falls back to CSVs in a
    directory; ``"xlsx"`` forces the workbook (raising ImportError loudly
    if openpyxl is missing); ``"csv"`` forces the directory of CSVs.
    """
    if output_format not in ("auto", "xlsx", "csv"):
        raise ValueError(f"unknown report output_format: {output_format!r}")
    if summary is None:
        summary = summarise_feed(messages)
    if isinstance(messages, DataFrame):
        # only the rows the detail sheet keeps come to the driver: one
        # sorted LIMIT, the reference's deterministic first-N-by-type
        messages = (
            messages.select(*_DETAIL_INPUTS)
            .orderBy(report_type_col(), "entity", RECORD_INDEX)
            .limit(max_detail_rows)
            .toArrow()
        )
    sheets = {
        "summary": _summary_sheet(summary),
        "errors": _detail_sheet(messages, max_detail_rows),
        "aggregates": aggregates_sheet(summary),
    }
    frames = {name: sheet.to_pandas() for name, sheet in sheets.items()}

    if output_format == "auto":
        try:
            import openpyxl  # noqa: F401

            output_format = "xlsx"
        except ImportError:
            output_format = "csv"
    if output_format == "xlsx":
        import openpyxl  # noqa: F401 - loud ImportError when forced
        import pandas as pd

        path = out_path if out_path.endswith(".xlsx") else out_path + ".xlsx"
        with pd.ExcelWriter(path, engine="openpyxl") as writer:
            for name, frame in frames.items():
                frame.to_excel(writer, sheet_name=name, index=False)
        return path
    out_dir = Path(out_path.removesuffix(".xlsx"))
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, frame in frames.items():
        frame.to_csv(out_dir / f"{name}.csv", index=False)
    return str(out_dir)


def error_samples(
    messages: DataFrame, *, per_code: int = 10
) -> DataFrame:
    """The human-review companion to :func:`error_aggregates`: the first
    ``per_code`` messages per (entity, error_code), chosen by ascending
    record index (deterministic — a rerun shows the same examples).

    Aggregates say HOW MANY rows failed; a reviewer triaging a failed
    submission needs to see a few ACTUAL failing messages per code
    without pulling the full error feed (which at 100 TB can be most of
    the table). One shuffle on (entity, error_code); the rank rewrites
    to WindowGroupLimit, so each map task forwards at most ``per_code``
    rows per key — the output is bounded by codes x per_code regardless
    of corpus size. The reference's report lists every error row
    (reporting/excel_report.py builds the full detail sheet); sampling
    is the scale-safe extension of the same artifact.
    """
    if per_code <= 0:
        raise ValueError(f"per_code must be positive, got {per_code}")
    from pyspark.sql import Window

    w = Window.partitionBy("entity", "error_code").orderBy(
        F.col("__record_index__").asc_nulls_last(),
        F.col("error_message").asc_nulls_last(),
    )
    return (
        messages.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= per_code)
        .drop("__rank")
    )
