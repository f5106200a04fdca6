"""Error report and error aggregates (dve reporting/excel_report.py:24-345).

Both read a message feed in either form the pipeline hands them (see
sinks/errors.py): the Arrow table of a collected, error-sized feed, from
which every sheet, the ``error_aggregates`` rows and the submission
statistics are derived driver-side, or a feed over the cap as a
DataFrame, aggregated distributed (groupBy, never a driver-side
dataframe library) with only the final summaries landing on the driver.
Excel output requires openpyxl (not in this container) — gated behind an
import-try with a CSV fallback so the report is always produced.
"""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_validation_engine_spark.messages import RECORD_INDEX, rejects_record
from data_validation_engine_spark.sinks.errors import MAX_DETAIL_ROWS, Feed

if TYPE_CHECKING:
    import pandas as pd
    import pyarrow as pa

_AGGREGATE_KEYS = ("entity", "error_code", "failure_type")


def error_aggregates(messages: Feed) -> Feed:
    """Per (entity, error code, failure type) counts — the machine-readable
    audit artifact (engine-native column names; the report sheets use the
    reference-shaped frames below). A collected table gives a table with
    the same rows and column types, sorted the same way."""
    if isinstance(messages, DataFrame):
        return (
            messages.groupBy(*_AGGREGATE_KEYS)
            .agg(
                F.count(F.lit(1)).alias("n_errors"),
                F.count_distinct(F.col(RECORD_INDEX)).alias("n_records"),
            )
            .orderBy("entity", "error_code")
        )
    keys = list(_AGGREGATE_KEYS)
    counts = messages.group_by(keys).aggregate(
        [([], "count_all"), (RECORD_INDEX, "count_distinct")]
    )
    # null keys group together and sort first, as in Spark
    return (
        counts.select([*keys, "count_all", f"{RECORD_INDEX}_count_distinct"])
        .rename_columns([*keys, "n_errors", "n_records"])
        .sort_by([(k, "ascending") for k in keys], null_placement="at_start")
    )


def write_error_aggregates(
    aggregates: Feed, submission_id: str, uri: str
) -> None:
    """Overwrite ``uri`` with the aggregates stamped with the submission
    id: a table is written driver-side in the Spark parquet writer's
    layout (``part-00000-<uuid>-c000.snappy.parquet`` plus ``_SUCCESS``)."""
    if isinstance(aggregates, DataFrame):
        aggregates.withColumn("submission_id", F.lit(submission_id)).write.mode(
            "overwrite"
        ).parquet(uri)
        return
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


def message_statistics(messages: Feed) -> dict[str, int]:
    """The submission statistics of a feed: messages, distinct rejected
    records (by ``concat_ws('/', original_entity, index)``, so a null part
    is skipped and two nulls make the empty key) and warnings."""
    if isinstance(messages, DataFrame):
        row = messages.select(
            F.count(F.lit(1)).alias("n_messages"),
            F.count_distinct(
                F.when(
                    rejects_record(),
                    F.concat_ws(
                        "/",
                        F.col("original_entity"),
                        F.col(RECORD_INDEX).cast("string"),
                    ),
                )
            ).alias("n_record_rejections"),
            F.count(F.when(F.col("is_informational"), 1)).alias("n_warnings"),
        ).first()
        return row.asDict()
    names = ("original_entity", RECORD_INDEX, "failure_type", "is_informational")
    rejected = set()
    warnings = 0
    for entity, index, failure_type, informational in zip(
        *(messages[n].to_pylist() for n in names)
    ):
        warnings += informational is True
        if failure_type == "record" and informational is False:
            parts = (entity, None if index is None else str(index))
            rejected.add("/".join(p for p in parts if p is not None))
    return {
        "n_messages": messages.num_rows,
        "n_record_rejections": len(rejected),
        "n_warnings": warnings,
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


_DETAIL_COLUMNS = (
    ("Table", "entity"),
    ("Type", None),  # report_type_col
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


def report_detail(messages: DataFrame) -> DataFrame:
    """Reference-shaped error detail sheet (ERROR_SCHEMA, dve
    reporting/error_report.py:16-26): Table/Type/Error_Code/Data_Item/
    Error/Record_Index/Value/ID/Category, sorted by Type."""
    return messages.select(
        *[
            (report_type_col() if src is None else F.col(src)).alias(name)
            for name, src in _DETAIL_COLUMNS
        ]
    ).orderBy("Type", "Table", "Record_Index")


def report_aggregates(messages: DataFrame) -> DataFrame:
    """Reference-shaped aggregates sheet (AGGREGATE_SCHEMA +
    calculate_aggregates, dve reporting/error_report.py:28-36,115-140):
    counts per Type/Table/Data_Item/Category/Error_Code, Type ascending
    then Count descending."""
    return (
        messages.select(
            report_type_col().alias("Type"),
            F.col("entity").alias("Table"),
            F.col("error_location").alias("Data_Item"),
            F.col("category").alias("Category"),
            F.col("error_code").alias("Error_Code"),
        )
        .groupBy("Type", "Table", "Data_Item", "Category", "Error_Code")
        .agg(F.count(F.lit(1)).alias("Count"))
        .orderBy(F.col("Type").asc(), F.col("Count").desc())
    )


REPORT_CATEGORIES = ("File Rejection", "Record Rejection", "Warning")


def report_summary(messages: DataFrame) -> DataFrame:
    """Summary sheet: one row per report category in the reference's
    heading order, zero-filled so all three rows are always present
    (dve SummaryItems row_headings, reporting/excel_report.py)."""
    spark = messages.sparkSession
    headings = spark.createDataFrame(
        [(c,) for c in REPORT_CATEGORIES], "Type string"
    )
    counts = (
        messages.select(report_type_col().alias("Type"))
        .groupBy("Type")
        .agg(F.count(F.lit(1)).alias("Count"))
    )
    return (
        headings.join(counts, on="Type", how="left")
        .select("Type", F.coalesce("Count", F.lit(0)).alias("Count"))
        .orderBy("Type")
    )


def _collected_sheets(
    messages: "pa.Table", max_detail_rows: int
) -> tuple["pd.DataFrame", "pd.DataFrame", "pd.DataFrame"]:
    """(summary, detail, aggregates) of a collected feed, driver-side: the
    same frames the distributed queries give. The aggregates and summary
    count every message; the detail keeps the first ``max_detail_rows``
    in sort order."""
    import numpy as np
    import pandas as pd

    pdf = messages.select(_DETAIL_INPUTS).to_pandas()
    report_type = np.select(
        [pdf["is_informational"].eq(True), pdf["failure_type"].eq("record")],
        ["Warning", "Record Rejection"],
        "File Rejection",
    )
    detail = pd.DataFrame(
        {
            name: report_type if src is None else pdf[src]
            for name, src in _DETAIL_COLUMNS
        }
    )
    detail = detail.sort_values(
        ["Type", "Table", "Record_Index"],
        na_position="first",
        kind="mergesort",
    ).reset_index(drop=True)
    # dropna=False: Spark groupBy keys keep nulls
    aggregates = (
        detail.groupby(
            ["Type", "Table", "Data_Item", "Category", "Error_Code"],
            dropna=False,
            as_index=False,
        )
        .size()
        .rename(columns={"size": "Count"})
        .sort_values(
            ["Type", "Count"],
            ascending=[True, False],
            kind="mergesort",
        )
        .reset_index(drop=True)
    )
    summary = (
        detail["Type"]
        .value_counts()
        .reindex(REPORT_CATEGORIES)
        .fillna(0)
        .astype("int64")
        .rename_axis("Type")
        .reset_index(name="Count")
        .sort_values("Type", kind="mergesort")
        .reset_index(drop=True)
    )
    return summary, detail.head(max_detail_rows), aggregates


def write_error_report(
    messages: Feed,
    out_path: str,
    *,
    max_detail_rows: int = MAX_DETAIL_ROWS,
    output_format: str = "auto",
) -> str:
    """Write the error report of a feed DataFrame or collected table;
    returns the path written.

    ``output_format``: ``"auto"`` uses openpyxl when available (xlsx:
    summary + detail + aggregates sheets) and falls back to CSVs in a
    directory; ``"xlsx"`` forces the workbook (raising ImportError loudly
    if openpyxl is missing); ``"csv"`` forces the directory of CSVs.
    """
    if output_format not in ("auto", "xlsx", "csv"):
        raise ValueError(f"unknown report output_format: {output_format!r}")
    if isinstance(messages, DataFrame):
        # One Spark job for the whole report in the common case: collect
        # cap + 1 rows of the fields the sheets show and derive every
        # sheet driver-side — the report is a driver-sized artifact by
        # definition (the reference's report is a spreadsheet). Over the
        # cap the three distributed queries run: the aggregates must
        # cover ALL messages, and the sorted LIMIT keeps the reference's
        # deterministic first-N-by-type truncation.
        head = messages.select(*_DETAIL_INPUTS).limit(max_detail_rows + 1).toArrow()
        if head.num_rows <= max_detail_rows:
            messages = head
    if isinstance(messages, DataFrame):
        aggregates = report_aggregates(messages).toPandas()
        detail = report_detail(messages).limit(max_detail_rows).toPandas()
        summary = report_summary(messages).toPandas()
    else:
        summary, detail, aggregates = _collected_sheets(messages, max_detail_rows)

    use_xlsx = output_format == "xlsx"
    if output_format == "auto":
        try:
            import openpyxl  # noqa: F401

            use_xlsx = True
        except ImportError:
            use_xlsx = False

    if use_xlsx:
        import openpyxl  # noqa: F401 - loud ImportError when forced
        import pandas as pd

        path = out_path if out_path.endswith(".xlsx") else out_path + ".xlsx"
        with pd.ExcelWriter(path, engine="openpyxl") as writer:
            summary.to_excel(writer, sheet_name="summary", index=False)
            detail.to_excel(writer, sheet_name="errors", index=False)
            aggregates.to_excel(writer, sheet_name="aggregates", index=False)
        return path
    out_dir = Path(out_path.removesuffix(".xlsx"))
    out_dir.mkdir(parents=True, exist_ok=True)
    summary.to_csv(out_dir / "summary.csv", index=False)
    detail.to_csv(out_dir / "errors.csv", index=False)
    aggregates.to_csv(out_dir / "aggregates.csv", index=False)
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
