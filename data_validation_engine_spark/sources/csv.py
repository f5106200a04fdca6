"""CSV source: native Spark scan with the reference's reader semantics.

Re-expresses ``SparkCSVReader`` (dve spark/readers/csv.py:25-106) and the
relevant ``CSVFileReader`` options (dve backends/readers/csv.py:31-278) as
one ``spark.read.csv`` call plus Column-expression post-processing:

- explicit stringified schema (never inferSchema — dve spark/contract.py:211)
- case-insensitive header mapping to declared field names
- configurable null-value sentinel set -> NULL
- cell trimming (leading/trailing whitespace)
- header/field-count validation ("field_check") from the first line
  only, read by a one-row Spark job — not a full scan
"""

from __future__ import annotations

import csv
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_validation_engine_spark.errors import ConstraintError


@dataclass(frozen=True)
class CSVOptions:
    delimiter: str = ","
    quote_char: str = '"'
    escape_char: str = "\\"
    header: bool = True
    trim_cells: bool = True
    null_values: tuple[str, ...] = ()
    encoding: str = "UTF-8"
    multi_line: bool = False
    null_empty_strings: bool = True
    field_check: bool = False
    map_by_header: bool = True
    """Match file columns to declared fields by header NAME
    (case-insensitive) rather than position — the reference reader's
    semantics (dve backends/readers/csv.py header mapping). Declared
    fields missing from the file are null-filled; extra file columns are
    dropped. Positional assignment applies when ``header`` is false."""


def _stringified(field_names: list[str]) -> T.StructType:
    return T.StructType(
        [T.StructField(n, T.StringType(), True) for n in field_names]
    )


def read_csv(
    spark: SparkSession,
    path: str,
    field_names: list[str],
    options: CSVOptions = CSVOptions(),
) -> DataFrame:
    """Read a CSV file to a stringified DataFrame with declared columns."""
    # one header peek serves both the field check and the name mapping
    file_cols = (
        _peek_header(spark, path, options)
        if options.header and (options.field_check or options.map_by_header)
        else []
    )
    if options.field_check and file_cols:
        _check_header(path, field_names, file_cols)

    schema_names = list(field_names)
    header_map: dict[str, str] | None = None
    if options.map_by_header and file_cols:
        # read with the FILE's column order, then select declared
        # fields by case-insensitive name
        schema_names = file_cols
        by_lower = {c.lower(): c for c in file_cols}
        header_map = {n: by_lower.get(n.lower(), "") for n in field_names}

    reader = (
        spark.read.schema(_stringified(schema_names))
        .option("header", str(options.header).lower())
        .option("sep", options.delimiter)
        .option("quote", options.quote_char)
        .option("escape", options.escape_char)
        .option("encoding", options.encoding)
        .option("multiLine", str(options.multi_line).lower())
        .option("mode", "PERMISSIVE")
    )
    if options.trim_cells:
        reader = reader.option("ignoreLeadingWhiteSpace", "true").option(
            "ignoreTrailingWhiteSpace", "true"
        )
    if options.null_empty_strings:
        reader = reader.option("nullValue", "")
    df = reader.csv(path)

    if header_map is not None:
        df = df.select(
            *[
                (
                    F.col(f"`{src}`") if src else F.lit(None).cast("string")
                ).alias(declared)
                for declared, src in header_map.items()
            ]
        )

    if options.null_values:
        df = df.select(
            *[
                F.when(F.col(f"`{c}`").isin(*options.null_values), None)
                .otherwise(F.col(f"`{c}`"))
                .alias(c)
                for c in df.columns
            ]
        )
    return df


def _peek_header(
    spark: SparkSession, path: str, options: CSVOptions
) -> list[str]:
    """The file's header cell names: its first line, read by a one-row
    Spark job and parsed with the options' delimiter, quote and escape
    characters, so a quoted name may hold the delimiter."""
    first = spark.read.text(path).limit(1).collect()
    if not first:
        return []
    line = first[0][0]
    if len(options.delimiter) != 1:
        # csv.reader takes a one-character delimiter only
        return [
            c.strip().strip(options.quote_char)
            for c in line.split(options.delimiter)
        ]
    cells = next(
        csv.reader(
            [line],
            delimiter=options.delimiter,
            quotechar=options.quote_char or None,
            escapechar=options.escape_char or None,
            quoting=csv.QUOTE_MINIMAL if options.quote_char else csv.QUOTE_NONE,
            skipinitialspace=True,
        )
    )
    return [c.strip() for c in cells]


def _check_header(path: str, field_names: list[str], header: list[str]) -> None:
    """Validate the file's header cell names against the declared fields,
    case-insensitively."""
    header_cells = [c.lower() for c in header]
    expected = [n.lower() for n in field_names]
    missing = [n for n in expected if n not in header_cells]
    extra = [n for n in header_cells if n not in expected]
    if missing or extra:
        raise ConstraintError(
            f"CSV header mismatch at {path!r}: missing={missing} extra={extra}",
            constraint="header fields must match declared fields",
        )
