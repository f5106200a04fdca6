"""Feedback messages as DataFrames.

The reference engine materialises per-row feedback via a driver-side row
loop (dve spark/rules.py:400-420 ``toLocalIterator`` + Jinja per record) —
that collapses at scale. Here messages are ordinary DataFrames with a fixed
schema; per-row message templates compile to native Column expressions
(``concat``), so message generation is distributed, codegen'd, and written
once per stage with ``df.write.json``.

Every feed — contract, uniqueness, rule filters and notifications, the
sync stage (batch and streaming), profile gates — is built by the one
:func:`failure_messages`: producers supply only their pass predicates and
per-check field Columns; the ``MESSAGE_SCHEMA`` projection lives here.
Submission-level messages (entity presence, XSD, processing errors) are
driver literals: :func:`submission_message` builds one and
:func:`literal_feed` makes rows of them a tagged feed without a Spark job.

Message taxonomy parity: dve core_engine/message.py:136-198
(entity/record/failure_type/error code/message/location/informational).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import reduce
from typing import TYPE_CHECKING, Literal

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:
    import pyarrow as pa

RECORD_INDEX = "__record_index__"
"""Stable 1-based per-file record index column (dve core_engine/constants.py:3)."""

ORIGIN_ENTITY = "__origin_entity__"
"""Hidden row-level lineage column: the contract entity a row's
``__record_index__`` belongs to. A constant literal per source entity, it
rides through renames/copies/unions so final record rejection matches
``(origin, index)`` pairs instead of trusting the entity's current NAME —
renamed/copied entities would otherwise never match their messages'
``original_entity`` and contract-rejected records would silently survive."""

FailureType = Literal["record", "integrity", "submission"]

MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("entity", T.StringType(), False),
        T.StructField("original_entity", T.StringType(), True),
        T.StructField(RECORD_INDEX, T.LongType(), True),
        T.StructField("error_code", T.StringType(), True),
        T.StructField("error_message", T.StringType(), True),
        T.StructField("error_location", T.StringType(), True),
        T.StructField("failure_type", T.StringType(), True),
        T.StructField("is_informational", T.BooleanType(), False),
        T.StructField("category", T.StringType(), True),
        T.StructField("reporting_field", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField("record_json", T.StringType(), True),
    ]
)

FEED = "__feed__"
"""Column of the tagged feed: the JSONL feed a message is written to."""

# Casts take type names: a DataType argument costs extra Python-to-JVM round
# trips, and building a plan is dominated by those round trips.
_SQL_TYPES = {f.name: f.dataType.simpleString() for f in MESSAGE_SCHEMA}
_PER_CHECK = [
    n for n in MESSAGE_SCHEMA.names if n not in (RECORD_INDEX, "record_json")
]
_PER_CHECK_TYPE = T.StructType(
    [MESSAGE_SCHEMA[n] for n in _PER_CHECK]
).simpleString()

_TEMPLATE_VAR = re.compile(r"\{\{\s*([A-Za-z_][A-Za-z0-9_.]*)\s*\}\}")


def compile_message_template(
    template: str,
    columns: list[str],
    extra_vars: dict[str, Column] | None = None,
) -> Column:
    """Compile a ``"text {{col}} text"`` template to a Column expression.

    ``{{col}}`` references to existing columns render as the column value
    (cast to string); ``extra_vars`` supplies non-column variables (e.g.
    ``__error_value`` in contract error-detail overrides); unknown names are
    preserved verbatim, matching the reference's preserve-undefined
    templating (dve templating.py:14-22). Runs entirely JVM-side — one
    ``concat`` per template.
    """
    lower_cols = {c.lower(): c for c in columns}
    extra = {k.lower(): v for k, v in (extra_vars or {}).items()}
    parts: list[Column] = []
    pos = 0
    for m in _TEMPLATE_VAR.finditer(template):
        if m.start() > pos:
            parts.append(F.lit(template[pos : m.start()]))
        name = m.group(1)
        actual = lower_cols.get(name.lower())
        if name.lower() in extra:
            parts.append(
                F.coalesce(extra[name.lower()].cast("string"), F.lit(""))
            )
        elif actual is not None:
            parts.append(F.coalesce(F.col(f"`{actual}`").cast("string"), F.lit("")))
        else:
            parts.append(F.lit(m.group(0)))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    if not parts:
        return F.lit("")
    if len(parts) == 1:
        return parts[0]
    return F.concat(*parts)


# -- the `location` mini-language -------------------------------------------

def parse_location(location: str) -> tuple[str | None, list[str] | str]:
    """Parse a message ``location`` selector into (root, fields).

    Grammar (parity: dve backends/metadata/reporting.py:138-158):
    ``field`` / ``{A,B}`` / ``root.field`` / ``root.{A,B}`` / ``root.*`` /
    ``*``. At most one nesting level; ``fields`` is ``'*'`` or a name list.
    """
    splits = location.split(".")
    if len(splits) > 2:
        raise ValueError("location nesting must be a maximum of one level")
    fields: list[str] | str = [
        f.strip() for f in splits[-1].strip("{}").split(",") if f.strip()
    ]
    if fields and fields[0] == "*":
        fields = "*"
    root = splits[0] if len(splits) == 2 else None
    return root, fields


def location_value_col(
    df: DataFrame,
    location: str | None,
    *,
    max_values: int = 10,
    value_separator: str = ", ",
) -> Column:
    """The message ``value`` column for a ``location`` selector.

    Selects the offending value(s) from the record as a display string:
    scalars render directly; struct selections render ``field=value``
    pairs; array-of-struct selections render one pair-string per element,
    sorted, truncated to ``max_values`` with an ``only first N shown``
    suffix (parity: dve core_engine/message.py:282-467). Pure Column
    expressions over the entity frame.
    """
    if location is None:
        return F.lit(None).cast("string")
    root, fields = parse_location(location)
    schema = {f.name: f.dataType for f in df.schema.fields}

    def pairs(prefix: Column | None, names: list[str]) -> Column:
        cols = []
        for n in sorted(names):
            v = (
                prefix.getField(n)
                if prefix is not None
                else F.col(f"`{n}`")
            )
            cols.append(
                F.concat(
                    F.lit(f"{n}="),
                    F.coalesce(v.cast("string"), F.lit("None")),
                )
            )
        return F.concat_ws(value_separator, *cols)

    if root is None:
        if fields == "*":
            return F.to_json(F.struct("*"))
        if len(fields) == 1:
            return F.col(f"`{fields[0]}`").cast("string")
        return pairs(None, list(fields))

    if root not in schema:
        return F.lit(None).cast("string")
    root_col = F.col(f"`{root}`")
    root_type = schema[root]

    if isinstance(root_type, T.ArrayType):
        elem = root_type.elementType
        if fields == "*" or not isinstance(elem, T.StructType):
            rendered = F.transform(
                root_col, lambda s: F.coalesce(s.cast("string"), F.lit("None"))
            )
        else:
            names = [f for f in fields if f in {sf.name for sf in elem.fields}]
            rendered = F.transform(root_col, lambda s: pairs(s, names))
        sorted_vals = F.array_sort(rendered)
        truncated = F.concat_ws(
            value_separator, F.slice(sorted_vals, 1, max_values)
        )
        return F.when(root_col.isNull(), F.lit(None).cast("string")).otherwise(
            F.when(
                F.size(sorted_vals) > max_values,
                F.concat(
                    truncated,
                    F.lit(f"{value_separator}only first {max_values} shown"),
                ),
            ).otherwise(truncated)
        )

    if isinstance(root_type, T.StructType):
        if fields == "*":
            return F.to_json(root_col)
        names = [f for f in fields if f in {sf.name for sf in root_type.fields}]
        return F.when(
            root_col.isNull(), F.lit(None).cast("string")
        ).otherwise(pairs(root_col, names))

    return root_col.cast("string")


@dataclass(frozen=True)
class Reporting:
    """How a filter/notification reports failures.

    Parity with dve backends/metadata/reporting.py (code, message template,
    emit level, location, reporting field, entity overrides).
    """

    code: str = "UNKNOWN"
    message: str = ""
    emit: Literal[
        "record_failure",
        "submission_failure",
        "critical_failure",
        "warning",
        "info",
    ] = "record_failure"
    location: str | None = None
    reporting_field: str | None = None
    reporting_entity_override: str | None = None
    original_entity_override: str | None = None
    category: str | None = None

    @property
    def failure_type(self) -> str:
        if self.emit == "submission_failure":
            return "submission"
        if self.emit == "critical_failure":
            # parity: dve reporting.py maps critical_failure -> integrity
            return "integrity"
        return "record"

    @property
    def is_informational(self) -> bool:
        return self.emit in ("warning", "info")


def original_entity_col(
    df: DataFrame, entity_name: str, reporting: Reporting
) -> Column:
    """The ``original_entity`` a message should carry.

    Priority: explicit override > the row's ``__origin_entity__`` lineage
    (so rule-emitted record failures still reject rows after
    rename/copy/union — the same survival contract/apply.py gives contract
    messages) > the entity's current name.
    """
    if reporting.original_entity_override:
        return F.lit(reporting.original_entity_override)
    if ORIGIN_ENTITY in df.columns:
        return F.coalesce(
            F.col(ORIGIN_ENTITY).cast("string"), F.lit(entity_name)
        )
    return F.lit(entity_name)


def rejects_record() -> Column:
    """Over a message feed: the message rejects its record (a
    non-informational record-level failure) — the one rule record
    rejection and the rejection statistics share
    (dve spark_helpers.py:393-437)."""
    return (F.col("failure_type") == "record") & ~F.col("is_informational")


def failure_messages(
    df: DataFrame,
    checks: list[tuple[Column, dict[str, Column | None]]],
    *,
    record_json: Column | None,
) -> DataFrame:
    """The one message-feed builder: a row per (record, failed check) of
    ``df``, in MESSAGE_SCHEMA order.

    Each check is a ``(pass_predicate, fields)`` pair: a message is emitted
    where the predicate is null or false, its fields taken from the
    ``{field: Column}`` map (a field the check omits, or maps to ``None``,
    is the schema's typed null). ``__record_index__`` (from ``df``, else
    null) and ``record_json`` are per-row, computed once. N checks cost one
    scan: per-check structs, ``array_compact`` and a single ``explode``
    (fixes the scan-per-filter shape the reference inherits from its
    per-filter Notification loop, dve backends/base/rules.py:356-555).
    With no checks the feed is empty and derived from ``df`` itself, so a
    streaming input gives a streaming feed.
    """
    null = F.lit(None)
    if not checks:
        return df.where(F.lit(False)).select(
            *[null.cast(_SQL_TYPES[n]).alias(n) for n in MESSAGE_SCHEMA.names]
        )
    # one struct cast names and types every field of a check's message
    structs = [
        F.when(
            ~F.coalesce(pred.cast("boolean"), F.lit(False)),
            F.struct(
                *[null if fields.get(n) is None else fields[n] for n in _PER_CHECK]
            ).cast(_PER_CHECK_TYPE),
        )
        for pred, fields in checks
    ]
    idx = F.col(RECORD_INDEX) if RECORD_INDEX in df.columns else null
    exploded = df.select(
        idx.cast(_SQL_TYPES[RECORD_INDEX]).alias(RECORD_INDEX),
        (null if record_json is None else record_json)
        .cast(_SQL_TYPES["record_json"])
        .alias("record_json"),
        F.explode(F.array_compact(F.array(*structs))).alias("__m"),
    )
    return exploded.select(
        *[n if n not in _PER_CHECK else f"__m.{n}" for n in MESSAGE_SCHEMA.names]
    )


def messages_for_checks(
    entity_name: str,
    df: DataFrame,
    checks: list[tuple[Column, Reporting]],
    *,
    exclude_columns: tuple[str, ...] = (),
) -> DataFrame:
    """ONE messages frame for many ``(pass_predicate, reporting)`` checks
    in a single scan of ``df`` (see :func:`failure_messages`).

    ``exclude_columns`` are hidden helper columns: usable by the predicate
    but omitted from the message payload and template.
    """
    cols = [c for c in df.columns if c not in exclude_columns]

    def fields(reporting: Reporting) -> dict[str, Column | None]:
        field_col = (
            F.col(f"`{reporting.reporting_field}`")
            if reporting.reporting_field in cols
            else None
        )
        return {
            "entity": F.lit(reporting.reporting_entity_override or entity_name),
            "original_entity": original_entity_col(df, entity_name, reporting),
            "error_code": F.lit(reporting.code),
            "error_message": compile_message_template(reporting.message, cols),
            "error_location": F.lit(reporting.location),
            "failure_type": F.lit(reporting.failure_type),
            "is_informational": F.lit(reporting.is_informational),
            "category": F.lit(reporting.category),
            "reporting_field": field_col,
            "value": (
                location_value_col(df, reporting.location)
                if reporting.location
                else field_col
            ),
        }

    record_json = F.to_json(
        F.struct(
            *[
                F.col(f"`{c}`")
                for c in cols
                if c not in (RECORD_INDEX, ORIGIN_ENTITY)
            ]
        )
    )
    return failure_messages(
        df,
        [(pred, fields(reporting)) for pred, reporting in checks],
        record_json=record_json,
    )


def submission_message(
    entity: str, code: str, message: str, *, informational: bool = False
) -> dict:
    """One submission-level message as a MESSAGE_SCHEMA row: it names no
    record, and its failure type and category are ``submission``."""
    return {
        "entity": entity,
        "original_entity": entity,
        RECORD_INDEX: None,
        "error_code": code,
        "error_message": message,
        "error_location": None,
        "failure_type": "submission",
        "is_informational": informational,
        "category": "submission",
        "reporting_field": None,
        "value": None,
        "record_json": None,
    }


def literal_feed(rows: list[dict], tag: str | None) -> "pa.Table":
    """Literal message rows as a tagged feed, every row tagged ``tag``: an
    Arrow table, so writing it or making it a DataFrame starts no Spark
    job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(MESSAGE_SCHEMA).append(pa.field(FEED, pa.string()))
    return pa.Table.from_pylist([{**row, FEED: tag} for row in rows], schema)


def empty_messages(spark: SparkSession) -> DataFrame:
    """A message feed with no rows, planned in the JVM (a typed null per
    field over an empty range) so evaluating it starts no Python worker."""
    return failure_messages(spark.range(0), [], record_json=None)


def union_messages(frames: list[DataFrame]) -> DataFrame | None:
    """Union message frames (all share MESSAGE_SCHEMA)."""
    frames = [f for f in frames if f is not None]
    if not frames:
        return None
    return reduce(lambda a, b: a.unionByName(b), frames)


@dataclass
class MessageCollector:
    """Accumulates message DataFrames across steps of a rule program."""

    frames: list[DataFrame] = field(default_factory=list)

    def add(self, df: DataFrame | None) -> None:
        if df is not None:
            self.frames.append(df)

    def union(self) -> DataFrame | None:
        return union_messages(self.frames)
