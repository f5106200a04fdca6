"""Apply a data contract: validate (messages DataFrame) + cast, in one pass.

Replaces the reference's row-at-a-time pydantic validation on the RDD with
two lazy selects over the stringified entity (design target from
SURVEY.md §4):

- **messages**: every compiled check evaluates as a boolean column and
  hands its message fields to ``messages.failure_messages``, which explodes
  the failed ones into the standard message schema. One scan, no per-row
  Python loop, no Python workers.
- **typed**: the declarative cast select (TRIM+TRY_CAST, regex-guarded
  TRY_TO_TIMESTAMP, TRANSFORM/STRUCT recursion — dve
  spark_helpers.py:516-621 design, kept because it is already idiomatic).

Record rejection (drop rows that produced non-informational record errors)
is a flag-based filter on the same frame — cheaper than the reference's
anti-join against the error feed (dve spark_helpers.py:393-437) when done
in-stage; `reject_records` is also provided for cross-stage rejection by
index.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_validation_engine_spark.contract.compile import (
    CompiledCheck,
    cast_sql,
    compile_checks,
)
from data_validation_engine_spark.contract.spec import EntityContract
from data_validation_engine_spark.messages import (
    ORIGIN_ENTITY,
    RECORD_INDEX,
    compile_message_template,
    failure_messages,
    rejects_record,
    union_messages,
)

if TYPE_CHECKING:
    import pyarrow as pa


def _key_col(entity: EntityContract, df: DataFrame) -> Column | None:
    """A message's ``reporting_field``: the record's key, when declared."""
    if entity.key_field and entity.key_field in df.columns:
        return F.col(f"`{entity.key_field}`")
    return None


def check_predicates(checks: list[CompiledCheck]) -> list[Column]:
    """Each check's pass predicate as a Column — parsed once, shared by the
    message feed and the record filter."""
    return [F.expr(c.predicate_sql) for c in checks]


def contract_messages(
    entity: EntityContract,
    df: DataFrame,
    checks: list[CompiledCheck] | None = None,
    predicates: list[Column] | None = None,
) -> DataFrame:
    """One message row per (record, failed check), standard message schema.

    Checks carry per-(field, category) error-detail overrides
    (contract/error_details.py): custom codes, failure levels, informational
    flags, reporting-entity overrides, and message templates over record
    fields + ``{{__error_value}}`` — all compiled into the same single-scan
    explode, never per-row Python.
    """
    checks = checks if checks is not None else compile_checks(entity)
    if predicates is None:
        predicates = check_predicates(checks)
    key = _key_col(entity, df)
    cols = df.columns

    def fields(c: CompiledCheck) -> dict[str, Column | None]:
        value = F.expr(c.value_sql)
        return {
            "entity": F.lit(c.reporting_entity or entity.name),
            "original_entity": F.lit(entity.name),
            "error_code": F.lit(c.code),
            "error_message": compile_message_template(
                c.message, cols, extra_vars={"__error_value": value}
            ),
            "error_location": F.lit(c.field),
            "failure_type": F.lit(c.level),
            "is_informational": F.lit(c.informational),
            "category": F.lit(c.category),
            "reporting_field": key,
            "value": value,
        }

    return failure_messages(
        df,
        [(pred, fields(c)) for c, pred in zip(checks, predicates)],
        record_json=None,
    )


def uniqueness_messages(entity: EntityContract, df: DataFrame) -> DataFrame | None:
    """Cross-record duplicate detection for ``unique_fields``.

    A per-record checksum can never see duplicates (the demographics
    fixture's duplicate-NHS row is exactly this gap); this check counts
    occurrences per value with a window over each unique field — one
    narrow shuffle per field, keyed on the value, partial-aggregating
    map-side. Null/blank values are exempt (missing-ness is the mandatory
    check's job). Duplicates get messages; nothing is dropped — dedup is
    an explicit operator, not a validation side effect. ``parse_contract``
    guarantees each unique field is a declared field.
    """
    from pyspark.sql import Window

    if not entity.unique_fields:
        return None
    key = _key_col(entity, df)
    frames = []
    for field in entity.unique_fields:
        value = F.col(f"`{field}`").cast("string")
        counted = df.withColumn(
            "__n_dup", F.count(F.lit(1)).over(Window.partitionBy(value))
        )
        duplicate = (
            value.isNotNull() & (F.trim(value) != "") & (F.col("__n_dup") > 1)
        )
        fields = {
            "entity": F.lit(entity.name),
            "original_entity": F.lit(entity.name),
            "error_code": F.lit("DUPLICATE_VALUE"),
            "error_message": F.concat(
                F.lit(f"Field {field} value "),
                value,
                F.lit(" occurs "),
                F.col("__n_dup").cast("string"),
                F.lit(" times"),
            ),
            "error_location": F.lit(field),
            "failure_type": F.lit("record"),
            "is_informational": F.lit(True),
            "category": F.lit("uniqueness"),
            "reporting_field": key,
            "value": value,
        }
        frames.append(
            failure_messages(
                counted,
                [(~F.coalesce(duplicate, F.lit(False)), fields)],
                record_json=None,
            )
        )
    return union_messages(frames)


def cast_entity(entity: EntityContract, df: DataFrame) -> DataFrame:
    """The declarative cast select: stringified -> declared types."""
    exprs = [f"{cast_sql(f)} AS `{f.name}`" for f in entity.fields]
    if RECORD_INDEX in df.columns:
        exprs.append(f"`{RECORD_INDEX}`")
    return df.selectExpr(*exprs)


def valid_record_predicate(
    entity: EntityContract,
    checks: list[CompiledCheck] | None = None,
    predicates: list[Column] | None = None,
):
    """Boolean Column: record passes every *rejecting* contract check.

    Informational and non-record-level checks (error-detail overrides) emit
    messages but never reject the record — same rule as the reference's
    rejection feed filter (dve spark_helpers.py:393-437).
    """
    checks = checks if checks is not None else compile_checks(entity)
    if predicates is None:
        predicates = check_predicates(checks)
    valid = F.lit(True)
    for c, pred in zip(checks, predicates):
        if c.informational or c.level != "record":
            continue
        valid = valid & F.coalesce(pred.cast("boolean"), F.lit(False))
    return valid


def apply_contract(
    entity: EntityContract,
    df: DataFrame,
    *,
    drop_failed_records: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Validate + cast a stringified entity.

    Returns ``(typed_df, messages_df)``. With ``drop_failed_records`` the
    typed frame excludes records that failed any check (the reference's
    record-rejection behaviour, applied in-stage).
    """
    checks = compile_checks(entity)
    predicates = check_predicates(checks)
    messages = contract_messages(entity, df, checks, predicates)
    uniq = uniqueness_messages(entity, df)
    if uniq is not None:
        messages = messages.unionByName(uniq)
    source = df
    if drop_failed_records and checks:
        source = df.where(valid_record_predicate(entity, checks, predicates))
    return cast_entity(entity, source), messages


def reject_records(df: DataFrame, messages: DataFrame) -> DataFrame:
    """Cross-stage record rejection: anti-join on ``__record_index__``
    against non-informational record failures
    (dve spark_helpers.py:393-437)."""
    rejects = (
        messages.where(rejects_record())
        .select(RECORD_INDEX)
        .distinct()
    )
    return df.join(rejects, on=RECORD_INDEX, how="left_anti")


def reject_keys(
    spark: SparkSession, messages: Union[DataFrame, "pa.Table"]
) -> DataFrame:
    """The distinct ``(__origin_entity__, __record_index__)`` of the records
    a feed rejects (its non-informational record failures). A collected
    feed's keys are found driver-side and join as a local relation, so
    the anti-join shuffles nothing."""
    if isinstance(messages, DataFrame):
        return (
            messages.where(rejects_record())
            .select(
                F.col("original_entity").alias(ORIGIN_ENTITY),
                F.col(RECORD_INDEX),
            )
            .distinct()
        )
    import pyarrow.compute as pc

    rejected = messages.filter(
        pc.and_(
            pc.equal(messages["failure_type"], "record"),
            pc.invert(messages["is_informational"]),
        )
    )
    keys = ["original_entity", RECORD_INDEX]
    distinct = rejected.select(keys).group_by(keys).aggregate([])
    return spark.createDataFrame(
        distinct.select(keys).rename_columns([ORIGIN_ENTITY, RECORD_INDEX])
    )


def reject_records_by_origin(df: DataFrame, keys: DataFrame) -> DataFrame:
    """Row-level-lineage record rejection.

    Anti-join on ``(__origin_entity__, __record_index__)`` against a feed's
    :func:`reject_keys`: rows carry the contract entity their index
    belongs to, so rejection survives rename/copy/union of the entity
    namespace (where a name-scoped anti-join silently matches nothing).
    The key frame is 2 narrow columns — broadcastable at any realistic
    error volume.
    """
    return df.join(keys, on=[ORIGIN_ENTITY, RECORD_INDEX], how="left_anti")
