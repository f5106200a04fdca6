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

from pyspark.sql import Column, DataFrame
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


def _key_col(entity: EntityContract, df: DataFrame) -> Column | None:
    """A message's ``reporting_field``: the record's key, when declared."""
    if entity.key_field and entity.key_field in df.columns:
        return F.col(f"`{entity.key_field}`")
    return None


def contract_messages(
    entity: EntityContract,
    df: DataFrame,
    checks: list[CompiledCheck] | None = None,
) -> DataFrame:
    """One message row per (record, failed check), standard message schema.

    Checks carry per-(field, category) error-detail overrides
    (contract/error_details.py): custom codes, failure levels, informational
    flags, reporting-entity overrides, and message templates over record
    fields + ``{{__error_value}}`` — all compiled into the same single-scan
    explode, never per-row Python.
    """
    checks = checks if checks is not None else compile_checks(entity)
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
        [(F.expr(c.predicate_sql), fields(c)) for c in checks],
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
    entity: EntityContract, checks: list[CompiledCheck] | None = None
):
    """Boolean Column: record passes every *rejecting* contract check.

    Informational and non-record-level checks (error-detail overrides) emit
    messages but never reject the record — same rule as the reference's
    rejection feed filter (dve spark_helpers.py:393-437).
    """
    checks = checks if checks is not None else compile_checks(entity)
    pred = F.lit(True)
    for c in checks:
        if c.informational or c.level != "record":
            continue
        pred = pred & F.coalesce(
            F.expr(c.predicate_sql).cast("boolean"), F.lit(False)
        )
    return pred


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
    messages = contract_messages(entity, df, checks)
    uniq = uniqueness_messages(entity, df)
    if uniq is not None:
        messages = messages.unionByName(uniq)
    source = df
    if drop_failed_records and checks:
        source = df.where(valid_record_predicate(entity, checks))
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


def reject_records_by_origin(df: DataFrame, messages: DataFrame) -> DataFrame:
    """Row-level-lineage record rejection.

    Anti-join on ``(__origin_entity__, __record_index__)`` against each
    message's ``(original_entity, __record_index__)``: rows carry the
    contract entity their index belongs to, so rejection survives
    rename/copy/union of the entity namespace (where a name-scoped
    anti-join silently matches nothing). The reject frame is 2 narrow
    columns — broadcastable at any realistic error volume.
    """
    rejects = (
        messages.where(rejects_record())
        .select(
            F.col("original_entity").alias(ORIGIN_ENTITY),
            F.col(RECORD_INDEX),
        )
        .distinct()
    )
    return df.join(rejects, on=[ORIGIN_ENTITY, RECORD_INDEX], how="left_anti")
