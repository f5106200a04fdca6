"""Apply a data contract: validate (messages DataFrame) + cast, in one pass.

Replaces the reference's row-at-a-time pydantic validation on the RDD with
two lazy selects over the stringified entity (design target from
SURVEY.md §4):

- **messages**: every compiled check evaluates as a boolean column; failed
  checks become structs collected with ``array_compact`` and exploded into
  the standard message schema. One scan, no driver loop, no Python workers.
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

from pyspark.sql import DataFrame
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
    empty_messages,
)


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
    if not checks:
        # no declared checks (e.g. a header entity of plain strings):
        # an empty explode would type as VOID — return the empty frame
        return empty_messages(df.sparkSession)
    idx = (
        F.col(RECORD_INDEX).cast("long")
        if RECORD_INDEX in df.columns
        else F.lit(None).cast("long")
    )
    key = (
        F.col(f"`{entity.key_field}`").cast("string")
        if entity.key_field and entity.key_field in df.columns
        else F.lit(None).cast("string")
    )
    cols = list(df.columns)
    failure_structs = [
        F.when(
            ~F.coalesce(F.expr(c.predicate_sql).cast("boolean"), F.lit(False)),
            F.struct(
                F.lit(c.reporting_entity or entity.name).alias("entity"),
                F.lit(c.code).alias("error_code"),
                compile_message_template(
                    c.message,
                    cols,
                    extra_vars={"__error_value": F.expr(c.value_sql)},
                ).alias("error_message"),
                F.lit(c.field).alias("error_location"),
                F.lit(c.level).alias("failure_type"),
                F.lit(c.informational).alias("is_informational"),
                F.lit(c.category).alias("category"),
                F.expr(c.value_sql).alias("value"),
            ),
        )
        for c in checks
    ]
    exploded = (
        df.select(
            idx.alias(RECORD_INDEX),
            key.alias("reporting_field"),
            F.array_compact(F.array(*failure_structs)).alias("__failures"),
        )
        .where(F.size("__failures") > 0)
        .select(
            RECORD_INDEX, "reporting_field", F.explode("__failures").alias("f")
        )
    )
    return exploded.select(
        F.col("f.entity").alias("entity"),
        F.lit(entity.name).alias("original_entity"),
        F.col(RECORD_INDEX),
        F.col("f.error_code").alias("error_code"),
        F.col("f.error_message").alias("error_message"),
        F.col("f.error_location").alias("error_location"),
        F.col("f.failure_type").alias("failure_type"),
        F.col("f.is_informational").alias("is_informational"),
        F.col("f.category").alias("category"),
        F.col("reporting_field"),
        F.col("f.value").alias("value"),
        F.lit(None).cast("string").alias("record_json"),
    )


def uniqueness_messages(entity: EntityContract, df: DataFrame) -> DataFrame | None:
    """Cross-record duplicate detection for ``unique_fields``.

    A per-record checksum can never see duplicates (the demographics
    fixture's duplicate-NHS row is exactly this gap); this check counts
    occurrences per value with a window over each unique field — one
    narrow shuffle per field, keyed on the value, partial-aggregating
    map-side. Null/blank values are exempt (missing-ness is the mandatory
    check's job). Duplicates get messages; nothing is dropped — dedup is
    an explicit operator, not a validation side effect.
    """
    from pyspark.sql import Window

    if not entity.unique_fields:
        return None
    frames = []
    for field in entity.unique_fields:
        if field not in df.columns:
            continue
        value = F.col(f"`{field}`").cast("string")
        counted = df.withColumn(
            "__n_dup", F.count(F.lit(1)).over(Window.partitionBy(value))
        )
        idx = (
            F.col(RECORD_INDEX).cast("long")
            if RECORD_INDEX in df.columns
            else F.lit(None).cast("long")
        )
        key = (
            F.col(f"`{entity.key_field}`").cast("string")
            if entity.key_field and entity.key_field in df.columns
            else F.lit(None).cast("string")
        )
        frames.append(
            counted.where(
                value.isNotNull()
                & (F.trim(value) != "")
                & (F.col("__n_dup") > 1)
            ).select(
                F.lit(entity.name).alias("entity"),
                F.lit(entity.name).alias("original_entity"),
                idx.alias(RECORD_INDEX),
                F.lit("DUPLICATE_VALUE").alias("error_code"),
                F.concat(
                    F.lit(f"Field {field} value "),
                    value,
                    F.lit(" occurs "),
                    F.col("__n_dup").cast("string"),
                    F.lit(" times"),
                ).alias("error_message"),
                F.lit(field).alias("error_location"),
                F.lit("record").alias("failure_type"),
                F.lit(True).alias("is_informational"),
                F.lit("uniqueness").alias("category"),
                key.alias("reporting_field"),
                value.alias("value"),
                F.lit(None).cast("string").alias("record_json"),
            )
        )
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


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
        messages.where(
            (F.col("failure_type") == "record") & (~F.col("is_informational"))
        )
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
        messages.where(
            (F.col("failure_type") == "record") & (~F.col("is_informational"))
        )
        .select(
            F.col("original_entity").alias(ORIGIN_ENTITY),
            F.col(RECORD_INDEX),
        )
        .distinct()
    )
    return df.join(rejects, on=[ORIGIN_ENTITY, RECORD_INDEX], how="left_anti")
