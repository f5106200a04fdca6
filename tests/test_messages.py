"""The message feed: every producer yields exactly MESSAGE_SCHEMA."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_validation_engine_spark.contract import apply_contract, parse_contract
from data_validation_engine_spark.messages import (
    MESSAGE_SCHEMA,
    Reporting,
    failure_messages,
)
from data_validation_engine_spark.steps import StepEngine
from data_validation_engine_spark.steps.configs import (
    DeferredFilter,
    Notification,
    ProfileGate,
)
from data_validation_engine_spark.steps.sync_filters import apply_sync_filters
from data_validation_engine_spark.streaming import streaming_sync_filters


def _people(spark):
    return spark.createDataFrame(
        [("1", "A1"), ("2", "A1"), ("x", None)], "id string, nhs string"
    )


def _contract_feed(spark, unique_fields):
    fields = {"id": "int", "nhs": "str"}
    doc = {"contract": {"datasets": {"people": {
        "fields": fields, "key_field": "id", "unique_fields": unique_fields,
    }}}}
    entity = parse_contract(doc).entity("people")
    return apply_contract(entity, _people(spark))[1]


def _step_feed(spark, config):
    return StepEngine(spark, register_functions=False).evaluate(
        {"t": _people(spark)}, config=config
    )


def _filter(expression, template):
    return DeferredFilter(
        entity_name="t",
        expression=expression,
        reporting=Reporting(code="LOW", message=template, location="value"),
    )


PRODUCERS = {
    "contract": lambda spark: _contract_feed(spark, []),
    "contract_unique": lambda spark: _contract_feed(spark, ["nhs"]),
    "notification": lambda spark: _step_feed(spark, Notification(
        entity_name="t",
        expression="nhs IS NULL",
        reporting=Reporting(code="NULL_NHS", message="{{id}}"),
    )),
    "sync_filters": lambda spark: apply_sync_filters(
        {"t": _people(spark).withColumnRenamed("nhs", "value")},
        [_filter("id > 1", "{{value}}")],
    ),
    # schema only: the stream is never started
    "streaming_sync_filters": lambda spark: streaming_sync_filters(
        spark.readStream.format("rate").load(),
        [_filter("value > 1", "{{timestamp}}")],
    )[1],
    "profile_gate": lambda spark: _step_feed(spark, ProfileGate(
        entity_name="t", max_null_frac=0.1, min_distinct=5, min_rows=10,
    )),
    "zero_checks": lambda spark: failure_messages(
        _people(spark), [], record_json=None
    ),
}


@pytest.mark.parametrize("producer", PRODUCERS)
def test_feed_has_message_schema(spark, producer):
    feed = PRODUCERS[producer](spark)
    assert [(f.name, f.dataType) for f in feed.schema] == [
        (f.name, f.dataType) for f in MESSAGE_SCHEMA
    ]


def test_failure_messages_fills_omitted_fields_with_typed_nulls(spark):
    df = spark.createDataFrame([(1,), (2,)], "n long")
    feed = failure_messages(
        df,
        [(F.col("n") > 1, {"entity": F.lit("t"), "value": F.col("n")})],
        record_json=None,
    )
    rows = feed.collect()
    assert len(rows) == 1
    row = rows[0].asDict()
    assert row.pop("entity") == "t" and row.pop("value") == "1"
    assert set(row.values()) == {None}
