"""Contract layer tests: spec parsing, check compilation, cast, index."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_validation_engine_spark.contract import (
    add_record_index,
    apply_contract,
    parse_contract,
)
from data_validation_engine_spark.contract.compile import (
    compile_checks,
    strptime_to_regex,
    strptime_to_spark_format,
    typed_schema,
)
from data_validation_engine_spark.messages import RECORD_INDEX

DISCHEMA = {
    "contract": {
        "types": {
            "ShortName": {
                "callable": "constr",
                "constraints": {"max_length": 5, "min_length": 2},
            },
            "NonIsoDate": {
                "type": "conformatteddate",
                "constraints": {"date_format": "%d-%m-%Y"},
            },
        },
        "datasets": {
            "people": {
                "fields": {
                    "name": "ShortName",
                    "age": "NonNegativeInt",
                    "score": "PositiveFloat",
                    "joined": "NonIsoDate",
                    "nhs": "nhsnumber",
                    "postcode": "postcode",
                    "tags": {"type": "str", "is_array": True},
                    "address": {
                        "model": {"line1": "str", "zip": "int"},
                        "mandatory_fields": [],
                    },
                },
                "key_field": "name",
                "mandatory_fields": ["name", "age"],
            }
        },
    }
}


@pytest.fixture(scope="module")
def contract():
    return parse_contract(DISCHEMA)


def test_spec_parsing(contract):
    people = contract.entity("people")
    assert people.key_field == "name"
    name = people.field("name")
    assert name.base_type == "string"
    assert name.effective_constraints == {"max_length": 5, "min_length": 2}
    assert people.field("age").effective_constraints == {"ge": 0}
    assert people.field("joined").base_type == "date"
    assert people.field("tags").is_array
    assert people.field("address").model is not None


def test_typed_schema(contract):
    schema = typed_schema(contract.entity("people"))
    kinds = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert kinds == {
        "name": "string",
        "age": "bigint",
        "score": "double",
        "joined": "date",
        "nhs": "string",
        "postcode": "string",
        "tags": "array<string>",
        "address": "struct<line1:string,zip:bigint>",
    }


def test_format_conversion():
    assert strptime_to_spark_format("%d-%m-%Y") == "dd-MM-yyyy"
    assert strptime_to_regex("%d-%m-%Y") == "^[0-9]{2}-[0-9]{2}-[0-9]{4}$"
    assert strptime_to_spark_format("%Y-%m-%dT%H:%M:%S") == (
        "yyyy-MM-dd'T'HH:mm:ss"
    )


def test_apply_contract_end_to_end(spark, contract):
    people = contract.entity("people")
    rows = [
        # valid row
        ("bob", "30", "1.5", "01-02-2020", "9434765919", "sw1a1aa",
         ["a", "b"], ("x", "1")),
        # bad: name too long, age negative, score zero, bad date format,
        # bad nhs checksum, bad postcode
        ("toolongname", "-1", "0", "2020-02-01", "9434765918", "zzz",
         ["c"], ("y", "2")),
        # bad: mandatory name/age missing
        (None, None, "2.5", "15-06-2021", None, None, None, (None, None)),
    ]
    df = spark.createDataFrame(
        rows,
        "name string, age string, score string, joined string, nhs string, "
        "postcode string, tags array<string>, "
        "address struct<line1:string, zip:string>",
    )
    df = add_record_index(df)
    typed, messages = apply_contract(people, df)

    msg_rows = messages.collect()
    by_code = {}
    for r in msg_rows:
        by_code.setdefault(r["error_code"], []).append(r[RECORD_INDEX])
    assert by_code["TOO_LONG"] == [2]
    assert by_code["OUT_OF_RANGE_GE"] == [2]  # age >= 0
    assert by_code["OUT_OF_RANGE_GT"] == [2]  # score > 0
    assert by_code["INVALID_DATE"] == [2]
    assert by_code["INVALID_NHS_NUMBER"] == [2]
    assert by_code["INVALID_POSTCODE"] == [2]
    assert sorted(by_code["MISSING_MANDATORY_VALUE"]) == [3, 3]

    out = typed.collect()
    assert len(out) == 1  # only the valid row survives
    row = out[0]
    assert row["age"] == 30 and row["score"] == 1.5
    assert row["joined"] == dt.date(2020, 2, 1)
    assert row["postcode"] == "SW1A 1AA"
    assert row["address"]["zip"] == 1
    assert row[RECORD_INDEX] == 1


def test_record_index_is_file_order(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/customer.parquet")
    indexed = add_record_index(df)
    collected = indexed.select("c_custkey", RECORD_INDEX).collect()
    n = df.count()
    idx = sorted(r[RECORD_INDEX] for r in collected)
    assert idx == list(range(1, n + 1))
    # determinism: same layout -> same mapping
    again = {
        r["c_custkey"]: r[RECORD_INDEX]
        for r in add_record_index(df).select("c_custkey", RECORD_INDEX).collect()
    }
    first = {r["c_custkey"]: r[RECORD_INDEX] for r in collected}
    assert first == again


def _plan(df) -> str:
    qe = df._jdf.queryExecution()
    return qe.optimizedPlan().toString() + qe.executedPlan().toString()


def _zip_with_index(df, key: str) -> dict:
    """The reference definition: ``rdd.zipWithIndex()`` + 1, keyed by ``key``."""
    return {row[key]: i + 1 for row, i in df.rdd.zipWithIndex().collect()}


@pytest.mark.parametrize("persist", [True, False])
def test_record_index_matches_zip_with_index_with_empty_partitions(
    spark, persist
):
    # 7 partitions of 10 rows; partitions 1, 2, 4 and 6 filter to empty
    df = spark.range(0, 70, numPartitions=7).where(
        (F.col("id") < 10)
        | F.col("id").between(30, 39)
        | F.col("id").between(50, 55)
    )
    assert df.rdd.getNumPartitions() == 7
    indexed = add_record_index(df, persist=persist)
    got = {r["id"]: r[RECORD_INDEX] for r in indexed.collect()}
    assert got == _zip_with_index(df, "id")
    plan = _plan(indexed)
    assert "BroadcastExchange" not in plan and "ExistingRDD" not in plan


def test_record_index_matches_zip_with_index_after_shuffle(spark):
    # a global sort: the index follows the post-shuffle partition order
    df = spark.range(0, 500, numPartitions=5).orderBy(F.col("id") % 13, "id")
    indexed = add_record_index(df, persist=True)
    got = {r["id"]: r[RECORD_INDEX] for r in indexed.collect()}
    assert got == _zip_with_index(df, "id")
    assert sorted(got.values()) == list(range(1, 501))
    plan = _plan(indexed)
    assert "BroadcastExchange" not in plan and "ExistingRDD" not in plan


def test_empty_messages_is_typed_and_jvm_planned(spark):
    from data_validation_engine_spark.messages import MESSAGE_SCHEMA, empty_messages

    empty = empty_messages(spark)
    assert [(f.name, f.dataType) for f in empty.schema] == [
        (f.name, f.dataType) for f in MESSAGE_SCHEMA
    ]
    plan = _plan(empty)
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan
    assert empty.count() == 0


def test_reject_records_cross_stage(spark, contract):
    from data_validation_engine_spark.contract.apply import (
        contract_messages,
        reject_records,
    )

    mini = parse_contract(
        {
            "contract": {
                "datasets": {
                    "mini": {
                        "fields": {
                            "name": {
                                "callable": "constr",
                                "constraints": {"min_length": 2},
                            },
                            "age": "int",
                        },
                        "mandatory_fields": ["name"],
                    }
                }
            }
        }
    ).entity("mini")
    df = spark.createDataFrame(
        [("ok", "1"), ("x", "2"), ("fine", "bad")],
        "name string, age string",
    )
    df = add_record_index(df)
    msgs = contract_messages(mini, df)
    kept = reject_records(df, msgs)
    # 'x' fails min_length; 'bad' age fails INVALID_NUMBER
    assert sorted(r["name"] for r in kept.collect()) == ["ok"]


def test_apply_contract_parses_each_predicate_once(spark, monkeypatch):
    """With record dropping on, the message feed and the record filter
    share one Column per check: each predicate's SQL is parsed once."""
    from collections import Counter

    mini = parse_contract(
        {
            "contract": {
                "datasets": {
                    "mini": {
                        "fields": {"name": "str", "age": "int", "born": "date"},
                        "mandatory_fields": ["name"],
                    }
                }
            }
        }
    ).entity("mini")
    df = add_record_index(
        spark.createDataFrame([("ok", "1", "2001-02-03"), (None, "x", "bad")],
                              "name string, age string, born string")
    )
    expected = Counter(c.predicate_sql for c in compile_checks(mini))
    parsed = Counter()
    expr = F.expr
    monkeypatch.setattr(F, "expr", lambda sql: parsed.update([sql]) or expr(sql))
    typed, messages = apply_contract(mini, df, drop_failed_records=True)
    monkeypatch.undo()
    assert expected and {sql: parsed[sql] for sql in expected} == expected
    assert [r["name"] for r in typed.collect()] == ["ok"]
    assert messages.count() == 3
