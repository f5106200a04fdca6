"""Source/sink tests: CSV/JSON/XML readers, entity/message/audit sinks."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from data_validation_engine_spark.errors import ConstraintError
from data_validation_engine_spark.sources import (
    read_csv,
    read_json,
    read_parquet,
    read_xml,
)
from data_validation_engine_spark.sources.csv import CSVOptions


@pytest.fixture()
def tmp(tmp_path):
    return tmp_path


def test_read_csv_stringified(spark, tmp):
    p = tmp / "data.csv"
    p.write_text(
        "Name,Age,City\n"
        "alice, 30 ,London\n"
        "bob,NA,\n"
        '"car,ol",25,Leeds\n'
    )
    df = read_csv(
        spark,
        str(p),
        ["name", "age", "city"],
        CSVOptions(null_values=("NA",), field_check=False),
    )
    rows = {r["name"]: (r["age"], r["city"]) for r in df.collect()}
    assert rows["alice"] == ("30", "London")  # trimmed
    assert rows["bob"] == (None, None)  # NA + empty -> null
    assert rows["car,ol"] == ("25", "Leeds")  # quoted comma
    assert df.schema == T.StructType(
        [
            T.StructField("name", T.StringType(), True),
            T.StructField("age", T.StringType(), True),
            T.StructField("city", T.StringType(), True),
        ]
    )


def test_csv_header_field_check(spark, tmp):
    p = tmp / "bad.csv"
    p.write_text("a,b,wrong\n1,2,3\n")
    with pytest.raises(ConstraintError):
        read_csv(
            spark, str(p), ["a", "b", "c"], CSVOptions(field_check=True)
        )


def test_read_json_nested(spark, tmp):
    p = tmp / "movies.json"
    p.write_text(
        json.dumps(
            [
                {
                    "title": "Alien",
                    "year": "1979",
                    "cast": [{"name": "Ripley", "role": "lead"}],
                },
                {"title": "Heat", "year": "1995", "cast": []},
            ]
        )
    )
    schema = T.StructType(
        [
            T.StructField("title", T.StringType()),
            T.StructField("year", T.StringType()),
            T.StructField(
                "cast",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("name", T.StringType()),
                            T.StructField("role", T.StringType()),
                        ]
                    )
                ),
            ),
        ]
    )
    df = read_json(spark, str(p), schema)
    rows = {r["title"]: r for r in df.collect()}
    assert rows["Alien"]["cast"][0]["name"] == "Ripley"
    assert rows["Heat"]["cast"] == []


def test_read_xml_flat(spark, tmp):
    p = tmp / "animals.xml"
    p.write_text(
        "<animals>"
        "<animal><name>cat</name><height>0.3</height></animal>"
        "<animal><name>dog</name><height>0.5</height></animal>"
        "</animals>"
    )
    df = read_xml(spark, str(p), "animal")
    rows = sorted((r["name"], str(r["height"])) for r in df.collect())
    assert rows == [("cat", "0.3"), ("dog", "0.5")]


def test_read_xml_wrapped_root_explode(spark, tmp):
    p = tmp / "books.xml"
    p.write_text(
        '<bookstore name="main">'
        "<book><title>A</title><price>1</price></book>"
        "<book><title>B</title><price>2</price></book>"
        "</bookstore>"
    )
    df = read_xml(
        spark, str(p), "book", root_tag="bookstore", explode_record_tag=True
    )
    titles = sorted(r["title"] for r in df.collect())
    assert titles == ["A", "B"]
    assert "_name" in df.columns  # root attribute preserved for header use


def test_write_entities_and_messages(spark, tmp):
    from data_validation_engine_spark.sinks import (
        write_entities,
        write_messages_jsonl,
    )
    from data_validation_engine_spark.contract import add_record_index

    df = add_record_index(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    )
    written = write_entities({"t": df}, str(tmp / "out"))
    back = read_parquet(spark, written["t"])
    assert sorted(r["id"] for r in back.collect()) == [1, 2]
    assert "__record_index__" not in back.columns

    from data_validation_engine_spark.messages import (
        Reporting,
        messages_for_checks,
    )
    from pyspark.sql import functions as F

    msgs = messages_for_checks(
        "t", df, [(F.col("id") > 1, Reporting(code="LOW", message="id {{id}}"))]
    )
    write_messages_jsonl(msgs, str(tmp / "errors"))
    feed = spark.read.json(str(tmp / "errors"))
    assert feed.count() == 1
    assert feed.collect()[0]["error_message"] == "id 1"


def test_audit_log_roundtrip(spark, tmp):
    from data_validation_engine_spark.sinks.audit import AuditLog

    log = AuditLog(spark, str(tmp / "audit"))
    assert log.fmt == "parquet"  # no delta in this container
    log.append(
        "processing_status",
        [{"submission_id": "s1", "status": "received"}],
    )
    log.append(
        "processing_status",
        [
            {"submission_id": "s1", "status": "processed"},
            {"submission_id": "s2", "status": "received"},
        ],
    )
    latest = {
        r["submission_id"]: r["status"] for r in log.latest_status().collect()
    }
    assert latest == {"s1": "processed", "s2": "received"}


def test_latest_status_breaks_time_ties_by_lifecycle(spark, tmp):
    import datetime as dt

    from data_validation_engine_spark.sinks.audit import AuditLog

    log = AuditLog(spark, str(tmp / "audit"))
    t = dt.datetime(2024, 1, 2, 3, 4, 5)
    # one append per submission, rows in either order, same time_updated
    for sid, order in (
        ("s1", ["received", "completed"]),
        ("s2", ["completed", "received"]),
    ):
        log.append(
            "processing_status",
            [
                {"submission_id": sid, "time_updated": t, "status": s}
                for s in order
            ],
        )
    latest = {
        r["submission_id"]: r["status"] for r in log.latest_status().collect()
    }
    assert latest == {"s1": "completed", "s2": "completed"}


def _report_messages(spark):
    from data_validation_engine_spark.contract import (
        apply_contract,
        parse_contract,
        add_record_index,
    )

    contract = parse_contract(
        {
            "contract": {
                "datasets": {
                    "d": {
                        "fields": {"id": "int"},
                        "mandatory_fields": ["id"],
                    }
                }
            }
        }
    )
    df = add_record_index(
        spark.createDataFrame([("1",), (None,), ("x",)], "id string")
    )
    _, messages = apply_contract(contract.entity("d"), df)
    return messages


def test_error_report_csv_fallback(spark, tmp):
    from data_validation_engine_spark.sinks.report import write_error_report

    messages = _report_messages(spark)
    out = write_error_report(messages, str(tmp / "report"), output_format="csv")
    import pandas as pd

    aggs = pd.read_csv(f"{out}/aggregates.csv")
    # reference-shaped aggregates sheet (Type/Table/Data_Item/Category/
    # Error_Code/Count)
    assert list(aggs.columns) == [
        "Type", "Table", "Data_Item", "Category", "Error_Code", "Count",
    ]
    assert aggs["Count"].sum() == 2
    assert set(aggs["Type"]) == {"Record Rejection"}
    summary = pd.read_csv(f"{out}/summary.csv")
    # all three category rows always present, zero-filled
    assert list(summary["Type"]) == [
        "File Rejection", "Record Rejection", "Warning",
    ]
    assert list(summary["Count"]) == [0, 2, 0]
    detail = pd.read_csv(f"{out}/errors.csv")
    assert list(detail.columns) == [
        "Table", "Type", "Error_Code", "Data_Item", "Error",
        "Record_Index", "Value", "ID", "Category",
    ]


def test_error_report_xlsx_branch(spark, tmp):
    """The xlsx branch, exercised wherever openpyxl exists (skipped — not
    silently passed — in containers without it): workbook lands with the
    three reference sheets and the same row counts as the frames."""
    openpyxl = pytest.importorskip("openpyxl")

    from data_validation_engine_spark.sinks.report import (
        aggregates_sheet,
        summarise_feed,
        write_error_report,
    )

    messages = _report_messages(spark)
    out = write_error_report(
        messages, str(tmp / "report"), output_format="xlsx"
    )
    assert out.endswith(".xlsx")
    wb = openpyxl.load_workbook(out)
    assert wb.sheetnames == ["summary", "errors", "aggregates"]
    # header row + data rows: every message, every aggregate
    assert wb["summary"].max_row == 1 + 3
    assert wb["errors"].max_row == 1 + messages.count()
    assert wb["aggregates"].max_row == 1 + (
        aggregates_sheet(summarise_feed(messages)).num_rows
    )


def test_error_report_xlsx_forced_without_openpyxl_raises(spark, tmp):
    """Forcing xlsx without the dependency fails loudly, never silently
    degrades to CSV."""
    try:
        import openpyxl  # noqa: F401

        pytest.skip("openpyxl present in this environment")
    except ImportError:
        pass
    from data_validation_engine_spark.sinks.report import write_error_report

    with pytest.raises(ImportError):
        write_error_report(
            _report_messages(spark), str(tmp / "r2"), output_format="xlsx"
        )


def test_csv_maps_columns_by_header_name(spark, tmp_path):
    """Reference semantics: file column ORDER doesn't matter — headers map
    to declared fields case-insensitively; missing fields null-fill,
    extras drop."""
    from data_validation_engine_spark.sources.csv import CSVOptions, read_csv

    p = tmp_path / "scrambled.csv"
    p.write_text("AGE,extra,Name\n30,x,alice\n40,y,bob\n")
    df = read_csv(
        spark, str(p), ["name", "age", "missing"], CSVOptions()
    )
    rows = {r["name"]: r for r in df.collect()}
    assert set(df.columns) == {"name", "age", "missing"}
    assert rows["alice"]["age"] == "30" and rows["bob"]["age"] == "40"
    assert rows["alice"]["missing"] is None


def test_csv_peeks_header_once(spark, tmp_path, monkeypatch):
    """The field check and the header-name mapping share one header peek
    (one small Spark job)."""
    from data_validation_engine_spark.sources import csv

    calls = []
    peek = csv._peek_header
    monkeypatch.setattr(
        csv, "_peek_header", lambda *a: calls.append(a) or peek(*a)
    )
    p = tmp_path / "data.csv"
    p.write_text("Age,Name\n30,alice\n")
    df = csv.read_csv(
        spark, str(p), ["name", "age"], csv.CSVOptions(field_check=True)
    )
    assert len(calls) == 1
    assert [tuple(r) for r in df.collect()] == [("alice", "30")]


def test_csv_header_peek_honours_quotes(spark, tmp_path):
    """A quoted header name may hold the delimiter: the peek parses the
    header line as CSV, so the names after it still map to their
    columns."""
    p = tmp_path / "quoted_header.csv"
    p.write_text(
        'id,"notes, free text",name\n'
        '1,"likes tea, not coffee",alice\n'
        '2,plain,bob\n'
    )
    df = read_csv(spark, str(p), ["id", "name"], CSVOptions())
    assert sorted(tuple(r) for r in df.collect()) == [
        ("1", "alice"), ("2", "bob")
    ]


def test_csv_positional_without_header(spark, tmp_path):
    from data_validation_engine_spark.sources.csv import CSVOptions, read_csv

    p = tmp_path / "nohdr.csv"
    p.write_text("alice,30\nbob,40\n")
    df = read_csv(
        spark, str(p), ["name", "age"], CSVOptions(header=False)
    )
    rows = {r["name"]: r["age"] for r in df.collect()}
    assert rows == {"alice": "30", "bob": "40"}


# -- concurrent-append retry (sinks/audit.py) --------------------------------


def test_retry_concurrent_append_retries_commit_races():
    from data_validation_engine_spark.sinks.audit import (
        retry_concurrent_append,
    )

    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError(
                "io.delta.exceptions.ConcurrentAppendException: Files were "
                "added to partition [date_updated=2026-01-01] by a "
                "concurrent update."
            )
        return "ok"

    assert (
        retry_concurrent_append(flaky, max_retries=5, sleep_seconds=0)
        == "ok"
    )
    assert calls["n"] == 3


def test_retry_concurrent_append_raises_on_exhaustion():
    from data_validation_engine_spark.sinks.audit import (
        retry_concurrent_append,
    )

    def always_racing():
        raise RuntimeError("DeltaConcurrentModificationException: retry me")

    with pytest.raises(RuntimeError, match="DeltaConcurrent"):
        retry_concurrent_append(
            always_racing, max_retries=3, sleep_seconds=0
        )


def test_retry_concurrent_append_propagates_other_errors():
    from data_validation_engine_spark.sinks.audit import (
        retry_concurrent_append,
    )

    calls = {"n": 0}

    def broken():
        calls["n"] += 1
        raise ValueError("schema mismatch")

    with pytest.raises(ValueError, match="schema mismatch"):
        retry_concurrent_append(broken, max_retries=5, sleep_seconds=0)
    assert calls["n"] == 1  # not a commit race: no retry


def test_read_parquet_nanos_safe_on_true_nanos_file(spark, tmp):
    """A pyarrow-written TIMESTAMP(NANOS) column round-trips to a µs
    timestamp (sub-µs precision truncated)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_validation_engine_spark.sources import read_parquet_nanos_safe

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    tbl = pa.table(
        {
            "id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [base, base + datetime.timedelta(microseconds=5)],
                pa.timestamp("ns"),
            ),
        }
    )
    p = str(tmp / "nanos.parquet")
    pq.write_table(tbl, p)
    assert pq.read_schema(p).field("ts").type == pa.timestamp("ns")

    df = read_parquet_nanos_safe(spark, p, nanos_timestamp_cols=("ts",))
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    got = {r["id"]: r["ts"] for r in df.collect()}
    assert got[1] == base
    assert got[2] == base + datetime.timedelta(microseconds=5)
    # conf restored — no leakage into the session
    assert (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"
    )


def test_read_parquet_nanos_safe_passes_through_micros(spark):
    """The real events.parquet stores timestamp[us]; naming its ts column
    must be a no-op pass-through, not a crash (round-4 regression)."""
    from data_validation_engine_spark.sources import read_parquet_nanos_safe

    path = "/root/testdata/sf0.001/events.parquet"
    plain = spark.read.parquet(path)
    safe = read_parquet_nanos_safe(spark, path, nanos_timestamp_cols=("ts",))
    assert safe.schema == plain.schema
    a = plain.orderBy("event_id").limit(5).collect()
    b = safe.orderBy("event_id").limit(5).collect()
    assert a == b


def test_error_report_fast_path_matches_distributed(spark, tmp):
    """The collected table and the feed DataFrame (the over-cap path: a
    grouping-sets summary and a sorted LIMIT of detail rows) give the same
    sheets: the DataFrame run keeps max_detail_rows=1 of the 2 messages,
    and both equal sheets counted by a plain Spark groupBy."""
    import pandas as pd
    from pyspark.sql import functions as F

    from data_validation_engine_spark.sinks.report import (
        report_type_col,
        write_error_report,
    )

    messages = _report_messages(spark)
    fast = write_error_report(
        messages.toArrow(), str(tmp / "fast"), output_format="csv"
    )
    slow = write_error_report(
        messages,
        str(tmp / "slow"),
        output_format="csv",
        max_detail_rows=1,
    )
    for sheet in ("summary.csv", "aggregates.csv"):
        a = pd.read_csv(f"{fast}/{sheet}")
        b = pd.read_csv(f"{slow}/{sheet}")
        pd.testing.assert_frame_equal(a, b)
    # the truncated detail keeps the SORTED first row (deterministic
    # truncation), a prefix of the fast path's full sorted sheet
    fa = pd.read_csv(f"{fast}/errors.csv")
    sl = pd.read_csv(f"{slow}/errors.csv")
    assert len(fa) == 2 and len(sl) == 1
    pd.testing.assert_frame_equal(fa.iloc[:1], sl, check_dtype=False)
    # and the sheets hold the counts of a plain Spark groupBy
    keys = ["Type", "Table", "Data_Item", "Category", "Error_Code"]
    typed = messages.select(
        report_type_col().alias("Type"),
        F.col("entity").alias("Table"),
        F.col("error_location").alias("Data_Item"),
        F.col("category").alias("Category"),
        F.col("error_code").alias("Error_Code"),
    )
    agg_df = typed.groupBy(*keys).count().withColumnRenamed("count", "Count")
    pd.testing.assert_frame_equal(
        pd.read_csv(f"{fast}/aggregates.csv").fillna("").sort_values(keys)
        .reset_index(drop=True),
        agg_df.toPandas().fillna("").sort_values(keys).reset_index(drop=True),
        check_dtype=False,
    )
    by_type = dict(typed.groupBy("Type").count().collect())
    summary = pd.read_csv(f"{fast}/summary.csv")
    assert dict(zip(summary["Type"], summary["Count"])) == {
        t: by_type.get(t, 0)
        for t in ("File Rejection", "Record Rejection", "Warning")
    }


# -- ORC source/sink (sources/orc.py) ----------------------------------------


def test_orc_round_trip_and_pushdown(spark, sf_dir, tmp_path):
    from data_validation_engine_spark.sources.orc import read_orc, write_orc

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    path = str(tmp_path / "nation_orc")
    write_orc(nation, path, partition_by=("n_regionkey",))
    back = read_orc(spark, path)
    assert back.count() == nation.count()
    assert {r["n_name"] for r in back.collect()} == {
        r["n_name"] for r in nation.collect()
    }
    # partition pruning reaches the scan
    plan = (
        back.where("n_regionkey = 1")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "n_regionkey" in plan


# -- binaryFile source (sources/binary.py) -----------------------------------


def test_binary_files_read_and_metadata(spark, tmp_path):
    from data_validation_engine_spark.sources.binary import (
        read_binary_files,
        with_asset_metadata,
    )

    (tmp_path / "a.png").write_bytes(b"\x89PNG\r\n" + b"x" * 10)
    (tmp_path / "b.wav").write_bytes(b"RIFF" + b"y" * 20)
    (tmp_path / "notes.txt").write_text("not an asset")

    df = with_asset_metadata(read_binary_files(spark, str(tmp_path)))
    rows = {r["asset_name"]: r for r in df.collect()}
    assert rows["a.png"]["modality"] == "image"
    assert rows["a.png"]["length"] == 16
    assert bytes(rows["a.png"]["content"])[:4] == b"\x89PN"[:3] + b"G"
    assert rows["b.wav"]["modality"] == "audio"
    assert rows["notes.txt"]["modality"] == "other"

    only_png = read_binary_files(spark, str(tmp_path), glob="*.png")
    assert only_png.count() == 1

    meta = read_binary_files(spark, str(tmp_path), drop_content=True)
    assert "content" not in meta.columns


def test_binary_files_max_bytes_guard(spark, tmp_path):
    from data_validation_engine_spark.sources.binary import read_binary_files

    (tmp_path / "big.bin").write_bytes(b"z" * 100)
    df = read_binary_files(spark, str(tmp_path), max_bytes=10)
    import pyspark.errors

    try:
        df.select("content").collect()
        raised = False
    except Exception as exc:  # noqa: BLE001 — Spark wraps raise_error
        raised = "max_bytes" in str(exc)
    assert raised
