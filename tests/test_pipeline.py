"""End-to-end dischema pipeline tests (planets-style shape over synthetic
nation/region data): contract + refdata + rule store + sync filters +
complex rule -> entities + messages + audit rows."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from data_validation_engine_spark.dischema import load_dischema, parse_dischema
from data_validation_engine_spark.pipeline import run_pipeline

SF_DIR = "/root/testdata/sf0.001"

RULESET = {
    "field_under_limit": {
        "description": "Ensure a field is under a parameterised limit.",
        "type": "filter",
        "parameter_defaults": {"limit": 1000},
        "rule_config": {
            "entity": "{{entity}}",
            "name": "under_{{field}}",
            "expression": "{{field}} IS NOT NULL AND {{field}} < {{limit}}",
            "failure_message": "{{failure_message or 'Field over limit'}}",
            "error_code": "{{error_code|default(('high_' + field).upper())}}",
            "reporting_field": "{{field}}",
        },
    },
    "add_and_drop_marker": {
        "description": "Add a marker column, filter on it, drop it.",
        "type": "complex_rule",
        "parameter_defaults": {},
        "rule_config": {
            "rules": [
                {
                    "operation": "add",
                    "entity": "{{entity}}",
                    "column_name": "marker",
                    "expression": "1",
                }
            ],
            "filters": [
                {
                    "entity": "{{entity}}",
                    "name": "marker_is_one",
                    "expression": "marker == 1",
                }
            ],
            "post_filter_rules": [
                {
                    "operation": "remove",
                    "entity": "{{entity}}",
                    "column_name": "marker",
                }
            ],
        },
    },
}

DISCHEMA = {
    "contract": {
        "types": {
            "ShortName": {
                "callable": "constr",
                "constraints": {"min_length": 1, "max_length": 30},
            }
        },
        "datasets": {
            "customers": {
                "fields": {
                    "c_custkey": "int",
                    "c_name": "ShortName",
                    "c_nationkey": "int",
                    "c_acctbal": "float",
                },
                "key_field": "c_custkey",
                "mandatory_fields": ["c_custkey", "c_name"],
                "reader_config": {".csv": {"reader": "SparkCSVReader"}},
            }
        },
    },
    "transformations": {
        "parameters": {"min_bal": -500},
        "reference_data": {
            "nations": {"type": "filename", "filename": "nation.parquet"}
        },
        "rule_stores": [
            {"store_type": "json", "filename": "test_ruleset.json"}
        ],
        "rules": [
            {
                "operation": "left_join",
                "entity": "customers",
                "target": "refdata_nations",
                "join_condition": (
                    "customers.c_nationkey == refdata_nations.n_nationkey"
                ),
                "new_columns": {"refdata_nations.n_name": "nation_name"},
            }
        ],
        "filters": [
            {
                "entity": "customers",
                "name": "bal_floor",
                "expression": "c_acctbal > {{min_bal}}",
                "error_code": "LOW_BAL",
                "failure_message": "balance below {{min_bal}}",
                "reporting_field": "c_custkey",
            },
            {
                "rule_name": "field_under_limit",
                "parameters": {"entity": "customers", "field": "c_acctbal"},
            },
        ],
        "post_filter_rules": [
            {
                "operation": "group_by",
                "entity": "customers",
                "group_by": {"nation_name": "nation_name"},
                "agg_columns": {
                    "count(1)": "n_customers",
                    "round(sum(c_acctbal), 2)": "total_bal",
                },
                "new_entity_name": "by_nation",
            }
        ],
        "complex_rules": [
            {"rule_name": "add_and_drop_marker", "parameters": {"entity": "customers"}}
        ],
    },
}


@pytest.fixture(scope="module")
def workspace(tmp_path_factory, spark):
    """Dischema file + rule store + CSV input + refdata, staged on disk."""
    root = tmp_path_factory.mktemp("pipeline_e2e")
    (root / "test_ruleset.json").write_text(json.dumps(RULESET))
    (root / "dischema.json").write_text(json.dumps(DISCHEMA))

    # stage refdata (filename-relative)
    nations = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    nations.write.mode("overwrite").parquet(str(root / "nation.parquet"))

    # CSV input with deterministic dirt: customer 7 has no name (mandatory
    # violation), customer 13 has junk acctbal (type violation)
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    dirty = cust.selectExpr(
        "CAST(c_custkey AS STRING) AS c_custkey",
        "CASE WHEN c_custkey = 7 THEN NULL ELSE c_name END AS c_name",
        "CAST(c_nationkey AS STRING) AS c_nationkey",
        "CASE WHEN c_custkey = 13 THEN 'junk' "
        "ELSE CAST(c_acctbal AS STRING) END AS c_acctbal",
    )
    pdf = dirty.toPandas()
    csv_path = root / "customers.csv"
    pdf.to_csv(csv_path, index=False)
    return root


@pytest.fixture(scope="module")
def result(spark, workspace, tmp_path_factory):
    work = tmp_path_factory.mktemp("pipeline_work")
    return run_pipeline(
        spark,
        workspace / "dischema.json",
        {"customers": str(workspace / "customers.csv")},
        work,
        refdata_base_path=str(workspace),
        audit_path=str(work / "audit"),
        submission_info={
            "dataset_id": "test",
            "file_name": "customers.csv",
            "file_extension": ".csv",
            "submission_method": "test",
            "submitting_org": "X26",
            "reporting_period_start": "2024-04-01",
            "reporting_period_end": "2025-03-31",
            "file_size": 1,
            "datetime_received": __import__("datetime").datetime(2026, 1, 1),
        },
    )


def test_dischema_requires_base_dir_for_rule_stores():
    from data_validation_engine_spark.errors import ConfigurationError

    with pytest.raises(ConfigurationError, match="base_dir"):
        parse_dischema(DISCHEMA)


def test_dischema_structure(workspace):
    ds = load_dischema(workspace / "dischema.json")
    assert [r.name for r in ds.rules] == ["add_and_drop_marker", "root"]
    root = ds.rules[-1]
    assert len(root.pre_sync) == 1 and len(root.post_sync) == 1
    assert len(ds.sync_filters) == 3  # marker + bal_floor + rule-store filter
    assert ds.refdata["nations"].type == "filename"
    # templated rule-store filter resolved upfront
    codes = {f.reporting.code for f in ds.sync_filters}
    assert "HIGH_C_ACCTBAL" in codes and "LOW_BAL" in codes


def test_dependency_order_enforced(workspace):
    bad = json.loads(json.dumps(DISCHEMA))
    bad["transformations"]["complex_rules"] = [
        {"rule_name": "needs_dep", "parameters": {}}
    ]
    store = dict(RULESET)
    store["needs_dep"] = {
        "type": "complex_rule",
        "dependencies": ["not_added_yet"],
        "rule_config": {"rules": [], "filters": [], "post_filter_rules": []},
    }
    from data_validation_engine_spark.errors import ConfigurationError

    d = workspace / "dep_check"
    d.mkdir(exist_ok=True)
    (d / "test_ruleset.json").write_text(json.dumps(store))
    (d / "dischema.json").write_text(json.dumps(bad))
    with pytest.raises(ConfigurationError, match="dependencies"):
        load_dischema(d / "dischema.json")


def test_pipeline_succeeds(result):
    assert result.success
    assert set(result.entities) == {"customers", "by_nation"}


def test_contract_violations_rejected(spark, result):
    custs = result.entities["customers"]
    keys = {r["c_custkey"] for r in custs.select("c_custkey").collect()}
    assert 7 not in keys  # missing mandatory name
    assert 13 not in keys  # junk balance
    msgs = result.messages
    codes = {
        r["error_code"]
        for r in msgs.where("failure_type = 'record'").select("error_code").distinct().collect()
    }
    assert "MISSING_MANDATORY_VALUE" in codes


def test_filters_applied_with_templated_code(result):
    # rule-store filter default error code: ('high_' + field).upper()
    codes = {
        r["error_code"]
        for r in result.messages.select("error_code").distinct().collect()
    }
    assert "HIGH_C_ACCTBAL" in codes  # templated default
    assert "LOW_BAL" in codes  # concrete filter with {{min_bal}} global
    survivors = result.entities["customers"]
    bal = survivors.agg(
        F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi")
    ).first()
    assert bal["lo"] > -500 and bal["hi"] < 1000


def test_complex_rule_ran_and_cleaned_up(result):
    assert "marker" not in result.entities["customers"].columns


def test_post_filter_aggregate_entity(result):
    by_nation = result.entities["by_nation"]
    assert by_nation.count() > 0
    assert set(by_nation.columns) == {"nation_name", "n_customers", "total_bal"}


def test_audit_rows_written(spark, result, tmp_path_factory):
    # audit lives in the same work dir the result was built with
    from data_validation_engine_spark.sinks.audit import AuditLog

    # reconstruct from the result's errors_dir sibling
    from pathlib import Path

    audit = AuditLog(spark, str(Path(result.errors_dir).parent / "audit"))
    status = audit.latest_status(result.submission_id).first()
    assert status["status"] == "completed"
    stats = audit.read("submission_statistics").first()
    assert stats["number_record_rejections"] == result.statistics["n_record_rejections"]
    assert result.statistics["n_record_rejections"] >= 2


def test_process_landing_end_to_end(spark, workspace, tmp_path_factory):
    """Landing discovery: pair + move + audit + run; dead-letter strays."""
    import shutil

    from data_validation_engine_spark.pipeline import process_landing
    from data_validation_engine_spark.sinks.audit import AuditLog

    root = tmp_path_factory.mktemp("landing")
    landing = root / "landing"
    landing.mkdir()
    shutil.copy(workspace / "customers.csv", landing / "customers.csv")
    (landing / "customers.csv.metadata.json").write_text(
        json.dumps({"dataset_id": "test", "file_name": "customers.csv"})
    )
    (landing / "stray.csv").write_text("a,b\n1,2\n")

    results = process_landing(
        spark,
        workspace / "dischema.json",
        str(landing),
        root / "out",
        refdata_base_path=str(workspace),
        audit_path=str(root / "audit"),
        write_report=False,
    )
    assert len(results) == 1 and results[0].success
    # landing emptied; pair moved under processed/<submission_id>/
    assert list(landing.iterdir()) == []
    processed = root / "out" / "processed" / results[0].submission_id
    assert (processed / "customers.csv").exists()
    assert (root / "out" / "dead_letter" / "stray.csv").exists()
    audit = AuditLog(spark, str(root / "audit"))
    t = audit.read("transfers").first()
    assert t["submission_id"] == results[0].submission_id
    assert t["report_name"] == "customers.csv"


@pytest.mark.slow
def test_process_landing_thread_pool_fan_out(spark, workspace, tmp_path_factory):
    """max_workers > 1 maps submissions over a thread pool (reference
    concurrency model, dve pipeline/pipeline.py:950-977): three
    submissions at max_workers=2 produce per-submission audit rows and
    outputs identical to the sequential run."""
    import shutil

    from data_validation_engine_spark.pipeline import process_landing
    from data_validation_engine_spark.sinks.audit import AuditLog

    def stage(root):
        landing = root / "landing"
        landing.mkdir()
        for i in range(3):
            shutil.copy(workspace / "customers.csv", landing / f"c{i}.csv")
            (landing / f"c{i}.csv.metadata.json").write_text(
                json.dumps({"dataset_id": "test", "file_name": f"c{i}.csv"})
            )
        return landing

    def run(root, workers):
        return process_landing(
            spark,
            workspace / "dischema.json",
            str(stage(root)),
            root / "out",
            refdata_base_path=str(workspace),
            audit_path=str(root / "audit"),
            write_report=False,
            max_workers=workers,
        )

    seq_root = tmp_path_factory.mktemp("landing_seq")
    par_root = tmp_path_factory.mktemp("landing_par")
    seq = run(seq_root, 1)
    par = run(par_root, 2)

    assert len(par) == 3 and all(r.success for r in par)
    # same outputs as sequential, submission by submission
    for s, p in zip(seq, par):
        assert p.statistics == s.statistics
        assert sorted(p.entities) == sorted(s.entities)
        for name in p.entities:
            assert p.entities[name].count() == s.entities[name].count()
    # per-submission audit rows: 3 transfers, 3 completed statuses
    audit = AuditLog(spark, str(par_root / "audit"))
    transfers = audit.read("transfers").collect()
    assert {t["submission_id"] for t in transfers} == {
        r.submission_id for r in par
    }
    for r in par:
        assert audit.latest_status(r.submission_id).first()["status"] == "completed"

    # result order follows discovery order regardless of completion order
    def landed_names(root, results):
        out = []
        for r in results:
            d = root / "out" / "processed" / r.submission_id
            out.append(
                sorted(
                    f.name for f in d.iterdir()
                    if not f.name.endswith(".metadata.json")
                )[0]
            )
        return out

    assert landed_names(par_root, par) == landed_names(seq_root, seq)


def test_empty_input_flows_through(spark, workspace, tmp_path_factory):
    """Empty-entity handling: a header-only CSV produces empty (not failed)
    entities and no messages (SURVEY hard-parts watch list)."""
    from data_validation_engine_spark.pipeline import run_pipeline

    root = tmp_path_factory.mktemp("empty_input")
    empty_csv = root / "customers.csv"
    empty_csv.write_text("c_custkey,c_name,c_nationkey,c_acctbal\n")
    res = run_pipeline(
        spark,
        workspace / "dischema.json",
        {"customers": str(empty_csv)},
        root / "work",
        refdata_base_path=str(workspace),
        write_report=False,
    )
    assert res.success
    assert res.entities["customers"].count() == 0
    assert res.entities["by_nation"].count() == 0
    assert res.messages.where("failure_type = 'record'").count() == 0


def test_cache_originals_exposes_pre_rule_copies(spark, workspace, tmp_path_factory):
    """cache_originals keeps an Original<entity> snapshot through rules
    (dve pipeline.py:581-586)."""
    bad = json.loads(json.dumps(DISCHEMA))
    bad["contract"]["cache_originals"] = True
    d = workspace / "originals"
    d.mkdir(exist_ok=True)
    (d / "test_ruleset.json").write_text(json.dumps(RULESET))
    (d / "dischema.json").write_text(json.dumps(bad))
    work = tmp_path_factory.mktemp("originals_work")
    res = run_pipeline(
        spark,
        d / "dischema.json",
        {"customers": str(workspace / "customers.csv")},
        work,
        refdata_base_path=str(workspace),
        write_report=False,
    )
    assert res.success
    assert "Originalcustomers" in res.entities
    # the original copy has no rule-added columns
    assert "nation_name" not in res.entities["Originalcustomers"].columns
    assert "nation_name" in res.entities["customers"].columns


def test_rejection_survives_entity_rename(spark, workspace, tmp_path_factory):
    """Contract-rejected records must still be dropped from entities that
    were RENAMED during business rules: rejection matches rows by their
    (origin, record index) lineage, not the entity's current name.
    Without the sync filters (which also drop records 7 and 13) only
    contract rejection removes them."""
    renamed = json.loads(json.dumps(DISCHEMA))
    renamed["transformations"]["filters"] = []
    renamed["transformations"]["post_filter_rules"].append(
        {
            "operation": "rename_entity",
            "entity": "customers",
            "new_entity_name": "clients",
        }
    )
    d = workspace / "renamed"
    d.mkdir(exist_ok=True)
    (d / "test_ruleset.json").write_text(json.dumps(RULESET))
    (d / "dischema.json").write_text(json.dumps(renamed))
    work = tmp_path_factory.mktemp("renamed_work")
    res = run_pipeline(
        spark,
        d / "dischema.json",
        {"customers": str(workspace / "customers.csv")},
        work,
        refdata_base_path=str(workspace),
        write_report=False,
    )
    assert res.success
    assert "clients" in res.entities and "customers" not in res.entities
    keys = {r["c_custkey"] for r in res.entities["clients"].select("c_custkey").collect()}
    assert 7 not in keys  # missing mandatory name — rejected post-rename
    assert 13 not in keys  # junk balance — rejected post-rename
    # hidden lineage columns never reach the written outputs
    assert not any(c.startswith("__") for c in res.entities["clients"].columns)


def test_missing_entity_fails_critically(spark, workspace, tmp_path_factory):
    work = tmp_path_factory.mktemp("pipeline_missing")
    res = run_pipeline(
        spark,
        workspace / "dischema.json",
        {},
        work,
        refdata_base_path=str(workspace),
    )
    assert not res.success
    codes = {r["error_code"] for r in res.messages.collect()}
    assert codes == {"MISSING_ENTITY"}


def _file_transformation_codes(errors_dir):
    return [
        json.loads(line)["error_code"]
        for p in sorted((Path(errors_dir) / "file_transformation").glob("part-*"))
        for line in p.read_text(encoding="utf-8").splitlines()
    ]


def test_undeclared_entity_reaches_file_transformation_feed(
    spark, workspace, tmp_path
):
    """An undeclared entity does not stop the submission; its
    UNEXPECTED_ENTITY message is written to the file_transformation feed."""
    csv = str(workspace / "customers.csv")
    res = run_pipeline(
        spark,
        workspace / "dischema.json",
        {"customers": csv, "stray": csv},
        tmp_path / "work",
        refdata_base_path=str(workspace),
        write_report=False,
    )
    assert res.success
    assert _file_transformation_codes(res.errors_dir) == ["UNEXPECTED_ENTITY"]
    assert "UNEXPECTED_ENTITY" in {r["error_code"] for r in res.messages.collect()}


def test_missing_entity_writes_three_feeds_without_spark_job(
    spark, workspace, tmp_path
):
    """A missing entity ends the submission before any file is read: the
    three stage feeds are written driver-side from the literal presence
    messages, so the exit starts no Spark job."""
    sc = spark.sparkContext
    group = "missing-entity-exit"
    sc.setJobGroup(group, "one submission missing its entity")
    try:
        res = run_pipeline(
            spark,
            workspace / "dischema.json",
            {"stray": str(workspace / "customers.csv")},
            tmp_path / "work",
            audit_path=str(tmp_path / "audit"),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert not res.success
    feeds = _feed_rows(Path(res.errors_dir))
    assert set(feeds) == {"file_transformation", "data_contract", "business_rules"}
    assert feeds["data_contract"] == {} and feeds["business_rules"] == {}
    codes = ["MISSING_ENTITY", "UNEXPECTED_ENTITY"]
    assert _file_transformation_codes(res.errors_dir) == codes
    assert [r["error_code"] for r in res.messages.collect()] == codes


def _xml_dischema(tmp_path, key):
    (tmp_path / "books.xml").write_text(
        "<books><book><id>1</id><title>A</title></book>"
        "<book><id>2</id><title>B</title></book></books>"
    )
    (tmp_path / "dischema.json").write_text(
        json.dumps(
            {
                "contract": {
                    "datasets": {
                        "books": {
                            "fields": {"id": "int", "title": "str"},
                            "reader_config": {
                                key: {
                                    "reader": "SparkXMLReader",
                                    "kwargs": {
                                        "record_tag": "book",
                                        "xsd_location": "books.xsd",
                                    },
                                }
                            },
                        }
                    }
                }
            }
        )
    )
    return tmp_path / "dischema.json", {"books": str(tmp_path / "books.xml")}


def test_xsd_failure_ends_submission_at_file_transformation(
    spark, tmp_path, monkeypatch
):
    """A file failing its XSD ends the submission before it is read: the
    failure is written to the file_transformation feed and audited as
    failed/critical."""
    from data_validation_engine_spark.sinks.audit import AuditLog
    from data_validation_engine_spark.sources import xml

    def invalid(path, xsd):
        raise xml.XSDValidationError(f"{path} does not match {xsd}")

    monkeypatch.setattr(xml, "validate_xsd", invalid)
    dischema, inputs = _xml_dischema(tmp_path, ".xml")
    res = run_pipeline(
        spark, dischema, inputs, tmp_path / "work", audit_path=str(tmp_path / "audit")
    )
    assert not res.success
    assert _file_transformation_codes(res.errors_dir) == ["XSD_VALIDATION_FAILED"]
    status = AuditLog(spark, str(tmp_path / "audit")).read("processing_status")
    assert ("failed", "critical") in {
        (r["status"], r["submission_result"]) for r in status.collect()
    }


@pytest.mark.parametrize("key", [".xml", "xml"])
def test_xsd_not_validated_with_either_reader_config_key(
    spark, tmp_path, monkeypatch, key
):
    """The XSD check finds the reader config under the key the reader
    finds it under, dotted or not; without an XSD backend the submission
    goes on and the file_transformation feed says it was not validated."""
    from data_validation_engine_spark.sources import xml

    def no_backend(path, xsd):
        raise ImportError("XSD validation requires lxml or xmlschema")

    monkeypatch.setattr(xml, "validate_xsd", no_backend)
    dischema, inputs = _xml_dischema(tmp_path, key)
    res = run_pipeline(spark, dischema, inputs, tmp_path / "work", write_report=False)
    assert res.success
    assert _file_transformation_codes(res.errors_dir) == ["XSD_NOT_VALIDATED"]
    ids = sorted(r["id"] for r in res.entities["books"].collect())
    assert ids == [1, 2]


def test_rejection_of_entity_without_lineage_column(
    spark, workspace, tmp_path_factory
):
    """A step that keeps the record index but drops the lineage column
    leaves the entity its own origin: records 7 and 13 are still
    rejected. Without the sync filters (which also drop both) only
    contract rejection removes them."""
    doc = json.loads(json.dumps(DISCHEMA))
    doc["transformations"]["filters"] = []
    doc["transformations"]["post_filter_rules"].append(
        {
            "operation": "select",
            "entity": "customers",
            "columns": ["__record_index__", "c_custkey", "c_name"],
        }
    )
    d = workspace / "no_lineage"
    d.mkdir(exist_ok=True)
    (d / "test_ruleset.json").write_text(json.dumps(RULESET))
    (d / "dischema.json").write_text(json.dumps(doc))
    res = run_pipeline(
        spark,
        d / "dischema.json",
        {"customers": str(workspace / "customers.csv")},
        tmp_path_factory.mktemp("no_lineage_work"),
        refdata_base_path=str(workspace),
        write_report=False,
    )
    assert res.success
    assert res.entities["customers"].columns == ["c_custkey", "c_name"]
    keys = {r[0] for r in res.entities["customers"].select("c_custkey").collect()}
    assert 7 not in keys and 13 not in keys and 8 in keys


def test_rule_message_rejection_survives_entity_rename(
    spark, workspace, tmp_path_factory
):
    """Record failures emitted by business RULES after a rename must still
    drop records at final write: messages carry the row's origin lineage
    (__origin_entity__), not the entity's name at notify time (ADVICE r3)."""
    doc = json.loads(json.dumps(DISCHEMA))
    doc["transformations"]["post_filter_rules"].extend(
        [
            {
                "operation": "rename_entity",
                "entity": "customers",
                "new_entity_name": "clients",
            },
            {
                "operation": "notify",
                "entity": "clients",
                "expression": "c_custkey = 8",
                "reporting": {
                    "code": "BAD_ONE",
                    "message": "custkey eight flagged post-rename",
                    "emit": "record_failure",
                },
            },
        ]
    )
    d = workspace / "rule_renamed"
    d.mkdir(exist_ok=True)
    (d / "test_ruleset.json").write_text(json.dumps(RULESET))
    (d / "dischema.json").write_text(json.dumps(doc))
    work = tmp_path_factory.mktemp("rule_renamed_work")
    res = run_pipeline(
        spark,
        d / "dischema.json",
        {"customers": str(workspace / "customers.csv")},
        work,
        refdata_base_path=str(workspace),
        write_report=False,
    )
    assert res.success
    msgs = res.messages.where(F.col("error_code") == "BAD_ONE").collect()
    assert len(msgs) == 1
    # the message carries the row's ORIGIN entity, so stage-5 rejection
    # (keyed on origin + index) still matches after the rename
    assert msgs[0]["original_entity"] == "customers"
    keys = {
        r["c_custkey"]
        for r in res.entities["clients"].select("c_custkey").collect()
    }
    assert 8 not in keys


def test_cache_originals_snapshots_exempt_from_rejection(
    spark, workspace, tmp_path_factory
):
    """Original* snapshots are the BEFORE-rules picture: the reference
    explicitly skips them at record rejection (dve pipeline.py:614-625), so
    contract-rejected rows must still be present in the snapshot output
    while being dropped from the live entity (ADVICE r3). Without the
    sync filters (which also drop records 7 and 13) only contract
    rejection removes them."""
    doc = json.loads(json.dumps(DISCHEMA))
    doc["contract"]["cache_originals"] = True
    doc["transformations"]["filters"] = []
    d = workspace / "originals"
    d.mkdir(exist_ok=True)
    (d / "test_ruleset.json").write_text(json.dumps(RULESET))
    (d / "dischema.json").write_text(json.dumps(doc))
    work = tmp_path_factory.mktemp("originals_work")
    res = run_pipeline(
        spark,
        d / "dischema.json",
        {"customers": str(workspace / "customers.csv")},
        work,
        refdata_base_path=str(workspace),
        write_report=False,
    )
    assert res.success
    assert "Originalcustomers" in res.entities
    snap_keys = {
        r["c_custkey"]
        for r in res.entities["Originalcustomers"].select("c_custkey").collect()
    }
    live_keys = {
        r["c_custkey"]
        for r in res.entities["customers"].select("c_custkey").collect()
    }
    # contract-rejected rows (7: missing name, 13: junk balance) stay in
    # the snapshot but are dropped from the live entity
    assert {7, 13} <= snap_keys
    assert not ({7, 13} & live_keys)
    # hidden lineage columns never reach the written snapshot
    assert not any(
        c.startswith("__") for c in res.entities["Originalcustomers"].columns
    )


def test_error_aggregates_artifact(result, spark):
    """Stage 6 persists the per-(entity, code) aggregate frame as a parquet
    audit artifact stamped with the submission id (the reference publishes
    the same frame: dve pipeline/pipeline.py:730-746)."""
    assert result.error_aggregates_path is not None
    agg = spark.read.parquet(result.error_aggregates_path)
    assert set(agg.columns) == {
        "entity",
        "error_code",
        "failure_type",
        "n_errors",
        "n_records",
        "submission_id",
    }
    rows = {r["error_code"]: r for r in agg.collect()}
    # the fixture's known dirt is aggregated: contract violations + filters
    assert "MISSING_MANDATORY_VALUE" in rows
    assert rows["MISSING_MANDATORY_VALUE"]["n_errors"] >= 1
    assert all(
        r["submission_id"] == result.submission_id for r in rows.values()
    )
    # aggregate counts reconcile with the raw message feed
    n_msgs = result.messages.count()
    assert sum(r["n_errors"] for r in rows.values()) == n_msgs


def test_runtime_templating_binds_at_evaluation(
    spark, workspace, tmp_path_factory
):
    """templating_strategy: runtime defers Jinja rendering to evaluation
    time, so a variable with no config-time value binds per submission via
    run_pipeline(runtime_variables=...) (reference strategy:
    dve backends/base/rules.py:572-594)."""
    from data_validation_engine_spark.errors import ConfigurationError

    doc = json.loads(json.dumps(DISCHEMA))
    doc["transformations"]["templating_strategy"] = "runtime"
    # a filter whose threshold is ONLY known at run time
    doc["transformations"]["filters"].append(
        {
            "entity": "customers",
            "name": "runtime_floor",
            "expression": "c_custkey <> {{banned_key}}",
            "error_code": "BANNED_{{banned_key}}",
            "failure_message": "runtime-banned customer",
            "reporting_field": "c_custkey",
        }
    )
    d = workspace / "runtime_tpl"
    d.mkdir(exist_ok=True)
    (d / "test_ruleset.json").write_text(json.dumps(RULESET))
    (d / "dischema.json").write_text(json.dumps(doc))

    ds = load_dischema(d / "dischema.json")
    # parse kept the rules deferred: nothing typed yet, raw dicts present
    assert ds.templating_strategy == "runtime"
    assert all(not r.pre_sync and not r.sync_filters for r in ds.rules)
    assert any(r.raw_filters for r in ds.rules)

    work = tmp_path_factory.mktemp("runtime_tpl_work")
    res = run_pipeline(
        spark,
        d / "dischema.json",
        {"customers": str(workspace / "customers.csv")},
        work,
        refdata_base_path=str(workspace),
        write_report=False,
        runtime_variables={"banned_key": 8},
    )
    assert res.success
    codes = {r["error_code"] for r in res.messages.collect()}
    assert "BANNED_8" in codes  # code itself templated at evaluation time
    keys = {
        r["c_custkey"]
        for r in res.entities["customers"].select("c_custkey").collect()
    }
    assert 8 not in keys

    # upfront dischemas must refuse runtime variables (their templates are
    # already rendered — silently ignoring them would be a trap)
    upfront = load_dischema(workspace / "dischema.json")
    with pytest.raises(ConfigurationError, match="runtime"):
        upfront.resolve({"banned_key": 8})


def test_process_landing_binds_submission_metadata_at_runtime(
    spark, workspace, tmp_path_factory
):
    """Under the runtime templating strategy, landing orchestration binds
    each submission's metadata as the `submission` template variable, so
    rules can reference e.g. {{submission.dataset_id}} per file."""
    import shutil

    from data_validation_engine_spark.pipeline import process_landing

    doc = json.loads(json.dumps(DISCHEMA))
    doc["transformations"]["templating_strategy"] = "runtime"
    doc["transformations"]["rules"].append(
        {
            "operation": "add",
            "entity": "customers",
            "column_name": "dataset_tag",
            "expression": "'{{submission.dataset_id}}'",
        }
    )
    d = workspace / "landing_runtime"
    d.mkdir(exist_ok=True)
    (d / "test_ruleset.json").write_text(json.dumps(RULESET))
    (d / "dischema.json").write_text(json.dumps(doc))

    root = tmp_path_factory.mktemp("landing_runtime_root")
    landing = root / "landing"
    landing.mkdir()
    shutil.copy(workspace / "customers.csv", landing / "customers.csv")
    (landing / "customers.csv.metadata.json").write_text(
        json.dumps({"dataset_id": "cohort_42", "file_name": "customers.csv"})
    )
    results = process_landing(
        spark,
        d / "dischema.json",
        str(landing),
        root / "out",
        refdata_base_path=str(workspace),
        write_report=False,
    )
    assert len(results) == 1 and results[0].success
    tags = {
        r["dataset_tag"]
        for r in results[0].entities["customers"].select("dataset_tag").collect()
    }
    assert tags == {"cohort_42"}


# -- the message feed: one bounded collect vs the distributed sinks --------


def _tagged_feed(spark, rows):
    from pyspark.sql import types as T

    from data_validation_engine_spark.messages import MESSAGE_SCHEMA
    from data_validation_engine_spark.sinks.errors import FEED

    schema = T.StructType(
        MESSAGE_SCHEMA.fields + [T.StructField(FEED, T.StringType(), True)]
    )
    fields = schema.names
    full = [
        {**{n: None for n in fields}, "is_informational": False, **row}
        for row in rows
    ]
    return spark.createDataFrame([tuple(r[n] for n in fields) for r in full], schema)


PARITY_ROWS = [
    # one record failing two codes
    {"entity": "orders", "original_entity": "orders", "__record_index__": 1,
     "error_code": "MISSING", "error_message": "o_orderkey missing",
     "error_location": "o_orderkey", "failure_type": "record",
     "category": "missing", "__feed__": "data_contract"},
    {"entity": "orders", "original_entity": "orders", "__record_index__": 1,
     "error_code": "INVALID_DATE", "error_message": "bad date",
     "error_location": "o_orderdate", "failure_type": "record",
     "category": "type", "value": "31/02/1999", "__feed__": "data_contract"},
    # informational: counted as a warning, never a rejection
    {"entity": "orders", "original_entity": "orders", "__record_index__": 2,
     "error_code": "DUPLICATE_VALUE", "error_message": "occurs 2 times",
     "failure_type": "record", "is_informational": True,
     "category": "uniqueness", "__feed__": "data_contract"},
    # null original_entity: its rejection key is the index alone
    {"entity": "orders", "original_entity": None, "__record_index__": 3,
     "error_code": "BAD_STATUS", "failure_type": "record",
     "__feed__": "business_rules"},
    # null index (an aggregate entity's row), non-ASCII text and newlines
    {"entity": "by_nation", "original_entity": "by_nation",
     "error_code": "LOW_TOTAL",
     "error_message": "total für Zürich\nbelow ¥500 — ✓",
     "failure_type": "record", "reporting_field": "nation_name",
     "record_json": '{"nation_name":"CÔTE D\'IVOIRE\\nlaguna","n":1}',
     "__feed__": "business_rules"},
    # null original_entity AND null index: the empty rejection key
    {"entity": "by_nation", "error_code": "LOW_TOTAL",
     "failure_type": "record", "__feed__": "business_rules"},
    {"entity": "orders", "original_entity": "orders", "__record_index__": 4,
     "error_code": "COUNT_MISMATCH", "failure_type": "integrity",
     "__feed__": "business_rules"},
    # written to no JSONL feed, but reported and counted
    {"entity": "submission", "original_entity": "submission",
     "error_code": "PROCESSING_ERROR", "failure_type": "submission",
     "category": "submission"},
]


def _feed_rows(errors_dir):
    from collections import Counter

    return {
        d.name: Counter(
            json.dumps(json.loads(line), sort_keys=True)
            for p in d.glob("part-*")
            for line in p.read_text(encoding="utf-8").splitlines()
        )
        for d in errors_dir.iterdir()
    }


def _artifact_rows(spark, agg_path):
    agg = spark.read.parquet(agg_path)
    return agg.schema.simpleString(), sorted(
        agg.collect(), key=lambda r: [(v is not None, v) for v in r]
    )


@pytest.mark.parametrize("rows", [PARITY_ROWS, []], ids=["feed", "empty"])
def test_collected_feed_sinks_match_distributed(spark, tmp_path, rows):
    """Stage 4→6 read one tagged feed: collected to Arrow when it fits the
    cap, else distributed. Forcing the distributed path (cap 0) must give
    the same JSONL feeds, report files, error_aggregates rows and schema,
    and statistics."""
    from pyspark.sql import DataFrame

    from data_validation_engine_spark import pipeline

    feed = _tagged_feed(spark, rows)
    got = {}
    for label, cap in (("collected", 100_000), ("distributed", 0)):
        work = tmp_path / label
        messages = pipeline.write_message_feeds(feed, work / "errors", cap=cap)
        assert isinstance(messages, DataFrame) == (label == "distributed")
        report, agg_path, stats = pipeline.write_feed_artifacts(
            messages, work, "sub-1", write_report=True
        )
        got[label] = (
            _feed_rows(work / "errors"),
            {p.name: p.read_bytes() for p in sorted(Path(report).iterdir())},
            _artifact_rows(spark, agg_path),
            stats,
        )
    assert got["collected"] == got["distributed"]
    feeds, _, (schema, agg), stats = got["collected"]
    assert schema == (
        "struct<entity:string,error_code:string,failure_type:string,"
        "n_errors:bigint,n_records:bigint,submission_id:string>"
    )
    if not rows:
        assert feeds == {
            "file_transformation": {}, "data_contract": {}, "business_rules": {}
        }
        assert stats == {"n_messages": 0, "n_record_rejections": 0, "n_warnings": 0}
        assert agg == []
        return
    assert sum(feeds["data_contract"].values()) == 3
    assert sum(feeds["business_rules"].values()) == 4
    assert "total für Zürich\nbelow ¥500 — ✓" in {
        json.loads(line).get("error_message") for line in feeds["business_rules"]
    }
    # keys orders/1, 3, by_nation and "" reject; informational and
    # integrity rows do not
    assert stats == {"n_messages": 8, "n_record_rejections": 4, "n_warnings": 1}
    assert sum(r["n_errors"] for r in agg) == 8
    assert {r["submission_id"] for r in agg} == {"sub-1"}


def test_collected_jsonl_matches_spark_writer_layout(spark, tmp_path):
    """The driver-side JSONL writer lays a collected feed out as Spark's
    JSON writer does: one part file plus _SUCCESS, UTF-8 text, and lines
    that parse to the same rows."""
    from data_validation_engine_spark.sinks.errors import (
        select_feed,
        write_messages_jsonl,
    )

    feed = select_feed(_tagged_feed(spark, PARITY_ROWS))
    write_messages_jsonl(feed, str(tmp_path / "spark"))
    write_messages_jsonl(feed.toArrow(), str(tmp_path / "driver"))
    names = sorted(p.name for p in (tmp_path / "driver").iterdir())
    assert len(names) == 2 and names[0] == "_SUCCESS"
    assert names[1].startswith("part-00000-") and names[1].endswith("-c000.json")
    text = (tmp_path / "driver" / names[1]).read_text(encoding="utf-8")
    assert "für Zürich\\nbelow" in text and "\\u" not in text
    assert spark.read.json(str(tmp_path / "spark")).schema == spark.read.json(
        str(tmp_path / "driver")
    ).schema
    assert _feed_rows(tmp_path)["driver"] == _feed_rows(tmp_path)["spark"]


def _run_collected_and_distributed(spark, monkeypatch, dischema, inputs, root, refdata):
    """``run_pipeline`` twice on the same submission: as shipped, then with
    the feed collect's cap forced to 0 (the over-cap, distributed path)."""
    from functools import partial

    from data_validation_engine_spark import pipeline

    runs = {}
    shipped = pipeline.write_message_feeds
    for label in ("collected", "distributed"):
        if label == "distributed":
            monkeypatch.setattr(
                pipeline, "write_message_feeds", partial(shipped, cap=0)
            )
        work = root / label
        runs[label] = work, pipeline.run_pipeline(
            spark,
            dischema,
            inputs,
            work,
            refdata_base_path=refdata,
            audit_path=str(work / "audit_log"),
            submission_id="sub-1",
        )
    return runs


def test_run_pipeline_collected_path_matches_distributed(
    spark, workspace, tmp_path, monkeypatch
):
    """End to end, the collected path writes what the distributed path
    writes: feeds, report, error_aggregates, statistics, the
    submission_statistics audit row and the final entities."""
    from data_validation_engine_spark.sinks.audit import AuditLog

    runs = _run_collected_and_distributed(
        spark,
        monkeypatch,
        workspace / "dischema.json",
        {"customers": str(workspace / "customers.csv")},
        tmp_path,
        str(workspace),
    )
    got = {}
    for label, (work, res) in runs.items():
        assert res.success
        audit = AuditLog(spark, str(work / "audit_log")).read("submission_statistics")
        got[label] = (
            _feed_rows(work / "errors"),
            {p.name: p.read_bytes() for p in sorted(Path(res.report_path).iterdir())},
            _artifact_rows(spark, res.error_aggregates_path),
            res.statistics,
            [r.asDict() for r in audit.drop("time_updated", "date_updated").collect()],
            sorted(r[0] for r in res.entities["customers"].select("c_custkey").collect()),
        )
    assert got["collected"] == got["distributed"]
    feeds, _, _, stats, audit_rows, keys = got["collected"]
    assert sum(feeds["data_contract"].values()) >= 2
    assert audit_rows[0]["number_record_rejections"] == stats["n_record_rejections"] > 0
    assert 7 not in keys and 13 not in keys


def test_rules_failure_writes_both_feeds_on_either_path(
    spark, workspace, tmp_path, monkeypatch
):
    """A rule that cannot be planned fails the submission with a
    PROCESSING_ERROR message, which no JSONL feed receives; the three feeds
    are still written, the same on the collected and the distributed
    path."""
    broken = json.loads(json.dumps(DISCHEMA))
    broken["transformations"]["filters"].append(
        {
            "entity": "customers",
            "name": "unplannable",
            "expression": "no_such_column > 0",
            "error_code": "NEVER",
        }
    )
    d = workspace / "broken_rules"
    d.mkdir(exist_ok=True)
    (d / "test_ruleset.json").write_text(json.dumps(RULESET))
    (d / "dischema.json").write_text(json.dumps(broken))
    runs = _run_collected_and_distributed(
        spark,
        monkeypatch,
        d / "dischema.json",
        {"customers": str(workspace / "customers.csv")},
        tmp_path,
        str(workspace),
    )
    feeds = {}
    for label, (work, res) in runs.items():
        assert not res.success
        codes = {r["error_code"] for r in res.messages.collect()}
        assert "PROCESSING_ERROR" in codes
        feeds[label] = _feed_rows(work / "errors")
        assert set(feeds[label]) == {
            "file_transformation", "data_contract", "business_rules"
        }
    assert feeds["collected"] == feeds["distributed"]
    lines = [line for rows in feeds["collected"].values() for line in rows]
    assert any("MISSING_MANDATORY_VALUE" in line for line in lines)
    assert not any("PROCESSING_ERROR" in line for line in lines)



def _over_cap_feed(spark, n):
    """A tagged feed of ``n + 1`` messages, all distinct in (Type, Table,
    Record_Index): record failures, every tenth informational, five
    aggregate-entity rows with a null index, and record 7 failing a
    second, integrity-level code (untagged)."""
    from data_validation_engine_spark.messages import MESSAGE_SCHEMA
    from data_validation_engine_spark.sinks.errors import FEED

    agg = f"id >= {n - 5}"
    rows = spark.range(n).selectExpr(
        f"CASE WHEN {agg} THEN concat('agg_', id) ELSE 'orders' END AS entity",
        f"CASE WHEN {agg} THEN concat('agg_', id) ELSE 'orders' END"
        " AS original_entity",
        f"CASE WHEN {agg} THEN NULL ELSE id END AS __record_index__",
        "element_at(array('MISSING', 'INVALID', 'RANGE'), CAST(id % 3 AS INT) + 1)"
        " AS error_code",
        "concat('row ', id) AS error_message",
        "concat('f', id % 4) AS error_location",
        "'record' AS failure_type",
        "id % 10 = 3 AS is_informational",
        "element_at(array('missing', 'type', 'constraint'), CAST(id % 3 AS INT) + 1)"
        " AS category",
        "CAST(NULL AS STRING) AS reporting_field",
        "CAST(id AS STRING) AS value",
        "CAST(NULL AS STRING) AS record_json",
        "CASE WHEN id % 2 = 0 THEN 'data_contract' ELSE 'business_rules' END"
        f" AS {FEED}",
    )
    second = spark.range(1).selectExpr(
        "'orders' AS entity", "'orders' AS original_entity",
        "CAST(7 AS BIGINT) AS __record_index__", "'COUNT_MISMATCH' AS error_code",
        "'count differs' AS error_message", "'f3' AS error_location",
        "'integrity' AS failure_type", "false AS is_informational",
        "'integrity' AS category", "CAST(NULL AS STRING) AS reporting_field",
        "CAST(NULL AS STRING) AS value", "CAST(NULL AS STRING) AS record_json",
        f"CAST(NULL AS STRING) AS {FEED}",
    )
    feed = rows.unionByName(second)
    assert feed.columns == [*MESSAGE_SCHEMA.names, FEED]
    return feed.localCheckpoint()


@pytest.mark.slow
def test_over_cap_feed_sinks_match_collected(spark, tmp_path):
    """Over the real cap the stage-6 sinks read the feed DataFrame (a
    grouping-sets summary and a sorted LIMIT of detail rows); raising the
    cap above the feed collects it instead. Both give the same JSONL
    feeds, report files, error_aggregates rows and schema, and
    statistics, and the detail sheet keeps exactly the cap's rows."""
    import pyarrow as pa
    from pyspark.sql import DataFrame

    from data_validation_engine_spark import pipeline
    from data_validation_engine_spark.sinks.errors import MAX_DETAIL_ROWS

    n = MAX_DETAIL_ROWS + 10
    feed = _over_cap_feed(spark, n)
    got = {}
    for label, cap, form in (
        ("distributed", MAX_DETAIL_ROWS, DataFrame),
        ("collected", 2 * n, pa.Table),
    ):
        work = tmp_path / label
        messages = pipeline.write_message_feeds(feed, work / "errors", cap=cap)
        assert isinstance(messages, form)
        report, agg_path, stats = pipeline.write_feed_artifacts(
            messages, work, "sub-1", write_report=True
        )
        got[label] = (
            _feed_rows(work / "errors"),
            {p.name: p.read_bytes() for p in sorted(Path(report).iterdir())},
            _artifact_rows(spark, agg_path),
            stats,
        )
    assert got["collected"] == got["distributed"]
    feeds, report, (_, agg), stats = got["collected"]
    assert sum(feeds["data_contract"].values()) == (n + 1) // 2
    assert sum(feeds["business_rules"].values()) == n // 2
    detail = report["errors.csv"].decode("utf-8").splitlines()
    assert len(detail) == 1 + MAX_DETAIL_ROWS
    warnings = sum(1 for i in range(n) if i % 10 == 3)
    # one key per non-informational record row: record 7's integrity code
    # adds none, a null index leaves the entity as the key
    assert stats == {
        "n_messages": n + 1,
        "n_record_rejections": n - warnings,
        "n_warnings": warnings,
    }
    assert sum(r["n_errors"] for r in agg) == n + 1
    assert {r["n_records"] for r in agg if r["entity"].startswith("agg_")} == {0}

ORDERS_DISCHEMA = {
    "contract": {
        "types": {"Flag": {"callable": "constr", "constraints": {"max_length": 1}}},
        "datasets": {
            "orders": {
                "fields": {
                    "o_orderkey": "int",
                    "o_orderstatus": "Flag",
                    "o_totalprice": "float",
                    "o_orderdate": "date",
                },
                "mandatory_fields": ["o_orderkey"],
                "reader_config": {".csv": {"reader": "SparkCSVReader"}},
            }
        },
    },
    "transformations": {
        "rules": [
            {
                "operation": "add",
                "entity": "orders",
                "column_name": "order_year",
                "expression": "year(o_orderdate)",
            }
        ],
        "filters": [
            {
                "entity": "orders",
                "expression": "o_orderstatus IN ('O', 'F', 'P')",
                "error_code": "BAD_STATUS",
                "failure_message": "unknown order status",
                "reporting_field": "o_orderstatus",
            }
        ],
    },
}


def test_submission_job_budget(spark, tmp_path):
    """One small orders submission runs 8 Spark jobs: the header peek,
    the transform write, two record-index counts, the contract write, the
    one bounded collect of the message feed, and the entity write with
    the broadcast of its rejection keys. Reading the feed once per sink
    instead (a job per JSONL feed, the report, the error_aggregates write
    and the statistics, and rejection keys shuffled out of the feed) made
    the same submission 19 jobs."""
    (tmp_path / "dischema.json").write_text(json.dumps(ORDERS_DISCHEMA))
    (tmp_path / "orders.csv").write_text(
        "o_orderkey,o_orderstatus,o_totalprice,o_orderdate\n"
        "1,O,10.5,1995-01-02\n"
        "2,X,11.0,1995-01-03\n"
        "3,F,1.5.0,1995-01-04\n"
        ",P,12.0,02/03/1998\n"
    )
    sc = spark.sparkContext
    group = "submission-job-budget"
    sc.setJobGroup(group, "one orders submission")
    try:
        res = run_pipeline(
            spark,
            tmp_path / "dischema.json",
            {"orders": str(tmp_path / "orders.csv")},
            tmp_path / "work",
            audit_path=str(tmp_path / "audit"),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert res.success and res.statistics["n_record_rejections"] == 3
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 8, f"{len(jobs)} Spark jobs for one small submission"
