"""Shared test fixtures: one session-scoped local SparkSession and the
DuckDB oracle comparison."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest
from pyspark.sql import SparkSession

# the repo root, so tests import the driver (``__spark_entry__``) and
# ``tools.*``
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "4")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    session = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("dve-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config(
            "spark.sql.warehouse.dir",
            __import__("tempfile").mkdtemp(prefix="dve_warehouse_"),
        )
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def duck_oracle(sf_dir):
    """``duck_oracle(name, frame, sql)`` asserts that a Spark frame equals
    DuckDB ``sql`` over the testdata tables at ``sf_dir``: row count,
    column names and value hash, through the comparison
    ``tools/oracle_check.py`` runs for every roster row. The ``OK`` line it
    prints (shown with ``-s``) carries the row count and hash."""
    from tools.oracle_check import check_row, duck_views

    con = duck_views(sf_dir)

    def check(name: str, frame, sql: str) -> None:
        failures, report = check_row(name, lambda: frame, sql, con)
        print(report)
        assert not failures, report

    yield check
    con.close()
