"""Run the REFERENCE's own planets E2E fixture through this engine.

The dischema, rule store, refdata parquet, and submitted CSV are read
directly (read-only) from the reference's test data; the golden outcomes
asserted here are the reference's published scenario expectations
(tests/features/planets.feature): 1 contract rejection (Pluto's missing
mandatory mass), rules restrict planets to exactly 1 qualifying record
(Neptune), HIGH_DENSITY and WEAK_ESCAPE error codes present (HIGH_DENSITY
coming from the rule store's templated default, proving the
business-filter resolution + Jinja default path), Jupiter filtered out.
"""

from __future__ import annotations

import pytest

from data_validation_engine_spark.dischema import load_dischema
from data_validation_engine_spark.pipeline import run_pipeline

PLANETS_DIR = "/root/reference/tests/testdata/planets"


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    work = tmp_path_factory.mktemp("planets_e2e")
    return run_pipeline(
        spark,
        f"{PLANETS_DIR}/planets.dischema.json",
        {"planets": f"{PLANETS_DIR}/planets_demo.csv"},
        work,
        refdata_base_path=PLANETS_DIR,
        write_report=False,
    )


def test_dischema_loads_with_rule_store():
    ds = load_dischema(f"{PLANETS_DIR}/planets.dischema.json")
    assert [r.name for r in ds.rules] == ["add_1_col_and_remove_it", "root"]
    assert ds.refdata["satellites"].type == "filename"
    codes = {f.reporting.code for f in ds.sync_filters}
    # HIGH_DENSITY comes from the rule store's Jinja default
    # ('high_' + field).upper() — extra keys on the reference's business
    # filter entry are ignored, like the reference's pydantic models
    assert {"WEAK_ESCAPE", "LONG_ORBIT", "HIGH_DENSITY", "STRONG_GRAVITY"} <= codes


@pytest.mark.slow
def test_pipeline_succeeds(result):
    assert result.success
    assert set(result.entities) == {"planets", "largest_satellites"}


def test_contract_rejects_exactly_pluto(result):
    contract_rejects = (
        result.messages.where(
            "failure_type = 'record' AND NOT is_informational "
            "AND error_code = 'MISSING_MANDATORY_VALUE'"
        )
        .select("reporting_field")
        .distinct()
        .collect()
    )
    assert [r["reporting_field"] for r in contract_rejects] == ["Pluto"]


def test_rules_restrict_to_neptune(result):
    planets = result.entities["planets"].select("planet").collect()
    assert [r["planet"] for r in planets] == ["Neptune"]


def test_golden_error_codes(result):
    codes = {
        r["error_code"]
        for r in result.messages.select("error_code").distinct().collect()
    }
    assert "HIGH_DENSITY" in codes
    assert "WEAK_ESCAPE" in codes


def test_jupiter_filtered_with_feedback(result):
    weak = {
        r["value"]
        for r in result.messages.where("error_code = 'WEAK_ESCAPE'")
        .select(result.messages["reporting_field"].alias("value"))
        .collect()
    }
    assert "59.5" in weak  # Jupiter's escape velocity


def test_largest_satellites_entity(result):
    sats = result.entities["largest_satellites"]
    # one row per RECEIVED planet: failed records flow through rules
    # (reference rejection timing) and group_by loses the record index
    assert sats.count() == 9
    assert "OrbitsPlanetWithNiceTemp" in sats.columns


def test_statistics(result):
    # the reference scenario's record_count=9 (records received)
    assert result.statistics["record_count"] == 9
    assert result.statistics["n_record_rejections"] >= 8


# ---------------------------------------------------------------------------
# movies: nested JSON (arrays of structs, named schemas), catalog-table
# refdata, contract error-detail overrides (movies.feature golden errors)
# ---------------------------------------------------------------------------

MOVIES_DIR = "/root/reference/tests/testdata/movies"


@pytest.fixture(scope="module")
def movies_result(spark, tmp_path_factory):
    spark.sql("CREATE DATABASE IF NOT EXISTS movies_refdata")
    spark.read.parquet(f"{MOVIES_DIR}/refdata/movies_sequels.parquet").write.mode(
        "overwrite"
    ).saveAsTable("movies_refdata.sequels")
    work = tmp_path_factory.mktemp("movies_e2e")
    return run_pipeline(
        spark,
        f"{MOVIES_DIR}/movies.dischema.json",
        {"movies": f"{MOVIES_DIR}/movies.json"},
        work,
        write_report=False,
    )


def test_movies_succeeds(movies_result):
    assert movies_result.success


def test_movies_golden_error_details(movies_result):
    """The movies.feature golden contract errors, driven by the reference's
    own error-details fixture through the expression-compiled overrides."""
    msgs = {
        (r["error_code"]): r
        for r in movies_result.messages.where(
            "error_code IN ('BLANKYEAR','DODGYYEAR','DODGYDATE','BLANKTITLE')"
        ).collect()
    }
    assert msgs["BLANKYEAR"]["error_message"] == "year not provided"
    assert msgs["BLANKYEAR"]["is_informational"]
    assert (
        msgs["DODGYYEAR"]["error_message"]
        == "year value (NOT_A_NUMBER) is invalid"
    )
    assert msgs["DODGYYEAR"]["entity"] == "movies_rename_test"
    assert msgs["DODGYYEAR"]["original_entity"] == "movies"
    assert (
        msgs["DODGYDATE"]["error_message"]
        == "date_joined value is not valid: daft_date"
    )
    assert msgs["BLANKTITLE"]["error_message"] == "title should not be blank"
    assert msgs["BLANKTITLE"]["failure_type"] == "submission"


def test_movies_business_rules(movies_result):
    """movies.feature golden rules outcomes: LIMITED_RATINGS ([6.5]) and
    RUBBISH_SEQUEL messages; movies restricted to 3 qualifying records."""
    msgs = {
        r["error_code"]: r
        for r in movies_result.messages.where(
            "error_code IN ('LIMITED_RATINGS', 'RUBBISH_SEQUEL')"
        ).collect()
    }
    assert (
        msgs["LIMITED_RATINGS"]["error_message"]
        == "Movie has too few ratings ([6.5])"
    )
    assert (
        msgs["RUBBISH_SEQUEL"]["error_message"]
        == "The movie The Greatest Movie Ever has a rubbish sequel"
    )
    assert msgs["RUBBISH_SEQUEL"]["is_informational"]
    assert "with_sequels" not in movies_result.entities  # cleaned up


# ---------------------------------------------------------------------------
# books: nested XML (array-of-struct shaping), header entity + join_header,
# non-ISO dates inside nested structs, XSD hook (gated in this runtime)
# ---------------------------------------------------------------------------

BOOKS_DIR = "/root/reference/tests/testdata/books"


@pytest.fixture(scope="module")
def books_result(spark, tmp_path_factory):
    work = tmp_path_factory.mktemp("books_e2e")
    xml = f"{BOOKS_DIR}/nested_books.XML"
    return run_pipeline(
        spark,
        f"{BOOKS_DIR}/nested_books.dischema.json",
        {"header": xml, "nested_books": xml},
        work,
        write_report=False,
    )


def test_books_succeeds(books_result):
    assert books_result.success
    assert "nested_books" in books_result.entities


def test_books_restricted_to_three(books_result):
    # books.feature: "The rules restrict nested_books to 3 qualifying
    # records" (4 authors received, 1 record rejection)
    nb = books_result.entities["nested_books"]
    assert nb.count() == 3


def test_books_total_value_and_header(books_result):
    nb = books_result.entities["nested_books"]
    totals = {
        str(r["total_value_of_books"])
        for r in nb.select("total_value_of_books").collect()
    }
    assert "17.85" in totals  # books.feature golden aggregate
    # the 1-row header entity rides along as a struct column on every row
    stores = {r["s"] for r in nb.selectExpr("bookstore.name AS s").collect()}
    assert stores == {"A shop for books"}


def test_books_xsd_gating_surfaced(books_result):
    # this runtime has no XSD backend: the pipeline must SAY so in the
    # error feed (informational), never skip silently
    codes = {
        r["error_code"]
        for r in books_result.messages.where("is_informational").collect()
    }
    assert "XSD_NOT_VALIDATED" in codes


# ---------------------------------------------------------------------------
# animals: flat XML with wrapped-root explode + templated filter messages
# (animals.feature golden: ANE01 x2, rules restrict animals to 3)
# ---------------------------------------------------------------------------

ANIMALS_DIR = "/root/reference/tests/testdata/animals"


@pytest.fixture(scope="module")
def animals_result(spark, tmp_path_factory):
    work = tmp_path_factory.mktemp("animals_e2e")
    return run_pipeline(
        spark,
        f"{ANIMALS_DIR}/animals.dischema.json",
        {"animals": f"{ANIMALS_DIR}/animals.xml"},
        work,
        write_report=False,
    )


def test_animals_golden_outcomes(animals_result):
    assert animals_result.success
    assert animals_result.statistics["record_count"] == 5
    survivors = {
        r["name"] for r in animals_result.entities["animals"].collect()
    }
    assert survivors == {"African Elephant", "Bengal Tiger", "Giraffe"}
    ane01 = animals_result.messages.where("error_code = 'ANE01'").collect()
    assert len(ane01) == 2
    msgs = {m["error_message"] for m in ane01}
    # {{ region }} template renders the rejected row's value
    assert (
        "Record rejected - `Arctic` is not in a valid region." in msgs
    )
    assert (
        "Record rejected - `Oceans` is not in a valid region." in msgs
    )


# ---------------------------------------------------------------------------
# demographics: NHS-number + postcode domain types against self-labelled
# golden data (each row declares whether its values should validate)
# ---------------------------------------------------------------------------

DEMO_DIR = "/root/reference/tests/testdata/demographics"


@pytest.fixture(scope="module")
def demographics_result(spark, tmp_path_factory):
    work = tmp_path_factory.mktemp("demographics_e2e")
    return run_pipeline(
        spark,
        f"{DEMO_DIR}/basic_demographics.dischema.json",
        {"demographics": f"{DEMO_DIR}/basic_demographics.csv"},
        work,
        write_report=False,
    )


def _labelled_keys(spark, demographics_result):
    from data_validation_engine_spark.contract import add_record_index

    transform = (
        f"{demographics_result.errors_dir.rsplit('/', 1)[0]}"
        "/transform/demographics"
    )
    return add_record_index(spark.read.parquet(transform)).select(
        "Key",
        "NHS_Number_Valid",
        "Postcode_Format_Valid",
        "__record_index__",
    )


def _flagged_keys(spark, demographics_result, code):
    labels = _labelled_keys(spark, demographics_result)
    idx = demographics_result.messages.where(
        f"error_code = '{code}'"
    ).select("__record_index__")
    return {
        r["Key"] for r in labels.join(idx, on="__record_index__").collect()
    }


def test_demographics_labels_match_nhs_checks(spark, demographics_result):
    """Each row is labelled with its expected NHS validity; the compiled
    mod-11 expression must agree row by row. Key 13 carries a valid
    checksum but is labelled FALSE as the fixture's duplicate-NHS case —
    a cross-record property no per-record checksum can see."""
    flagged = _flagged_keys(spark, demographics_result, "INVALID_NHS_NUMBER")
    labels = _labelled_keys(spark, demographics_result)
    expected = {
        r["Key"]
        for r in labels.where("NHS_Number_Valid = 'FALSE'").collect()
    } - {"13"}
    assert flagged == expected and len(expected) > 0


def test_demographics_labels_match_postcode_checks(spark, demographics_result):
    flagged = _flagged_keys(spark, demographics_result, "INVALID_POSTCODE")
    labels = _labelled_keys(spark, demographics_result)
    expected = {
        r["Key"]
        for r in labels.where("Postcode_Format_Valid = 'FALSE'").collect()
    }
    assert flagged == expected and len(expected) > 0


def test_demographics_golden_outcomes(demographics_result):
    # demographics.feature: record_count 13, rules restrict to 2, BAD_NHS
    # emitted, no NHS_Number_Valid=FALSE row survives
    assert demographics_result.statistics["record_count"] == 13
    demo = demographics_result.entities["demographics"]
    assert demo.count() == 2
    codes = {
        r["error_code"]
        for r in demographics_result.messages.select("error_code").distinct().collect()
    }
    assert "BAD_NHS" in codes
    assert demo.where("NHS_Number_Valid = 'FALSE'").count() == 0


def test_movies_restricted_to_three(movies_result):
    # 5 received - ratings-filter drop (blank-title single-rating record) -
    # final rejection of the dodgy-year record = 3
    assert movies_result.entities["movies"].count() == 3
    assert movies_result.statistics["record_count"] == 5