"""Contract extensions: error-detail overrides, location mini-language,
contract functions, timezone constraints, XSD gating, %f fraction parsing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_validation_engine_spark.contract import apply_contract, parse_contract
from data_validation_engine_spark.messages import (
    Reporting,
    location_value_col,
    messages_for_checks,
    parse_location,
)

ERROR_DETAILS = {
    "year": {
        "Blank": {
            "error_code": "BLANKYEAR",
            "error_message": "year not provided",
            "is_informational": True,
        },
        "Bad value": {
            "error_code": "DODGYYEAR",
            "error_message": "year value ({{__error_value}}) is invalid",
            "reporting_entity": "movies_rename_test",
        },
    },
    "title": {
        "Blank": {
            "error_code": "BLANKTITLE",
            "error_message": "title should not be blank",
            "error_level": "submission",
        }
    },
}

CONTRACT = {
    "contract": {
        "datasets": {
            "movies": {
                "fields": {"title": "str", "year": "int", "rating": "float"},
                "key_field": "title",
                "mandatory_fields": ["title", "year"],
            }
        }
    }
}


@pytest.fixture()
def movies(spark):
    return spark.createDataFrame(
        [
            ("Alien", "1979", "8.5"),
            (None, "1999", "7.0"),      # blank title -> submission-level
            ("Blade", "not-a-year", "6.9"),  # bad year -> DODGYYEAR
            ("Dune", None, "8.0"),      # blank year -> informational only
        ],
        "title string, year string, rating string",
    )


def test_error_detail_overrides(spark, movies):
    contract = parse_contract(CONTRACT, error_details=ERROR_DETAILS)
    typed, messages = apply_contract(contract.entity("movies"), movies)
    msgs = {
        (r["error_code"]): r
        for r in messages.collect()
    }
    assert "BLANKTITLE" in msgs and msgs["BLANKTITLE"]["failure_type"] == "submission"
    assert "BLANKYEAR" in msgs and msgs["BLANKYEAR"]["is_informational"]
    dodgy = msgs["DODGYYEAR"]
    assert dodgy["entity"] == "movies_rename_test"
    assert dodgy["original_entity"] == "movies"
    assert "not-a-year" in dodgy["error_message"]  # {{__error_value}}
    assert dodgy["value"] == "not-a-year"

    # informational / non-record failures do NOT reject records
    titles = {r["title"] for r in typed.collect()}
    assert "Dune" in titles          # informational blank year kept
    assert None in titles            # submission-level blank title kept
    assert "Blade" not in titles     # record-level bad year rejected


def test_default_codes_without_overrides(spark, movies):
    contract = parse_contract(CONTRACT)
    _, messages = apply_contract(contract.entity("movies"), movies)
    codes = {r["error_code"] for r in messages.collect()}
    assert codes == {"MISSING_MANDATORY_VALUE", "INVALID_NUMBER"}


# -- location mini-language --------------------------------------------------

def test_parse_location_grammar():
    assert parse_location("field") == (None, ["field"])
    assert parse_location("{A,B}") == (None, ["A", "B"])
    assert parse_location("root.*") == ("root", "*")
    assert parse_location("root.{A,B}") == ("root", ["A", "B"])
    assert parse_location("*") == (None, "*")
    with pytest.raises(ValueError, match="one level"):
        parse_location("a.b.c")


@pytest.fixture()
def nested(spark):
    return spark.createDataFrame(
        [
            (
                1,
                {"name": "n1", "score": 10},
                [{"f": "a", "g": 1}, {"f": "b", "g": 2}],
            )
        ],
        "id long, s struct<name:string,score:long>, "
        "arr array<struct<f:string,g:long>>",
    )


def test_location_scalar_and_struct(nested):
    got = nested.select(
        location_value_col(nested, "id").alias("v1"),
        location_value_col(nested, "s.{name,score}").alias("v2"),
        location_value_col(nested, "s.*").alias("v3"),
    ).first()
    assert got["v1"] == "1"
    assert got["v2"] == "name=n1, score=10"
    assert '"name":"n1"' in got["v3"]


def test_location_array_of_struct(nested):
    got = nested.select(
        location_value_col(nested, "arr.{f,g}").alias("v")
    ).first()
    assert got["v"] == "f=a, g=1, f=b, g=2"


def test_location_truncation(spark):
    df = spark.createDataFrame(
        [(list(range(15)),)], "xs array<bigint>"
    )
    got = df.select(
        location_value_col(df, "xs.*", max_values=10).alias("v")
    ).first()["v"]
    assert got.endswith("only first 10 shown")


def test_location_in_message_value(spark):
    df = spark.createDataFrame([(1, 99)], "id long, score long")
    msgs = messages_for_checks(
        "t",
        df,
        [(F.lit(False), Reporting(code="X", message="bad", location="score"))],
    ).first()
    assert msgs["value"] == "99"
    assert msgs["error_location"] == "score"


# -- contract functions ------------------------------------------------------

FUNC_CONTRACT = {
    "contract": {
        "datasets": {
            "people": {
                "fields": {
                    "name": {
                        "type": "str",
                        "functions": [
                            {"name": "normalise", "kwargs": {"capitalize": True}}
                        ],
                    },
                    "email_domain": {
                        "type": "str",
                        "functions": [
                            {
                                "name": "split",
                                "kwargs": {"split_on": "@", "keep": 1},
                            }
                        ],
                    },
                    "comment": {
                        "type": "str",
                        "functions": [
                            {"name": "exclude_word", "kwargs": {"word": "secret"}}
                        ],
                    },
                    "join_key": {
                        "type": "str",
                        "functions": [{"name": "static_key"}],
                    },
                }
            }
        }
    }
}


def test_contract_functions(spark):
    df = spark.createDataFrame(
        [
            ("aLICE", "a@ex.com", "fine text", "x"),
            ("bob", "no-at-sign", "my SECRET plan", "y"),
        ],
        "name string, email_domain string, comment string, join_key string",
    )
    contract = parse_contract(FUNC_CONTRACT)
    typed, messages = apply_contract(
        contract.entity("people"), df, drop_failed_records=False
    )
    rows = {r["name"]: r for r in typed.collect()}
    assert "Alice" in rows  # capitalised
    assert rows["Alice"]["email_domain"] == "ex.com"  # split kept index 1
    assert rows["Bob"]["email_domain"] is None  # split OOB -> null
    assert rows["Bob"]["comment"] is None  # exclude_word nullified
    assert rows["Alice"]["comment"] == "fine text"
    assert rows["Alice"]["join_key"] == "1" and rows["Bob"]["join_key"] == "1"
    codes = {r["error_code"] for r in messages.collect()}
    assert "FUNCTION_SPLIT_FAILED" in codes


def test_checks_validate_function_transformed_value(spark):
    """Validation must see the SAME value the cast sees (ADVICE r2): a
    split-extracted number passes INVALID_NUMBER on the extracted part, and
    exclude_word nulling a mandatory field raises MISSING, not silence."""
    doc = {
        "contract": {
            "datasets": {
                "orders": {
                    "fields": {
                        "qty": {
                            "type": "int",
                            "functions": [
                                {
                                    "name": "split",
                                    "kwargs": {"split_on": "|", "keep": 1},
                                }
                            ],
                        },
                        "owner": {
                            "type": "str",
                            "functions": [
                                {
                                    "name": "exclude_word",
                                    "kwargs": {"word": "anon"},
                                }
                            ],
                        },
                    },
                    "mandatory_fields": ["owner"],
                }
            }
        }
    }
    df = spark.createDataFrame(
        [("widget|42", "alice"), ("widget|nope", "ANON user")],
        "qty string, owner string",
    )
    contract = parse_contract(doc)
    typed, messages = apply_contract(
        contract.entity("orders"), df, drop_failed_records=False
    )
    rows = {r["owner"]: r for r in typed.collect()}
    assert rows["alice"]["qty"] == 42  # extracted part casts clean
    codes = [r["error_code"] for r in messages.collect()]
    # the raw 'widget|42' must NOT fail INVALID_NUMBER (the split part is
    # what gets cast); only 'widget|nope' fails (its split part isn't a
    # number)
    assert codes.count("INVALID_NUMBER") == 1
    # exclude_word nulls a mandatory field -> MISSING message, not silence
    assert "MISSING_MANDATORY_VALUE" in codes


# -- uniqueness --------------------------------------------------------------

def test_unique_fields_flag_duplicates(spark):
    doc = {
        "contract": {
            "datasets": {
                "people": {
                    "fields": {"id": "int", "nhs": "str"},
                    "key_field": "id",
                    "unique_fields": ["nhs"],
                }
            }
        }
    }
    df = spark.createDataFrame(
        [("1", "A1"), ("2", "A1"), ("3", "B2"), ("4", None), ("5", None)],
        "id string, nhs string",
    )
    contract = parse_contract(doc)
    typed, messages = apply_contract(contract.entity("people"), df)
    dups = messages.where("error_code = 'DUPLICATE_VALUE'").collect()
    assert {r["reporting_field"] for r in dups} == {"1", "2"}  # nulls exempt
    assert all(r["is_informational"] for r in dups)
    assert all("occurs 2 times" in r["error_message"] for r in dups)
    assert typed.count() == 5  # messages, never silent drops


def test_unique_fields_must_be_declared():
    from data_validation_engine_spark.errors import ConfigurationError

    doc = {
        "contract": {
            "datasets": {
                "people": {
                    "fields": {"id": "int", "nhs": "str"},
                    "unique_fields": ["nhz"],
                }
            }
        }
    }
    with pytest.raises(ConfigurationError, match="nhz"):
        parse_contract(doc)


# -- timezone constraint -----------------------------------------------------

def test_formatteddatetime_timezone_forbid_require(spark):
    doc = {
        "contract": {
            "datasets": {
                "t": {
                    "fields": {
                        "naive": {
                            "type": "formatteddatetime",
                            "constraints": {"timezone": "forbid"},
                        },
                        "aware": {
                            "type": "formatteddatetime",
                            "constraints": {
                                "timezone": "require",
                                "formats": [
                                    "%Y-%m-%dT%H:%M:%S%z",
                                    "%Y-%m-%dT%H:%M:%S",
                                ],
                            },
                        },
                    }
                }
            }
        }
    }
    df = spark.createDataFrame(
        [
            ("2024-01-01T10:00:00", "2024-01-01T10:00:00+0100"),
            ("2024-01-01T10:00:00+0100", "2024-01-01T10:00:00"),
        ],
        "naive string, aware string",
    )
    contract = parse_contract(doc)
    _, messages = apply_contract(
        contract.entity("t"), df, drop_failed_records=False
    )
    codes = {r["error_code"] for r in messages.collect()}
    assert "TIMEZONE_FORBIDDEN" in codes and "TIMEZONE_REQUIRED" in codes


def test_fraction_digits_parse_one_to_six(spark):
    # pins Spark 4 behaviour: SSSSSS accepts 1-6 fraction digits, so the
    # %f guard regex [0-9]{1,6} and the cast agree (round-1 advice check)
    doc = {
        "contract": {
            "datasets": {
                "t": {
                    "fields": {
                        "ts": {
                            "type": "formatteddatetime",
                            "constraints": {
                                "formats": ["%Y-%m-%d %H:%M:%S.%f"]
                            },
                        }
                    }
                }
            }
        }
    }
    df = spark.createDataFrame(
        [("2024-01-02 12:00:00.123",), ("2024-01-02 12:00:00.123456",)],
        "ts string",
    )
    contract = parse_contract(doc)
    typed, messages = apply_contract(contract.entity("t"), df)
    assert typed.where("ts IS NOT NULL").count() == 2
    assert messages.count() == 0


# -- XSD gating --------------------------------------------------------------

def test_xsd_validation_gated(tmp_path):
    from data_validation_engine_spark.sources.xml import validate_xsd

    xml = tmp_path / "f.xml"
    xml.write_text("<root><r>1</r></root>")
    xsd = tmp_path / "f.xsd"
    xsd.write_text("<xs:schema xmlns:xs='http://www.w3.org/2001/XMLSchema'/>")
    try:
        import lxml  # noqa: F401

        has_backend = True
    except ImportError:
        try:
            import xmlschema  # noqa: F401

            has_backend = True
        except ImportError:
            has_backend = False
    if has_backend:
        pytest.skip("backend present; gating path not reachable")
    with pytest.raises(ImportError, match="XSD validation requires"):
        validate_xsd(str(xml), str(xsd))

def test_split_failure_mandatory_single_error(spark):
    """A failing split on a MANDATORY field emits FUNCTION_SPLIT_FAILED
    only: the reference's validator chain raises at the function and never
    reaches the missing check (ADVICE r3). A genuinely blank value still
    emits MISSING (the function check passes on blanks)."""
    doc = {
        "contract": {
            "datasets": {
                "orders": {
                    "fields": {
                        "code": {
                            "type": "str",
                            "functions": [
                                {
                                    "name": "split",
                                    "kwargs": {"split_on": "-", "keep": 1},
                                }
                            ],
                        },
                    },
                    "mandatory_fields": ["code"],
                }
            }
        }
    }
    from data_validation_engine_spark.contract.index import add_record_index

    df = add_record_index(
        spark.createDataFrame(
            [("1", "AB-7"), ("2", "plain"), ("3", "")],
            "rid string, code string",
        )
    )
    contract = parse_contract(doc)
    _, messages = apply_contract(
        contract.entity("orders"), df, drop_failed_records=False
    )
    per_row = {}
    for r in messages.collect():
        per_row.setdefault(r["__record_index__"], set()).add(r["error_code"])
    # record indexes are 1-based: AB-7 splits clean; 'plain' is a split
    # OOB -> the function error alone (no duplicate MISSING); the blank
    # row -> MISSING alone
    assert 1 not in per_row
    assert per_row[2] == {"FUNCTION_SPLIT_FAILED"}
    assert per_row[3] == {"MISSING_MANDATORY_VALUE"}
