"""Contract error-detail overrides: custom code/message/level per
(field, category).

Parity with dve core_engine/message.py:237-280 and the movies fixture
(``movies_contract_error_details.json``): a JSON document maps field name ->
error category -> override, where the categories are the reference's
reporting vocabulary ("Blank" for missing values, "Bad value" for failed
type/constraint/domain checks, "Wrong format" for format mismatches). An
override can replace the error code, the message (a template over record
fields plus ``{{__error_value}}``), the failure level, the informational
flag, and the reporting entity.

Here the overrides rewrite the *compiled checks* (contract/compile.py) at
plan-build time — the message templates compile to Column expressions, so
overridden messages are still generated distributed, never per-row Python.
"""

from __future__ import annotations

from typing import Any, Optional

from pydantic import BaseModel, ConfigDict

from data_validation_engine_spark.contract.compile import CompiledCheck

#: engine check category -> reference reporting category
CATEGORY_TO_REPORTING = {
    "missing": "Blank",
    "type": "Bad value",
    "constraint": "Bad value",
    "domain": "Bad value",
    "function": "Bad value",
}


class ErrorDetail(BaseModel):
    """One override (dve message.py:35-52 ``DataContractErrorDetail``)."""

    model_config = ConfigDict(frozen=True)

    error_code: str
    error_level: str = "record"
    is_informational: bool = False
    error_message: Optional[str] = None
    reporting_entity: Optional[str] = None


ErrorDetails = dict[str, dict[str, ErrorDetail]]
"""field name -> reporting category -> override."""


def parse_error_details(doc: dict[str, Any]) -> ErrorDetails:
    return {
        field: {cat: ErrorDetail(**detail) for cat, detail in cats.items()}
        for field, cats in doc.items()
    }


def apply_error_details(
    checks: list[CompiledCheck], details: ErrorDetails
) -> list[CompiledCheck]:
    """Rewrite compiled checks with any matching (field, category) override."""
    if not details:
        return checks
    out = []
    for check in checks:
        reporting_cat = CATEGORY_TO_REPORTING.get(check.category, "Bad value")
        override = details.get(check.field, {}).get(reporting_cat)
        if override is None:
            out.append(check)
            continue
        out.append(
            CompiledCheck(
                field=check.field,
                category=check.category,
                code=override.error_code,
                message=override.error_message or check.message,
                predicate_sql=check.predicate_sql,
                level=override.error_level,
                informational=override.is_informational,
                reporting_entity=override.reporting_entity,
                value_expr=check.value_expr,
            )
        )
    return out
