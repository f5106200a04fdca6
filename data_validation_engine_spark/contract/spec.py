"""Contract specification model (the "dischema" contract section).

Parses the reference's dischema JSON shape
(dve configuration/v1/__init__.py:93-113; field registry
dve metadata_parser/model_generator.py:63-79) into typed specs. Unlike the
reference — which generates pydantic models and validates row-at-a-time —
these specs compile to native Spark Column expressions (see compile.py).

Supported type names (dischema -> Spark type):
  str/string -> string            int/conint -> bigint
  float -> double                 bool -> boolean
  date -> date                    datetime -> timestamp
  decimal/condecimal -> decimal(p,s) (default 38,18)
  bytes -> binary
  nhsnumber/permissivenhsno -> string (mod-11 checked)
  postcode -> string (regex + normalise)
  orgid -> string (^[A-Z0-9]{3,5}$)
  alphanumeric / identifier -> string (length-parameterised regex)
  conformatteddate -> date (strptime format + ge/le/gt/lt range)
  formatteddatetime -> timestamp (format list)
  formattedtime -> string (format checked)
  reportingperiodstart/reportingperiodend -> date (month-boundary check)
"""

from __future__ import annotations

from typing import Any, Optional

from pydantic import BaseModel, ConfigDict, Field

from data_validation_engine_spark.errors import ConfigurationError

BASE_TYPES = {
    "str": "string",
    "string": "string",
    "constr": "string",
    "int": "bigint",
    "conint": "bigint",
    "positiveint": "bigint",
    "nonnegativeint": "bigint",
    "float": "double",
    "positivefloat": "double",
    "nonnegativefloat": "double",
    "confloat": "double",
    "bool": "boolean",
    "date": "date",
    "condate": "date",
    "datetime": "timestamp",
    "decimal": "decimal",
    "condecimal": "decimal",
    "bytes": "binary",
    "nhsnumber": "string",
    "permissivenhsno": "string",
    "postcode": "string",
    "orgid": "string",
    "alphanumeric": "string",
    "identifier": "string",
    "conformatteddate": "date",
    "formatteddatetime": "timestamp",
    "formattedtime": "string",
    "reportingperiodstart": "date",
    "reportingperiodend": "date",
}

# implied numeric-range constraints for the pydantic con* aliases
_IMPLIED_CONSTRAINTS: dict[str, dict[str, Any]] = {
    "positiveint": {"gt": 0},
    "nonnegativeint": {"ge": 0},
    "positivefloat": {"gt": 0},
    "nonnegativefloat": {"ge": 0},
}


class FieldSpec(BaseModel):
    """One field's declared type + constraints."""

    model_config = ConfigDict(frozen=True)

    name: str
    type_name: str = "str"
    constraints: dict[str, Any] = Field(default_factory=dict)
    is_array: bool = False
    model: Optional[tuple["FieldSpec", ...]] = None  # nested struct fields
    mandatory: bool = False
    functions: tuple[dict[str, Any], ...] = ()
    """Contract-side value functions applied to the stringified value
    (normalise / exclude_word / split / static_key — parity with
    dve metadata_parser/function_library.py:35-62; each entry is
    ``{name, kwargs, error_message?}``)."""

    @property
    def base_type(self) -> str:
        if self.model is not None:
            return "struct"
        t = BASE_TYPES.get(self.type_name.lower())
        if t is None:
            raise ValueError(f"unsupported contract type {self.type_name!r}")
        return t

    @property
    def effective_constraints(self) -> dict[str, Any]:
        implied = dict(_IMPLIED_CONSTRAINTS.get(self.type_name.lower(), {}))
        implied.update(self.constraints)
        return implied


class EntityContract(BaseModel):
    """One dataset's declared fields + validation config."""

    model_config = ConfigDict(frozen=True)

    name: str
    fields: tuple[FieldSpec, ...]
    key_field: Optional[str] = None
    mandatory_fields: tuple[str, ...] = ()
    reader_config: dict[str, Any] = Field(default_factory=dict)
    error_details: dict[str, Any] = Field(default_factory=dict)
    """Raw (field -> category -> override) error-detail document
    (contract/error_details.py; dve message.py:237-280)."""
    unique_fields: tuple[str, ...] = ()
    """Fields whose non-blank values must be unique across the entity
    (net-new vs the reference: cross-record duplicate detection as a
    contract check — duplicates get messages, never silent drops)."""

    def field(self, name: str) -> FieldSpec:
        for f in self.fields:
            if f.name == name:
                return f
        raise KeyError(name)


class Contract(BaseModel):
    model_config = ConfigDict(frozen=True)

    datasets: tuple[EntityContract, ...]

    def entity(self, name: str) -> EntityContract:
        for e in self.datasets:
            if e.name == name:
                return e
        raise KeyError(name)


def _resolve_type(
    decl: Any,
    custom_types: dict[str, Any],
    schemas: dict[str, Any] | None = None,
) -> tuple[str, dict[str, Any], bool, Optional[tuple[FieldSpec, ...]]]:
    """Resolve a field declaration to (type_name, constraints, is_array, model).

    Declarations: a type-name string, a custom-type alias, or a dict with
    ``type``/``callable`` + ``constraints`` + ``is_array`` / nested
    ``model`` — where ``model`` is either an inline field mapping or the
    NAME of a component schema from the contract's ``schemas`` section
    (dve configuration/v1 ``_ModelTypeDefinition``).
    """
    schemas = schemas or {}
    if isinstance(decl, str):
        alias = custom_types.get(decl)
        if alias is not None:
            return _resolve_type(alias, custom_types, schemas)
        return decl, {}, False, None
    if isinstance(decl, dict):
        if "model" in decl:
            model_decl = decl["model"]
            model_mandatory = decl.get("mandatory_fields", [])
            if isinstance(model_decl, str):
                schema = schemas.get(model_decl)
                if schema is None:
                    raise ValueError(
                        f"unknown component schema {model_decl!r}"
                    )
                model_fields = schema.get("fields", schema)
                model_mandatory = schema.get(
                    "mandatory_fields", model_mandatory
                )
            else:
                model_fields = model_decl
            nested = tuple(
                _parse_field(
                    n,
                    d,
                    custom_types,
                    mandatory_fields=model_mandatory,
                    schemas=schemas,
                )
                for n, d in model_fields.items()
            )
            return "struct", {}, bool(decl.get("is_array")), nested
        type_name = decl.get("type") or decl.get("callable") or "str"
        alias = custom_types.get(type_name)
        constraints = dict(decl.get("constraints", {}))
        is_array = bool(decl.get("is_array"))
        if alias is not None:
            base, base_cons, base_arr, model = _resolve_type(
                alias, custom_types, schemas
            )
            merged = {**base_cons, **constraints}
            return base, merged, is_array or base_arr, model
        return type_name, constraints, is_array, None
    raise ValueError(f"unsupported field declaration: {decl!r}")


def _parse_field(
    name: str,
    decl: Any,
    custom_types: dict[str, Any],
    mandatory_fields: list[str] | tuple[str, ...] = (),
    schemas: dict[str, Any] | None = None,
) -> FieldSpec:
    type_name, constraints, is_array, model = _resolve_type(
        decl, custom_types, schemas
    )
    functions: tuple[dict[str, Any], ...] = ()
    if isinstance(decl, dict) and decl.get("functions"):
        functions = tuple(
            {"name": f["name"], **{k: v for k, v in f.items() if k != "name"}}
            if isinstance(f, dict)
            else {"name": f}
            for f in decl["functions"]
        )
    return FieldSpec(
        name=name,
        type_name=type_name if model is None else "struct",
        constraints=constraints,
        is_array=is_array,
        model=model,
        mandatory=name in mandatory_fields,
        functions=functions,
    )


def parse_contract(
    contract_json: dict[str, Any],
    *,
    error_details: dict[str, Any] | None = None,
) -> Contract:
    """Parse the ``contract`` section of a dischema JSON document.

    ``error_details`` is the (field -> category -> override) document from
    the dischema's ``error_details`` URI; it applies to every dataset
    (reference behaviour: one error-info file per config).
    """
    section = contract_json.get("contract", contract_json)
    custom_types = section.get("types", {})
    schemas = section.get("schemas", {})
    datasets = []
    for ds_name, ds in section.get("datasets", {}).items():
        mandatory = ds.get("mandatory_fields", [])
        fields = tuple(
            _parse_field(
                n, d, custom_types, mandatory_fields=mandatory, schemas=schemas
            )
            for n, d in ds.get("fields", {}).items()
        )
        unique = tuple(ds.get("unique_fields", []))
        undeclared = [u for u in unique if u not in {f.name for f in fields}]
        if undeclared:
            # a typo here would silently switch duplicate detection off
            raise ConfigurationError(
                f"dataset {ds_name!r}: unique_fields {undeclared} are not "
                "declared fields"
            )
        datasets.append(
            EntityContract(
                name=ds_name,
                fields=fields,
                key_field=ds.get("key_field"),
                mandatory_fields=tuple(mandatory),
                reader_config=ds.get("reader_config", {}),
                error_details=dict(error_details or {}),
                unique_fields=unique,
            )
        )
    return Contract(datasets=tuple(datasets))
