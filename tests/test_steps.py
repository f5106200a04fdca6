"""Operator-level tests for the step engine (model: reference
tests/.../test_spark/test_rules.py — same scenarios, new fixtures)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_validation_engine_spark.errors import ConstraintError
from data_validation_engine_spark.steps import (
    Aggregation,
    AntiJoin,
    ColumnAddition,
    ColumnRemoval,
    ConfirmJoinHasMatch,
    CopyEntity,
    DeferredFilter,
    EntityRemoval,
    HeaderJoin,
    ImmediateFilter,
    InnerJoin,
    LeftJoin,
    Notification,
    OneToOneJoin,
    OrphanIdentification,
    RenameEntity,
    SelectColumns,
    SemiJoin,
    StepEngine,
    TableUnion,
    parse_step,
)
from data_validation_engine_spark.messages import Reporting


@pytest.fixture(scope="module")
def engine(spark):
    return StepEngine(spark)


@pytest.fixture()
def entities(spark):
    people = spark.createDataFrame(
        [
            (1, "alice", 30, "FR"),
            (2, "bob", 40, "DE"),
            (3, "carol", 25, "FR"),
            (4, "dave", 55, "XX"),
        ],
        "id long, name string, age long, country string",
    )
    countries = spark.createDataFrame(
        [("FR", "France"), ("DE", "Germany"), ("US", "United States")],
        "code string, full_name string",
    )
    return {"people": people, "countries": countries}


def rows(df, *order_cols):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


def test_add_remove_select(engine, entities):
    engine.evaluate(
        entities,
        config=ColumnAddition(
            entity_name="people", column_name="age2", expression="age * 2"
        ),
    )
    assert entities["people"].where("age2 = 60").count() == 1

    engine.evaluate(
        entities, config=ColumnRemoval(entity_name="people", column_name="age2")
    )
    assert "age2" not in entities["people"].columns

    engine.evaluate(
        entities,
        config=SelectColumns(
            entity_name="people",
            columns="upper(name) AS NAME, country",
            new_entity_name="names",
        ),
    )
    assert entities["names"].columns == ["NAME", "country"]

    engine.evaluate(
        entities,
        config=SelectColumns(
            entity_name="people", columns=["country"], distinct=True,
            new_entity_name="dist",
        ),
    )
    assert entities["dist"].count() == 3


def test_group_by_and_pivot(engine, entities):
    engine.evaluate(
        entities,
        config=Aggregation(
            entity_name="people",
            group_by="country",
            agg_columns={"sum(age)": "total_age", "count(1)": "n"},
            new_entity_name="by_country",
        ),
    )
    out = dict(
        (r["country"], (r["total_age"], r["n"]))
        for r in entities["by_country"].collect()
    )
    assert out == {"FR": (55, 2), "DE": (40, 1), "XX": (55, 1)}

    engine.evaluate(
        entities,
        config=Aggregation(
            entity_name="people",
            group_by="1 AS g",
            agg_columns={"sum(age)": "total"},
            pivot_column="country",
            pivot_values=["FR", "DE"],
            new_entity_name="pivoted",
        ),
    )
    row = entities["pivoted"].collect()[0]
    assert row["FR"] == 55 and row["DE"] == 40


def test_group_by_no_aggs_is_distinct(engine, entities):
    engine.evaluate(
        entities,
        config=Aggregation(
            entity_name="people", group_by="country", new_entity_name="keys"
        ),
    )
    assert sorted(r[0] for r in entities["keys"].collect()) == ["DE", "FR", "XX"]


def test_left_join_keeps_all_and_new_columns(engine, entities):
    engine.evaluate(
        entities,
        config=LeftJoin(
            entity_name="people",
            target_name="countries",
            join_condition="people.country = countries.code",
            new_columns={"countries.full_name": "country_name"},
        ),
    )
    df = entities["people"]
    assert df.count() == 4
    got = {r["name"]: r["country_name"] for r in df.collect()}
    assert got == {
        "alice": "France",
        "bob": "Germany",
        "carol": "France",
        "dave": None,
    }


def test_join_overwrite_last_wins_case_insensitive(engine, entities):
    engine.evaluate(
        entities,
        config=LeftJoin(
            entity_name="people",
            target_name="countries",
            join_condition="people.country = countries.code",
            new_columns={"coalesce(countries.full_name, 'unknown')": "Country"},
        ),
    )
    df = entities["people"]
    # "Country" overwrote "country" (case-insensitive last-wins, new casing)
    assert df.columns == ["id", "name", "age", "Country"]
    assert {r["Country"] for r in df.collect()} == {
        "France",
        "Germany",
        "unknown",
    }


def test_inner_semi_anti_joins(engine, entities):
    engine.evaluate(
        entities,
        config=InnerJoin(
            entity_name="people",
            target_name="countries",
            join_condition="people.country = countries.code",
            new_entity_name="inner",
        ),
    )
    assert entities["inner"].count() == 3

    engine.evaluate(
        entities,
        config=SemiJoin(
            entity_name="people",
            target_name="countries",
            join_condition="people.country = countries.code",
            new_entity_name="semi",
        ),
    )
    assert sorted(r["name"] for r in entities["semi"].collect()) == [
        "alice",
        "bob",
        "carol",
    ]
    assert entities["semi"].columns == ["id", "name", "age", "country"]

    engine.evaluate(
        entities,
        config=AntiJoin(
            entity_name="people",
            target_name="countries",
            join_condition="people.country = countries.code",
            new_entity_name="anti",
        ),
    )
    assert [r["name"] for r in entities["anti"].collect()] == ["dave"]


def test_one_to_one_join_integrity(engine, entities, spark):
    dup = spark.createDataFrame(
        [("FR", "France"), ("FR", "France 2")], "code string, full_name string"
    )
    entities["dup"] = dup
    with pytest.raises(ConstraintError):
        engine.evaluate(
            entities,
            config=OneToOneJoin(
                entity_name="people",
                target_name="dup",
                join_condition="people.country = dup.code",
            ),
        )
    # non-multiplying join passes and output has no helper columns
    engine.evaluate(
        entities,
        config=OneToOneJoin(
            entity_name="people",
            target_name="countries",
            join_condition="people.country = countries.code",
            new_columns={"countries.full_name": "full_name"},
            new_entity_name="ok",
        ),
    )
    assert entities["ok"].count() == 4
    assert entities["ok"].columns == ["id", "name", "age", "country", "full_name"]


def test_has_match(engine, entities):
    engine.evaluate(
        entities,
        config=ConfirmJoinHasMatch(
            entity_name="people",
            target_name="countries",
            join_condition="people.country = countries.code",
            column_name="has_country",
        ),
    )
    got = {r["name"]: r["has_country"] for r in entities["people"].collect()}
    assert got == {"alice": True, "bob": True, "carol": True, "dave": False}


def test_join_header(engine, entities, spark):
    header = spark.createDataFrame(
        [("sub-1", "2026-01-01")], "submission_id string, received string"
    )
    entities["header"] = header
    engine.evaluate(
        entities,
        config=HeaderJoin(
            entity_name="people",
            target_name="header",
            header_column_name="submission",
        ),
    )
    df = entities["people"]
    assert df.count() == 4
    first = df.select("submission.submission_id").distinct().collect()
    assert [r[0] for r in first] == ["sub-1"]

    entities["bad_header"] = header.union(header)
    with pytest.raises(ConstraintError):
        engine.evaluate(
            entities,
            config=HeaderJoin(
                entity_name="people",
                target_name="bad_header",
                header_column_name="submission",
            ),
        )


def test_union_casing_and_missing_columns(engine, spark):
    src = spark.createDataFrame([(1, "a")], "id long, Name string")
    tgt = spark.createDataFrame([("b", 2, True)], "NAME string, id long, extra boolean")
    entities = {"src": src, "tgt": tgt}
    engine.evaluate(
        entities,
        config=TableUnion(entity_name="src", target_name="tgt", new_entity_name="u"),
    )
    u = entities["u"]
    # source order + casing wins; target-only columns appended
    assert u.columns == ["id", "Name", "extra"]
    assert rows(u, "id") == [(1, "a", None), (2, "b", True)]


def test_identify_orphans_and_or_accumulate(engine, entities, spark):
    engine.evaluate(
        entities,
        config=OrphanIdentification(
            entity_name="people",
            target_name="countries",
            join_condition="people.country = countries.code",
        ),
    )
    df = entities["people"]
    got = {r["name"]: r["IsOrphaned"] for r in df.collect()}
    assert got == {"alice": False, "bob": False, "carol": False, "dave": True}

    # second pass against an empty target: everything orphaned, OR-combined
    empty = spark.createDataFrame([], "code string")
    entities["empty"] = empty
    engine.evaluate(
        entities,
        config=OrphanIdentification(
            entity_name="people",
            target_name="empty",
            join_condition="people.country = empty.code",
        ),
    )
    assert all(r["IsOrphaned"] for r in entities["people"].collect())
    assert entities["people"].columns == [
        "id",
        "name",
        "age",
        "country",
        "IsOrphaned",
    ]


def test_identify_orphans_on_derived_entity(engine, spark):
    # the source is a DERIVED entity (post-join, post-repartition): row
    # order within partitions is not guaranteed stable across executions,
    # which is exactly where a positional rowid could mis-attach flags.
    # The content-hash rowid must flag correctly, including duplicate rows.
    left = spark.createDataFrame(
        [(i, f"k{i % 7}") for i in range(200)] + [(0, "k0")],  # dup row
        "id long, key string",
    )
    dim = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(7)], "key string, val string"
    )
    derived = (
        left.join(dim, "key")
        .repartition(8, "val")
        .select("id", "key", "val")
    )
    ref = spark.createDataFrame(
        [(i,) for i in range(0, 200, 2)], "rid long"
    )
    entities = {"derived": derived, "ref": ref}
    engine.evaluate(
        entities,
        config=OrphanIdentification(
            entity_name="derived",
            target_name="ref",
            join_condition="derived.id = ref.rid",
        ),
    )
    out = entities["derived"].collect()
    assert len(out) == 201  # duplicates preserved, no multiplication
    for r in out:
        assert r["IsOrphaned"] == (r["id"] % 2 == 1), r


def test_immediate_filter_and_entity_ops(engine, entities):
    engine.evaluate(
        entities,
        config=ImmediateFilter(entity_name="people", expression="age >= 30"),
    )
    assert entities["people"].count() == 3

    engine.evaluate(
        entities, config=CopyEntity(entity_name="people", new_entity_name="p2")
    )
    assert "p2" in entities
    engine.evaluate(
        entities, config=RenameEntity(entity_name="p2", new_entity_name="p3")
    )
    assert "p2" not in entities and "p3" in entities
    engine.evaluate(entities, config=EntityRemoval(entity_names=("p3",)))
    assert "p3" not in entities


def test_notification_messages(engine, entities):
    msgs = engine.evaluate(
        entities,
        config=Notification(
            entity_name="people",
            expression="age > 35",
            reporting=Reporting(
                code="TOO_OLD", message="person {{name}} is {{age}}"
            ),
        ),
    )
    got = sorted(
        (r["error_code"], r["error_message"]) for r in msgs.collect()
    )
    assert got == [
        ("TOO_OLD", "person bob is 40"),
        ("TOO_OLD", "person dave is 55"),
    ]


def test_deferred_filter_sync_semantics(engine, entities):
    from data_validation_engine_spark.steps.sync_filters import apply_sync_filters

    filters = [
        DeferredFilter(
            entity_name="people",
            expression="age >= 30",
            reporting=Reporting(code="TOO_YOUNG", message="{{name}} too young"),
        ),
        DeferredFilter(
            entity_name="people",
            expression="country != 'XX'",
            reporting=Reporting(code="BAD_COUNTRY", message="{{name}} bad country"),
        ),
        DeferredFilter(
            entity_name="people",
            expression="age < 100",
            reporting=Reporting(code="IMPLAUSIBLE", message="x", emit="warning"),
        ),
    ]
    msgs = apply_sync_filters(entities, filters)
    by_code = {
        (r["error_code"], r["record_json"] is not None)
        for r in msgs.collect()
    }
    # carol fails TOO_YOUNG; dave fails BAD_COUNTRY; both messages emitted
    # before any drop
    codes = sorted(r["error_code"] for r in msgs.collect())
    assert codes == ["BAD_COUNTRY", "TOO_YOUNG"]
    assert {r[1] for r in by_code} == {True}
    # survivors: alice, bob (carol dropped by filter 1, dave by filter 2);
    # warning filter dropped nobody
    assert sorted(r["name"] for r in entities["people"].collect()) == [
        "alice",
        "bob",
    ]
    assert entities["people"].columns == ["id", "name", "age", "country"]


def test_multi_error_collection(engine, spark):
    from data_validation_engine_spark.steps.sync_filters import apply_sync_filters

    df = spark.createDataFrame([(1, 200, "XX")], "id long, age long, country string")
    entities = {"t": df}
    filters = [
        DeferredFilter(
            entity_name="t", expression="age < 100",
            reporting=Reporting(code="E1", message="m1"),
        ),
        DeferredFilter(
            entity_name="t", expression="country = 'FR'",
            reporting=Reporting(code="E2", message="m2"),
        ),
    ]
    msgs = apply_sync_filters(entities, filters)
    # one record collects BOTH error codes (validate-all-then-drop)
    assert sorted(r["error_code"] for r in msgs.collect()) == ["E1", "E2"]
    assert entities["t"].count() == 0


def test_null_predicate_drops_and_notifies(engine, spark):
    from data_validation_engine_spark.steps.sync_filters import apply_sync_filters

    df = spark.createDataFrame(
        [(1, None), (2, 50)], "id long, age long"
    )
    entities = {"t": df}
    msgs = apply_sync_filters(
        entities,
        [
            DeferredFilter(
                entity_name="t", expression="age < 100",
                reporting=Reporting(code="NULL_AGE", message="bad"),
            )
        ],
    )
    assert [r["id"] for r in entities["t"].collect()] == [2]
    assert msgs.count() == 1


def test_parse_step_discriminates():
    step = parse_step(
        {
            "operation": "left_join",
            "entity_name": "a",
            "target_name": "b",
            "join_condition": "a.x = b.y",
        }
    )
    assert isinstance(step, LeftJoin)


def test_sql_function_library(engine, spark, entities):
    out = spark.sql(
        "SELECT over_10(11.0) a, nhsno_mod11_check('9434765919') b, "
        "nhsno_mod11_check('9434765918') c, normalise_postcode('sw1a1aa') d, "
        "is_valid_postcode('SW1A 1AA') e, "
        "number_matches_within_percentage(100.0, 101.0, 0.02) f"
    ).collect()[0]
    assert tuple(out) == (True, True, False, "SW1A 1AA", True, True)


def test_identify_orphans_sub_millisecond_timestamps(engine, spark):
    """Rows differing only in sub-millisecond timestamps must get their own
    rowid: to_json's default timestampFormat truncates to milliseconds,
    which would collapse the pair and let the matching row mask its
    non-matching near-twin (ADVICE r3)."""
    import datetime as dt

    t_match = dt.datetime(2024, 1, 1, 0, 0, 0, 1)  # .000001
    t_miss = dt.datetime(2024, 1, 1, 0, 0, 0, 2)  # .000002
    src = spark.createDataFrame([(t_match,), (t_miss,)], "ts timestamp")
    ref = spark.createDataFrame([(t_match,)], "rts timestamp")
    entities = {"evts": src, "ref": ref}
    engine.evaluate(
        entities,
        config=OrphanIdentification(
            entity_name="evts",
            target_name="ref",
            join_condition="evts.ts = ref.rts",
        ),
    )
    flags = {
        r["ts"].microsecond: r["IsOrphaned"]
        for r in entities["evts"].collect()
    }
    assert flags == {1: False, 2: True}


# -- driver-side ref-count pass (SURVEY §7 persist-placement hook) ------------


def test_entity_read_counts():
    from data_validation_engine_spark.scale import entity_read_counts
    from data_validation_engine_spark.steps import parse_step

    steps = [
        parse_step({"operation": "add", "entity_name": "a",
                    "column_name": "x", "expression": "1"}),
        parse_step({"operation": "left_join", "entity_name": "a",
                    "target_name": "b",
                    "join_condition": "a.k = b.k"}),
        parse_step({"operation": "inner_join", "entity_name": "c",
                    "target_name": "b",
                    "join_condition": "c.k = b.k"}),
        parse_step({"operation": "remove_entity", "entity_names": ["b"]}),
    ]
    counts = entity_read_counts(steps)
    # remove_entity is NOT a read (it deletes without computing lineage)
    assert counts == {"a": 2, "b": 2, "c": 1}


def test_every_declared_step_type_dispatches():
    """A step type is declared once, by its config class: the AnyStep
    union is every ``operation``-bearing model in ``configs``, tags are
    unique, each member has exactly one binding row or handler method,
    and every public engine method with a keyword-only ``config`` handles
    a member. A binding's function imports, names only real config
    fields, and accepts the arguments the row passes (a broken row would
    otherwise only fail at evaluate() time in production)."""
    import collections
    import inspect
    import typing

    from pydantic import BaseModel

    from data_validation_engine_spark.steps import configs
    from data_validation_engine_spark.steps.engine import (
        BINDINGS,
        HANDLERS,
        StepEngine,
    )

    union = typing.get_args(typing.get_args(configs.AnyStep)[0])
    declared = {
        model
        for _, model in inspect.getmembers(configs, inspect.isclass)
        if issubclass(model, BaseModel)
        and model.__module__ == configs.__name__
        and "operation" in model.model_fields
    }
    assert set(union) == declared
    tags = collections.Counter(t.model_fields["operation"].default for t in union)
    assert [tag for tag, n in tags.items() if n > 1] == []

    annotated = {}
    for name, method in vars(StepEngine).items():
        if name.startswith("_") or not inspect.isfunction(method):
            continue
        param = inspect.signature(method).parameters.get("config")
        if param is not None and param.kind is param.KEYWORD_ONLY:
            annotated[name] = typing.get_type_hints(method)["config"]
    # the dispatch entry point takes any step
    del annotated["evaluate"]
    assert {n: t for n, t in annotated.items() if t not in union} == {}
    assert HANDLERS == {t: getattr(StepEngine, n) for n, t in annotated.items()}

    assert set(BINDINGS) <= set(union)
    routes = collections.Counter([*BINDINGS, *annotated.values()])
    assert {t.__name__: routes[t] for t in union if routes[t] != 1} == {}

    problems = []
    for config_type, binding in BINDINGS.items():
        fn = binding.function()
        fields = [f.removeprefix("@") for f in binding.args]
        fields += [f.removeprefix("@") for f in binding.kwargs.values()]
        unknown = [f for f in fields if f not in config_type.model_fields]
        if unknown:
            problems.append((config_type.__name__, f"not fields: {unknown}"))
        try:
            inspect.signature(fn).bind(*binding.args, **binding.kwargs)
        except TypeError as exc:
            problems.append((config_type.__name__, str(exc)))
    assert problems == []


#: binding parameters whose library default ``None`` the function reads as
#: empty (``list(x or [])``), so a config default of ``()`` agrees with it
_NONE_IS_EMPTY = {
    ("select_token_budget", "group_cols"),
    ("negative_samples", "pool_cols"),
    ("grouped_auc", "group_cols"),
    ("standardize", "group_cols"),
}

#: (config type, field) -> why its default differs from the library's;
#: a default is not changed here, because that changes what a dischema
#: that omits the field computes
_DEFAULT_DIFFERENCES = {
    ("SimHashPairs", "bits"): "the declared step computes 32-bit "
    "signatures; simhash_pairs defaults to 16",
    ("SimHashPairs", "max_hamming"): "the declared step keeps pairs within "
    "hamming 1; simhash_pairs defaults to 2",
    ("ExtractHtmlText", "output_column"): "same column: extract_html_text "
    "writes output_col or 'text'",
    ("HashSplit", "splits"): "same split: hash_split uses splits or "
    "{train: 0.8, val: 0.1, test: 0.1}",
}


def test_binding_defaults_match_library_defaults():
    """A config field a binding forwards to a parameter with a default
    declares that same default, so a declared step and a library call that
    both omit it compute the same thing; the exceptions are listed above
    with their reasons."""
    import inspect

    from pydantic_core import PydanticUndefined

    from data_validation_engine_spark.steps.engine import BINDINGS

    differ = {}
    for config_type, binding in BINDINGS.items():
        fn = binding.function()
        params = inspect.signature(fn).parameters
        names = list(params)
        forwarded = [*zip(names, binding.args), *binding.kwargs.items()]
        for param, field in forwarded:
            library = params[param].default
            if field.startswith("@") or library is inspect.Parameter.empty:
                continue
            info = config_type.model_fields[field]
            if info.default_factory is not None:
                declared = info.default_factory()
            else:
                declared = info.default
            if declared is PydanticUndefined:
                declared = "<required>"
            # a binding passes tuples as lists
            if isinstance(declared, tuple):
                declared = list(declared)
            if isinstance(library, tuple):
                library = list(library)
            if declared == [] and library is None and (
                (fn.__name__, param) in _NONE_IS_EMPTY
            ):
                continue
            if declared != library:
                differ[(config_type.__name__, field)] = (declared, library)
    assert set(differ) == set(_DEFAULT_DIFFERENCES), differ


def test_every_step_type_imports_from_steps():
    """The package exports the whole vocabulary, not a hand-kept subset."""
    import typing

    import data_validation_engine_spark.steps as steps
    from data_validation_engine_spark.steps import configs

    union = typing.get_args(typing.get_args(configs.AnyStep)[0])
    missing = [t.__name__ for t in union if getattr(steps, t.__name__, None) is not t]
    assert missing == []
    assert steps.AnyStep is configs.AnyStep


def test_driver_engine_does_not_pin_sessions(spark):
    """``__spark_entry__._engine`` keeps no reference to the session it
    serves: ``_parallel_arms`` runs every arm on a ``spark.newSession()``,
    and a cached engine would keep each of them alive for good."""
    import gc
    import weakref

    import __spark_entry__ as entry

    arm = spark.newSession()
    entry._engine(arm)
    ref = weakref.ref(arm)
    del arm
    # pyspark's _monkey_patch_RDD pins the most recently constructed
    # session, so construct one more before collecting
    spark.newSession()
    gc.collect()
    assert ref() is None
