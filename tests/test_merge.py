"""merge_upsert / apply_changes: MERGE INTO and CDC-apply semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_validation_engine_spark.merge import (
    apply_changes,
    latest_per_key,
    merge_upsert,
)
from data_validation_engine_spark.steps import StepEngine, parse_step


@pytest.fixture()
def base(spark):
    return spark.createDataFrame(
        [
            (1, "alice", 10.0),
            (2, "bob", 20.0),
            (3, "carol", 30.0),
        ],
        "id int, name string, bal double",
    )


class TestMergeUpsert:
    def test_update_insert_passthrough(self, spark, base):
        upd = spark.createDataFrame(
            [(2, "bobby", 25.0), (4, "dave", 40.0)],
            "id int, name string, bal double",
        )
        got = {
            r.id: (r.name, r.bal)
            for r in merge_upsert(base, upd, ["id"]).collect()
        }
        assert got == {
            1: ("alice", 10.0),     # untouched
            2: ("bobby", 25.0),     # updated
            3: ("carol", 30.0),     # untouched
            4: ("dave", 40.0),      # inserted
        }

    def test_partial_columns_and_set_null(self, spark, base):
        # updates carry only (id, bal); name is preserved on matches and
        # NULL-filled on inserts; a NULL update value means SET NULL
        upd = spark.createDataFrame(
            [(1, None), (5, 50.0)], "id int, bal double"
        )
        got = {
            r.id: (r.name, r.bal)
            for r in merge_upsert(base, upd, ["id"]).collect()
        }
        assert got[1] == ("alice", None)
        assert got[5] == (None, 50.0)
        assert got[2] == ("bob", 20.0)

    def test_insert_missing_false_is_pure_update(self, spark, base):
        upd = spark.createDataFrame(
            [(2, "bobby", 25.0), (4, "dave", 40.0)],
            "id int, name string, bal double",
        )
        out = merge_upsert(base, upd, ["id"], insert_missing=False)
        assert {r.id for r in out.collect()} == {1, 2, 3}

    def test_duplicate_update_keys_fail_loudly(self, spark, base):
        upd = spark.createDataFrame(
            [(2, "x", 1.0), (2, "y", 2.0)],
            "id int, name string, bal double",
        )
        with pytest.raises(Exception, match="duplicate update keys"):
            merge_upsert(base, upd, ["id"]).collect()

    def test_duplicate_keys_fail_on_insert_path_too(self, spark, base):
        # keys ABSENT from base take the insert branch — a guard that
        # only wraps the update join would let duplicates insert twice
        # silently (round-8 regression test for exactly that hole)
        upd = spark.createDataFrame(
            [(999, "x", 1.0), (999, "y", 2.0)],
            "id int, name string, bal double",
        )
        with pytest.raises(Exception, match="duplicate update keys"):
            merge_upsert(base, upd, ["id"]).collect()
        empty = base.limit(0)
        with pytest.raises(Exception, match="duplicate update keys"):
            merge_upsert(empty, upd, ["id"]).collect()

    def test_sequence_col_collapses_latest_wins(self, spark, base):
        upd = spark.createDataFrame(
            [(2, "old", 1.0, 1), (2, "new", 2.0, 2)],
            "id int, name string, bal double, seq int",
        )
        got = {
            r.id: (r.name, r.bal)
            for r in merge_upsert(
                base, upd, ["id"], sequence_col="seq"
            ).collect()
        }
        assert got[2] == ("new", 2.0)
        assert "seq" not in merge_upsert(
            base, upd, ["id"], sequence_col="seq"
        ).columns

    def test_schema_widening_rejected(self, spark, base):
        upd = spark.createDataFrame(
            [(2, "x")], "id int, extra_col string"
        )
        with pytest.raises(ValueError, match="extra_col"):
            merge_upsert(base, upd, ["id"])

    def test_broadcastable_delta_plan(self, spark, base):
        # the normal 100 TB shape: tiny delta against a big base — the
        # base side must never shuffle. The update join broadcasts
        # statically (hint); the insert path's matched-key set proves
        # small at runtime, so AQE must finish with broadcast joins only.
        upd = spark.createDataFrame(
            [(2, "bobby", 25.0)], "id int, name string, bal double"
        )
        out = merge_upsert(base, F.broadcast(upd), ["id"])
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        final = plan.split("== Initial Plan ==")[0]
        assert "BroadcastHashJoin" in final
        assert "SortMergeJoin" not in final

    def test_latest_per_key_deterministic_on_seq_ties(self, spark):
        df = spark.createDataFrame(
            [(1, 5, "b"), (1, 5, "a")], "k int, seq int, v string"
        ).repartition(4)
        rows = latest_per_key(df, ["k"], "seq").collect()
        assert [(r.k, r.seq, r.v) for r in rows] == [(1, 5, "a")]

    def test_latest_per_key_ties_with_nulls_follow_ansi(self, spark):
        # tiebreak is ascending NULLS LAST (the ANSI/DuckDB default), so
        # a cross-engine replay of the same ORDER BY picks one winner
        # even when a tied row carries NULLs
        df = spark.createDataFrame(
            [(1, 5, None), (1, 5, "a")], "k int, seq int, v string"
        ).repartition(4)
        rows = latest_per_key(df, ["k"], "seq").collect()
        assert [(r.k, r.seq, r.v) for r in rows] == [(1, 5, "a")]


class TestApplyChanges:
    def test_cdc_ledger(self, spark, base):
        changes = spark.createDataFrame(
            [
                ("U", 1, "al", 11.0, 1),
                ("D", 2, None, None, 1),
                ("I", 4, "dave", 40.0, 1),
                ("U", 4, "david", 41.0, 2),   # later update wins
                ("D", 3, None, None, 1),
                ("I", 3, "carl", 33.0, 2),    # delete-then-reinsert
            ],
            "op string, id int, name string, bal double, seq int",
        )
        got = {
            r.id: (r.name, r.bal)
            for r in apply_changes(
                base, changes, ["id"], sequence_col="seq"
            ).collect()
        }
        assert got == {
            1: ("al", 11.0),
            3: ("carl", 33.0),
            4: ("david", 41.0),
        }

    def test_unknown_op_fails_loudly(self, spark, base):
        changes = spark.createDataFrame(
            [("X", 1, "z", 0.0)], "op string, id int, name string, bal double"
        )
        with pytest.raises(Exception, match="unknown op"):
            apply_changes(base, changes, ["id"]).collect()


class TestDeclaredSteps:
    def test_merge_upsert_step(self, spark, base):
        eng = StepEngine(spark, register_functions=False)
        upd = spark.createDataFrame(
            [(2, "bobby", 25.0), (4, "dave", 40.0)],
            "id int, name string, bal double",
        )
        ents = {"base": base, "delta": upd}
        eng.evaluate(
            ents,
            config=parse_step(
                {
                    "operation": "merge_upsert",
                    "entity_name": "base",
                    "target_name": "delta",
                    "keys": ["id"],
                    "new_entity_name": "merged",
                }
            ),
        )
        assert ents["merged"].count() == 4

    def test_apply_changes_step(self, spark, base):
        eng = StepEngine(spark, register_functions=False)
        changes = spark.createDataFrame(
            [("D", 1, None, None, 1)],
            "op string, id int, name string, bal double, seq int",
        )
        ents = {"base": base, "ledger": changes}
        eng.evaluate(
            ents,
            config=parse_step(
                {
                    "operation": "apply_changes",
                    "entity_name": "base",
                    "target_name": "ledger",
                    "keys": ["id"],
                    "sequence_column": "seq",
                    "new_entity_name": "current",
                }
            ),
        )
        assert {r.id for r in ents["current"].collect()} == {2, 3}


def test_null_op_raises_with_readable_message(spark):
    base = spark.createDataFrame([(1, "a")], "id int, name string")
    changes = spark.createDataFrame(
        [(None, 1, "z")], "op string, id int, name string"
    )
    with pytest.raises(Exception, match="unknown op value: NULL"):
        apply_changes(base, changes, ["id"]).collect()


class TestMergeModelBased:
    """Hypothesis model check: apply_changes over arbitrary small ledgers
    equals a pure-Python dictionary replay. Few examples (each costs a
    Spark job), wide shapes (overlapping keys, dup-key updates, deletes
    of absent keys, delete-then-reinsert)."""

    @pytest.mark.slow
    def test_against_dict_model(self, spark):
        from hypothesis import given, settings, HealthCheck
        from hypothesis import strategies as st

        keys = st.integers(min_value=0, max_value=6)
        vals = st.integers(min_value=-3, max_value=3)

        @settings(
            max_examples=12,
            deadline=None,
            suppress_health_check=list(HealthCheck),
        )
        @given(
            base_rows=st.dictionaries(keys, vals, max_size=5),
            ledger=st.lists(
                st.tuples(st.sampled_from("IUD"), keys, vals),
                max_size=8,
            ),
        )
        def check(base_rows, ledger):
            model = dict(base_rows)
            for op, k, v in ledger:          # ledger order = seq order
                if op == "D":
                    model.pop(k, None)
                else:
                    model[k] = v
            base = spark.createDataFrame(
                [(k, v) for k, v in base_rows.items()] or [(None, None)],
                "id int, val int",
            ).where("id IS NOT NULL")
            changes = spark.createDataFrame(
                [
                    (op, k, v, seq)
                    for seq, (op, k, v) in enumerate(ledger)
                ] or [("U", None, None, None)],
                "op string, id int, val int, seq int",
            ).where("id IS NOT NULL")
            from data_validation_engine_spark.merge import apply_changes

            got = {
                r.id: r.val
                for r in apply_changes(
                    base, changes, ["id"], sequence_col="seq"
                ).collect()
            }
            assert got == model

        check()


class TestSnapshotDiff:
    def test_ledger_statuses(self, spark):
        from data_validation_engine_spark.merge import snapshot_diff

        old = spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None)],
            "id int, name string, bal double",
        )
        new = spark.createDataFrame(
            [(1, "a", 1.0), (2, "B", 2.0), (4, "d", 4.0), (5, None, None)],
            "id int, name string, bal double",
        )
        got = {
            r.id: (r.op, r.name, r.bal)
            for r in snapshot_diff(old, new, ["id"]).collect()
        }
        assert got == {
            2: ("U", "B", 2.0),       # changed (case differs)
            3: ("D", None, None),     # removed
            4: ("I", "d", 4.0),       # added
            5: ("I", None, None),     # added with NULL values
        }
        assert 1 not in got           # unchanged emits nothing

    def test_null_safe_change_detection(self, spark):
        from data_validation_engine_spark.merge import snapshot_diff

        old = spark.createDataFrame([(1, None)], "id int, v string")
        new_same = spark.createDataFrame([(1, None)], "id int, v string")
        new_set = spark.createDataFrame([(1, "x")], "id int, v string")
        assert snapshot_diff(old, new_same, ["id"]).count() == 0
        r = snapshot_diff(old, new_set, ["id"]).collect()[0]
        assert (r.op, r.v) == ("U", "x")

    @pytest.mark.slow
    def test_roundtrip_law_with_apply_changes(self, spark):
        from hypothesis import given, settings, HealthCheck
        from hypothesis import strategies as st

        from data_validation_engine_spark.merge import (
            apply_changes,
            snapshot_diff,
        )

        keys = st.integers(min_value=0, max_value=5)
        vals = st.one_of(st.none(), st.integers(min_value=0, max_value=2))

        @settings(
            max_examples=10,
            deadline=None,
            suppress_health_check=list(HealthCheck),
        )
        @given(
            old_rows=st.dictionaries(keys, vals, max_size=4),
            new_rows=st.dictionaries(keys, vals, max_size=4),
        )
        def check(old_rows, new_rows):
            def frame(d):
                return spark.createDataFrame(
                    [(k, v) for k, v in d.items()] or [(None, None)],
                    "id int, v int",
                ).where("id IS NOT NULL")

            old, new = frame(old_rows), frame(new_rows)
            ledger = snapshot_diff(old, new, ["id"])
            rebuilt = {
                r.id: r.v
                for r in apply_changes(old, ledger, ["id"]).collect()
            }
            assert rebuilt == new_rows

        check()

    def test_validation(self, spark):
        from data_validation_engine_spark.merge import snapshot_diff

        df = spark.createDataFrame([(1, "a")], "id int, op string")
        with pytest.raises(ValueError, match="op column name collides"):
            snapshot_diff(df, df, ["id"])
        a = spark.createDataFrame([(1, "a")], "id int, v string")
        b = spark.createDataFrame([(1,)], "id int")
        # compared columns default from the NEW side, so the narrow-new
        # direction compares nothing; the wide-new direction must raise
        with pytest.raises(ValueError, match="missing from a snapshot"):
            snapshot_diff(b, a, ["id"])
        assert snapshot_diff(a, b, ["id"]).count() == 0

    def test_null_key_fails_loudly(self, spark):
        # a NULL-keyed ledger row could never match during apply (keys
        # match with SQL equality), silently breaking the round-trip law
        # — the in-plan guard must fail the action instead
        from data_validation_engine_spark.merge import snapshot_diff

        clean = spark.createDataFrame([(1, "a")], "id int, v string")
        dirty = spark.createDataFrame(
            [(1, "b"), (None, "x")], "id int, v string"
        )
        with pytest.raises(Exception, match="NULL key value"):
            snapshot_diff(clean, dirty, ["id"]).collect()
        with pytest.raises(Exception, match="NULL key value"):
            snapshot_diff(dirty, clean, ["id"]).collect()
