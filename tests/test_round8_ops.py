"""Round-8 operators: SCD2 history, exact-quota sampling, winsorize,
impute, KMV set algebra — library semantics + declared-step parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_validation_engine_spark.steps import parse_step


@pytest.fixture()
def engine(spark):
    from data_validation_engine_spark.steps.engine import StepEngine

    return StepEngine(spark)


class TestScd2:
    def _ledger(self, spark):
        return spark.createDataFrame(
            [
                ("I", 1, "a", 10),
                ("U", 1, "a2", 30),
                ("D", 1, None, 50),
                ("I", 1, "a3", 70),
                ("I", 2, "b", 20),
            ],
            "op string, id int, v string, seq int",
        )

    def test_versions_and_validity(self, spark):
        from data_validation_engine_spark.merge import scd2_from_ledger

        hist = {
            (r.id, r.valid_from): (r.v, r.valid_to, r.is_current)
            for r in scd2_from_ledger(
                self._ledger(spark), ["id"], sequence_col="seq"
            ).collect()
        }
        assert hist == {
            (1, 10): ("a", 30, False),
            (1, 30): ("a2", 50, False),   # closed by the DELETE
            (1, 70): ("a3", None, True),  # reborn after deletion
            (2, 20): ("b", None, True),
        }

    @pytest.mark.slow
    def test_snapshot_matches_apply_changes(self, spark):
        from pyspark.sql.types import StructType

        from data_validation_engine_spark.merge import (
            apply_changes,
            scd2_from_ledger,
            scd2_snapshot,
        )

        ledger = self._ledger(spark)
        hist = scd2_from_ledger(ledger, ["id"], sequence_col="seq")
        empty = spark.createDataFrame([], "id int, v string")
        for s in (5, 10, 30, 50, 60, 70, 99):
            snap = {
                (r.id, r.v)
                for r in scd2_snapshot(hist, s).collect()
            }
            replay = {
                (r.id, r.v)
                for r in apply_changes(
                    empty,
                    ledger.where(F.col("seq") <= s),
                    ["id"],
                    sequence_col="seq",
                ).collect()
            }
            assert snap == replay, f"as_of={s}"

    def test_guards(self, spark):
        from data_validation_engine_spark.merge import scd2_from_ledger

        bad_op = spark.createDataFrame(
            [("X", 1, "a", 1)], "op string, id int, v string, seq int"
        )
        with pytest.raises(Exception, match="unknown op"):
            scd2_from_ledger(bad_op, ["id"], sequence_col="seq").collect()
        dup = spark.createDataFrame(
            [("I", 1, "a", 1), ("U", 1, "b", 1)],
            "op string, id int, v string, seq int",
        )
        with pytest.raises(Exception, match="duplicate"):
            scd2_from_ledger(dup, ["id"], sequence_col="seq").collect()

    def test_declared_step(self, spark, engine):
        from data_validation_engine_spark.merge import scd2_from_ledger

        ents = {"ledger": self._ledger(spark)}
        engine.evaluate(
            ents,
            config=parse_step(
                {
                    "operation": "scd2",
                    "entity_name": "ledger",
                    "keys": ["id"],
                    "sequence_column": "seq",
                    "new_entity_name": "hist",
                }
            ),
        )
        want = scd2_from_ledger(
            self._ledger(spark), ["id"], sequence_col="seq"
        )
        assert sorted(map(tuple, ents["hist"].collect())) == sorted(
            map(tuple, want.collect())
        )


class TestExactQuotaSample:
    def test_exact_counts_and_determinism(self, spark):
        from data_validation_engine_spark.llmops.split import (
            exact_quota_sample,
        )

        df = spark.range(0, 500).selectExpr(
            "id", "CAST(id % 7 AS INT) AS s"
        )
        got = exact_quota_sample(
            df, "id", 10, strata_cols=["s"], seed="r8"
        )
        per = {
            r.s: r.n
            for r in got.groupBy("s").agg(F.count("*").alias("n")).collect()
        }
        assert per == {i: 10 for i in range(7)}
        # stable under repartitioning — same exact id set
        ids1 = {r.id for r in got.collect()}
        ids2 = {
            r.id
            for r in exact_quota_sample(
                df.repartition(13), "id", 10, strata_cols=["s"], seed="r8"
            ).collect()
        }
        assert ids1 == ids2

    def test_small_stratum_keeps_all(self, spark):
        from data_validation_engine_spark.llmops.split import (
            exact_quota_sample,
        )

        df = spark.range(0, 5).selectExpr("id", "CAST(0 AS INT) AS s")
        assert (
            exact_quota_sample(df, "id", 100, strata_cols=["s"]).count()
            == 5
        )

    def test_global_case(self, spark):
        from data_validation_engine_spark.llmops.split import (
            exact_quota_sample,
        )

        df = spark.range(0, 100)
        a = {r.id for r in exact_quota_sample(df, "id", 9).collect()}
        b = {
            r.id
            for r in exact_quota_sample(
                df.repartition(5), "id", 9
            ).collect()
        }
        assert a == b and len(a) == 9


class TestWinsorize:
    def test_clips_to_group_bounds(self, spark):
        from data_validation_engine_spark.llmops.analytics import (
            grouped_quantiles,
            winsorize,
        )

        df = spark.range(0, 200).selectExpr(
            "CAST(id % 2 AS INT) AS g", "CAST(id AS DOUBLE) AS v", "id"
        )
        out = winsorize(df, ["g"], "v", lower=0.1, upper=0.9)
        q = {
            r.g: (r.lo, r.hi)
            for r in grouped_quantiles(
                df, ["g"], "v", [0.1, 0.9], names=["lo", "hi"]
            ).collect()
        }
        for r in out.collect():
            lo, hi = q[r.g]
            assert lo <= r.v <= hi
        # row count unchanged; NULLs pass through
        assert out.count() == 200
        withnull = df.withColumn(
            "v", F.when(F.col("id") == 0, None).otherwise(F.col("v"))
        )
        nulls = winsorize(withnull, ["g"], "v").where("v IS NULL").count()
        assert nulls == 1

    def test_declared_step_out_col(self, spark, engine):
        df = spark.range(0, 50).selectExpr("id", "CAST(id AS DOUBLE) AS v")
        ents = {"t": df}
        engine.evaluate(
            ents,
            config=parse_step(
                {
                    "operation": "winsorize",
                    "entity_name": "t",
                    "value_column": "v",
                    "lower": 0.0,
                    "upper": 0.5,
                    "output_column": "v_w",
                    "new_entity_name": "w",
                }
            ),
        )
        rows = ents["w"].collect()
        assert {"v", "v_w"} <= set(ents["w"].columns)
        assert max(r.v_w for r in rows) < max(r.v for r in rows)


class TestImpute:
    def test_mean_median_constant_per_group(self, spark):
        from data_validation_engine_spark.llmops.analytics import (
            impute_nulls,
        )

        df = spark.createDataFrame(
            [
                ("a", 1, 10.0, None),
                ("a", None, None, "x"),
                ("a", 3, 30.0, "y"),
                ("b", 7, None, None),
                ("b", None, 50.0, "z"),
            ],
            "g string, i int, d double, s string",
        )
        out = {
            (r.g, r.i, r.d, r.s)
            for r in impute_nulls(
                df,
                {"i": "mean", "d": "median", "s": "none"},
                group_cols=["g"],
            ).collect()
        }
        # a-group: mean(i)=2, median(d)=20.0; b-group: mean(i)=7,
        # median(d)=50.0; s constant-fills to 'none'
        assert ("a", 2, 20.0, "x") in out
        assert ("b", 7, 50.0, "none") in out or ("b", 7, 50.0, "z") in out
        assert all(i is not None and d is not None for _, i, d, _ in out)

    def test_all_null_cohort_stays_null(self, spark):
        from data_validation_engine_spark.llmops.analytics import (
            impute_nulls,
        )

        df = spark.createDataFrame(
            [("a", None), ("a", None)], "g string, v int"
        )
        out = impute_nulls(df, {"v": "mean"}, group_cols=["g"]).collect()
        assert all(r.v is None for r in out)

    def test_validation(self, spark):
        from data_validation_engine_spark.llmops.analytics import (
            impute_nulls,
        )

        df = spark.createDataFrame([(1,)], "a int")
        with pytest.raises(ValueError, match="not in frame"):
            impute_nulls(df, {"zz": "mean"})
        with pytest.raises(ValueError, match="at least one column"):
            impute_nulls(df, {})


class TestKmvSetAlgebra:
    def test_exact_when_unsaturated(self, spark):
        from data_validation_engine_spark.llmops.sketch import (
            kmv_set_estimates,
            kmv_sketch,
        )

        a = spark.range(0, 60).selectExpr("id AS v")          # {0..59}
        b = spark.range(40, 100).selectExpr("id AS v")        # {40..99}
        sa = kmv_sketch(a, [], "v", k=256)
        sb = kmv_sketch(b, [], "v", k=256)
        r = kmv_set_estimates(sa, sb, [], k=256).collect()[0]
        assert r.union_n_seen == 100 and r.union_est == 100.0
        assert r.n_both == 20 and r.intersect_est == 20.0
        assert abs(r.jaccard - 0.2) < 1e-12

    def test_estimates_close_when_saturated(self, spark):
        from data_validation_engine_spark.llmops.sketch import (
            kmv_set_estimates,
            kmv_sketch,
        )

        a = spark.range(0, 6000).selectExpr("id AS v")
        b = spark.range(3000, 9000).selectExpr("id AS v")
        sa = kmv_sketch(a, [], "v", k=256)
        sb = kmv_sketch(b, [], "v", k=256)
        r = kmv_set_estimates(sa, sb, [], k=256).collect()[0]
        # union=9000, intersection=3000, jaccard=1/3; ~1/sqrt(k) error
        assert abs(r.union_est - 9000) / 9000 < 0.2
        assert abs(r.jaccard - 1 / 3) < 0.15
        assert abs(r.intersect_est - 3000) / 3000 < 0.35

    def test_declared_step_grouped(self, spark, engine):
        ents = {
            "l": spark.range(0, 200).selectExpr(
                "CAST(id % 2 AS INT) AS g", "id AS v"
            ),
            "r": spark.range(100, 300).selectExpr(
                "CAST(id % 2 AS INT) AS g", "id AS w"
            ),
        }
        engine.evaluate(
            ents,
            config=parse_step(
                {
                    "operation": "kmv_set",
                    "entity_name": "l",
                    "target_name": "r",
                    "value_column": "v",
                    "target_value_column": "w",
                    "group_by": ["g"],
                    "k": 512,
                    "new_entity_name": "est",
                }
            ),
        )
        rows = {r.g: r for r in ents["est"].collect()}
        # per group: 100 left, 100 right, 50 shared -> union 150 exact
        # (unsaturated at k=512)
        for g in (0, 1):
            assert rows[g].union_est == 150.0
            assert rows[g].intersect_est == 50.0


class TestSqlQueryStep:
    def test_parameterized_query_no_temp_views(self, spark):
        from data_validation_engine_spark.steps import StepEngine, parse_step

        eng = StepEngine(spark)
        ents = {
            "a": spark.createDataFrame([(1, "x"), (2, "y")], "id int, v string"),
            "b": spark.createDataFrame([(1, 10.0)], "id int, w double"),
        }
        before = {t.name for t in spark.catalog.listTables()}
        eng.evaluate(
            ents,
            config=parse_step(
                {
                    "operation": "sql",
                    "entity_name": "a",
                    "inputs": ["b"],
                    "query": "SELECT a.id, v, w FROM {a} a JOIN {b} b"
                    " USING (id)",
                    "new_entity_name": "j",
                }
            ),
        )
        assert [tuple(r) for r in ents["j"].collect()] == [(1, "x", 10.0)]
        # parameterized sql must not leak temp views into the catalog
        assert {t.name for t in spark.catalog.listTables()} == before

    def test_correlated_subquery_shape(self, spark):
        from data_validation_engine_spark.steps import StepEngine, parse_step

        eng = StepEngine(spark)
        ents = {
            "t": spark.createDataFrame(
                [("g", 1.0), ("g", 2.0), ("g", 3.0), ("h", 5.0)],
                "seg string, bal double",
            )
        }
        eng.evaluate(
            ents,
            config=parse_step(
                {
                    "operation": "sql",
                    "entity_name": "t",
                    "query": "SELECT bal, (SELECT count(*) FROM {t} t2"
                    " WHERE t2.seg = t.seg AND t2.bal > t.bal) AS n"
                    " FROM {t} t",
                    "new_entity_name": "o",
                }
            ),
        )
        got = {r.bal: r.n for r in ents["o"].collect()}
        assert got == {1.0: 2, 2.0: 1, 3.0: 0, 5.0: 0}


class TestBroadcastTargetHint:
    def test_hint_forces_broadcast_when_stats_wouldnt(self, spark):
        from data_validation_engine_spark.steps import StepEngine, LeftJoin

        eng = StepEngine(spark)
        big = spark.createDataFrame(
            [(i, i % 5) for i in range(100)], "id int, k int"
        )
        dim = spark.createDataFrame(
            [(i, f"d{i}") for i in range(5)], "k int, label string"
        )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            for flag, expect in ((False, 0), (True, 1)):
                ents = {"big": big, "dim": dim}
                eng.evaluate(
                    ents,
                    config=LeftJoin(
                        entity_name="big",
                        target_name="dim",
                        join_condition="big.k = dim.k",
                        new_columns={"dim.label": "label"},
                        broadcast_target=flag,
                    ),
                )
                plan = (
                    ents["big"]._jdf.queryExecution()
                    .executedPlan().toString()
                )
                assert ("BroadcastHashJoin" in plan) == bool(expect), plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


class TestBpeSteps:
    def test_train_then_encode_declared(self, spark):
        from data_validation_engine_spark.steps import StepEngine, parse_step

        eng = StepEngine(spark)
        ents = {
            "docs": spark.createDataFrame(
                [(0, "low low low lower"), (1, "lowest low")],
                "doc_id long, text string",
            )
        }
        eng.evaluate(
            ents,
            config=parse_step(
                {
                    "operation": "bpe_train",
                    "entity_name": "docs",
                    "text_column": "text",
                    "n_merges": 3,
                    "new_entity_name": "merges",
                }
            ),
        )
        merges = ents["merges"].orderBy("rank").collect()
        assert [(r["left"], r["right"]) for r in merges][:2] == [
            ("l", "o"), ("lo", "w"),
        ]
        eng.evaluate(
            ents,
            config=parse_step(
                {
                    "operation": "bpe_encode",
                    "entity_name": "docs",
                    "merges_name": "merges",
                    "id_column": "doc_id",
                    "text_column": "text",
                    "new_entity_name": "enc",
                }
            ),
        )
        got = {r.doc_id: r.subwords_csv for r in ents["enc"].collect()}
        assert got[0].startswith("low low low")


class TestRepartitionStep:
    def test_modes(self, spark):
        from data_validation_engine_spark.steps import StepEngine, parse_step

        eng = StepEngine(spark)
        df = spark.createDataFrame(
            [(i, i % 3) for i in range(30)], "id int, k int"
        ).repartition(6)
        for cfg, check in [
            ({"mode": "coalesce", "n": 2},
             lambda o: o.rdd.getNumPartitions() == 2),
            ({"mode": "hash", "columns": ["k"], "n": 4},
             lambda o: o.rdd.getNumPartitions() == 4),
            ({"mode": "range", "columns": ["id"], "n": 3},
             lambda o: o.rdd.getNumPartitions() <= 3),
        ]:
            ents = {"t": df}
            eng.evaluate(
                ents,
                config=parse_step(
                    {"operation": "repartition", "entity_name": "t", **cfg}
                ),
            )
            assert check(ents["t"]), cfg
            assert ents["t"].count() == 30

    def test_rejects_bad_config(self, spark):
        from data_validation_engine_spark.steps import StepEngine, parse_step
        import pytest as _pt

        eng = StepEngine(spark)
        ents = {"t": spark.range(3)}
        with _pt.raises(ValueError, match="coalesce requires n"):
            eng.evaluate(
                ents,
                config=parse_step(
                    {"operation": "repartition", "entity_name": "t",
                     "mode": "coalesce"}
                ),
            )
        with _pt.raises(ValueError, match="requires n or columns"):
            eng.evaluate(
                ents,
                config=parse_step(
                    {"operation": "repartition", "entity_name": "t"}
                ),
            )
