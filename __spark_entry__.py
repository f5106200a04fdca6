"""Driver contract for the spark-graft builder (PySpark target).

Every query below drives the ENGINE (step configs through
``data_validation_engine_spark.StepEngine``), not hand-written Spark — so the
driver's DuckDB-oracle comparison validates operator semantics end to end.

Keys map 1:1 to SURVEY.md §2's operator inventory; ``oracle_sql()`` returns
the ANSI-SQL equivalent DuckDB runs on the same parquet tables.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Iterable, NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_validation_engine_spark import StepEngine
from data_validation_engine_spark.messages import Reporting
from data_validation_engine_spark.steps import (
    Aggregation,
    AntiJoin,
    ColumnAddition,
    ConfirmJoinHasMatch,
    CopyEntity,
    DeferredFilter,
    HeaderJoin,
    ImmediateFilter,
    InnerJoin,
    LeftJoin,
    Notification,
    OneToOneJoin,
    OrphanIdentification,
    SelectColumns,
    SemiJoin,
    TableUnion,
)
from data_validation_engine_spark.steps.sync_filters import apply_sync_filters


def _engine(spark: SparkSession) -> StepEngine:
    # a fresh engine per call: function registration is idempotent per
    # session, and caching engines would keep every arm's newSession() alive
    return StepEngine(spark)


def _load(spark: SparkSession, sf_dir: str, names: Iterable[str]) -> dict[str, DataFrame]:
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}


#: arms constructed at once by :func:`_parallel_arms` (chosen by a
#: concurrency sweep on the bench roster)
_ARM_CONCURRENCY = 4


def _parallel_arms(
    spark: SparkSession,
    sf_dir: str,
    *fns: Callable[[SparkSession, str], DataFrame],
) -> DataFrame:
    """Union independent arm frames, CONSTRUCTING them concurrently.

    Several arms run driver-side Spark actions while they build their
    frame (bounded sketch collects, availableNow streaming drains,
    k-means/BPE driver rounds). Built serially, the row pays the sum of
    those construction walls; here up to ``_ARM_CONCURRENCY`` arms build
    at once, so one arm's scheduling tail is back-filled by another's
    tasks and the row pays ~the max.

    Each arm gets ``spark.newSession()`` — same SparkContext (so
    ReuseExchange/broadcasts still share), but a CLONED SQL conf, so
    per-arm conf pinning (``_state_partitions`` around a stateful
    stream) stays arm-local instead of racing the sibling threads.

    The result is ``unionByName`` in ARGUMENT order — row-for-row the
    serial union: thread timing affects only WHEN each arm's jobs run,
    never their values (every arm is a deterministic function of the
    parquet inputs and arms share no mutable state)."""
    from concurrent.futures import ThreadPoolExecutor

    workers = min(len(fns), _ARM_CONCURRENCY)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futs = [pool.submit(fn, spark.newSession(), sf_dir) for fn in fns]
        dfs = [f.result() for f in futs]
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


from contextlib import contextmanager


@contextmanager
def _state_partitions(spark: SparkSession, n: int = 4):
    """Pin ``spark.sql.shuffle.partitions`` while a STATEFUL streaming
    query plans (the value is frozen into the checkpoint at first
    start). Stateful operators pay a per-partition state-store
    initialisation on every micro-batch — measured 11.8s vs 2.6s for the
    identical stream-stream join at 32 vs 4 partitions on this box — so
    sizing state partitions to the stream's keyspace/volume is a real
    deployment decision AQE cannot make (it never re-plans stateful
    exchanges). Batch queries planned outside the ``with`` are
    unaffected; restore is in a finally.

    Default 4: measured per drain on the bench streams (tiny keyspaces: event types, user ids), 4 is 0.1-0.75s
    faster per availableNow drain and results are partition-count-
    independent (exact stateful aggs). Production streams size n UP with
    the keyspace; this default is the bench-scale setting of the same
    declared knob."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _drain(sdf: DataFrame, path: str):
    """Start an availableNow drain of the streaming frame ``sdf`` into
    parquet at ``path`` (checkpoint beside it); returns the query."""
    return (
        sdf.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", f"{path}_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# relational step queries (SURVEY §2.3)
# ---------------------------------------------------------------------------

def q_add_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-wise projection steps in one row (tagged union): 'add' rows are ColumnAddition + SelectColumns (per-row revenue
    on lineitem, value pinned as exact 1e-4-cents integer STRING); 'filter'
    rows are ImmediateFilter survivors (quantity + date predicate pushed to
    the scan); 'distinct' rows are SelectColumns with distinct. All hashed
    numerics render as STRING in both twins (representation-proof
    discipline)."""
    ents = _load(spark, sf_dir, ["lineitem", "orders"])
    eng = _engine(spark)
    eng.evaluate(
        ents,
        config=ColumnAddition(
            entity_name="lineitem",
            column_name="revenue",
            expression="l_extendedprice * (1 - l_discount)",
        ),
    )
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="lineitem",
            columns=(
                "'add' AS op,"
                " CONCAT(CAST(l_orderkey AS STRING), ':',"
                " CAST(l_linenumber AS STRING)) AS k,"
                " CAST(CAST(ROUND(revenue * 10000) AS BIGINT) AS STRING) AS v"
            ),
            new_entity_name="added",
        ),
    )
    eng.evaluate(
        ents,
        config=ImmediateFilter(
            entity_name="lineitem",
            expression="l_quantity > 45 AND l_shipdate >= '1997-01-01'",
        ),
    )
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="lineitem",
            columns=(
                "'filter' AS op,"
                " CONCAT(CAST(l_orderkey AS STRING), ':',"
                " CAST(l_linenumber AS STRING)) AS k,"
                " CONCAT(CAST(CAST(ROUND(l_quantity * 100) AS BIGINT)"
                " AS STRING), ':', l_returnflag) AS v"
            ),
        ),
    )
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="orders",
            columns="o_orderstatus, o_orderpriority",
            distinct=True,
        ),
    )
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="orders",
            columns=(
                "'distinct' AS op,"
                " CONCAT(o_orderstatus, ':', o_orderpriority) AS k,"
                " '' AS v"
            ),
        ),
    )
    eng.evaluate(
        ents,
        config=TableUnion(
            entity_name="added", target_name="lineitem",
            new_entity_name="added",
        ),
    )
    eng.evaluate(
        ents,
        config=TableUnion(
            entity_name="added", target_name="orders",
            new_entity_name="added",
        ),
    )
    return ents["added"]


def q_group_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation: TPC-H Q1-shaped pricing summary, with the pivot
    variant (fixed value list, no extra distinct job) joined on per
    linestatus — one driver row attests plain AND pivoted aggregation
    The DECLARED unpivot step melts the pivoted frame back to long form and the
    melted value joins on as ``q_roundtrip`` — pivot∘unpivot = identity,
    attested inside the same row (the oracle pins q_roundtrip to the
    directly-aggregated value)."""
    from data_validation_engine_spark.steps import parse_step

    ents = _load(spark, sf_dir, ["lineitem"])
    eng = _engine(spark)
    eng.evaluate(
        ents,
        config=Aggregation(
            entity_name="lineitem",
            group_by="l_returnflag, l_linestatus",
            agg_columns={
                "round(sum(l_quantity), 2)": "sum_qty",
                "round(sum(l_extendedprice), 2)": "sum_base_price",
                "round(sum(l_extendedprice * (1 - l_discount)), 2)": "sum_disc_price",
                "round(avg(l_quantity), 4)": "avg_qty",
                "count(1)": "count_order",
            },
            new_entity_name="q1",
        ),
    )
    eng.evaluate(
        ents,
        config=Aggregation(
            entity_name="lineitem",
            group_by="l_linestatus",
            agg_columns={"round(sum(l_quantity), 2)": "q"},
            pivot_column="l_returnflag",
            pivot_values=["A", "N", "R"],
            new_entity_name="pivoted",
        ),
    )
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "unpivot",
                "entity_name": "pivoted",
                "id_columns": ["l_linestatus"],
                "value_columns": ["A", "N", "R"],
                "variable_column": "rflag",
                "value_column": "q_roundtrip",
                "new_entity_name": "melted",
            }
        ),
    )
    return (
        ents["q1"]
        .join(ents["pivoted"], on="l_linestatus")
        .join(
            ents["melted"].withColumnRenamed("l_linestatus", "__ls"),
            on=(F.col("l_linestatus") == F.col("__ls"))
            & (F.col("l_returnflag") == F.col("rflag")),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_price",
            "sum_disc_price",
            "avg_qty",
            "count_order",
            "A",
            "N",
            "R",
            "q_roundtrip",
        )
    )


# ---------------------------------------------------------------------------
# grouped-ranking / rolling / event-analytics arms
#
# The arms of the window_analytics, event_analytics and sessionize rows.
# Every hashed numeric renders as STRING inside both twins' final SELECT
# (CAST(BIGINT AS STRING) is engine-exact), so the engine->pandas
# dtype-coercion layer (DuckDB HUGEINT -> float64 vs Spark int64) cannot
# contribute a divergence class.
# ---------------------------------------------------------------------------

def _events_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet under the explicit TIMESTAMP schema: the file stores
    NTZ-annotated micros, which a native read surfaces as TIMESTAMP_NTZ;
    casting that to TIMESTAMP shifts by the session zone, so the µs math
    would break under a non-UTC driver. With the explicit schema every
    consumer sees the raw stored INT64 via unix_micros in ANY timezone."""
    return spark.read.schema(_EVENTS_TS_SCHEMA).parquet(
        f"{sf_dir}/events.parquet"
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a streaming source under the same explicit
    TIMESTAMP schema as :func:`_events_ts`."""
    from data_validation_engine_spark.streaming import read_entity_stream

    return read_entity_stream(
        spark, sf_dir, _EVENTS_TS_SCHEMA,
        options={"pathGlobFilter": "events.parquet"},
    )


def q_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 events per event_type by value through the DECLARED TopKPerGroup
    step (llmops/analytics.grouped_topk; WindowGroupLimit plan — the rank
    never materialises the full sort). Hashed surface is all-STRING:
    (rank, event_id, value-cents) pin the exact chosen rows."""
    from data_validation_engine_spark.steps import parse_step

    ents = {"events": _events_ts(spark, sf_dir)}
    eng = _engine(spark)
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "top_k",
                "entity_name": "events",
                "new_entity_name": "tk",
                "group_by": ["event_type"],
                "order_column": "value",
                "k": 5,
                "tiebreak_columns": ["event_id"],
            }
        ),
    )
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="tk",
            columns=(
                "event_type, CAST(rank AS STRING) AS rk,"
                " CAST(event_id AS STRING) AS eid,"
                " CAST(CAST(ROUND(value * 100) AS BIGINT) AS STRING) AS cents"
            ),
        ),
    )
    return ents["tk"].selectExpr(
        "'topk' AS op", "CONCAT_WS('|', event_type, rk) AS k",
        "CONCAT_WS('|', eid, cents) AS v",
    )


def q_rolling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing 1-hour rolling count + sum over event time via the
    DECLARED RollingAggregate step (exact microsecond RANGE frame). The
    summed measure is integer cents BEFORE the sum, so the value cannot
    drift on FP addition order; the hashed frame is all-STRING."""
    from data_validation_engine_spark.steps import parse_step

    ents = {"events": _events_ts(spark, sf_dir)}
    eng = _engine(spark)
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "rolling_agg",
                "entity_name": "events",
                "new_entity_name": "rl",
                "partition_by": ["user_id"],
                "ts_column": "ts",
                "window_seconds": 3600,
                "aggregations": [
                    ["n_1h", "count(1)"],
                    ["cents_1h", "sum(cast(round(value * 100) as bigint))"],
                ],
            }
        ),
    )
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="rl",
            columns=(
                "CAST(event_id AS STRING) AS eid,"
                " CAST(n_1h AS STRING) AS n_1h,"
                " CAST(cents_1h AS STRING) AS cents_1h"
            ),
        ),
    )
    return ents["rl"].selectExpr(
        "'roll' AS op", "eid AS k", "CONCAT_WS('|', n_1h, cents_1h) AS v",
    )


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (p25/p50/p75 of extendedprice per
    returnflag) through the ORDINARY Aggregation step — the expression
    library needs no dedicated step type; DuckDB quantile_cont is the
    independent twin. Values ride as round-to-1e-4 integer STRINGS."""
    ents = _load(spark, sf_dir, ["lineitem"])
    _engine(spark).evaluate(
        ents,
        config=Aggregation(
            entity_name="lineitem",
            group_by="l_returnflag",
            agg_columns={
                "cast(cast(round(percentile(l_extendedprice, 0.25) * 10000)"
                " as bigint) as string)": "p25",
                "cast(cast(round(percentile(l_extendedprice, 0.5) * 10000)"
                " as bigint) as string)": "p50",
                "cast(cast(round(percentile(l_extendedprice, 0.75) * 10000)"
                " as bigint) as string)": "p75",
            },
            new_entity_name="pct",
        ),
    )
    return ents["pct"].selectExpr(
        "'pct' AS op", "l_returnflag AS k",
        "CONCAT_WS('|', p25, p50, p75) AS v",
    )


def q_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy subtotals via the Aggregation step's ``grouping="rollup"``
    with ``grouping_id()`` level tags; DuckDB GROUP BY ROLLUP + GROUPING()
    is the twin. Integer-cents measure rendered as STRING."""
    ents = _load(spark, sf_dir, ["lineitem"])
    eng = _engine(spark)
    eng.evaluate(
        ents,
        config=Aggregation(
            entity_name="lineitem",
            group_by="l_returnflag, l_linestatus",
            grouping="rollup",
            agg_columns={
                "sum(cast(round(l_quantity * 100) as bigint))": "cents",
                "cast(grouping_id() as bigint)": "gid",
            },
            new_entity_name="ru",
        ),
    )
    return ents["ru"].selectExpr(
        "COALESCE(l_returnflag, '*') AS rflag",
        "COALESCE(l_linestatus, '*') AS lstatus",
        "CAST(gid AS STRING) AS gid",
        "CAST(cents AS STRING) AS cents",
    ).selectExpr(
        "'ru' AS op", "CONCAT_WS('|', rflag, lstatus, gid) AS k",
        "cents AS v",
    )


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARED retention_cohorts step (llmops/events.py): users bucketed
    by first-seen day, counted once per later active day; all-integer DIV
    arithmetic on epoch micros, two user-keyed shuffles + one O(days²)
    final agg. Hashed frame all-STRING."""
    from data_validation_engine_spark.steps import parse_step

    ents = {"events": _events_ts(spark, sf_dir)}
    eng = _engine(spark)
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="events",
            columns="user_id, event_type, unix_micros(ts) AS ts_us",
            new_entity_name="ev_us",
        ),
    )
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "retention_cohorts",
                "entity_name": "ev_us",
                "user_column": "user_id",
                "ts_us_column": "ts_us",
                "period_us": 86_400_000_000,
                "new_entity_name": "ret",
            }
        ),
    )
    return ents["ret"].selectExpr(
        "CAST(cohort AS STRING) AS cohort",
        "CAST(offset AS STRING) AS offset",
        "CAST(n_users AS STRING) AS n_users",
    ).selectExpr(
        "'ret' AS op", "CONCAT_WS('|', cohort, offset) AS k",
        "n_users AS v",
    )


def q_funnel_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARED window_funnel step (counts=True): view->click->purchase
    within 3 days of each user's FIRST view, anchored-first-chain
    semantics — one user-keyed shuffle, JVM ``aggregate`` fold over the
    sorted event array, no UDF. The DuckDB twin is the closed-form
    min-cascade, so the hash proves the fold computes exactly the
    documented SQL semantics. Hashed frame all-STRING (a bare DuckDB sum()
    HUGEINT-promotes the unioned column; with both twins rendering STRING
    there is no numeric column left to promote)."""
    from data_validation_engine_spark.steps import parse_step

    ents = {"events": _events_ts(spark, sf_dir)}
    eng = _engine(spark)
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="events",
            columns="user_id, event_type, unix_micros(ts) AS ts_us",
            new_entity_name="ev_us",
        ),
    )
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "window_funnel",
                "entity_name": "ev_us",
                "user_column": "user_id",
                "ts_us_column": "ts_us",
                "event_column": "event_type",
                "steps": ["view", "click", "purchase"],
                "window_us": 3 * 86_400_000_000,
                "counts": True,
                "new_entity_name": "fun",
            }
        ),
    )
    return ents["fun"].selectExpr(
        "CAST(stage AS STRING) AS stage",
        "CAST(n_at_least AS STRING) AS n_at_least",
        "CAST(n_exact AS STRING) AS n_exact",
        "CAST(lag_sum_us AS STRING) AS lag_sum_us",
    ).selectExpr(
        "'fb' AS op", "stage AS k",
        "CONCAT_WS('|', n_at_least, n_exact, lag_sum_us) AS v",
    )


def q_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three enrichment-join step kinds in one row (tagged union):
    'lj' rows are LeftJoin (theta) with last-wins new_columns overwrite;
    'ij' rows are InnerJoin with a compound theta condition; 'o2o' rows
    are OneToOneJoin (integrity-checked many-to-one lookup). All hashed
    numerics render as STRING in both twins."""
    ents = _load(spark, sf_dir, ["customer", "nation", "supplier"])
    eng = _engine(spark)
    eng.evaluate(
        ents,
        config=CopyEntity(entity_name="customer", new_entity_name="cust2"),
    )
    eng.evaluate(
        ents,
        config=LeftJoin(
            entity_name="customer",
            target_name="nation",
            join_condition="customer.c_nationkey = nation.n_nationkey",
            new_columns={"nation.n_name": "nation_name"},
        ),
    )
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="customer",
            columns=(
                "'lj' AS op, CAST(c_custkey AS STRING) AS k,"
                " CONCAT(c_name, '|',"
                " CAST(CAST(ROUND(c_acctbal * 100) AS BIGINT) AS STRING),"
                " '|', COALESCE(nation_name, '~')) AS v"
            ),
        ),
    )
    eng.evaluate(
        ents,
        config=InnerJoin(
            entity_name="supplier",
            target_name="nation",
            join_condition=(
                "supplier.s_nationkey = nation.n_nationkey "
                "AND supplier.s_acctbal > 0"
            ),
            new_columns={"nation.n_name": "nation_name"},
        ),
    )
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="supplier",
            columns=(
                "'ij' AS op, CAST(s_suppkey AS STRING) AS k,"
                " CONCAT(s_name, '|', nation_name) AS v"
            ),
        ),
    )
    eng.evaluate(
        ents,
        config=OneToOneJoin(
            entity_name="cust2",
            target_name="nation",
            join_condition="cust2.c_nationkey = nation.n_nationkey",
            new_columns={"nation.n_regionkey": "regionkey"},
        ),
    )
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="cust2",
            columns=(
                "'o2o' AS op, CAST(c_custkey AS STRING) AS k,"
                " COALESCE(CAST(regionkey AS STRING), '~') AS v"
            ),
        ),
    )
    eng.evaluate(
        ents,
        config=TableUnion(
            entity_name="customer", target_name="supplier",
            new_entity_name="joined",
        ),
    )
    eng.evaluate(
        ents,
        config=TableUnion(
            entity_name="joined", target_name="cust2",
            new_entity_name="joined",
        ),
    )
    return ents["joined"]


def q_flag_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConfirmJoinHasMatch + OrphanIdentification + the AS-OF join + the
    INTERVAL-overlap join, PLUS SemiJoin/AntiJoin over the
    customer/orders graph, all normalised to (op, key, flag, detail) and
    unioned through the engine — one driver row attests all six. The asof branch
    runs as a DECLARED step (AsofJoin config) joining every non-purchase
    event to its user's latest purchase at-or-before the event; detail
    encodes the matched row as integers (epoch micros + value cents), so
    the hash pins EXACTLY which row the as-of selected against DuckDB's
    native ASOF LEFT JOIN. The interval branch runs as a DECLARED step
    (IntervalJoin config, bucketized equi-join — llmops/interval.py):
    click windows [ts, ts+10min] x the same user's purchase windows
    [ts, ts+30min]; one row per overlapping pair against DuckDB's naive
    inequality join proves the bucket reformulation loses and invents no
    pairs."""
    from data_validation_engine_spark.steps import parse_step

    ents = _load(spark, sf_dir, ["orders", "customer", "part", "lineitem"])
    # explicit TIMESTAMP schema: tz-free unix_micros (see _events_ts)
    events = spark.read.schema(_EVENTS_TS_SCHEMA).parquet(
        f"{sf_dir}/events.parquet"
    )
    ents["clicks"] = events.where("event_type <> 'purchase'").select(
        "event_id", "user_id", "ts"
    )
    ents["purchases"] = (
        events.where("event_type = 'purchase'")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("v"))
    )
    eng = _engine(spark)
    # 'semi'/'anti' arms (SemiJoin + AntiJoin over the customer/orders graph) — created
    # FIRST, before later steps overwrite the orders/customer entities
    eng.evaluate(
        ents,
        config=SemiJoin(
            entity_name="customer",
            target_name="orders",
            join_condition=(
                "customer.c_custkey = orders.o_custkey "
                "AND orders.o_totalprice > 100000"
            ),
            new_entity_name="semi_out",
        ),
    )
    eng.evaluate(
        ents,
        config=AntiJoin(
            entity_name="customer",
            target_name="orders",
            join_condition="customer.c_custkey = orders.o_custkey",
            new_entity_name="anti_out",
        ),
    )
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="semi_out",
            columns=(
                "'semi' AS op, c_custkey AS key, TRUE AS flag,"
                " c_name AS detail"
            ),
        ),
    )
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="anti_out",
            columns=(
                "'anti' AS op, c_custkey AS key, TRUE AS flag,"
                " c_name AS detail"
            ),
        ),
    )
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "asof_join",
                "entity_name": "clicks",
                "target_name": "purchases",
                "on": ["user_id"],
                "left_ts": "ts",
                "new_entity_name": "enriched",
            }
        ),
    )
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="enriched",
            columns=(
                "'asof' AS op, event_id AS key, asof_ts IS NOT NULL AS flag,"
                " CASE WHEN asof_ts IS NULL THEN NULL"
                # NTZ-safe: the parquet timestamp may read as TIMESTAMP_NTZ;
                # under the UTC session the cast is wall-clock identity
                " ELSE CONCAT(CAST(unix_micros(CAST(asof_ts AS TIMESTAMP))"
                " AS STRING), ':',"
                " CAST(CAST(ROUND(asof_v * 100) AS BIGINT) AS STRING)) END"
                " AS detail"
            ),
        ),
    )
    ents["click_wins"] = events.where("event_type <> 'purchase'").select(
        "event_id",
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("e"),
    )
    ents["purch_wins"] = events.where("event_type = 'purchase'").select(
        F.col("event_id").alias("win_id"),
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "interval_join",
                "entity_name": "click_wins",
                "target_name": "purch_wins",
                "new_entity_name": "ivhits",
                "left_start": "s",
                "left_end": "e",
                "right_start": "s",
                "right_end": "e",
                "on": ["user_id"],
                "bucket_width": 600.0,
            }
        ),
    )
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="ivhits",
            columns=(
                "'interval' AS op, event_id AS key, TRUE AS flag,"
                " CAST(r_win_id AS STRING) AS detail"
            ),
        ),
    )
    eng.evaluate(
        ents,
        config=ConfirmJoinHasMatch(
            entity_name="orders",
            target_name="customer",
            join_condition=(
                "orders.o_custkey = customer.c_custkey "
                "AND customer.c_acctbal > 5000"
            ),
            column_name="rich_customer",
        ),
    )
    eng.evaluate(
        ents,
        config=OrphanIdentification(
            entity_name="part",
            target_name="lineitem",
            join_condition="part.p_partkey = lineitem.l_partkey",
        ),
    )
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="orders",
            columns=(
                "'has_match' AS op, o_orderkey AS key,"
                " rich_customer AS flag, CAST(NULL AS STRING) AS detail"
            ),
        ),
    )
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="part",
            columns=(
                "'orphans' AS op, p_partkey AS key, IsOrphaned AS flag,"
                " CAST(NULL AS STRING) AS detail"
            ),
        ),
    )
    eng.evaluate(
        ents,
        config=TableUnion(
            entity_name="orders", target_name="part", new_entity_name="flags"
        ),
    )
    eng.evaluate(
        ents,
        config=TableUnion(
            entity_name="flags", target_name="enriched", new_entity_name="flags"
        ),
    )
    eng.evaluate(
        ents,
        config=TableUnion(
            entity_name="flags", target_name="ivhits", new_entity_name="flags"
        ),
    )
    eng.evaluate(
        ents,
        config=TableUnion(
            entity_name="flags", target_name="semi_out",
            new_entity_name="flags",
        ),
    )
    eng.evaluate(
        ents,
        config=TableUnion(
            entity_name="flags", target_name="anti_out",
            new_entity_name="flags",
        ),
    )
    return ents["flags"]


def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-combination surface in one row (tagged union): 'union' rows
    are the case-insensitive TableUnion with null-fill; 'upsert' rows
    are ANSI MERGE via the DECLARED merge_upsert step — every
    customer with orders takes an updated name/balance, a disjoint
    +10M keyspace inserts, everyone else passes through (the base table
    never shuffles under a broadcast-able delta — plan-asserted in
    tests/test_merge.py); 'cdc' rows are the DECLARED apply_changes step
    over an I/U/D ledger derived from orders, collapsed latest-per-key
    by o_orderkey (unique, so the collapse is engine-exact) with 'P'
    status rows acting as deletes; 'scd2'/'scd2s' rows build
    the TYPE-2 history from the SAME ledger via the DECLARED scd2 step
    (merge.py scd2_from_ledger: one keyed lead-window, validity bounds
    in the integer sequence domain, deletes close intervals) plus its
    point-in-time snapshot at half the max sequence (broadcast scalar,
    no driver collect) — latest-state, full-history, and as-of reads of
    one change feed proven against each other."""
    from data_validation_engine_spark.steps import parse_step

    ents = _load(spark, sf_dir, ["customer", "supplier", "orders"])
    eng = _engine(spark)
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="customer",
            columns="c_custkey AS id, c_name AS name, c_acctbal AS acctbal",
            new_entity_name="cust_part",
        ),
    )
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="supplier",
            columns="s_suppkey AS ID, s_name AS NAME, s_nationkey AS nationkey",
            new_entity_name="supp_part",
        ),
    )
    eng.evaluate(
        ents,
        config=TableUnion(
            entity_name="cust_part",
            target_name="supp_part",
            new_entity_name="unioned",
        ),
    )
    eng.evaluate(
        ents,
        config=ColumnAddition(
            entity_name="unioned",
            column_name="src",
            expression="CASE WHEN nationkey IS NULL THEN 'cust' ELSE 'supp' END",
        ),
    )
    union_rows = ents["unioned"].selectExpr(
        "'union' AS op",
        "id",
        "name",
        "acctbal AS bal",
        "CONCAT(src, ':', CAST(COALESCE(nationkey, -1) AS STRING)) AS src",
    )

    # -- 'upsert': MERGE INTO customer-projection from an orders delta --
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="customer",
            columns="c_custkey AS id, c_name AS name, c_acctbal AS bal",
            new_entity_name="base",
        ),
    )
    eng.evaluate(
        ents,
        config=Aggregation(
            entity_name="orders",
            group_by="o_custkey",
            agg_columns={"cast(count(1) as double)": "bal"},
            new_entity_name="delta0",
        ),
    )
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="delta0",
            columns=(
                "o_custkey AS id,"
                " CONCAT('updated_', CAST(o_custkey AS STRING)) AS name, bal"
            ),
            new_entity_name="delta_upd",
        ),
    )
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="delta_upd",
            columns=(
                "id + 10000000 AS id, CONCAT('inserted_',"
                " CAST(id AS STRING)) AS name, bal"
            ),
            new_entity_name="delta_ins",
        ),
    )
    eng.evaluate(
        ents,
        config=TableUnion(
            entity_name="delta_upd",
            target_name="delta_ins",
            new_entity_name="delta",
        ),
    )
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
    upsert_rows = ents["merged"].selectExpr(
        "'upsert' AS op", "id", "name", "bal", "CAST(NULL AS STRING) AS src"
    )

    # -- 'cdc': apply_changes over a per-order I/U/D ledger --
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="orders",
            columns=(
                "o_custkey AS id,"
                " CONCAT('cdc_', CAST(o_custkey AS STRING)) AS name,"
                " CAST(o_orderkey % 1000 AS DOUBLE) AS bal,"
                " CASE WHEN o_orderstatus = 'P' THEN 'D' ELSE 'U' END AS cop,"
                " o_orderkey AS seq"
            ),
            new_entity_name="ledger",
        ),
    )
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "apply_changes",
                "entity_name": "base",
                "target_name": "ledger",
                "keys": ["id"],
                "op_column": "cop",
                "sequence_column": "seq",
                "new_entity_name": "current",
            }
        ),
    )
    cdc_rows = ents["current"].selectExpr(
        "'cdc' AS op", "id", "name", "bal", "CAST(NULL AS STRING) AS src"
    )

    # -- 'scd2'/'scd2s': type-2 history + point-in-time snapshot over the
    # SAME ledger the cdc tag applies — latest-state and full-history
    # maintenance proven against each other from one change feed. The
    # declared scd2 step builds the history (one keyed window, validity
    # bounds in the integer o_orderkey sequence domain); the snapshot tag
    # reads it as of half the max sequence via a broadcast scalar (no
    # driver collect).
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "scd2",
                "entity_name": "ledger",
                "keys": ["id"],
                "sequence_column": "seq",
                "op_column": "cop",
                "new_entity_name": "history",
            }
        ),
    )
    scd2_rows = ents["history"].selectExpr(
        "'scd2' AS op",
        "id",
        "CONCAT(name, ':', CAST(valid_from AS STRING), ':',"
        " CAST(COALESCE(valid_to, -1) AS STRING), ':',"
        " CAST(CAST(is_current AS INT) AS STRING)) AS name",
        "bal",
        "CAST(NULL AS STRING) AS src",
    )
    from data_validation_engine_spark.merge import scd2_snapshot

    as_of = ents["orders"].agg(
        F.expr("max(o_orderkey) DIV 2").alias("__as_of")
    )
    snap_rows = scd2_snapshot(
        ents["history"].crossJoin(F.broadcast(as_of)),
        F.col("__as_of"),
    ).selectExpr(
        "'scd2s' AS op", "id", "name", "bal", "CAST(NULL AS STRING) AS src"
    )
    return (
        union_rows.unionAll(upsert_rows)
        .unionAll(cdc_rows)
        .unionAll(scd2_rows)
        .unionAll(snap_rows)
    )


def q_join_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HeaderJoin (1-row summary header attached to every nation row as a
    broadcast struct) tag-unioned with the refdata path: refdata region loaded through the
    EntityManager (filename-relative config, refdata_ prefix, lazy load)
    feeding an engine LeftJoin. Hashed numerics render as STRING."""
    from data_validation_engine_spark.entities import EntityManager, RefDataConfig

    ents = _load(spark, sf_dir, ["nation", "orders"])
    eng = _engine(spark)
    eng.evaluate(
        ents,
        config=Aggregation(
            entity_name="orders",
            group_by=[],
            agg_columns={
                "count(1)": "n_orders",
                "round(max(o_totalprice), 2)": "max_price",
            },
            new_entity_name="header",
        ),
    )
    eng.evaluate(
        ents,
        config=HeaderJoin(
            entity_name="nation",
            target_name="header",
            header_column_name="submission",
        ),
    )
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="nation",
            columns=(
                "'hdr' AS op, n_nationkey, n_name,"
                " CONCAT(CAST(submission.n_orders AS STRING), '|',"
                " CAST(CAST(ROUND(submission.max_price * 100) AS BIGINT)"
                " AS STRING)) AS detail"
            ),
        ),
    )
    rents = EntityManager(
        _load(spark, sf_dir, ["nation"]),
        spark=spark,
        refdata={
            "region": RefDataConfig(
                name="region", type="filename", location="region.parquet"
            )
        },
        refdata_base_path=sf_dir,
    )
    eng.evaluate(
        rents,
        config=LeftJoin(
            entity_name="nation",
            target_name="refdata_region",
            join_condition="nation.n_regionkey = refdata_region.r_regionkey",
            new_columns={"refdata_region.r_name": "region_name"},
        ),
    )
    eng.evaluate(
        rents,
        config=SelectColumns(
            entity_name="nation",
            columns=(
                "'ref' AS op, n_nationkey, n_name,"
                " COALESCE(region_name, '~') AS detail"
            ),
        ),
    )
    return ents["nation"].unionAll(rents["nation"])


def q_sync_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full sync-filter stage in one row (tagged union): 'row' rows are the survivors of
    validate-all-then-drop over orders; 'msg' rows are the message feed —
    one per (record, failed filter) with code and failure type. Both
    sides come from ONE apply_sync_filters invocation, proving the
    single-scan fused predicate evaluation emits consistent survivors and
    messages. 'notif' rows: the Notification step's distributed message
    emission with compiled {{field}} template, round-tripped through the
    JSONL error sink (sinks/errors.py) and read back under the declared
    message schema — the sink proven value-preserving, not just the
    step."""
    import tempfile

    from data_validation_engine_spark.messages import MESSAGE_SCHEMA
    from data_validation_engine_spark.sinks.errors import write_messages_jsonl

    ents = _load(spark, sf_dir, ["orders", "customer"])
    msgs = apply_sync_filters(
        ents,
        [
            DeferredFilter(
                entity_name="orders",
                expression="o_totalprice < 400000",
                reporting=Reporting(
                    code="HUGE_ORDER",
                    message="order too big",
                    reporting_field="o_orderkey",
                ),
            ),
            DeferredFilter(
                entity_name="orders",
                expression="o_orderstatus <> 'P'",
                reporting=Reporting(
                    code="PENDING",
                    message="order pending",
                    reporting_field="o_orderkey",
                ),
            ),
        ],
    )
    rows = ents["orders"].selectExpr(
        "'row' AS op",
        "CAST(o_orderkey AS STRING) AS record_key",
        "o_orderstatus AS code",
        "CAST(NULL AS STRING) AS detail",
    )
    feed = msgs.selectExpr(
        "'msg' AS op",
        "reporting_field AS record_key",
        "error_code AS code",
        "error_message || '|' || failure_type AS detail",
    )
    notif_msgs = _engine(spark).evaluate(
        ents,
        config=Notification(
            entity_name="customer",
            expression="c_acctbal < 0",
            reporting=Reporting(
                code="NEG_BAL",
                message="customer {{c_name}} has negative balance",
                reporting_field="c_custkey",
            ),
        ),
    )
    out = tempfile.mkdtemp(prefix="dve_sink_errors_") + "/errors"
    write_messages_jsonl(notif_msgs, out, mode="overwrite")
    notif = spark.read.schema(MESSAGE_SCHEMA).json(out).selectExpr(
        "'notif' AS op",
        "reporting_field AS record_key",
        "error_code AS code",
        "entity || '|' || error_message AS detail",
    )
    return rows.unionAll(feed).unionAll(notif)


def q_entity_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity namespace ops (copy -> column removal -> rename -> removal)
    PLUS the entity parquet sink: the final entity (with the internal
    record index attached) round-trips through ``write_entities`` and is
    read back — proving the overwrite write lands and the engine-internal
    index column is dropped at the boundary (sinks/entities.py:18-38).

    'diff' rows: row-level snapshot diff via the DECLARED
    snapshot_diff step — today's nation (every 3rd name uppercased, keys
    0-1 dropped, a +100 keyspace added) diffed against yesterday's as a
    CDC ledger (merge.snapshot_diff, one full-outer join; the
    apply_changes round-trip law is property-tested). The regression
    surface profile_diff's schema drift can't see: exactly WHICH rows
    changed.

    'anon' rows: the DECLARED pseudonymize step — nation
    names replaced by keyed SHA-256 tokens (salt 'r8', 16 hex chars);
    the same (salt, value) tokenises identically in every entity, so
    referential joins survive while raw identifiers never leave the
    pipeline (per-row projection, zero shuffle)."""
    import tempfile

    from data_validation_engine_spark.contract import add_record_index
    from data_validation_engine_spark.sinks.entities import write_entities
    from data_validation_engine_spark.steps import (
        ColumnRemoval,
        CopyEntity,
        EntityRemoval,
        RenameEntity,
        parse_step,
    )

    ents = _load(spark, sf_dir, ["nation"])
    eng = _engine(spark)
    eng.evaluate(
        ents, config=CopyEntity(entity_name="nation", new_entity_name="nation2")
    )
    eng.evaluate(
        ents, config=ColumnRemoval(entity_name="nation2", column_name="n_regionkey")
    )
    eng.evaluate(
        ents,
        config=RenameEntity(entity_name="nation2", new_entity_name="trimmed"),
    )
    eng.evaluate(ents, config=EntityRemoval(entity_names=("nation",)))
    assert set(ents) == {"trimmed"}
    out = tempfile.mkdtemp(prefix="dve_sink_entities_")
    written = write_entities(
        {"trimmed": add_record_index(ents["trimmed"])}, out
    )
    back = spark.read.parquet(written["trimmed"])
    assert "__record_index__" not in back.columns
    ent_rows = back.selectExpr(
        "'ent' AS op", "n_nationkey", "n_name", "CAST(NULL AS STRING) AS cop"
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    ents2 = {
        "yesterday": nation.select("n_nationkey", "n_name"),
        "today": nation.where("n_nationkey >= 2").selectExpr(
            "n_nationkey",
            "CASE WHEN n_nationkey % 3 = 0 THEN upper(n_name)"
            " ELSE n_name END AS n_name",
        ).unionAll(
            nation.where("n_nationkey < 3").selectExpr(
                "n_nationkey + 100", "n_name"
            )
        ),
    }
    eng.evaluate(
        ents2,
        config=parse_step(
            {
                "operation": "snapshot_diff",
                "entity_name": "yesterday",
                "target_name": "today",
                "keys": ["n_nationkey"],
                "op_column": "cop",
                "new_entity_name": "ledger",
            }
        ),
    )
    diff_rows = ents2["ledger"].selectExpr(
        "'diff' AS op", "n_nationkey", "n_name", "cop"
    )
    ents3 = {"nation": nation}
    eng.evaluate(
        ents3,
        config=parse_step(
            {
                "operation": "pseudonymize",
                "entity_name": "nation",
                "columns": ["n_name"],
                "salt": "r8",
                "new_entity_name": "anon",
            }
        ),
    )
    anon_rows = ents3["anon"].selectExpr(
        "'anon' AS op", "n_nationkey", "n_name",
        "CAST(NULL AS STRING) AS cop",
    )
    return ent_rows.unionAll(diff_rows).unionAll(anon_rows)


def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL function library (incl. NHS mod-11 as a pure expression) PLUS
    the Python/pandas UDF escape hatch (functions/library.py:184-201): an
    Arrow-batched vectorised UDF and a row-at-a-time UDF registered and
    applied in the same engine select — all against the pure-SQL oracle.
    'udtf' rows: the
    user-defined TABLE function escape hatch — a '#'-splitting UDTF
    LATERAL-joined against customer names, one row per part, whose twin
    is DuckDB unnest-with-ordinality; the set-returning surface the
    reference lacks entirely (its only generator is the XML reader's
    internal explode). 'sqlq' rows: the raw-SQL escape hatch
    (DECLARED sql step — parameterized spark.sql, no temp views,
    multiple entities bound as {name} parameters): a correlated scalar
    subquery (per-customer open-order count) that Catalyst decorrelates
    into an equi join — the SQL-shape the step vocabulary lacks,
    declared instead of dropped to Python, and chosen equi-correlated
    so the decorrelated plan is hash-joinable at scale (an
    inequality-correlated subquery decorrelates to a nested loop — the
    plan lint would rightly flag it)."""
    from data_validation_engine_spark.functions import (
        register_python_udf,
        register_python_udtf,
    )

    # no type hints: pandas_udf infers the signature from the explicit
    # return type; pd.Series annotations would be re-inspected and rejected
    def vlen(s):
        return s.str.len().astype("int64")

    def py_title(x):
        return x.title() if x is not None else None

    register_python_udf(spark, "py_vlen", vlen, "long", vectorised=True)
    register_python_udf(spark, "py_title", py_title, "string")

    class HashParts:
        def eval(self, key, name):
            for pos, part in enumerate((name or "").split("#")):
                yield (key, pos, part)

    register_python_udtf(
        spark, "hash_parts", HashParts,
        "key bigint, pos int, part string",
    )
    ents = _load(spark, sf_dir, ["customer"])
    eng = _engine(spark)
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="customer",
            columns=(
                "c_custkey, "
                "over_10k(c_acctbal) AS big_bal, "
                "x_not_greater_than_y(c_acctbal, 5000.0) AS le_5k, "
                "number_matches_within_percentage(5000.0, c_acctbal, 0.5)"
                " AS near_5k, "
                "nhsno_mod11_check(lpad(cast(c_custkey AS STRING), 10, '4'))"
                " AS nhs_ok, "
                "py_vlen(c_name) AS name_len, "
                "py_title(c_mktsegment) AS seg_title"
            ),
            new_entity_name="scalars",
        ),
    )
    scalar_rows = ents["scalars"].selectExpr(
        "'scalar' AS op", "c_custkey", "big_bal", "le_5k", "near_5k",
        "nhs_ok", "name_len", "seg_title",
    )
    ents["customer"].createOrReplaceTempView("__udtf_customer")
    udtf_rows = spark.sql(
        "SELECT s.key AS c_custkey, s.pos, s.part "
        "FROM __udtf_customer c, LATERAL hash_parts(c.c_custkey, c.c_name) s"
    ).selectExpr(
        "'udtf' AS op", "c_custkey",
        "CAST(NULL AS BOOLEAN) AS big_bal", "CAST(NULL AS BOOLEAN) AS le_5k",
        "CAST(NULL AS BOOLEAN) AS near_5k", "CAST(NULL AS BOOLEAN) AS nhs_ok",
        "CAST(pos AS BIGINT) AS name_len", "part AS seg_title",
    )
    from data_validation_engine_spark.steps import parse_step

    ents.update(_load(spark, sf_dir, ["orders"]))
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "sql",
                "entity_name": "customer",
                "inputs": ["orders"],
                "query": (
                    "SELECT c.c_custkey, ("
                    "  SELECT count(*) FROM {orders} o"
                    "  WHERE o.o_custkey = c.c_custkey"
                    "    AND o.o_orderstatus = 'O'"
                    ") AS n_open FROM {customer} c"
                ),
                "new_entity_name": "ranked",
            }
        ),
    )
    sqlq_rows = ents["ranked"].selectExpr(
        "'sqlq' AS op", "c_custkey",
        "CAST(NULL AS BOOLEAN) AS big_bal", "CAST(NULL AS BOOLEAN) AS le_5k",
        "CAST(NULL AS BOOLEAN) AS near_5k", "CAST(NULL AS BOOLEAN) AS nhs_ok",
        "n_open AS name_len", "CAST(NULL AS STRING) AS seg_title",
    )
    return scalar_rows.unionAll(udtf_rows).unionAll(sqlq_rows)


# ---------------------------------------------------------------------------
# data contract queries (SURVEY §2.5)
# ---------------------------------------------------------------------------

_CONTRACT_DISCHEMA = {
    "contract": {
        "datasets": {
            "orders_sub": {
                "fields": {
                    "okey": "int",
                    "price": "PositiveFloat",
                    "odate": {
                        "type": "conformatteddate",
                        "constraints": {"date_format": "%d/%m/%Y"},
                    },
                    "status": {
                        "callable": "constr",
                        "constraints": {"min_length": 1, "max_length": 1},
                    },
                    "prio": "str",
                },
                "key_field": "okey",
                "mandatory_fields": ["okey", "price"],
            }
        }
    }
}


def _stringified_orders(spark: SparkSession, sf_dir: str):
    """Orders re-encoded as strings — the 'string-in, validate, cast' input
    shape — with deterministic dirt: every 7th price is junk, every 11th
    price missing, every 13th date in the wrong format."""
    ents = _load(spark, sf_dir, ["orders"])
    return ents["orders"].selectExpr(
        "CAST(o_orderkey AS STRING) AS okey",
        """CASE WHEN o_orderkey % 11 = 0 THEN NULL
                WHEN o_orderkey % 7 = 0 THEN 'junk'
                ELSE CAST(o_totalprice AS STRING) END AS price""",
        """CASE WHEN o_orderkey % 13 = 0
                THEN date_format(o_orderdate, 'yyyy-MM-dd')
                ELSE date_format(o_orderdate, 'dd/MM/yyyy') END AS odate""",
        "o_orderstatus AS status",
        "o_orderpriority AS prio",
    )


def q_contract_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract cast: TRIM+TRY_CAST scalars, regex-guarded formatted date
    parse; records failing any check are dropped (reference record
    rejection). The SAME contract is also applied to a zero-row
    stringified frame and unioned in — the empty path must yield the full
    declared schema, zero rows, and zero messages."""
    from data_validation_engine_spark.contract import apply_contract, parse_contract

    contract = parse_contract(_CONTRACT_DISCHEMA)
    typed, _ = apply_contract(
        contract.entity("orders_sub"), _stringified_orders(spark, sf_dir)
    )
    empty = spark.createDataFrame(
        [], "okey string, price string, odate string, status string, prio string"
    )
    typed_empty, empty_messages = apply_contract(
        contract.entity("orders_sub"), empty
    )
    assert empty_messages.count() == 0
    # odate renders as an ISO STRING in both twins: a DATE
    # column crosses the engine→pandas layer as datetime.date on the
    # Spark side but datetime64[ns] ('... 00:00:00') on the DuckDB .df()
    # side — the exact representation-layer divergence --canon=pandas
    # exists to catch (it caught this one)
    return typed.unionByName(typed_empty).selectExpr(
        "okey", "price", "CAST(odate AS STRING) AS odate", "status", "prio"
    )


def q_contract_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract validation feed (one message per record+failed check),
    tagged 'base', unioned with the SAME dataset validated under
    per-field error-detail OVERRIDES (custom code / informational flag per
    reporting category, reference DataContractErrorDetail) tagged 'ovr' —
    one driver row attests the default and the overridden compilation."""
    from data_validation_engine_spark.contract import apply_contract, parse_contract

    cols = (
        "entity",
        "error_code",
        "error_location",
        "error_message",
        "category",
        "is_informational",
        "CAST(reporting_field AS BIGINT) AS record_key",
    )
    # the base and ovr arms validate
    # the SAME stringified frame — materialise it once (localCheckpoint)
    # so the parquet scan + dirt projection run once instead of twice.
    # Both contracts still compile and evaluate independently (the
    # default + overridden compilation is what this row attests); only
    # the shared INPUT is computed once. Measured 3.1s -> 2.2s at sf0.1.
    stringified = _stringified_orders(spark, sf_dir).localCheckpoint(
        eager=True
    )
    base = parse_contract(_CONTRACT_DISCHEMA)
    _, base_messages = apply_contract(base.entity("orders_sub"), stringified)
    ovr = parse_contract(
        _CONTRACT_DISCHEMA,
        error_details={
            "price": {
                "Blank": {
                    "error_code": "PRICE_REQUIRED",
                    "error_message": "price must be supplied",
                },
                "Bad value": {
                    "error_code": "PRICE_NOT_NUMERIC",
                    "is_informational": True,
                },
            },
            "odate": {
                "Bad value": {"error_code": "DATE_FORMAT_DDMMYYYY"},
            },
        },
    )
    _, ovr_messages = apply_contract(ovr.entity("orders_sub"), stringified)
    # the 'uniq' part — cross-record uniqueness (windowed count per value; duplicate
    # key values get one DUPLICATE_VALUE message per copy). Literal
    # padding on the non-attested fields keeps the arm surface minimal.
    orders = _load(spark, sf_dir, ["orders"])["orders"]
    dup_in = orders.unionByName(orders.where("o_orderkey % 100 = 0"))
    ucontract = parse_contract(
        {
            "contract": {
                "datasets": {
                    "orders_u": {
                        "fields": {"okey": "str", "status": "str"},
                        "key_field": "okey",
                        "unique_fields": ["okey"],
                    }
                }
            }
        }
    )
    _, uniq_messages = apply_contract(
        ucontract.entity("orders_u"),
        dup_in.selectExpr(
            "CAST(o_orderkey AS STRING) AS okey",
            "o_orderstatus AS status",
        ),
    )
    uniq = uniq_messages.where("error_code = 'DUPLICATE_VALUE'").selectExpr(
        "'uniq' AS part",
        "entity",
        "error_code",
        "'okey' AS error_location",
        "'' AS error_message",
        "'' AS category",
        "FALSE AS is_informational",
        "CAST(value AS BIGINT) AS record_key",
    )
    return (
        base_messages.selectExpr("'base' AS part", *cols)
        .unionByName(ovr_messages.selectExpr("'ovr' AS part", *cols))
        .unionByName(uniq)
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, spread across the cluster: the synthetic table is one
    small parquet file (one input split), which would serialise the
    CPU-heavy hashing operators onto a single core. At production scale the
    input has many splits; repartitioning here gives the local bench the
    same parallelism."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return df.repartition(spark.sparkContext.defaultParallelism)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over documents with a deterministically re-inserted 10%
    sample (so the operator visibly collapses duplicates), computed BOTH
    ways: the direct library call and the DECLARATIVE dischema step
    (steps/configs.py ExactDedup -> engine.dedup_exact), inner-joined on
    the survivor id — the hash covers both paths, so the JSON-declarable
    vocabulary is proven to compute identically.

    The INCREMENTAL branches ride as a tagged union (op, doc_id,
    a, b) over the EVEN half of documents (bench-scope compensation like
    the minhash row's ngram slice — candidate volume is quadratic-ish in
    corpus size and the proof needs semantics, not volume): the corpus is
    even docs with ``doc_id % 5 <> 0``; the new batch is the rest PLUS
    planted re-inserts of corpus texts (shifted ids), so the corpus
    anti-join provably drops rows. ``inc_exact`` = survivors
    of the declared dedup_incremental step (method=exact, batch-min-id +
    corpus key anti-join); ``inc_ngram`` = survivors of method=ngram
    (dropped iff some corpus row or smaller-id new row has n-gram
    Jaccard >= 0.5 — DuckDB's naive EXISTS is the twin, proving the
    new-side-only posting join loses no pairs)."""
    from data_validation_engine_spark.llmops import exact_dedup
    from data_validation_engine_spark.steps import parse_step

    docs = _docs(spark, sf_dir)
    dup_in = docs.unionByName(docs.where("doc_id % 10 = 0"))
    lib = exact_dedup(dup_in, "text", order_col="doc_id").selectExpr(
        "doc_id", "n_chars", "n_copies"
    )
    eng = _engine(spark)
    entities = {"documents": dup_in}
    eng.evaluate(
        entities,
        config=parse_step(
            {
                "operation": "dedup_exact",
                "entity_name": "documents",
                "key_columns": ["text"],
                "order_column": "doc_id",
                "new_entity_name": "deduped",
            }
        ),
    )
    step = entities["deduped"].selectExpr(
        "doc_id", "n_copies AS n_copies_step"
    )
    survivor = lib.join(step, "doc_id").selectExpr(
        "'survivor' AS op",
        "doc_id",
        "n_copies AS a",
        "n_copies_step AS b",
    )

    base = docs.where("doc_id % 2 = 0")
    corpus = base.where("doc_id % 5 <> 0")
    newb = base.where("doc_id % 5 = 0").unionByName(
        corpus.where("doc_id % 9 = 0").select(
            (F.col("doc_id") + F.lit(2000000)).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
    )
    inc_ents = {"new": newb, "corpus": corpus}
    eng.evaluate(
        inc_ents,
        config=parse_step(
            {
                "operation": "dedup_incremental",
                "entity_name": "new",
                "target_name": "corpus",
                "new_entity_name": "inc_exact",
                "method": "exact",
                "id_column": "doc_id",
                "text_column": "text",
            }
        ),
    )
    eng.evaluate(
        inc_ents,
        config=parse_step(
            {
                "operation": "dedup_incremental",
                "entity_name": "new",
                "target_name": "corpus",
                "new_entity_name": "inc_ngram",
                "method": "ngram",
                "id_column": "doc_id",
                "text_column": "text",
                "threshold": 0.5,
            }
        ),
    )
    inc_exact = inc_ents["inc_exact"].selectExpr(
        "'inc_exact' AS op", "doc_id", "n_chars AS a", "CAST(-1 AS BIGINT) AS b"
    )
    inc_ngram = inc_ents["inc_ngram"].selectExpr(
        "'inc_ngram' AS op", "doc_id", "n_chars AS a", "CAST(-2 AS BIGINT) AS b"
    )
    return survivor.unionByName(inc_exact).unionByName(inc_ngram)


def q_step_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DECLARATIVE full fuzzy-dedup pipeline: one JSON step (minhash
    candidates -> exact Jaccard verify -> connected components -> keep the
    min id per cluster) through the step engine. Oracle: the same pair
    graph in SQL, components by recursive reachability, survivors =
    documents whose id IS its component.

    'rep:' rows: the DECLARED cluster_representatives step —
    the survivorship policy generalised from min-id to best-score
    (highest n_chars, id-asc tiebreak) over a deterministic clustering;
    the rank-1 filter sits on the window so WindowGroupLimit keeps a
    1-row heap per cluster map-side (cluster id rides the lang column
    as 'rep:<cluster>')."""
    from data_validation_engine_spark.steps import parse_step

    entities = {"documents": _docs(spark, sf_dir)}
    eng = _engine(spark)
    # the step's exact-components rounds
    # iterate over the PAIR GRAPH during evaluate — pin their per-round
    # shuffles (the connected_components convention; 4 partitions, as the
    # CC row measured label-prop rounds 0.94 -> 0.66s vs 8 over the
    # same-sized graph, survivors identical); the knob scales UP with the
    # edge count at 100 TB.
    with _state_partitions(spark, 4):
        eng.evaluate(
            entities,
            config=parse_step(
                {
                    "operation": "dedup_minhash",
                    "entity_name": "documents",
                    "id_column": "doc_id",
                    "text_column": "text",
                    "threshold": 0.5,
                    "exact_components": True,
                    # label propagation: near-dup graphs are shallow, so
                    # it converges in fewer rounds than star here; the
                    # star path has its own oracle row
                    # (connected_components_star)
                    "component_algorithm": "label",
                    "new_entity_name": "deduped",
                }
            ),
        )
    entities["clustered"] = entities["documents"].selectExpr(
        "doc_id", "n_chars", "CAST(doc_id % 50 AS BIGINT) AS cluster"
    )
    eng.evaluate(
        entities,
        config=parse_step(
            {
                "operation": "cluster_representatives",
                "entity_name": "clustered",
                "cluster_column": "cluster",
                "id_column": "doc_id",
                "score_column": "n_chars",
                "new_entity_name": "reps",
            }
        ),
    )
    rep_rows = entities["reps"].selectExpr(
        "doc_id", "n_chars",
        "CONCAT('rep:', CAST(cluster AS STRING)) AS lang",
    )
    return (
        entities["deduped"]
        .selectExpr("doc_id", "n_chars", "lang")
        .unionAll(rep_rows)
    )


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by BOTH shingle-based modalities, tagged and
    unioned: MinHash-LSH (banded probabilistic candidates, exact-Jaccard
    verified) and EXACT n-gram Jaccard via AllPairs/PPJoin prefix
    filtering (rare-first global order, skew-bounded posting self-join).
    The ngram oracle twin generates candidates NAIVELY (any shared
    shingle), so the hash pins the prefix-filter theorem: dropping every
    non-prefix posting loses zero qualifying pairs. Neither plan contains
    a cartesian product."""
    from data_validation_engine_spark.llmops import (
        minhash_pairs,
        ngram_jaccard_pairs,
    )

    docs = _docs(spark, sf_dir)
    mh = minhash_pairs(docs, "doc_id", "text", threshold=0.5).withColumn(
        "method", F.lit("minhash")
    )
    # the ngram branch runs over a deterministic 5% slice UNIONED with a
    # perturbed copy of itself (one appended word, offset ids): appending
    # one word keeps every original shingle and adds one, so each
    # (d, d+1000000) pair has Jaccard (w-2)/(w-1) — guaranteed non-trivial
    # pairs at every scale. The full-table exact pair set would be
    # near-quadratic noise on this template-generated corpus (same device
    # as the dedup_simhash_pairs row); the slice keeps the oracle row
    # sharp and the bench honest while exercising the identical
    # prefix-filter plan.
    sl = docs.where("doc_id % 20 = 0").select("doc_id", "text")
    ng_in = sl.unionByName(
        sl.selectExpr(
            "doc_id + 1000000 AS doc_id", "text || ' spark' AS text"
        )
    )
    ng = ngram_jaccard_pairs(
        ng_in, "doc_id", "text", threshold=0.5
    ).withColumn("method", F.lit("ngram"))
    # third modality: ASYMMETRIC containment over the same
    # slice — each original is fully contained in its perturbed superset
    # (appending a word keeps every shingle), so (d, d+1000000) pairs at
    # containment 1.0 are guaranteed; the oracle twin is the naive
    # all-pairs ratio, pinning the one-sided prefix filter. Runs as the
    # DECLARED dedup_containment_pairs step.
    from data_validation_engine_spark.steps import parse_step

    cents = {"docs": ng_in}
    _engine(spark).evaluate(
        cents,
        config=parse_step(
            {
                "operation": "dedup_containment_pairs",
                "entity_name": "docs",
                "new_entity_name": "cpairs",
                "id_column": "doc_id",
                "text_column": "text",
                "threshold": 0.8,
            }
        ),
    )
    cp = cents["cpairs"].selectExpr(
        "id_a", "id_b", "containment AS jaccard", "'containment' AS method"
    )
    return mh.unionByName(ng).unionByName(cp)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash surface in one row (tagged union): 'sig' rows carry the 16-bit
    signature per document (md5-derived bit votes, explode+aggregate
    scale path) over the FULL corpus; 'pair' rows carry the 32-bit
    banded near-dup pairs (pigeonhole-exact candidates, skew-bounded
    self-join, exact hamming verify) over the deterministic 10% slice —
    the slice keeps the pair set sharp on the mutually-similar synthetic
    corpus while exercising the identical plan."""
    from data_validation_engine_spark.llmops import simhash_pairs, simhash_table

    docs = _docs(spark, sf_dir)
    sigs = simhash_table(docs, "doc_id", "text").selectExpr(
        "'sig' AS op", "doc_id AS a", "CAST(-1 AS BIGINT) AS b",
        "simhash AS v",
    )
    pairs = simhash_pairs(
        docs.where("doc_id % 10 = 0"), "doc_id", "text",
        bits=32, max_hamming=1,
    ).selectExpr(
        "'pair' AS op", "id_a AS a", "id_b AS b", "CAST(hamming AS STRING) AS v"
    )
    return sigs.unionAll(pairs)


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-row text-analysis suite in one row: quality statistics +
    gate, heuristic language ID (CJK charset check + stopword vote), the
    canonical md5 fingerprint + min-k winnowed shingle sketch, the
    deterministic md5-bucket train/val/test split, and the
    deterministic WEIGHTED Bernoulli keep-decision (probability
    min(1, n_chars/2000), decided by the same bucket — quality-weighted
    downsampling) — five zero-shuffle projections inner-joined on doc_id
    (the split/weighted twins recompute the identical bucket arithmetic in
    DuckDB, pinning engine-independence). 'ecdf' joins on: the
    DECLARED ecdf_normalize step rank-calibrates n_chars within each
    doc_id%3 source label — the cross-source score-calibration pass —
    via the distinct-value histogram (no total sort of the rows; exact
    integer cumulative counts, one division)."""
    from data_validation_engine_spark.llmops import (
        hash_split,
        language_id,
        text_fingerprint,
        text_stats,
    )
    from data_validation_engine_spark.llmops.split import weighted_keep
    from data_validation_engine_spark.steps import parse_step

    docs = _docs(spark, sf_dir)
    stats = text_stats(docs, "doc_id", "text")
    lang = language_id(docs, "doc_id", "text")
    fp = text_fingerprint(docs, "doc_id", "text")
    # deterministic 80/10/10 train/val/test assignment by doc_id hash —
    # row-stable across engines, which is exactly what the oracle twin
    # (same md5-bucket formula in DuckDB) proves
    split = hash_split(
        docs.select("doc_id"), "doc_id", bucket_col="bucket"
    )
    wkeep = docs.select(
        "doc_id",
        weighted_keep(
            F.col("doc_id"), F.col("n_chars"), rate=1.0 / 2000.0
        ).alias("w_kept"),
    )
    ents = {"scored": docs.selectExpr(
        "doc_id",
        "CAST(n_chars AS BIGINT) AS n_chars",
        "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'web'"
        " WHEN 1 THEN 'code' ELSE 'books' END AS src",
    )}
    _engine(spark).evaluate(
        ents,
        config=parse_step(
            {
                "operation": "ecdf_normalize",
                "entity_name": "scored",
                "value_column": "n_chars",
                "group_by": ["src"],
                "new_entity_name": "calibrated",
            }
        ),
    )
    ecdf = ents["calibrated"].select("doc_id", "src", "ecdf")
    # extra per-doc columns — Gopher-style repetition signals (top-token fraction via
    # distributed mode, duplicated bigram/trigram fractions) + the PII
    # scrub over PLANTED PII (email + IPv4 + card number concatenated per
    # doc from doc_id — deterministic in both engines — proving every
    # redaction branch actually fires; the scrubbed text rides as md5).
    # rep's n_tokens is dropped (same value as the stats column).
    from data_validation_engine_spark.llmops import pii_scrub, repetition_stats

    rep = repetition_stats(docs, "doc_id", "text").drop("n_tokens")
    planted = docs.selectExpr(
        "doc_id",
        "concat(text, ' mail u', doc_id, '@ex.org ip 10.0.', doc_id % 256,"
        " '.7 card 4111111111111111') AS text",
    )
    pii = pii_scrub(planted, "doc_id", "text").selectExpr(
        "doc_id", "n_emails", "n_longnums", "n_ips", "md5(clean) AS clean_md5"
    )
    return (
        stats.join(lang, "doc_id")
        .join(fp, "doc_id")
        .join(split, "doc_id")
        .join(wkeep, "doc_id")
        .join(ecdf, "doc_id")
        .join(rep, "doc_id")
        .join(pii, "doc_id")
    )


# ---------------------------------------------------------------------------
# corpus term surfaces: the parts of the text_corpus row's 'terms' arm
# (q_corpus_terms). Every hashed numeric renders as STRING in both twins.
# ---------------------------------------------------------------------------

def q_tfidf_top1(
    spark: SparkSession, sf_dir: str, tf: DataFrame | None = None
) -> DataFrame:
    """Top TF-IDF term per document (integer-keyed ranking). The hashed
    frame is (term, tf, df, n_docs) as STRINGS — with tf/df/n in the row
    the exact rational the tfidf float derives from is pinned without
    hashing any libm-dependent ln (llmops/text.py tfidf_top_terms).
    ``tf`` lets :func:`q_corpus_terms` share one term_frequencies pass
    across the tfidf/vocab/enc/post arms."""
    from data_validation_engine_spark.llmops import tfidf_top_terms

    docs = _docs(spark, sf_dir)
    return tfidf_top_terms(docs, "doc_id", "text", tf=tf).selectExpr(
        "CAST(doc_id AS STRING) AS doc_id",
        "term",
        "CAST(tf AS STRING) AS tf",
        "CAST(df AS STRING) AS df",
        "CAST(n_docs AS STRING) AS n_docs",
    )


def q_vocab_build(
    spark: SparkSession, sf_dir: str, vocab: DataFrame | None = None
) -> DataFrame:
    """Tokenizer-prep vocabulary table (term, total count, doc frequency,
    min_count=3 floor) — llmops/text.py build_vocab; one term-keyed
    aggregation. All-STRING hashed frame. ``vocab`` lets
    :func:`q_corpus_terms` share one persisted vocabulary with the
    'enc' arm."""
    from data_validation_engine_spark.llmops import build_vocab

    docs = _docs(spark, sf_dir)
    if vocab is None:
        vocab = build_vocab(docs, "doc_id", "text", min_count=3)
    return vocab.selectExpr(
        "term",
        "CAST(count AS STRING) AS cnt",
        "CAST(doc_freq AS STRING) AS doc_freq",
    )


def q_vocab_encode(
    spark: SparkSession, sf_dir: str, vocab: DataFrame | None = None
) -> DataFrame:
    """APPLY the learned vocabulary: every document encoded to its
    token-id sequence (frequency-ranked ids, id 0 = UNK) via the DECLARED
    encode_tokens step, the sequence pinned as an md5 of the comma-joined
    ids plus token/UNK counts — learn-the-vocab and apply-the-vocab
    proven against each other. All-STRING hashed frame."""
    from data_validation_engine_spark.llmops import build_vocab
    from data_validation_engine_spark.steps import parse_step

    docs = _docs(spark, sf_dir)
    if vocab is None:
        vocab = build_vocab(docs, "doc_id", "text", min_count=3)
    ents = {
        "documents": docs,
        "vocab": vocab,
    }
    _engine(spark).evaluate(
        ents,
        config=parse_step(
            {
                "operation": "encode_tokens",
                "entity_name": "documents",
                "vocab_entity": "vocab",
                "id_column": "doc_id",
                "new_entity_name": "encoded",
            }
        ),
    )
    return ents["encoded"].selectExpr(
        "CAST(doc_id AS STRING) AS doc_id",
        "md5(ids_csv) AS sig",
        "CAST(n_tokens AS STRING) AS n_tokens",
        "CAST(n_unk AS STRING) AS n_unk",
    )


def q_postings(
    spark: SparkSession, sf_dir: str, tf: DataFrame | None = None
) -> DataFrame:
    """Inverted index over the corpus (llmops/text.py build_postings):
    per term, doc_freq + total tf + the md5 of the doc-id-ordered
    ``docid:tf`` posting list — the term→documents map a retrieval or
    decontamination pass probes, order-exact under any partitioning.
    All-STRING hashed frame. ``tf`` shares one term_frequencies pass
    with the sibling corpus-term arms."""
    from data_validation_engine_spark.llmops.text import build_postings

    docs = _docs(spark, sf_dir)
    return build_postings(
        docs, "doc_id", "text", min_doc_freq=3, tf=tf
    ).selectExpr(
        "term",
        "postings_md5",
        "CAST(doc_freq AS STRING) AS doc_freq",
        "CAST(tf_total AS STRING) AS tf_total",
    )


def q_bpe_pairstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 character-pair statistics of BPE training round 1
    (llmops/bpe.py pair_stats, case-preserving) — the corpus-facing stage
    of the merge learner; the iterative merge loop itself is pytest-pinned
    against a pure-Python reference (tests/test_bpe.py), the
    non-SQL-expressible-operator strategy. All-STRING hashed frame."""
    from data_validation_engine_spark.llmops.bpe import pair_stats

    docs = _docs(spark, sf_dir)
    w_rank = Window.orderBy(F.desc("count"), F.asc("left"), F.asc("right"))
    return (
        pair_stats(docs, "text", lowercase=False)
        .withColumn("rk", F.row_number().over(w_rank))
        .where(F.col("rk") <= 20)
        .selectExpr(
            "CONCAT(left, ' ', right) AS pair",
            "CAST(count AS STRING) AS cnt",
            "CAST(rk AS STRING) AS rk",
        )
    )


def q_corpus_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text_corpus row's 'terms' arm: the five corpus-term surfaces
    (tfidf_top1 / vocab_build / vocab_encode / postings / bpe_pairstats,
    tagged tfidf/vocab/enc/post/bpe) under the all-string hash
    discipline, plus:

    - 'dec' — BPE encode→decode round-trip through the JOIN-path
      encoder (llmops/bpe.py bpe_encode(word_table=...), the production
      path whose plan size is independent of vocabulary size, +
      bpe_decode): per doc, md5 of the decoded text and the word count.
      decode(encode(x)) must reproduce the whitespace-normalised
      lowercased text exactly, so the oracle is the direct
      normalisation — attesting tokenize→merge→render→strip end to end
      without hashing anything merge-list-dependent.

    Frame is (op, k, v), every value a string."""
    from data_validation_engine_spark.llmops.bpe import bpe_decode, bpe_encode, bpe_train

    # the 'vocab' and 'enc' arms both
    # need the SAME min_count=3 vocabulary — build it once (persisted;
    # it seeds the encode join too) instead of running the term
    # aggregation twice.
    # the tfidf/vocab/post arms each
    # start from the identical tokenize → explode → (doc, term) count;
    # ONE persisted term_frequencies frame feeds all three (and the
    # shared vocabulary derives from it too), so the row runs one corpus
    # tokenization pass instead of three, and vocab's two-phase
    # countDistinct collapses to count(1) over the tf rows.
    from data_validation_engine_spark.llmops import build_vocab
    from data_validation_engine_spark.llmops.text import term_frequencies

    docs = _docs(spark, sf_dir)
    tf_shared = term_frequencies(docs, "doc_id", "text").persist()
    shared_vocab = build_vocab(
        docs, "doc_id", "text", min_count=3, tf=tf_shared
    ).persist()
    parts = [
        q_tfidf_top1(spark, sf_dir, tf=tf_shared).selectExpr(
            "'tfidf' AS op", "doc_id AS k",
            "CONCAT_WS('|', term, tf, df, n_docs) AS v",
        ),
        q_vocab_build(spark, sf_dir, vocab=shared_vocab).selectExpr(
            "'vocab' AS op", "term AS k",
            "CONCAT_WS('|', cnt, doc_freq) AS v",
        ),
        q_vocab_encode(spark, sf_dir, vocab=shared_vocab).selectExpr(
            "'enc' AS op", "doc_id AS k",
            "CONCAT_WS('|', sig, n_tokens, n_unk) AS v",
        ),
        q_postings(spark, sf_dir, tf=tf_shared).selectExpr(
            "'post' AS op", "term AS k",
            "CONCAT_WS('|', postings_md5, doc_freq, tf_total) AS v",
        ),
        q_bpe_pairstats(spark, sf_dir).selectExpr(
            "'bpe' AS op", "pair AS k", "CONCAT_WS('|', cnt, rk) AS v",
        ),
    ]
    docs = _docs(spark, sf_dir)
    # n_merges is a cost knob, not a correctness one: decode inverts
    # whatever merges were learned, so the round-trip attests the path
    # at any K (production K rides the join path whose plan size is
    # K-independent — the point of word_table=)
    # the merge loop's 12 rounds run
    # over the vocabulary-bounded word table — loop_partitions sizes
    # the per-round jobs to IT (2 tasks instead of 32), and
    # checkpoint_interval=12 drops every mid-loop re-materialisation
    # job (pending merges ride as bounded expression layers — the
    # documented knob; 12 chained layers re-evaluated over a
    # vocabulary-bounded table beats 3 checkpoint jobs at this K).
    # Measured 4.2s -> 3.5s per construct; merge list and word table
    # asserted unchanged at every (lp, ci) tried.
    merges, words = bpe_train(
        docs, "text", n_merges=12, lowercase=True, return_words=True,
        checkpoint_interval=12, loop_partitions=2,
    )
    decoded = bpe_decode(
        bpe_encode(docs, "doc_id", "text", word_table=words, lowercase=True)
    )
    parts.append(
        decoded.selectExpr(
            "'dec' AS op",
            "CAST(doc_id AS STRING) AS k",
            "CONCAT_WS('|', md5(decoded), CAST(n_words AS STRING)) AS v",
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_funnel_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'fb' funnel maintained by the STREAMING window-funnel operator
    (streaming_window_funnel, drained under availableNow): each user's
    furthest stage and its enter/reach times, hashed against the same
    closed-form SQL semantics as the batch step. All-string (op, k, v)."""
    import tempfile

    from data_validation_engine_spark.streaming import streaming_window_funnel

    out = tempfile.mkdtemp(prefix="dve_sfun_q_")
    with _state_partitions(spark):
        q = _drain(
            streaming_window_funnel(
                _events_stream(spark, sf_dir),
                "user_id", "ts", "event_type",
                ["view", "click", "purchase"],
                window_us=3 * 86_400_000_000, watermark="366 days",
            ),
            f"{out}/data",
        )
    q.awaitTermination()
    return (
        spark.read.parquet(f"{out}/data")
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("stage", "t_enter_us", "t_reach_us"), "stage"
            ).alias("s")
        )
        .selectExpr(
            "'fs' AS op",
            "CAST(user_id AS STRING) AS k",
            "CONCAT_WS('|', CAST(s.stage AS STRING),"
            " CAST(COALESCE(s.t_enter_us, -1) AS STRING),"
            " CAST(COALESCE(s.t_reach_us, -1) AS STRING)) AS v",
        )
    )


def q_rolling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'roll' trailing 1-hour count maintained by the STREAMING
    rolling-count operator (streaming_rolling_counts, drained under
    availableNow), keyed back to event ids. All-string (op, k, v)."""
    import tempfile

    from data_validation_engine_spark.streaming import streaming_rolling_counts

    out = tempfile.mkdtemp(prefix="dve_sroll_q_")
    with _state_partitions(spark):
        q = _drain(
            streaming_rolling_counts(
                _events_stream(spark, sf_dir),
                "user_id", "ts", window_seconds=3600,
                watermark="366 days",
            ),
            f"{out}/data",
        )
    q.awaitTermination()
    ev = _events_ts(spark, sf_dir)
    return (
        spark.read.parquet(f"{out}/data")
        .join(
            ev.select(
                "event_id",
                "user_id",
                F.unix_micros(F.col("ts").cast("timestamp")).alias(
                    "event_ts_us"
                ),
            ),
            ["user_id", "event_ts_us"],
        )
        .selectExpr(
            "'sroll' AS op", "CAST(event_id AS STRING) AS k",
            "CAST(n_window AS STRING) AS v",
        )
    )


def q_quality_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llmops quality gates run through the ENGINE's sync-filter stage:
    corpus cleaning as ordinary deferred filters (one scan, per-doc
    failure messages in the standard feed)."""
    from data_validation_engine_spark.llmops import quality_filters

    ents = {"documents": _docs(spark, sf_dir)}
    # min_tokens=40 bisects the synthetic corpus so the drop path is
    # exercised, not just the predicate
    apply_sync_filters(ents, quality_filters("documents", min_tokens=40))
    return ents["documents"].selectExpr("doc_id", "n_chars", "lang")


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucket-self-join similarity surface in one row (tagged union):
    'pair' rows are the embedding-cosine near-dup pairs (LSH-bucket
    self-join + exact cosine verify, no all-pairs cross join); 'knn' rows
    are the k-NN JOIN (top-3 same-bucket neighbours for EVERY
    row, both directions of each candidate pair, rounded-cosine +
    id-asc window cutoff)."""
    from data_validation_engine_spark.llmops import (
        embedding_neardup_pairs,
        knn_join,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = embedding_neardup_pairs(embs, threshold=0.3).selectExpr(
        "'pair' AS op", "id_a AS a", "id_b AS b", "cosine AS x",
        "CAST(-1 AS INT) AS r",
    )
    knn = knn_join(embs, 3).selectExpr(
        "'knn' AS op", "vec_id AS a", "neighbour AS b", "cosine AS x",
        "rank AS r",
    )
    return pairs.unionAll(knn)


def q_bounded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct oracle evidence for the skew-bounded self-join that
    underpins every LSH candidate stage (llmops/pairs.py:36-93): a
    deliberately SKEWED bucket table (every third id lands in one hot
    bucket holding ~a third of all rows) self-joined with
    max_bucket_rows=32, so the hot bucket decomposes into many bounded
    block-pair tasks — and the emitted pair set must STILL equal the
    naive SQL self-join exactly (the no-sampling, no-cap-loss
    guarantee)."""
    from data_validation_engine_spark.llmops.pairs import bounded_self_join

    rows = _docs(spark, sf_dir).where("doc_id % 2 = 0").selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 3 = 0 THEN 0 ELSE doc_id % 7 END AS bucket",
    )
    pairs = bounded_self_join(
        rows, ["bucket"], order_col="doc_id", max_bucket_rows=32
    )
    return pairs.selectExpr(
        "bucket", "a.doc_id AS id_a", "b.doc_id AS id_b"
    )


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters end-to-end: MinHash-LSH near-dup pairs fed to BOTH
    connected-components implementations — label propagation (O(diameter)
    rounds) and large-star/small-star (O(log² n) rounds, the deep-chain
    scale path) — inner-joined on the node id. The oracle recomputes the
    pair graph in SQL and resolves components with a recursive CTE, so the
    hash proves both algorithms equal AND correct on the same graph. The pair
    frame is materialised once so the signature pipeline doesn't run
    per-algorithm. 'tri' rows: exact per-node triangle counts
    of the SAME pair graph via the DECLARED triangle_count step
    (degree-oriented wedge join — cluster-density signal separating
    near-dup cliques from borderline chains)."""
    from data_validation_engine_spark.llmops import (
        connected_components,
        connected_components_star,
        minhash_pairs,
        pagerank,
    )
    from data_validation_engine_spark.steps import parse_step

    docs = _docs(spark, sf_dir)
    pairs = minhash_pairs(docs, "doc_id", "text", threshold=0.5)
    pairs = pairs.localCheckpoint(eager=True)
    # iterative rounds are planned (and materialised) per round, so their
    # shuffle width should be sized to the GRAPH, not the session default
    # — the pair graph is thousands of edges, and at 32 partitions each
    # round is pure task-scheduling overhead (measured ~40% of the row).
    # Same decision as the streaming state stores; at 100 TB the same
    # knob goes UP with the edge count instead.
    # both algorithms iterate rounds of
    # tiny jobs over the SAME checkpointed pair graph (label-prop
    # materialises per round, star per large/small step) — serially,
    # each round's scheduling tail idles the box. Overlapping the two
    # iteration chains in threads back-fills one algorithm's tail with
    # the other's rounds; values are untouched (each is a deterministic
    # function of `pairs`, and the partition pin covers both).
    # Rounds pinned to 4 partitions — measured per algorithm over the
    # checkpointed graph (label-prop 0.94 -> 0.66s, star 1.33 -> 1.21s
    # min of 3); the pair graph is a few thousand edges, so 4 round
    # partitions still splits it well past skew while halving the
    # per-round task count. Same declared knob; at 100 TB it goes UP
    # with the edge count. Results are partition-count-independent
    # (min-label and star folds are key-deterministic).
    with _state_partitions(spark, 4):
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_lab = pool.submit(
                lambda: connected_components(pairs).select(
                    "id", "component"
                )
            )
            f_star = pool.submit(
                lambda: connected_components_star(pairs).selectExpr(
                    "id", "component AS component_star"
                )
            )
            lab, star = f_lab.result(), f_star.result()
    cc = lab.join(star, "id").selectExpr(
        "'cc' AS op", "id", "component", "component_star",
        "CAST(NULL AS DOUBLE) AS x",
    )
    # 'pr' rows: deterministic fixed-iteration PageRank over the
    # supplier->part fulfilment graph (high-quantity lineitems; partkeys
    # offset by 1e9 so the two key spaces stay disjoint at every SF).
    # Every per-target float sum is a segmented two-level ORDERED fold
    # (md5 segments of the source id), so ranks are bit-identical across
    # partitionings AND to the oracle's unrolled 3-iteration SQL — the
    # same exact-replay property the k-means row pins for Lloyd's.
    edges = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        "l_quantity >= 48"
    ).selectExpr("l_suppkey AS src", "l_partkey + 1000000000 AS dst")
    # checkpoint=False: at oracle scale the 3-round lineage is tiny, so
    # skipping the per-round materialisation turns five jobs into one;
    # the default (True) stays the 100 TB path and has its own plan test
    pr = pagerank(edges, iterations=3, checkpoint=False).selectExpr(
        "'pr' AS op", "node AS id", "CAST(NULL AS BIGINT) AS component",
        "CAST(NULL AS BIGINT) AS component_star", "pagerank AS x",
    )
    ents = {"pairs": pairs}
    _engine(spark).evaluate(
        ents,
        config=parse_step(
            {
                "operation": "triangle_count",
                "entity_name": "pairs",
                "src_column": "id_a",
                "dst_column": "id_b",
                "new_entity_name": "tri",
            }
        ),
    )
    tri = ents["tri"].selectExpr(
        "'tri' AS op", "node AS id", "n_tri AS component",
        "CAST(NULL AS BIGINT) AS component_star", "CAST(NULL AS DOUBLE) AS x",
    )
    return cc.unionAll(pr).unionAll(tri)


def q_data_profiling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-profiling family in one row (tagged union), every
    branch driven as a DECLARED step: 'kmv' rows are the deterministic
    K-Minimum-Values distinct sketch of customers per order priority
    (k=128, 60-bit md5 hash space — saturated, so the estimator path is
    exercised; the oracle recomputes the exact same sketch, pinning
    engine-exactness of an APPROXIMATE algorithm); 'profile' rows are the
    single-pass column profile of customer (rows/nulls/exact-distinct/
    stringified min-max per column — the pre-contract data-quality
    surface); 'quant' rows are exact per-group quantiles
    (percentile_cont type-7) of lineitem quantity by return flag,
    unpivoted one row per (group, prob); 'squant' rows are the
    APPROXIMATE quantiles from the deterministic min-256 hash sample
    (sampled_quantiles step) — the mergeable 100 TB path, engine-exact
    because the oracle recomputes the identical sample. Then
    'kmvset' (KMV set algebra), 'wins' (winsorize), 'imp' (impute),
    'chi2' (per-cell chi-square drift between two snapshot halves) and
    'reg' (per-group OLS from exact DECIMAL sufficient statistics) —
    all declared steps; see the inline comments at each tag."""
    from data_validation_engine_spark.steps import parse_step

    eng = _engine(spark)
    ents = _load(spark, sf_dir, ["orders", "customer", "lineitem"])
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "approx_distinct",
                "entity_name": "orders",
                "group_by": ["o_orderpriority"],
                "value_column": "o_custkey",
                "k": 128,
                "new_entity_name": "kmv",
            }
        ),
    )
    kmv = ents["kmv"].selectExpr(
        "'kmv' AS op",
        "o_orderpriority AS key",
        "n_seen AS a",
        "kth_hash AS b",
        "approx_distinct AS x",
        "CAST(NULL AS STRING) AS s1",
        "CAST(NULL AS STRING) AS s2",
    )
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "profile",
                "entity_name": "customer",
                "columns": [
                    "c_custkey",
                    "c_name",
                    "c_nationkey",
                    "c_mktsegment",
                ],
                "new_entity_name": "prof",
            }
        ),
    )
    prof = ents["prof"].selectExpr(
        "'profile' AS op",
        "`column` AS key",
        "n_rows AS a",
        "n_null AS b",
        "CAST(n_distinct AS DOUBLE) AS x",
        "min_value AS s1",
        "max_value AS s2",
    )
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "grouped_quantiles",
                "entity_name": "lineitem",
                "group_by": ["l_returnflag"],
                "value_column": "l_quantity",
                "probs": [0.25, 0.5, 0.75],
                "new_entity_name": "quants",
            }
        ),
    )
    quants = ents["quants"].selectExpr(
        "l_returnflag",
        "n",
        "stack(3, 'p25', q_25, 'p50', q_50, 'p75', q_75) AS (tag, v)",
    ).selectExpr(
        "'quant' AS op",
        "l_returnflag || ':' || tag AS key",
        "n AS a",
        "CAST(NULL AS BIGINT) AS b",
        "v AS x",
        "CAST(NULL AS STRING) AS s1",
        "CAST(NULL AS STRING) AS s2",
    )
    # 'hh' rows: exact heavy hitters — top-3 order priorities
    # per order status via the DECLARED frequent_items step
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "frequent_items",
                "entity_name": "orders",
                "group_by": ["o_orderstatus"],
                "value_column": "o_orderpriority",
                "k": 3,
                "new_entity_name": "hh",
            }
        ),
    )
    hh = ents["hh"].selectExpr(
        "'hh' AS op",
        "o_orderstatus AS key",
        "n AS a",
        "CAST(rank AS BIGINT) AS b",
        "CAST(NULL AS DOUBLE) AS x",
        "value AS s1",
        "CAST(NULL AS STRING) AS s2",
    )
    # 'drift' rows: schema/stat drift via the DECLARED
    # profile_diff step — "yesterday" is (c_custkey, c_name),
    # "today" drops c_name, adds c_mktsegment, and nulls every 5th
    # custkey, so all three statuses and a null-rate delta are exercised
    ents["yesterday"] = ents["customer"].select("c_custkey", "c_name")
    ents["today"] = ents["customer"].selectExpr(
        "CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_custkey END"
        " AS c_custkey",
        "c_mktsegment",
    )
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "profile_diff",
                "entity_name": "yesterday",
                "target_name": "today",
                "new_entity_name": "drift",
            }
        ),
    )
    drift = ents["drift"].selectExpr(
        "'drift' AS op",
        "`column` AS key",
        "l_rows AS a",
        "r_rows AS b",
        "null_frac_delta AS x",
        "status AS s1",
        "CAST(l_null AS STRING) || ':' || CAST(r_null AS STRING) AS s2",
    )
    # 'bin' rows: equi-depth quartile binning of order value
    # per status (DECLARED quantile_buckets step), aggregated to
    # (count, min, max) per bucket — populations and boundaries pin the
    # ntile assignment without shipping per-row output
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "quantile_buckets",
                "entity_name": "orders",
                "group_by": ["o_orderstatus"],
                "value_column": "o_totalprice",
                "n_buckets": 4,
                "new_entity_name": "binned",
            }
        ),
    )
    bins = (
        ents["binned"]
        .groupBy("o_orderstatus", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .selectExpr(
            "'bin' AS op",
            "o_orderstatus || ':' || CAST(bucket AS STRING) AS key",
            "n AS a",
            "CAST(bucket AS BIGINT) AS b",
            "lo + hi AS x",
            "CAST(NULL AS STRING) AS s1",
            "CAST(NULL AS STRING) AS s2",
        )
    )
    # 'outlier' rows: Tukey IQR flags on lineitem price per
    # return flag (DECLARED outlier_flags step), reduced to counts
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "outlier_flags",
                "entity_name": "lineitem",
                "group_by": ["l_returnflag"],
                "value_column": "l_extendedprice",
                "new_entity_name": "flagged",
            }
        ),
    )
    outliers = (
        ents["flagged"]
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_outlier").cast("long")).alias("n_out"),
        )
        .selectExpr(
            "'outlier' AS op",
            "l_returnflag AS key",
            "n AS a",
            "n_out AS b",
            "CAST(NULL AS DOUBLE) AS x",
            "CAST(NULL AS STRING) AS s1",
            "CAST(NULL AS STRING) AS s2",
        )
    )
    # 'squant' rows: approximate per-group quantiles from the
    # deterministic min-256 hash SAMPLE (DECLARED sampled_quantiles step)
    # — the 100 TB path where exact percentile's whole-group buffer is
    # the trap; the oracle recomputes the identical sample, so even the
    # approximation is engine-exact (same property as the kmv rows)
    eng.evaluate(
        ents,
        config=ColumnAddition(
            entity_name="lineitem",
            column_name="li_key",
            expression=(
                "CAST(l_orderkey AS STRING) || '-' ||"
                " CAST(l_linenumber AS STRING)"
            ),
            new_entity_name="li_keyed",
        ),
    )
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "sampled_quantiles",
                "entity_name": "li_keyed",
                "group_by": ["l_returnflag"],
                "value_column": "l_extendedprice",
                "key_column": "li_key",
                "probs": [0.25, 0.5, 0.75],
                "k": 256,
                "new_entity_name": "squants",
            }
        ),
    )
    squants = ents["squants"].selectExpr(
        "l_returnflag",
        "n",
        "stack(3, 'p25', q_25, 'p50', q_50, 'p75', q_75) AS (tag, v)",
    ).selectExpr(
        "'squant' AS op",
        "l_returnflag || ':' || tag AS key",
        "n AS a",
        "CAST(NULL AS BIGINT) AS b",
        "v AS x",
        "CAST(NULL AS STRING) AS s1",
        "CAST(NULL AS STRING) AS s2",
    )
    # 'kmvset' rows: KMV SET ALGEBRA through the DECLARED
    # kmv_set step — union/intersection/Jaccard of the open-order vs
    # finished-order customer sets per priority, estimated from the two
    # O(k) sketches alone (llmops/sketch.py kmv_set_estimates, Beyer et
    # al. 2007). The oracle recomputes the identical sketches, so the
    # approximate set algebra is engine-exact — the same property the
    # 'kmv' rows pin for plain cardinality.
    ents["open_orders"] = ents["orders"].where("o_orderstatus = 'O'")
    ents["done_orders"] = ents["orders"].where("o_orderstatus = 'F'")
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "kmv_set",
                "entity_name": "open_orders",
                "target_name": "done_orders",
                "value_column": "o_custkey",
                "group_by": ["o_orderpriority"],
                "k": 128,
                "new_entity_name": "setest",
            }
        ),
    )
    kmvset = ents["setest"].selectExpr(
        "o_orderpriority",
        "union_n_seen",
        "n_both",
        "stack(3, 'union', union_est, 'inter', intersect_est,"
        " 'jac', jaccard) AS (tag, v)",
    ).selectExpr(
        "'kmvset' AS op",
        "o_orderpriority || ':' || tag AS key",
        "union_n_seen AS a",
        "n_both AS b",
        "v AS x",
        "CAST(NULL AS STRING) AS s1",
        "CAST(NULL AS STRING) AS s2",
    )
    # 'wins' rows: DECLARED winsorize of integer price cents
    # per return flag to the exact [p5, p95] interpolated bounds —
    # hashed surface = clip counts + the two deterministic bounds (the
    # clipped SUM would be a float-order trap; counts and bounds pin the
    # same semantics exactly)
    eng.evaluate(
        ents,
        config=ColumnAddition(
            entity_name="lineitem",
            column_name="cents",
            expression="CAST(round(l_extendedprice * 100) AS DOUBLE)",
            new_entity_name="li_cents",
        ),
    )
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "winsorize",
                "entity_name": "li_cents",
                "value_column": "cents",
                "lower": 0.05,
                "upper": 0.95,
                "group_by": ["l_returnflag"],
                "output_column": "cents_w",
                "new_entity_name": "winsored",
            }
        ),
    )
    # the hashed bounds come from the quantiles DIRECTLY: reconstructing lo/hi from rows that actually clipped
    # (max/min over F.when) yields NULL whenever a group clips on only
    # one side — a data-dependent red waiting on any corpus where a
    # p5/p95 bound sits below/above all values. The clip COUNTS stay on
    # the winsored frame as the step attestation; the bounds join in
    # from the same percentile expression the oracle twin runs.
    wbounds = ents["li_cents"].groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(cents, 0.05)"), 6).alias("lo"),
        F.round(F.expr("percentile(cents, 0.95)"), 6).alias("hi"),
    )
    wins = (
        ents["winsored"]
        .groupBy("l_returnflag")
        .agg(
            F.sum(
                (F.col("cents_w") > F.col("cents")).cast("long")
            ).alias("n_lo"),
            F.sum(
                (F.col("cents_w") < F.col("cents")).cast("long")
            ).alias("n_hi"),
        )
        .join(F.broadcast(wbounds), "l_returnflag")
        .selectExpr(
            "'wins' AS op",
            "l_returnflag AS key",
            "n_lo AS a",
            "n_hi AS b",
            "lo + hi AS x",
            "CAST(NULL AS STRING) AS s1",
            "CAST(NULL AS STRING) AS s2",
        )
    )
    # 'imp' rows: DECLARED impute step — synthetic NULLs
    # (orderkey mod 13 / mod 17) filled with the cohort mean / exact
    # median per return flag; hashed surface = imputed-row counts + the
    # fill values themselves (mean = exact-integer sum / count, one
    # division; median = exact percentile — both engine-exact)
    eng.evaluate(
        ents,
        config=SelectColumns(
            entity_name="lineitem",
            columns=(
                "l_returnflag, l_orderkey,"
                " CASE WHEN l_orderkey % 13 = 0 THEN NULL"
                " ELSE CAST(round(l_extendedprice * 100) AS DOUBLE)"
                " END AS vmean,"
                " CASE WHEN l_orderkey % 17 = 0 THEN NULL"
                " ELSE CAST(round(l_extendedprice * 100) AS DOUBLE)"
                " END AS vmed"
            ),
            new_entity_name="li_holes",
        ),
    )
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "impute",
                "entity_name": "li_holes",
                "columns": {"vmean": "mean", "vmed": "median"},
                "group_by": ["l_returnflag"],
                "new_entity_name": "imputed",
            }
        ),
    )
    imp = (
        ents["imputed"]
        .groupBy("l_returnflag")
        .agg(
            F.sum((F.col("l_orderkey") % 13 == 0).cast("long")).alias(
                "n13"
            ),
            F.sum((F.col("l_orderkey") % 17 == 0).cast("long")).alias(
                "n17"
            ),
            F.count(F.lit(1)).alias("n"),
            F.max(
                F.when(F.col("l_orderkey") % 13 == 0, F.col("vmean"))
            ).alias("fmean"),
            F.max(
                F.when(F.col("l_orderkey") % 17 == 0, F.col("vmed"))
            ).alias("fmed"),
        )
        .selectExpr(
            "l_returnflag",
            "n",
            "stack(2, 'mean', n13, fmean, 'med', n17, fmed)"
            " AS (tag, cnt, v)",
        )
        .selectExpr(
            "'imp' AS op",
            "l_returnflag || ':' || tag AS key",
            "cnt AS a",
            "n AS b",
            "v AS x",
            "CAST(NULL AS STRING) AS s1",
            "CAST(NULL AS STRING) AS s2",
        )
    )
    # 'chi2' rows: DECLARED chi2_drift step — per-value
    # chi-square contributions between the even- and odd-orderkey halves
    # of orders (a deterministic "two snapshots" split). Cells are
    # hashed, not the summed statistic, so there is no
    # float-accumulation order; each cell is exact integers + one fixed
    # IEEE expression (llmops/stats.py).
    ents["ref_half"] = ents["orders"].where("o_orderkey % 2 = 0")
    ents["cur_half"] = ents["orders"].where("o_orderkey % 2 = 1")
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "chi2_drift",
                "entity_name": "ref_half",
                "target_name": "cur_half",
                "column": "o_orderpriority",
                "new_entity_name": "chi2cells",
            }
        ),
    )
    chi2 = ents["chi2cells"].selectExpr(
        "'chi2' AS op",
        "value AS key",
        "n_ref AS a",
        "n_cur AS b",
        "chi2_ref + chi2_cur AS x",
        "CAST(NULL AS STRING) AS s1",
        "CAST(NULL AS STRING) AS s2",
    )
    # 'reg' rows: DECLARED grouped_regression step — per-flag
    # OLS of extendedprice on quantity from exact DECIMAL(38,0)
    # sufficient statistics (integer-cents products); the slope row also
    # pins two of the exact sums as strings, so the hash attests both
    # the mergeable integer statistics and the closed-form floats they
    # derive from.
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "grouped_regression",
                "entity_name": "lineitem",
                "x_column": "l_quantity",
                "y_column": "l_extendedprice",
                "group_by": ["l_returnflag"],
                "new_entity_name": "ols",
            }
        ),
    )
    reg = (
        ents["ols"]
        .selectExpr(
            "l_returnflag",
            "n",
            "CAST(sx AS STRING) AS sxs",
            "CAST(sxy AS STRING) AS sxys",
            "stack(3, 'slope', slope, 'icept', intercept,"
            " 'corr', corr) AS (tag, v)",
        )
        .selectExpr(
            "'reg' AS op",
            "l_returnflag || ':' || tag AS key",
            "n AS a",
            "CAST(0 AS BIGINT) AS b",
            "v AS x",
            "CASE WHEN tag = 'slope' THEN sxs END AS s1",
            "CASE WHEN tag = 'slope' THEN sxys END AS s2",
        )
    )
    return (
        kmv.unionAll(prof)
        .unionAll(quants)
        .unionAll(hh)
        .unionAll(drift)
        .unionAll(bins)
        .unionAll(outliers)
        .unionAll(squants)
        .unionAll(kmvset)
        .unionAll(wins)
        .unionAll(imp)
        .unionAll(chi2)
        .unionAll(reg)
    )


def q_text_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text retrieval + record linkage in one row (tagged union), both
    branches DECLARED steps: 'bm25' rows pin the
    Okapi BM25 DETAIL surface for every document matching the fixed
    query — per-doc md5 over the term-sorted (term, tf, df, dl) tuples
    plus corpus (N, sumdl), i.e. the exact rational inputs every BM25
    weight derives from. The float score itself is deliberately OUT of
    the hashed frame: its idf carries `ln`, which is libm-dependent
    (1-ulp JVM/DuckDB divergence flips a rounded decimal — the same
    hazard that would make a rounded tfidf score red); the fold-to-score
    path is pytest-pinned instead. 'fuzzy'
    rows are the blocked fuzzy-match pairs over part names unioned with a
    one-char-truncated perturbed copy (offset ids — every original pairs
    with its truncation at distance 1, the guaranteed-nontrivial device
    the dedup rows use), candidates blocked on the 2-char casefolded
    prefix with EXACT hot-block decomposition via length buckets
    (result-invariance pytest-pinned), verified by exact Levenshtein
    <= 2. The oracle recomputes the naive blocked join."""
    from data_validation_engine_spark.steps import parse_step

    eng = _engine(spark)
    ents = {"documents": _docs(spark, sf_dir)}
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "bm25",
                "entity_name": "documents",
                "id_column": "doc_id",
                "text_column": "text",
                "query": "spark merge window stream",
                "detail": True,
                "new_entity_name": "scored",
            }
        ),
    )
    bm = (
        ents["scored"]
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.concat_ws(
                        "|",
                        F.sort_array(
                            F.collect_list(
                                F.format_string(
                                    "%s=%d:%d:%d",
                                    F.col("term"),
                                    F.col("tf"),
                                    F.col("df"),
                                    F.col("dl"),
                                )
                            )
                        ),
                    ),
                    F.max("n_docs").cast("string"),
                    F.max("sum_dl").cast("string"),
                )
            ).alias("sig"),
        )
        .selectExpr(
            "'bm25' AS op",
            "doc_id AS a",
            "n_terms_hit AS b",
            "CAST(0 AS DOUBLE) AS x",
            "sig",
        )
    )
    # DISTINCT names with the min partkey as id: the part-name vocabulary
    # is fixed (adjective x noun), so repeated names would make the pair
    # set grow quadratically with scale factor; linking distinct names
    # keeps the row vocabulary-bounded at EVERY sf while proving the
    # identical blocked plan
    part = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("p_partkey"))
    )
    names = part.selectExpr("p_partkey AS id", "p_name AS t").unionAll(
        part.selectExpr(
            "p_partkey + 1000000 AS id",
            "substring(p_name, 1, length(p_name) - 1) AS t",
        )
    )
    ents["names_l"] = names
    ents["names_r"] = names.selectExpr("id AS rid", "t AS rt")
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "fuzzy_join",
                "entity_name": "names_l",
                "right_entity": "names_r",
                "left_column": "t",
                "right_column": "rt",
                "max_distance": 2,
                "prefix_len": 2,
                "length_bucket": 2,
                "new_entity_name": "linked",
            }
        ),
    )
    fz = (
        ents["linked"]
        .where("id < r_rid")
        .selectExpr(
            "'fuzzy' AS op",
            "id AS a",
            "r_rid AS b",
            "CAST(distance AS DOUBLE) AS x",
            "'' AS sig",
        )
    )
    # 'decon' arms — benchmark decontamination (corpus docs sharing any word 5-gram with
    # the doc_id % 97 = 0 benchmark slice; the benchmark's distinct n-gram
    # set is broadcast, the corpus never shuffles for the match).
    from data_validation_engine_spark.llmops import decontaminate

    docs = ents["documents"]
    dc = decontaminate(
        docs.where("doc_id % 97 != 0"),
        docs.where("doc_id % 97 = 0"),
        "doc_id",
        "text",
        ngram=5,
    ).selectExpr(
        "'decon' AS op",
        "doc_id AS a",
        "n_hits AS b",
        "CASE WHEN contaminated THEN 1.0 ELSE 0.0 END AS x",
        "'' AS sig",
    )
    return bm.unionAll(fz).unionAll(dc)


def q_step_similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DECLARATIVE path to every ANN variant: hyperplane-LSH probe,
    multi-probe (3 OR-amplified tables), and IVF (16-cell coarse
    quantizer, 4-cell probe) each driven as a dischema step config through
    the step engine (steps/configs.py SimilarityTopK method=ann|multiprobe
    |ivf -> engine.similarity_topk), normalised to (method, vec_id,
    cosine) and unioned — proving the JSON-declarable similarity
    vocabulary computes identically to the library oracles."""
    from data_validation_engine_spark.steps import parse_step

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    eng = _engine(spark)
    ents = {"embeddings": embs, "query": embs.where("vec_id = 0")}
    for method, out in (("ann", "o_ann"), ("multiprobe", "o_mp"), ("ivf", "o_ivf")):
        eng.evaluate(
            ents,
            config=parse_step(
                {
                    "operation": "similarity_topk",
                    "entity_name": "embeddings",
                    "target_name": "query",
                    "method": method,
                    "k": 10,
                    "new_entity_name": out,
                }
            ),
        )
        eng.evaluate(
            ents,
            config=SelectColumns(
                entity_name=out,
                columns=f"'{method}' AS method, vec_id, cosine",
            ),
        )
    eng.evaluate(
        ents,
        config=TableUnion(entity_name="o_ann", target_name="o_mp"),
    )
    eng.evaluate(
        ents,
        config=TableUnion(
            entity_name="o_ann", target_name="o_ivf", new_entity_name="all"
        ),
    )
    return ents["all"]


#: LSH-partitioned layout path per sf_dir (written once per process).
#: All layouts live under ONE per-process root registered for atexit
#: removal, so long-lived bench/driver processes don't leak a
#: partitioned-parquet directory per sf_dir in /tmp.
_LSH_LAYOUTS: dict[str, str] = {}
_LSH_LAYOUT_ROOT: list[str] = []


def _lsh_layout_dir() -> str:
    import atexit
    import shutil
    import tempfile

    if not _LSH_LAYOUT_ROOT:
        root = tempfile.mkdtemp(prefix="dve_lsh_part_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _LSH_LAYOUT_ROOT.append(root)
    return _LSH_LAYOUT_ROOT[0]


def q_ann_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The similarity library paths in one row (tagged union — the step
    path keeps its own hash-identical proof in
    step_similarity_ann): 'exact' rows are the brute-force cosine top-20
    (broadcast query, TakeOrderedAndProject — the correctness baseline);
    'ivf' rows are the deterministic 16-cell coarse quantizer with
    map-side cell assignment and a 4-cell probe; 'multiprobe' rows are
    vec 0's bucket probed in 3 independent hyperplane tables, candidates
    unioned + deduplicated. Exact cosine ranking in all three."""
    from data_validation_engine_spark.llmops import (
        cosine_topk,
        ivf_topk,
        multiprobe_ann_topk,
    )

    from data_validation_engine_spark.llmops import (
        ann_topk,
        ann_topk_partitioned,
        write_lsh_partitioned,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = embs.where("vec_id = 0")
    pad = ("CAST(NULL AS STRING) AS bucket", "CAST(NULL AS BIGINT) AS bucket_part")
    exact = cosine_topk(embs, q, 20).selectExpr(
        "'exact' AS method", "vec_id", "cosine", *pad
    )
    ivf = ivf_topk(embs, q, 10).selectExpr(
        "'ivf' AS method", "vec_id", "cosine", *pad
    )
    mp = multiprobe_ann_topk(embs, q, 10).selectExpr(
        "'multiprobe' AS method", "vec_id", "cosine", *pad
    )
    # 'ann' rows: the flat
    # hyperplane-LSH probe joined to the LSH-PARTITIONED layout's probe
    # (embeddings persisted PARTITIONED BY bucket, probe pushed as a
    # static partition filter reading ONE directory — plan-asserted in
    # tests/test_llmops.py); carrying both bucket and bucket_part proves
    # the partitioned scale path returns the identical candidate set.
    flat = ann_topk(embs, q, 10)
    # the partitioned LAYOUT is written once per (process, sf) and probed
    # on every call — the deployment shape (pay the clustering write
    # once, serve partition-pruned probes forever); first call still
    # exercises the writer
    cache = _LSH_LAYOUTS
    if sf_dir not in cache:
        path = f"{_lsh_layout_dir()}/{len(cache)}/table"
        write_lsh_partitioned(embs, path)
        cache[sf_dir] = path
    part = ann_topk_partitioned(spark, cache[sf_dir], q, 10)
    ann = flat.join(
        part.selectExpr("vec_id", "CAST(bucket AS BIGINT) AS bucket_part"),
        "vec_id",
    ).selectExpr("'ann' AS method", "vec_id", "cosine", "bucket", "bucket_part")
    return exact.unionAll(ivf).unionAll(mp).unionAll(ann)


def q_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed vector aggregation: per-label
    centroids via the two-level ORDERED segment fold — the engine's only
    cross-row float aggregation, partitioning-independent by construction
    where a naive groupBy-sum is shuffle-order-dependent — plus the
    nearest-prototype assignment of every vector to those centroids
    (broadcast prototypes, rounded-cosine + label-asc tiebreak). Tagged
    union: 'centroid' rows carry (label, n, fold-checksum, first
    component) — the checksum pins all 64 components, and the assignment
    cosines pin them again through the scoring; 'assign' rows carry
    (vec_id, assigned_label, cosine); 'kmeans' rows carry the
    final cells of a 2-iteration deterministic distributed k-means
    (squared-L2 argmin assignment + ordered-fold update — an ITERATIVE
    algorithm with an exact unrolled-SQL oracle, which a float
    groupBy-mean k-means can never have)."""
    from data_validation_engine_spark.llmops import (
        kmeans_fit,
        label_centroids,
        nearest_centroid,
    )
    from data_validation_engine_spark.llmops.ivf import ivf_assign

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = label_centroids(
        embs, "label", "vec_id", "embedding", dim=64, segment_size=64
    )
    crow = cents.selectExpr(
        "'centroid' AS op",
        "CAST(label AS BIGINT) AS id",
        "n AS a",
        "aggregate(centroid, 0.0D, (acc, x) -> acc + x) AS x",
        "centroid[0] AS y",
    )
    arow = nearest_centroid(embs, cents).selectExpr(
        "'assign' AS op",
        "vec_id AS id",
        "CAST(assigned_label AS BIGINT) AS a",
        "cosine AS x",
        "CAST(0.0 AS DOUBLE) AS y",
    )
    km = kmeans_fit(embs, 4, dim=64, n_iters=2, segment_size=64)
    km_counts = (
        ivf_assign(embs.selectExpr("vec_id", "embedding"), km)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    km_cents = spark.createDataFrame(
        [(i, c) for i, c in enumerate(km)],
        "cell int, centroid array<double>",
    )
    kmrow = km_cents.join(km_counts, on="cell", how="left").selectExpr(
        "'kmeans' AS op",
        "CAST(cell AS BIGINT) AS id",
        "CAST(coalesce(n, 0) AS BIGINT) AS a",
        "aggregate(centroid, 0.0D, (acc, v) -> acc + v) AS x",
        "centroid[0] AS y",
    )
    # 'quant' rows: symmetric per-vector int8 quantization via
    # the DECLARED quantize_vectors step — the 4x storage form for 100 TB
    # embedding tables; zero-shuffle projection, and the integer qvec
    # checksum + rounded scale replay exactly in the oracle
    from data_validation_engine_spark.steps import parse_step

    ents_q = {"embeddings": embs}
    _engine(spark).evaluate(
        ents_q,
        config=parse_step(
            {
                "operation": "quantize_vectors",
                "entity_name": "embeddings",
                "id_column": "vec_id",
                "vector_column": "embedding",
                "new_entity_name": "quantized",
            }
        ),
    )
    qrow = ents_q["quantized"].selectExpr(
        "'quant' AS op",
        "vec_id AS id",
        "aggregate(qvec, 0L, (acc, q) -> acc + CAST(q AS BIGINT)) AS a",
        "scale AS x",
        "CAST(qvec[0] AS DOUBLE) AS y",
    )
    # 'proj' rows: JL random projection 64 -> 8 through the
    # DECLARED project_vectors step (deterministic md5 Rademacher matrix
    # shipped as plan literals — zero-shuffle map-side, the preprocessing
    # that shrinks 100 TB ANN/IVF indexes 8x); the raw ordered-fold
    # components replay exactly in the oracle, no rounding needed
    _engine(spark).evaluate(
        ents_q,
        config=parse_step(
            {
                "operation": "project_vectors",
                "entity_name": "embeddings",
                "id_column": "vec_id",
                "vector_column": "embedding",
                "in_dim": 64,
                "out_dim": 8,
                "new_entity_name": "projected",
            }
        ),
    )
    prow = ents_q["projected"].selectExpr(
        "'proj' AS op",
        "vec_id AS id",
        "CAST(NULL AS BIGINT) AS a",
        "aggregate(proj, 0.0D, (acc, p) -> acc + p) AS x",
        "proj[0] AS y",
    )
    return (
        crow.unionAll(arow).unionAll(kmrow).unionAll(qrow).unionAll(prow)
    )


def q_sequence_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence preparation in one row (tagged union): 'chunk'
    rows split every document into 32-token windows with an 8-token
    overlap (per-row + posexplode, zero shuffle); 'pack' rows assign each
    document to a fixed-512-token pack under the concat-and-split rule,
    sharded 8 ways by md5 bucket so shards pack independently (one
    narrow shuffle, integer arithmetic only — bit-exact cross-engine).

    'mix' rows: deterministic corpus mixing through the
    DECLARED corpus_mix step — documents labelled web/code/books by
    doc_id mod 3 are downsampled to 50/30/20 shares of a fixed 200k-char
    budget (md5 keep-decisions, +,*,/ only, so the exact kept SET
    replays in the oracle; the per-source totals agg is the only job,
    its collect bounded by the number of sources). One label is scarce
    enough to clamp at keep-everything, exercising the under-delivery
    branch."""
    from data_validation_engine_spark.llmops import (
        chunk_documents,
        pack_sequences,
    )
    from data_validation_engine_spark.steps import parse_step

    docs = _docs(spark, sf_dir)
    chunks = chunk_documents(
        docs, "doc_id", "text", chunk_tokens=32, overlap=8
    ).selectExpr(
        "'chunk' AS op", "doc_id", "chunk_idx AS idx",
        "CAST(n_chunk_tokens AS BIGINT) AS n", "md5(chunk_text) AS payload",
    )
    packs = pack_sequences(
        docs, "doc_id", "text", capacity=512, n_shards=8
    ).selectExpr(
        "'pack' AS op", "doc_id", "CAST(shard AS INT) AS idx",
        "CAST(pack_idx * 512 + pack_offset AS BIGINT) AS n",
        "CAST(n_tokens AS STRING) AS payload",
    )
    eng = _engine(spark)
    ents = {"documents": docs, "labelled": docs.selectExpr(
        "doc_id",
        "n_chars",
        "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'web'"
        " WHEN 1 THEN 'code' ELSE 'books' END AS src",
    )}
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "corpus_mix",
                "entity_name": "labelled",
                "key_column": "doc_id",
                "label_column": "src",
                "weight_column": "n_chars",
                "targets": {"web": 0.5, "code": 0.3, "books": 0.2},
                "budget": 200_000,
                "new_entity_name": "mixed",
            }
        ),
    )
    mixed = ents["mixed"].selectExpr(
        "'mix' AS op", "doc_id", "CAST(NULL AS INT) AS idx",
        "CAST(n_chars AS BIGINT) AS n", "src AS payload",
    )
    # 'quota' rows: EXACT-size per-stratum sampling through the
    # DECLARED exact_quota_sample step — exactly 25 docs per source label
    # ranked by md5(doc_id) with key tiebreak (llmops/split.py;
    # WindowGroupLimit keeps a running top-25 per partition below the
    # exchange, so the shuffle carries samples, not strata). Rate-based
    # sampling only hits quota in expectation; eval slices need counts.
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "exact_quota_sample",
                "entity_name": "labelled",
                "key_column": "doc_id",
                "n": 25,
                "strata_columns": ["src"],
                "new_entity_name": "quota",
            }
        ),
    )
    quota = ents["quota"].selectExpr(
        "'quota' AS op", "doc_id", "CAST(NULL AS INT) AS idx",
        "CAST(n_chars AS BIGINT) AS n", "src AS payload",
    )
    # 'buck' rows: DECLARED bucket_by_length step — docs land
    # in token-length buckets (≤16, ≤48, +inf), shard 4 ways inside the
    # bucket (the hot-bucket guard), and batch 4-at-a-time by id; the
    # hashed surface pins batch assignment AND per-row padding waste
    # (batch max − own tokens), all integers.
    eng.evaluate(
        ents,
        config=parse_step(
            {
                "operation": "bucket_by_length",
                "entity_name": "documents",
                "id_column": "doc_id",
                "text_column": "text",
                "batch_size": 4,
                "bucket_edges": [16, 48],
                "n_shards": 4,
                "new_entity_name": "batches",
            }
        ),
    )
    buck = ents["batches"].selectExpr(
        "'buck' AS op", "doc_id", "CAST(batch_idx AS INT) AS idx",
        "CAST(pad_waste AS BIGINT) AS n",
        "CONCAT(CAST(bucket AS STRING), ':', CAST(shard AS STRING))"
        " AS payload",
    )
    return (
        chunks.unionAll(packs)
        .unionAll(mixed)
        .unionAll(quota)
        .unionAll(buck)
    )


def q_source_xml_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The structured-text readers + the record indexer in one row (tagged
    union): 'json' rows prove the JSONL round-trip with explicit stringified
    schema over region; 'xml' rows prove the XML round-trip (nation
    rendered to XML, read back via the engine's XML reader with rowTag
    records); 'csv' rows prove the CSV round-trip THROUGH the file-handling
    URI service (files.py — put_file + copy_file over file:// URIs,
    digest-verified, listed) and the engine CSV reader with field_check;
    'idx' rows prove the stable 1-based record index in file order
    (zipWithIndex replacement, contract/index.py). Each reader keeps its
    own full proof, distinguishable by the tag."""
    import tempfile
    from pathlib import Path

    from pyspark.sql import types as T

    from data_validation_engine_spark.sources.json import read_json
    from data_validation_engine_spark.sources.xml import read_xml

    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    out_json = Path(tempfile.gettempdir()) / "dve_spark_json_roundtrip.jsonl"
    rows = region.selectExpr(
        "CAST(r_regionkey AS STRING) AS r_regionkey", "r_name"
    ).toPandas()
    out_json.write_text(rows.to_json(orient="records", lines=True))
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.StringType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    json_df = read_json(spark, str(out_json), schema, multi_line=False)

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    nrows = nation.toPandas().to_dict("records")
    parts = ["<nations>"]
    for r in nrows:
        parts.append(
            "<nation>"
            f"<n_nationkey>{r['n_nationkey']}</n_nationkey>"
            f"<n_name>{r['n_name']}</n_name>"
            f"<n_regionkey>{r['n_regionkey']}</n_regionkey>"
            "</nation>"
        )
    parts.append("</nations>")
    out_xml = Path(tempfile.gettempdir()) / "dve_spark_xml_roundtrip.xml"
    out_xml.write_text("".join(parts))
    xml_df = read_xml(spark, str(out_xml), "nation")

    from data_validation_engine_spark.contract import add_record_index
    from data_validation_engine_spark.files import (
        copy_file,
        file_digest,
        list_files,
        put_file,
    )
    from data_validation_engine_spark.sources.csv import CSVOptions, read_csv

    base = Path(tempfile.mkdtemp(prefix="dve_files_q_"))
    local = base / "nation.csv"
    nation.toPandas().to_csv(local, index=False)
    put_file(local, f"file://{base}/staged/nation.csv")
    copy_file(
        f"file://{base}/staged/nation.csv", f"file://{base}/final/nation.csv"
    )
    assert file_digest(f"file://{base}/staged/nation.csv") == file_digest(
        f"file://{base}/final/nation.csv"
    )
    assert list(list_files(f"file://{base}/final", suffix=".csv"))
    csv_df = read_csv(
        spark,
        f"{base}/final/nation.csv",
        ["n_nationkey", "n_name", "n_regionkey"],
        CSVOptions(field_check=True),
    )
    idx_df = add_record_index(
        spark.read.parquet(f"{sf_dir}/customer.parquet")
    )
    return (
        json_df.selectExpr(
            "'json' AS src",
            "CAST(r_regionkey AS BIGINT) AS k",
            "r_name AS name",
            "CAST(-1 AS BIGINT) AS rk",
        )
        .unionAll(
            xml_df.selectExpr(
                "'xml' AS src",
                "CAST(n_nationkey AS BIGINT) AS k",
                "CAST(n_name AS STRING) AS name",
                "CAST(n_regionkey AS BIGINT) AS rk",
            )
        )
        .unionAll(
            csv_df.selectExpr(
                "'csv' AS src",
                "CAST(n_nationkey AS BIGINT) AS k",
                "n_name AS name",
                "CAST(n_regionkey AS BIGINT) AS rk",
            )
        )
        .unionAll(
            idx_df.selectExpr(
                "'idx' AS src",
                "c_custkey AS k",
                "'' AS name",
                "__record_index__ AS rk",
            )
        )
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal binary-column convention in one row: JVM-side
    metadata (payload bytes + content hash) inner-joined with the
    Arrow-batched decode plumbing (mapInPandas + the deterministic fake
    decoder; the ``features array<double>`` projected to scalar DOUBLE
    columns for the oracle canonicalizer).

    Perf: in isolation at sf0.1 on local[32] this row runs 0.89-1.17s
    warm and 8.6s on the very first run of a fresh session (Python
    worker spin-up + first Arrow exchange — one-time session cost, not
    per-query). A slower in-roster time is partially-warm workers plus
    box drift, not the plan: the Arrow hop ships exactly the projected
    binary column (PLANS.md)."""
    from data_validation_engine_spark.llmops.multimodal import (
        attach_binary,
        binary_meta,
        decode_binary,
        fake_decoder,
    )

    docs = _docs(spark, sf_dir)
    with_bin = attach_binary(docs, "text")
    meta = binary_meta(with_bin, "doc_id")
    decoded = decode_binary(with_bin, "doc_id", decoder=fake_decoder)
    features = decoded.select(
        F.col("id").alias("doc_id"),
        F.col("features")[0].alias("f_len"),
        F.col("features")[1].alias("f_mean"),
        F.col("features")[2].alias("f_min"),
        F.col("features")[3].alias("f_max"),
        "decode_error",
    )
    return meta.join(features, "doc_id")


def q_contract_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract value-function library in the cast+check path: ``split``
    extracts the numeric tail of c_name, ``exclude_word`` nulls HOUSEHOLD
    segments, ``normalise`` capitalizes, ``static_key`` emits the join
    constant. Checks run on the TRANSFORMED value (reference runs
    functions in the pydantic validator chain, dve
    function_wrapper.py:48-201), so customers whose mandatory segment was
    excluded are rejected from the typed output."""
    from data_validation_engine_spark.contract import (
        apply_contract,
        parse_contract,
    )

    cust = _load(spark, sf_dir, ["customer"])["customer"]
    stringified = cust.selectExpr(
        "CAST(c_custkey AS STRING) AS ck",
        "c_name AS name_num",
        "c_mktsegment AS segment",
        "c_mktsegment AS join_key",
    )
    contract = parse_contract(
        {
            "contract": {
                "datasets": {
                    "cust_fn": {
                        "fields": {
                            "ck": "int",
                            "name_num": {
                                "type": "int",
                                "functions": [
                                    {
                                        "name": "split",
                                        "kwargs": {
                                            "split_on": "#",
                                            "keep": 1,
                                        },
                                    }
                                ],
                            },
                            "segment": {
                                "type": "str",
                                "functions": [
                                    {
                                        "name": "exclude_word",
                                        "kwargs": {"word": "household"},
                                    },
                                    {
                                        "name": "normalise",
                                        "kwargs": {"capitalize": True},
                                    },
                                ],
                            },
                            "join_key": {
                                "type": "str",
                                "functions": [{"name": "static_key"}],
                            },
                        },
                        "mandatory_fields": ["segment"],
                    }
                }
            }
        }
    )
    typed, _ = apply_contract(contract.entity("cust_fn"), stringified)
    return typed.selectExpr("ck", "name_num", "segment", "join_key")


def q_streaming_sync_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming lift of the sync-filter stage, oracle-checkable.

    events.parquet is read as a FILE STREAM, the deferred filters run per
    micro-batch through ``streaming_sync_filters`` (same predicates,
    message schema, and single-projection shape as the batch stage), and
    the message feed drains to the standard JSONL sink under an
    ``availableNow`` trigger. Returning the read-back feed makes
    batch/stream message parity a hash-checked property instead of a
    claim: the oracle is plain SQL over the same events table.

    'sjoin' rows: the STREAM-STREAM event-time interval join
    (streaming/joins.py) — every purchase joined to the same user's
    clicks in the preceding 6 hours (the attribution shape), both sides
    live streams with watermarks + the range condition that lets Spark
    evict join state, drained under availableNow. The DuckDB twin is the
    identical batch join, so stream-stream parity is hash-checked too.
    """
    import tempfile

    from data_validation_engine_spark.messages import MESSAGE_SCHEMA
    from data_validation_engine_spark.streaming.filters import (
        read_entity_stream,
        start_message_sink,
        streaming_sync_filters,
    )

    # explicit SUBSET schema: the filters never touch ts (events.parquet
    # stores timestamp[us], directly readable), so declared-schema pruning
    # keeps the column out of the scan entirely — narrower stream state
    schema = (
        "event_id long, user_id long, event_type string, "
        "value double, props string"
    )
    sdf = read_entity_stream(
        spark,
        sf_dir,
        schema,
        options={"pathGlobFilter": "events.parquet"},
    )
    _, messages = streaming_sync_filters(
        sdf,
        [
            DeferredFilter(
                entity_name="events",
                expression="value BETWEEN 0 AND 90",
                reporting=Reporting(
                    code="VALUE_RANGE",
                    message="value out of range",
                    reporting_field="event_id",
                ),
            ),
            DeferredFilter(
                entity_name="events",
                expression="event_type <> 'error'",
                reporting=Reporting(
                    code="ERROR_EVENT",
                    message="error event",
                    reporting_field="event_id",
                ),
            ),
        ],
    )
    out = tempfile.mkdtemp(prefix="dve_stream_msgs_")
    query = start_message_sink(
        messages, f"{out}/data", f"{out}/ckpt", available_now=True
    )

    from data_validation_engine_spark.streaming import stream_interval_join

    ev = _events_stream(spark, sf_dir)
    attributed = stream_interval_join(
        ev.where("event_type = 'purchase'"),
        ev.where("event_type = 'click'"),
        "user_id",
        lower_seconds=6 * 3600,
        upper_seconds=0,
        watermark="366 days",
    ).selectExpr(
        "'sjoin' AS op",
        "'attribution' AS entity",
        "CAST(event_id AS STRING) AS error_code",
        "CAST(r_event_id AS STRING) AS error_message",
        "CAST(unix_micros(ts) - unix_micros(r_ts) AS STRING)"
        " AS failure_type",
        "user_id AS record_key",
    )
    with _state_partitions(spark):
        q2 = _drain(attributed, f"{out}/attr")
    query.awaitTermination()
    q2.awaitTermination()
    feed = spark.read.schema(MESSAGE_SCHEMA).json(f"{out}/data")
    msgs = feed.selectExpr(
        "'msg' AS op",
        "entity",
        "error_code",
        "error_message",
        "failure_type",
        "CAST(value AS BIGINT) AS record_key",
    )
    return msgs.unionAll(spark.read.parquet(f"{out}/attr"))


# full events schema with ts declared as session-tz TIMESTAMP: watermarks
# reject TIMESTAMP_NTZ, and declaring the type up front reads the stored
# µs values as session-local wall-clock — the same interpretation DuckDB's
# naive timestamps give the oracle
_EVENTS_TS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful maintenance in one row (tagged union).

    'dedup' rows: ``dropDuplicatesWithinWatermark`` drained under
    availableNow — it keeps the first-seen row per key, so only the KEY
    COLUMNS are deterministic; the query returns exactly those, making
    the drained output hash-comparable to ``SELECT DISTINCT`` over the
    same table. The watermark horizon covers the whole synthetic range,
    so no key is dropped for lateness.

    'scdc' rows: a CDC ledger derived from orders ('P' status
    = delete, o_orderkey = sequence) is STREAMED through
    ``streaming_apply_changes`` (foreachBatch + the declared-semantics
    batch apply_changes, write-staging-then-swap) into a parquet table
    bootstrapped from empty; the final maintained table is returned. The
    DuckDB twin replays the ledger with a ranked window — so the
    continuously-maintained table is hash-proven equal to the batch
    semantics, the same parity discipline every other streaming row
    follows.
    """
    import tempfile

    from data_validation_engine_spark.streaming import (
        streaming_apply_changes,
        streaming_exact_dedup,
    )

    sdf = _events_stream(spark, sf_dir)
    deduped = streaming_exact_dedup(
        sdf, ["user_id", "event_type"], ts_col="ts", watermark="366 days"
    )
    out = tempfile.mkdtemp(prefix="dve_stream_dedup_")
    with _state_partitions(spark):
        q = _drain(deduped.select("user_id", "event_type"), f"{out}/data")

    # 'scdc': materialise the orders-derived ledger, stream it into a
    # foreachBatch-maintained table (concurrently with the dedup drain)
    ledger_schema = "id bigint, name string, bal double, cop string, seq bigint"
    spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr(
        "o_custkey AS id",
        "CONCAT('cdc_', CAST(o_custkey AS STRING)) AS name",
        "CAST(o_orderkey % 1000 AS DOUBLE) AS bal",
        "CASE WHEN o_orderstatus = 'P' THEN 'D' ELSE 'U' END AS cop",
        "o_orderkey AS seq",
    ).write.parquet(f"{out}/ledger")
    q2 = streaming_apply_changes(
        spark.readStream.schema(ledger_schema).parquet(f"{out}/ledger"),
        f"{out}/table",
        ["id"],
        op_col="cop",
        sequence_col="seq",
        checkpoint=f"{out}/ckpt_cdc",
        available_now=True,
    )
    q.awaitTermination()
    q2.awaitTermination()
    dedup_rows = spark.read.parquet(f"{out}/data").selectExpr(
        "'dedup' AS op",
        "user_id AS k",
        "event_type AS s",
        "CAST(NULL AS DOUBLE) AS x",
    )
    cdc_rows = spark.read.parquet(f"{out}/table").selectExpr(
        "'scdc' AS op", "id AS k", "name AS s", "bal AS x"
    )
    return dedup_rows.unionAll(cdc_rows)


def q_streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked hourly windowed counts drained under availableNow.

    Append mode emits exactly the windows closed by the final watermark
    (window end <= max event time - delay; Spark runs a trailing no-data
    micro-batch to flush them), so the drained set is deterministic and
    the oracle is a plain filtered GROUP BY. Window starts are returned as
    formatted strings so the comparison is engine-neutral.

    'kmv' rows: the SAME drain discipline for the third custom
    stateful operator — daily windowed APPROXIMATE distinct users via the
    mergeable KMV sketch (O(k) state per window where exact distinct is
    the canonical unbounded-state trap); the DuckDB twin recomputes the
    identical min-16 md5 sketch per window, so even the streaming
    estimate is engine-exact.
    """
    import tempfile

    from data_validation_engine_spark.streaming import (
        streaming_kmv_distinct,
        windowed_counts,
    )

    sdf = _events_stream(spark, sf_dir)
    agg = windowed_counts(
        sdf, "ts", window="1 hour", watermark="2 hours",
        group_by=["event_type"],
    )
    out = tempfile.mkdtemp(prefix="dve_stream_win_")
    # the two drains are independent streaming queries — start BOTH, then
    # await both: availableNow drains carry ~2s of fixed micro-batch
    # plumbing each, and running them concurrently pays it once in wall
    # time (the production shape too: independent streams share a session)
    with _state_partitions(spark):
        q = _drain(agg, f"{out}/data")
    sk = streaming_kmv_distinct(
        _events_stream(spark, sf_dir),
        "ts",
        "user_id",
        window_seconds=86400,
        k=16,
    )
    with _state_partitions(spark):
        q2 = _drain(sk, f"{out}/kmv")
    q.awaitTermination()
    q2.awaitTermination()
    # epoch seconds, not date_format: the window BUCKETING is epoch-µs
    # aligned (tz-free) but formatting a timestamp renders in the session
    # zone — integer window starts keep the hashed surface
    # environment-invariant (caught by the adverse-environment matrix)
    counts = spark.read.parquet(f"{out}/data").selectExpr(
        "'count' AS op",
        "CAST(unix_seconds(window.start) AS STRING) AS win_start",
        "event_type",
        "n",
        "CAST(NULL AS DOUBLE) AS x",
    )
    kmv = spark.read.parquet(f"{out}/kmv").selectExpr(
        "'kmv' AS op",
        "CAST(window_start AS STRING) AS win_start",
        "CAST(kth_hash AS STRING) AS event_type",
        "n_seen AS n",
        "approx_distinct AS x",
    )
    return counts.unionAll(kmv)


def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user batch sessionization (30-min gap rule): the gaps-and-islands
    rollup — one user-keyed window shuffle, integer-µs arithmetic
    (streaming/sessions.py session_stats). Batch and stream each ride
    their own arm, so a divergence names its side, and every hashed
    numeric renders as STRING in both twins."""
    from data_validation_engine_spark.streaming import session_stats

    events = _events_ts(spark, sf_dir)
    return session_stats(events, "user_id", "ts", gap_seconds=1800).selectExpr(
        "CAST(user_id AS STRING) AS uid",
        "CAST(session_idx AS STRING) AS session_idx",
        "CAST(n_events AS STRING) AS n_events",
        "CAST(duration_us AS STRING) AS duration_us",
    ).selectExpr(
        "'b' AS op", "CONCAT_WS('|', uid, session_idx) AS k",
        "CONCAT_WS('|', n_events, duration_us) AS v",
    )


def q_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME sessionization maintained by the STREAMING custom stateful
    operator (streaming/sessions.py streaming_sessionize,
    applyInPandasWithState per-user state — all timestamp math JVM-side as
    longs — drained under availableNow), rolled up per (user, session) and
    hashed against the identical gaps-and-islands SQL oracle: the hash
    proves batch/stream session parity against the oracle instead of
    claiming it. All-STRING hashed frame."""
    import tempfile

    from data_validation_engine_spark.streaming import streaming_sessionize

    sdf = _events_stream(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="dve_sessions_q_")
    with _state_partitions(spark):
        q = _drain(
            streaming_sessionize(
                sdf, "user_id", "ts", gap_seconds=1800, watermark="366 days"
            ),
            f"{out}/data",
        )
    q.awaitTermination()
    return (
        spark.read.parquet(f"{out}/data")
        .groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.max("event_ts_us") - F.min("event_ts_us")).alias("dur"),
        )
        .selectExpr(
            "CAST(user_id AS STRING) AS uid",
            "CAST(session_idx AS STRING) AS session_idx",
            "CAST(n AS STRING) AS n_events",
            "CAST(dur AS STRING) AS duration_us",
        )
        .selectExpr(
            "'s' AS op", "CONCAT_WS('|', uid, session_idx) AS k",
            "CONCAT_WS('|', n_events, duration_us) AS v",
        )
    )


def q_report_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-shaped report aggregates sheet over the contract
    validation feed — the sheet the Excel/CSV report writes, derived from
    the feed's grouping-sets summary (sinks/report.py summarise_feed,
    aggregates_sheet), proven against a SQL GROUP BY, unioned
    with the entity PRESENCE checks of ``run_pipeline``: a dischema declaring
    {alpha, beta} fed {alpha, gamma} fails the submission with one
    critical message per missing/undeclared entity, mapped into the same
    sheet columns under Type='Presence Check'. The early return fires
    before any file is read, and its ``result.messages`` is the literal
    file_transformation feed, so the rows are fully deterministic."""
    import json as _json
    import tempfile
    from pathlib import Path

    from data_validation_engine_spark.contract import (
        apply_contract,
        parse_contract,
    )
    from data_validation_engine_spark.pipeline import run_pipeline
    from data_validation_engine_spark.sinks.report import (
        aggregates_sheet,
        summarise_feed,
    )

    contract = parse_contract(_CONTRACT_DISCHEMA)
    _, messages = apply_contract(
        contract.entity("orders_sub"), _stringified_orders(spark, sf_dir)
    )
    sheet = spark.createDataFrame(aggregates_sheet(summarise_feed(messages)))

    root = Path(tempfile.mkdtemp(prefix="dve_presence_"))
    (root / "dischema.json").write_text(
        _json.dumps(
            {
                "contract": {
                    "datasets": {
                        "alpha": {"fields": {"id": "int"}},
                        "beta": {"fields": {"id": "int"}},
                    }
                }
            }
        )
    )
    res = run_pipeline(
        spark,
        root / "dischema.json",
        {"alpha": str(root / "a.csv"), "gamma": str(root / "g.csv")},
        root / "work",
        write_report=False,
    )
    assert not res.success
    presence = res.messages.selectExpr(
        "'Presence Check' AS Type",
        "entity AS `Table`",
        "error_message AS Data_Item",
        "category AS Category",
        "error_code AS Error_Code",
        "CAST(1 AS BIGINT) AS Count",
    )
    return sheet.unionByName(presence)


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL production path in one oracle row (reference
    pipeline/pipeline.py:950-977 analogue): two CSV submissions with
    metadata are dropped in a landing prefix, discovered/paired/moved and
    audited by ``process_landing`` (thread-pool fan-out, max_workers=2),
    each run through transform -> contract -> business rules -> entity
    sinks -> audit. The returned frame is the validated entity read back
    from a COMPACTED rewrite of the parquet SINK (scale.compact_parquet
    — the small-file maintenance an incremental pipeline needs;
    reading the compacted copy makes the oracle hash prove compaction
    lossless), cross-joined with the audit trail's distinct latest
    status — exactly one ('completed') iff every stage of both
    submissions succeeded, so the hash attests the pipeline AND the audit
    table."""
    import json as _json
    import tempfile
    from pathlib import Path

    from data_validation_engine_spark.pipeline import process_landing
    from data_validation_engine_spark.sinks.audit import AuditLog

    root = Path(tempfile.mkdtemp(prefix="dve_e2e_"))
    dischema = {
        "contract": {
            "datasets": {
                "nations": {
                    "fields": {
                        "n_nationkey": "int",
                        "n_name": "str",
                        "n_regionkey": "int",
                    },
                    "key_field": "n_nationkey",
                    "mandatory_fields": ["n_nationkey", "n_name"],
                }
            }
        },
        "transformations": {
            "rules": [
                {
                    "operation": "add",
                    "entity": "nations",
                    "column_name": "name_len",
                    "expression": "length(n_name)",
                }
            ]
        },
    }
    (root / "dischema.json").write_text(_json.dumps(dischema))
    landing = root / "landing"
    landing.mkdir()
    pdf = spark.read.parquet(f"{sf_dir}/nation.parquet").toPandas()
    halves = (
        pdf[pdf.n_nationkey % 2 == 0],
        pdf[pdf.n_nationkey % 2 == 1],
    )
    for i, part in enumerate(halves):
        part.to_csv(landing / f"nations_{i}.csv", index=False)
        (landing / f"nations_{i}.csv.metadata.json").write_text(
            _json.dumps({"file_name": f"nations_{i}.csv"})
        )
    # the versioned-table attestation
    # below touches only its own temp dir and the nation scan — nothing
    # from the landing pipeline — so its serial chain of write/read/
    # vacuum jobs (~0.9s) runs in a thread that process_landing's
    # submission jobs back-fill. Same frames, same values; the join is
    # after the pipeline section so failure propagation is unchanged.
    from concurrent.futures import ThreadPoolExecutor

    vt_pool = ThreadPoolExecutor(max_workers=1)
    vt_future = vt_pool.submit(_pipeline_vtable_frames, spark, sf_dir, root)
    results = process_landing(
        spark,
        root / "dischema.json",
        str(landing),
        root / "out",
        audit_path=str(root / "audit"),
        write_report=True,
        max_workers=2,
    )
    assert len(results) == 2 and all(r.success for r in results)
    from data_validation_engine_spark.scale import compact_parquet

    # compact ONE submission's sink and read it back (the read-back
    # equality in the oracle hash proves the rewrite lossless; compacting
    # the second too would prove nothing more and cost another write job)
    ent = None
    for i, r in enumerate(results):
        path = r.entity_paths["nations"]
        if i == 0:
            compacted = str(root / "compact_0")
            stats = compact_parquet(spark, path, compacted)
            assert stats["files_after"] <= max(1, stats["files_before"])
            path = compacted
        back = spark.read.parquet(path)
        ent = back if ent is None else ent.unionByName(back)
    status = (
        AuditLog(spark, str(root / "audit"))
        .latest_status()
        .select("status")
        .distinct()
    )
    pipe = ent.crossJoin(status).selectExpr(
        "'pipe' AS op",
        "CAST(n_nationkey AS STRING) AS k",
        "CONCAT_WS('|', n_name, CAST(n_regionkey AS STRING),"
        " CAST(name_len AS STRING), status) AS v",
    )
    try:
        vt1, vt2, vac = vt_future.result()
    finally:
        vt_pool.shutdown(wait=False)
    return (
        pipe.unionByName(vt1).unionByName(vt2).unionByName(vac)
    )


def _pipeline_vtable_frames(spark: SparkSession, sf_dir: str, root):
    """The versioned-table tags of :func:`q_pipeline_e2e`: write v1 (half the table), publish v2
    (full), prove a reader pinned at v1 still reads the COMPLETE old
    snapshot after v2 published (time travel), publish v3, vacuum
    keep_last=2 (removes exactly v1), and read the published pointer
    after the vacuum. Every step's result is in the hashed frame — a
    torn snapshot, a mis-advanced pointer or an over-eager vacuum each
    flips the hash. Factored out so the independent chain overlaps the
    landing pipeline (guide §2.6)."""
    from data_validation_engine_spark.sinks.versioned import (
        list_versions,
        read_table,
        vacuum,
        write_version,
    )

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    tdir = str(root / "vtable")
    v1 = write_version(nation.where("n_nationkey < 10"), tdir)
    v2 = write_version(nation, tdir)
    assert (v1, v2) == (1, 2)
    vt1 = read_table(spark, tdir, version=1).selectExpr(
        "'vt1' AS op", "CAST(n_nationkey AS STRING) AS k", "n_name AS v"
    )
    # force the pinned-version read BEFORE v3/vacuum mutate the dir
    # (DataFrames are lazy; the time-travel claim needs the old files
    # still present when the plan executes)
    vt1_rows = vt1.collect()
    vt1 = spark.createDataFrame(vt1_rows, "op string, k string, v string")
    v3 = write_version(nation, tdir)
    removed = vacuum(spark, tdir, keep_last=2)
    remaining = list_versions(spark, tdir)
    vt2 = read_table(spark, tdir).selectExpr(
        "'vt2' AS op", "CAST(n_nationkey AS STRING) AS k", "n_name AS v"
    )
    vac = spark.createDataFrame(
        [(
            "vac",
            "*",
            ",".join(str(v) for v in removed)
            + "|" + ",".join(str(v) for v in remaining)
            + f"|{v3}",
        )],
        "op string, k string, v string",
    )
    return vt1, vt2, vac


# ---------------------------------------------------------------------------
# llmops oracle SQL builders (DuckDB)
# ---------------------------------------------------------------------------


def _kv_sql(sql: str, op: str, k: str, v_cols: list[str]) -> str:
    """Re-project a typed oracle into the all-string (op, k, v) arm shape
    its Spark twin emits. '||' is safe: every column it joins is a
    non-null VARCHAR by construction."""
    v = " || '|' || ".join(v_cols)
    return f"SELECT '{op}' AS op, {k} AS k, {v} AS v FROM ({sql})"


def _union_sql(*parts: str) -> str:
    """UNION ALL of arm oracles as parenthesised subqueries (every arm
    emits the same (op, k, v) positional shape)."""
    return "\nUNION ALL\n".join(
        f"SELECT * FROM (\n{p}\n)" for p in parts
    )


# NULL/blank text → zero tokens, matching tokens_col's normalisation
_DUCK_TOKS = (
    r"CASE WHEN COALESCE(regexp_replace(text, '^\s+|\s+$', '', 'g'), '') = '' THEN CAST([] AS VARCHAR[]) "
    r"ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END"
)


def _duck_shingles(n: int = 3) -> str:
    """DuckDB expression for distinct word n-gram shingles over ``toks``."""
    return (
        f"list_distinct(CASE WHEN len(toks) >= {n} THEN "
        f"list_transform(generate_series(0, len(toks) - {n}), "
        f"i -> array_to_string(toks[i + 1:i + {n}], ' ')) "
        f"ELSE [array_to_string(toks, ' ')] END)"
    )


def _duck_dup_gram_frac(n: int) -> str:
    """DuckDB expression: 1 - distinct/total word n-grams over ``toks``
    (0.0 for docs shorter than ``n`` words) — the repetition_stats twin."""
    return (
        f"CASE WHEN len(toks) >= {n} THEN round(1.0 - len(list_distinct("
        f"list_transform(generate_series(0, len(toks) - {n}), "
        f"i -> array_to_string(toks[i + 1:i + {n}], ' '))))::DOUBLE "
        f"/ (len(toks) - {n - 1})::DOUBLE, 6) ELSE 0.0 END"
    )


def _minhash_pair_ctes(
    num_hashes: int = 12, bands: int = 4, threshold: float = 0.5
) -> str:
    """Shared CTE chain ending in ``pairs(id_a, id_b, jaccard)`` — used by
    the minhash-pair oracle and, with a recursive suffix, the
    connected-components oracles."""
    rows = num_hashes // bands
    sig = ", ".join(
        f"list_min(list_transform(shingles, s -> md5('mh{i}|' || s)))"
        for i in range(num_hashes)
    )
    band_key = " || '|' || ".join(
        f"sig[b * {rows} + {j + 1}]" for j in range(rows)
    )
    return f"""toked AS (
            SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
        ),
        sh AS (
            SELECT doc_id, {_duck_shingles()} AS shingles FROM toked
        ),
        sig AS (
            SELECT doc_id, shingles, [{sig}] AS sig FROM sh
        ),
        bands AS (
            SELECT doc_id, shingles, t.b AS band_idx,
                   md5({band_key}) AS band_key
            FROM sig, generate_series(0, {bands - 1}) t(b)
        ),
        cand AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   any_value(a.shingles) AS sh_a, any_value(b.shingles) AS sh_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        pairs AS (
            SELECT id_a, id_b, jaccard FROM (
                SELECT id_a, id_b,
                       round(len(list_intersect(sh_a, sh_b))::DOUBLE
                             / len(list_distinct(list_concat(sh_a, sh_b))), 6)
                           AS jaccard
                FROM cand
            ) WHERE jaccard >= {threshold}
        )"""


def _dedup_minhash_oracle(
    num_hashes: int = 12, bands: int = 4, threshold: float = 0.5
) -> str:
    """Both near-dup modalities, tagged: the minhash CTE chain, plus the
    NAIVE exact-Jaccard twin for the prefix-filtered ngram operator —
    candidates here are every pair sharing ANY shingle, so equality with
    Spark's prefix-filtered plan proves the filter loses no pairs."""
    return f"""
        WITH {_minhash_pair_ctes(num_hashes, bands, threshold)},
        ngdocs AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
            UNION ALL
            SELECT doc_id + 1000000, text || ' spark'
            FROM documents WHERE doc_id % 20 = 0
        ),
        ngtoked AS (
            SELECT doc_id, {_DUCK_TOKS} AS toks FROM ngdocs
        ),
        ngsh AS (
            SELECT doc_id, {_duck_shingles()} AS shingles FROM ngtoked
        ),
        posts AS (SELECT doc_id, unnest(shingles) AS s FROM ngsh),
        ngcand AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM posts a JOIN posts b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        ngpairs AS (
            SELECT id_a, id_b,
                   round(len(list_intersect(x.shingles, y.shingles))::DOUBLE
                         / len(list_distinct(
                               list_concat(x.shingles, y.shingles))), 6)
                       AS jaccard
            FROM ngcand
            JOIN ngsh x ON ngcand.id_a = x.doc_id
            JOIN ngsh y ON ngcand.id_b = y.doc_id
        )
        SELECT id_a, id_b, jaccard, 'minhash' AS method FROM pairs
        UNION ALL
        SELECT id_a, id_b, jaccard, 'ngram' AS method FROM ngpairs
        WHERE jaccard >= {threshold}
        UNION ALL
        SELECT x.doc_id, y.doc_id,
               round(len(list_intersect(x.shingles, y.shingles))::DOUBLE
                     / len(x.shingles), 6) AS c,
               'containment'
        FROM ngsh x JOIN ngsh y ON x.doc_id <> y.doc_id
        WHERE round(len(list_intersect(x.shingles, y.shingles))::DOUBLE
                    / len(x.shingles), 6) >= 0.8
    """


def _dedup_fuzzy_oracle(threshold: float = 0.5) -> str:
    """Survivors of the full fuzzy dedup: documents whose id equals the
    min id reachable in the near-dup pair graph (non-paired docs survive
    trivially — they never appear in ``comp``)."""
    return f"""
        WITH RECURSIVE {_minhash_pair_ctes(threshold=threshold)},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach(id, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT reach.id, e.dst
            FROM reach JOIN edges e ON reach.r = e.src
        ),
        comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        SELECT doc_id, n_chars, lang FROM documents
        WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)
    """


def _connected_components_oracle(threshold: float = 0.5) -> str:
    """Components of the minhash pair graph: min reachable id per node via
    a recursive reachability CTE (UNION dedups, so it terminates)."""
    return f"""
        WITH RECURSIVE {_minhash_pair_ctes(threshold=threshold)},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach(id, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT reach.id, e.dst
            FROM reach JOIN edges e ON reach.r = e.src
        )
        SELECT id, min(r) AS component FROM reach GROUP BY id
    """


def _triangle_oracle(threshold: float = 0.5) -> str:
    """Per-node triangle counts of the minhash pair graph: pairs are
    already canonical (id_a < id_b), so each triangle x<y<z matches the
    3-way self-join exactly once; every triangle credits its three
    vertices."""
    return f"""
        WITH {_minhash_pair_ctes(threshold=threshold)},
        te AS (SELECT DISTINCT id_a AS a, id_b AS b FROM pairs),
        tris AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM te e1
            JOIN te e2 ON e2.a = e1.b
            JOIN te e3 ON e3.a = e1.a AND e3.b = e2.b
        )
        SELECT node, count(*) AS n_tri FROM (
            SELECT x AS node FROM tris
            UNION ALL SELECT y FROM tris
            UNION ALL SELECT z FROM tris
        ) GROUP BY node
    """


def _pagerank_oracle(iters: int = 3, damping: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank twin over the supplier->part
    graph. Float literals ride as CAST('…' AS VARCHAR→DOUBLE) because
    DuckDB parses bare decimal literals as DECIMAL (a different double
    after conversion); init/base are computed IN SQL with the same
    operation sequence Python uses (1.0/n; (1.0-d)/n). Every per-target
    sum is the ordered list_reduce fold, matching Spark's sort_array +
    aggregate fold bit-for-bit."""
    damp = f"CAST('{damping!r}' AS DOUBLE)"
    sql = f"""
        WITH e AS (
            SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000000 AS dst
            FROM lineitem WHERE l_quantity >= 48
        ),
        nodes AS (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM e UNION SELECT dst FROM e
            )
        ),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        links AS (SELECT e.src, e.dst, deg FROM e JOIN deg ON e.src = deg.src),
        r0 AS (
            SELECT node, CAST(1.0 AS DOUBLE) / n AS pr FROM nodes, nn
        )"""
    prev = "r0"
    for i in range(1, iters + 1):
        sql += f""",
        c{i} AS (
            SELECT l.src, l.dst,
                   ('0x' || substring(md5(CAST(l.src AS VARCHAR)), 1, 4))::INT
                       % 64 AS seg,
                   pr / deg AS c
            FROM links l JOIN {prev} r ON l.src = r.node
        ),
        g{i} AS (
            SELECT dst, seg,
                   list_reduce(list_prepend(0.0, list(c ORDER BY src)),
                               (a, b) -> a + b) AS segsum
            FROM c{i} GROUP BY dst, seg
        ),
        s{i} AS (
            SELECT dst,
                   list_reduce(list_prepend(0.0, list(segsum ORDER BY seg)),
                               (a, b) -> a + b) AS s
            FROM g{i} GROUP BY dst
        ),
        r{i} AS (
            SELECT node,
                   (CAST(1.0 AS DOUBLE) - {damp}) / n
                       + {damp} * coalesce(s, 0.0) AS pr
            FROM nodes LEFT JOIN s{i} ON node = dst, nn
        )"""
        prev = f"r{i}"
    return sql + f" SELECT node, pr FROM {prev}"


def _dedup_simhash_oracle(bits: int = 16) -> str:
    high = "('8','9','a','b','c','d','e','f')"
    bit_exprs = " || ".join(
        f"CASE WHEN 2 * len(list_filter(toks, t -> "
        f"substring(md5(t), {b + 1}, 1) IN {high})) >= len(toks) "
        f"THEN '1' ELSE '0' END"
        for b in range(bits)
    )
    return f"""
        SELECT doc_id, {bit_exprs} AS simhash
        FROM (
            SELECT doc_id, list_distinct({_DUCK_TOKS}) AS toks FROM documents
        )
    """


def _dedup_simhash_pairs_oracle(
    bits: int = 32, max_hamming: int = 1, n_bands: int = 2
) -> str:
    from data_validation_engine_spark.llmops.dedup import simhash_band_bounds

    bounds = simhash_band_bounds(bits, n_bands)
    band_sel = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS band_idx, "
        f"substring(simhash, {s}, {w}) AS band_key FROM sigs"
        for i, (s, w) in enumerate(bounds)
    )
    hamming = (
        f"list_sum(list_transform(generate_series(1, {bits}), i -> "
        f"CASE WHEN substring(sa, i, 1) <> substring(sb, i, 1) "
        f"THEN 1 ELSE 0 END))"
    )
    sliced_sigs = _dedup_simhash_oracle(bits).replace(
        "FROM documents", "FROM (SELECT * FROM documents WHERE doc_id % 10 = 0)"
    )
    return f"""
        WITH sigs AS ({sliced_sigs}),
        bands AS ({band_sel}),
        cand AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   any_value(a.simhash) AS sa, any_value(b.simhash) AS sb
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b, hamming FROM (
            SELECT id_a, id_b, CAST({hamming} AS BIGINT) AS hamming
            FROM cand
        ) WHERE hamming <= {max_hamming}
    """


def _duck_dot(a: str, b: str, dim: int = 64) -> str:
    """Left-fold double dot product in index order (bit-identical to the
    Spark ``aggregate(zip_with(...))`` fold)."""
    return (
        f"list_reduce(list_transform(generate_series(1, {dim}), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x, y) -> x + y)"
    )


def _projection_oracle(out_dim: int = 8) -> str:
    """JL-projection twin: the SAME md5 Rademacher matrix the engine
    builds (vectors.projection_matrix) inlined as literal arrays; each
    component is the ordered _duck_dot fold, and the checksum is the
    explicit left-parenthesised sum matching Spark's aggregate fold."""
    from data_validation_engine_spark.llmops.vectors import (
        projection_matrix,
    )

    m = projection_matrix(64, out_dim)

    def lit(row: list[float]) -> str:
        return "[" + ",".join(repr(x) for x in row) + "]"

    comps = [_duck_dot("embedding", lit(row)) for row in m]
    checksum = "0.0"
    for c in comps:
        checksum = f"({checksum} + ({c}))"
    return f"""
        SELECT vec_id, {checksum} AS proj_sum, ({comps[0]}) AS proj0
        FROM embeddings
    """


def _duck_vec_fold(lst: str, dim: int = 64) -> str:
    """DuckDB expression: elementwise left-fold sum of an ordered list of
    double-arrays, zero-vector start (bit-identical to the Spark
    ``aggregate(..., zip_with(+))`` fold in vectors.py)."""
    zero = f"list_transform(generate_series(1, {dim}), i -> 0.0)"
    return (
        f"list_reduce(list_prepend({zero}, {lst}), (a, b) -> "
        f"list_transform(generate_series(1, {dim}), i -> a[i] + b[i]))"
    )


def _kmeans_oracle(
    k: int = 4, n_iters: int = 2, seg: int = 64, dim: int = 64
) -> str:
    """Unrolled DuckDB twin of llmops.vectors.kmeans_fit + the final cell
    stats: init = first-k by id, per iteration squared-L2 argmin
    assignment (ties to the lower cell) then the two-level ordered fold
    update rounded to 6, empty cells keeping the previous centroid."""

    def l2(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(generate_series(1, {dim}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
        )

    ctes = [
        "v0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""c0 AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS c
            FROM (SELECT vec_id, v FROM v0 ORDER BY vec_id LIMIT {k})
        )""",
    ]
    prev = "c0"
    for it in range(1, n_iters + 1):
        ctes.append(f"""a{it} AS (
            SELECT vec_id, v, cell FROM (
                SELECT e.vec_id, e.v, c.cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {l2('e.v', 'c.c')}, c.cell
                       ) AS rk
                FROM v0 e, {prev} c
            ) WHERE rk = 1
        )""")
        ctes.append(f"""g{it} AS (
            SELECT cell, vec_id // {seg} AS sg, count(*) AS n,
                   {_duck_vec_fold("list(v ORDER BY vec_id)", dim)} AS ss
            FROM a{it} GROUP BY 1, 2
        )""")
        ctes.append(f"""t{it} AS (
            SELECT cell, sum(n) AS n,
                   {_duck_vec_fold("list(ss ORDER BY sg)", dim)} AS vs
            FROM g{it} GROUP BY 1
        )""")
        ctes.append(f"""c{it} AS (
            SELECT p.cell,
                   COALESCE(list_transform(t.vs,
                       x -> round(x / t.n::DOUBLE, 6)), p.c) AS c
            FROM {prev} p LEFT JOIN t{it} t USING (cell)
        )""")
        prev = f"c{it}"
    # final assignment against the FINAL centroids -> member counts
    ctes.append(f"""afin AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {l2('e.v', 'c.c')}, c.cell
                   ) AS rk
            FROM v0 e, {prev} c
        ) WHERE rk = 1
    )""")
    ctes.append(
        "nfin AS (SELECT cell, count(*) AS n FROM afin GROUP BY 1)"
    )
    body = ",\n".join(ctes)
    return f"""
        WITH {body}
        SELECT CAST(p.cell AS BIGINT) AS id,
               CAST(COALESCE(nfin.n, 0) AS BIGINT) AS a,
               list_reduce(list_prepend(0.0, p.c), (x, y) -> x + y) AS x,
               p.c[1] AS y
        FROM {prev} p LEFT JOIN nfin USING (cell)
    """


def _similarity_topk_oracle(k: int = 20, dim: int = 64) -> str:
    cos = (
        f"round({_duck_dot('e.embedding', 'q.qv', dim)} / "
        f"(sqrt({_duck_dot('e.embedding', 'e.embedding', dim)}) * "
        f"sqrt({_duck_dot('q.qv', 'q.qv', dim)})), 6)"
    )
    return f"""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id, {cos} AS cosine
        FROM embeddings e, q
        WHERE vec_id <> 0
        ORDER BY cosine DESC, vec_id ASC
        LIMIT {k}
    """


def _knn_join_oracle(k: int = 3, n_planes: int = 6, dim: int = 64) -> str:
    """DuckDB twin of llmops.similarity.knn_join (n_tables=1): same-bucket
    pairs symmetrised, per-source window on (cosine DESC, neighbour ASC)."""
    from data_validation_engine_spark.llmops.similarity import hyperplanes

    planes = hyperplanes(n_planes, dim)
    bits = []
    for plane in planes:
        lit = "[" + ", ".join(repr(v) for v in plane) + "]"
        bits.append(
            f"CASE WHEN {_duck_dot('embedding', lit, dim)} >= 0 "
            f"THEN '1' ELSE '0' END"
        )
    bucket = " || ".join(bits)
    cos = (
        f"round({_duck_dot('a.__va', 'b.__vb', dim)} / "
        f"(sqrt({_duck_dot('a.__va', 'a.__va', dim)}) * "
        f"sqrt({_duck_dot('b.__vb', 'b.__vb', dim)})), 6)"
    )
    return f"""
        WITH bucketed AS (
            SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
        ),
        half AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cosine
            FROM (SELECT vec_id, embedding AS __va, bucket FROM bucketed) a
            JOIN (SELECT vec_id, embedding AS __vb, bucket FROM bucketed) b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        ),
        sym AS (
            SELECT id_a, id_b, cosine FROM half
            UNION ALL
            SELECT id_b, id_a, cosine FROM half
        )
        SELECT id_a AS vec_id, id_b AS neighbour, cosine, rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY id_a ORDER BY cosine DESC, id_b ASC
            ) AS rank FROM sym
        ) WHERE rank <= {k}
    """


def _similarity_ann_oracle(k: int = 10, n_planes: int = 4, dim: int = 64) -> str:
    from data_validation_engine_spark.llmops.similarity import hyperplanes

    planes = hyperplanes(n_planes, dim)

    def bucket(vec: str) -> str:
        bits = []
        for plane in planes:
            lit = "[" + ", ".join(repr(v) for v in plane) + "]"
            bits.append(
                f"CASE WHEN {_duck_dot(vec, lit, dim)} >= 0 "
                f"THEN '1' ELSE '0' END"
            )
        return " || ".join(bits)

    cos = (
        f"round({_duck_dot('e.embedding', 'q.qv', dim)} / "
        f"(sqrt({_duck_dot('e.embedding', 'e.embedding', dim)}) * "
        f"sqrt({_duck_dot('q.qv', 'q.qv', dim)})), 6)"
    )
    return f"""
        WITH q AS (
            SELECT embedding AS qv, {bucket('embedding')} AS qbucket
            FROM embeddings WHERE vec_id = 0
        ),
        t AS (
            SELECT vec_id, embedding, {bucket('embedding')} AS bucket
            FROM embeddings
        )
        SELECT vec_id, {cos} AS cosine, bucket
        FROM t e JOIN q ON e.bucket = q.qbucket
        WHERE vec_id <> 0
        ORDER BY cosine DESC, vec_id ASC
        LIMIT {k}
    """


def _multiprobe_ann_oracle(
    k: int = 10, n_planes: int = 6, n_tables: int = 3, dim: int = 64
) -> str:
    from data_validation_engine_spark.llmops.similarity import hyperplanes

    def bucket(vec: str, planes: list[list[float]]) -> str:
        bits = []
        for plane in planes:
            lit = "[" + ", ".join(repr(v) for v in plane) + "]"
            bits.append(
                f"CASE WHEN {_duck_dot(vec, lit, dim)} >= 0 "
                f"THEN '1' ELSE '0' END"
            )
        return " || ".join(bits)

    tables = [
        hyperplanes(n_planes, dim, offset=t * n_planes)
        for t in range(n_tables)
    ]
    q_buckets = ", ".join(
        f"{bucket('embedding', planes)} AS qb{t}"
        for t, planes in enumerate(tables)
    )
    probes = " UNION ALL ".join(
        f"SELECT e.vec_id FROM embeddings e, q "
        f"WHERE {bucket('e.embedding', planes)} = q.qb{t}"
        for t, planes in enumerate(tables)
    )
    cos = (
        f"round({_duck_dot('e.embedding', 'q.qv', dim)} / "
        f"(sqrt({_duck_dot('e.embedding', 'e.embedding', dim)}) * "
        f"sqrt({_duck_dot('q.qv', 'q.qv', dim)})), 6)"
    )
    return f"""
        WITH q AS (
            SELECT embedding AS qv, {q_buckets}
            FROM embeddings WHERE vec_id = 0
        ),
        cand AS (SELECT DISTINCT vec_id FROM ({probes}))
        SELECT e.vec_id, {cos} AS cosine
        FROM embeddings e JOIN cand USING (vec_id), q
        WHERE e.vec_id <> 0
        ORDER BY cosine DESC, e.vec_id ASC
        LIMIT {k}
    """


def _similarity_ivf_oracle(
    k: int = 10, n_cells: int = 16, n_probe: int = 4, dim: int = 64
) -> str:
    """IVF twin: centroids re-derived from the table (first n_cells by
    id), squared-L2 folds in index order, cell ties to the lower id via
    struct min — all matching llmops/ivf.py exactly."""

    def l2sq(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(generate_series(1, {dim}), "
            f"i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * "
            f"({a}[i]::DOUBLE - {b}[i]::DOUBLE)), (x, y) -> x + y)"
        )

    cos = (
        f"round({_duck_dot('a.embedding', 'q.qv', dim)} / "
        f"(sqrt({_duck_dot('a.embedding', 'a.embedding', dim)}) * "
        f"sqrt({_duck_dot('q.qv', 'q.qv', dim)})), 6)"
    )
    return f"""
        WITH cent AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                   embedding AS cv
            FROM embeddings ORDER BY vec_id LIMIT {n_cells}
        ),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        assign AS (
            SELECT e.vec_id, e.embedding,
                   (min(struct_pack(
                        d := {l2sq('e.embedding', 'c.cv')},
                        cell := c.cell))).cell AS cell
            FROM embeddings e CROSS JOIN cent c
            GROUP BY e.vec_id, e.embedding
        ),
        probe AS (
            SELECT c.cell FROM cent c, q
            ORDER BY {l2sq('q.qv', 'c.cv')} ASC, c.cell ASC
            LIMIT {n_probe}
        )
        SELECT a.vec_id, {cos} AS cosine, a.cell
        FROM assign a JOIN probe p ON a.cell = p.cell, q
        WHERE a.vec_id <> 0
        ORDER BY cosine DESC, a.vec_id ASC
        LIMIT {k}
    """


def _embedding_neardup_oracle(
    n_planes: int = 6, dim: int = 64, threshold: float = 0.5
) -> str:
    from data_validation_engine_spark.llmops.similarity import hyperplanes

    planes = hyperplanes(n_planes, dim)
    bits = []
    for plane in planes:
        lit = "[" + ", ".join(repr(v) for v in plane) + "]"
        bits.append(
            f"CASE WHEN {_duck_dot('embedding', lit, dim)} >= 0 "
            f"THEN '1' ELSE '0' END"
        )
    bucket = " || ".join(bits)
    cos = (
        f"round({_duck_dot('a.__va', 'b.__vb', dim)} / "
        f"(sqrt({_duck_dot('a.__va', 'a.__va', dim)}) * "
        f"sqrt({_duck_dot('b.__vb', 'b.__vb', dim)})), 6)"
    )
    return f"""
        WITH bucketed AS (
            SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
        )
        SELECT id_a, id_b, cosine FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cosine
            FROM (SELECT vec_id, embedding AS __va, bucket FROM bucketed) a
            JOIN (SELECT vec_id, embedding AS __vb, bucket FROM bucketed) b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        ) WHERE cosine >= {threshold}
    """


_DUCK_STOP = {
    lang: "(" + ", ".join(f"'{w}'" for w in words) + ")"
    for lang, words in __import__(
        "data_validation_engine_spark.llmops.text", fromlist=["STOPWORDS"]
    ).STOPWORDS.items()
}


def _text_stats_oracle() -> str:
    sum_len = "list_reduce(list_transform(toks, t -> length(t)), (a, b) -> a + b)"
    punct = r"len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))"
    stop = f"len(list_filter(toks, t -> lower(t) IN {_DUCK_STOP['en']}))"
    bpe = r"len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))"
    return f"""
        SELECT doc_id,
               length(text) AS n_chars,
               len(toks) AS n_tokens,
               {bpe} AS n_bpe_tokens,
               round({sum_len}::DOUBLE / len(toks)::DOUBLE, 4) AS avg_token_len,
               round({punct}::DOUBLE / length(text)::DOUBLE, 4) AS punct_ratio,
               round({stop}::DOUBLE / len(toks)::DOUBLE, 4) AS stopword_ratio,
               (len(toks) BETWEEN 5 AND 5000)
                   AND (round({sum_len}::DOUBLE / len(toks)::DOUBLE, 4)
                        BETWEEN 2.0 AND 15.0)
                   AND (round({punct}::DOUBLE / length(text)::DOUBLE, 4) < 0.2)
                   AS quality_ok
        FROM (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents)
    """


def _lang_id_oracle() -> str:
    hits = {
        lang: f"len(list_filter(toks, t -> lower(t) IN {_DUCK_STOP[lang]}))"
        for lang in ("en", "es", "de", "fr")
    }
    best = f"greatest({hits['en']}, {hits['es']}, {hits['de']}, {hits['fr']})"
    return f"""
        SELECT doc_id,
               CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]')
                        THEN 'zh'
                    WHEN {best} = 0 THEN 'und'
                    WHEN {hits['en']} = {best} THEN 'en'
                    WHEN {hits['es']} = {best} THEN 'es'
                    WHEN {hits['de']} = {best} THEN 'de'
                    ELSE 'fr' END AS lang_pred
        FROM (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents)
    """


# survivor branch: a = b = copy count, because the Spark row
# inner-joins the library survivors with the declarative-step
# survivors — the hash covers both paths. inc_* branches: the
# incremental-dedup twins (EXISTS over the naive pair predicate).
_DEDUP_EXACT_SQL = f"""
        WITH dup_in AS (
            SELECT * FROM documents
            UNION ALL
            SELECT * FROM documents WHERE doc_id % 10 = 0
        ),
        survivor AS (
            SELECT 'survivor' AS op,
                   arg_min(doc_id, doc_id) AS doc_id,
                   count(*) AS a,
                   count(*) AS b
            FROM dup_in
            GROUP BY md5(text)
        ),
        corpus AS (
            SELECT * FROM documents
            WHERE doc_id % 2 = 0 AND doc_id % 5 <> 0
        ),
        newb AS (
            SELECT doc_id, text, n_chars FROM documents
            WHERE doc_id % 2 = 0 AND doc_id % 5 = 0
            UNION ALL
            SELECT doc_id + 2000000, text, n_chars
            FROM corpus WHERE doc_id % 9 = 0
        ),
        inc_exact AS (
            SELECT 'inc_exact' AS op,
                   arg_min(doc_id, doc_id) AS doc_id,
                   arg_min(n_chars, doc_id) AS a,
                   CAST(-1 AS BIGINT) AS b
            FROM newb
            GROUP BY text
            HAVING NOT EXISTS (
                SELECT 1 FROM corpus c WHERE c.text = newb.text
            )
        ),
        alldocs AS (
            SELECT doc_id, text, FALSE AS is_new FROM corpus
            UNION ALL
            SELECT doc_id, text, TRUE FROM newb
        ),
        itoked AS (
            SELECT doc_id, is_new, {_DUCK_TOKS} AS toks FROM alldocs
        ),
        ish AS (
            SELECT doc_id, is_new, {_duck_shingles()} AS shingles FROM itoked
        ),
        iposts AS (SELECT doc_id, is_new, unnest(shingles) AS s FROM ish),
        icand AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM iposts a JOIN iposts b
              ON a.s = b.s AND a.doc_id <> b.doc_id
             AND a.is_new AND (NOT b.is_new OR b.doc_id < a.doc_id)
            GROUP BY 1, 2
        ),
        idrop AS (
            SELECT DISTINCT id_a FROM icand
            JOIN ish x ON icand.id_a = x.doc_id
            JOIN ish y ON icand.id_b = y.doc_id
            WHERE round(len(list_intersect(x.shingles, y.shingles))::DOUBLE
                  / len(list_distinct(
                        list_concat(x.shingles, y.shingles))), 6) >= 0.5
        ),
        inc_ngram AS (
            SELECT 'inc_ngram' AS op, doc_id, n_chars AS a,
                   CAST(-2 AS BIGINT) AS b
            FROM newb WHERE doc_id NOT IN (SELECT id_a FROM idrop)
        )
        SELECT * FROM survivor
        UNION ALL SELECT * FROM inc_exact
        UNION ALL SELECT * FROM inc_ngram
    """

_DEDUP_MINHASH_SQL = _dedup_minhash_oracle()
_STEP_DEDUP_FUZZY_SQL = f"""
        SELECT * FROM ({_dedup_fuzzy_oracle()})
        UNION ALL
        SELECT doc_id, n_chars,
               'rep:' || CAST(doc_id % 50 AS VARCHAR) AS lang
        FROM (
            SELECT doc_id, n_chars,
                   row_number() OVER (
                       PARTITION BY doc_id % 50
                       ORDER BY n_chars DESC, doc_id ASC
                   ) AS rk
            FROM documents
        ) WHERE rk = 1
    """

# signatures (full corpus) unioned with banded pairs (10% slice)
_DEDUP_SIMHASH_SQL = f"""
        SELECT 'sig' AS op, doc_id AS a, CAST(-1 AS BIGINT) AS b,
               simhash AS v
        FROM ({_dedup_simhash_oracle()})
        UNION ALL
        SELECT 'pair', id_a, id_b, CAST(hamming AS VARCHAR)
        FROM ({_dedup_simhash_pairs_oracle()})
    """

_BOUNDED_PAIRS_SQL = """
        WITH t AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN 0
                        ELSE doc_id % 7 END AS bucket
            FROM documents WHERE doc_id % 2 = 0
        )
        SELECT a.bucket, a.doc_id AS id_a, b.doc_id AS id_b
        FROM t a JOIN t b
          ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    """

# component twice: label propagation joined with large-star/small-star
_CONNECTED_COMPONENTS_SQL = f"""
        SELECT 'cc' AS op, id, component, component_star,
               CAST(NULL AS DOUBLE) AS x
        FROM ({_connected_components_oracle().replace(
            "min(r) AS component",
            "min(r) AS component, min(r) AS component_star",
        )})
        UNION ALL
        SELECT 'pr', node, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), pr
        FROM ({_pagerank_oracle()})
        UNION ALL
        SELECT 'tri', node, n_tri, CAST(NULL AS BIGINT),
               CAST(NULL AS DOUBLE)
        FROM ({_triangle_oracle()})
    """

# KMV sketch + column profile + exact grouped quantiles; the kmv
# branch recomputes the identical min-128 md5 sketch so even the
# APPROXIMATE estimate is engine-exact
_DATA_PROFILING_SQL = f"""
        WITH hp AS (
            SELECT DISTINCT o_orderpriority,
                   ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS hv
            FROM orders
        ),
        rk AS (
            SELECT o_orderpriority, hv, row_number() OVER (
                PARTITION BY o_orderpriority ORDER BY hv) AS rn
            FROM hp WHERE hv IS NOT NULL
        ),
        km AS (
            SELECT o_orderpriority, count(*) AS n_seen,
                   max(CASE WHEN rn = 128 THEN hv END) AS kth
            FROM rk WHERE rn <= 128 GROUP BY 1
        ),
        gq AS (
            SELECT l_returnflag, count(*) AS n,
                   round(quantile_cont(l_quantity, 0.25), 6) AS q25,
                   round(quantile_cont(l_quantity, 0.5), 6) AS q50,
                   round(quantile_cont(l_quantity, 0.75), 6) AS q75
            FROM lineitem GROUP BY 1
        )
        SELECT 'kmv' AS op, o_orderpriority AS key, n_seen AS a, kth AS b,
               CASE WHEN n_seen < 128 THEN CAST(n_seen AS DOUBLE)
                    ELSE CAST('{float(127) * float(1 << 60)!r}' AS DOUBLE)
                         / CAST(kth AS DOUBLE) END AS x,
               CAST(NULL AS VARCHAR) AS s1, CAST(NULL AS VARCHAR) AS s2
        FROM km
        UNION ALL
        SELECT 'profile', 'c_custkey', count(*),
               sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END),
               CAST(count(DISTINCT c_custkey) AS DOUBLE),
               CAST(min(c_custkey) AS VARCHAR), CAST(max(c_custkey) AS VARCHAR)
        FROM customer
        UNION ALL
        SELECT 'profile', 'c_name', count(*),
               sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END),
               CAST(count(DISTINCT c_name) AS DOUBLE),
               min(c_name), max(c_name)
        FROM customer
        UNION ALL
        SELECT 'profile', 'c_nationkey', count(*),
               sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END),
               CAST(count(DISTINCT c_nationkey) AS DOUBLE),
               CAST(min(c_nationkey) AS VARCHAR), CAST(max(c_nationkey) AS VARCHAR)
        FROM customer
        UNION ALL
        SELECT 'profile', 'c_mktsegment', count(*),
               sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END),
               CAST(count(DISTINCT c_mktsegment) AS DOUBLE),
               min(c_mktsegment), max(c_mktsegment)
        FROM customer
        UNION ALL
        SELECT 'quant', l_returnflag || ':p25', n, CAST(NULL AS BIGINT),
               q25, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM gq
        UNION ALL
        SELECT 'quant', l_returnflag || ':p50', n, CAST(NULL AS BIGINT),
               q50, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM gq
        UNION ALL
        SELECT 'quant', l_returnflag || ':p75', n, CAST(NULL AS BIGINT),
               q75, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM gq
        UNION ALL
        SELECT 'hh', o_orderstatus, n, rk, CAST(NULL AS DOUBLE),
               value, CAST(NULL AS VARCHAR)
        FROM (
            SELECT o_orderstatus, o_orderpriority AS value,
                   count(*) AS n,
                   row_number() OVER (
                       PARTITION BY o_orderstatus
                       ORDER BY count(*) DESC, o_orderpriority ASC
                   ) AS rk
            FROM orders GROUP BY 1, 2
        ) WHERE rk <= 3
        UNION ALL
        SELECT 'drift', col, lr, rr,
               CASE WHEN lr IS NOT NULL AND rr IS NOT NULL
                    THEN round(nr / greatest(rr, 1) - nl / greatest(lr, 1), 6)
               END,
               CASE WHEN lr IS NULL THEN 'added'
                    WHEN rr IS NULL THEN 'removed'
                    ELSE 'common' END,
               CAST(nl AS VARCHAR) || ':' || CAST(nr AS VARCHAR)
        FROM (
            SELECT 'c_custkey' AS col, count(*) AS lr,
                   sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS nl
            FROM customer
            UNION ALL
            SELECT 'c_name', count(*),
                   sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END)
            FROM customer
        ) lp
        FULL OUTER JOIN (
            SELECT 'c_custkey' AS col, count(*) AS rr,
                   sum(CASE WHEN (CASE WHEN c_custkey % 5 = 0 THEN NULL
                                       ELSE c_custkey END) IS NULL
                       THEN 1 ELSE 0 END) AS nr
            FROM customer
            UNION ALL
            SELECT 'c_mktsegment', count(*),
                   sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)
            FROM customer
        ) rp USING (col)
        UNION ALL
        SELECT 'bin', o_orderstatus || ':' || CAST(bucket AS VARCHAR),
               n, bucket, lo + hi,
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        FROM (
            SELECT o_orderstatus, bucket, count(*) AS n,
                   round(min(o_totalprice), 2) AS lo,
                   round(max(o_totalprice), 2) AS hi
            FROM (
                SELECT o_orderstatus, o_totalprice,
                       CAST(ntile(4) OVER (
                           PARTITION BY o_orderstatus
                           ORDER BY o_totalprice ASC
                       ) AS BIGINT) AS bucket
                FROM orders
            ) GROUP BY 1, 2
        )
        UNION ALL
        SELECT 'outlier', l_returnflag, n, n_out,
               CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
               CAST(NULL AS VARCHAR)
        FROM (
            SELECT l_returnflag, count(*) AS n,
                   sum(CASE WHEN outside THEN 1 ELSE 0 END) AS n_out
            FROM (
                SELECT l.l_returnflag,
                       CASE WHEN l.l_extendedprice IS NULL THEN FALSE
                            ELSE l.l_extendedprice
                                     < q.q25 - 1.5 * (q.q75 - q.q25)
                              OR l.l_extendedprice
                                     > q.q75 + 1.5 * (q.q75 - q.q25)
                       END AS outside
                FROM lineitem l JOIN (
                    SELECT l_returnflag,
                           round(quantile_cont(l_extendedprice, 0.25), 6)
                               AS q25,
                           round(quantile_cont(l_extendedprice, 0.75), 6)
                               AS q75
                    FROM lineitem GROUP BY 1
                ) q USING (l_returnflag)
            ) GROUP BY 1
        )
        UNION ALL
        SELECT 'squant', l_returnflag || ':' || tag, n,
               CAST(NULL AS BIGINT), v,
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        FROM (
            SELECT l_returnflag, count(*) AS n,
                   round(quantile_cont(x, 0.25), 6) AS p25,
                   round(quantile_cont(x, 0.5), 6) AS p50,
                   round(quantile_cont(x, 0.75), 6) AS p75
            FROM (
                SELECT l_returnflag, x, row_number() OVER (
                    PARTITION BY l_returnflag ORDER BY hv, x
                ) AS rn
                FROM (
                    SELECT l_returnflag, l_extendedprice AS x,
                           ('0x' || substring(md5(
                               CAST(l_orderkey AS VARCHAR) || '-'
                               || CAST(l_linenumber AS VARCHAR)
                           ), 1, 15))::BIGINT AS hv
                    FROM lineitem
                    WHERE l_extendedprice IS NOT NULL
                )
            ) WHERE rn <= 256 GROUP BY 1
        ) UNPIVOT (v FOR tag IN (p25, p50, p75))
        UNION ALL
        SELECT 'kmvset', p || ':' || tag, union_n_seen, n_both, v,
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        FROM (
            SELECT p, union_n_seen, n_both, union_est, jac,
                   CAST(jac * union_est AS DOUBLE) AS inter
            FROM (
            SELECT p, union_n_seen, n_both,
                   CASE WHEN union_n_seen < 128
                        THEN CAST(union_n_seen AS DOUBLE)
                        ELSE CAST('{float(127) * float(1 << 60)!r}'
                                  AS DOUBLE) / CAST(kth AS DOUBLE)
                   END AS union_est,
                   CAST(n_both AS DOUBLE)
                       / CAST(union_n_seen AS DOUBLE) AS jac
            FROM (
                SELECT p, count(*) AS union_n_seen,
                       max(CASE WHEN rn = 128 THEN hv END) AS kth,
                       sum(CASE WHEN in_a = 1 AND in_b = 1
                                THEN 1 ELSE 0 END) AS n_both
                FROM (
                    SELECT p, hv, in_a, in_b, row_number() OVER (
                        PARTITION BY p ORDER BY hv) AS rn
                    FROM (
                        SELECT p, hv, max(in_a) AS in_a, max(in_b) AS in_b
                        FROM (
                            SELECT p, hv, 1 AS in_a, 0 AS in_b FROM (
                                SELECT p, hv, row_number() OVER (
                                    PARTITION BY p ORDER BY hv) AS rn
                                FROM (
                                    SELECT DISTINCT o_orderpriority AS p,
                                        ('0x' || substring(md5(CAST(
                                            o_custkey AS VARCHAR)), 1, 15)
                                        )::BIGINT AS hv
                                    FROM orders WHERE o_orderstatus = 'O'
                                )
                            ) WHERE rn <= 128
                            UNION ALL
                            SELECT p, hv, 0, 1 FROM (
                                SELECT p, hv, row_number() OVER (
                                    PARTITION BY p ORDER BY hv) AS rn
                                FROM (
                                    SELECT DISTINCT o_orderpriority AS p,
                                        ('0x' || substring(md5(CAST(
                                            o_custkey AS VARCHAR)), 1, 15)
                                        )::BIGINT AS hv
                                    FROM orders WHERE o_orderstatus = 'F'
                                )
                            ) WHERE rn <= 128
                        ) GROUP BY p, hv
                    )
                ) WHERE rn <= 128 GROUP BY p
            )
            )
        ) UNPIVOT (v FOR tag IN (union_est AS "union",
                                 inter AS inter, jac AS jac))
        UNION ALL
        SELECT 'wins', l_returnflag, n_lo, n_hi, lo + hi,
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        FROM (
            SELECT l.l_returnflag,
                   sum(CASE WHEN cents < b.lo THEN 1 ELSE 0 END) AS n_lo,
                   sum(CASE WHEN cents > b.hi THEN 1 ELSE 0 END) AS n_hi,
                   b.lo, b.hi
            FROM (
                SELECT l_returnflag,
                       CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                            AS DOUBLE) AS cents
                FROM lineitem
            ) l JOIN (
                SELECT l_returnflag,
                       round(quantile_cont(
                           CAST(CAST(round(l_extendedprice * 100)
                                AS BIGINT) AS DOUBLE), 0.05), 6) AS lo,
                       round(quantile_cont(
                           CAST(CAST(round(l_extendedprice * 100)
                                AS BIGINT) AS DOUBLE), 0.95), 6) AS hi
                FROM lineitem GROUP BY 1
            ) b USING (l_returnflag)
            GROUP BY 1, b.lo, b.hi
        )
        UNION ALL
        SELECT 'imp', l_returnflag || ':' || tag, cnt, n, v,
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        FROM (
            SELECT l_returnflag, count(*) AS n,
                   sum(CASE WHEN l_orderkey % 13 = 0
                            THEN 1 ELSE 0 END) AS n13,
                   sum(CASE WHEN l_orderkey % 17 = 0
                            THEN 1 ELSE 0 END) AS n17,
                   CAST(sum(vmean) AS DOUBLE)
                       / CAST(count(vmean) AS DOUBLE) AS fmean,
                   round(quantile_cont(vmed, 0.5), 6) AS fmed
            FROM (
                SELECT l_returnflag, l_orderkey,
                       CASE WHEN l_orderkey % 13 = 0 THEN NULL
                            ELSE CAST(CAST(round(l_extendedprice * 100)
                                 AS BIGINT) AS DOUBLE) END AS vmean,
                       CASE WHEN l_orderkey % 17 = 0 THEN NULL
                            ELSE CAST(CAST(round(l_extendedprice * 100)
                                 AS BIGINT) AS DOUBLE) END AS vmed
                FROM lineitem
            ) GROUP BY 1
        ) UNPIVOT ((cnt, v) FOR tag IN ((n13, fmean) AS mean,
                                        (n17, fmed) AS med))
        UNION ALL
        SELECT 'chi2', value, n_ref, n_cur,
               round((CAST(n_ref AS DOUBLE)
                      - CAST(n_ref + n_cur AS DOUBLE)
                        * CAST(tr AS DOUBLE) / CAST(tr + tc AS DOUBLE))
                     * (CAST(n_ref AS DOUBLE)
                        - CAST(n_ref + n_cur AS DOUBLE)
                          * CAST(tr AS DOUBLE) / CAST(tr + tc AS DOUBLE))
                     / (CAST(n_ref + n_cur AS DOUBLE)
                        * CAST(tr AS DOUBLE) / CAST(tr + tc AS DOUBLE)), 6)
               + round((CAST(n_cur AS DOUBLE)
                        - CAST(n_ref + n_cur AS DOUBLE)
                          * CAST(tc AS DOUBLE) / CAST(tr + tc AS DOUBLE))
                       * (CAST(n_cur AS DOUBLE)
                          - CAST(n_ref + n_cur AS DOUBLE)
                            * CAST(tc AS DOUBLE) / CAST(tr + tc AS DOUBLE))
                       / (CAST(n_ref + n_cur AS DOUBLE)
                          * CAST(tc AS DOUBLE)
                          / CAST(tr + tc AS DOUBLE)), 6),
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        FROM (
            SELECT COALESCE(a.value, b.value) AS value,
                   COALESCE(n_ref, 0) AS n_ref,
                   COALESCE(n_cur, 0) AS n_cur
            FROM (
                SELECT o_orderpriority AS value, count(*) AS n_ref
                FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1
            ) a FULL OUTER JOIN (
                SELECT o_orderpriority AS value, count(*) AS n_cur
                FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1
            ) b ON a.value IS NOT DISTINCT FROM b.value
        ), (
            SELECT sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
                       AS tr,
                   sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
                       AS tc
            FROM orders
        )
        UNION ALL
        SELECT 'reg', l_returnflag || ':' || tag, n, 0, v,
               CASE WHEN tag = 'slope' THEN sxs END,
               CASE WHEN tag = 'slope' THEN sxys END
        FROM (
            SELECT l_returnflag, n,
                   CAST(sx AS VARCHAR) AS sxs, CAST(sxy AS VARCHAR) AS sxys,
                   round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                       AS slope,
                   round((CAST(sy AS DOUBLE)
                          - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                            * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
                       AS icept,
                   round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                   - CAST(sy AS DOUBLE)
                                     * CAST(sy AS DOUBLE))), 6) AS corr
            FROM (
                SELECT l_returnflag, count(*) AS n,
                       sum(xc) AS sx, sum(yc) AS sy, sum(xc * yc) AS sxy,
                       sum(xc * xc) AS sxx, sum(yc * yc) AS syy
                FROM (
                    SELECT l_returnflag,
                           CAST(round(l_quantity * 100) AS HUGEINT) AS xc,
                           CAST(round(l_extendedprice * 100) AS HUGEINT)
                               AS yc
                    FROM lineitem
                ) GROUP BY 1
            )
        ) UNPIVOT (v FOR tag IN (slope, icept, corr))
    """

# BM25 (ordered-fold scores) + blocked fuzzy linkage pairs; the fuzzy
# twin is the NAIVE blocked join, pinning the length-bucket
# decomposition's exactness
_TEXT_RETRIEVAL_SQL = rf"""
        WITH base AS (
            SELECT doc_id,
                   list_transform({_DUCK_TOKS}, t -> lower(t)) AS toks
            FROM documents
        ),
        b2 AS (SELECT doc_id, toks, len(toks) AS dl FROM base),
        corpus AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM b2),
        hits AS (SELECT doc_id, dl, unnest(toks) AS term FROM b2),
        tf AS (
            SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
            FROM hits WHERE term IN ('merge', 'spark', 'stream', 'window')
            GROUP BY doc_id, term
        ),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        wd AS (
            SELECT doc_id, tf.term AS term, tf, df, dl, n, sumdl
            FROM tf, dfreq, corpus WHERE tf.term = dfreq.term
        ),
        bm AS (
            SELECT doc_id, count(*) AS n_terms_hit,
                   md5(string_agg(term || '=' || tf || ':' || df || ':'
                                  || dl, '|' ORDER BY term)
                       || '|' || CAST(max(n) AS VARCHAR)
                       || '|' || CAST(max(sumdl) AS VARCHAR)) AS sig
            FROM wd GROUP BY doc_id
        ),
        pn AS (
            SELECT p_name, min(p_partkey) AS p_partkey FROM part GROUP BY 1
        ),
        names AS (
            SELECT id, t FROM (
                SELECT p_partkey AS id, lower(trim(p_name)) AS t FROM pn
                UNION ALL
                SELECT p_partkey + 1000000,
                       lower(trim(substring(p_name, 1, length(p_name) - 1)))
                FROM pn
            ) WHERE length(t) > 0
        )
        SELECT 'bm25' AS op, doc_id AS a, n_terms_hit AS b,
               CAST(0 AS DOUBLE) AS x, sig
        FROM bm
        UNION ALL
        SELECT 'fuzzy', l.id, r.id, CAST(levenshtein(l.t, r.t) AS DOUBLE),
               ''
        FROM names l JOIN names r
          ON substring(l.t, 1, 2) = substring(r.t, 1, 2) AND l.id < r.id
        WHERE abs(length(l.t) - length(r.t)) <= 2
          AND levenshtein(l.t, r.t) <= 2
    
        UNION ALL
        SELECT 'decon' AS op, d.doc_id AS a,
               CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS b,
               CASE WHEN COALESCE(h.n_hits, 0) > 0 THEN 1.0 ELSE 0.0 END
                   AS x,
               '' AS sig
        FROM documents d
        LEFT JOIN (
            SELECT g.doc_id, count(*) AS n_hits
            FROM (
                SELECT doc_id, md5(unnest({_duck_shingles(5)})) AS gram
                FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
            ) g
            JOIN (
                SELECT DISTINCT gram FROM (
                    SELECT doc_id, md5(unnest({_duck_shingles(5)})) AS gram
                    FROM (SELECT doc_id, {_DUCK_TOKS} AS toks
                          FROM documents)
                ) WHERE doc_id % 97 = 0
            ) bg USING (gram)
            WHERE g.doc_id % 97 != 0
            GROUP BY 1
        ) h USING (doc_id)
        WHERE d.doc_id % 97 != 0
    """

_STEP_SIMILARITY_ANN_SQL = f"""
        SELECT 'ann' AS method, vec_id, cosine
        FROM ({_similarity_ann_oracle(k=10, n_planes=4)})
        UNION ALL
        SELECT 'multiprobe', vec_id, cosine
        FROM ({_multiprobe_ann_oracle(k=10, n_planes=4, n_tables=3)})
        UNION ALL
        SELECT 'ivf', vec_id, cosine
        FROM ({_similarity_ivf_oracle(k=10, n_cells=16, n_probe=4)})
    """

_ANN_VARIANTS_SQL = f"""
        SELECT 'exact' AS method, vec_id, cosine,
               CAST(NULL AS VARCHAR) AS bucket,
               CAST(NULL AS BIGINT) AS bucket_part
        FROM ({_similarity_topk_oracle()})
        UNION ALL
        SELECT 'ivf', vec_id, cosine, CAST(NULL AS VARCHAR),
               CAST(NULL AS BIGINT)
        FROM ({_similarity_ivf_oracle()})
        UNION ALL
        SELECT 'multiprobe', vec_id, cosine, CAST(NULL AS VARCHAR),
               CAST(NULL AS BIGINT)
        FROM ({_multiprobe_ann_oracle()})
        UNION ALL
        SELECT 'ann', vec_id, cosine, bucket, CAST(bucket AS BIGINT)
        FROM ({_similarity_ann_oracle()})
    """

# two-level ordered segment fold (centroids) + nearest-prototype
# assignment; checksum = left-fold sum over the centroid components
_VECTOR_STATS_SQL = f"""
        WITH seg AS (
            SELECT label, vec_id // 64 AS seg, count(*) AS n,
                   {_duck_vec_fold("list(embedding::DOUBLE[] ORDER BY vec_id)")}
                       AS segsum
            FROM embeddings GROUP BY 1, 2
        ),
        tot AS (
            SELECT label, sum(n) AS n,
                   {_duck_vec_fold("list(segsum ORDER BY seg)")} AS vec_sum
            FROM seg GROUP BY 1
        ),
        cents AS (
            SELECT label, n,
                   list_transform(vec_sum, x -> round(x / n::DOUBLE, 6))
                       AS centroid
            FROM tot
        ),
        scored AS (
            SELECT e.vec_id, c.label AS clabel,
                   round({_duck_dot('e.embedding', 'c.centroid')} /
                         (sqrt({_duck_dot('e.embedding', 'e.embedding')})
                          * sqrt({_duck_dot('c.centroid', 'c.centroid')})),
                         6) AS cosine
            FROM embeddings e, cents c
        ),
        assigned AS (
            SELECT vec_id, clabel, cosine FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id ORDER BY cosine DESC, clabel ASC
                ) AS rk FROM scored
            ) WHERE rk = 1
        )
        SELECT 'centroid' AS op, CAST(label AS BIGINT) AS id,
               CAST(n AS BIGINT) AS a,
               list_reduce(list_prepend(0.0, centroid), (x, y) -> x + y)
                   AS x,
               centroid[1] AS y
        FROM cents
        UNION ALL
        SELECT 'assign', vec_id, CAST(clabel AS BIGINT), cosine, 0.0
        FROM assigned
        UNION ALL
        SELECT 'kmeans', id, a, x, y FROM ({_kmeans_oracle()})
        UNION ALL
        SELECT 'proj', vec_id, CAST(NULL AS BIGINT), proj_sum, proj0
        FROM ({_projection_oracle()})
        UNION ALL
        SELECT 'quant', vec_id,
               list_aggregate(qvec, 'sum'),
               scale,
               CAST(qvec[1] AS DOUBLE)
        FROM (
            -- underflow guard mirrors quantize_vectors: a rounded scale
            -- of 0 on a non-zero vector falls back to the exact amax/127
            SELECT vec_id, scale,
                   list_transform(
                       embedding::DOUBLE[],
                       v -> CAST(CASE WHEN scale > 0 THEN round(v / scale)
                                 ELSE 0 END AS BIGINT)
                   ) AS qvec
            FROM (
                SELECT vec_id, embedding,
                       CASE WHEN round(amax / 127.0, 9) = 0 AND amax > 0
                            THEN amax / 127.0
                            ELSE round(amax / 127.0, 9) END AS scale
                FROM (
                    SELECT vec_id, embedding,
                           list_max(list_transform(
                               embedding::DOUBLE[], v -> abs(v))) AS amax
                    FROM embeddings
                )
            )
        )
    """

_EMBEDDING_NEARDUP_SQL = f"""
        SELECT 'pair' AS op, id_a AS a, id_b AS b, cosine AS x,
               CAST(-1 AS INT) AS r
        FROM ({_embedding_neardup_oracle(threshold=0.3)})
        UNION ALL
        SELECT 'knn', vec_id, neighbour, cosine, CAST(rank AS INT)
        FROM ({_knn_join_oracle(k=3)})
    """

_SOURCE_XML_JSON_SQL = """
        SELECT 'json' AS src, r_regionkey AS k, r_name AS name,
               CAST(-1 AS BIGINT) AS rk
        FROM region
        UNION ALL
        SELECT 'xml', n_nationkey, n_name, n_regionkey FROM nation
        UNION ALL
        SELECT 'csv', n_nationkey, n_name, n_regionkey FROM nation
        UNION ALL
        SELECT 'idx', c_custkey, '',
               CAST(row_number() OVER () AS BIGINT)
        FROM customer
    """

_QUALITY_SYNC_SQL = r"""
        SELECT doc_id, n_chars, lang FROM documents
        WHERE COALESCE(len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))
                  BETWEEN 40 AND 5000, FALSE)
          AND COALESCE(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
                  / length(text) < 0.2, FALSE)
          AND COALESCE((length(regexp_replace(text, '\s+', '', 'g'))
                  / len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')))
                  BETWEEN 2.0 AND 15.0, FALSE)
    """

# text stats + language id + fingerprint joined on doc_id (the Spark
# row inner-joins the three per-row projections)
_TEXT_STATS_SQL = f"""
        WITH ts AS ({_text_stats_oracle()}),
        li AS ({_lang_id_oracle()}),
        fp AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       AS fingerprint,
                   array_to_string(
                       list_sort(list_transform(shingles, s -> md5(s)))[1:4],
                       '') AS winnow
            FROM (
                SELECT doc_id, text, {_duck_shingles()} AS shingles
                FROM (
                    SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents
                )
            )
        ),
        sp AS (
            SELECT doc_id,
                   ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT
                       AS bucket,
                   n_chars
            FROM documents
        )
        , scored AS (
            SELECT doc_id, CAST(n_chars AS BIGINT) AS nc,
                   CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'web'
                        WHEN 1 THEN 'code' ELSE 'books' END AS src
            FROM documents
        ),
        hist AS (
            SELECT src, nc, count(*) AS c FROM scored GROUP BY 1, 2
        ),
        cdf AS (
            SELECT src, nc,
                   round(CAST(sum(c) OVER (
                             PARTITION BY src ORDER BY nc
                             ROWS UNBOUNDED PRECEDING
                         ) AS DOUBLE)
                         / CAST(sum(c) OVER (PARTITION BY src)
                                AS DOUBLE), 9) AS ecdf
            FROM hist
        )
        , toked AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
        per_row AS (
            SELECT doc_id, len(toks) AS n_tokens,
                   {_duck_dup_gram_frac(2)} AS dup_bigram_frac,
                   {_duck_dup_gram_frac(3)} AS dup_trigram_frac
            FROM toked
        ),
        tok_rows AS (SELECT doc_id, unnest(toks) AS tok FROM toked),
        cnt AS (SELECT doc_id, tok, count(*) AS c FROM tok_rows GROUP BY 1, 2),
        top AS (
            SELECT doc_id, round(max(c)::DOUBLE / sum(c)::DOUBLE, 6)
                       AS top_token_frac
            FROM cnt GROUP BY 1
        ),
        rep AS (
            SELECT p.doc_id, p.n_tokens, p.dup_bigram_frac,
                   p.dup_trigram_frac,
                   COALESCE(t.top_token_frac, 0.0) AS top_token_frac,
                   (COALESCE(t.top_token_frac, 0.0) > 0.2
                        OR p.dup_bigram_frac > 0.6) AS repetitive
            FROM per_row p LEFT JOIN top t USING (doc_id)
        ),
        planted AS (
            SELECT doc_id,
                   text || ' mail u' || doc_id || '@ex.org ip 10.0.'
                        || (doc_id % 256) || '.7 card 4111111111111111'
                       AS text
            FROM documents
        ),
        s1 AS (
            SELECT doc_id, text,
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
                       '<EMAIL>', 'g') AS a1
            FROM planted
        ),
        s2 AS (
            SELECT doc_id, text, a1,
                   regexp_replace(a1, '[0-9]{{13,19}}', '<NUM>', 'g') AS a2
            FROM s1
        ),
        pii AS (
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))
                       AS n_emails,
                   len(regexp_extract_all(a1, '[0-9]{{13,19}}'))
                       AS n_longnums,
                   len(regexp_extract_all(a2,
                       '([0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}')) AS n_ips,
                   md5(regexp_replace(a2,
                       '([0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}', '<IP>', 'g'))
                       AS clean_md5
            FROM s2
        )
        SELECT ts.*, li.lang_pred, fp.fingerprint, fp.winnow,
               CASE WHEN sp.bucket < 52428 THEN 'train'
                    WHEN sp.bucket < 58982 THEN 'val'
                    ELSE 'test' END AS split,
               sp.bucket,
               sp.bucket::DOUBLE <
                   LEAST(1.0, sp.n_chars / 2000.0) * 65536.0 AS w_kept,
               sc.src, cdf.ecdf,
               rep.dup_bigram_frac, rep.dup_trigram_frac,
               rep.top_token_frac, rep.repetitive,
               pii.n_emails, pii.n_longnums, pii.n_ips, pii.clean_md5
        FROM ts JOIN li USING (doc_id) JOIN fp USING (doc_id)
                JOIN sp USING (doc_id)
                JOIN scored sc USING (doc_id)
                JOIN cdf ON sc.src = cdf.src AND sc.nc = cdf.nc
                JOIN rep USING (doc_id)
                JOIN pii USING (doc_id)
    """

# repetition signals + PII scrub over planted PII, joined on doc_id
# 32/8 token-window chunks unioned with 512-capacity 8-shard packing
_SEQUENCE_PREP_SQL = f"""
        WITH toked AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
        st AS (
            SELECT doc_id, toks,
                   unnest(CASE WHEN len(toks) > 0
                          THEN generate_series(0, len(toks) - 1, 24)
                          ELSE [] END) AS s
            FROM toked
        ),
        chunks AS (
            SELECT 'chunk' AS op, doc_id, CAST(s // 24 AS INT) AS idx,
                   CAST(len(toks[s + 1:s + 32]) AS BIGINT) AS n,
                   md5(array_to_string(toks[s + 1:s + 32], ' ')) AS payload
            FROM st
        ),
        base AS (
            SELECT doc_id, len(toks) AS n_tokens,
                   ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                       ::INT % 8 AS shard
            FROM toked
        ),
        packs AS (
            SELECT 'pack' AS op, doc_id, CAST(shard AS INT) AS idx,
                   CAST(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - n_tokens AS BIGINT) AS n,
                   CAST(n_tokens AS VARCHAR) AS payload
            FROM base
        ),
        labelled AS (
            SELECT doc_id, n_chars,
                   CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'web'
                        WHEN 1 THEN 'code' ELSE 'books' END AS src
            FROM documents
        ),
        mix_totals AS (
            SELECT src, sum(CAST(n_chars AS BIGINT)) AS tok
            FROM labelled GROUP BY 1
        ),
        mix_fracs AS (
            SELECT src,
                   least(1.0, CAST(CASE src
                       WHEN 'web' THEN '0.5' WHEN 'code' THEN '0.3'
                       ELSE '0.2' END AS DOUBLE)
                       * CAST(200000 AS DOUBLE) / CAST(tok AS DOUBLE))
                       AS frac
            FROM mix_totals
        ),
        mixed AS (
            SELECT 'mix' AS op, l.doc_id, CAST(NULL AS INT) AS idx,
                   CAST(l.n_chars AS BIGINT) AS n, l.src AS payload
            FROM labelled l JOIN mix_fracs f USING (src)
            WHERE CAST(('0x' || substring(
                      md5(CAST(l.doc_id AS VARCHAR)), 1, 4))::INT AS DOUBLE)
                  < f.frac * CAST(65536 AS DOUBLE)
        )
        SELECT * FROM chunks UNION ALL SELECT * FROM packs
        UNION ALL SELECT * FROM mixed
        UNION ALL
        SELECT 'quota', doc_id, CAST(NULL AS INT),
               CAST(n_chars AS BIGINT), src
        FROM (
            SELECT doc_id, n_chars, src,
                   row_number() OVER (
                       PARTITION BY src
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rk
            FROM labelled
        ) WHERE rk <= 25
        UNION ALL
        SELECT 'buck', doc_id, CAST(batch_idx AS INT),
               CAST(max(n_tokens) OVER (
                   PARTITION BY bucket, shard, batch_idx
               ) - n_tokens AS BIGINT),
               CAST(bucket AS VARCHAR) || ':' || CAST(shard AS VARCHAR)
        FROM (
            SELECT doc_id, n_tokens, bucket, shard,
                   (row_number() OVER (
                       PARTITION BY bucket, shard ORDER BY doc_id
                   ) - 1) // 4 AS batch_idx
            FROM (
                SELECT doc_id, len(toks) AS n_tokens,
                       CASE WHEN len(toks) <= 16 THEN 0
                            WHEN len(toks) <= 48 THEN 1
                            ELSE 2 END AS bucket,
                       ('0x' || substring(
                           md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 4
                           AS shard
                FROM toked
            )
        )
    """

# exact word-5-gram overlap vs the doc_id % 97 = 0 benchmark slice
# --- corpus term surfaces of the 'terms' arm (all numerics VARCHAR) ---
_TFIDF_TOP1_SQL = r"""
        WITH terms AS (
            SELECT doc_id, unnest(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
        ),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*) AS n FROM documents)
        SELECT CAST(doc_id AS VARCHAR) AS doc_id, term,
               CAST(tf AS VARCHAR) AS tf, CAST(df AS VARCHAR) AS df,
               CAST(n AS VARCHAR) AS n_docs
        FROM (
            SELECT doc_id, term, tf, df, n,
                   row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY tf DESC, df ASC, term ASC
                   ) AS rk
            FROM tf JOIN dfreq USING (term), n
        ) WHERE rk = 1
    """

_VOCAB_BUILD_SQL = r"""
        WITH terms AS (
            SELECT doc_id, unnest(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS term
            FROM documents
        )
        SELECT term, CAST(count(*) AS VARCHAR) AS cnt,
               CAST(count(DISTINCT doc_id) AS VARCHAR) AS doc_freq
        FROM terms GROUP BY term HAVING count(*) >= 3
    """

_VOCAB_ENCODE_SQL = r"""
        WITH terms AS (
            SELECT doc_id, unnest(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS term
            FROM documents
        )
        SELECT CAST(doc_id AS VARCHAR) AS doc_id, md5(ids_csv) AS sig,
               CAST(n_tokens AS VARCHAR) AS n_tokens,
               CAST(CAST(n_unk AS BIGINT) AS VARCHAR) AS n_unk
        FROM (
            SELECT doc_id, count(*) AS n_tokens,
                   sum(CASE WHEN tid IS NULL THEN 1 ELSE 0 END) AS n_unk,
                   string_agg(CAST(COALESCE(tid, 0) AS VARCHAR), ','
                              ORDER BY pos) AS ids_csv
            FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           CASE WHEN COALESCE(regexp_replace(text, '^\s+|\s+$', '', 'g'), '') = ''
                                THEN CAST([] AS VARCHAR[])
                                ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
                           END,
                           (x, i) -> {'term': x, 'pos': i}),
                           recursive := true)
                FROM documents
            ) p
            LEFT JOIN (
                SELECT term, row_number() OVER (
                    ORDER BY count(*) DESC, term ASC) AS tid
                FROM terms GROUP BY term HAVING count(*) >= 3
            ) v USING (term)
            GROUP BY doc_id
        )
    """

_POSTINGS_SQL = r"""
        WITH terms AS (
            SELECT doc_id, unnest(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
        )
        SELECT term, md5(pcsv) AS postings_md5,
               CAST(doc_freq AS VARCHAR) AS doc_freq,
               CAST(CAST(tf_total AS BIGINT) AS VARCHAR) AS tf_total
        FROM (
            SELECT term, count(*) AS doc_freq, sum(tf) AS tf_total,
                   string_agg(
                       CAST(doc_id AS VARCHAR) || ':' ||
                       CAST(tf AS VARCHAR), ',' ORDER BY doc_id
                   ) AS pcsv
            FROM tf GROUP BY term
        ) WHERE doc_freq >= 3
    """

_BPE_PAIRSTATS_SQL = r"""
        WITH terms AS (
            SELECT doc_id, unnest(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS term
            FROM documents
        )
        SELECT l || ' ' || r AS pair,
               CAST(CAST(cnt AS BIGINT) AS VARCHAR) AS cnt,
               CAST(rk AS VARCHAR) AS rk
        FROM (
            SELECT l, r, cnt,
                   row_number() OVER (ORDER BY cnt DESC, l, r) AS rk
            FROM (
                SELECT p['l'] AS l, p['r'] AS r, sum(freq) AS cnt
                FROM (
                    SELECT unnest(list_transform(
                               generate_series(1, length(word) - 1),
                               i -> struct_pack(
                                   l := substr(word, i, 1),
                                   r := substr(word, i + 1, 1))
                           )) AS p,
                           freq
                    FROM (
                        SELECT term AS word, count(*) AS freq
                        FROM terms GROUP BY 1
                    )
                ) GROUP BY 1, 2
            )
        ) WHERE rk <= 20
    """

# the corpus_terms arm: the five term surfaces plus 'dec', the BPE
# round-trip — decode(join-path-encode(x)) must equal the
# whitespace-normalised lowercased text, stated directly
_CORPUS_TERMS_SQL = "\nUNION ALL\n".join([
    _kv_sql(_TFIDF_TOP1_SQL, "tfidf", "doc_id",
            ["term", "tf", "df", "n_docs"]),
    _kv_sql(_VOCAB_BUILD_SQL, "vocab", "term", ["cnt", "doc_freq"]),
    _kv_sql(_VOCAB_ENCODE_SQL, "enc", "doc_id",
            ["sig", "n_tokens", "n_unk"]),
    _kv_sql(_POSTINGS_SQL, "post", "term",
            ["postings_md5", "doc_freq", "tf_total"]),
    _kv_sql(_BPE_PAIRSTATS_SQL, "bpe", "pair", ["cnt", "rk"]),
    r"""SELECT 'dec' AS op, CAST(doc_id AS VARCHAR) AS k,
               md5(array_to_string(toks, ' ')) || '|' ||
               CAST(len(toks) AS VARCHAR) AS v
        FROM (
            SELECT doc_id,
                   CASE WHEN COALESCE(regexp_replace(text, '^\s+|\s+$', '', 'g'), '') = ''
                        THEN CAST([] AS VARCHAR[])
                        ELSE string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+')
                   END AS toks
            FROM documents
        ) WHERE len(toks) > 0""",
])

_MULTIMODAL_META_SQL = """
        WITH b AS (
            SELECT doc_id,
                   hex(encode(COALESCE(text, ''))) AS h,
                   octet_length(encode(COALESCE(text, ''))) AS n,
                   md5(text) AS content_hash
            FROM documents
        ),
        e AS (
            SELECT doc_id, n, content_hash,
                   list_transform(generate_series(1, n), i ->
                       (strpos('0123456789ABCDEF', substr(h, 2*i-1, 1)) - 1)
                           * 16
                       + strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1
                   ) AS bs
            FROM b
        )
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_bytes,
               content_hash,
               CAST(n AS DOUBLE) AS f_len,
               CASE WHEN n = 0 THEN 0.0
                    ELSE CAST(list_sum(bs) AS DOUBLE) / n END AS f_mean,
               CASE WHEN n = 0 THEN 0.0
                    ELSE CAST(list_min(bs) AS DOUBLE) END AS f_min,
               CASE WHEN n = 0 THEN 0.0
                    ELSE CAST(list_max(bs) AS DOUBLE) END AS f_max,
               CAST(NULL AS VARCHAR) AS decode_error
        FROM e
    """


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect-compatible ANSI SQL)
# ---------------------------------------------------------------------------

def _nhs_mod11_oracle(x: str) -> str:
    clean = f"REGEXP_REPLACE(CAST({x} AS VARCHAR), '[ -]', '', 'g')"
    weighted = " + ".join(
        f"CAST(SUBSTRING({clean}, {i}, 1) AS INT) * {11 - i}" for i in range(1, 10)
    )
    return (
        f"CASE WHEN REGEXP_MATCHES({clean}, '^[0-9]{{10}}$') THEN "
        f"(11 - (CASE WHEN ({weighted}) % 11 = 0 THEN 11 ELSE ({weighted}) % 11 END))"
        f" = CAST(SUBSTRING({clean}, 10, 1) AS INT) ELSE FALSE END"
    )


_ADD_SELECT_SQL = """
        SELECT 'add' AS op,
               CAST(l_orderkey AS VARCHAR) || ':' ||
                   CAST(l_linenumber AS VARCHAR) AS k,
               CAST(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                    AS BIGINT) AS VARCHAR) AS v
        FROM lineitem
        UNION ALL
        SELECT 'filter',
               CAST(l_orderkey AS VARCHAR) || ':' ||
                   CAST(l_linenumber AS VARCHAR),
               CAST(CAST(round(l_quantity * 100) AS BIGINT) AS VARCHAR)
                   || ':' || l_returnflag
        FROM lineitem
        WHERE l_quantity > 45 AND l_shipdate >= '1997-01-01'
        UNION ALL
        SELECT DISTINCT 'distinct',
               o_orderstatus || ':' || o_orderpriority, ''
        FROM orders
    """

_GROUP_BY_SQL = """
        WITH q1 AS (
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(1) AS count_order
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
        ), pivoted AS (
            SELECT l_linestatus,
                   round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS "A",
                   round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS "N",
                   round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS "R"
            FROM lineitem
            GROUP BY l_linestatus
        )
        , melted AS (
            SELECT l_linestatus, rflag, q_roundtrip
            FROM pivoted
            UNPIVOT (q_roundtrip FOR rflag IN ("A", "N", "R"))
        )
        SELECT l_returnflag, q1.l_linestatus, sum_qty, sum_base_price,
               sum_disc_price, avg_qty, count_order, "A", "N", "R",
               q_roundtrip
        FROM q1
        JOIN pivoted ON q1.l_linestatus = pivoted.l_linestatus
        JOIN melted ON q1.l_linestatus = melted.l_linestatus
                   AND q1.l_returnflag = melted.rflag
    """

# --- window/event/session arms (all hashed numerics as VARCHAR) ---
_TOPK_GROUP_SQL = _kv_sql("""
        SELECT event_type, CAST(rank AS VARCHAR) AS rk,
               CAST(event_id AS VARCHAR) AS eid,
               CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR) AS cents
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY event_type ORDER BY value DESC, event_id
            ) AS rank FROM events
        ) WHERE rank <= 5
    """, "topk", "event_type || '|' || rk", ["eid", "cents"])

_ROLLING_AGG_SQL = _kv_sql("""
        SELECT CAST(event_id AS VARCHAR) AS eid,
               CAST(n_1h AS VARCHAR) AS n_1h,
               CAST(CAST(cents_1h AS BIGINT) AS VARCHAR) AS cents_1h
        FROM (
            SELECT event_id,
                   count(1) OVER w AS n_1h,
                   sum(CAST(round(value * 100) AS BIGINT)) OVER w AS cents_1h
            FROM events
            WINDOW w AS (
                PARTITION BY user_id ORDER BY epoch_us(ts)
                RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
            )
        )
    """, "roll", "eid", ["n_1h", "cents_1h"])

_PERCENTILES_SQL = _kv_sql("""
        SELECT l_returnflag,
               CAST(CAST(round(quantile_cont(l_extendedprice, 0.25) * 10000)
                    AS BIGINT) AS VARCHAR) AS p25,
               CAST(CAST(round(quantile_cont(l_extendedprice, 0.5) * 10000)
                    AS BIGINT) AS VARCHAR) AS p50,
               CAST(CAST(round(quantile_cont(l_extendedprice, 0.75) * 10000)
                    AS BIGINT) AS VARCHAR) AS p75
        FROM lineitem GROUP BY l_returnflag
    """, "pct", "l_returnflag", ["p25", "p50", "p75"])

_ROLLUP_CUBE_SQL = _kv_sql("""
        SELECT COALESCE(l_returnflag, '*') AS rflag,
               COALESCE(l_linestatus, '*') AS lstatus,
               CAST(CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT)
                    AS VARCHAR) AS gid,
               CAST(CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
                    AS BIGINT) AS VARCHAR) AS cents
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """, "ru", "rflag || '|' || lstatus || '|' || gid", ["cents"])

_ROLLING_STREAM_SQL = _kv_sql("""
        SELECT CAST(event_id AS VARCHAR) AS eid,
               CAST(n_1h AS VARCHAR) AS n_1h
        FROM (
            SELECT event_id, count(1) OVER w AS n_1h
            FROM events
            WINDOW w AS (
                PARTITION BY user_id ORDER BY epoch_us(ts)
                RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
            )
        )
    """, "sroll", "eid", ["n_1h"])

_RETENTION_SQL = _kv_sql("""
        SELECT CAST(cohort AS VARCHAR) AS cohort,
               CAST(p - cohort AS VARCHAR) AS offset,
               CAST(count(*) AS VARCHAR) AS n_users
        FROM (SELECT DISTINCT user_id,
                     epoch_us(ts) // 86400000000 AS p FROM events) a
        JOIN (SELECT user_id,
                     min(epoch_us(ts)) // 86400000000 AS cohort
              FROM events GROUP BY 1) f USING (user_id)
        GROUP BY cohort, p - cohort
    """, "ret", 'cohort || \'|\' || "offset"', ["n_users"])

_FUNNEL_BATCH_SQL = _kv_sql("""
        SELECT CAST(stage_k AS VARCHAR) AS stage,
               CAST(CAST(sum(CASE WHEN stage >= stage_k THEN 1 ELSE 0 END)
                    AS BIGINT) AS VARCHAR) AS n_at_least,
               CAST(CAST(sum(CASE WHEN stage = stage_k THEN 1 ELSE 0 END)
                    AS BIGINT) AS VARCHAR) AS n_exact,
               CAST(CAST(sum(CASE WHEN stage = stage_k THEN tp - t1 ELSE 0
                             END) AS BIGINT) AS VARCHAR) AS lag_sum_us
        FROM (
            SELECT user_id, t1,
                   CASE WHEN t1 IS NULL THEN 0 WHEN t2 IS NULL THEN 1
                        WHEN t3 IS NULL THEN 2 ELSE 3 END AS stage,
                   COALESCE(t3, t2, t1) AS tp
            FROM (
                SELECT e.user_id, t1, t2,
                       min(CASE WHEN et = 'purchase' AND ts_us >= t2
                                AND ts_us <= t1 + 259200000000
                                THEN ts_us END) AS t3
                FROM (
                    SELECT user_id, event_type AS et, epoch_us(ts) AS ts_us
                    FROM events
                    WHERE event_type IN ('view', 'click', 'purchase')
                ) e JOIN (
                    SELECT e.user_id, t1,
                           min(CASE WHEN et = 'click' AND ts_us >= t1
                                    AND ts_us <= t1 + 259200000000
                                    THEN ts_us END) AS t2
                    FROM (
                        SELECT user_id, event_type AS et,
                               epoch_us(ts) AS ts_us
                        FROM events
                        WHERE event_type IN ('view', 'click', 'purchase')
                    ) e JOIN (
                        SELECT user_id,
                               min(CASE WHEN event_type = 'view'
                                        THEN epoch_us(ts) END) AS t1
                        FROM events
                        WHERE event_type IN ('view', 'click', 'purchase')
                        GROUP BY 1
                    ) s1 USING (user_id)
                    GROUP BY 1, 2
                ) s2 USING (user_id)
                GROUP BY 1, 2, 3
            )
        ), (SELECT unnest([1, 2, 3]) AS stage_k)
        GROUP BY stage_k
    """, "fb", "stage", ["n_at_least", "n_exact", "lag_sum_us"])

_FUNNEL_STREAM_SQL = _kv_sql("""
        SELECT CAST(user_id AS VARCHAR) AS uid, CAST(stage AS VARCHAR)
                   AS stage,
               CAST(COALESCE(t1, -1) AS VARCHAR) AS t_enter_us,
               CAST(COALESCE(tp, -1) AS VARCHAR) AS t_reach_us
        FROM (
            SELECT user_id, t1,
                   CASE WHEN t1 IS NULL THEN 0 WHEN t2 IS NULL THEN 1
                        WHEN t3 IS NULL THEN 2 ELSE 3 END AS stage,
                   CASE WHEN t1 IS NULL THEN NULL ELSE COALESCE(t3, t2, t1) END AS tp
            FROM (
                SELECT e.user_id, t1, t2,
                       min(CASE WHEN et = 'purchase' AND ts_us >= t2
                                AND ts_us <= t1 + 259200000000
                                THEN ts_us END) AS t3
                FROM (
                    SELECT user_id, event_type AS et, epoch_us(ts) AS ts_us
                    FROM events
                    WHERE event_type IN ('view', 'click', 'purchase')
                ) e JOIN (
                    SELECT e.user_id, t1,
                           min(CASE WHEN et = 'click' AND ts_us >= t1
                                    AND ts_us <= t1 + 259200000000
                                    THEN ts_us END) AS t2
                    FROM (
                        SELECT user_id, event_type AS et,
                               epoch_us(ts) AS ts_us
                        FROM events
                        WHERE event_type IN ('view', 'click', 'purchase')
                    ) e JOIN (
                        SELECT user_id,
                               min(CASE WHEN event_type = 'view'
                                        THEN epoch_us(ts) END) AS t1
                        FROM events
                        WHERE event_type IN ('view', 'click', 'purchase')
                        GROUP BY 1
                    ) s1 USING (user_id)
                    GROUP BY 1, 2
                ) s2 USING (user_id)
                GROUP BY 1, 2, 3
            )
        )
    """, "fs", "uid", ["stage", "t_enter_us", "t_reach_us"])

_LEFT_JOIN_SQL = """
        SELECT 'lj' AS op, CAST(c_custkey AS VARCHAR) AS k,
               c_name || '|' ||
               CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS VARCHAR) ||
               '|' || COALESCE(n_name, '~') AS v
        FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        UNION ALL
        SELECT 'ij', CAST(s_suppkey AS VARCHAR),
               s_name || '|' || n_name
        FROM supplier JOIN nation
          ON s_nationkey = n_nationkey AND s_acctbal > 0
        UNION ALL
        SELECT 'o2o', CAST(c_custkey AS VARCHAR),
               COALESCE(CAST(n_regionkey AS VARCHAR), '~')
        FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
    """

_FLAG_JOINS_SQL = """
        SELECT 'has_match' AS op, o_orderkey AS key,
               EXISTS (
                   SELECT 1 FROM customer c
                   WHERE o.o_custkey = c.c_custkey AND c.c_acctbal > 5000
               ) AS flag,
               NULL::VARCHAR AS detail
        FROM orders o
        UNION ALL
        SELECT 'orphans', p_partkey,
               NOT EXISTS (
                   SELECT 1 FROM lineitem l WHERE p.p_partkey = l.l_partkey
               ),
               NULL::VARCHAR
        FROM part p
        UNION ALL
        SELECT 'asof', e.event_id,
               p.ts IS NOT NULL,
               CASE WHEN p.ts IS NULL THEN NULL
                    ELSE epoch_us(p.ts)::VARCHAR || ':' ||
                         CAST(CAST(round(p.v * 100) AS BIGINT) AS VARCHAR)
               END
        FROM (SELECT * FROM events WHERE event_type <> 'purchase') e
        ASOF LEFT JOIN (
            SELECT user_id, ts, max(value) AS v FROM events
            WHERE event_type = 'purchase' GROUP BY 1, 2
        ) p ON e.user_id = p.user_id AND e.ts >= p.ts
        UNION ALL
        SELECT 'interval', c.event_id, TRUE, CAST(p.event_id AS VARCHAR)
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type <> 'purchase') c
        JOIN (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND c.ts <= p.ts + INTERVAL 30 MINUTE
         AND p.ts <= c.ts + INTERVAL 10 MINUTE
        UNION ALL
        SELECT 'semi', c_custkey, TRUE, c_name FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE c.c_custkey = o.o_custkey AND o.o_totalprice > 100000
        )
        UNION ALL
        SELECT 'anti', c_custkey, TRUE, c_name FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o WHERE c.c_custkey = o.o_custkey
        )
    """

_UNION_ROW_SQL = """
        WITH unioned AS (
            SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal,
                   NULL::INT AS nationkey
            FROM customer
            UNION ALL
            SELECT s_suppkey, s_name, NULL, s_nationkey FROM supplier
        ),
        base AS (
            SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal
            FROM customer
        ),
        delta AS (
            SELECT o_custkey AS id,
                   CONCAT('updated_', CAST(o_custkey AS VARCHAR)) AS name,
                   CAST(COUNT(1) AS DOUBLE) AS bal
            FROM orders GROUP BY o_custkey
            UNION ALL
            SELECT o_custkey + 10000000,
                   CONCAT('inserted_', CAST(o_custkey AS VARCHAR)),
                   CAST(COUNT(1) AS DOUBLE)
            FROM orders GROUP BY o_custkey
        ),
        merged AS (
            SELECT b.id,
                   CASE WHEN u.id IS NOT NULL THEN u.name ELSE b.name END
                       AS name,
                   CASE WHEN u.id IS NOT NULL THEN u.bal ELSE b.bal END
                       AS bal
            FROM base b LEFT JOIN delta u ON b.id = u.id
            UNION ALL
            SELECT u.id, u.name, u.bal FROM delta u
            WHERE u.id NOT IN (SELECT id FROM base)
        ),
        ledger AS (
            SELECT o_custkey AS id,
                   CONCAT('cdc_', CAST(o_custkey AS VARCHAR)) AS name,
                   CAST(o_orderkey % 1000 AS DOUBLE) AS bal,
                   CASE WHEN o_orderstatus = 'P' THEN 'D' ELSE 'U' END
                       AS cop,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_custkey ORDER BY o_orderkey DESC
                   ) AS rn
            FROM orders
        ),
        latest AS (SELECT id, name, bal, cop FROM ledger WHERE rn = 1),
        ups AS (SELECT id, name, bal FROM latest WHERE cop = 'U'),
        dels AS (SELECT id FROM latest WHERE cop = 'D'),
        cdc_merged AS (
            SELECT b.id,
                   CASE WHEN u.id IS NOT NULL THEN u.name ELSE b.name END
                       AS name,
                   CASE WHEN u.id IS NOT NULL THEN u.bal ELSE b.bal END
                       AS bal
            FROM base b LEFT JOIN ups u ON b.id = u.id
            UNION ALL
            SELECT u.id, u.name, u.bal FROM ups u
            WHERE u.id NOT IN (SELECT id FROM base)
        )
        SELECT 'union' AS op, id, name, bal,
               CONCAT(CASE WHEN nationkey IS NULL THEN 'cust' ELSE 'supp'
                      END, ':',
                      CAST(COALESCE(nationkey, -1) AS VARCHAR)) AS src
        FROM unioned
        UNION ALL
        SELECT 'upsert', id, name, bal, NULL FROM merged
        UNION ALL
        SELECT 'cdc', m.id, m.name, m.bal, NULL FROM cdc_merged m
        WHERE m.id NOT IN (SELECT id FROM dels)
        UNION ALL
        SELECT 'scd2', id,
               name || ':' || CAST(valid_from AS VARCHAR) || ':'
                    || CAST(COALESCE(valid_to, -1) AS VARCHAR) || ':'
                    || CASE WHEN valid_to IS NULL THEN '1' ELSE '0' END,
               bal, NULL
        FROM (
            SELECT id, name, bal, cop, o_orderkey AS valid_from,
                   lead(o_orderkey) OVER (
                       PARTITION BY id ORDER BY o_orderkey) AS valid_to
            FROM (
                SELECT o_custkey AS id,
                       CONCAT('cdc_', CAST(o_custkey AS VARCHAR)) AS name,
                       CAST(o_orderkey % 1000 AS DOUBLE) AS bal,
                       CASE WHEN o_orderstatus = 'P' THEN 'D'
                            ELSE 'U' END AS cop,
                       o_orderkey
                FROM orders
            )
        ) WHERE cop = 'U'
        UNION ALL
        SELECT 'scd2s', id, name, bal, NULL
        FROM (
            SELECT id, name, bal, cop, o_orderkey AS valid_from,
                   lead(o_orderkey) OVER (
                       PARTITION BY id ORDER BY o_orderkey) AS valid_to
            FROM (
                SELECT o_custkey AS id,
                       CONCAT('cdc_', CAST(o_custkey AS VARCHAR)) AS name,
                       CAST(o_orderkey % 1000 AS DOUBLE) AS bal,
                       CASE WHEN o_orderstatus = 'P' THEN 'D'
                            ELSE 'U' END AS cop,
                       o_orderkey
                FROM orders
            )
        ), (SELECT max(o_orderkey) // 2 AS as_of FROM orders)
        WHERE cop = 'U' AND valid_from <= as_of
          AND (valid_to IS NULL OR valid_to > as_of)
    """

_JOIN_HEADER_SQL = """
        SELECT 'hdr' AS op, n_nationkey, n_name,
               CAST(h.n_orders AS VARCHAR) || '|' ||
               CAST(CAST(round(h.max_price * 100) AS BIGINT) AS VARCHAR)
                   AS detail
        FROM nation
        CROSS JOIN (
            SELECT count(1) AS n_orders, round(max(o_totalprice), 2) AS max_price
            FROM orders
        ) h
        UNION ALL
        SELECT 'ref', n_nationkey, n_name, COALESCE(r_name, '~')
        FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
    """

_SYNC_FILTERS_SQL = """
        SELECT 'row' AS op, CAST(o_orderkey AS VARCHAR) AS record_key,
               o_orderstatus AS code, CAST(NULL AS VARCHAR) AS detail
        FROM orders
        WHERE COALESCE(o_totalprice < 400000, FALSE)
          AND COALESCE(o_orderstatus <> 'P', FALSE)
        UNION ALL
        SELECT 'msg', CAST(o_orderkey AS VARCHAR), 'HUGE_ORDER',
               'order too big|record'
        FROM orders WHERE NOT COALESCE(o_totalprice < 400000, FALSE)
        UNION ALL
        SELECT 'msg', CAST(o_orderkey AS VARCHAR), 'PENDING',
               'order pending|record'
        FROM orders WHERE NOT COALESCE(o_orderstatus <> 'P', FALSE)
        UNION ALL
        SELECT 'notif', CAST(c_custkey AS VARCHAR), 'NEG_BAL',
               'customer|customer ' || c_name || ' has negative balance'
        FROM customer WHERE c_acctbal < 0
    """

_CONTRACT_FUNCTIONS_SQL = """
        WITH s AS (
            SELECT CAST(c_custkey AS VARCHAR) AS ck, c_name AS nm,
                   c_mktsegment AS seg
            FROM customer
        ), excluded AS (
            SELECT ck, nm,
                   CASE WHEN seg IS NULL OR TRIM(seg) = '' THEN NULL
                        WHEN LOWER(seg) LIKE '%household%' THEN NULL
                        ELSE seg END AS seg2
            FROM s
        ), t AS (
            SELECT
                TRY_CAST(TRIM(ck) AS BIGINT) AS ck,
                TRY_CAST(TRIM(
                    CASE WHEN nm IS NULL OR TRIM(nm) = '' THEN NULL
                         ELSE string_split(nm, '#')[2] END
                ) AS BIGINT) AS name_num,
                CASE WHEN seg2 IS NULL OR TRIM(seg2) = '' THEN NULL
                     ELSE UPPER(SUBSTRING(seg2, 1, 1)) ||
                          LOWER(SUBSTRING(seg2, 2))
                END AS segment,
                '1' AS join_key
            FROM excluded
        )
        SELECT * FROM t
        WHERE segment IS NOT NULL AND TRIM(segment) <> ''
    """

_STREAMING_SYNC_MESSAGES_SQL = """
        SELECT 'msg' AS op, 'stream' AS entity, 'VALUE_RANGE' AS error_code,
               'value out of range' AS error_message,
               'record' AS failure_type, event_id AS record_key
        FROM events WHERE NOT COALESCE(value BETWEEN 0 AND 90, FALSE)
        UNION ALL
        SELECT 'msg', 'stream', 'ERROR_EVENT', 'error event', 'record',
               event_id
        FROM events WHERE NOT COALESCE(event_type <> 'error', FALSE)
        UNION ALL
        SELECT 'sjoin', 'attribution', CAST(a.event_id AS VARCHAR),
               CAST(b.event_id AS VARCHAR),
               CAST(epoch_us(a.ts) - epoch_us(b.ts) AS VARCHAR),
               a.user_id
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'purchase' AND b.event_type = 'click'
         AND b.ts BETWEEN a.ts - INTERVAL 6 HOUR AND a.ts
    """

_STREAMING_DEDUP_SQL = """
        SELECT 'dedup' AS op, user_id AS k, event_type AS s,
               CAST(NULL AS DOUBLE) AS x
        FROM (SELECT DISTINCT user_id, event_type FROM events)
        UNION ALL
        SELECT 'scdc', id, name, bal FROM (
            SELECT o_custkey AS id,
                   CONCAT('cdc_', CAST(o_custkey AS VARCHAR)) AS name,
                   CAST(o_orderkey % 1000 AS DOUBLE) AS bal,
                   CASE WHEN o_orderstatus = 'P' THEN 'D' ELSE 'U' END
                       AS cop,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_custkey ORDER BY o_orderkey DESC
                   ) AS rn
            FROM orders
        ) WHERE rn = 1 AND cop = 'U'
    """

# append-mode emission: windows closed by the final watermark
# (window end <= max event time - 2h); hourly Spark windows align to
# epoch, i.e. date_trunc('hour') for whole-hour widths
_STREAMING_WINDOW_COUNTS_SQL = f"""
        WITH m AS (SELECT max(ts) AS mx FROM events),
        wh AS (
            SELECT DISTINCT
                   CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS win,
                   ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
            FROM events
        ),
        wr AS (
            SELECT win, hv, row_number() OVER (
                PARTITION BY win ORDER BY hv) AS rn
            FROM wh WHERE hv IS NOT NULL
        ),
        wk AS (
            SELECT win, count(*) AS n_seen,
                   max(CASE WHEN rn = 16 THEN hv END) AS kth
            FROM wr WHERE rn <= 16 GROUP BY win
        )
        SELECT 'count' AS op,
               CAST(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
                    AS VARCHAR) AS win_start,
               event_type,
               count(*) AS n,
               CAST(NULL AS DOUBLE) AS x
        FROM events, m
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
                  <= mx - INTERVAL 2 HOUR
        GROUP BY 2, 3
        UNION ALL
        SELECT 'kmv', CAST(win AS VARCHAR), CAST(kth AS VARCHAR), n_seen,
               CASE WHEN n_seen < 16 THEN CAST(n_seen AS DOUBLE)
                    ELSE CAST('{float(15) * float(1 << 60)!r}' AS DOUBLE)
                         / CAST(kth AS DOUBLE) END
        FROM wk
    """

_SESSIONIZE_BATCH_SQL = _kv_sql("""
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > 1800 * 1000000
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sessions AS (
            SELECT user_id, ts,
                   sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_idx
            FROM flagged
        )
        SELECT CAST(user_id AS VARCHAR) AS uid,
               CAST(CAST(session_idx AS BIGINT) AS VARCHAR) AS session_idx,
               CAST(count(*) AS VARCHAR) AS n_events,
               CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS VARCHAR)
                   AS duration_us
        FROM sessions GROUP BY user_id, session_idx
    """, "b", "uid || '|' || session_idx", ["n_events", "duration_us"])

# identical SQL: the stream row must match the SAME oracle,
# which is precisely the batch/stream parity claim
_SESSIONIZE_STREAM_SQL = _kv_sql("""
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > 1800 * 1000000
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sessions AS (
            SELECT user_id, ts,
                   sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_idx
            FROM flagged
        )
        SELECT CAST(user_id AS VARCHAR) AS uid,
               CAST(CAST(session_idx AS BIGINT) AS VARCHAR) AS session_idx,
               CAST(count(*) AS VARCHAR) AS n_events,
               CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS VARCHAR)
                   AS duration_us
        FROM sessions GROUP BY user_id, session_idx
    """, "s", "uid || '|' || session_idx", ["n_events", "duration_us"])

# the crossJoin collapses to exactly one distinct audit status row
# ('completed') iff every stage of both submissions succeeded;
# 'vt*' tags: the versioned-table lifecycle (v1 half / v2 full /
# time-travel read of v1 after v2 / v3 + vacuum to {2,3}) stated
# from the same constructions
_PIPELINE_E2E_SQL = """
        SELECT 'pipe' AS op, CAST(n_nationkey AS VARCHAR) AS k,
               n_name || '|' || CAST(n_regionkey AS VARCHAR) || '|' ||
               CAST(length(n_name) AS VARCHAR) || '|completed' AS v
        FROM nation
        UNION ALL
        SELECT 'vt1', CAST(n_nationkey AS VARCHAR), n_name
        FROM nation WHERE n_nationkey < 10
        UNION ALL
        SELECT 'vt2', CAST(n_nationkey AS VARCHAR), n_name FROM nation
        UNION ALL
        SELECT 'vac', '*', '1|2,3|3'
    """

_REPORT_AGGREGATES_SQL = """
        WITH stringified AS (
            SELECT CAST(o_orderkey AS VARCHAR) AS okey,
                   CASE WHEN o_orderkey % 11 = 0 THEN NULL
                        WHEN o_orderkey % 7 = 0 THEN 'junk'
                        ELSE CAST(o_totalprice AS VARCHAR) END AS price,
                   CASE WHEN o_orderkey % 13 = 0
                        THEN strftime(o_orderdate, '%Y-%m-%d')
                        ELSE strftime(o_orderdate, '%d/%m/%Y') END AS odate
            FROM orders
        ),
        msgs AS (
            SELECT 'MISSING_MANDATORY_VALUE' AS ec, 'price' AS di,
                   'missing' AS cat
            FROM stringified
            WHERE NOT COALESCE(price IS NOT NULL AND TRIM(price) <> '', FALSE)
            UNION ALL
            SELECT 'INVALID_NUMBER', 'price', 'type'
            FROM stringified
            WHERE NOT COALESCE(price IS NULL OR TRIM(price) = ''
                  OR TRY_CAST(TRIM(price) AS DOUBLE) IS NOT NULL, FALSE)
            UNION ALL
            SELECT 'OUT_OF_RANGE_GT', 'price', 'constraint'
            FROM stringified
            WHERE NOT COALESCE(price IS NULL OR TRIM(price) = ''
                  OR TRY_CAST(TRIM(price) AS DOUBLE) > 0, FALSE)
            UNION ALL
            SELECT 'INVALID_DATE', 'odate', 'type'
            FROM stringified
            WHERE NOT COALESCE(odate IS NULL OR TRIM(odate) = ''
                  OR (CASE WHEN regexp_matches(TRIM(odate),
                               '^[0-9]{2}/[0-9]{2}/[0-9]{4}$')
                           THEN CAST(strptime(TRIM(odate), '%d/%m/%Y') AS DATE)
                           ELSE NULL END) IS NOT NULL, FALSE)
        )
        SELECT 'Record Rejection' AS "Type", 'orders_sub' AS "Table",
               di AS "Data_Item", cat AS "Category", ec AS "Error_Code",
               CAST(count(*) AS BIGINT) AS "Count"
        FROM msgs GROUP BY di, cat, ec
        UNION ALL
        SELECT 'Presence Check', 'beta',
               'no file submitted for declared entity ''beta''',
               'submission', 'MISSING_ENTITY', CAST(1 AS BIGINT)
        UNION ALL
        SELECT 'Presence Check', 'gamma',
               'file submitted for undeclared entity ''gamma''',
               'submission', 'UNEXPECTED_ENTITY', CAST(1 AS BIGINT)
    """

_ENTITY_OPS_SQL = """
        WITH today AS (
            SELECT n_nationkey,
                   CASE WHEN n_nationkey % 3 = 0 THEN upper(n_name)
                        ELSE n_name END AS n_name
            FROM nation WHERE n_nationkey >= 2
            UNION ALL
            SELECT n_nationkey + 100, n_name
            FROM nation WHERE n_nationkey < 3
        ),
        yesterday AS (SELECT n_nationkey, n_name FROM nation)
        SELECT 'ent' AS op, n_nationkey, n_name,
               CAST(NULL AS VARCHAR) AS cop
        FROM nation
        UNION ALL
        SELECT 'diff', COALESCE(t.n_nationkey, y.n_nationkey),
               t.n_name,
               CASE WHEN y.n_nationkey IS NULL THEN 'I'
                    WHEN t.n_nationkey IS NULL THEN 'D'
                    WHEN t.n_name IS DISTINCT FROM y.n_name THEN 'U'
               END
        FROM yesterday y FULL OUTER JOIN today t
          ON y.n_nationkey = t.n_nationkey
        WHERE (CASE WHEN y.n_nationkey IS NULL THEN 'I'
                    WHEN t.n_nationkey IS NULL THEN 'D'
                    WHEN t.n_name IS DISTINCT FROM y.n_name THEN 'U'
               END) IS NOT NULL
        UNION ALL
        SELECT 'anon', n_nationkey,
               CASE WHEN n_name IS NOT NULL THEN
                   substring(sha256('r8' || n_name), 1, 16)
               END,
               CAST(NULL AS VARCHAR)
        FROM nation
    """

_CONTRACT_CAST_SQL = """
        WITH stringified AS (
            SELECT CAST(o_orderkey AS VARCHAR) AS okey,
                   CASE WHEN o_orderkey % 11 = 0 THEN NULL
                        WHEN o_orderkey % 7 = 0 THEN 'junk'
                        ELSE CAST(o_totalprice AS VARCHAR) END AS price,
                   CASE WHEN o_orderkey % 13 = 0
                        THEN strftime(o_orderdate, '%Y-%m-%d')
                        ELSE strftime(o_orderdate, '%d/%m/%Y') END AS odate,
                   o_orderstatus AS status,
                   o_orderpriority AS prio
            FROM orders
        )
        SELECT TRY_CAST(TRIM(okey) AS BIGINT) AS okey,
               TRY_CAST(TRIM(price) AS DOUBLE) AS price,
               CAST(CASE WHEN regexp_matches(TRIM(odate),
                        '^[0-9]{2}/[0-9]{2}/[0-9]{4}$')
                    THEN CAST(strptime(TRIM(odate), '%d/%m/%Y') AS DATE)
                    ELSE NULL END AS VARCHAR) AS odate,
               TRIM(status) AS status,
               TRIM(prio) AS prio
        FROM stringified
        WHERE COALESCE(okey IS NOT NULL AND TRIM(okey) <> '', FALSE)
          AND COALESCE(TRY_CAST(TRIM(okey) AS BIGINT) IS NOT NULL, FALSE)
          AND COALESCE(price IS NOT NULL AND TRIM(price) <> '', FALSE)
          AND COALESCE(TRY_CAST(TRIM(price) AS DOUBLE) IS NOT NULL, FALSE)
          AND COALESCE(TRY_CAST(TRIM(price) AS DOUBLE) > 0, FALSE)
          AND COALESCE(odate IS NULL OR TRIM(odate) = ''
                OR (CASE WHEN regexp_matches(TRIM(odate),
                             '^[0-9]{2}/[0-9]{2}/[0-9]{4}$')
                         THEN CAST(strptime(TRIM(odate), '%d/%m/%Y') AS DATE)
                         ELSE NULL END) IS NOT NULL, FALSE)
          AND COALESCE(status IS NULL OR TRIM(status) = ''
                OR LENGTH(TRIM(status)) >= 1, FALSE)
          AND COALESCE(status IS NULL OR TRIM(status) = ''
                OR LENGTH(TRIM(status)) <= 1, FALSE)
    """

# 'base' = default compiled checks; 'ovr' = the same checks compiled
# with per-field error-detail overrides (custom code/message/flag) —
# the Spark row unions both feeds
_CONTRACT_MESSAGES_SQL = """
        WITH stringified AS (
            SELECT CAST(o_orderkey AS VARCHAR) AS okey,
                   CASE WHEN o_orderkey % 11 = 0 THEN NULL
                        WHEN o_orderkey % 7 = 0 THEN 'junk'
                        ELSE CAST(o_totalprice AS VARCHAR) END AS price,
                   CASE WHEN o_orderkey % 13 = 0
                        THEN strftime(o_orderdate, '%Y-%m-%d')
                        ELSE strftime(o_orderdate, '%d/%m/%Y') END AS odate,
                   o_orderstatus AS status,
                   o_orderpriority AS prio
            FROM orders
        ),
        fails AS (
            SELECT 'blank_price' AS kind, CAST(okey AS BIGINT) AS record_key
            FROM stringified
            WHERE NOT COALESCE(price IS NOT NULL AND TRIM(price) <> '', FALSE)
            UNION ALL
            SELECT 'nan_price', CAST(okey AS BIGINT)
            FROM stringified
            WHERE NOT COALESCE(price IS NULL OR TRIM(price) = ''
                  OR TRY_CAST(TRIM(price) AS DOUBLE) IS NOT NULL, FALSE)
            UNION ALL
            SELECT 'neg_price', CAST(okey AS BIGINT)
            FROM stringified
            WHERE NOT COALESCE(price IS NULL OR TRIM(price) = ''
                  OR TRY_CAST(TRIM(price) AS DOUBLE) > 0, FALSE)
            UNION ALL
            SELECT 'bad_date', CAST(okey AS BIGINT)
            FROM stringified
            WHERE NOT COALESCE(odate IS NULL OR TRIM(odate) = ''
                  OR (CASE WHEN regexp_matches(TRIM(odate),
                               '^[0-9]{2}/[0-9]{2}/[0-9]{4}$')
                           THEN CAST(strptime(TRIM(odate), '%d/%m/%Y') AS DATE)
                           ELSE NULL END) IS NOT NULL, FALSE)
        ),
        detail AS (
            SELECT * FROM (VALUES
                ('base', 'blank_price', 'MISSING_MANDATORY_VALUE', 'price',
                 'Mandatory field price missing', 'missing', FALSE),
                ('base', 'nan_price', 'INVALID_NUMBER', 'price',
                 'Field price failed INVALID_NUMBER', 'type', FALSE),
                ('base', 'neg_price', 'OUT_OF_RANGE_GT', 'price',
                 'Field price failed OUT_OF_RANGE_GT', 'constraint', FALSE),
                ('base', 'bad_date', 'INVALID_DATE', 'odate',
                 'Field odate failed INVALID_DATE', 'type', FALSE),
                ('ovr', 'blank_price', 'PRICE_REQUIRED', 'price',
                 'price must be supplied', 'missing', FALSE),
                ('ovr', 'nan_price', 'PRICE_NOT_NUMERIC', 'price',
                 'Field price failed INVALID_NUMBER', 'type', TRUE),
                ('ovr', 'neg_price', 'PRICE_NOT_NUMERIC', 'price',
                 'Field price failed OUT_OF_RANGE_GT', 'constraint', TRUE),
                ('ovr', 'bad_date', 'DATE_FORMAT_DDMMYYYY', 'odate',
                 'Field odate failed INVALID_DATE', 'type', FALSE)
            ) AS t(part, kind, error_code, error_location, error_message,
                   category, is_informational)
        )
        SELECT d.part, 'orders_sub' AS entity, d.error_code,
               d.error_location, d.error_message, d.category,
               d.is_informational, f.record_key
        FROM fails f JOIN detail d USING (kind)
        UNION ALL
        SELECT 'uniq', 'orders_u', 'DUPLICATE_VALUE', 'okey', '', '',
               FALSE, CAST(okey AS BIGINT)
        FROM (
            SELECT okey, count(*) OVER (PARTITION BY okey) AS c
            FROM (
                SELECT CAST(o_orderkey AS VARCHAR) AS okey FROM orders
                UNION ALL
                SELECT CAST(o_orderkey AS VARCHAR) FROM orders
                WHERE o_orderkey % 100 = 0
            )
        ) WHERE c > 1
    """

# name_len / seg_title are produced by the registered Python UDFs on
# the Spark side (the escape hatch); the oracle recomputes them in SQL
_SCALAR_FUNCTIONS_SQL = f"""
        SELECT 'scalar' AS op, c_custkey,
               c_acctbal > 10000 AS big_bal,
               c_acctbal <= 5000.0 AS le_5k,
               ABS(c_acctbal - 5000.0) <= ABS(5000.0 * 0.5) AS near_5k,
               {_nhs_mod11_oracle("lpad(cast(c_custkey AS VARCHAR), 10, '4')")}
                   AS nhs_ok,
               length(c_name) AS name_len,
               UPPER(SUBSTRING(c_mktsegment, 1, 1)) ||
                   LOWER(SUBSTRING(c_mktsegment, 2)) AS seg_title
        FROM customer
        UNION ALL
        SELECT 'udtf', c_custkey,
               NULL, NULL, NULL, NULL,
               CAST(p['pos'] AS BIGINT), p['part']
        FROM (
            SELECT c_custkey,
                   unnest(list_transform(
                       string_split(COALESCE(c_name, ''), '#'),
                       (x, i) -> struct_pack(pos := i - 1, part := x)
                   )) AS p
            FROM customer
        )
        UNION ALL
        SELECT 'sqlq', c.c_custkey,
               NULL, NULL, NULL, NULL,
               (SELECT count(*) FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderstatus = 'O'),
               CAST(NULL AS VARCHAR)
        FROM customer c
    """


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: revenue by nation via the
    engine (two theta joins + filter + aggregation)."""
    sf_dir = "/root/testdata/sf0.001"
    ents = _load(spark, sf_dir, ["customer", "orders", "lineitem", "nation"])
    eng = _engine(spark)
    eng.evaluate(
        ents,
        config=InnerJoin(
            entity_name="orders",
            target_name="customer",
            join_condition="orders.o_custkey = customer.c_custkey",
            new_columns={"customer.c_nationkey": "c_nationkey"},
        ),
    )
    eng.evaluate(
        ents,
        config=InnerJoin(
            entity_name="lineitem",
            target_name="orders",
            join_condition="lineitem.l_orderkey = orders.o_orderkey",
            new_columns={"orders.c_nationkey": "c_nationkey"},
        ),
    )
    eng.evaluate(
        ents,
        config=LeftJoin(
            entity_name="lineitem",
            target_name="nation",
            join_condition="lineitem.c_nationkey = nation.n_nationkey",
            new_columns={"nation.n_name": "nation_name"},
        ),
    )
    eng.evaluate(
        ents,
        config=Aggregation(
            entity_name="lineitem",
            group_by="nation_name",
            agg_columns={
                "round(sum(l_extendedprice * (1 - l_discount)), 2)": "revenue",
                "count(1)": "n_items",
            },
        ),
    )
    return ents["lineitem"]



# ---------------------------------------------------------------------------
# embedding, span, sketch, feature and text-preparation operators. Shared
# constructions are mirrored verbatim in the DuckDB twins.
# ---------------------------------------------------------------------------

# fixed SemDeDup centroid rows — exist at every SF (ids < 50)
_SEM_CENTROID_IDS = (1, 7, 13, 19, 25, 31, 37, 43)


def _sem_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings plus injected near-duplicates: every 10th vector
    re-enters with id+1_000_000 and every component scaled by 1.01 —
    cosine vs the original is exactly 1.0 after round(·, 6), while the
    synthetic table's natural cosines top out ≈0.51 (measured), so
    threshold 0.9 splits dup/non-dup with a huge margin. The float32
    re-cast keeps the column type; both twins replay the identical
    double-multiply-then-float-round, so the corpora are bit-equal."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dup = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * 1.01).cast("float")
        ).alias("embedding"),
    )
    return emb.unionByName(dup)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (llmops/semdedup.py, Abbas 2023) end to end with FIXED
    centroids (the embedding rows of 8 pinned ids, so the k-means fit —
    pytest-pinned separately — is out of the hashed path and the oracle
    can replay the exact argmin cell assignment): within-cell cosine
    pairs at threshold 0.9 ('pair'), min-label duplicate groups via
    connected components ('grp'), and the survivor keep-set ('keep',
    sem_group NULL → '~'). Cosines deliberately NOT hashed (the pair
    SET pins the thresholding; cosine folds are attested in
    ann_variants). All-string (op, k, v) frame."""
    from data_validation_engine_spark.llmops.semdedup import (
        semantic_dedup,
        semantic_dup_groups,
        semantic_pairs,
    )

    corpus = _sem_corpus(spark, sf_dir)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .where(F.col("vec_id").isin(*_SEM_CENTROID_IDS))
        .orderBy("vec_id")
        .collect()
    ]
    kw = dict(
        id_col="vec_id", vec_col="embedding", dim=64,
        threshold=0.9, centroids=cents,
    )
    # the clustering + within-cell cosine pass runs ONCE: pairs are
    # pair-graph-sized (small), so the eager localCheckpoint is cheap
    # and the groups/keep stages reuse it via the operators' passthrough
    # parameters instead of re-running the pipeline three times.
    # the CC label-prop rounds inside
    # semantic_dup_groups iterate over the PAIR GRAPH (thousands of
    # edges) — pin their per-round shuffles like the connected_components
    # row does (4 partitions, the CC row's measurement; rows identical);
    # scales UP with the edge count.
    with _state_partitions(spark, 4):
        pairs_df = semantic_pairs(corpus, **kw).localCheckpoint()
        groups_df = semantic_dup_groups(corpus, **kw, pairs=pairs_df)
    pairs = pairs_df.selectExpr(
        "'pair' AS op",
        "CONCAT_WS('|', CAST(id_a AS STRING), CAST(id_b AS STRING)) AS k",
        "'~' AS v",
    )
    groups = groups_df.selectExpr(
        "'grp' AS op", "CAST(vec_id AS STRING) AS k",
        "CAST(group AS STRING) AS v",
    )
    keep = semantic_dedup(corpus, **kw, groups=groups_df).selectExpr(
        "'keep' AS op", "CAST(vec_id AS STRING) AS k",
        "COALESCE(CAST(sem_group AS STRING), '~') AS v",
    )
    return pairs.unionByName(groups).unionByName(keep)


# the boilerplate paragraphs injected into the derived corpus (mirrored
# in the oracle): %2 docs get a newsletter line, %5 a copyright line,
# %7 a MiXeD-CaSe cookie line (exercising the normalize-before-hash)
_PARA_CORPUS_EXPR = (
    "text"
    " || CASE WHEN doc_id % 2 = 0 THEN CONCAT(CHAR(10),"
    " 'subscribe to our newsletter for updates') ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN CONCAT(CHAR(10),"
    " 'copyright 2024 example corp all rights reserved') ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN CONCAT(CHAR(10),"
    " '  Cookie POLICY:  we use cookies. ') ELSE '' END"
)


def q_paragraph_dedup(
    spark: SparkSession, sf_dir: str, paras: DataFrame | None = None
) -> DataFrame:
    """CCNet/FineWeb paragraph dedup (llmops/paragraphs.py) over a
    derived multi-paragraph corpus (documents.parquet has no newlines —
    both twins append the same boilerplate lines, giving real repeated
    paragraphs to remove): corpus paragraph frequencies ('freq'),
    boilerplate removal keep='none' ('none'), canonical-first dedup
    keep='first' ('first'), and split_sentences over the raw documents
    ('sent' — the heuristic segmentation, lookaround split; the oracle
    replays it as a capture-group sentinel rewrite). All-string
    (op, k, v) frame."""
    from data_validation_engine_spark.llmops.paragraphs import (
        paragraph_frequency,
        remove_repeated_paragraphs,
        split_sentences,
    )

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_PARA_CORPUS_EXPR} AS text"
    )
    # the three paragraph arms all start
    # from the same split_paragraphs explode — the row's build
    # (q_span_dedup) passes the persisted frame in so the corpus is
    # split once per row instead of three times
    freq = paragraph_frequency(
        docs, "doc_id", "text", paras=paras
    ).selectExpr(
        "'freq' AS op", "h AS k",
        "CONCAT_WS('|', md5(para), CAST(n_docs AS STRING),"
        " CAST(n_occ AS STRING)) AS v",
    )
    none = remove_repeated_paragraphs(
        docs, "doc_id", "text", max_docs=1, keep="none", paras=paras
    ).selectExpr(
        "'none' AS op", "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', CAST(n_paras AS STRING), CAST(n_kept AS STRING),"
        " md5(text)) AS v",
    )
    first = remove_repeated_paragraphs(
        docs, "doc_id", "text", max_docs=1, keep="first", paras=paras
    ).selectExpr(
        "'first' AS op", "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', CAST(n_paras AS STRING), CAST(n_kept AS STRING),"
        " md5(text)) AS v",
    )
    sents = split_sentences(
        _docs(spark, sf_dir), "doc_id", "text"
    ).selectExpr(
        "'sent' AS op",
        "CONCAT_WS('|', CAST(doc_id AS STRING),"
        " CAST(sent_idx AS STRING)) AS k",
        "CONCAT_WS('|', md5(sentence), CAST(n_chars AS STRING)) AS v",
    )
    return freq.unionByName(none).unionByName(first).unionByName(sents)


# the shared span injected into every 16th document (>= width+window-1
# = 31 chars, so winnowing GUARANTEES a shared fingerprint per copy)
_SPAN_TEXT = (
    " the quick brown fox jumps over the lazy dog near the river bank"
)

_SPAN_CORPUS_EXPR = (
    "CASE WHEN doc_id % 16 = 0 THEN CONCAT(text,"
    f" '{_SPAN_TEXT}') ELSE text END"
)


def q_shared_spans(
    spark: SparkSession, sf_dir: str, fps: DataFrame | None = None
) -> DataFrame:
    """Winnowing repeated-span detection (llmops/spans.py, Schleimer
    2003 / MOSS) over a corpus with a 65-char span injected into every
    16th document: per-document fingerprint-set summaries ('fp' —
    count, ordered-sum and min of the selected 60-bit gram hashes) and
    the shared-span pair table ('pairs' — every injected-span pair
    collides, any natural 24-char overlap shows up too, both
    deterministic). All-string (op, k, v) frame; the hash sums stay
    < 2^63 at any SF (≤ a few hundred 60-bit values per doc)."""
    from data_validation_engine_spark.llmops.spans import (
        shared_span_pairs,
        winnowed_fingerprints,
    )

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_SPAN_CORPUS_EXPR} AS text"
    )
    # both arms (and the incremental
    # sibling) fold over the same winnowed-fingerprint rows; the row's
    # build (q_span_dedup) passes the persisted frame in so the
    # gram-hash pass runs once per row instead of four times
    if fps is None:
        fps = winnowed_fingerprints(
            docs, "doc_id", "text", width=24, window=8
        )
    fp_rows = fps
    fp_summary = (
        fp_rows
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            # modulo before the sum: a doc can carry hundreds of 60-bit
            # fingerprints and a raw long sum overflows (ANSI throws)
            F.sum(F.col("h") % 1000000007).alias("h_sum"),
            F.min("h").alias("h_min"),
        )
        .selectExpr(
            "'fp' AS op", "CAST(doc_id AS STRING) AS k",
            "CONCAT_WS('|', CAST(n_fp AS STRING), CAST(h_sum AS STRING),"
            " CAST(h_min AS STRING)) AS v",
        )
    )
    pairs = shared_span_pairs(
        docs, "doc_id", "text", width=24, window=8, min_shared=1,
        fps=fp_rows,
    ).selectExpr(
        "'pairs' AS op",
        "CONCAT_WS('|', CAST(id_a AS STRING), CAST(id_b AS STRING)) AS k",
        "CAST(n_shared AS STRING) AS v",
    )
    return fp_summary.unionByName(pairs)


def _q_cms_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (llmops/sketch.py, Cormode 2005) with the
    md5-derived cells replayed exactly by the oracle — so even the
    *approximate* estimates hash engine-exact:

    - 'cells' — cms_build over (lang-nulled-every-11th, source) grouped
      by lang: NULL group keys are REAL groups (the marker discipline);
    - 'est' — cms_query point estimates for every distinct (lang,
      source) probe INCLUDING the NULL-lang group;
    - 'merge' — cms_merge of two halves == the direct sketch
      (mergeability, the property that lets 100 TB persist per-batch
      sketches and never re-touch raw data).

    The 'stream' surface of the same oracle is :func:`_q_cms_stream`.
    All-string (op, k, v) frame."""
    from data_validation_engine_spark.llmops.sketch import (
        cms_build,
        cms_merge,
        cms_query,
    )

    docs = _docs(spark, sf_dir).selectExpr(
        "CASE WHEN doc_id % 11 = 0 THEN NULL ELSE lang END AS lang",
        "source", "doc_id",
    )
    kw = dict(group_cols=["lang"], depth=3, width=64)
    # persisted: the 'cells' projection and the 'est' probe join both
    # read the direct sketch — one build instead of two
    sketch = cms_build(docs, "source", **kw).persist()
    cells = sketch.selectExpr(
        "'cells' AS op",
        "CONCAT_WS('|', COALESCE(lang, '~'), CAST(row AS STRING),"
        " CAST(col AS STRING)) AS k",
        "CAST(n AS STRING) AS v",
    )
    probes = docs.select("lang", "source").distinct()
    est = cms_query(sketch, probes, "source", **kw).selectExpr(
        "'est' AS op",
        "CONCAT_WS('|', COALESCE(lang, '~'), source) AS k",
        "CAST(n_est AS STRING) AS v",
    )
    # the two half-corpus sketches are ONE build keyed
    # by (lang, parity) — a value's cells depend only on the value, so
    # building per-parity groups and summing the parity dimension away
    # is exactly the union-then-merge of two separate half builds, for
    # one corpus scan instead of two. The 'merge' attestation is
    # unchanged: the direct sketch above is still built independently.
    halves = cms_merge(
        cms_build(
            docs.withColumn("__par", F.col("doc_id") % 2),
            "source",
            group_cols=["lang", "__par"], depth=3, width=64,
        ).drop("__par"),
        group_cols=["lang"],
    ).selectExpr(
        "'merge' AS op",
        "CONCAT_WS('|', COALESCE(lang, '~'), CAST(row AS STRING),"
        " CAST(col AS STRING)) AS k",
        "CAST(n AS STRING) AS v",
    )
    return cells.unionByName(est).unionByName(halves)


def _q_cms_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'stream' — streaming_cms_cells (native windowed agg, watermark
    eviction) drained over events == batch cells per closed window. Its
    own arm so the drain's fixed micro-batch plumbing overlaps the
    batch sketch builds."""
    import tempfile

    from data_validation_engine_spark.streaming.cardinality import (
        streaming_cms_cells,
    )

    sdf = _events_stream(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="dve_scms_q_")
    with _state_partitions(spark):
        sq = _drain(
            streaming_cms_cells(
                sdf, "ts", "event_type",
                window_seconds=86400, depth=3, width=64,
                watermark="2 hours",
            ),
            f"{out}/data",
        )
    sq.awaitTermination()
    return spark.read.parquet(f"{out}/data").selectExpr(
        "'stream' AS op",
        "CONCAT_WS('|', CAST(window_start AS STRING), CAST(row AS STRING),"
        " CAST(col AS STRING)) AS k",
        "CAST(n AS STRING) AS v",
    )


def q_hll_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native-DataSketches HLL profiling (llmops/sketch.py hll_profile /
    hll_rollup): per-lang distinct sources ('grp'), per-source distinct
    langs ('fine'), and the sketch-MERGE rollup of the per-lang
    sketches to the corpus level ('roll', k='*'). The hashed estimates
    are engine-exact here BY REGIME, documented not lucky: the value
    cardinalities (≤20 sources, ≤5 langs at every SF) keep every sketch
    in DataSketches' sparse/coupon mode where the estimate IS the exact
    coupon count, so the DuckDB twin is plain COUNT(DISTINCT ...). At
    production cardinality the estimate departs (~1.6% at lg_k=12) —
    that's the point of the sketch; the merge==union-of-raw property
    being attested here is cardinality-independent. All-string frame."""
    from data_validation_engine_spark.llmops.sketch import (
        hll_profile,
        hll_rollup,
    )

    docs = _docs(spark, sf_dir)
    per_lang = hll_profile(docs, ["lang"], "source", lg_k=12)
    grp = per_lang.selectExpr(
        "'grp' AS op", "lang AS k", "CAST(n_est AS STRING) AS v"
    )
    fine = hll_profile(
        docs, ["source"], "lang", lg_k=12, keep_sketch=False
    ).selectExpr("'fine' AS op", "source AS k", "CAST(n_est AS STRING) AS v")
    roll = hll_rollup(per_lang, []).selectExpr(
        "'roll' AS op", "'*' AS k", "CAST(n_est AS STRING) AS v"
    )
    return grp.unionByName(fine).unionByName(roll)


def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA via mergeable sufficient statistics (llmops/pca.py):

    - 'mom' — the corpus moment vector (n, Σx, upper-tri ΣxxT) from the
      deterministic two-level ordered fold, exploded to (i, value)
      rows. These are the EXACT inputs the driver-side eigensolve
      consumes, so hashing them attests everything distributed about
      the fit (the eigen-iteration itself is numpy on dim² doubles —
      pytest-pinned, documented non-hashable).
    - 'proj' / 'proj2' — pca_project with FIXED deterministic
      mean/components literals shared by both twins (the fitted
      eigenvectors would make the oracle depend on the Spark run;
      pca_fit's eigensolve is pytest-pinned against its own math, and
      its distributed inputs ARE the 'mom' surface), proving the
      centered projection fold against DuckDB's replay; round(·, 6).

    Floats here ride as DOUBLEs under the FLOATS.md ordered-fold rule
    (same class as vector_stats)."""
    from data_validation_engine_spark.llmops.pca import (
        moment_stats,
        pca_project,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # segment_size=256: the level-1 ordered folds are interpreted HOFs
    # (Spark never codegens lambda bodies) and the segment size trades
    # fold parallelism against per-segment collect_list overhead —
    # measured at sf0.1: 10.2s (1024) / 8.6s (64) / 4.8s (256); the
    # residual is the per-row interpreted outer-product itself. The
    # segment size PINS the addition order (different sizes are
    # different, equally-valid fold orders), so the oracle replays
    # exactly 256; determinism across partitionings holds at any
    # fixed size.
    # The 'mom' attestation runs at dim=16 (the first 16 coordinates) — 152 interpreted
    # multiplies per row instead of 2,080, dropping the row's floor
    # from ~5-11s to ~1-2s while exercising the identical fold
    # machinery; production fits use moment_stats(..., method="fast")
    # (vectorized mapInPandas, pytest parity-pinned) at full width.
    emb16 = emb.select(
        "vec_id", F.slice("embedding", 1, _PCA_MOM_DIM).alias("embedding")
    )
    n, s1, s2 = moment_stats(emb16, dim=_PCA_MOM_DIM, segment_size=256)
    mom_rows = [("n", 0, float(n))]
    mom_rows += [("s1", i, v) for i, v in enumerate(s1)]
    mom_rows += [("s2", i, v) for i, v in enumerate(s2)]
    mom = spark.createDataFrame(
        mom_rows, "part string, i int, value double"
    ).selectExpr(
        "'mom' AS op", "CONCAT_WS('|', part, CAST(i AS STRING)) AS k",
        "value AS x",
    )
    # 'proj'/'proj2' are two components
    # of the SAME projection row — compute the interpreted centered-
    # projection fold once (persisted) and slice it twice, instead of
    # evaluating the full fold per arm. Identical doubles per component.
    projected = pca_project(
        emb, _PCA_MEAN, _PCA_COMPS, round_to=6
    ).persist()
    proj = projected.selectExpr(
        "'proj' AS op", "CAST(vec_id AS STRING) AS k", "pca[0] AS x",
    ).unionByName(
        projected.selectExpr(
            "'proj2' AS op", "CAST(vec_id AS STRING) AS k", "pca[1] AS x",
        )
    )
    return mom.unionByName(proj)


# fixed projection constants for q_pca_project's 'proj' arms: integer-
# derived rationals, exactly representable, inlined identically into the
# oracle SQL (no Date/random — deterministic by construction)
_PCA_MOM_DIM = 16  # 'mom' attestation width (see q_pca_project)
_PCA_MOM_FLAT = _PCA_MOM_DIM + _PCA_MOM_DIM * (_PCA_MOM_DIM + 1) // 2
_PCA_MEAN: list[float] = [((i * 7 + 3) % 11 - 5) / 8.0 for i in range(64)]
_PCA_COMPS: list[list[float]] = [
    [((i * 13 + c * 5 + 1) % 19 - 9) / 16.0 for i in range(64)]
    for c in range(2)
]


# ---------------------------------------------------------------------------
# oracle twins of the operators above
# ---------------------------------------------------------------------------

def _duck_l2sq(a: str, b: str, dim: int = 64) -> str:
    """Squared-L2 left-fold twin of llmops/ivf.py l2sq_col."""
    return (
        f"list_reduce(list_prepend(0.0, "
        f"list_transform(generate_series(1, {dim}), "
        f"i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE)"
        f" * ({a}[i]::DOUBLE - {b}[i]::DOUBLE))), (x, y) -> x + y)"
    )


def _duck_list(vals) -> str:
    """Exact double-literal list (repr round-trips bit-exactly)."""
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]::DOUBLE[]"


_SEM_IDS_SQL = ", ".join(str(i) for i in _SEM_CENTROID_IDS)


_SEMANTIC_DEDUP_SQL = f"""
    WITH RECURSIVE corpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000,
               list_transform(embedding,
                              v -> CAST(v::DOUBLE * 1.01 AS FLOAT))
        FROM embeddings WHERE vec_id % 10 = 0
    ),
    cents AS (
        SELECT embedding AS cvec,
               row_number() OVER (ORDER BY vec_id) - 1 AS ccell
        FROM embeddings WHERE vec_id IN ({_SEM_IDS_SQL})
    ),
    assigned AS (
        SELECT vec_id, embedding, ccell AS cell,
               sqrt({_duck_dot('embedding', 'embedding')}) AS nrm
        FROM (
            SELECT c.vec_id, c.embedding, t.ccell,
                   row_number() OVER (
                       PARTITION BY c.vec_id
                       ORDER BY {_duck_l2sq('c.embedding', 't.cvec')},
                                t.ccell
                   ) AS rk
            FROM corpus c, cents t
        ) WHERE rk = 1
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE round({_duck_dot('a.embedding', 'b.embedding')}
                    / (a.nrm * b.nrm), 6) >= 0.9
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ),
    grp AS (SELECT id, min(r) AS g FROM reach GROUP BY id)
    SELECT 'pair' AS op,
           CAST(id_a AS VARCHAR) || '|' || CAST(id_b AS VARCHAR) AS k,
           '~' AS v
    FROM pairs
    UNION ALL
    SELECT 'grp', CAST(id AS VARCHAR), CAST(g AS VARCHAR) FROM grp
    UNION ALL
    SELECT 'keep', CAST(c.vec_id AS VARCHAR),
           COALESCE(CAST(rep.g AS VARCHAR), '~')
    FROM corpus c
    LEFT JOIN (SELECT id, g FROM grp WHERE id = g) rep
      ON c.vec_id = rep.id
    WHERE c.vec_id NOT IN (SELECT id FROM grp WHERE id <> g)
"""

_PARA_CORPUS_SQL = """
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 2 = 0 THEN chr(10) ||
              'subscribe to our newsletter for updates' ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN chr(10) ||
              'copyright 2024 example corp all rights reserved' ELSE '' END
           || CASE WHEN doc_id % 7 = 0 THEN chr(10) ||
              '  Cookie POLICY:  we use cookies. ' ELSE '' END AS text
    FROM documents
"""

# the lookaround sentence boundary replayed as a capture-group sentinel
# rewrite (RE2 has no lookarounds): group 2 (the whitespace) is consumed
# exactly as Spark's split consumes it, groups 1/3 are retained
_SENT_SPLIT_SQL = r"""
    SELECT doc_id,
           CASE WHEN COALESCE(trim(text), '') = ''
                THEN CAST([] AS VARCHAR[])
                ELSE string_split(
                    regexp_replace(trim(text),
                        $$([.!?]["')\]]?)(\s+)(["'(\[]?[A-Z0-9])$$,
                        $$\1$$ || chr(30) || $$\3$$, 'g'),
                    chr(30))
           END AS sents
    FROM documents
"""

_PARAGRAPH_DEDUP_SQL = f"""
    WITH pd AS ({_PARA_CORPUS_SQL}),
    paras AS (
        SELECT doc_id, pos, para,
               md5(lower(regexp_replace(trim(para), '\\s+', ' ', 'g')))
                   AS h
        FROM (
            SELECT doc_id,
                   unnest(list_transform(string_split(text, chr(10)),
                          (x, i) -> {{'pos': i - 1, 'para': x}}),
                          recursive := true)
            FROM pd
        ) WHERE length(trim(para)) >= 1
    ),
    stats AS (
        SELECT h, count(DISTINCT doc_id) AS n_docs FROM paras GROUP BY h
    ),
    tagged AS (
        SELECT p.doc_id, p.pos, p.para, p.h, s.n_docs,
               row_number() OVER (
                   PARTITION BY p.h ORDER BY p.doc_id, p.pos
               ) AS occ_rank
        FROM paras p JOIN stats s USING (h)
    )
    SELECT 'freq' AS op, h AS k,
           md5(min(para)) || '|' ||
           CAST(count(DISTINCT doc_id) AS VARCHAR) || '|' ||
           CAST(count(*) AS VARCHAR) AS v
    FROM paras GROUP BY h
    UNION ALL
    SELECT 'none', CAST(doc_id AS VARCHAR),
           CAST(count(*) AS VARCHAR) || '|' ||
           CAST(sum(CASE WHEN n_docs <= 1 THEN 1 ELSE 0 END) AS VARCHAR)
           || '|' ||
           md5(COALESCE(string_agg(CASE WHEN n_docs <= 1 THEN para END,
                                   chr(10) ORDER BY pos), ''))
    FROM tagged GROUP BY doc_id
    UNION ALL
    SELECT 'first', CAST(doc_id AS VARCHAR),
           CAST(count(*) AS VARCHAR) || '|' ||
           CAST(sum(CASE WHEN n_docs <= 1 OR occ_rank = 1
                         THEN 1 ELSE 0 END) AS VARCHAR) || '|' ||
           md5(COALESCE(string_agg(
               CASE WHEN n_docs <= 1 OR occ_rank = 1 THEN para END,
               chr(10) ORDER BY pos), ''))
    FROM tagged GROUP BY doc_id
    UNION ALL
    SELECT 'sent',
           CAST(doc_id AS VARCHAR) || '|' || CAST(sent_idx AS VARCHAR),
           md5(sentence) || '|' || CAST(length(sentence) AS VARCHAR)
    FROM (
        SELECT doc_id, sent_idx, trim(sentence) AS sentence
        FROM (
            SELECT doc_id,
                   unnest(list_transform(sents,
                          (x, i) -> {{'sent_idx': i - 1, 'sentence': x}}),
                          recursive := true)
            FROM ({_SENT_SPLIT_SQL})
        )
    ) WHERE length(sentence) >= 1
"""

_SPAN_CORPUS_SQL = f"""
    SELECT doc_id,
           CASE WHEN doc_id % 16 = 0 THEN text || '{_SPAN_TEXT}'
                ELSE text END AS text
    FROM documents
"""

# the winnowed-fingerprint CTE chain (norm -> grams -> sel -> fps),
# shared verbatim by the shared_spans oracle and the incremental
# parity twin
_SPAN_FPS_CTES = f"""
    WITH norm AS (
        SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
        FROM ({_SPAN_CORPUS_SQL})
    ),
    grams AS (
        SELECT doc_id,
               CASE WHEN length(t) >= 24 THEN
                   list_transform(generate_series(1, length(t) - 23),
                       i -> ('0x' || substring(md5(substring(t, i, 24)),
                                               1, 15))::BIGINT)
               ELSE CAST([] AS BIGINT[]) END AS g
        FROM norm
    ),
    sel AS (
        SELECT doc_id,
               CASE WHEN len(g) >= 8 THEN
                   list_distinct(list_transform(
                       generate_series(1, len(g) - 7),
                       j -> list_min(g[j:j+7])))
               WHEN len(g) >= 1 THEN [list_min(g)]
               ELSE CAST([] AS BIGINT[]) END AS hs
        FROM grams
    ),
    fps AS (SELECT doc_id, unnest(hs) AS h FROM sel)
"""

_SHARED_SPANS_SQL = f"""
    {_SPAN_FPS_CTES}
    SELECT 'fp' AS op, CAST(doc_id AS VARCHAR) AS k,
           CAST(count(*) AS VARCHAR) || '|' ||
           CAST(sum(h % 1000000007) AS VARCHAR) || '|' ||
           CAST(min(h) AS VARCHAR) AS v
    FROM fps GROUP BY doc_id
    UNION ALL
    SELECT 'pairs',
           CAST(a.doc_id AS VARCHAR) || '|' || CAST(b.doc_id AS VARCHAR),
           CAST(count(*) AS VARCHAR)
    FROM fps a JOIN fps b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
"""


def _duck_cms_cells(kv: str, depth: int = 3, width: int = 64) -> str:
    """Inline (r, col) cell derivation twin of llmops/sketch._cms_col
    (seed='') — ``kv`` is the marker-coalesced key expression."""
    return (
        f"(SELECT unnest(generate_series(0, {depth - 1})) AS r) rr,"
        f" LATERAL (SELECT CAST(('0x' || substring(md5('|cms' ||"
        f" rr.r || '|' || {kv}), 1, 15))::BIGINT % {width} AS INT)"
        f" AS col) cc"
    )


_CMS_SKETCH_SQL = f"""
    WITH cd AS (
        SELECT CASE WHEN doc_id % 11 = 0 THEN NULL ELSE lang END AS lang,
               source, doc_id
        FROM documents
    ),
    built AS (
        SELECT lang, rr.r AS row, cc.col, count(*) AS n
        FROM cd, {_duck_cms_cells("COALESCE('v:' || source, 'n')")}
        GROUP BY 1, 2, 3
    ),
    probes AS (SELECT DISTINCT lang, source FROM cd),
    pcells AS (
        SELECT lang, source, rr.r AS row, cc.col
        FROM probes, {_duck_cms_cells("COALESCE('v:' || source, 'n')")}
    ),
    est AS (
        SELECT p.lang, p.source, min(COALESCE(b.n, 0)) AS n_est
        FROM pcells p LEFT JOIN built b
          ON (p.lang IS NOT DISTINCT FROM b.lang)
         AND p.row = b.row AND p.col = b.col
        GROUP BY 1, 2
    )
    SELECT 'cells' AS op,
           COALESCE(lang, '~') || '|' || CAST(row AS VARCHAR) || '|' ||
           CAST(col AS VARCHAR) AS k,
           CAST(n AS VARCHAR) AS v
    FROM built
    UNION ALL
    SELECT 'merge',
           COALESCE(lang, '~') || '|' || CAST(row AS VARCHAR) || '|' ||
           CAST(col AS VARCHAR),
           CAST(n AS VARCHAR)
    FROM built
    UNION ALL
    SELECT 'est', COALESCE(lang, '~') || '|' || source,
           CAST(n_est AS VARCHAR)
    FROM est
    UNION ALL
    SELECT 'stream',
           CAST(win AS VARCHAR) || '|' || CAST(row AS VARCHAR) || '|' ||
           CAST(col AS VARCHAR),
           CAST(count(*) AS VARCHAR)
    FROM (
        SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS win,
               rr.r AS row, cc.col, ts
        FROM events,
             {_duck_cms_cells("COALESCE('v:' || event_type, 'n')")}
    ), (SELECT max(ts) AS mx FROM events) m
    WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= m.mx - INTERVAL 2 HOUR
    GROUP BY 1, 2
"""

_HLL_PROFILE_SQL = """
    SELECT 'grp' AS op, lang AS k,
           CAST(count(DISTINCT source) AS VARCHAR) AS v
    FROM documents GROUP BY lang
    UNION ALL
    SELECT 'fine', source, CAST(count(DISTINCT lang) AS VARCHAR)
    FROM documents GROUP BY source
    UNION ALL
    SELECT 'roll', '*', CAST(count(DISTINCT source) AS VARCHAR)
    FROM documents
"""


def _duck_moment_vec() -> str:
    """Per-row (embedding ++ upper-tri outer product) twin of
    llmops/pca._upper_outer — dim + dim(dim+1)/2 doubles."""
    return (
        f"list_concat(v, flatten(list_transform(generate_series(1, {_PCA_MOM_DIM}),"
        f" i -> list_transform(v[i:{_PCA_MOM_DIM}], x -> v[i] * x))))"
    )


def _duck_pca_proj(comp: list[float]) -> str:
    """Centered-projection left fold twin of llmops/pca.pca_project."""
    terms = (
        f"list_transform(generate_series(1, 64), i -> "
        f"(v[i] - ({_duck_list(_PCA_MEAN)})[i])"
        f" * ({_duck_list(comp)})[i])"
    )
    return (
        f"round(list_reduce(list_prepend(0.0, {terms}),"
        f" (a, b) -> a + b), 6)"
    )


_PCA_PROJECT_SQL = f"""
    WITH mv AS (
        SELECT vec_id, {_duck_moment_vec()} AS m
        FROM (SELECT vec_id, (embedding::DOUBLE[])[1:{_PCA_MOM_DIM}] AS v
              FROM embeddings)
    ),
    seg AS (
        SELECT vec_id // 256 AS seg, count(*) AS n,
               {_duck_vec_fold("list(m ORDER BY vec_id)", _PCA_MOM_FLAT)} AS s
        FROM mv GROUP BY 1
    ),
    tot AS (
        SELECT sum(n) AS n,
               {_duck_vec_fold("list(s ORDER BY seg)", _PCA_MOM_FLAT)} AS s
        FROM seg
    )
    SELECT 'mom' AS op, 'n|0' AS k, CAST(n AS DOUBLE) AS x FROM tot
    UNION ALL
    SELECT 'mom', 's1|' || CAST(t.i - 1 AS VARCHAR), s[t.i]
    FROM tot, (SELECT unnest(generate_series(1, {_PCA_MOM_DIM})) AS i) t
    UNION ALL
    SELECT 'mom', 's2|' || CAST(t.i - {_PCA_MOM_DIM + 1} AS VARCHAR), s[t.i]
    FROM tot, (SELECT unnest(generate_series({_PCA_MOM_DIM + 1},
                                             {_PCA_MOM_FLAT})) AS i) t
    UNION ALL
    SELECT 'proj', CAST(vec_id AS VARCHAR), {_duck_pca_proj(_PCA_COMPS[0])}
    FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    UNION ALL
    SELECT 'proj2', CAST(vec_id AS VARCHAR), {_duck_pca_proj(_PCA_COMPS[1])}
    FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
"""


def q_feature_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score/calibration operators (llmops/stats.py, lm.py, compress.py)
    under the FLOATS.md discipline — exact rationals and wide-margin
    thresholds, never transcendental values:

    - 'mm' / 'rb' — standardize minmax and robust over n_chars grouped
      by lang (integer inputs → exact min/max/type-7-percentile
      arithmetic, one correctly-rounded division; the robust arm runs
      broadcast_stats=False, putting the non-broadcast path on
      the oracle gate). zscore stays pytest-only: Welford-merged
      variance is partition-order float math, not hashable.
    - 'auc' — grouped ROC AUC (Mann-Whitney over distinct scores):
      integer rank sums, one fixed float chain, hashed as DOUBLE.
    - 'lmg' / 'lmd' — char-trigram LM (CCNet-style): top-20 model grams
      by count (integers), and per-eval-doc n_grams plus the
      perplexity<=1000 gate over raw docs ∪ injected hex gibberish —
      measured margins ~260 vs ~148000, four orders of magnitude, so
      the boolean is engine-stable while ln/exp stay unhashed.
    - 'cr' — compression_ratio (zlib Arrow hop) as the ratio<0.2 gate
      over raw ∪ 30×-repeated variants; measured margins 0.04 vs 0.40.
      zlib is deterministic but SQL-inexpressible — the oracle states
      the classification the construction guarantees.

    Frame is (op, k, v, x) — x DOUBLE for mm/rb/auc, NULL elsewhere."""
    from data_validation_engine_spark.llmops.compress import (
        compression_ratio,
    )
    from data_validation_engine_spark.llmops.lm import (
        perplexity_score,
        train_char_lm,
    )
    from data_validation_engine_spark.llmops.stats import (
        grouped_auc,
        standardize,
    )

    docs = _docs(spark, sf_dir)
    base = docs.select("doc_id", "lang", F.col("n_chars").cast("double").alias("nc"))
    mm = standardize(base, "nc", group_cols=["lang"], method="minmax").selectExpr(
        "'mm' AS op", "CAST(doc_id AS STRING) AS k",
        "CAST(NULL AS STRING) AS v", "scaled AS x",
    )
    rb = standardize(
        base, "nc", group_cols=["lang"], method="robust",
        broadcast_stats=False,
    ).selectExpr(
        "'rb' AS op", "CAST(doc_id AS STRING) AS k",
        "CAST(NULL AS STRING) AS v", "scaled AS x",
    )
    auc = grouped_auc(
        docs.selectExpr("lang", "n_chars AS s", "doc_id % 2 AS y"),
        "s", "y", group_cols=["lang"],
    ).selectExpr(
        "'auc' AS op", "lang AS k",
        "CONCAT_WS('|', CAST(n_pos AS STRING), CAST(n_neg AS STRING)) AS v",
        "auc AS x",
    )
    model, total, vocab = train_char_lm(docs, "text", n=3)
    w20 = Window.orderBy(F.desc("cnt"), F.asc("gram"))
    lmg = (
        model.withColumn("rk", F.row_number().over(w20))
        .where(F.col("rk") <= 20)
        .selectExpr(
            "'lmg' AS op", "CONCAT('g:', gram) AS k",
            "CONCAT_WS('|', CAST(cnt AS STRING), CAST(rk AS STRING)) AS v",
            "CAST(NULL AS DOUBLE) AS x",
        )
    )
    # eval every 3rd doc in both classes: the gate is a per-row property
    # (margins four orders of magnitude), so a deterministic subsample
    # attests it identically at a third of the explode+join cost — the
    # oracle twin applies the same % 3 cut
    evalbase = docs.where("doc_id % 3 = 0")
    evald = evalbase.selectExpr(
        "doc_id", "'doc' AS variant", "text"
    ).unionByName(
        evalbase.selectExpr(
            "doc_id", "'gib' AS variant",
            "repeat(md5(CAST(doc_id AS STRING)), 8) AS text",
        )
    )
    lmd = perplexity_score(
        evald.selectExpr(
            "CONCAT_WS('|', CAST(doc_id AS STRING), variant) AS eid", "text"
        ),
        model, total, vocab, "eid", "text", n=3,
    ).selectExpr(
        "'lmd' AS op", "eid AS k",
        "CONCAT_WS('|', CAST(n_grams AS STRING),"
        " CAST(perplexity <= 1000.0 AS STRING)) AS v",
        "CAST(NULL AS DOUBLE) AS x",
    )
    # 'rep' variants are 30× the corpus bytes through zlib — every 5th
    # doc carries the repeated class (same cut in the oracle); 'raw'
    # stays full-corpus (one zlib pass over the real text is the
    # operator's production shape)
    crd = docs.selectExpr(
        "doc_id", "'raw' AS variant", "text"
    ).unionByName(
        docs.where("doc_id % 5 = 0").selectExpr(
            "doc_id", "'rep' AS variant", "repeat(text, 30) AS text"
        )
    )
    cr = compression_ratio(crd, "text").selectExpr(
        "'cr' AS op",
        "CONCAT_WS('|', CAST(doc_id AS STRING), variant) AS k",
        "CAST(compression_ratio < 0.2 AS STRING) AS v",
        "CAST(NULL AS DOUBLE) AS x",
    )
    out = mm
    for p in (rb, auc, lmg, lmd, cr):
        out = out.unionByName(p)
    return out


def _chat_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic conversations derived from documents (there is no
    conversation table): system + user/assistant turns cut from the
    text, a second exchange for every 3rd doc, an empty-content turn
    every 97th (has_empty), an unknown 'tool' role every 89th. Short
    docs yield empty substr slices — fine, both twins compute the same
    flags. Mirrored verbatim in the oracle construction."""
    docs = _docs(spark, sf_dir)
    t = lambda role, content: F.struct(  # noqa: E731
        F.lit(role).alias("role") if isinstance(role, str) else role.alias("role"),
        content.alias("content"),
    )
    empty = F.array().cast(
        "array<struct<role:string,content:string>>"
    )
    conv = F.concat(
        F.array(
            t("system", F.lit("Be concise.")),
            t("user", F.expr("substr(text, 1, 80)")),
            t("assistant", F.expr("substr(text, 81, 100)")),
        ),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.array(
                t("user", F.expr("substr(text, 181, 60)")),
                t("assistant", F.expr("substr(text, 241, 80)")),
            ),
        ).otherwise(empty),
        F.when(
            F.col("doc_id") % 97 == 0,
            F.array(t("user", F.lit(""))),
        ).otherwise(empty),
        F.when(
            F.col("doc_id") % 89 == 0,
            F.array(t("tool", F.lit("lookup"))),
        ).otherwise(empty),
    )
    return docs.select("doc_id", conv.alias("conversation"))


def q_chat_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation rendering + masking (llmops/chat.py) over derived
    conversations: the rendered training string, per-turn character
    spans and mask spans ('render'); structural quality flags
    ('stats'); and token_loss_mask's token starts + loss mask ('mask'
    — the oracle derives starts by exact token/separator length
    arithmetic, valid because between tokens there is only whitespace,
    the same invariant the fold exploits). All integer/md5/boolean
    surfaces; the phantom-token fix rides this row (rendered text ends
    in newline)."""
    from data_validation_engine_spark.llmops.chat import (
        conversation_stats,
        render_chat,
        token_loss_mask,
    )

    conv = _chat_corpus(spark, sf_dir)
    rendered = render_chat(conv, "doc_id", "conversation")
    span_str = (
        "CONCAT_WS(',', TRANSFORM({col}, s -> CONCAT_WS(':',"
        " CAST(s.turn AS STRING), s.role, CAST(s.start AS STRING),"
        " CAST(s.end AS STRING))))"
    )
    render = rendered.selectExpr(
        "'render' AS op",
        "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', md5(text), CAST(n_turns AS STRING),"
        f" md5({span_str.format(col='spans')}),"
        f" md5({span_str.format(col='mask_spans')}),"
        " CAST(n_mask_chars AS STRING)) AS v",
    )
    stats = conversation_stats(conv, "doc_id", "conversation").selectExpr(
        "'stats' AS op",
        "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', CAST(n_turns AS STRING), CAST(n_user AS STRING),"
        " CAST(n_assistant AS STRING), CAST(n_system AS STRING),"
        " CAST(n_content_chars AS STRING), CAST(has_empty AS STRING),"
        " CAST(has_unknown_role AS STRING),"
        " CAST(alternates AS STRING)) AS v",
    )
    mask = token_loss_mask(
        rendered, "doc_id", "text", "mask_spans"
    ).selectExpr(
        "'mask' AS op",
        "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', CAST(n_tokens AS STRING),"
        " CAST(n_loss_tokens AS STRING),"
        " md5(CONCAT_WS(',', TRANSFORM(loss_mask,"
        "   b -> CAST(b AS STRING)))),"
        " md5(CONCAT_WS(',', TRANSFORM(token_starts,"
        "   s -> CAST(s AS STRING))))) AS v",
    )
    return render.unionByName(stats).unionByName(mask)


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-ingestion text canonicalization (llmops/normalize.py, web.py,
    functions/library.py URL anatomy) over constructed inputs mirrored
    in the oracle:

    - 'norm' — normalize_text(NFC, lowercase, strip_control, collapse)
      on text salted with a combining accent (NFC composes it), ZWSP
      (Cf, stripped), BEL (Cc, stripped), CR (folded), tab runs
      (collapsed). DuckDB twin: nfc_normalize + the cascade with
      tab/newline protected through private-use sentinels (RE2 lacks
      Java's class intersection).
    - 'html' — extract_html_text over constructed markup (script/style
      drop, comment drop, block-tag newlines, tag strip, the 8 named
      entities, whitespace collapse).
    - 'json' — parse_json_column with explicit DDL schema over valid /
      malformed / NULL sidecars: the loud is_valid flag plus extracted
      fields; the oracle states the construction-guaranteed outcomes.
    - 'url' — url_host / url_domain / url_path (try_parse_url, NULL on
      garbage) over constructed URLs; expected anatomy is derived from
      the construction.

    All-string (op, k, v) frame."""
    from data_validation_engine_spark.functions.library import (
        register_all_functions,
    )
    from data_validation_engine_spark.llmops.normalize import normalize_text
    from data_validation_engine_spark.llmops.web import (
        extract_html_text,
        parse_json_column,
    )

    register_all_functions(spark)
    docs = _docs(spark, sf_dir)
    salted = docs.select(
        "doc_id",
        F.concat(
            F.expr("substr(text, 1, 40)"),
            F.lit(" Cafe\u0301 \u200bZW\u0007BEL\r\nline\t\tTAB  "),
            F.lit("MIXED Case"),
        ).alias("text"),
    )
    norm = normalize_text(
        salted, "text", form="NFC", lowercase=True,
        strip_control=True, collapse_whitespace=True,
    ).selectExpr(
        "'norm' AS op", "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', md5(text), CAST(length(text) AS STRING)) AS v",
    )
    html_in = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><style>p {color: red}</style>"
                  "<script type='text/js'>var x = 1 < 2;</script></head>"
                  "<body><h1>Title</h1><p>"),
            F.expr("substr(text, 1, 80)"),
            F.lit(" &amp; &lt;tag&gt;&nbsp;&quot;q&quot;</p>"
                  "<!-- hidden --><div>second block</div></body></html>"),
        ).alias("html"),
    )
    html = extract_html_text(html_in, "html", unescape="basic").selectExpr(
        "'html' AS op", "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', md5(text), CAST(length(text) AS STRING)) AS v",
    )
    json_in = docs.selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 17 = 0 THEN NULL"
        " WHEN doc_id % 13 = 0 THEN '{\"broken\": '"
        " ELSE CONCAT('{\"url\": \"https://ex.com/p/', doc_id,"
        "             '\", \"n\": ', doc_id % 7, '}') END AS j",
    )
    js = parse_json_column(
        json_in, "j", "url STRING, n BIGINT"
    ).selectExpr(
        "'json' AS op", "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', CAST(is_valid AS STRING),"
        " COALESCE(parsed.url, '~'),"
        " COALESCE(CAST(parsed.n AS STRING), '~')) AS v",
    )
    urls = docs.selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 19 = 0 THEN 'ht tp://bad url'"
        " ELSE CONCAT('https://Sub.Example', doc_id % 5,"
        "             '.COM/path/', doc_id, '?q=', doc_id % 3) END AS u",
    )
    url = urls.selectExpr(
        "'url' AS op", "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', COALESCE(url_host(u), '~'),"
        " COALESCE(url_domain(u), '~'), COALESCE(url_path(u), '~')) AS v",
    )
    return norm.unionByName(html).unionByName(js).unionByName(url)


def q_materialize_packs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainer-ready packing (llmops/chunking.py materialize_packs):
    documents become token-id sequences (token LENGTHS as ids — cheap,
    deterministic, oracle-replicable), md5-shard into 4 shards, pack at
    capacity 32 with boundary-crossing docs SPLIT across packs. Two
    arms: 'plain', and 'eod' (EOD id appended per doc + final-pack
    right-padding — n_tokens keeps the real count). Hashed per pack:
    doc count, token count, the md5 of the packed id stream, and the
    md5 of the span table — any placement error anywhere moves some
    pack's hash. All-string (op, k, v) frame."""
    from data_validation_engine_spark.llmops.chunking import (
        materialize_packs,
    )
    from data_validation_engine_spark.llmops.dedup import tokens_col

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.transform(
            tokens_col(F.col("text")), lambda t: F.length(t).cast("int")
        ).alias("ids"),
    )
    span_str = (
        "CONCAT_WS(',', TRANSFORM(doc_spans, s -> CONCAT_WS(':',"
        " CAST(s.id AS STRING), CAST(s.start AS STRING),"
        " CAST(s.len AS STRING))))"
    )
    ids_str = (
        "CONCAT_WS(',', TRANSFORM(input_ids, i -> CAST(i AS STRING)))"
    )
    plain = materialize_packs(
        docs, "doc_id", "ids", capacity=32, n_shards=4
    ).selectExpr(
        "'plain' AS op",
        "CONCAT_WS('|', CAST(shard AS STRING),"
        " CAST(pack_idx AS STRING)) AS k",
        "CONCAT_WS('|', CAST(n_docs AS STRING), CAST(n_tokens AS STRING),"
        f" md5({ids_str}), md5({span_str})) AS v",
    )
    eod = materialize_packs(
        docs, "doc_id", "ids", capacity=32, n_shards=4,
        pad_id=0, eod_id=99,
    ).selectExpr(
        "'eod' AS op",
        "CONCAT_WS('|', CAST(shard AS STRING),"
        " CAST(pack_idx AS STRING)) AS k",
        "CONCAT_WS('|', CAST(n_docs AS STRING), CAST(n_tokens AS STRING),"
        f" md5({ids_str}), md5({span_str})) AS v",
    )
    return plain.unionByName(eod)


def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle + shard export (scale.py
    write_training_shards): customers md5-sharded into 8 contiguous
    hash ranges, written partitioned, manifest read back from the
    EXPORT (so the hash attests the write-read round trip, the shard
    assignment, the in-shard hash order, and the DECIMAL(38,0)
    order-free checksum). n_files is part of the surface: one task per
    shard → one file per shard dir. All-string (op, k, v) frame."""
    import tempfile

    from data_validation_engine_spark.scale import write_training_shards

    dest = tempfile.mkdtemp(prefix="dve_shards_q_") + "/export"
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    manifest = write_training_shards(
        cust, dest, "c_custkey", n_shards=8
    )
    return manifest.selectExpr(
        "'manifest' AS op",
        "CAST(shard AS STRING) AS k",
        "CONCAT_WS('|', CAST(n_rows AS STRING), CAST(n_files AS STRING),"
        " min_hash, max_hash, CAST(checksum AS STRING)) AS v",
    )


def q_source_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source connectors, round-tripped: nation written to ORC
    through the entity sink path and read back via sources/orc.py
    ('orc'), and document texts written as individual files then read
    via sources/binary.py binaryFile (content length + md5 + path
    basename — the opaque-binary ingestion pattern multimodal columns
    ride) ('bin'). All-string (op, k, v) frame."""
    import tempfile
    from pathlib import Path

    from data_validation_engine_spark.sources.binary import read_binary_files
    from data_validation_engine_spark.sources.orc import read_orc

    root = Path(tempfile.mkdtemp(prefix="dve_srcfmt_q_"))
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    nation.write.mode("overwrite").orc(str(root / "nation_orc"))
    orc = read_orc(spark, str(root / "nation_orc")).selectExpr(
        "'orc' AS op", "CAST(n_nationkey AS STRING) AS k",
        "CONCAT_WS('|', n_name, CAST(n_regionkey AS STRING)) AS v",
    )
    bdir = root / "blobs"
    bdir.mkdir()
    for r in (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where("doc_id % 25 = 0")
        .select("doc_id", "text")
        .collect()
    ):
        (bdir / f"doc_{r['doc_id']:08d}.txt").write_bytes(
            r["text"].encode("utf-8")
        )
    blobs = read_binary_files(spark, str(bdir), glob="*.txt").selectExpr(
        "'bin' AS op",
        "regexp_extract(path, '([^/]+)$', 1) AS k",
        "CONCAT_WS('|', CAST(length AS STRING), md5(content)) AS v",
    )
    return orc.unionByName(blobs)


# --- batch-2 oracle twins ---

_DUCK_LM_NORM = "lower(regexp_replace(text, '\\s+', ' ', 'g'))"

_FEATURE_SCORES_SQL = f"""
    WITH base AS (
        SELECT doc_id, lang, n_chars::DOUBLE AS nc FROM documents
    ),
    mm_st AS (
        SELECT lang, min(nc) AS mn, max(nc) - min(nc) AS spread
        FROM base GROUP BY lang
    ),
    rb_st AS (
        SELECT lang, quantile_cont(nc, 0.5) AS med,
               quantile_cont(nc, 0.75) - quantile_cont(nc, 0.25) AS iqr
        FROM base GROUP BY lang
    ),
    auc_ps AS (
        SELECT lang, n_chars AS s, count(*) AS cnt,
               sum(doc_id % 2) AS pos
        FROM documents GROUP BY 1, 2
    ),
    auc_rk AS (
        SELECT lang, s, cnt, pos,
               COALESCE(sum(cnt) OVER (
                   PARTITION BY lang ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM auc_ps
    ),
    auc_g AS (
        SELECT lang, sum(pos) AS n_pos, sum(cnt - pos) AS n_neg,
               sum(pos * (2 * cum_before + cnt + 1)) AS r2
        FROM auc_rk GROUP BY lang
    ),
    lm_t AS (SELECT doc_id, {_DUCK_LM_NORM} AS t FROM documents),
    lm_model AS (
        SELECT gram, count(*) AS cnt
        FROM (
            SELECT unnest(list_transform(
                generate_series(1, length(t) - 2),
                i -> substring(t, i, 3))) AS gram
            FROM lm_t WHERE length(t) >= 3
        ) GROUP BY gram
    )
    SELECT 'mm' AS op, CAST(doc_id AS VARCHAR) AS k,
           CAST(NULL AS VARCHAR) AS v,
           CASE WHEN COALESCE(spread, 0) = 0 THEN 0.0
                ELSE (nc - mn) / spread END AS x
    FROM base JOIN mm_st USING (lang)
    UNION ALL
    SELECT 'rb', CAST(doc_id AS VARCHAR), CAST(NULL AS VARCHAR),
           CASE WHEN COALESCE(iqr, 0) = 0 THEN 0.0
                ELSE (nc - med) / iqr END
    FROM base JOIN rb_st USING (lang)
    UNION ALL
    SELECT 'auc', lang,
           CAST(n_pos AS VARCHAR) || '|' || CAST(n_neg AS VARCHAR),
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
               round((r2::DOUBLE - n_pos::DOUBLE * (n_pos + 1)::DOUBLE)
                     / 2.0 / (n_pos::DOUBLE * n_neg::DOUBLE), 6)
           END
    FROM auc_g
    UNION ALL
    SELECT 'lmg', 'g:' || gram,
           CAST(cnt AS VARCHAR) || '|' || CAST(rk AS VARCHAR),
           CAST(NULL AS DOUBLE)
    FROM (
        SELECT gram, cnt, row_number() OVER (
            ORDER BY cnt DESC, gram ASC) AS rk
        FROM lm_model
    ) WHERE rk <= 20
    UNION ALL
    SELECT 'lmd', CAST(doc_id AS VARCHAR) || '|doc',
           CAST(greatest(length(t) - 2, 0) AS VARCHAR) || '|true',
           CAST(NULL AS DOUBLE)
    FROM lm_t WHERE doc_id % 3 = 0
    UNION ALL
    SELECT 'lmd', CAST(doc_id AS VARCHAR) || '|gib',
           CAST(length(repeat(md5(CAST(doc_id AS VARCHAR)), 8)) - 2
                AS VARCHAR) || '|false',
           CAST(NULL AS DOUBLE)
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT 'cr', CAST(doc_id AS VARCHAR) || '|raw', 'false',
           CAST(NULL AS DOUBLE)
    FROM documents
    UNION ALL
    SELECT 'cr', CAST(doc_id AS VARCHAR) || '|rep', 'true',
           CAST(NULL AS DOUBLE)
    FROM documents WHERE doc_id % 5 = 0
"""

_DUCK_CHAT_EMPTY = "CAST([] AS STRUCT(role VARCHAR, content VARCHAR)[])"

_DUCK_CHAT_CONV = f"""
    SELECT doc_id,
        list_concat(list_concat(list_concat(
            [{{'role': 'system', 'content': 'Be concise.'}},
             {{'role': 'user', 'content': substring(text, 1, 80)}},
             {{'role': 'assistant', 'content': substring(text, 81, 100)}}],
            CASE WHEN doc_id % 3 = 0 THEN
                [{{'role': 'user', 'content': substring(text, 181, 60)}},
                 {{'role': 'assistant',
                   'content': substring(text, 241, 80)}}]
            ELSE {_DUCK_CHAT_EMPTY} END),
            CASE WHEN doc_id % 97 = 0 THEN
                [{{'role': 'user', 'content': ''}}]
            ELSE {_DUCK_CHAT_EMPTY} END),
            CASE WHEN doc_id % 89 = 0 THEN
                [{{'role': 'tool', 'content': 'lookup'}}]
            ELSE {_DUCK_CHAT_EMPTY} END) AS conv
    FROM documents
"""

_CHAT_PREP_SQL = f"""
    WITH convs AS ({_DUCK_CHAT_CONV}),
    turns AS (
        SELECT doc_id,
               unnest(list_transform(conv,
                      (t, ii) -> {{'i': ii - 1, 'role': t.role,
                                   'content': t.content}}),
                      recursive := true)
        FROM convs
    ),
    placed AS (
        SELECT doc_id, i, role, content,
               COALESCE(sum(5 + length(role) + length(content) + 8)
                        OVER (PARTITION BY doc_id ORDER BY i
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS off
        FROM turns
    ),
    spans AS (
        SELECT doc_id, i, role, content,
               off + length(role) + 5 AS st,
               off + length(role) + 5 + length(content) AS en
        FROM placed
    ),
    rendered AS (
        SELECT doc_id,
               string_agg('<|' || role || '|>' || chr(10) || content ||
                          '<|end|>' || chr(10), '' ORDER BY i) AS text
        FROM turns GROUP BY doc_id
    ),
    span_aggs AS (
        SELECT doc_id, count(*) AS n_turns,
               string_agg(CAST(i AS VARCHAR) || ':' || role || ':' ||
                          CAST(st AS VARCHAR) || ':' ||
                          CAST(en AS VARCHAR), ',' ORDER BY i)
                   AS spans_str,
               COALESCE(string_agg(
                   CASE WHEN role = 'assistant' THEN
                       CAST(i AS VARCHAR) || ':' || role || ':' ||
                       CAST(st AS VARCHAR) || ':' || CAST(en AS VARCHAR)
                   END, ',' ORDER BY i), '') AS mask_str,
               COALESCE(sum(CASE WHEN role = 'assistant'
                                 THEN en - st END), 0) AS n_mask
        FROM spans GROUP BY doc_id
    ),
    body AS (
        SELECT t.doc_id, t.role,
               t.i - CASE WHEN f.first_sys THEN 1 ELSE 0 END AS j
        FROM turns t JOIN (
            SELECT doc_id,
                   bool_or(i = 0 AND role = 'system') AS first_sys
            FROM turns GROUP BY doc_id
        ) f USING (doc_id)
        WHERE NOT (t.i = 0 AND f.first_sys)
    ),
    alt AS (
        SELECT doc_id,
               bool_and((j % 2 = 0 AND role = 'user')
                        OR (j % 2 = 1 AND role = 'assistant'))
               AND count(*) > 0 AND count(*) % 2 = 0 AS alternates
        FROM body GROUP BY doc_id
    ),
    toks0 AS (
        SELECT doc_id,
               CASE WHEN trimmed = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trimmed, '\\s+') END AS tk,
               regexp_extract_all(trimmed, '\\s+') AS seps
        FROM (
            SELECT doc_id,
                   regexp_replace(text, '^\\s+|\\s+$', '', 'g') AS trimmed
            FROM rendered
        )
    ),
    tokrows AS (
        SELECT doc_id, i, tok,
               CASE WHEN i <= len(seps) THEN length(seps[i])
                    ELSE 0 END AS seplen
        FROM (
            SELECT doc_id, seps,
                   unnest(list_transform(tk,
                          (x, ii) -> {{'i': ii, 'tok': x}}),
                          recursive := true)
            FROM toks0
        )
    ),
    placedt AS (
        SELECT doc_id, i, tok,
               COALESCE(sum(length(tok) + seplen) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS st
        FROM tokrows
    ),
    masked AS (
        SELECT p.doc_id, p.i, p.st, count(s.doc_id) > 0 AS hit
        FROM placedt p LEFT JOIN spans s
          ON s.doc_id = p.doc_id AND s.role = 'assistant'
         AND p.st < s.en AND p.st + length(p.tok) > s.st
        GROUP BY p.doc_id, p.i, p.st
    )
    SELECT 'render' AS op, CAST(r.doc_id AS VARCHAR) AS k,
           md5(r.text) || '|' || CAST(a.n_turns AS VARCHAR) || '|' ||
           md5(a.spans_str) || '|' || md5(a.mask_str) || '|' ||
           CAST(a.n_mask AS VARCHAR) AS v
    FROM rendered r JOIN span_aggs a USING (doc_id)
    UNION ALL
    SELECT 'stats', CAST(t.doc_id AS VARCHAR),
           CAST(count(*) AS VARCHAR) || '|' ||
           CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
                AS VARCHAR) || '|' ||
           CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
                AS VARCHAR) || '|' ||
           CAST(sum(CASE WHEN role = 'system' THEN 1 ELSE 0 END)
                AS VARCHAR) || '|' ||
           CAST(sum(length(content)) AS VARCHAR) || '|' ||
           CAST(bool_or(content = '' OR role = '') AS VARCHAR) || '|' ||
           CAST(bool_or(role NOT IN ('user', 'assistant', 'system'))
                AS VARCHAR) || '|' ||
           CAST(any_value(alternates) AS VARCHAR)
    FROM turns t JOIN alt USING (doc_id)
    GROUP BY t.doc_id
    UNION ALL
    SELECT 'mask', CAST(doc_id AS VARCHAR),
           CAST(count(*) AS VARCHAR) || '|' ||
           CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS VARCHAR) || '|' ||
           md5(string_agg(CASE WHEN hit THEN 'true' ELSE 'false' END,
                          ',' ORDER BY i)) || '|' ||
           md5(string_agg(CAST(st AS VARCHAR), ',' ORDER BY i))
    FROM masked GROUP BY doc_id
"""

# normalize_text twin: NFC via the builtin, tab/newline protected
# through private-use sentinels while Cc/Cf strip (RE2 lacks Java's
# class intersection), then the same lower/collapse cascade
_DUCK_NORM_INPUT = (
    "substring(text, 1, 40) || ' Cafe' || chr(769) || ' ' || chr(8203)"
    " || 'ZW' || chr(7) || 'BEL' || chr(13) || chr(10) || 'line'"
    " || chr(9) || chr(9) || 'TAB  ' || 'MIXED Case'"
)

_DUCK_HTML_INPUT = (
    "'<html><head><style>p {color: red}</style>"
    "<script type=''text/js''>var x = 1 < 2;</script></head>"
    "<body><h1>Title</h1><p>' || substring(text, 1, 80) ||"
    "' &amp; &lt;tag&gt;&nbsp;&quot;q&quot;</p>"
    "<!-- hidden --><div>second block</div></body></html>'"
)


def _duck_collapse(expr: str) -> str:
    out = f"regexp_replace({expr}, '[ \\t]+', ' ', 'g')"
    out = f"regexp_replace({out}, ' ?\\n ?', chr(10), 'g')"
    out = f"regexp_replace({out}, '\\n{{3,}}', chr(10) || chr(10), 'g')"
    return f"regexp_replace({out}, '^\\s+|\\s+$', '', 'g')"


def _duck_norm_pipeline() -> str:
    n = f"nfc_normalize({_DUCK_NORM_INPUT})"
    n = f"regexp_replace({n}, '\\r\\n|\\r', chr(10), 'g')"
    n = f"replace(replace({n}, chr(9), chr(57344)), chr(10), chr(57345))"
    n = f"regexp_replace({n}, '[\\p{{Cc}}\\p{{Cf}}]', '', 'g')"
    n = f"replace(replace({n}, chr(57345), chr(10)), chr(57344), chr(9))"
    n = f"lower({n})"
    return _duck_collapse(n)


def _duck_html_pipeline() -> str:
    n = _DUCK_HTML_INPUT
    for tag in ("script", "style", "noscript", "template"):
        n = (
            f"regexp_replace({n}, '(?is)<{tag}\\b.*?</{tag}\\s*>',"
            f" ' ', 'g')"
        )
    n = f"regexp_replace({n}, '(?s)<!--.*?-->', ' ', 'g')"
    block = (
        "p|div|br|li|ul|ol|h1|h2|h3|h4|h5|h6|tr|table|blockquote|pre|"
        "section|article|header|footer"
    )
    n = (
        f"regexp_replace({n}, '(?i)</?(?:{block})\\b[^>]*>',"
        f" chr(10), 'g')"
    )
    n = f"regexp_replace({n}, '(?s)<[^>]*>', ' ', 'g')"
    for ent, rep in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "''"), ("&apos;", "''"), ("&#x27;", "''"),
        ("&amp;", "&"),
    ):
        n = f"replace({n}, '{ent}', '{rep}')"
    return _duck_collapse(n)


_TEXT_NORMALIZE_SQL = f"""
    SELECT 'norm' AS op, CAST(doc_id AS VARCHAR) AS k,
           md5(t) || '|' || CAST(length(t) AS VARCHAR) AS v
    FROM (SELECT doc_id, {_duck_norm_pipeline()} AS t FROM documents)
    UNION ALL
    SELECT 'html', CAST(doc_id AS VARCHAR),
           md5(t) || '|' || CAST(length(t) AS VARCHAR)
    FROM (SELECT doc_id, {_duck_html_pipeline()} AS t FROM documents)
    UNION ALL
    SELECT 'json', CAST(doc_id AS VARCHAR),
           CASE WHEN doc_id % 17 = 0 THEN 'true|~|~'
                WHEN doc_id % 13 = 0 THEN 'false|~|~'
                ELSE 'true|https://ex.com/p/' || CAST(doc_id AS VARCHAR)
                     || '|' || CAST(doc_id % 7 AS VARCHAR) END
    FROM documents
    UNION ALL
    SELECT 'url', CAST(doc_id AS VARCHAR),
           CASE WHEN doc_id % 19 = 0 THEN '~|~|~'
                ELSE 'sub.example' || CAST(doc_id % 5 AS VARCHAR)
                     || '.com|example' || CAST(doc_id % 5 AS VARCHAR)
                     || '.com|/path/' || CAST(doc_id AS VARCHAR) END
    FROM documents
"""


def _duck_pack_arm(op: str, eod: bool) -> str:
    ids = (
        "list_transform(CASE WHEN COALESCE(regexp_replace(text, "
        r"'^\s+|\s+$', '', 'g'), '') = '' THEN "
        "CAST([] AS VARCHAR[]) ELSE string_split_regex("
        r"regexp_replace(text, '^\s+|\s+$', '', 'g'), "
        r"'\s+') END, t -> length(t))"
    )
    if eod:
        ids = f"list_concat({ids}, [99])"
        pad = " || repeat(',0', CAST(32 - n_tokens AS BIGINT))"
    else:
        pad = ""
    return f"""
    SELECT '{op}' AS op,
           CAST(shard AS VARCHAR) || '|' || CAST(pack_idx AS VARCHAR)
               AS k,
           CAST(n_docs AS VARCHAR) || '|' || CAST(n_tokens AS VARCHAR)
           || '|' || md5(ids_csv{pad}) || '|' || md5(spans_csv) AS v
    FROM (
        SELECT shard, pack_idx, count(*) AS n_docs,
               sum(len(piece)) AS n_tokens,
               string_agg(array_to_string(piece, ','), ','
                          ORDER BY local) AS ids_csv,
               string_agg(CAST(doc_id AS VARCHAR) || ':' ||
                          CAST(local AS VARCHAR) || ':' ||
                          CAST(len(piece) AS VARCHAR), ','
                          ORDER BY local) AS spans_csv
        FROM (
            SELECT doc_id, shard, pack_idx,
                   greatest(start, pack_idx * 32) - pack_idx * 32
                       AS local,
                   ids[(greatest(start, pack_idx * 32) - start + 1):
                       (least(start + n, (pack_idx + 1) * 32) - start)]
                       AS piece
            FROM (
                SELECT doc_id, ids, n, shard, start,
                       unnest(generate_series(CAST(start // 32 AS BIGINT),
                              CAST((start + n - 1) // 32 AS BIGINT)))
                       AS pack_idx
                FROM (
                    SELECT doc_id, ids, n, shard,
                           COALESCE(sum(n) OVER (
                               PARTITION BY shard ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS start
                    FROM (
                        SELECT doc_id, ids, len(ids) AS n,
                               CAST(('0x' || substring(
                                   md5(CAST(doc_id AS VARCHAR)), 1, 4)
                                   )::INT % 4 AS INT) AS shard
                        FROM (SELECT doc_id, {ids} AS ids
                              FROM documents)
                        WHERE len(ids) > 0
                    )
                )
            )
        )
        GROUP BY shard, pack_idx
    )
    """


_MATERIALIZE_PACKS_SQL = (
    _duck_pack_arm("plain", eod=False)
    + " UNION ALL "
    + _duck_pack_arm("eod", eod=True)
)

_TRAINING_SHARDS_SQL = """
    SELECT 'manifest' AS op, CAST(shard AS VARCHAR) AS k,
           CAST(count(*) AS VARCHAR) || '|1|' ||
           min(hash) || '|' || max(hash) || '|' ||
           CAST(sum(CAST(('0x' || substring(hash, 1, 15))::BIGINT
                    AS DECIMAL(38,0))) AS VARCHAR) AS v
    FROM (
        SELECT c_custkey, hash,
               CAST((('0x' || substring(hash, 1, 4))::BIGINT * 8)
                    // 65536 AS INT) AS shard
        FROM (
            SELECT c_custkey, md5(CAST(c_custkey AS VARCHAR)) AS hash
            FROM customer
        )
    ) GROUP BY shard
"""

_SOURCE_FORMATS_SQL = """
    SELECT 'orc' AS op, CAST(n_nationkey AS VARCHAR) AS k,
           n_name || '|' || CAST(n_regionkey AS VARCHAR) AS v
    FROM nation
    UNION ALL
    SELECT 'bin',
           'doc_' || lpad(CAST(doc_id AS VARCHAR), 8, '0') || '.txt',
           CAST(strlen(text) AS VARCHAR) || '|' || md5(text)
    FROM documents WHERE doc_id % 25 = 0
"""


# ---------------------------------------------------------------------------
# selection sketches, chunking, sampling and crawl-signal operators
# ---------------------------------------------------------------------------


def q_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership filter (llmops/sketch.py, Bloom 1970) with the
    md5-derived bit positions replayed exactly by the oracle:

    - 'w' — bloom_build word table over even-doc content hashes grouped
      by lang (every 11th doc's lang NULLed: NULL groups are real, same
      discipline as cms_sketch);
    - 'm' — bloom_merge of two halves == the direct filter (OR-
      mergeability);
    - 'q' — bloom_might_contain for every doc: even docs all TRUE
      (never a false negative); odd docs replay whatever the bit tests
      say — engine-exact, so even the false positives hash identically.

    63 bits per word keeps both engines in positive-long territory.
    All-string (op, k, v) frame."""
    from data_validation_engine_spark.llmops.sketch import (
        bloom_build,
        bloom_merge,
        bloom_might_contain,
    )

    docs = _docs(spark, sf_dir).selectExpr(
        "CASE WHEN doc_id % 11 = 0 THEN NULL ELSE lang END AS lang",
        "doc_id", "md5(text) AS h",
    )
    members = docs.where("doc_id % 2 = 0")
    kw = dict(group_cols=["lang"], m_bits=1024, k_hashes=3)
    bloom = bloom_build(members, "h", **kw)
    words = bloom.selectExpr(
        "'w' AS op",
        "CONCAT_WS('|', COALESCE(lang, '~'), CAST(word AS STRING)) AS k",
        "CAST(bits AS STRING) AS v",
    )
    merged = bloom_merge(
        bloom_build(members.where("doc_id % 4 = 0"), "h", **kw).unionByName(
            bloom_build(members.where("doc_id % 4 = 2"), "h", **kw)
        ),
        group_cols=["lang"],
    ).selectExpr(
        "'m' AS op",
        "CONCAT_WS('|', COALESCE(lang, '~'), CAST(word AS STRING)) AS k",
        "CAST(bits AS STRING) AS v",
    )
    mc = bloom_might_contain(bloom, docs, "h", **kw).select(
        F.col("lang").alias("__l"), F.col("h").alias("__h"),
        "might_contain",
    )
    probed = docs.join(
        mc,
        F.col("lang").eqNullSafe(F.col("__l"))
        & (F.col("h") == F.col("__h")),
    ).selectExpr(
        "'q' AS op",
        "CONCAT_WS('|', COALESCE(lang, '~'), CAST(doc_id AS STRING)) AS k",
        "CAST(might_contain AS STRING) AS v",
    )
    return words.unionByName(merged).unionByName(probed)


def _duck_bloom_words(src: str, m_bits: int = 1024, k: int = 3) -> str:
    """Word-table twin of llmops/sketch.bloom_build (seed=''): positions
    from md5('|bloomN|' || 'v:'||h), 63 bits per long word."""
    return f"""
        SELECT lang, CAST(pos // 63 AS INT) AS word,
               bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
        FROM (
            SELECT lang,
                   CAST(('0x' || substring(md5('|bloom' || rr.r || '|'
                        || 'v:' || h), 1, 15))::BIGINT % {m_bits}
                        AS BIGINT) AS pos
            FROM ({src}) s,
                 (SELECT unnest(generate_series(0, {k - 1})) AS r) rr
        ) GROUP BY 1, 2
    """


_BLOOM_SQL = f"""
    WITH cd AS (
        SELECT CASE WHEN doc_id % 11 = 0 THEN NULL ELSE lang END AS lang,
               doc_id, md5(text) AS h
        FROM documents
    ),
    built AS ({_duck_bloom_words("SELECT lang, h FROM cd WHERE doc_id % 2 = 0")}),
    probes AS (
        SELECT lang, doc_id,
               CAST(('0x' || substring(md5('|bloom' || rr.r || '|'
                    || 'v:' || h), 1, 15))::BIGINT % 1024 AS BIGINT) AS pos
        FROM cd, (SELECT unnest(generate_series(0, 2)) AS r) rr
    ),
    hits AS (
        SELECT p.lang, p.doc_id,
               bool_and(
                   (COALESCE(b.bits, 0) &
                    (1::BIGINT << CAST(p.pos % 63 AS INT))) <> 0
               ) AS might_contain
        FROM probes p LEFT JOIN built b
          ON (p.lang IS NOT DISTINCT FROM b.lang)
         AND CAST(p.pos // 63 AS INT) = b.word
        GROUP BY 1, 2
    )
    SELECT 'w' AS op,
           COALESCE(lang, '~') || '|' || CAST(word AS VARCHAR) AS k,
           CAST(bits AS VARCHAR) AS v
    FROM built
    UNION ALL
    SELECT 'm', COALESCE(lang, '~') || '|' || CAST(word AS VARCHAR),
           CAST(bits AS VARCHAR)
    FROM built
    UNION ALL
    SELECT 'q', COALESCE(lang, '~') || '|' || CAST(doc_id AS VARCHAR),
           CAST(might_contain AS VARCHAR)
    FROM hits
"""


def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR integer surfaces (llmops/dsir.py, Xie 2023): the ratio
    table's per-bucket counts over the full spine ('rt': target = the
    'en' docs, raw = all docs) and the per-doc feature extraction
    ('sc': n_feats + sum-of-bucket-ids checksum mod 1e9+7). The float
    log-ratios / log-weights / Gumbel draws are deliberately NOT hashed
    (ln is transcendental — same policy as LM perplexity, FLOATS.md);
    these integer surfaces pin the exact inputs every float derives
    from. All-string (op, k, v) frame."""
    from data_validation_engine_spark.llmops.dsir import (
        dsir_bucket_counts,
        dsir_log_ratio,
        dsir_score,
        ngram_buckets,
    )

    docs = _docs(spark, sf_dir)
    kw = dict(n_max=2, buckets=512)
    # One persisted feature frame feeds all four gram consumers (target
    # counts, raw counts, the 'sc' checksum, and the scoring pass) via
    # the features_col passthrough, and the ratio table is built once,
    # so every gram is hashed once — identical arrays in, identical rows
    # out.
    featd = docs.select(
        "doc_id", "lang", ngram_buckets(F.col("text"), **kw).alias("__f")
    ).persist()
    tc = dsir_bucket_counts(
        featd.where("lang = 'en'"), "text", **kw, features_col="__f"
    )
    rc = dsir_bucket_counts(featd, "text", **kw, features_col="__f")
    ratio = dsir_log_ratio(tc, rc, buckets=512)
    rt = ratio.selectExpr(
        "'rt' AS op", "CAST(bucket AS STRING) AS k",
        "CONCAT_WS('|', CAST(n_target AS STRING),"
        " CAST(n_raw AS STRING)) AS v",
    )
    feats = featd.selectExpr(
        "'sc' AS op", "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', CAST(size(__f) AS STRING), CAST(aggregate(__f,"
        " 0L, (a, x) -> (a + x) % 1000000007) AS STRING)) AS v",
    )
    # n_feats through the real scoring path must agree with size(__f)
    sc2 = dsir_score(
        featd, "text", ratio,
        key_cols=["doc_id"], **kw, features_col="__f",
    ).selectExpr(
        "'nf' AS op", "CAST(doc_id AS STRING) AS k",
        "CAST(n_feats AS STRING) AS v",
    )
    return rt.unionByName(feats).unionByName(sc2)


_DUCK_DSIR_FEATS = r"""
        SELECT doc_id,
               list_concat(
                   list_transform(toks, t ->
                       ('0x' || substring(md5('|dsir1|' || t), 1, 15))
                           ::BIGINT % 512),
                   list_transform(
                       range(2, len(toks) + 1), i ->
                       ('0x' || substring(md5('|dsir2|' || toks[i-1] ||
                            ' ' || toks[i]), 1, 15))::BIGINT % 512)
               ) AS f
        FROM (
            SELECT doc_id,
                   CASE WHEN COALESCE(regexp_replace(text, '^\s+|\s+$', '', 'g'), '') = ''
                        THEN CAST([] AS VARCHAR[])
                        ELSE string_split_regex(
                            regexp_replace(lower(text),
                                '^\s+|\s+$', '', 'g'), '\s+')
                   END AS toks
            FROM documents
        )
"""

_DSIR_SQL = f"""
    WITH feats AS ({_DUCK_DSIR_FEATS}),
    exploded AS (
        SELECT doc_id, unnest(f) AS bucket FROM feats
    ),
    spine AS (SELECT unnest(range(0, 512)) AS bucket),
    tc AS (
        SELECT bucket, count(*) AS n FROM exploded e
        JOIN documents d USING (doc_id) WHERE d.lang = 'en'
        GROUP BY 1
    ),
    rc AS (SELECT bucket, count(*) AS n FROM exploded GROUP BY 1)
    SELECT 'rt' AS op, CAST(s.bucket AS VARCHAR) AS k,
           CAST(COALESCE(tc.n, 0) AS VARCHAR) || '|' ||
           CAST(COALESCE(rc.n, 0) AS VARCHAR) AS v
    FROM spine s LEFT JOIN tc ON s.bucket = tc.bucket
    LEFT JOIN rc ON s.bucket = rc.bucket
    UNION ALL
    SELECT 'sc', CAST(doc_id AS VARCHAR),
           CAST(len(f) AS VARCHAR) || '|' ||
           CAST(list_reduce(list_prepend(0::BIGINT, f),
                (a, x) -> (a + x) % 1000000007) AS VARCHAR)
    FROM feats
    UNION ALL
    SELECT 'nf', CAST(doc_id AS VARCHAR), CAST(len(f) AS VARCHAR)
    FROM feats
"""


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (llmops/chunking.py chunk_by_content,
    LBFS/FastCDC): the full chunk table at target=32/gram=4 — chunk
    index, md5 of the chunk text, and the token count. The oracle
    replays the rolling-hash candidate test AND the min/max boundary
    fold with DuckDB's list_reduce, so the boundary positions are
    proven engine-exact, not just plausible. All-string (op, k, v)."""
    from data_validation_engine_spark.llmops.chunking import (
        chunk_by_content,
    )

    docs = _docs(spark, sf_dir)
    return chunk_by_content(
        docs, "doc_id", "text", target_tokens=32, gram=4
    ).selectExpr(
        "'c' AS op",
        "CONCAT_WS('|', CAST(doc_id AS STRING),"
        " CAST(chunk_idx AS STRING)) AS k",
        "CONCAT_WS('|', md5(chunk_text),"
        " CAST(n_chunk_tokens AS STRING)) AS v",
    )


_CDC_CHUNKS_SQL = r"""
    WITH RECURSIVE toked AS (
        SELECT doc_id,
               CASE WHEN COALESCE(regexp_replace(text, '^\s+|\s+$', '', 'g'), '') = ''
                    THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(
                        regexp_replace(text, '^\s+|\s+$', '', 'g'),
                        '\s+')
               END AS toks
        FROM documents
    ),
    -- candidate boundary positions (the rolling-hash divisor test);
    -- the min/max boundary walk is a recursion, NOT list_reduce:
    -- DuckDB 1.0's list_reduce silently collapses growing-list
    -- accumulators past one lambda vector (~2k elements total)
    wc AS (
        SELECT doc_id, len(toks) AS n,
               list_filter(
                   list_transform(range(1, len(toks) + 1), i ->
                       CASE WHEN ('0x' || substring(md5('|cdc|' ||
                            array_to_string(
                                toks[greatest(i - 3, 1):i], ' ')),
                            1, 15))::BIGINT % 32 = 0
                       THEN CAST(i AS INT) ELSE NULL END),
                   x -> x IS NOT NULL
               ) AS cps
        FROM toked WHERE len(toks) > 0
    ),
    -- next cut has a closed form: min(last + max_tokens, first
    -- candidate >= last + min_tokens), clamped to n
    cuts AS (
        SELECT doc_id, n, cps, 0 AS cut
        FROM wc
        UNION ALL
        SELECT doc_id, n, cps,
               CASE WHEN nxt >= n THEN n ELSE nxt END
        FROM (
            SELECT doc_id, n, cps, cut,
                   LEAST(cut + 128,
                         COALESCE(list_min(list_filter(
                             cps, p -> p >= cut + 8)), cut + 128)) AS nxt
            FROM cuts WHERE cut < n
        )
    ),
    ordered AS (
        SELECT doc_id, cut,
               lag(cut) OVER (PARTITION BY doc_id ORDER BY cut) AS prev,
               row_number() OVER (PARTITION BY doc_id ORDER BY cut) - 2
                   AS chunk_idx
        FROM cuts
    )
    SELECT 'c' AS op,
           CAST(o.doc_id AS VARCHAR) || '|' ||
           CAST(o.chunk_idx AS VARCHAR) AS k,
           md5(array_to_string(t.toks[o.prev + 1:o.cut], ' '))
               || '|' || CAST(o.cut - o.prev AS VARCHAR) AS v
    FROM ordered o JOIN toked t USING (doc_id)
    WHERE o.prev IS NOT NULL
"""


def q_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-aware greedy chunking (llmops/chunking.py
    chunk_by_sentences): the full chunk table at max_tokens=20 — chunk
    text hash, own-sentence count, own-token count. The oracle reuses
    the attested sentence-boundary SQL (_SENT_SPLIT_SQL, green on the
    paragraph_dedup row) and replays the greedy packing with a
    recursive CTE over prefix sums (closed form: a chunk extends to the
    last sentence keeping its cumulative tokens <= max, minimum one —
    oversized sentences stay whole and loud). overlap_sentences stays
    pytest-pinned (tests/test_round10_ops.py). All-string (op, k, v)."""
    from data_validation_engine_spark.llmops.chunking import (
        chunk_by_sentences,
    )

    # the synthetic documents have no sentence punctuation — derive a
    # sentenced corpus (both twins: '. Hello ' after every 5th word, a
    # capitalized follower so the boundary regex fires) so the greedy
    # packing actually splits; ~6-token sentences vs max_tokens=20
    # yields multi-chunk docs with varied fills
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        r"regexp_replace(text, '(\\w+ \\w+ \\w+ \\w+ \\w+) ',"
        r" '$1. Hello ') AS text",
    )
    return chunk_by_sentences(
        docs, "doc_id", "text", max_tokens=20
    ).selectExpr(
        "'sc' AS op",
        "CONCAT_WS('|', CAST(doc_id AS STRING),"
        " CAST(chunk_idx AS STRING)) AS k",
        "CONCAT_WS('|', md5(text), CAST(n_sentences AS STRING),"
        " CAST(n_tokens AS STRING)) AS v",
    )


_SENTENCED_SENT_SPLIT_SQL = _SENT_SPLIT_SQL.replace(
    "FROM documents",
    r"""FROM (SELECT doc_id, regexp_replace(text,
        '(\w+ \w+ \w+ \w+ \w+) ', '\1. Hello ', 'g') AS text
        FROM documents)""",
)

_SENTENCE_CHUNKS_SQL = f"""
    WITH RECURSIVE split AS ({_SENTENCED_SENT_SPLIT_SQL}),
    base AS (
        SELECT doc_id,
               list_filter(list_transform(sents, x -> trim(x)),
                           s -> length(s) >= 1) AS sents
        FROM split
    ),
    tok AS (
        SELECT doc_id, sents, len(sents) AS n,
               list_transform(sents,
                   s -> len(string_split_regex(s, '\\s+'))) AS tc
        FROM base WHERE len(sents) > 0
    ),
    -- P[k] (1-based) = tokens in the first k-1 sentences, so the run
    -- [s..j] holds P[j+1] - P[s] tokens
    pre AS (
        SELECT doc_id, sents, n,
               list_transform(range(0, n + 1),
                   i -> COALESCE(list_sum(tc[1:i]), 0)) AS P
        FROM tok
    ),
    packed AS (
        SELECT doc_id, n, P, sents, 1 AS s, 0 AS ci,
               GREATEST(1, COALESCE(list_max(list_filter(
                   range(1, n + 1),
                   k -> P[CAST(k AS INT) + 1] - P[2 - 1] <= 20)), 1))
                   AS j
        FROM pre
        UNION ALL
        SELECT doc_id, n, P, sents, j + 1, ci + 1,
               GREATEST(j + 1, COALESCE(list_max(list_filter(
                   range(j + 1, n + 1),
                   k -> P[CAST(k AS INT) + 1] - P[CAST(j AS INT) + 1]
                        <= 20)), j + 1))
        FROM packed WHERE j < n
    )
    SELECT 'sc' AS op,
           CAST(doc_id AS VARCHAR) || '|' || CAST(ci AS VARCHAR) AS k,
           md5(array_to_string(sents[s:CAST(j AS INT)], ' ')) || '|' ||
           CAST(j - s + 1 AS VARCHAR) || '|' ||
           CAST(P[CAST(j AS INT) + 1] - P[s] AS VARCHAR) AS v
    FROM packed
"""


def q_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus curation (llmops/split.py
    select_token_budget): keep the highest-quality docs per lang until
    the cumulative token budget is crossed. 'abs' — absolute 2000-token
    budget per lang, audit mode (every doc + its keep flag); 'frac' —
    half of each lang's total tokens (0.5 is a power of two, so the
    floor(total*frac) budget is float-exact). Score = n_chars,
    tiebreak = doc_id (full determinism). All-string (op, k, v)."""
    from data_validation_engine_spark.llmops.dedup import tokens_col
    from data_validation_engine_spark.llmops.split import (
        select_token_budget,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang", "n_chars",
        F.size(tokens_col(F.col("text"))).alias("n_tokens"),
    )
    absolute = select_token_budget(
        docs, "n_chars", "n_tokens",
        group_cols=["lang"], budget_tokens=2000,
        tiebreak_col="doc_id", keep_col="keep",
    ).selectExpr(
        "'abs' AS op", "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', lang, CAST(keep AS STRING)) AS v",
    )
    frac = select_token_budget(
        docs, "n_chars", "n_tokens",
        group_cols=["lang"], budget_frac=0.5,
        tiebreak_col="doc_id", keep_col="keep",
    ).selectExpr(
        "'frac' AS op", "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', lang, CAST(keep AS STRING)) AS v",
    )
    return absolute.unionByName(frac)


_CURATION_SQL = r"""
    WITH toks AS (
        SELECT doc_id, lang, n_chars,
               CASE WHEN COALESCE(regexp_replace(text, '^\s+|\s+$', '', 'g'), '') = '' THEN 0
                    ELSE len(string_split_regex(
                        regexp_replace(text, '^\s+|\s+$', '', 'g'),
                        '\s+'))
               END AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, lang, n_tokens,
               COALESCE(sum(n_tokens) OVER (
                   PARTITION BY lang ORDER BY n_chars DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS before,
               sum(n_tokens) OVER (PARTITION BY lang) AS total
        FROM toks
    )
    SELECT 'abs' AS op, CAST(doc_id AS VARCHAR) AS k,
           lang || '|' || CAST(before < 2000 AS VARCHAR) AS v
    FROM ranked
    UNION ALL
    SELECT 'frac', CAST(doc_id AS VARCHAR),
           lang || '|' ||
           CAST(before < CAST(floor(total * 0.5) AS BIGINT) AS VARCHAR)
    FROM ranked
"""


def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode writing-system profiling (llmops/text.py script_profile)
    over a derived mixed-script corpus (the synthetic documents are
    ASCII-Latin, so both twins append the same Han/Cyrillic/Arabic
    tails to deterministic doc subsets, giving real non-Latin and
    mixed-script rows): per-class letter counts, total letters, and
    the dominant-script label with its first-listed tie break.
    Java \\p{IsXxx} and RE2 \\p{Xxx} are the same Unicode script
    property — the row proves the count parity. All-string (op,k,v)."""
    from data_validation_engine_spark.llmops.text import script_profile

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        "text || CASE WHEN doc_id % 3 = 0"
        " THEN ' 中文文本处理' ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0"
        " THEN ' русский' ELSE '' END"
        " || CASE WHEN doc_id % 7 = 0"
        " THEN ' مرحبا' ELSE '' END AS text",
    )
    return script_profile(docs, "text").selectExpr(
        "'p' AS op", "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', CAST(script_latin AS STRING),"
        " CAST(script_han AS STRING), CAST(script_cyrillic AS STRING),"
        " CAST(script_arabic AS STRING), CAST(script_letters AS STRING),"
        " dominant_script) AS v",
    )


_SCRIPT_PROFILE_SQL = """
    WITH sp AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 3 = 0
                   THEN ' 中文文本处理'
                   ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                   THEN ' русский'
                   ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                   THEN ' مرحبا'
                   ELSE '' END AS text
        FROM documents
    ),
    counts AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '\\p{Latin}')) AS latin,
               len(regexp_extract_all(text, '\\p{Han}')) AS han,
               len(regexp_extract_all(text, '\\p{Cyrillic}')) AS cyr,
               len(regexp_extract_all(text, '\\p{Arabic}')) AS arab,
               len(regexp_extract_all(text, '\\p{Greek}')) AS greek,
               len(regexp_extract_all(text, '\\p{Hebrew}')) AS hebrew,
               len(regexp_extract_all(text, '\\p{Devanagari}')) AS deva,
               len(regexp_extract_all(text, '\\p{Hangul}')) AS hangul,
               len(regexp_extract_all(text,
                   '[\\p{Hiragana}\\p{Katakana}]')) AS kana,
               len(regexp_extract_all(text, '\\p{L}')) AS n_letters
        FROM sp
    )
    SELECT 'p' AS op, CAST(doc_id AS VARCHAR) AS k,
           CAST(latin AS VARCHAR) || '|' || CAST(han AS VARCHAR) || '|'
           || CAST(cyr AS VARCHAR) || '|' || CAST(arab AS VARCHAR) ||
           '|' || CAST(n_letters AS VARCHAR) || '|' ||
           CASE WHEN n_letters = 0 OR greatest(latin, cyr, han,
                         arab, deva, hangul, kana, greek, hebrew) = 0
                THEN 'none'
                ELSE (SELECT cls FROM (
                    SELECT unnest(['latin','cyrillic','han','arabic',
                                   'devanagari','hangul','kana',
                                   'greek','hebrew']) AS cls,
                           unnest([latin, cyr, han, arab, deva,
                                   hangul, kana, greek, hebrew]) AS n)
                    ORDER BY n DESC,
                        CASE cls WHEN 'latin' THEN 0
                            WHEN 'cyrillic' THEN 1 WHEN 'han' THEN 2
                            WHEN 'arabic' THEN 3
                            WHEN 'devanagari' THEN 4
                            WHEN 'hangul' THEN 5 WHEN 'kana' THEN 6
                            WHEN 'greek' THEN 7 ELSE 8 END
                    LIMIT 1)
           END AS v
    FROM counts
"""


def q_stream_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming_paragraph_frequency (streaming/cardinality.py): the
    continuous-boilerplate twin of the attested batch paragraph
    frequencies, drained with availableNow over the events table (the
    documents table has no event time). Each event contributes a
    two-paragraph text — its event_type line plus a shared boilerplate
    footer — so per-window counts exercise both the exploding footer
    hash and the per-type lines. The oracle replays the tumbling
    window + watermark cutoff in SQL exactly as the green cms_sketch
    'stream' tag does. All-string (op, k, v) frame."""
    import tempfile

    from data_validation_engine_spark.streaming.cardinality import (
        streaming_paragraph_frequency,
    )

    sdf = _events_stream(spark, sf_dir).selectExpr(
        "ts",
        "CONCAT(event_type, ' line\\n', 'subscribe to the footer') "
        "AS text",
    )
    out = tempfile.mkdtemp(prefix="dve_spara_q_")
    with _state_partitions(spark):
        sq = _drain(
            streaming_paragraph_frequency(
                sdf, "ts", "text",
                window_seconds=86400, watermark="2 hours",
            ),
            f"{out}/data",
        )
    sq.awaitTermination()
    return spark.read.parquet(f"{out}/data").selectExpr(
        "'w' AS op",
        "CONCAT_WS('|', CAST(window_start AS STRING), h) AS k",
        "CONCAT_WS('|', md5(para), CAST(n_occ AS STRING)) AS v",
    )


_STREAM_PARAGRAPHS_SQL = """
    WITH ev AS (
        SELECT ts,
               event_type || ' line' || chr(10) ||
               'subscribe to the footer' AS text
        FROM events
    ),
    paras AS (
        SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS win,
               ts, para
        FROM (
            SELECT ts, unnest(string_split(text, chr(10))) AS para
            FROM ev
        ) WHERE length(trim(para)) >= 1
    ),
    counted AS (
        SELECT win,
               md5(lower(regexp_replace(trim(para), '\\s+', ' ', 'g')))
                   AS h,
               min(para) AS para, count(*) AS n_occ
        FROM paras, (SELECT max(ts) AS mx FROM events) m
        WHERE date_trunc('day', ts) + INTERVAL 1 DAY
              <= m.mx - INTERVAL 2 HOUR
        GROUP BY 1, 2
    )
    SELECT 'w' AS op,
           CAST(win AS VARCHAR) || '|' || h AS k,
           md5(para) || '|' || CAST(n_occ AS VARCHAR) AS v
    FROM counted
"""


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion (llmops/fusion.py, Cormack 2009): fuse
    two per-lang rankings of the documents table — by n_chars and by
    the md5 of the text (both engine-exact orderings; float-scored
    rankers like BM25 ride the pytest E2E instead, per the FLOATS.md
    rank-from-float policy) — then cut to each lang's top 10. The
    integer DIV contribution makes the fused scores themselves
    hashable, not just the ranking. All-string (op, k, v) frame."""
    from data_validation_engine_spark.llmops.fusion import (
        rank_by_score,
        rrf_fuse,
    )

    docs = _docs(spark, sf_dir).select(
        "lang", F.col("doc_id"), "n_chars", F.md5("text").alias("h")
    )
    by_len = rank_by_score(
        docs, "n_chars", query_cols=["lang"], doc_col="doc_id"
    )
    by_hash = rank_by_score(
        docs, "h", query_cols=["lang"], doc_col="doc_id"
    )
    fused = rrf_fuse(
        [by_len, by_hash], query_cols=["lang"], doc_col="doc_id",
        top_n=10,
    )
    return fused.selectExpr(
        "'f' AS op",
        "CONCAT_WS('|', lang, CAST(doc_id AS STRING)) AS k",
        "CONCAT_WS('|', CAST(n_lists AS STRING),"
        " CAST(best_rank AS STRING), CAST(rrf_score AS STRING)) AS v",
    )


_RRF_FUSION_SQL = """
    WITH d AS (
        SELECT lang, doc_id, n_chars, md5(text) AS h FROM documents
    ),
    ranked AS (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang
                   ORDER BY n_chars DESC, doc_id) AS rank
        FROM d
        UNION ALL
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang
                   ORDER BY h DESC, doc_id) AS rank
        FROM d
    ),
    fused AS (
        SELECT lang, doc_id, count(*) AS n_lists, min(rank) AS best_rank,
               sum(1000000000000 // (60 + rank)) AS rrf_score
        FROM ranked GROUP BY lang, doc_id
    ),
    cut AS (
        SELECT lang, doc_id, n_lists, best_rank, rrf_score,
               row_number() OVER (PARTITION BY lang
                   ORDER BY rrf_score DESC, doc_id) AS rn
        FROM fused
    )
    SELECT 'f' AS op,
           lang || '|' || CAST(doc_id AS VARCHAR) AS k,
           CAST(n_lists AS VARCHAR) || '|' ||
           CAST(best_rank AS VARCHAR) || '|' ||
           CAST(rrf_score AS VARCHAR) AS v
    FROM cut WHERE rn <= 10
"""


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling (llmops/split.py
    negative_samples): every even-doc anchor draws 3 negatives from the
    full documents pool by md5-rank indexing. The oracle replays the
    global md5-order ranks (proving the distributed two-phase bucketed
    rank equals a global sort) and the per-draw target arithmetic.
    'd' rows keep self-hits visible (exclude_self=False) so the
    row-count is exact; 'x' rows attest the exclude_self gap set.
    All-string (op, k, v) frame."""
    from data_validation_engine_spark.llmops.split import negative_samples

    docs = _docs(spark, sf_dir)
    anchors = docs.where("doc_id % 2 = 0").select(
        F.col("doc_id").alias("aid")
    )
    pool = docs.select("doc_id", "lang")
    draws = negative_samples(
        anchors, pool, "aid", "doc_id", k=3,
        exclude_self=False, pool_cols=["lang"],
    ).selectExpr(
        "'d' AS op",
        "CONCAT_WS('|', CAST(aid AS STRING),"
        " CAST(neg_idx AS STRING)) AS k",
        "CONCAT_WS('|', CAST(neg_doc_id AS STRING), lang) AS v",
    )
    gaps = negative_samples(
        anchors, pool, "aid", "doc_id", k=3, exclude_self=True
    ).selectExpr(
        "'x' AS op",
        "CONCAT_WS('|', CAST(aid AS STRING),"
        " CAST(neg_idx AS STRING)) AS k",
        "CAST(neg_doc_id AS STRING) AS v",
    )
    return draws.unionByName(gaps)


_NEGATIVE_SAMPLES_SQL = """
    WITH ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (ORDER BY
                   md5('|negpool|' || CAST(doc_id AS VARCHAR)),
                   doc_id) - 1 AS rk,
               count(*) OVER () AS pool_n
        FROM documents
    ),
    probes AS (
        SELECT d.doc_id AS aid, j.neg_idx,
               CAST(('0x' || substring(md5('|neg|' ||
                    CAST(d.doc_id AS VARCHAR) || '|' ||
                    CAST(j.neg_idx AS VARCHAR)), 1, 15))::BIGINT
                    % (SELECT max(pool_n) FROM ranked) AS BIGINT)
                   AS target
        FROM documents d,
             (SELECT unnest([0, 1, 2]) AS neg_idx) j
        WHERE d.doc_id % 2 = 0
    ),
    drawn AS (
        SELECT p.aid, p.neg_idx, r.doc_id AS neg, r.lang
        FROM probes p JOIN ranked r ON p.target = r.rk
    )
    SELECT 'd' AS op,
           CAST(aid AS VARCHAR) || '|' || CAST(neg_idx AS VARCHAR) AS k,
           CAST(neg AS VARCHAR) || '|' || lang AS v
    FROM drawn
    UNION ALL
    SELECT 'x',
           CAST(aid AS VARCHAR) || '|' || CAST(neg_idx AS VARCHAR),
           CAST(neg AS VARCHAR)
    FROM drawn WHERE aid <> neg
"""


def _q_hh_tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters with the CMS pre-screen (llmops/sketch.py
    heavy_hitters): frequent word tokens over the documents corpus
    ('tok', min 100 occurrences). The oracle is the NAIVE exact
    group-by — the operator's guarantee is bit-identical output to it,
    so a green hash proves the never-undercount screen dropped no true
    heavy hitter and the final cut removed every overcount leak. The
    'src' surface of the same oracle is :func:`_q_hh_src`."""
    from data_validation_engine_spark.llmops.dedup import tokens_col
    from data_validation_engine_spark.llmops.sketch import heavy_hitters

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(tokens_col(F.lower(F.col("text")))).alias("tok")
    )
    return heavy_hitters(toks, "tok", 100, width=512).selectExpr(
        "'tok' AS op", "tok AS k", "CAST(n AS STRING) AS v"
    )


def _q_hh_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters 'src': char-weighted frequent sources (min 5000
    chars), the second surface of :func:`_q_hh_tok`'s oracle."""
    from data_validation_engine_spark.llmops.sketch import heavy_hitters

    docs = _docs(spark, sf_dir)
    return heavy_hitters(
        docs, "source", 5000, weight_col="n_chars", width=256
    ).selectExpr(
        "'src' AS op", "source AS k", "CAST(n AS STRING) AS v"
    )


_HEAVY_HITTERS_SQL = r"""
    WITH toks AS (
        SELECT unnest(string_split_regex(
            regexp_replace(lower(text), '^\s+|\s+$', '', 'g'),
            '\s+')) AS tok
        FROM documents WHERE COALESCE(regexp_replace(text, '^\s+|\s+$', '', 'g'), '') <> ''
    )
    SELECT 'tok' AS op, tok AS k, CAST(count(*) AS VARCHAR) AS v
    FROM toks GROUP BY tok HAVING count(*) >= 100
    UNION ALL
    SELECT 'src', source, CAST(sum(n_chars) AS VARCHAR)
    FROM documents GROUP BY source HAVING sum(n_chars) >= 5000
"""


def q_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-scheduled source interleaving (llmops/split.py
    interleave_sources): the full order column over documents mixed
    2:1:1:1:1 by lang. Integer virtual times over the md5
    within-source rank — the oracle replays both (proving the
    two-phase bucketed rank equals a per-source global md5 sort, and
    the stride arithmetic to the long). All-string (op, k, v)."""
    from data_validation_engine_spark.llmops.split import (
        interleave_sources,
    )

    docs = _docs(spark, sf_dir)
    weights = {"en": 2.0, "de": 1.0, "fr": 1.0, "es": 1.0, "zh": 1.0}
    out = interleave_sources(docs, "lang", weights, "doc_id")
    return out.selectExpr(
        "'o' AS op", "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', lang, CAST(interleave_order AS STRING)) AS v",
    )


_INTERLEAVE_SQL = """
    WITH ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang ORDER BY
                   md5('|interleave|' || CAST(doc_id AS VARCHAR)),
                   doc_id) - 1 AS rk
        FROM documents
    )
    SELECT 'o' AS op, CAST(doc_id AS VARCHAR) AS k,
           lang || '|' || CAST(
               (rk + 1) * CAST(CASE lang
                   WHEN 'en' THEN (1048576 * 6.0) / 2.0
                   ELSE (1048576 * 6.0) / 1.0 END AS BIGINT)
               AS VARCHAR) AS v
    FROM ranked
"""


def q_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots Exclusion Protocol (llmops/robots.py, RFC 9309) — both
    twins derive the same robots corpus (one body per source with
    '*'-group rules plus a 'trainbot' group on every 2nd host) and the
    same URL table (one per doc under its source host), then:

    - 'r' — the parsed rule table (group structure, pattern compile);
    - 'd' / 'dt' — robots_allowed decisions for 'anybot' (falls to the
      '*' group) and 'trainbot' (exact group preempts where present):
      longest-pattern-wins, allow on ties, absent rules allow.

    The DuckDB twin replays group assignment with window functions
    (running count of group-opening User-agent lines) — robots bodies
    are the one fold small enough that windows, not recursion, replay
    it. All-string (op, k, v) frame."""
    from data_validation_engine_spark.llmops.robots import (
        parse_robots,
        robots_allowed,
    )

    docs = _docs(spark, sf_dir)
    robots = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("__n")
    ).selectExpr(
        "source AS host",
        "CONCAT("
        " 'User-agent: *', CHAR(10),"
        " 'Disallow: /private/', CHAR(10),"
        " 'Allow: /private/open-', source, '.html', CHAR(10),"
        " 'Disallow: /*.tmp$', CHAR(10),"
        " CASE WHEN length(source) % 2 = 0 THEN CONCAT("
        "   CHAR(10), 'User-agent: trainbot', CHAR(10),"
        "   'Disallow: /no-train/') ELSE '' END"
        ") AS body",
    )
    rules = parse_robots(robots, "host", "body")
    r_rows = rules.selectExpr(
        "'r' AS op",
        "CONCAT_WS('|', host, agent, directive, pattern) AS k",
        "CONCAT_WS('|', match_regex, CAST(pattern_len AS STRING)) AS v",
    )
    urls = docs.selectExpr(
        "doc_id",
        "CONCAT('http://', source,"
        " CASE CAST(doc_id % 5 AS INT)"
        "  WHEN 0 THEN '/private/doc.html'"
        "  WHEN 1 THEN CONCAT('/private/open-', source, '.html')"
        "  WHEN 2 THEN '/cache/file.tmp'"
        "  WHEN 3 THEN '/no-train/doc'"
        "  ELSE '/public/doc' END) AS url",
    )
    dec = robots_allowed(urls, rules, "url", agent="anybot").selectExpr(
        "'d' AS op", "CAST(doc_id AS STRING) AS k",
        "CAST(robots_allowed AS STRING) AS v",
    )
    dec_t = robots_allowed(urls, rules, "url", agent="trainbot").selectExpr(
        "'dt' AS op", "CAST(doc_id AS STRING) AS k",
        "CAST(robots_allowed AS STRING) AS v",
    )
    return r_rows.unionByName(dec).unionByName(dec_t)


_ROBOTS_SQL = r"""
    WITH hosts AS (SELECT DISTINCT source AS host FROM documents),
    bodies AS (
        SELECT host,
               'User-agent: *' || chr(10) ||
               'Disallow: /private/' || chr(10) ||
               'Allow: /private/open-' || host || '.html' || chr(10) ||
               'Disallow: /*.tmp$' || chr(10) ||
               CASE WHEN length(host) % 2 = 0 THEN
                   chr(10) || 'User-agent: trainbot' || chr(10) ||
                   'Disallow: /no-train/'
               ELSE '' END AS body
        FROM hosts
    ),
    lines AS (
        SELECT host, ln, trim(regexp_replace(l, '#.*$', '')) AS l
        FROM (
            SELECT host,
                   unnest(list_transform(
                       string_split(replace(body, chr(13), ''), chr(10)),
                       (x, i) -> {'ln': i, 'l': x}), recursive := true)
            FROM bodies
        )
    ),
    tagged AS (
        SELECT host, ln, l,
               regexp_matches(lower(l), '^user-agent\s*:') AS is_agent,
               COALESCE(lag(regexp_matches(lower(l), '^user-agent\s*:'))
                   OVER (PARTITION BY host ORDER BY ln), FALSE)
                   AS prev_is_agent
        FROM lines
    ),
    grouped AS (
        SELECT host, ln, l, is_agent,
               sum(CASE WHEN is_agent AND NOT prev_is_agent
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY host ORDER BY ln) AS gid
        FROM tagged
    ),
    agents AS (
        SELECT host, gid,
               lower(trim(regexp_extract(l, '(?i)^user-agent\s*:(.*)$', 1)))
                   AS agent
        FROM grouped WHERE is_agent
    ),
    rul AS (
        SELECT host, gid,
               lower(regexp_extract(l, '(?i)^(allow|disallow)\s*:', 1))
                   AS directive,
               trim(regexp_extract(l, '(?i)^(?:allow|disallow)\s*:(.*)$', 1))
                   AS pattern
        FROM grouped
        WHERE regexp_matches(lower(l), '^(allow|disallow)\s*:')
          AND trim(regexp_extract(l, '(?i)^(?:allow|disallow)\s*:(.*)$', 1))
              <> ''
    ),
    rules AS (
        -- pattern compile restricted to the characters THIS derived
        -- corpus contains ('.', '*', trailing '$'): dot-escape, then
        -- star-expand; a trailing '$' passes through as the anchor --
        -- net-identical to the Spark side's general escape chain for
        -- these patterns (the general chain is pytest-pinned)
        SELECT a.host, a.agent, r.directive, r.pattern,
               '^' || replace(replace(r.pattern, '.', '\.'),
                              '*', '.*') AS match_regex,
               length(r.pattern) AS pattern_len
        FROM agents a JOIN rul r USING (host, gid)
    ),
    urls AS (
        SELECT doc_id, source AS host,
               CASE CAST(doc_id % 5 AS INT)
                   WHEN 0 THEN '/private/doc.html'
                   WHEN 1 THEN '/private/open-' || source || '.html'
                   WHEN 2 THEN '/cache/file.tmp'
                   WHEN 3 THEN '/no-train/doc'
                   ELSE '/public/doc' END AS path
        FROM documents
    ),
    eval AS (
        SELECT u.doc_id, u.host, u.path, ag.agent_sel,
               r.directive, r.pattern_len,
               regexp_matches(u.path, r.match_regex) AS hit
        FROM urls u
        CROSS JOIN (SELECT unnest(['anybot', 'trainbot']) AS agent_sel) ag
        LEFT JOIN rules r
          ON r.host = u.host
         AND r.agent = CASE
               WHEN ag.agent_sel = 'trainbot'
                    AND EXISTS (SELECT 1 FROM rules x
                                WHERE x.host = u.host
                                  AND x.agent = 'trainbot')
               THEN 'trainbot' ELSE '*' END
    ),
    decided AS (
        SELECT doc_id, agent_sel,
               COALESCE(arg_max(
                   CASE WHEN hit THEN directive = 'allow' END,
                   CASE WHEN hit THEN pattern_len * 2 +
                        CASE WHEN directive = 'allow' THEN 1 ELSE 0 END
                   ELSE -1 END), TRUE) AS allowed
        FROM eval
        GROUP BY doc_id, agent_sel
    )
    SELECT 'r' AS op,
           host || '|' || agent || '|' || directive || '|' || pattern AS k,
           match_regex || '|' || CAST(pattern_len AS VARCHAR) AS v
    FROM rules
    UNION ALL
    SELECT CASE agent_sel WHEN 'anybot' THEN 'd' ELSE 'dt' END,
           CAST(doc_id AS VARCHAR),
           CAST(COALESCE(allowed, TRUE) AS VARCHAR)
    FROM decided
"""


def _q_sampling_nulled_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation with every 11th doc's lang NULLed ('absn'
    absolute budget / 'fracn' fractional budget): NULL group keys are
    REAL groups through both the window path and the frac path's
    eqNullSafe totals join. One arm, because both surfaces share the
    NULLed-lang projection."""
    from data_validation_engine_spark.llmops.dedup import tokens_col
    from data_validation_engine_spark.llmops.split import (
        select_token_budget,
    )

    nulled = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(
            "CASE WHEN doc_id % 11 = 0 THEN NULL ELSE lang END"
        ).alias("lang"),
        "n_chars",
        F.size(tokens_col(F.col("text"))).alias("n_tokens"),
    )
    absn = select_token_budget(
        nulled, "n_chars", "n_tokens",
        group_cols=["lang"], budget_tokens=2000,
        tiebreak_col="doc_id", keep_col="keep",
    ).selectExpr(
        "'absn' AS op", "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', COALESCE(lang, '~'), CAST(keep AS STRING)) AS v",
    )
    fracn = select_token_budget(
        nulled, "n_chars", "n_tokens",
        group_cols=["lang"], budget_frac=0.5,
        tiebreak_col="doc_id", keep_col="keep",
    ).selectExpr(
        "'fracn' AS op", "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', COALESCE(lang, '~'), CAST(keep AS STRING)) AS v",
    )
    return absn.unionByName(fracn)


_SAMPLING_NULLED_BUDGET_SQL = r"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 0 THEN NULL ELSE lang END AS lang,
               n_chars,
               CASE WHEN COALESCE(regexp_replace(text, '^\s+|\s+$', '', 'g'), '') = '' THEN 0
                    ELSE len(string_split_regex(
                        regexp_replace(text, '^\s+|\s+$', '', 'g'),
                        '\s+'))
               END AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, lang, n_tokens,
               COALESCE(sum(n_tokens) OVER (
                   PARTITION BY lang ORDER BY n_chars DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS before,
               sum(n_tokens) OVER (PARTITION BY lang) AS total
        FROM toks
    )
    SELECT 'absn' AS op, CAST(doc_id AS VARCHAR) AS k,
           COALESCE(lang, '~') || '|' ||
           CAST(before < 2000 AS VARCHAR) AS v
    FROM ranked
    UNION ALL
    SELECT 'fracn', CAST(doc_id AS VARCHAR),
           COALESCE(lang, '~') || '|' ||
           CAST(before < CAST(floor(total * 0.5) AS BIGINT) AS VARCHAR)
    FROM ranked
"""


# ---------------------------------------------------------------------------
# crawl graph (extract_links / extract_anchor_texts / canonicalize_url),
# Bloom-screened decontamination, incremental span dedup, cosine-band hard
# negatives, index maintenance, classifier, streaming heavy hitters and
# exact-substring dedup. hash_bucket(algo="xxhash64") stays pytest-only
# by design (engine-only hash, FLOATS.md non-hashable class).
# ---------------------------------------------------------------------------


def q_crawl_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-graph extraction (llmops/web.py) over a CONSTRUCTED HTML
    corpus whose link inventory is stated by construction in both twins
    (the text_normalize 'json'/'url' precedent — the oracle asserts the
    construction-guaranteed outputs, it does not re-implement the
    regexes):

    - 'l' — extract_links with base resolution (base =
      http://{source}/dir/index.html): root-relative, path-relative,
      scheme-relative, query-relative (RFC 3986 §5.3 filename-keeping),
      and absolute hrefs; &amp;-decoded; #fragment stripped; mailto:
      dropped; per-doc dedup.
    - 'a' — extract_anchor_texts: cleaned UNresolved hrefs + inner
      text with nested tags stripped, entities decoded, whitespace
      collapsed.
    - 'c' — canonicalize_url over the resolved links (utm_*/gclid
      dropped, host lowercased, default port stripped, params sorted)
      plus a dedicated '?'-inside-query probe ('q') putting the
      '?'-inside-fragment/query parse on the oracle gate.

    Every 11th doc's html is NULL (contributes no rows — explode of
    the coalesced empty array). All-string (op, k, v) frame."""
    from data_validation_engine_spark.llmops.web import (
        canonicalize_url,
        extract_anchor_texts,
        extract_links,
    )

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", "source",
        "CONCAT('http://', source, '/dir/index.html') AS base",
    )
    sq = "'"  # single quote for the single-quoted href arm
    html = docs.select(
        "doc_id",
        "source",
        "base",
        F.when(
            F.col("doc_id") % 11 == 0, F.lit(None).cast("string")
        ).otherwise(
            F.concat(
                F.lit('<html><body><a href="/page/'),
                F.col("doc_id").cast("string"),
                F.lit("?id="),
                (F.col("doc_id") % 7).cast("string"),
                F.lit('&amp;utm_source=x">Page '),
                F.col("doc_id").cast("string"),
                F.lit(f"</a> <a href={sq}rel"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit(f".html#frag{sq}>Rel <b>link</b></a>"),
                F.when(
                    F.col("doc_id") % 3 == 0,
                    F.concat(
                        F.lit("<a href=//cdn."),
                        F.col("source"),
                        F.lit("/lib.js>CDN&amp;Lib</a>"),
                    ),
                ).otherwise(F.lit("")),
                F.when(
                    F.col("doc_id") % 4 == 0,
                    F.lit('<a href="mailto:x@y.example">mail</a>'),
                ).otherwise(F.lit("")),
                F.when(
                    F.col("doc_id") % 5 == 0,
                    F.concat(
                        F.lit('<a href="?page='),
                        (F.col("doc_id") % 4).cast("string"),
                        F.lit('">Next</a>'),
                    ),
                ).otherwise(F.lit("")),
                F.lit('<a href="HTTPS://Ex.COM:443/a?b=2&amp;a=1&amp;'),
                F.lit("gclid=x"),
                (F.col("doc_id") % 3).cast("string"),
                F.lit('">Abs</a></body></html>'),
            )
        ).alias("html"),
    )
    links = extract_links(html, "html", base_url_col="base")
    l_rows = links.selectExpr(
        "'l' AS op",
        "CONCAT_WS('|', CAST(doc_id AS STRING), href) AS k",
        "'' AS v",
    )
    anchors = extract_anchor_texts(html, "html")
    a_rows = anchors.selectExpr(
        "'a' AS op",
        "CONCAT_WS('|', CAST(doc_id AS STRING), href) AS k",
        "anchor_text AS v",
    )
    c_rows = links.select(
        "doc_id",
        "href",
        canonicalize_url(F.col("href")).alias("canon"),
    ).selectExpr(
        "'c' AS op",
        "CONCAT_WS('|', CAST(doc_id AS STRING), href) AS k",
        "canon AS v",
    )
    probe = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://s.ex/p?q=what?"),
            (F.col("doc_id") % 2).cast("string"),
            F.lit("&b=1"),
        ).alias("u"),
    ).select(
        F.lit("q").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        canonicalize_url(F.col("u")).alias("v"),
    )
    return l_rows.unionByName(a_rows).unionByName(c_rows).unionByName(probe)


_CRAWL_GRAPH_SQL = """
    WITH d AS (
        SELECT doc_id, source,
               'http://' || source AS origin,
               'http://' || source || '/dir/' AS dir
        FROM documents WHERE doc_id % 11 != 0
    ),
    -- the construction's link inventory: (cleaned unresolved href,
    -- resolved href, canonical form, anchor text), one row per link
    inv AS (
        SELECT doc_id,
               '/page/' || doc_id || '?id=' || (doc_id % 7)
                   || '&utm_source=x' AS raw,
               origin || '/page/' || doc_id || '?id=' || (doc_id % 7)
                   || '&utm_source=x' AS resolved,
               origin || '/page/' || doc_id || '?id=' || (doc_id % 7)
                   AS canon,
               'Page ' || doc_id AS txt
        FROM d
        UNION ALL
        SELECT doc_id, 'rel' || (doc_id % 5) || '.html',
               dir || 'rel' || (doc_id % 5) || '.html',
               dir || 'rel' || (doc_id % 5) || '.html',
               'Rel link'
        FROM d
        UNION ALL
        SELECT doc_id, '//cdn.' || source || '/lib.js',
               'http://cdn.' || source || '/lib.js',
               'http://cdn.' || source || '/lib.js',
               'CDN&Lib'
        FROM d WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id, '?page=' || (doc_id % 4),
               origin || '/dir/index.html?page=' || (doc_id % 4),
               origin || '/dir/index.html?page=' || (doc_id % 4),
               'Next'
        FROM d WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id,
               'HTTPS://Ex.COM:443/a?b=2&a=1&gclid=x' || (doc_id % 3),
               'HTTPS://Ex.COM:443/a?b=2&a=1&gclid=x' || (doc_id % 3),
               'https://ex.com/a?a=1&b=2',
               'Abs'
        FROM d
    )
    SELECT 'l' AS op,
           CAST(doc_id AS VARCHAR) || '|' || resolved AS k, '' AS v
    FROM inv
    UNION ALL
    SELECT 'a', CAST(doc_id AS VARCHAR) || '|' || raw, txt FROM inv
    UNION ALL
    SELECT 'c', CAST(doc_id AS VARCHAR) || '|' || resolved, canon
    FROM inv
    UNION ALL
    SELECT 'q', CAST(doc_id AS VARCHAR),
           'https://s.ex/p?b=1&q=what?' || (doc_id % 2)
    FROM documents
"""


def q_decon_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-screened decontamination (llmops/decontam.py
    decontaminate_bloom, exact_verify=True) on the text_retrieval
    'decon' split (benchmark = every 97th doc): the operator's
    guarantee is output IDENTICAL to exact :func:`decontaminate`
    (Bloom filters never produce false negatives, and suspects get the
    exact join), so the oracle is the exact n-gram-overlap SQL — a
    green hash proves the joinless 128 KiB-broadcast screen dropped no
    contaminated doc and fabricated no hit counts. All-string
    (op, k, v) frame."""
    from data_validation_engine_spark.llmops.decontam import (
        decontaminate_bloom,
    )

    docs = _docs(spark, sf_dir)
    out = decontaminate_bloom(
        docs.where("doc_id % 97 != 0"),
        docs.where("doc_id % 97 = 0"),
        "doc_id",
        "text",
        ngram=5,
    )
    return out.selectExpr(
        "'bx' AS op",
        "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', CAST(n_hits AS STRING),"
        " CAST(contaminated AS STRING)) AS v",
    )


_DECON_BLOOM_SQL = f"""
    WITH toked AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ),
    grams AS (
        SELECT doc_id,
               md5(unnest({_duck_shingles(5)})) AS gram
        FROM toked
    ),
    hits AS (
        SELECT g.doc_id, count(*) AS n_hits
        FROM grams g
        JOIN (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0) bg
          USING (gram)
        WHERE g.doc_id % 97 != 0
        GROUP BY 1
    )
    SELECT 'bx' AS op, CAST(d.doc_id AS VARCHAR) AS k,
           CAST(COALESCE(h.n_hits, 0) AS VARCHAR) || '|' ||
           CAST(COALESCE(h.n_hits, 0) > 0 AS VARCHAR) AS v
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 97 != 0
"""


def q_spans_incremental(
    spark: SparkSession, sf_dir: str, fps: DataFrame | None = None
) -> DataFrame:
    """Incremental span dedup (llmops/spans.py shared_spans_incremental)
    on the shared_spans corpus (65-char span injected into every 16th
    doc): corpus = doc_id % 4 != 0 with its fingerprint index persisted
    once, new batch = doc_id % 4 = 0 (which contains every injected
    doc, so cross-batch collisions are guaranteed). The oracle reuses
    the shared_spans fingerprint CTE chain VERBATIM and takes the
    new×corpus join — proving the incremental path equals what a batch
    run over (new + corpus) would say about exactly those pairs, with
    the corpus never re-fingerprinted. All-string (op, k, v) frame."""
    from data_validation_engine_spark.llmops.spans import (
        shared_spans_incremental,
        winnowed_fingerprints,
    )

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_SPAN_CORPUS_EXPR} AS text"
    )
    corpus = docs.where("doc_id % 4 != 0")
    new = docs.where("doc_id % 4 = 0")
    # fingerprinting is per-row, so the
    # corpus index and the new-batch fingerprints are FILTERS of the
    # full-corpus fingerprint frame — the row's build (q_span_dedup)
    # passes the persisted frame in and both sides slice it instead of
    # running two more gram-hash passes
    if fps is None:
        index = winnowed_fingerprints(
            corpus, "doc_id", "text", width=24, window=8
        )
        new_fps = None
    else:
        index = fps.where("doc_id % 4 != 0")
        new_fps = fps.where("doc_id % 4 = 0")
    out = shared_spans_incremental(
        new, index, "doc_id", "text", new_fps=new_fps
    )
    return out.selectExpr(
        "'inc' AS op",
        "CONCAT_WS('|', CAST(new_id AS STRING),"
        " CAST(corpus_id AS STRING)) AS k",
        "CAST(n_shared AS STRING) AS v",
    )


_SPANS_INCREMENTAL_SQL = f"""
    {_SPAN_FPS_CTES}
    SELECT 'inc' AS op,
           CAST(n.doc_id AS VARCHAR) || '|' ||
           CAST(c.doc_id AS VARCHAR) AS k,
           CAST(count(*) AS VARCHAR) AS v
    FROM fps n JOIN fps c ON n.h = c.h
    WHERE n.doc_id % 4 = 0 AND c.doc_id % 4 != 0
    GROUP BY n.doc_id, c.doc_id
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-band hard negatives (llmops/similarity.py
    hard_negative_samples, k=3, candidate_factor=4, band [0.05, 0.35])
    over the embeddings table. The oracle replays the knn_join
    candidate stage with the attested `_knn_join_oracle` machinery
    (the ann_variants 'knn' arm: same-bucket
    LSH candidates, ordered-fold cosines rounded to 6), then the band
    filter and re-rank. The cosine rides the hashed frame as
    floor(cosine * 1e6) — the knn arm's doubles are bit-identical across
    engines (the premise the green knn arm proves), so the scaled
    floor is too, and the all-string frame needs no dtype allowlist
    entry. All-string (op, k, v) frame."""
    from data_validation_engine_spark.llmops.similarity import (
        hard_negative_samples,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = hard_negative_samples(
        emb, 3, min_cosine=0.05, max_cosine=0.35,
        candidate_factor=4, dim=64,
    )
    return out.selectExpr(
        "'hn' AS op",
        "CONCAT_WS('|', CAST(vec_id AS STRING),"
        " CAST(rank AS STRING)) AS k",
        "CONCAT_WS('|', CAST(neighbour AS STRING),"
        " CAST(CAST(floor(cosine * 1000000) AS BIGINT) AS STRING)) AS v",
    )


_HARD_NEGATIVES_SQL = f"""
    WITH cands AS (
        SELECT * FROM ({_knn_join_oracle(k=12)})
    ),
    band AS (
        SELECT vec_id, neighbour, cosine,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY cosine DESC, neighbour ASC
               ) AS rk
        FROM cands
        WHERE cosine >= 0.05 AND cosine <= 0.35
    )
    SELECT 'hn' AS op,
           CAST(vec_id AS VARCHAR) || '|' || CAST(rk AS VARCHAR) AS k,
           CAST(neighbour AS VARCHAR) || '|' ||
           CAST(CAST(floor(cosine * 1000000) AS BIGINT) AS VARCHAR) AS v
    FROM band WHERE rk <= 3
"""


def q_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-index maintenance (llmops/dedup.py compact_minhash_index
    + minhash_index_stats): build the
    persistable LSH index over documents, simulate a backfill replay
    (every even doc's rows appended twice) and deletions (every 7th doc
    no longer live), compact, and report band skew.

    - 'ix' — the compacted index: the replay dupes collapse and dead
      ids vanish, so the oracle is simply the fresh index over the live
      corpus (the invariant the operator promises);
    - 'st' — minhash_index_stats(hot_threshold=2) over the compacted
      index: per-band rows / keys / max multiplicity / hot tail.

    All-string (op, k, v) frame."""
    from data_validation_engine_spark.llmops.dedup import (
        compact_minhash_index,
        minhash_index,
        minhash_index_stats,
    )

    docs = _docs(spark, sf_dir)
    # minhash_index is a PER-DOCUMENT
    # projection (shingle → signature → band rows touch only that
    # doc's text), so the replayed-batch index over the even half is
    # exactly the full index filtered by id — build the signature
    # pipeline ONCE (persisted: it feeds the replay arm and the
    # compaction) instead of running the shingle+12-way-md5-min
    # aggregation a second time over half the corpus. The simulated
    # backfill rows are byte-identical. compacted persists too: the
    # 'ix' and 'st' arms both consume it.
    index = minhash_index(docs, "doc_id", "text").persist()
    appended = index.unionByName(index.where("doc_id % 2 = 0"))
    live = docs.where("doc_id % 7 != 0")
    compacted = compact_minhash_index(appended, live, "doc_id").persist()
    ix = compacted.selectExpr(
        "'ix' AS op",
        "CONCAT_WS('|', CAST(doc_id AS STRING),"
        " CAST(band_idx AS STRING)) AS k",
        "band_key AS v",
    )
    st = minhash_index_stats(compacted, hot_threshold=2).selectExpr(
        "'st' AS op",
        "CAST(band_idx AS STRING) AS k",
        "CONCAT_WS('|', CAST(n_rows AS STRING), CAST(n_keys AS STRING),"
        " CAST(max_key_rows AS STRING), CAST(n_hot_keys AS STRING),"
        " CAST(n_hot_rows AS STRING)) AS v",
    )
    return ix.unionByName(st)


_INDEX_MAINTENANCE_SQL = f"""
    WITH {_minhash_pair_ctes()},
    live AS (
        SELECT doc_id, band_idx, band_key FROM bands
        WHERE doc_id % 7 != 0
    ),
    per_key AS (
        SELECT band_idx, band_key, count(*) AS n
        FROM live GROUP BY 1, 2
    )
    SELECT 'ix' AS op,
           CAST(doc_id AS VARCHAR) || '|' || CAST(band_idx AS VARCHAR)
               AS k,
           band_key AS v
    FROM live
    UNION ALL
    SELECT 'st', CAST(band_idx AS VARCHAR),
           CAST(sum(n) AS VARCHAR) || '|' ||
           CAST(count(*) AS VARCHAR) || '|' ||
           CAST(max(n) AS VARCHAR) || '|' ||
           CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS VARCHAR)
               || '|' ||
           CAST(sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS VARCHAR)
    FROM per_key GROUP BY band_idx
"""


def _classifier_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classifier row's shared feature frame: documents + the word
    (n_max=2) and char (n=3) 512-bucket feature arrays, PERSISTED so
    the row's six scoring surfaces hash each gram once instead of once
    per surface (guide §1.2: fix the algorithm before the config). The
    arrays are exactly what ``classifier_score``'s internal
    ``_features`` would build (same seed/params), so every downstream
    fold sees identical input."""
    from data_validation_engine_spark.llmops.classifier import (
        char_ngram_buckets,
    )
    from data_validation_engine_spark.llmops.dsir import ngram_buckets

    return (
        _docs(spark, sf_dir)
        .withColumn(
            "__wf", ngram_buckets(F.col("text"), n_max=2, buckets=512)
        )
        .withColumn(
            "__cf", char_ngram_buckets(F.col("text"), n=3, buckets=512)
        )
        .persist()
    )


def q_classifier_base(
    spark: SparkSession, sf_dir: str, feats: DataFrame | None = None
) -> DataFrame:
    """fastText-style classifier inference (llmops/classifier.py) with
    INTEGER weights w[b] = ((b*7+3) mod
    21) - 10 over 512 hashed-n-gram buckets (the DSIR feature space,
    so the oracle reuses _DUCK_DSIR_FEATS verbatim), bias 3:

    - 'z' — sum-mode logit (pure integer arithmetic) + feature count;
    - 'za' — mean-mode logit as floor(logit*1e6): one
      correctly-rounded division of exact integers, identical doubles
      both engines (the ecdf class), floored to a long;
    - 'k' — classifier_filter keep flags at threshold_prob=0.5
      (logit cut ln(1) = 0 exactly — integer compare, no margin
      hazard). The sigmoid itself is deliberately unhashed
      (transcendental — FLOATS.md);
    - 'cz' / 'ck' — the same sum-logit + keep surfaces in CHARACTER
      3-gram feature mode (char_n=3, the fastText subword recipe),
      proving the char feature extraction engine-exact too.

    All-string (op, k, v) frame.

    The feature-bucket arrays are computed ONCE into a persisted
    ``feats`` frame (word + char arrays side by side) and every arm folds
    over the shared arrays via ``features_col`` — identical doubles,
    identical hash, ~5x less per-row hashing than five independent
    feature-extraction passes. ``feats`` may be passed in by
    :func:`q_classifier` so the 'ev' arm shares the same pass."""
    from data_validation_engine_spark.llmops.classifier import (
        classifier_filter,
        classifier_score,
    )

    docs = feats if feats is not None else _classifier_feats(spark, sf_dir)
    w = [float(((b * 7 + 3) % 21) - 10) for b in range(512)]
    z = classifier_score(
        docs, "text", w, bias=3.0, average=False, n_feats_col="nf",
        features_col="__wf",
    ).selectExpr(
        "'z' AS op",
        "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', CAST(CAST(clf_logit AS BIGINT) AS STRING),"
        " CAST(nf AS STRING)) AS v",
    )
    za = classifier_score(
        docs, "text", w, bias=3.0, average=True, features_col="__wf"
    ).selectExpr(
        "'za' AS op",
        "CAST(doc_id AS STRING) AS k",
        "CAST(CAST(floor(clf_logit * 1000000) AS BIGINT) AS STRING) AS v",
    )
    k = classifier_filter(
        docs, "text", w, bias=3.0, average=False,
        threshold_prob=0.5, keep_col="keep", features_col="__wf",
    ).selectExpr(
        "'k' AS op",
        "CAST(doc_id AS STRING) AS k",
        "CAST(keep AS STRING) AS v",
    )
    # char-gram feature mode (the fastText subword recipe) on the same
    # integer-weight discipline: sum-mode logit + keep flag
    cz = classifier_score(
        docs, "text", w, bias=3.0, average=False, char_n=3,
        n_feats_col="nf", features_col="__cf",
    ).selectExpr(
        "'cz' AS op",
        "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', CAST(CAST(clf_logit AS BIGINT) AS STRING),"
        " CAST(nf AS STRING)) AS v",
    )
    ck = classifier_filter(
        docs, "text", w, bias=3.0, average=False, char_n=3,
        threshold_prob=0.5, keep_col="keep", features_col="__cf",
    ).selectExpr(
        "'ck' AS op",
        "CAST(doc_id AS STRING) AS k",
        "CAST(keep AS STRING) AS v",
    )
    return (
        z.unionByName(za).unionByName(k)
        .unionByName(cz).unionByName(ck)
    )


_CLASSIFIER_SQL = rf"""
    WITH feats AS ({_DUCK_DSIR_FEATS}),
    scored AS (
        SELECT doc_id, len(f) AS nf,
               3 + COALESCE(list_sum(
                   list_transform(f, b -> ((b * 7 + 3) % 21) - 10)), 0)
                   AS z
        FROM feats
    )
    SELECT 'z' AS op, CAST(doc_id AS VARCHAR) AS k,
           CAST(CAST(z AS BIGINT) AS VARCHAR) || '|' ||
           CAST(nf AS VARCHAR) AS v
    FROM scored
    UNION ALL
    SELECT 'za', CAST(doc_id AS VARCHAR),
           CAST(CAST(floor((3.0 + CASE WHEN nf > 0
                    THEN (z - 3)::DOUBLE / nf ELSE 0.0 END) * 1000000)
                AS BIGINT) AS VARCHAR)
    FROM scored
    UNION ALL
    SELECT 'k', CAST(doc_id AS VARCHAR), CAST(z >= 0 AS VARCHAR)
    FROM scored
    UNION ALL
    SELECT 'cz', CAST(doc_id AS VARCHAR),
           CAST(CAST(cz AS BIGINT) AS VARCHAR) || '|' ||
           CAST(cnf AS VARCHAR)
    FROM (
        SELECT doc_id, len(cf) AS cnf,
               3 + COALESCE(list_sum(
                   list_transform(cf, b -> ((b * 7 + 3) % 21) - 10)), 0)
                   AS cz
        FROM (
            SELECT doc_id,
                   CASE WHEN length(t) >= 3 THEN
                       list_transform(generate_series(1, length(t) - 2),
                           i -> ('0x' || substring(md5('|chr3|' ||
                               substring(t, i, 3)), 1, 15))
                               ::BIGINT % 512)
                   WHEN length(t) >= 1 THEN
                       [('0x' || substring(md5('|chr3|' || t), 1, 15))
                           ::BIGINT % 512]
                   ELSE CAST([] AS BIGINT[]) END AS cf
            FROM (SELECT doc_id,
                         trim(regexp_replace(lower(text), '\s+', ' ',
                                             'g')) AS t
                  FROM documents)
        )
    )
    UNION ALL
    SELECT 'ck', CAST(doc_id AS VARCHAR), CAST(cz >= 0 AS VARCHAR)
    FROM (
        SELECT doc_id,
               3 + COALESCE(list_sum(list_transform(
                   CASE WHEN length(t) >= 3 THEN
                       list_transform(generate_series(1, length(t) - 2),
                           i -> ('0x' || substring(md5('|chr3|' ||
                               substring(t, i, 3)), 1, 15))
                               ::BIGINT % 512)
                   WHEN length(t) >= 1 THEN
                       [('0x' || substring(md5('|chr3|' || t), 1, 15))
                           ::BIGINT % 512]
                   ELSE CAST([] AS BIGINT[]) END,
                   b -> ((b * 7 + 3) % 21) - 10)), 0) AS cz
        FROM (SELECT doc_id,
                     trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
                         AS t
              FROM documents)
    )
"""


def q_stream_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-lifted exact windowed heavy hitters (llmops/sketch.py
    windowed_heavy_hitters over streaming_cms_cells): the stream maintains only depth×width CMS cells
    per daily window (watermark-evicted), the batch pass screens the
    raw events against the drained cells (never-undercount, map-side
    broadcast) and exact-counts the surviving sliver. Output is
    contractually IDENTICAL to the naive exact per-closed-window
    group-by, which is the oracle. All-string (op, k, v) frame."""
    import tempfile

    from data_validation_engine_spark.llmops.sketch import (
        windowed_heavy_hitters,
    )
    from data_validation_engine_spark.streaming.cardinality import (
        streaming_cms_cells,
    )

    sdf = _events_stream(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="dve_shh_q_")
    with _state_partitions(spark):
        sq = _drain(
            streaming_cms_cells(
                sdf, "ts", "event_type",
                window_seconds=86400, depth=3, width=64,
                watermark="2 hours",
            ),
            f"{out}/data",
        )
    sq.awaitTermination()
    cells = spark.read.parquet(f"{out}/data")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts", "event_type"
    )
    hh = windowed_heavy_hitters(
        cells, events, "ts", "event_type", 5,
        window_seconds=86400, depth=3, width=64,
    )
    return hh.selectExpr(
        "'hh' AS op",
        "CONCAT_WS('|', CAST(window_start AS STRING), event_type) AS k",
        "CAST(n AS STRING) AS v",
    )


_STREAM_HEAVY_SQL = """
    SELECT 'hh' AS op,
           CAST(win AS VARCHAR) || '|' || event_type AS k,
           CAST(count(*) AS VARCHAR) AS v
    FROM (
        SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS win,
               event_type, ts
        FROM events
    ), (SELECT max(ts) AS mx FROM events) m
    WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= m.mx - INTERVAL 2 HOUR
    GROUP BY 1, 2
    HAVING count(*) >= 5
"""


def q_substring_dedup_hash(
    spark: SparkSession, sf_dir: str, spans: DataFrame | None = None
) -> DataFrame:
    """Exact repeated-substring removal (llmops/substrings.py, Lee 2021
    arXiv:2107.06499 ExactSubstr at fixed-gram granularity) over the
    documents corpus with a 56-char boilerplate sentence spliced into
    every 4th doc at position 50 — plus whatever 30-char substrings the
    synthetic token vocabulary naturally repeats across >= 3 docs (both
    twins compute the same frequencies, so natural repeats hash
    identically too):

    - 'sp' — the merged repeated-span table (start/end per doc);
    - 'rm' — the scrubbed corpus surface: md5 of the spliced text +
      span count + removed-char count per doc.

    The CMS screen is never-undercount, so the operator output equals
    the naive gram-frequency replay the oracle runs. All-string
    (op, k, v) frame.

    The 'sp' and 'rm' arms share one gram-hash + CMS-screen pipeline:
    the span table is computed once (PERSISTED — or passed in by
    :func:`q_substring_dedup`, which shares the upstream ``marked``
    frame with the verify twin too) and both arms derive from it.
    Identical spans in, identical splice out — oracle-reproven."""
    from data_validation_engine_spark.llmops.substrings import (
        remove_repeated_substrings,
        repeated_substring_spans,
    )

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 4 = 0 THEN CONCAT(substr(text, 1, 50),"
        " ' <<<shared boilerplate sentence planted for round 12>>> ',"
        " substr(text, 51)) ELSE text END AS text",
    )
    kw = dict(min_len=30, min_docs=3, depth=3, width=4096)
    if spans is None:
        spans = repeated_substring_spans(
            docs, "doc_id", "text", **kw
        ).persist()
    sp = spans.selectExpr(
        "'sp' AS op",
        "CONCAT_WS('|', CAST(doc_id AS STRING),"
        " CAST(start AS STRING)) AS k",
        "CAST(end AS STRING) AS v",
    )
    rm = remove_repeated_substrings(
        docs, "doc_id", "text", spans=spans, **kw
    ).selectExpr(
        "'rm' AS op",
        "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', md5(text), CAST(n_spans AS STRING),"
        " CAST(n_removed_chars AS STRING)) AS v",
    )
    return sp.unionByName(rm)


_SUBSTRING_DEDUP_SQL = r"""
    WITH corpus AS (
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0 THEN
                   substring(text, 1, 50) ||
                   ' <<<shared boilerplate sentence planted for round 12>>> '
                   || substring(text, 51)
               ELSE text END AS text
        FROM documents
    ),
    pos AS (
        SELECT doc_id, i,
               ('0x' || substring(md5(substring(text, i, 30)), 1, 15))
                   ::BIGINT AS h
        FROM corpus, LATERAL (
            SELECT unnest(range(1, greatest(length(text) - 28, 1)))
                AS i)
        WHERE length(text) >= 30
    ),
    hot AS (
        SELECT h FROM (
            SELECT h, count(DISTINCT doc_id) AS nd FROM pos GROUP BY h
        ) WHERE nd >= 3
    ),
    marked AS (
        SELECT doc_id, i AS s FROM pos JOIN hot USING (h)
    ),
    flagged AS (
        SELECT doc_id, s,
               CASE WHEN s > COALESCE(max(s + 30) OVER (
                   PARTITION BY doc_id ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) THEN 1 ELSE 0 END AS newgrp
        FROM marked
    ),
    grouped AS (
        SELECT doc_id, s,
               sum(newgrp) OVER (
                   PARTITION BY doc_id ORDER BY s
               ) AS gid
        FROM flagged
    ),
    spans AS (
        SELECT doc_id, gid, min(s) AS st, max(s) + 30 AS en
        FROM grouped GROUP BY 1, 2
    ),
    segs AS (
        SELECT doc_id, st, en,
               lag(en, 1, 1) OVER (
                   PARTITION BY doc_id ORDER BY st
               ) AS prev_e
        FROM spans
    ),
    cleaned AS (
        SELECT c.doc_id,
               COALESCE(string_agg(
                   substring(c.text, sg.prev_e, sg.st - sg.prev_e),
                   '' ORDER BY sg.st), '') ||
               substring(c.text, COALESCE(max(sg.en), 1),
                   length(c.text) - COALESCE(max(sg.en), 1) + 1) AS t,
               count(sg.st) AS n_spans,
               COALESCE(sum(sg.en - sg.st), 0) AS n_removed
        FROM corpus c LEFT JOIN segs sg USING (doc_id)
        GROUP BY c.doc_id, c.text
    )
    SELECT 'sp' AS op,
           CAST(doc_id AS VARCHAR) || '|' || CAST(st AS VARCHAR) AS k,
           CAST(en AS VARCHAR) AS v
    FROM spans
    UNION ALL
    SELECT 'rm', CAST(doc_id AS VARCHAR),
           md5(t) || '|' || CAST(n_spans AS VARCHAR) || '|' ||
           CAST(n_removed AS VARCHAR)
    FROM cleaned
"""


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build of the span_dedup row: CCNet paragraph dedup
    (first/freq/none/sent) + winnowing fingerprints and shared-span
    pairs (fp/pairs) + the incremental span index ('inc').

    The arms share their dominant per-row projections —
    winnowed_fingerprints (fp, pairs, inc index, inc new-batch) and
    split_paragraphs (freq, none, first) — so each is computed ONCE
    into a persisted frame that every arm folds or filters; the arm
    functions build their own pipelines when called standalone."""
    from data_validation_engine_spark.llmops.paragraphs import (
        split_paragraphs,
    )
    from data_validation_engine_spark.llmops.spans import (
        winnowed_fingerprints,
    )

    span_docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_SPAN_CORPUS_EXPR} AS text"
    )
    fps = winnowed_fingerprints(
        span_docs, "doc_id", "text", width=24, window=8
    ).persist()
    para_docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_PARA_CORPUS_EXPR} AS text"
    )
    paras = split_paragraphs(para_docs, "doc_id", "text").persist()
    return (
        q_paragraph_dedup(spark, sf_dir, paras=paras)
        .unionByName(q_shared_spans(spark, sf_dir, fps=fps))
        .unionByName(q_spans_incremental(spark, sf_dir, fps=fps))
    )


def q_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build of the classifier row: the 'base' and 'ev' arms share ONE
    persisted :func:`_classifier_feats` pass (one feature-hashing pass
    for the whole row instead of six)."""
    feats = _classifier_feats(spark, sf_dir)
    return q_classifier_base(spark, sf_dir, feats=feats).unionByName(
        _q_classifier_ev(spark, sf_dir, feats=feats)
    )


def _q_classifier_ev(
    spark: SparkSession, sf_dir: str, feats: DataFrame | None = None
) -> DataFrame:
    """Holdout evaluation ('ev'): classifier_eval with the row's integer
    weights (bias 3, sum mode, threshold_prob 0.5 → logit cut 0
    exactly), labels y = (doc_id % 2 = 0), grouped per lang. Confusion
    counts ride as exact longs; precision/recall/f1/accuracy ride as
    floor(metric * 1e6) — each a short fixed tree of correctly-rounded
    double ops on exact integers (the 'za' mean-logit class), NULL
    metrics as '~' (CONCAT_WS would silently drop NULLs)."""
    from data_validation_engine_spark.llmops.classifier import (
        classifier_eval,
    )

    if feats is None:
        feats = _classifier_feats(spark, sf_dir)
    docs = feats.withColumn(
        "y", (F.col("doc_id") % 2 == 0).cast("int")
    )
    w = [float(((b * 7 + 3) % 21) - 10) for b in range(512)]
    mfmt = (
        "COALESCE(CAST(CAST(floor({m} * 1000000) AS BIGINT) AS STRING),"
        " '~')"
    )
    return classifier_eval(
        docs, "text", "y", w, bias=3.0, average=False,
        threshold_prob=0.5, group_cols=["lang"], features_col="__wf",
    ).selectExpr(
        "'ev' AS op",
        "COALESCE(lang, '~') AS k",
        "CONCAT_WS('|', CAST(n AS STRING), CAST(tp AS STRING),"
        " CAST(fp AS STRING), CAST(tn AS STRING), CAST(fn AS STRING),"
        f" {mfmt.format(m='`precision`')}, {mfmt.format(m='recall')},"
        f" {mfmt.format(m='f1')}, {mfmt.format(m='accuracy')}) AS v",
    )


_CLASSIFIER_EVAL_ORACLE = rf"""
    WITH feats AS ({_DUCK_DSIR_FEATS}),
    scored AS (
        SELECT doc_id,
               3 + COALESCE(list_sum(
                   list_transform(f, b -> ((b * 7 + 3) % 21) - 10)), 0)
                   AS z
        FROM feats
    ),
    j AS (
        SELECT d.lang, (s.z >= 0) AS keep,
               (d.doc_id % 2 = 0) AS pos
        FROM documents d JOIN scored s USING (doc_id)
    ),
    c AS (
        SELECT lang, count(*) AS n,
               sum(CASE WHEN keep AND pos THEN 1 ELSE 0 END) AS tp,
               sum(CASE WHEN keep AND NOT pos THEN 1 ELSE 0 END) AS fp,
               sum(CASE WHEN NOT keep AND NOT pos THEN 1 ELSE 0 END)
                   AS tn,
               sum(CASE WHEN NOT keep AND pos THEN 1 ELSE 0 END) AS fn
        FROM j GROUP BY lang
    ),
    m AS (
        SELECT lang, n, tp, fp, tn, fn,
               CASE WHEN tp + fp > 0
                    THEN tp::DOUBLE / (tp + fp) END AS p,
               CASE WHEN tp + fn > 0
                    THEN tp::DOUBLE / (tp + fn) END AS r
        FROM c
    )
    SELECT 'ev' AS op, COALESCE(lang, '~') AS k,
           CAST(n AS VARCHAR) || '|' || CAST(tp AS VARCHAR) || '|' ||
           CAST(fp AS VARCHAR) || '|' || CAST(tn AS VARCHAR) || '|' ||
           CAST(fn AS VARCHAR) || '|' ||
           COALESCE(CAST(CAST(floor(p * 1000000) AS BIGINT)
                    AS VARCHAR), '~') || '|' ||
           COALESCE(CAST(CAST(floor(r * 1000000) AS BIGINT)
                    AS VARCHAR), '~') || '|' ||
           COALESCE(CAST(CAST(floor(
               CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) END
               * 1000000) AS BIGINT) AS VARCHAR), '~') || '|' ||
           COALESCE(CAST(CAST(floor(
               (tp + tn)::DOUBLE / n * 1000000) AS BIGINT)
               AS VARCHAR), '~') AS v
    FROM m
"""


# ---------------------------------------------------------------------------
# WARC ingest, exact-substring verification and product quantization
# ---------------------------------------------------------------------------


#: WARC fixture path per sf_dir (one bounded driver-side build per
#: process — the _LSH_LAYOUTS pattern; atexit-cleaned via the shared
#: layout root)
_WARC_FIXTURES: dict[str, str] = {}


def _warc_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build a deterministic mini-WARC from the documents table (one
    warcinfo record, one response per doc, one request per 5th doc) —
    a FIXTURE build, so the driver-side collect is the documented
    bounded-test-construction class, not a pipeline pattern. Both
    twins state the construction's record inventory directly."""
    import os

    if sf_dir in _WARC_FIXTURES:
        return _WARC_FIXTURES[sf_dir]
    root = f"{_lsh_layout_dir()}/warc{len(_WARC_FIXTURES)}"
    os.makedirs(root, exist_ok=True)
    pdf = (
        _docs(spark, sf_dir)
        .select("doc_id", "source", "text")
        .orderBy("doc_id")
        .toPandas()
    )

    def record(wtype: str, block: bytes, uri: str | None) -> bytes:
        head = [
            b"WARC/1.0",
            f"WARC-Type: {wtype}".encode(),
            f"WARC-Record-ID: <urn:uuid:{wtype}-{uri}>".encode(),
            b"WARC-Date: 2026-01-01T00:00:00Z",
            f"Content-Length: {len(block)}".encode(),
        ]
        if uri is not None:
            head.append(f"WARC-Target-URI: {uri}".encode())
        return b"\r\n".join(head) + b"\r\n\r\n" + block + b"\r\n\r\n"

    parts = [record("warcinfo", b"software: dve-fixture\r\n", None)]
    for r in pdf.itertuples(index=False):
        uri = (
            f"http://{r.source}/doc/{r.doc_id}"
            f"?utm_source=w&b={r.doc_id % 3}&a={r.doc_id % 7}"
        )
        html = (
            f"<html><body><h1>Doc {r.doc_id}</h1><p>"
            f"{r.text or ''}</p></body></html>"
        ).encode("utf-8")
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            + html
        )
        parts.append(record("response", http, uri))
        if r.doc_id % 5 == 0:
            parts.append(
                record(
                    "request",
                    f"GET /doc/{r.doc_id} HTTP/1.1\r\n\r\n".encode(),
                    uri,
                )
            )
    with open(f"{root}/fixture.warc", "wb") as fh:
        fh.write(b"".join(parts))
    _WARC_FIXTURES[sf_dir] = root
    return root


def q_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC source (sources/warc.py, ISO 28500) over a constructed
    archive whose record inventory is stated by construction in both
    twins (the r12_crawl_graph precedent):

    - 'w' — one row per response record read back with the default
      ``types=("response",)``: payload md5 + octet length + HTTP
      status (framing, HTTP split, and payload fidelity);
    - 'n' — record counts per WARC-Type under ``types=None``
      (warcinfo 1, response |docs|, request |docs where id%5=0|);
    - 'c' — the ingestion chain composing: canonicalize_url over the
      records' target URIs (utm stripped, params sorted, host
      lowercased).

    All-string (op, k, v) frame."""
    from data_validation_engine_spark.llmops.web import canonicalize_url
    from data_validation_engine_spark.sources.warc import read_warc

    root = _warc_fixture(spark, sf_dir)
    # one Python WARC parse for the three consumers ('w', 'n', and the
    # lazy re-evaluation for 'c'): ``types=None`` yields every record
    # with the identical schema, and ``types=("response",)`` is exactly
    # the parse-time filter ``warc_type = 'response'`` — so one
    # persisted full parse feeds all three arms with identical rows.
    recs = read_warc(spark, root, types=None).persist()
    resp = recs.where(F.col("warc_type") == "response")
    w = resp.selectExpr(
        "'w' AS op",
        "target_uri AS k",
        "CONCAT_WS('|', md5(payload), CAST(payload_length AS STRING),"
        " CAST(http_status AS STRING)) AS v",
    )
    n = (
        recs
        .groupBy("warc_type")
        .count()
        .selectExpr(
            "'n' AS op", "warc_type AS k", "CAST(count AS STRING) AS v"
        )
    )
    c = resp.select(
        F.lit("c").alias("op"),
        F.col("target_uri").alias("k"),
        canonicalize_url(F.col("target_uri")).alias("v"),
    )
    return w.unionByName(n).unionByName(c)


_WARC_SQL = """
    WITH inv AS (
        SELECT doc_id,
               'http://' || source || '/doc/' || doc_id
                   || '?utm_source=w&b=' || (doc_id % 3)
                   || '&a=' || (doc_id % 7) AS uri,
               'http://' || lower(source) || '/doc/' || doc_id
                   || '?a=' || (doc_id % 7)
                   || '&b=' || (doc_id % 3) AS canon,
               '<html><body><h1>Doc ' || doc_id || '</h1><p>'
                   || COALESCE(text, '') || '</p></body></html>' AS html
        FROM documents
    )
    SELECT 'w' AS op, uri AS k,
           md5(html) || '|' || strlen(html) || '|200' AS v
    FROM inv
    UNION ALL
    SELECT 'n', 'warcinfo', '1'
    UNION ALL
    SELECT 'n', 'response', CAST(count(*) AS VARCHAR) FROM inv
    UNION ALL
    SELECT 'n', 'request', CAST(count(*) AS VARCHAR)
    FROM inv WHERE doc_id % 5 = 0
    UNION ALL
    SELECT 'c', uri, canon FROM inv
"""


def q_substring_verify(
    spark: SparkSession, sf_dir: str, spans: DataFrame | None = None
) -> DataFrame:
    """remove_repeated_substrings(exact_verify=True) on
    the substring_dedup corpus (same boilerplate splice). The oracle
    here is STRONGER than the roster row's: it replays gram
    frequencies by the gram's TEXT — no hashing anywhere — so a green
    hash proves the verified path delivers true text-exact ExactSubstr
    semantics, not merely hash-replay parity. All-string (op, k, v)
    frame ('spv' spans / 'rmv' scrubbed surface).

    same sharing as
    :func:`q_substring_dedup_hash` — the verified span table is computed
    once (persisted, or passed in) and both arms derive from it."""
    from data_validation_engine_spark.llmops.substrings import (
        remove_repeated_substrings,
        repeated_substring_spans,
    )

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 4 = 0 THEN CONCAT(substr(text, 1, 50),"
        " ' <<<shared boilerplate sentence planted for round 12>>> ',"
        " substr(text, 51)) ELSE text END AS text",
    )
    kw = dict(
        min_len=30, min_docs=3, depth=3, width=4096, exact_verify=True
    )
    if spans is None:
        spans = repeated_substring_spans(
            docs, "doc_id", "text", **kw
        ).persist()
    sp = spans.selectExpr(
        "'spv' AS op",
        "CONCAT_WS('|', CAST(doc_id AS STRING),"
        " CAST(start AS STRING)) AS k",
        "CAST(end AS STRING) AS v",
    )
    rm = remove_repeated_substrings(
        docs, "doc_id", "text", spans=spans, **kw
    ).selectExpr(
        "'rmv' AS op",
        "CAST(doc_id AS STRING) AS k",
        "CONCAT_WS('|', md5(text), CAST(n_spans AS STRING),"
        " CAST(n_removed_chars AS STRING)) AS v",
    )
    return sp.unionByName(rm)


# the r12_substring_dedup oracle with the hash CTE swapped for a
# gram-TEXT group-by (the only change — the span-merge/splice chain is
# reused verbatim so the two proofs differ in exactly the claim under
# test)
_SUBSTRING_VERIFY_SQL = (
    _SUBSTRING_DEDUP_SQL
    .replace(
        """pos AS (
        SELECT doc_id, i,
               ('0x' || substring(md5(substring(text, i, 30)), 1, 15))
                   ::BIGINT AS h
        FROM corpus, LATERAL (""",
        """pos AS (
        SELECT doc_id, i,
               substring(text, i, 30) AS h
        FROM corpus, LATERAL (""",
    )
    .replace("SELECT 'sp' AS op,", "SELECT 'spv' AS op,")
    .replace("SELECT 'rm',", "SELECT 'rmv',")
)
assert "md5(substring" not in _SUBSTRING_VERIFY_SQL


def q_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (llmops/pq.py, Jégou 2011 IVF-PQ's PQ half)
    over the embeddings table with the deterministic placeholder
    codebooks (subvectors of the first 16 vectors in id order — the
    ann_variants 'ivf' centroid convention, already oracle-attested):

    - 'enc' — the full corpus's PQ codes (m=8 subspaces × k=16
      codewords): per-subspace squared-L2 argmin folds, ties to the
      lower code — proving the 32×-compressed codes table is
      engine-exact;
    - 'adc' — asymmetric-distance top-20 for query vec 0 over the
      PRE-ENCODED codes column (the deployment shape): the m×k lookup
      table is driver-built from exact index-order folds, the per-row
      distance is an ordered fold of table lookups, hashed as
      floor(dist * 1e6) (the hard-negatives cosine class — identical
      doubles in, identical longs out).

    All-string (op, k, v) frame."""
    from data_validation_engine_spark.llmops.pq import (
        default_codebooks,
        pq_encode,
        pq_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = default_codebooks(emb, dim=64, m=8, k=16)
    # the 'enc' and 'adc' arms both
    # consume the coded corpus, and the per-row encode is the row's
    # dominant cost (m*k interpreted squared-L2 folds) — persist it so
    # the union evaluates the encode once instead of per branch.
    coded = pq_encode(emb, books, codes_col="c", keep_vec=True).persist()
    enc = coded.selectExpr(
        "'enc' AS op",
        "CAST(vec_id AS STRING) AS k",
        "array_join(c, ',') AS v",
    )
    adc = pq_topk(
        coded, emb.where("vec_id = 0"), 20,
        codebooks=books, codes_col="c",
    ).selectExpr(
        "'adc' AS op",
        "CAST(rank AS STRING) AS k",
        "CONCAT_WS('|', CAST(vec_id AS STRING),"
        " CAST(CAST(floor(pq_dist * 1000000) AS BIGINT) AS STRING)) AS v",
    )
    return enc.unionByName(adc)


# the ADC CTE chain is shared by the r13_pq oracle and the PQ recall and
# codebooks-entity proofs in tests/test_recall_pq_steps.py —
# parameterised on the top-k LIMIT only
_PQ_ADC_CTES = """
    WITH cb AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
               embedding AS cv
        FROM embeddings ORDER BY vec_id LIMIT 16
    ),
    subs AS (SELECT unnest(range(0, 8)) AS s),
    assign AS (
        SELECT e.vec_id, subs.s,
               (min(struct_pack(
                   d := list_reduce(list_transform(
                       generate_series(1, 8),
                       i -> (e.embedding[subs.s * 8 + i]::DOUBLE
                             - c.cv[subs.s * 8 + i]::DOUBLE)
                          * (e.embedding[subs.s * 8 + i]::DOUBLE
                             - c.cv[subs.s * 8 + i]::DOUBLE)),
                       (x, y) -> x + y),
                   j := c.j))).j AS code
        FROM embeddings e CROSS JOIN subs CROSS JOIN cb c
        GROUP BY e.vec_id, subs.s
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    lut AS (
        SELECT subs.s, c.j,
               list_reduce(list_transform(
                   generate_series(1, 8),
                   i -> (q.qv[subs.s * 8 + i]::DOUBLE
                         - c.cv[subs.s * 8 + i]::DOUBLE)
                      * (q.qv[subs.s * 8 + i]::DOUBLE
                         - c.cv[subs.s * 8 + i]::DOUBLE)),
                   (x, y) -> x + y) AS d
        FROM subs CROSS JOIN cb c, q
    ),
    dist AS (
        SELECT a.vec_id,
               list_reduce([0.0] || list(l.d ORDER BY a.s),
                           (x, y) -> x + y) AS dist
        FROM assign a JOIN lut l ON l.s = a.s AND l.j = a.code
        GROUP BY a.vec_id
    ),
    top AS (
        SELECT vec_id, dist,
               row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS rk
        FROM dist WHERE vec_id <> 0
        ORDER BY dist ASC, vec_id ASC LIMIT __PQ_K__
    )"""


_PQ_SQL = _PQ_ADC_CTES.replace("__PQ_K__", "20") + """
    SELECT 'enc' AS op, CAST(vec_id AS VARCHAR) AS k,
           string_agg(CAST(code AS VARCHAR), ',' ORDER BY s) AS v
    FROM assign GROUP BY vec_id
    UNION ALL
    SELECT 'adc', CAST(rk AS VARCHAR),
           CAST(vec_id AS VARCHAR) || '|' ||
           CAST(CAST(floor(dist * 1000000) AS BIGINT) AS VARCHAR)
    FROM top
"""


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build of the substring_dedup row: hash-replay spans ('sp'/'rm')
    + the exact_verify twin ('spv'/'rmv'), whose oracle groups grams by
    TEXT, proving true ExactSubstr semantics rather than hash-replay
    parity.

    The two modes share everything up to the hot-candidate position
    table — the verify mode is a filter over it — so ``marked`` is
    computed ONCE (persisted; one gram-hash + CMS-collect pass for the
    whole row) and each mode's span table derives from it. The arm
    functions build their own pipelines when called standalone."""
    from data_validation_engine_spark.llmops.substrings import (
        marked_positions,
        spans_from_marked,
        verify_marked,
    )

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 4 = 0 THEN CONCAT(substr(text, 1, 50),"
        " ' <<<shared boilerplate sentence planted for round 12>>> ',"
        " substr(text, 51)) ELSE text END AS text",
    )
    marked = marked_positions(
        docs, "doc_id", "text", min_len=30, min_docs=3,
        depth=3, width=4096,
    ).persist()
    spans_hash = spans_from_marked(
        marked, "doc_id", min_len=30
    ).persist()
    spans_ver = spans_from_marked(
        verify_marked(marked, "doc_id", 3), "doc_id", min_len=30
    ).persist()
    return q_substring_dedup_hash(
        spark, sf_dir, spans=spans_hash
    ).unionByName(
        q_substring_verify(spark, sf_dir, spans=spans_ver)
    )


# ---------------------------------------------------------------------------
# the roster table that queries() and oracle_sql() are derived from
# ---------------------------------------------------------------------------


Query = Callable[[SparkSession, str], DataFrame]


class Arm(NamedTuple):
    """One constituent of a roster row: a tag naming it, the function that
    builds its frame, and the DuckDB SQL stating the same rows. ``oracle``
    is None for an arm whose rows the PREVIOUS arm's SQL already states
    (one attested string covering a surface built in two arms)."""

    tag: str
    query: Query
    oracle: str | None


class Row(NamedTuple):
    """A roster row. Its frame is the union of its arms' frames, built
    concurrently by :func:`_parallel_arms`, unless ``build`` is set: a
    row whose arms share a persisted intermediate builds them through
    that one function instead. A multi-arm row's frames are all-string
    (op, k, v) with disjoint op tags, so the union hashes each arm
    row-for-row."""

    arms: tuple[Arm, ...]
    build: Query | None = None


def _one(query: Query, oracle: str) -> Row:
    """A single-surface row: one arm, tagged ``full``."""
    return Row((Arm("full", query, oracle),))


#: The driver's 50 rows: row -> its arms. This table is the only place
#: that pairs a query function with its oracle; queries(), oracle_sql(),
#: and tools/profile_arms.py are derived from it. ROSTER.md has the op
#: tags each arm emits.
ROSTER: dict[str, Row] = {
    # relational steps (SURVEY §2.3)
    "add_select": _one(q_add_select, _ADD_SELECT_SQL),
    "group_by": _one(q_group_by, _GROUP_BY_SQL),
    "left_join": _one(q_left_join, _LEFT_JOIN_SQL),
    "flag_joins": _one(q_flag_joins, _FLAG_JOINS_SQL),
    "union": _one(q_union, _UNION_ROW_SQL),
    "join_header": _one(q_join_header, _JOIN_HEADER_SQL),
    "sync_filters": _one(q_sync_filters, _SYNC_FILTERS_SQL),
    "entity_ops": _one(q_entity_ops, _ENTITY_OPS_SQL),
    "scalar_functions": _one(q_scalar_functions, _SCALAR_FUNCTIONS_SQL),
    # data contract (SURVEY §2.5-2.6)
    "contract_cast": _one(q_contract_cast, _CONTRACT_CAST_SQL),
    "contract_messages": _one(q_contract_messages, _CONTRACT_MESSAGES_SQL),
    "contract_functions": _one(
        q_contract_functions, _CONTRACT_FUNCTIONS_SQL
    ),
    # grouped/rolling/event analytics
    "window_analytics": Row((
        Arm("topk", q_topk_group, _TOPK_GROUP_SQL),
        Arm("roll", q_rolling_agg, _ROLLING_AGG_SQL),
        Arm("pct", q_percentiles, _PERCENTILES_SQL),
        Arm("ru", q_rollup_cube, _ROLLUP_CUBE_SQL),
    )),
    "event_analytics": Row((
        Arm("ret", q_retention, _RETENTION_SQL),
        Arm("fb", q_funnel_batch, _FUNNEL_BATCH_SQL),
        Arm("fs", q_funnel_stream, _FUNNEL_STREAM_SQL),
        Arm("sroll", q_rolling_stream, _ROLLING_STREAM_SQL),
    )),
    # llmops (training-data pipeline operators)
    "dedup_exact": _one(q_dedup_exact, _DEDUP_EXACT_SQL),
    "dedup_minhash": _one(q_dedup_minhash, _DEDUP_MINHASH_SQL),
    "step_dedup_fuzzy": _one(q_step_dedup_fuzzy, _STEP_DEDUP_FUZZY_SQL),
    "dedup_simhash": _one(q_dedup_simhash, _DEDUP_SIMHASH_SQL),
    "bounded_pairs": _one(q_bounded_pairs, _BOUNDED_PAIRS_SQL),
    "connected_components": _one(
        q_connected_components, _CONNECTED_COMPONENTS_SQL
    ),
    "step_similarity_ann": _one(
        q_step_similarity_ann, _STEP_SIMILARITY_ANN_SQL
    ),
    "ann_variants": _one(q_ann_variants, _ANN_VARIANTS_SQL),
    "vector_stats": _one(q_vector_stats, _VECTOR_STATS_SQL),
    "embedding_neardup": _one(q_embedding_neardup, _EMBEDDING_NEARDUP_SQL),
    "quality_sync": _one(q_quality_sync, _QUALITY_SYNC_SQL),
    "text_stats": _one(q_text_stats, _TEXT_STATS_SQL),
    "sequence_prep": _one(q_sequence_prep, _SEQUENCE_PREP_SQL),
    "data_profiling": _one(q_data_profiling, _DATA_PROFILING_SQL),
    "text_retrieval": _one(q_text_retrieval, _TEXT_RETRIEVAL_SQL),
    "multimodal_meta": _one(q_multimodal_meta, _MULTIMODAL_META_SQL),
    # sources (SURVEY §2.1)
    "source_xml_json": _one(q_source_xml_json, _SOURCE_XML_JSON_SQL),
    # streaming (availableNow drains over the events table)
    "streaming_sync_messages": _one(
        q_streaming_sync_messages, _STREAMING_SYNC_MESSAGES_SQL
    ),
    "streaming_dedup": _one(q_streaming_dedup, _STREAMING_DEDUP_SQL),
    "streaming_window_counts": _one(
        q_streaming_window_counts, _STREAMING_WINDOW_COUNTS_SQL
    ),
    "sessionize": Row((
        Arm("b", q_sessionize_batch, _SESSIONIZE_BATCH_SQL),
        Arm("s", q_sessionize_stream, _SESSIONIZE_STREAM_SQL),
    )),
    # pipeline/infrastructure surfaces
    "report_aggregates": _one(q_report_aggregates, _REPORT_AGGREGATES_SQL),
    "pipeline_e2e": _one(q_pipeline_e2e, _PIPELINE_E2E_SQL),
    # embeddings, features and text families
    "semantic_dedup": Row((
        Arm("sem", q_semantic_dedup, _SEMANTIC_DEDUP_SQL),
        Arm("pq", q_pq, _PQ_SQL),
    )),
    "pca_project": _one(q_pca_project, _PCA_PROJECT_SQL),
    "feature_scores": _one(q_feature_scores, _FEATURE_SCORES_SQL),
    "span_dedup": Row((
        Arm("para", q_paragraph_dedup, _PARAGRAPH_DEDUP_SQL),
        Arm("spans", q_shared_spans, _SHARED_SPANS_SQL),
        Arm("inc", q_spans_incremental, _SPANS_INCREMENTAL_SQL),
    ), build=q_span_dedup),
    "sketches": Row((
        Arm("cms", _q_cms_batch, _CMS_SKETCH_SQL),
        Arm("cms_stream", _q_cms_stream, None),
        Arm("hll", q_hll_profile, _HLL_PROFILE_SQL),
        Arm("hh_tok", _q_hh_tok, _HEAVY_HITTERS_SQL),
        Arm("hh_src", _q_hh_src, None),
        Arm("bloom", q_bloom, _BLOOM_SQL),
        Arm("dsir", q_dsir, _DSIR_SQL),
        Arm("decon", q_decon_bloom, _DECON_BLOOM_SQL),
    )),
    "chunk_artifacts": Row((
        Arm("cdc", q_cdc_chunks, _CDC_CHUNKS_SQL),
        Arm("sentences", q_sentence_chunks, _SENTENCE_CHUNKS_SQL),
        Arm("paragraphs", q_stream_paragraphs,
            _STREAM_PARAGRAPHS_SQL),
        Arm("packs", q_materialize_packs, _MATERIALIZE_PACKS_SQL),
        Arm("shards", q_training_shards, _TRAINING_SHARDS_SQL),
        Arm("formats", q_source_formats, _SOURCE_FORMATS_SQL),
    )),
    "text_corpus": Row((
        Arm("normalize", q_text_normalize, _TEXT_NORMALIZE_SQL),
        Arm("chat", q_chat_prep, _CHAT_PREP_SQL),
        Arm("terms", q_corpus_terms, _CORPUS_TERMS_SQL),
        Arm("warc", q_warc, _WARC_SQL),
    )),
    "sampling_v2": Row((
        Arm("curation", q_curation, _CURATION_SQL),
        Arm("negs", q_negative_samples, _NEGATIVE_SAMPLES_SQL),
        Arm("interleave", q_interleave, _INTERLEAVE_SQL),
        Arm("nulled", _q_sampling_nulled_budget, _SAMPLING_NULLED_BUDGET_SQL),
        Arm("hardneg", q_hard_negatives, _HARD_NEGATIVES_SQL),
    )),
    "crawl_signals": Row((
        Arm("robots", q_robots, _ROBOTS_SQL),
        Arm("scripts", q_script_profile, _SCRIPT_PROFILE_SQL),
        Arm("rrf", q_rrf_fusion, _RRF_FUSION_SQL),
        Arm("graph", q_crawl_graph, _CRAWL_GRAPH_SQL),
    )),
    "classifier": Row((
        Arm("base", q_classifier_base, _CLASSIFIER_SQL),
        Arm("ev", _q_classifier_ev, _CLASSIFIER_EVAL_ORACLE),
    ), build=q_classifier),
    "substring_dedup": Row((
        Arm("hash", q_substring_dedup_hash, _SUBSTRING_DEDUP_SQL),
        Arm("verify", q_substring_verify, _SUBSTRING_VERIFY_SQL),
    ), build=q_substring_dedup),
    "index_maintenance": _one(
        q_index_maintenance, _INDEX_MAINTENANCE_SQL
    ),
    "stream_heavy": _one(q_stream_heavy, _STREAM_HEAVY_SQL),
}


def _row_query(row: Row) -> Query:
    if row.build is not None:
        return row.build
    if len(row.arms) == 1:
        return row.arms[0].query
    fns = [arm.query for arm in row.arms]
    return lambda spark, sf_dir: _parallel_arms(spark, sf_dir, *fns)


def _row_oracle(row: Row) -> str:
    # UNION ALL is associative and the value hash is order-insensitive,
    # so a row's SQL is its arms' SQL in one flat union
    parts = [arm.oracle for arm in row.arms if arm.oracle is not None]
    return parts[0] if len(parts) == 1 else _union_sql(*parts)


def queries() -> dict[str, Query]:
    """Exactly 50 queries: the driver's correctness artifact records at
    most 50 rows, so the budget is allocated deliberately (ROSTER.md)."""
    return {name: _row_query(row) for name, row in ROSTER.items()}


def oracle_sql() -> dict[str, str]:
    return {name: _row_oracle(row) for name, row in ROSTER.items()}

