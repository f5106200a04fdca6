"""Streaming lift smoke tests (availableNow trigger over events parquet)."""

from __future__ import annotations

import glob
import json

import pytest

from data_validation_engine_spark.errors import ConfigurationError
from data_validation_engine_spark.messages import Reporting
from data_validation_engine_spark.steps.configs import DeferredFilter, OneToOneJoin
from data_validation_engine_spark.streaming import (
    read_entity_stream,
    start_message_sink,
    streaming_sync_filters,
    windowed_counts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _nanos_as_long(spark):
    # Harmless for the current testdata (events.parquet stores timestamp[us]
    # at every scale factor); lets the same fixtures read a TIMESTAMP(NANOS)
    # file as nano-longs should the generator ever switch back — _with_ts
    # below converts dtype-aware either way.
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    yield
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)


def _with_ts(df):
    # Dtype-aware: a nanos-as-long read converts via timestamp_micros; the
    # current µs files load as TIMESTAMP_NTZ, which watermarks reject, so
    # cast to session-tz TIMESTAMP; a plain TIMESTAMP passes through.
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
    if isinstance(dt, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


@pytest.fixture()
def events_batch(spark):
    return _with_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    # the streaming file source reads a directory, not a single file
    import shutil

    d = tmp_path_factory.mktemp("events_stream_src")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-0.parquet")
    return str(d)


@pytest.fixture()
def events_stream(spark, events_dir):
    raw_schema = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
    return _with_ts(read_entity_stream(spark, events_dir, raw_schema))


FILTERS = [
    DeferredFilter(
        entity_name="stream",
        expression="value < 90",
        reporting=Reporting(code="BIG_VALUE", message="too big"),
    ),
    DeferredFilter(
        entity_name="stream",
        expression="event_type <> 'error'",
        reporting=Reporting(code="ERR_EVENT", message="error event"),
    ),
]


def test_streaming_filters_match_batch(spark, events_stream, events_batch, tmp_path):
    survivors, messages = streaming_sync_filters(events_stream, FILTERS)

    out = str(tmp_path / "survivors")
    q = (
        survivors.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out).count()
    expected = events_batch.where(
        "coalesce(value < 90, false) and coalesce(event_type <> 'error', false)"
    ).count()
    assert got == expected and got > 0


def test_streaming_message_sink_jsonl(spark, events_stream, events_batch, tmp_path):
    _, messages = streaming_sync_filters(events_stream, FILTERS)
    out = str(tmp_path / "errors")
    q = start_message_sink(
        messages, out, str(tmp_path / "ck2"), available_now=True
    )
    q.awaitTermination(120)

    lines = []
    for f in glob.glob(f"{out}/*.json"):
        with open(f) as fh:
            lines += [json.loads(line) for line in fh if line.strip()]
    n_err = events_batch.where("not coalesce(event_type <> 'error', false)").count()
    n_big = events_batch.where("not coalesce(value < 90, false)").count()
    assert len(lines) == n_err + n_big
    codes = {m["error_code"] for m in lines}
    assert codes == {"BIG_VALUE", "ERR_EVENT"}


def test_streaming_sync_without_filters_drains_empty_feed(
    spark, events_stream, tmp_path
):
    # with no filters the message feed must still be a stream: a batch
    # frame here made start_message_sink raise WRITE_STREAM_NOT_ALLOWED
    survivors, messages = streaming_sync_filters(events_stream, [])
    assert survivors.isStreaming and messages.isStreaming
    out = str(tmp_path / "errors")
    q = start_message_sink(
        messages, out, str(tmp_path / "ck_empty"), available_now=True
    )
    q.awaitTermination(120)
    assert q.exception() is None
    lines = []
    for f in glob.glob(f"{out}/*.json"):
        with open(f) as fh:
            lines += [line for line in fh if line.strip()]
    assert lines == []


@pytest.mark.slow
def test_windowed_counts_with_watermark(spark, events_stream, events_batch, tmp_path):
    agg = windowed_counts(
        events_stream, "ts", window="1 hour", watermark="2 hours",
        group_by=["event_type"],
    )
    out = str(tmp_path / "win")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # watermark append-mode emits only windows closed by the final watermark;
    # every emitted (window, type) count must match the batch group-by
    batch = {
        (r["w"], r["event_type"]): r["n"]
        for r in events_batch.selectExpr(
            "window(ts, '1 hour').start as w", "event_type", "1 as one"
        )
        .groupBy("w", "event_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    for r in got.select("window.start", "event_type", "n").collect():
        assert batch[(r["start"], r["event_type"])] == r["n"]


@pytest.mark.slow
def test_streaming_exact_dedup(spark, events_stream, events_batch, tmp_path):
    from data_validation_engine_spark.streaming import streaming_exact_dedup

    deduped = streaming_exact_dedup(
        events_stream, ["user_id", "event_type"], ts_col="ts", watermark="10 years"
    )
    out = str(tmp_path / "dedup")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).count()
    expected = events_batch.select("user_id", "event_type").distinct().count()
    assert got == expected


def test_integrity_steps_are_batch_only(spark, events_stream):
    from data_validation_engine_spark import StepEngine

    eng = StepEngine(spark, register_functions=False)
    ents = {
        "events": events_stream,
        "lookup": spark.read.parquet(f"{SF_DIR}/events.parquet"),
    }
    with pytest.raises(ConfigurationError, match="batch-only"):
        eng.evaluate(
            ents,
            config=OneToOneJoin(
                entity_name="events",
                target_name="lookup",
                join_condition="events.event_id = lookup.event_id",
                new_columns={"lookup.value": "v2"},
            ),
        )


def test_streaming_rejects_batch_frame(spark, events_batch):
    with pytest.raises(ConfigurationError, match="streaming"):
        streaming_sync_filters(events_batch, FILTERS)


@pytest.mark.slow
def test_streaming_sync_messages_query_matches_batch(spark):
    """The driver-facing streaming_sync_messages query (availableNow drain
    over events.parquet) must agree with the batch sync stage run over the
    same rows — message-level stream/batch parity at the entry-point
    surface, not just the module surface."""
    import __spark_entry__ as entry

    from data_validation_engine_spark.steps.sync_filters import (
        apply_sync_filters,
    )

    sf_dir = "/root/testdata/sf0.001"
    feed = entry.queries()["streaming_sync_messages"](spark, sf_dir)
    # the row is a tagged union since round 7; 'msg' rows are the feed
    got = {
        (r["error_code"], r["record_key"])
        for r in feed.where("op = 'msg'").collect()
    }

    events = spark.read.schema(
        "event_id long, user_id long, event_type string, "
        "value double, props string"
    ).parquet(f"{sf_dir}/events.parquet")
    entities = {"events": events}
    msgs = apply_sync_filters(
        entities,
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
    expected = {
        (r["error_code"], int(r["value"])) for r in msgs.collect()
    }
    assert got == expected and len(got) > 0


@pytest.mark.slow
def test_streaming_sessionize_matches_batch(spark, events_stream, events_batch):
    """The applyInPandasWithState session operator on a single availableNow
    drain assigns exactly the batch gaps-and-islands sessions."""
    import tempfile

    from data_validation_engine_spark.streaming import (
        sessionize,
        streaming_sessionize,
    )

    out = tempfile.mkdtemp(prefix="dve_sessions_")
    q = (
        streaming_sessionize(
            events_stream, "user_id", "ts", gap_seconds=1800,
            watermark="366 days",
        )
        .writeStream.format("parquet")
        .option("path", f"{out}/data")
        .option("checkpointLocation", f"{out}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    from pyspark.sql import functions as F

    got = {
        (r["user_id"], r["event_ts_us"], r["session_idx"])
        for r in spark.read.parquet(f"{out}/data").collect()
    }
    want = {
        (r["user_id"], r["ts_us"], r["session_idx"])
        for r in sessionize(
            events_batch, "user_id", "ts", gap_seconds=1800
        )
        .withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
        .collect()
    }
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_streaming_sessionize_multichunk_string_key(
    spark, events_stream, events_batch
):
    """Arrow delivers a key's rows as multiple chunks in shuffle-arrival
    order; the operator must still assign sessions in global event-time
    order (pd.concat-then-sort, not per-chunk sort). Forced here with a
    tiny maxRecordsPerBatch and a string key (non-long key types must
    round-trip through the derived output schema)."""
    import tempfile

    from pyspark.sql import functions as F

    from data_validation_engine_spark.streaming import (
        sessionize,
        streaming_sessionize,
    )

    skey_stream = events_stream.withColumn(
        "user_s", F.concat(F.lit("u"), F.col("user_id"))
    )
    skey_batch = events_batch.withColumn(
        "user_s", F.concat(F.lit("u"), F.col("user_id"))
    )
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    out = tempfile.mkdtemp(prefix="dve_sessions_chunk_")
    try:
        q = (
            streaming_sessionize(
                skey_stream, "user_s", "ts", gap_seconds=1800,
                watermark="366 days",
            )
            .writeStream.format("parquet")
            .option("path", f"{out}/data")
            .option("checkpointLocation", f"{out}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    res = spark.read.parquet(f"{out}/data")
    assert res.schema["user_s"].dataType.simpleString() == "string"
    got = {
        (r["user_s"], r["event_ts_us"], r["session_idx"])
        for r in res.collect()
    }
    want = {
        (r["user_s"], r["ts_us"], r["session_idx"])
        for r in sessionize(
            skey_batch, "user_s", "ts", gap_seconds=1800
        )
        .withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
        .collect()
    }
    assert got == want and len(got) > 0


def test_sessionize_batch_only_guards(spark, events_stream, events_batch):
    from data_validation_engine_spark.streaming import (
        sessionize,
        streaming_sessionize,
    )

    with pytest.raises(ConfigurationError, match="batch-only"):
        sessionize(events_stream, "user_id", "ts")
    with pytest.raises(ConfigurationError, match="streaming"):
        streaming_sessionize(events_batch, "user_id", "ts")


def test_session_stats_rollup(spark, events_batch):
    from pyspark.sql import functions as F

    from data_validation_engine_spark.streaming import (
        session_stats,
        sessionize,
    )

    stats = session_stats(events_batch, "user_id", "ts", gap_seconds=1800)
    detail = sessionize(events_batch, "user_id", "ts", gap_seconds=1800)
    assert stats.agg({"n_events": "sum"}).first()[0] == detail.count()
    # session indices are 1-based and contiguous per user
    per_user = {
        r["user_id"]: r["mx"]
        for r in stats.groupBy("user_id")
        .agg(F.max("session_idx").alias("mx"), F.count("*").alias("n"))
        .where("mx = n")
        .collect()
    }
    assert len(per_user) == stats.select("user_id").distinct().count()


@pytest.mark.slow
def test_streaming_corpus_quality_gates(spark, tmp_path):
    """Corpus cleaning composes onto streams with no new code: the llmops
    quality gates are ordinary DeferredFilters, so streaming_sync_filters
    lifts them verbatim — survivors match the batch sync stage."""
    import shutil

    from data_validation_engine_spark.llmops import quality_filters
    from data_validation_engine_spark.steps.sync_filters import (
        apply_sync_filters,
    )
    from data_validation_engine_spark.streaming import (
        read_entity_stream,
        streaming_sync_filters,
    )

    d = tmp_path / "docs_src"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-0.parquet")
    schema = spark.read.parquet(f"{SF_DIR}/documents.parquet").schema
    gates = quality_filters("stream", min_tokens=40)

    sdf = read_entity_stream(spark, str(d), schema)
    survivors, _ = streaming_sync_filters(sdf, gates)
    out = str(tmp_path / "clean")
    q = (
        survivors.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()}

    ents = {"stream": spark.read.parquet(f"{SF_DIR}/documents.parquet")}
    apply_sync_filters(ents, quality_filters("stream", min_tokens=40))
    want = {r["doc_id"] for r in ents["stream"].select("doc_id").collect()}
    assert got == want and 0 < len(got) < 500


def test_streaming_hash_split_lifts_unchanged(spark, tmp_path):
    """hash_split is a stateless per-row projection, so it lifts onto a
    stream with zero new code and assigns every doc the SAME split as the
    batch path — the row-stability claim, proven across execution modes."""
    import shutil

    from data_validation_engine_spark.llmops import hash_split
    from data_validation_engine_spark.streaming import read_entity_stream

    d = tmp_path / "docs_src"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-0.parquet")
    schema = spark.read.parquet(f"{SF_DIR}/documents.parquet").schema

    sdf = hash_split(
        read_entity_stream(spark, str(d), schema).select("doc_id"), "doc_id"
    )
    out = str(tmp_path / "split_out")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck_split"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r["split"] for r in spark.read.parquet(out).collect()
    }
    want = {
        r["doc_id"]: r["split"]
        for r in hash_split(
            spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
                "doc_id"
            ),
            "doc_id",
        ).collect()
    }
    assert got == want and len(set(got.values())) > 1


def test_streaming_stratified_sample_lifts_unchanged(spark, tmp_path):
    """stratified_sample is a stateless predicate, so the streaming drain
    keeps exactly the batch path's rows — target-mix downsampling works
    identically on a stream."""
    import shutil

    from data_validation_engine_spark.llmops import stratified_sample
    from data_validation_engine_spark.streaming import read_entity_stream

    d = tmp_path / "docs_src"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-0.parquet")
    schema = spark.read.parquet(f"{SF_DIR}/documents.parquet").schema
    fr = {"en": 0.4, "code": 0.1}

    sdf = stratified_sample(
        read_entity_stream(spark, str(d), schema), "doc_id", "lang", fr
    )
    out = str(tmp_path / "mix_out")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck_mix"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    want = {
        r["doc_id"]
        for r in stratified_sample(
            spark.read.parquet(f"{SF_DIR}/documents.parquet"),
            "doc_id",
            "lang",
            fr,
        ).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_interval_join_lifts_unchanged(spark, tmp_path):
    """interval_join against a STATIC window table is explode + inner
    equi-join — both stream-legal, so the bucketized range join lifts
    onto a stream with zero new code and emits exactly the batch pairs
    (stream-static enrichment: live events x published windows)."""
    import shutil

    from pyspark.sql import functions as F

    from data_validation_engine_spark.llmops.interval import interval_join
    from data_validation_engine_spark.streaming import read_entity_stream

    d = tmp_path / "ev_src"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-0.parquet")
    schema = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
    batch = _with_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))

    windows = (
        batch.where("event_type = 'purchase'")
        .select(
            F.col("event_id").alias("win_id"),
            "user_id",
            F.col("ts").alias("s"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
        )
    )

    def clicks(df):
        return df.where("event_type <> 'purchase'").select(
            "event_id",
            "user_id",
            F.col("ts").alias("s"),
            (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("e"),
        )

    sdf = interval_join(
        clicks(_with_ts(read_entity_stream(spark, str(d), schema))),
        windows,
        left_start="s",
        left_end="e",
        right_start="s",
        right_end="e",
        on="user_id",
        bucket_width=600.0,
    ).select("event_id", "r_win_id")
    out = str(tmp_path / "iv_out")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck_iv"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.event_id, r.r_win_id) for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.event_id, r.r_win_id)
        for r in interval_join(
            clicks(batch),
            windows,
            left_start="s",
            left_end="e",
            right_start="s",
            right_end="e",
            on="user_id",
            bucket_width=600.0,
        )
        .select("event_id", "r_win_id")
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_rolling_counts_matches_batch(
    spark, events_stream, events_batch, tmp_path
):
    """The custom stateful trailing-window counter emits, for every
    event, exactly the batch RANGE-frame count — rolling analytics that
    Structured Streaming's built-in (grouped) windows cannot express."""
    from pyspark.sql import functions as F

    from data_validation_engine_spark.llmops.analytics import rolling_agg
    from data_validation_engine_spark.streaming import (
        streaming_rolling_counts,
    )

    out = str(tmp_path / "roll_out")
    q = (
        streaming_rolling_counts(
            _with_ts(events_stream),
            "user_id",
            "ts",
            window_seconds=3600,
            watermark="366 days",
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck_roll"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r.event_ts_us, r.n_window)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.user_id, r.ts_us, r.n_window)
        for r in rolling_agg(
            events_batch,
            partition_cols="user_id",
            ts_col="ts",
            window_seconds=3600,
            aggs={"n_window": F.count(F.lit(1))},
        )
        .withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
        .select("user_id", "ts_us", "n_window")
        .collect()
    }
    assert got == want and len(got) == events_batch.count()


@pytest.mark.slow
def test_streaming_rolling_counts_carries_state_across_batches(
    spark, tmp_path
):
    """State carries the window tail across micro-batches: a second file
    drop's counts include first-drop events inside the trailing hour."""
    import datetime as dt

    from data_validation_engine_spark.streaming import (
        read_entity_stream,
        streaming_rolling_counts,
    )

    src = tmp_path / "roll_src"
    src.mkdir()
    schema = "user long, ts timestamp"
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        import shutil, glob

        part = glob.glob(str(tmp_path / name / "part-*.parquet"))[0]
        shutil.copy(part, src / f"{name}.parquet")

    write_batch(
        "b1",
        [(1, t0), (1, t0 + dt.timedelta(minutes=30))],
    )
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def drain():
        q = (
            streaming_rolling_counts(
                read_entity_stream(spark, str(src), schema),
                "user",
                "ts",
                window_seconds=3600,
                watermark="366 days",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()
    # second drop: 50 min after t0 — both earlier events are inside its
    # trailing hour, so the count must be 3 (state, not just this batch)
    write_batch("b2", [(1, t0 + dt.timedelta(minutes=50))])
    drain()
    from pyspark.sql import functions as F

    rows = {
        (r.event_ts, r.n_window)
        for r in spark.read.parquet(out)
        .withColumn("event_ts", F.timestamp_micros(F.col("event_ts_us")))
        .collect()
    }
    assert (t0, 1) in rows
    assert (t0 + dt.timedelta(minutes=30), 2) in rows
    assert (t0 + dt.timedelta(minutes=50), 3) in rows


def test_streaming_chunk_and_scrub_lift_unchanged(spark, tmp_path):
    """chunk_documents and pii_scrub are stateless per-row projections
    (+ explode), so they lift onto a stream with zero new code and emit
    the SAME rows as the batch path."""
    import shutil

    from data_validation_engine_spark.llmops import chunk_documents, pii_scrub
    from data_validation_engine_spark.streaming import read_entity_stream

    d = tmp_path / "docs_src"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-0.parquet")
    batch = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    schema = batch.schema

    sdf = chunk_documents(
        read_entity_stream(spark, str(d), schema),
        "doc_id", "text", chunk_tokens=32, overlap=8,
    )
    out = str(tmp_path / "chunk_out")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck_chunk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {
        tuple(r)
        for r in chunk_documents(
            batch, "doc_id", "text", chunk_tokens=32, overlap=8
        ).collect()
    }
    assert got == want and len(got) > len(
        {r[0] for r in got}
    )  # more chunks than docs: the explode really ran

    sdf2 = pii_scrub(
        read_entity_stream(spark, str(d), schema), "doc_id", "text"
    )
    out2 = str(tmp_path / "scrub_out")
    q2 = (
        sdf2.writeStream.format("parquet")
        .option("path", out2)
        .option("checkpointLocation", str(tmp_path / "ck_scrub"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got2 = {tuple(r) for r in spark.read.parquet(out2).collect()}
    want2 = {tuple(r) for r in pii_scrub(batch, "doc_id", "text").collect()}
    assert got2 == want2 and len(got2) > 0


def test_streaming_incremental_dedup_matches_batch_keys(spark, tmp_path):
    """Continuous-ingestion dedup vs a static corpus: the streamed
    survivor KEY SET equals the batch incremental_exact_dedup key set
    (the batch operator picks the order-min representative, the stream
    keeps first-arrival — the kept keys must be identical either way)."""
    import shutil

    from data_validation_engine_spark.llmops import incremental_exact_dedup
    from data_validation_engine_spark.streaming import (
        read_entity_stream,
        streaming_incremental_dedup,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.where("doc_id % 3 = 0")
    # the batch: planted corpus-dup (text already in corpus), planted
    # intra-batch dup (same text twice), and fresh rows
    batch = (
        docs.where("doc_id % 3 = 1")
        .unionAll(corpus.limit(20))                  # corpus dups
        .unionAll(docs.where("doc_id % 3 = 1").limit(10))  # intra dups
    )
    d = tmp_path / "batch_src"
    d.mkdir()
    batch.coalesce(1).write.mode("overwrite").parquet(str(d))

    sdf = streaming_incremental_dedup(
        read_entity_stream(spark, str(d), batch.schema),
        corpus,
        "text",
    )
    out = str(tmp_path / "inc_out")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck_inc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_keys = {
        r["text"] for r in spark.read.parquet(out).select("text").collect()
    }
    want_keys = {
        r["text"]
        for r in incremental_exact_dedup(
            batch, corpus, "text", order_col="doc_id"
        ).collect()
    }
    assert got_keys == want_keys and len(got_keys) > 0
    # corpus texts never survive
    assert not (got_keys & {r["text"] for r in corpus.collect()})


def test_streaming_incremental_dedup_rejects_batch_frame(spark):
    import pytest as _pytest

    from data_validation_engine_spark.errors import ConfigurationError
    from data_validation_engine_spark.streaming import (
        streaming_incremental_dedup,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with _pytest.raises(ConfigurationError):
        streaming_incremental_dedup(docs, docs, "text")


def test_streaming_multimodal_transform_lifts_unchanged(spark, tmp_path):
    """The Arrow-batched binary transform (mapInPandas bytes-to-bytes) is
    stream-legal: draining an availableNow stream through transform_binary
    emits row-identical output to the batch path — the multimodal decode/
    resize plumbing needs zero new code for continuous ingestion."""
    import shutil

    from data_validation_engine_spark.llmops.multimodal import (
        attach_binary,
        fake_resizer,
        transform_binary,
    )
    from data_validation_engine_spark.streaming import read_entity_stream

    d = tmp_path / "docs_src"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-0.parquet")
    batch = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def run(df):
        wrapped = attach_binary(df, "text")
        return transform_binary(
            wrapped, "doc_id", transform=fake_resizer(32)
        )

    sdf = run(read_entity_stream(spark, str(d), batch.schema))
    out = str(tmp_path / "mm_out")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck_mm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
        for r in run(batch).collect()
    }
    assert got == want and len(got) == batch.count()


def test_streaming_incremental_dedup_normalized_parity(spark, tmp_path):
    """normalize_text applies to BOTH stages (corpus anti-join AND
    intra-stream dedup), matching batch semantics: whitespace/case
    variants of one text keep exactly one survivor."""
    from data_validation_engine_spark.llmops import incremental_exact_dedup
    from data_validation_engine_spark.streaming import (
        read_entity_stream,
        streaming_incremental_dedup,
    )

    corpus = spark.createDataFrame(
        [(100, "known text")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(1, "Foo  Bar"), (2, "foo bar"), (3, "KNOWN   text"),
         (4, "fresh thing")],
        "doc_id long, text string",
    )
    d = tmp_path / "src"
    d.mkdir()
    batch.coalesce(1).write.mode("overwrite").parquet(str(d))
    sdf = streaming_incremental_dedup(
        read_entity_stream(spark, str(d), batch.schema),
        corpus, "text", normalize_text=True,
    )
    out = str(tmp_path / "out")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    want = sorted(
        r["doc_id"]
        for r in incremental_exact_dedup(
            batch, corpus, "text", order_col="doc_id", normalize_text=True
        ).collect()
    )
    # 3 drops (corpus dup modulo case/whitespace); {1,2} collapse to one
    assert len(got) == len(want) == 2 and 4 in got and 3 not in got


def test_streaming_incremental_dedup_rejects_streaming_corpus(spark, tmp_path):
    import shutil

    import pytest as _pytest

    from data_validation_engine_spark.errors import ConfigurationError
    from data_validation_engine_spark.streaming import (
        read_entity_stream,
        streaming_incremental_dedup,
    )

    d = tmp_path / "src"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "p.parquet")
    schema = spark.read.parquet(f"{SF_DIR}/documents.parquet").schema
    stream = read_entity_stream(spark, str(d), schema)
    with _pytest.raises(ConfigurationError):
        streaming_incremental_dedup(stream, stream, "text")


def test_streaming_fuzzy_linkage_lifts_unchanged(spark, tmp_path):
    """Record linkage on ingest: fuzzy_string_join with a STREAMING left
    side against a static register is a stream-static equi-join on the
    block key plus per-row verification — stateless, so it lifts with
    zero new code and emits the identical pair set as the batch path
    (including the length-bucket hot-block decomposition, whose explode
    replicates only the STATIC register side)."""
    import shutil

    from data_validation_engine_spark.llmops import fuzzy_string_join
    from data_validation_engine_spark.streaming import read_entity_stream

    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    register = part.selectExpr(
        "p_partkey AS rid",
        "substring(p_name, 1, length(p_name) - 1) AS rname",
    )
    d = tmp_path / "names_src"
    d.mkdir()
    left_batch = part.selectExpr("p_partkey AS id", "p_name AS name")
    left_batch.write.parquet(str(d), mode="overwrite")

    sdf = fuzzy_string_join(
        read_entity_stream(spark, str(d), left_batch.schema),
        register,
        "name",
        "rname",
        max_distance=1,
        length_bucket=2,
    )
    out = str(tmp_path / "linked_out")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck_linked"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.id, r.r_rid, r.distance)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.id, r.r_rid, r.distance)
        for r in fuzzy_string_join(
            left_batch, register, "name", "rname",
            max_distance=1, length_bucket=2,
        ).collect()
    }
    assert got == want
    # every part matches its truncated register twin at distance 1 (or 0
    # for single-char tails) — non-trivial result guaranteed
    assert len(got) >= part.count()


def test_streaming_kmv_distinct_matches_batch_sketch(spark, tmp_path):
    """Windowed approximate distinct counts with O(k) state: the third
    custom stateful operator. On a single availableNow drain the final
    emission per window equals the BATCH kmv_distinct grouped by the
    same tumbling bucket — n_seen, k-th hash, and the estimate itself —
    the mergeable-sketch law carried onto streams."""
    import shutil

    from data_validation_engine_spark.llmops.sketch import kmv_distinct
    from data_validation_engine_spark.streaming import (
        read_entity_stream,
        streaming_kmv_distinct,
        window_start_col,
    )

    d = tmp_path / "ev_src"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-0.parquet")
    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")

    k = 8
    sdf = streaming_kmv_distinct(
        read_entity_stream(spark, str(d), batch.schema),
        "ts",
        "user_id",
        window_seconds=86400,
        k=k,
    )
    out = str(tmp_path / "kmv_out")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck_kmv"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.window_start: (r.n_seen, r.kth_hash, r.approx_distinct)
        for r in spark.read.parquet(out).collect()
    }
    import pyspark.sql.functions as F

    want_df = kmv_distinct(
        batch.withColumn(
            "window_start", window_start_col(F.col("ts"), 86400)
        ),
        ["window_start"],
        "user_id",
        k=k,
    )
    want = {
        r.window_start: (r.n_seen, r.kth_hash, r.approx_distinct)
        for r in want_df.collect()
    }
    assert got == want and len(got) > 1
    # at least one window must exercise the saturated-estimator path
    assert any(v[1] is not None for v in got.values())


def test_streaming_kmv_rejects_batch_frame(spark):
    import pytest as _pytest

    from data_validation_engine_spark.errors import ConfigurationError
    from data_validation_engine_spark.streaming import streaming_kmv_distinct

    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    with _pytest.raises(ConfigurationError):
        streaming_kmv_distinct(batch, "ts", "user_id")


@pytest.mark.slow
def test_streaming_kmv_state_merges_across_batches(spark, tmp_path):
    """The sketch state carries across micro-batches: a second file drop
    MERGES into the window's min-k set (mergeable-sketch law), and the
    final emission equals the batch sketch of the unioned data."""
    import datetime as dt
    import glob
    import shutil

    import pyspark.sql.functions as F

    from data_validation_engine_spark.llmops.sketch import kmv_distinct
    from data_validation_engine_spark.streaming import (
        read_entity_stream,
        streaming_kmv_distinct,
        window_start_col,
    )

    src = tmp_path / "kmvb_src"
    src.mkdir()
    schema = "user long, ts timestamp"
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        part = glob.glob(str(tmp_path / name / "part-*.parquet"))[0]
        shutil.copy(part, src / f"{name}.parquet")

    out = str(tmp_path / "kmvb_out")
    ck = str(tmp_path / "kmvb_ck")

    def drain():
        q = (
            streaming_kmv_distinct(
                read_entity_stream(spark, str(src), schema),
                "ts",
                "user",
                window_seconds=3600,
                k=4,
                watermark="366 days",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch("b1", [(u, t0) for u in range(1, 5)])
    drain()
    write_batch("b2", [(u, t0 + dt.timedelta(minutes=5)) for u in range(3, 10)])
    drain()
    rows = sorted(
        spark.read.parquet(out).collect(), key=lambda r: r.n_seen
    )
    # two emissions for the same window: first batch's partial sketch
    # (4 users, exactly k -> saturated) then the merged final one
    assert [r.window_start for r in rows] == [rows[0].window_start] * 2
    final = rows[-1]
    batch_all = spark.createDataFrame(
        [(u, t0) for u in range(1, 5)]
        + [(u, t0 + dt.timedelta(minutes=5)) for u in range(3, 10)],
        schema,
    )
    want = kmv_distinct(
        batch_all.withColumn(
            "window_start", window_start_col(F.col("ts"), 3600)
        ),
        ["window_start"],
        "user",
        k=4,
    ).collect()[0]
    assert (final.n_seen, final.kth_hash, final.approx_distinct) == (
        want.n_seen, want.kth_hash, want.approx_distinct,
    )


def test_stream_interval_join_matches_batch(
    spark, events_stream, events_batch, tmp_path
):
    """Stream-stream interval join (purchase <- preceding clicks) drained
    under availableNow equals the identical join over batch frames."""
    from data_validation_engine_spark.streaming import stream_interval_join

    def attribution(left, right):
        joined = stream_interval_join(
            left.where("event_type = 'purchase'"),
            right.where("event_type = 'click'"),
            "user_id",
            lower_seconds=6 * 3600,
            upper_seconds=0,
            watermark="366 days",
        )
        return joined.selectExpr(
            "user_id",
            "event_id AS purchase_id",
            "r_event_id AS click_id",
            "CAST(unix_micros(ts) - unix_micros(r_ts) AS BIGINT) AS gap_us",
        )

    out = str(tmp_path / "attr")
    q = (
        attribution(events_stream, events_stream)
        .writeStream.format("parquet")
        .option("path", f"{out}/data")
        .option("checkpointLocation", f"{out}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/data").collect()
    )
    batch = sorted(
        tuple(r) for r in attribution(events_batch, events_batch).collect()
    )
    assert streamed == batch
    assert len(batch) > 0
    assert all(0 <= g <= 6 * 3600 * 1_000_000 for *_, g in batch)


def test_stream_interval_join_validation(spark, events_batch):
    from data_validation_engine_spark.streaming import stream_interval_join

    with pytest.raises(ValueError, match="at least one key"):
        stream_interval_join(
            events_batch, events_batch, [],
            lower_seconds=1, upper_seconds=1, watermark="1 hour",
        )
    with pytest.raises(ValueError, match="non-negative"):
        stream_interval_join(
            events_batch, events_batch, "user_id",
            lower_seconds=-1, upper_seconds=0, watermark="1 hour",
        )
    with pytest.raises(ValueError, match="prefix"):
        stream_interval_join(
            events_batch.withColumnRenamed("props", "r_props"),
            events_batch, "user_id",
            lower_seconds=1, upper_seconds=1, watermark="1 hour",
        )
