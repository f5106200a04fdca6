"""Streaming filters, notifications, and windowed aggregation.

Semantics vs the batch sync stage (steps/sync_filters.py): within a
micro-batch the behaviour is identical (all predicates evaluated, messages
emitted, failing rows dropped). "Validate-all-THEN-drop" across the whole
dataset is meaningless on an unbounded stream — the unit of synchronisation
is the micro-batch, which is the standard streaming relaxation.

Everything here is stateless row-wise work except :func:`windowed_counts`
(watermarked window aggregation — bounded state, late rows beyond the
watermark dropped by Spark's state store).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from data_validation_engine_spark.errors import ConfigurationError
from data_validation_engine_spark.steps.configs import DeferredFilter
from data_validation_engine_spark.steps.sync_filters import sync_entity


def read_entity_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    *,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """``readStream`` an entity directory with an explicit schema.

    Schema is always declared (never inferred) — same stance as the batch
    readers and the reference (dve spark/contract.py:211). ``path`` must be
    a DIRECTORY (Spark's file stream source requirement); select specific
    files with ``options={"pathGlobFilter": "events.parquet"}``.
    """
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load(path)


def streaming_sync_filters(
    sdf: DataFrame, filters: list[DeferredFilter]
) -> tuple[DataFrame, DataFrame]:
    """Lift the sync-filter stage onto a stream.

    Returns ``(survivors, messages)`` — both streaming DataFrames, even
    with no filters. Each micro-batch runs the batch stage's own
    per-entity body (``steps.sync_filters.sync_entity``), so predicates,
    messages and the survivor conjunction are identical to batch.
    """
    if not sdf.isStreaming:
        raise ConfigurationError(
            "streaming_sync_filters requires a streaming DataFrame; "
            "use apply_sync_filters for batch entities"
        )
    return sync_entity("stream", sdf, filters)


def start_message_sink(
    messages: DataFrame,
    path: str,
    checkpoint: str,
    *,
    available_now: bool = False,
) -> StreamingQuery:
    """Write the streaming message feed as JSONL (same format as the batch
    error sink) via ``writeStream``; ``available_now=True`` drains the
    source and stops (batch-over-stream testing/backfill)."""
    writer = (
        messages.writeStream.format("json")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_exact_dedup(
    sdf: DataFrame,
    key_cols: list[str],
    *,
    ts_col: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup on key columns.

    With ``ts_col`` the state store only retains keys inside the watermark
    horizon (``dropDuplicatesWithinWatermark`` — bounded state, the only
    scale-safe form on an unbounded stream); without it, state grows with
    distinct keys and is only suitable for bounded backfills.
    """
    if not sdf.isStreaming:
        raise ConfigurationError(
            "streaming_exact_dedup requires a streaming DataFrame; use "
            "llmops.exact_dedup for batch"
        )
    if ts_col is not None:
        return sdf.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            key_cols
        )
    return sdf.dropDuplicates(key_cols)


def streaming_incremental_dedup(
    sdf: DataFrame,
    corpus_df: DataFrame,
    key_cols: list[str] | str,
    *,
    normalize_text: bool = False,
    ts_col: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Continuous-ingestion dedup: drop stream rows whose key already
    exists in a STATIC corpus, then dedup within the stream itself.

    Both sides key on the SHARED ``llmops.dedup.dedup_key`` expression
    (one definition, so batch/stream/corpus key sets can never drift),
    joined stream-static LEFT ANTI — stateless and stream-legal at any
    corpus size (Spark broadcasts or shuffles the static side once per
    micro-batch; at 100 TB the corpus keys are a maintained side-table,
    same plan). Intra-stream duplicates then dedup on the SAME key column
    with the watermark-bounded state of :func:`streaming_exact_dedup`, so
    ``normalize_text`` applies to both stages exactly as it does in the
    batch ``incremental_exact_dedup`` — the parity test pins the key sets
    against it.
    """
    from data_validation_engine_spark.llmops.dedup import dedup_key

    if not sdf.isStreaming:
        raise ConfigurationError(
            "streaming_incremental_dedup requires a streaming DataFrame; "
            "use llmops.incremental_exact_dedup for batch"
        )
    if corpus_df.isStreaming:
        raise ConfigurationError(
            "streaming_incremental_dedup needs a STATIC corpus_df (a "
            "streaming right side of a left-anti join is unsupported); "
            "snapshot the corpus or maintain its key side-table"
        )

    key = dedup_key(key_cols, normalize_text=normalize_text)
    corpus_keys = corpus_df.select(key.alias("__dedup_key"))
    fresh = sdf.withColumn("__dedup_key", key).join(
        corpus_keys, on="__dedup_key", how="left_anti"
    )
    return streaming_exact_dedup(
        fresh, ["__dedup_key"], ts_col=ts_col, watermark=watermark
    ).drop("__dedup_key")


def windowed_counts(
    sdf: DataFrame,
    ts_col: str,
    *,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
    group_by: list[str] | None = None,
) -> DataFrame:
    """Watermarked windowed counts over an event-time column.

    Late rows beyond ``watermark`` are dropped by the state store, keeping
    state bounded on an unbounded stream.
    """
    wm = sdf.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(
        F.col(ts_col), window
    )
    keys = [win] + [F.col(c) for c in (group_by or [])]
    return wm.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
