"""Scale utilities: co-located (bucketed) joins and skew salting.

The operators in :mod:`steps` rely on Catalyst/AQE to pick join strategies;
these helpers cover the two cases where the 100 TB plan needs explicit
layout decisions the optimizer cannot make for you:

- **Bucketing** (:func:`write_bucketed`, for repeatedly-joined tables):
  pre-shuffle both sides into the same bucket layout at write time so every
  subsequent equi-join on the bucket key is shuffle-free (SortMergeJoin
  over pre-bucketed scans, no Exchange). Pay the shuffle once, not per
  query.
- **Salting** (:func:`salted_left_join`, for skewed keys AQE cannot fix —
  e.g. a broadcast-ineligible build side with one hot key): the source
  scatters each row to one of ``n_salts`` sub-keys and the target is
  replicated ``n_salts`` times, so a hot key's rows spread over
  ``n_salts`` tasks instead of one straggler. AQE's skew-join handles most
  cases (``spark.sql.adaptive.skewJoin.enabled`` is on by default); reach
  for salting only when the skewed side also needs aggregation or AQE's
  split thresholds don't trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    *,
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Write a table bucketed (and optionally sorted) by join keys.

    Joins between tables bucketed identically on their join key read
    co-located buckets and skip the shuffle entirely; sorting inside
    buckets additionally skips the sort of a SortMergeJoin.
    """
    writer = (
        df.write.mode(mode)
        .format(fmt)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def count_shuffles(df: DataFrame) -> int:
    """Number of shuffle exchanges in the executed plan (plan audit
    helper: a co-located join should report 0)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line or "Exchange rangepartitioning" in line
    )


def salted_left_join(
    source: DataFrame,
    target: DataFrame,
    on: str,
    *,
    n_salts: int = 8,
    how: str = "left",
) -> DataFrame:
    """Equi-join with the source's hot keys scattered over ``n_salts``
    sub-keys and the target replicated to match.

    Deterministic scatter (hash of the whole source row modulo
    ``n_salts``), so reruns produce identical task assignment. Result
    equals ``source.join(target, on, how)`` for 1:1/1:N targets; the
    target replication multiplies the small side, so keep it broadcast-
    sized per salt.
    """
    src = source.withColumn(
        "__salt",
        F.pmod(
            F.hash(*[F.col(c) for c in source.columns]), F.lit(n_salts)
        ).cast("int"),
    )
    tgt = target.crossJoin(
        F.broadcast(
            src.sparkSession.range(n_salts).select(
                F.col("id").cast("int").alias("__salt")
            )
        )
    )
    joined = src.join(tgt, on=[on, "__salt"], how=how)
    return joined.drop("__salt")


def write_range_partitioned(
    df: DataFrame,
    path: str,
    cluster_cols: list[str] | str,
    *,
    num_partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered on ``cluster_cols``: rows are range-
    partitioned across files and sorted within each file, so every file
    (and row group) covers a narrow value range. Parquet min/max
    statistics then let later range/point predicates on those columns
    skip whole files — the poor man's Z-order, and the right layout for
    time-series or id-range scan patterns at 100 TB.

    One range shuffle at write time (sampling pass + exchange); reads pay
    nothing. Unlike ``partitionBy`` (directory-per-value, wrong for
    high-cardinality keys) this keeps file count = ``num_partitions``.
    """
    cols = [cluster_cols] if isinstance(cluster_cols, str) else list(cluster_cols)
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(parts, *[F.col(c) for c in cols])
        .sortWithinPartitions(*[F.col(c) for c in cols])
        .write.mode(mode)
        .parquet(path)
    )


def plan_report(df: DataFrame) -> dict:
    """Physical-plan audit of a DataFrame, as data: the checks the scale
    tests pin (shuffle count, join strategies, nested-loop fallbacks,
    whole-stage codegen, scan-level filter pushdown) packaged for use in
    CI or a REPL — ``assert plan_report(df)["cartesian_or_nested_loop"]
    == 0`` is the one-line 100 TB smoke test.
    """
    import contextlib
    import io
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    joins = {
        kind: plan.count(kind)
        for kind in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
        )
        if kind in plan
    }
    # under AQE neither the pre-execution plan nor the codegen explain
    # reports WholeStageCodegen subtrees (codegen happens per-stage at
    # runtime), so probe codegen on a NON-adaptive re-plan of the same
    # logical plan — ``select("*")`` makes a fresh Dataset whose physical
    # planning picks up the temporarily-flipped conf
    spark = df.sparkSession
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    buf = io.StringIO()
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        with contextlib.redirect_stdout(buf):
            df.select("*").explain("codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", buf.getvalue())
    return {
        "shuffles": count_shuffles(df),
        "joins": joins,
        "cartesian_or_nested_loop": plan.count("CartesianProduct")
        + plan.count("BroadcastNestedLoopJoin"),
        "whole_stage_codegen": bool(m) and int(m.group(1)) > 0,
        "pushed_filters": "PushedFilters: [" in plan
        and "PushedFilters: []" not in plan,
        "window_group_limit": "WindowGroupLimit" in plan,
    }


def entity_read_counts(steps) -> dict[str, int]:
    """Static ref-count pass over a parsed step list: how many steps READ
    each entity name (``entity_name`` on every step, ``target_name`` on
    join-like steps).

    This is the driver-side analysis SURVEY §7 leaves as the persist-
    placement hook: an entity read by N>1 steps recomputes its whole
    lineage N times unless persisted. The count is static and name-based —
    a ``copy_entity``/``rename_entity`` read counts against the SOURCE
    name; reads of the new name count separately (which is exactly how the
    lineage behaves: the copy shares the source's plan until persisted);
    ``remove_entity`` is not a read.
    """
    counts: dict[str, int] = {}
    for step in steps:
        for attr in ("entity_name", "target_name"):
            name = getattr(step, attr, None)
            if name:
                counts[name] = counts.get(name, 0) + 1
        # entity_names (remove_entity) is deliberately NOT counted: a
        # removal deletes the dict entry without computing the lineage,
        # so it is not a read and must not inflate persist decisions
    return counts


def zorder_key(
    cols: list[Column],
    mins: list[float],
    maxs: list[float],
    *,
    bits: int = 16,
) -> Column:
    """Morton (Z-order) key over numeric columns: each value is scaled to
    ``[0, 2^bits)`` against its [min, max] domain and the dimensions'
    bits are interleaved.

    Lexicographic range clustering on (a, b) gives file skipping on ``a``
    but none on ``b`` alone; the Morton key preserves locality in EVERY
    dimension at once, so parquet min/max stats prune files for
    predicates on any clustered column — the multi-dim layout lever
    behind Delta/Iceberg's OPTIMIZE ZORDER, built from plain bitwise
    expressions (JVM-side, no UDF). ``bits * len(cols)`` must fit a
    signed 64-bit key.
    """
    if bits * len(cols) > 62:
        raise ValueError("bits * dimensions must be <= 62 (long key)")
    max_bucket = (1 << bits) - 1
    scaled = []
    for col, mn, mx in zip(cols, mins, maxs):
        if mx > mn:
            s = F.floor(
                (col.cast("double") - F.lit(float(mn)))
                * F.lit(float(max_bucket))
                / F.lit(float(mx - mn))
            )
            # clamp: values at/above max land in the top bucket; NULLs
            # land in bucket 0 (kept, clustered together) instead of
            # propagating a NULL key into one degenerate range partition
            s = F.coalesce(
                F.least(F.greatest(s, F.lit(0)), F.lit(max_bucket)), F.lit(0)
            )
        else:
            s = F.lit(0)
        scaled.append(s.cast("long"))
    ndims = len(scaled)
    key = F.lit(0).cast("long")
    for b in range(bits):
        for d, s in enumerate(scaled):
            bit = F.shiftright(s, b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * ndims + d))
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    *,
    bits: int = 16,
    num_partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet Z-order-clustered on numeric ``cluster_cols``.

    One tiny aggregation computes each column's [min, max] (a 2-row
    driver fetch, bounded at any scale), then rows range-partition and
    sort on the Morton key — one shuffle at write time, multi-dimensional
    file skipping on every read after.
    """
    aggs = []
    for c in cluster_cols:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    row = df.agg(*aggs).first()
    for c in cluster_cols:
        if row[f"__mn_{c}"] is None:
            raise ValueError(
                f"write_zordered: cluster column {c!r} has no non-NULL "
                "values (empty input or all-NULL column) — no domain to "
                "scale against"
            )
    mins = [float(row[f"__mn_{c}"]) for c in cluster_cols]
    maxs = [float(row[f"__mx_{c}"]) for c in cluster_cols]
    key = zorder_key(
        [F.col(c) for c in cluster_cols], mins, maxs, bits=bits
    )
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    (
        df.withColumn("__zkey", key)
        .repartitionByRange(parts, F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode(mode)
        .parquet(path)
    )


def parquet_file_stats(spark: SparkSession, path: str) -> dict:
    """Data-file inventory of a parquet directory via the Hadoop
    FileSystem API (works for file/s3a/abfs/dbfs URIs alike):
    ``{"n_files": int, "total_bytes": int, "max_bytes": int}``.
    Hidden/_metadata files are excluded. Driver-side metadata listing
    only — no Spark job."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(jpath, True)
    sizes = []
    while it.hasNext():
        status = it.next()
        name = status.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        sizes.append(status.getLen())
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "max_bytes": max(sizes) if sizes else 0,
    }


def compact_parquet(
    spark: SparkSession,
    src: str,
    dest: str,
    *,
    target_mb: int = 512,
    sort_cols: list[str] | str | None = None,
) -> dict:
    """Rewrite a parquet directory into ~``target_mb`` files — the
    small-file maintenance every long-lived 100 TB table needs (each
    incremental append lands a few small files; a thousand appends later
    the scan pays per-file open/footer costs and the driver pays a
    million-entry listing).

    - Without ``sort_cols`` the rewrite COALESCES down to the target
      file count: a narrow dependency, zero shuffle — each output task
      concatenates whole input splits.
    - With ``sort_cols`` the rewrite range-clusters instead
      (:func:`write_range_partitioned`): one shuffle, buying min/max
      file skipping on those columns forever after.

    Writes to ``dest`` (refusing ``dest == src``: overwrite-while-read
    of the same directory corrupts the scan mid-job; transactional
    in-place compaction is a table-format concern — Delta/Iceberg — not
    a directory concern). Returns ``{"files_before", "bytes_before",
    "target_files", "files_after"}``. Row-for-row losslessness is the
    readback-equality proof in the oracle row (pipeline_e2e).
    """
    if not dest or dest.rstrip("/") == src.rstrip("/"):
        raise ValueError(
            "compact_parquet needs a destination distinct from the "
            "source (in-place overwrite would corrupt the running scan)"
        )
    if target_mb < 1:
        raise ValueError(f"target_mb must be >= 1, got {target_mb}")
    before = parquet_file_stats(spark, src)
    target_bytes = target_mb * 1024 * 1024
    n_out = max(1, -(-before["total_bytes"] // target_bytes))
    df = spark.read.parquet(src)
    if sort_cols is not None:
        write_range_partitioned(
            df, dest, sort_cols, num_partitions=n_out
        )
    else:
        df.coalesce(n_out).write.mode("overwrite").parquet(dest)
    after = parquet_file_stats(spark, dest)
    return {
        "files_before": before["n_files"],
        "bytes_before": before["total_bytes"],
        "target_files": n_out,
        "files_after": after["n_files"],
    }


def skew_report(
    df: DataFrame,
    key_cols: list[str] | str,
    *,
    top: int = 10,
) -> dict:
    """Quantify key skew before it becomes a straggler: per-key row
    counts reduced to ``{"n_keys", "n_rows", "max_rows", "mean_rows",
    "skew_factor", "top_keys"}`` where ``skew_factor = max/mean`` (1.0 =
    perfectly uniform; >10 = the shuffle partition holding the hot key
    will run ~10x longer than average) and ``top_keys`` lists the
    ``top`` heaviest keys with counts, sorted by count desc then key
    repr asc (deterministic under ties).

    Use it to DECIDE between the levers, not as a hot-path operator: a
    skewed join side → :func:`salted_left_join` or AQE skew-join; a
    skewed group-by → pre-aggregate or two-level fold; a skewed bucket
    column → pick a different bucketing key. One count aggregation
    (map-side combined) + a driver-side reduction of ``top`` rows —
    the collect is bounded by ``top``, never by the key count.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if not keys:
        raise ValueError("skew_report needs at least one key column")
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
    summary = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("__n").alias("n_rows"),
        F.max("__n").alias("max_rows"),
    ).collect()[0]
    n_keys = summary["n_keys"] or 0
    n_rows = summary["n_rows"] or 0
    if n_keys == 0:
        return {
            "n_keys": 0, "n_rows": 0, "max_rows": 0,
            "mean_rows": 0.0, "skew_factor": 0.0, "top_keys": [],
        }
    mean = n_rows / n_keys
    hot = (
        counts.orderBy(
            F.col("__n").desc(),
            *[F.col(k).asc() for k in keys],
        )
        .limit(int(top))
        .collect()
    )
    return {
        "n_keys": int(n_keys),
        "n_rows": int(n_rows),
        "max_rows": int(summary["max_rows"]),
        "mean_rows": mean,
        "skew_factor": float(summary["max_rows"]) / mean,
        "top_keys": [
            (tuple(r[k] for k in keys), r["__n"]) for r in hot
        ],
    }


def write_training_shards(
    df: DataFrame,
    dest: str,
    key_col: str,
    *,
    n_shards: int,
    seed: str = "",
    max_records_per_file: int | None = None,
    format: str = "parquet",
) -> DataFrame:
    """Deterministic corpus shuffle + shard export: the last step before
    a training run reads the data.

    Trainers need the corpus in a PSEUDORANDOM but REPRODUCIBLE order
    (epoch order must not correlate with ingest order, yet two exports
    of the same corpus must be byte-identical), cut into ``n_shards``
    independent shards that data-loader workers consume in parallel.
    Both come from one md5: each row's ``__h = md5(seed || key)`` is its
    position in the shuffled order, ``shard = bucket(__h) *
    n_shards DIV 65536`` is a contiguous range of that order (shards
    are equal-sized in expectation). No global sort ever runs — rows
    hash-exchange straight to their shard's task and sort only within
    it (sortWithinPartitions), which is exactly a shuffle's cost. A new
    ``seed`` is a fresh epoch order.

    Output layout: ``dest/shard=K/part-*.parquet`` with rows in-shard
    ordered by ``__hash`` (readers stream files in name order;
    ``max_records_per_file`` caps file size for loader-side chunking).
    Returns the MANIFEST as a DataFrame — one row per shard:
    ``(shard, n_rows, n_files, min_hash, max_hash, checksum)`` where
    ``checksum`` is the sum of each row's first-15-hex-digit hash value
    (fits a DECIMAL(38,0) at any corpus size, order-independent, and
    engine-exact) — enough to verify a shard set without re-reading
    content. Persist it next to the export; a re-export must reproduce
    it bit-for-bit.

    ``format``: ``"parquet"`` (default) or ``"json"`` — JSON-lines is
    the lingua franca of trainer data loaders that stream text without
    a columnar reader (one object per line, files in name order). The
    shard assignment, in-shard order, manifest, and reproducibility
    contract are identical in both formats (the manifest reads the
    export back through the matching reader).
    """
    from data_validation_engine_spark.llmops.split import (
        N_BUCKETS,
        hash_bucket,
    )

    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    if not dest:
        raise ValueError("write_training_shards needs a destination")
    if format not in ("parquet", "json"):
        raise ValueError(
            f"format must be 'parquet' or 'json', got {format!r}"
        )
    digest = F.md5(F.concat(F.lit(seed), F.col(key_col).cast("string")))
    # N_BUCKETS is 2^16, so DIV 65536 is an exact right-shift — integral
    # arithmetic end to end (repo convention: never float-divide-then-
    # truncate an index)
    # cast to long BEFORE the multiply: bucket*n_shards wraps 32-bit int
    # for n_shards > 32768 (a plausible shard count at 100 TB)
    bucket = hash_bucket(F.col(key_col), seed=seed).cast("long")
    shard = F.shiftright(
        bucket * F.lit(int(n_shards)).cast("long"), 16
    ).cast("int")
    assert N_BUCKETS == 1 << 16
    staged = (
        df.withColumn("__hash", digest)
        .withColumn("shard", shard)
        # one exchange on the shard id; in-shard order is a task-local
        # sort, never a global range exchange. No explicit partition
        # count: hash-partitioning on `shard` keeps each shard's rows in
        # ONE task (one file per shard dir) while AQE sizes the exchange
        # to the data — 40k shards over 64 rows shouldn't launch 40k
        # tasks, and at 100 TB the advisory-size coalesce still leaves
        # every shard intact within a task
        .repartition(F.col("shard"))
        .sortWithinPartitions("shard", "__hash")
    )
    writer = staged.write.mode("overwrite").partitionBy("shard")
    if max_records_per_file is not None:
        writer = writer.option(
            "maxRecordsPerFile", int(max_records_per_file)
        )
    getattr(writer, format)(dest)

    out = getattr(staged.sparkSession.read, format)(dest)
    return (
        out.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(
                F.col("_metadata")["file_path"]
            ).alias("n_files"),
            F.min("__hash").alias("min_hash"),
            F.max("__hash").alias("max_hash"),
            F.sum(
                F.conv(F.substring("__hash", 1, 15), 16, 10).cast(
                    "decimal(38,0)"
                )
            ).alias("checksum"),
        )
        .orderBy("shard")
    )
