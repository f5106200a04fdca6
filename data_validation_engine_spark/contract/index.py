"""Stable 1-based record index, without the RDD round trip.

The reference builds ``__record_index__`` with ``rdd.zipWithIndex()``
(dve spark_helpers.py:489-499) — a full scan through Python serialisation.
Here the same file-order index is computed inside the JVM plan:

1. ``monotonically_increasing_id()`` encodes (partition_id << 33 | offset)
   with per-partition offsets contiguous from 0 — order within a partition
   is scan order.
2. One tiny aggregation collects per-partition row counts (K rows for K
   partitions — driver-safe at any scale).
3. The cumulative offsets become one literal ``array<bigint>`` indexed by
   partition id (partitions with no rows keep their slot, so the array is
   dense), and each row's index is offset + position within its partition
   + 1. The lookup is a constant-array access in the projection: no join,
   no broadcast, no Python-built frame, so no Python worker starts.

No shuffle of the data, one extra metadata-size job; deterministic for a
fixed file layout (same guarantee as zipWithIndex).

The input is evaluated twice (the counts job, then the output plan). For a
plain file scan both evaluations see the same partition layout; for inputs
downstream of a shuffle/aggregation (or under task retries) the layout can
differ between jobs, so ``persist=True`` (default) pins the evaluated
``with_mid`` frame to MEMORY_AND_DISK before the counts job — both jobs then
read the same materialised partitions. Pass ``persist=False`` only when the
input is a deterministic fresh file scan and the double-read is cheaper than
the cache (the caller owns that trade-off; the returned frame keeps the
cache alive until Spark evicts it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from data_validation_engine_spark.messages import RECORD_INDEX

_MID = "__dve_mid"
_PART = "__dve_part"


def add_record_index(
    df: DataFrame, *, column: str = RECORD_INDEX, persist: bool = True
) -> DataFrame:
    """Add a stable, contiguous, 1-based index column in scan order."""
    with_mid = df.withColumn(_MID, F.monotonically_increasing_id())
    if persist:
        with_mid = with_mid.persist(StorageLevel.MEMORY_AND_DISK)
    part = F.shiftright(F.col(_MID), 33)

    counts = {
        row[_PART]: row["n"]
        for row in with_mid.groupBy(part.alias(_PART))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not counts:
        return df.withColumn(column, F.lit(None).cast("long"))

    offsets, running = [], 0
    for p in range(max(counts) + 1):
        offsets.append(running)
        running += counts.get(p, 0)

    offset = F.array(*[F.lit(o) for o in offsets]).cast("array<bigint>")[part]
    local_pos = F.col(_MID).bitwiseAND(F.lit((1 << 33) - 1))
    return with_mid.withColumn(
        column, (offset + local_pos + F.lit(1)).cast("long")
    ).drop(_MID)
