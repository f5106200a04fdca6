"""Parquet source."""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# spark.conf is session-global; the set/read/restore in
# read_parquet_nanos_safe must not interleave across the
# process_landing(max_workers>1) thread pool or a caller could scan with
# the wrong conf (or leak it). One lock serialises the conf window only —
# the scan itself stays lazy and parallel.
_NANOS_CONF_LOCK = threading.Lock()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_parquet_nanos_safe(
    spark: SparkSession,
    path: str,
    *,
    nanos_timestamp_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Read parquet that may contain TIMESTAMP(NANOS) columns.

    Spark has no nanosecond timestamp type and rejects such files outright
    (PARQUET_TYPE_ILLEGAL). This reads them as nano-precision longs
    (``spark.sql.legacy.parquet.nanosAsLong``) and converts the named
    columns to microsecond timestamps — precision loss below 1µs only.

    Dtype-aware: a named column that already loads as a timestamp (the file
    stores µs/ms precision, so ``nanosAsLong`` was a no-op) passes through
    unchanged — the same call works on mixed-precision datasets.
    """
    from pyspark.sql.types import LongType

    with _NANOS_CONF_LOCK:
        prev = spark.conf.get(
            "spark.sql.legacy.parquet.nanosAsLong", "false"
        )
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            # .schema forces plan resolution (and thus the parquet footer
            # read) inside the lock; holding the conf open any longer is
            # unnecessary because the resolved schema is baked into the plan
            df = spark.read.parquet(path)
            df.schema
        finally:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    for c in nanos_timestamp_cols:
        if isinstance(df.schema[c].dataType, LongType):
            df = df.withColumn(
                c, F.timestamp_micros((F.col(c) / 1000).cast("long"))
            )
    return df
