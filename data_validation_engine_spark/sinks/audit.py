"""Audit tables (dve spark/auditing.py:33-212; records dve models.py:24-148).

Four append-only tables: ``processing_status``, ``submission_info``,
``submission_statistics``, ``transfers`` — partitioned by ``date_updated``.
Delta is used when the runtime has it (idempotent appends beat the
reference's sleep-retry loop, dve spark_helpers.py:459-486); otherwise
parquet append with identical schemas.

"Latest status per submission" uses the reference's one window pattern:
``row_number() over (partition by submission_id order by time_updated
desc)`` (dve spark/auditing.py:143-162), with ties on ``time_updated``
broken by status rank so the answer never depends on file order.
"""

from __future__ import annotations

import datetime as dt
import threading
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable, ClassVar

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_COMMON = [
    T.StructField("submission_id", T.StringType(), False),
    T.StructField("date_updated", T.DateType(), True),
    T.StructField("time_updated", T.TimestampType(), True),
]

AUDIT_SCHEMAS: dict[str, T.StructType] = {
    "processing_status": T.StructType(
        _COMMON
        + [
            T.StructField("status", T.StringType(), True),
            T.StructField("job_run_id", T.LongType(), True),
            T.StructField("submission_result", T.StringType(), True),
        ]
    ),
    "submission_info": T.StructType(
        _COMMON
        + [
            T.StructField("dataset_id", T.StringType(), True),
            T.StructField("file_name", T.StringType(), True),
            T.StructField("file_extension", T.StringType(), True),
            T.StructField("submission_method", T.StringType(), True),
            T.StructField("submitting_org", T.StringType(), True),
            T.StructField("reporting_period_start", T.StringType(), True),
            T.StructField("reporting_period_end", T.StringType(), True),
            T.StructField("file_size", T.LongType(), True),
            T.StructField("datetime_received", T.TimestampType(), True),
        ]
    ),
    "submission_statistics": T.StructType(
        _COMMON
        + [
            T.StructField("record_count", T.LongType(), True),
            T.StructField("number_submission_rejections", T.LongType(), True),
            T.StructField("number_record_rejections", T.LongType(), True),
            T.StructField("number_warnings", T.LongType(), True),
        ]
    ),
    "transfers": T.StructType(
        _COMMON
        + [
            T.StructField("report_name", T.StringType(), True),
            T.StructField("transfer_id", T.StringType(), True),
            T.StructField("transfer_method", T.StringType(), True),
            T.StructField("recipient", T.StringType(), True),
        ]
    ),
}


# Delta commit-race exception class names (surface inside Py4J error text;
# parquet appends never raise these, so the wrapper is a no-op there)
_CONCURRENT_ERROR_NAMES = (
    "ConcurrentAppendException",
    "ConcurrentDeleteReadException",
    "ConcurrentDeleteDeleteException",
    "ConcurrentTransactionException",
    "ConcurrentWriteException",
    "DeltaConcurrentModificationException",
    "MetadataChangedException",
    "ProtocolChangedException",
)


def is_concurrent_write_error(exc: BaseException) -> bool:
    """Does this exception indicate a lost Delta commit race?"""
    text = f"{type(exc).__name__}: {exc}"
    return any(name in text for name in _CONCURRENT_ERROR_NAMES)


def retry_concurrent_append(
    fn: Callable[[], Any],
    *,
    max_retries: int = 60,
    sleep_seconds: float = 1.0,
) -> Any:
    """Bounded retry around an append that can lose a Delta commit race
    when many submissions audit concurrently.

    Same contract as the reference's ``audit_retry`` (1 s sleep, up to 60
    attempts, dve spark_helpers.py:457-486) with one deliberate deviation:
    on exhaustion the last error is RE-RAISED — the reference returns
    ``None``, silently dropping the audit row, and a lost audit record is
    worse than a loud failure. Non-concurrency errors propagate
    immediately.
    """
    last: BaseException | None = None
    for _ in range(max(1, max_retries)):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - filtered below
            if not is_concurrent_write_error(exc):
                raise
            last = exc
            if sleep_seconds:
                time.sleep(sleep_seconds)
    assert last is not None
    raise last


def _has_delta(spark: SparkSession) -> bool:
    try:
        # py4j resolves missing packages lazily; Class.forName is a real probe
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "io.delta.tables.DeltaTable"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


@dataclass
class AuditLog:
    """Appends audit records and answers latest-status queries."""

    spark: SparkSession
    base_uri: str
    fmt: str = field(default="")
    max_append_retries: int = 60
    retry_sleep_seconds: float = 1.0

    def __post_init__(self) -> None:
        if not self.fmt:
            self.fmt = "delta" if _has_delta(self.spark) else "parquet"

    def _uri(self, table: str) -> str:
        return f"{self.base_uri.rstrip('/')}/{table}"

    # Parquet appends to ONE table path share a _temporary staging dir, so
    # two threads committing at once can delete each other's staged files
    # (a silently lost audit row — observed under process_landing's thread
    # pool). Delta appends are transactional and need no lock; for parquet
    # a per-table in-process lock serialises just these tiny 1-row writes
    # while the heavy per-submission jobs stay concurrent. Cross-process
    # concurrency at production scale is what the Delta path is for.
    _TABLE_LOCKS: ClassVar[dict[str, threading.Lock]] = {}
    _TABLE_LOCKS_GUARD: ClassVar[threading.Lock] = threading.Lock()

    def _append_lock(self, table: str) -> threading.Lock:
        key = self._uri(table)
        with AuditLog._TABLE_LOCKS_GUARD:
            return AuditLog._TABLE_LOCKS.setdefault(key, threading.Lock())

    def append(self, table: str, records: list[dict[str, Any]]) -> None:
        """Append records; ``time_updated`` (and ``date_updated``) default
        to the moment of this call."""
        schema = AUDIT_SCHEMAS[table]
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        rows = []
        for rec in records:
            rec = dict(rec)
            rec.setdefault("time_updated", now)
            rec.setdefault("date_updated", rec["time_updated"].date())
            rows.append(tuple(rec.get(f.name) for f in schema.fields))

        # Parquet fallback on a local path: write the partition-layout file
        # DRIVER-SIDE with pyarrow instead of launching a Spark job (r13,
        # guide §5 — audit appends are 1-row control-plane writes; the
        # repartition(1)+dynamic-partition Spark job costs ~0.5 s each on
        # local[32] and the e2e pipeline makes ~5 per submission, making
        # the audit trail its single most expensive component). The file
        # is read-identical: same dir layout (date_updated=<iso>/part-*),
        # same column types (timestamps written as UTC-adjusted micros at
        # the instant Spark would store for the session timezone), snappy
        # compression. Delta (production) and non-local URIs keep the
        # transactional Spark path unchanged.
        if self.fmt == "parquet" and self._local_dir():
            with self._append_lock(table):
                self._pyarrow_append(table, schema, rows)
            return

        df = self.spark.createDataFrame(rows, schema)

        def _write() -> None:
            # repartition(1), NOT coalesce(1): both give the one-file-per-
            # append layout (the reference uses coalesce, dve
            # spark/auditing.py:124), but coalesce folds all N parent
            # partitions of the tiny local relation into a single task
            # whose setup costs a measured constant ~3 s per append on
            # local[32] — 3 status appends made the audit trail the most
            # expensive line of an otherwise sub-second pipeline run. A
            # 1-row shuffle is microseconds.
            (
                df.repartition(1)
                .write.format(self.fmt)
                .mode("append")
                .partitionBy("date_updated")
                .save(self._uri(table))
            )

        if self.fmt == "parquet":
            with self._append_lock(table):
                _write()
            return
        retry_concurrent_append(
            _write,
            max_retries=self.max_append_retries,
            sleep_seconds=self.retry_sleep_seconds,
        )

    def _local_dir(self) -> bool:
        """Is the audit base a plain local path (no scheme, or file://)?
        Only then can the driver write partition files directly."""
        uri = self.base_uri
        return "://" not in uri or uri.startswith("file://")

    def _pyarrow_append(self, table: str, schema, rows: list[tuple]) -> None:
        """Driver-side partition-file append for the local-parquet
        fallback — byte-compatible with what the Spark writer lays down
        (see the rationale comment in :meth:`append`)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        uri = self._uri(table)
        if uri.startswith("file://"):
            uri = uri[len("file://"):]
        base = Path(uri)

        # Spark interprets naive timestamps in the SESSION timezone when
        # building a DataFrame; replicate the same instant so mixed
        # Spark-written / driver-written files carry identical values.
        tz_name = self.spark.conf.get("spark.sql.session.timeZone", None)
        tzinfo = None
        if tz_name:
            try:
                from zoneinfo import ZoneInfo

                tzinfo = ZoneInfo(tz_name)
            except Exception:  # noqa: BLE001 - fall back to OS zone
                tzinfo = None

        def _instant(ts: dt.datetime | None) -> dt.datetime | None:
            if ts is None:
                return None
            if ts.tzinfo is None:
                ts = (
                    ts.replace(tzinfo=tzinfo) if tzinfo else ts.astimezone()
                )
            return ts

        _PA_TYPES = {
            T.StringType(): pa.string(),
            T.LongType(): pa.int64(),
            T.TimestampType(): pa.timestamp("us", tz="UTC"),
        }
        data_fields = [
            f for f in schema.fields if f.name != "date_updated"
        ]
        date_idx = [f.name for f in schema.fields].index("date_updated")

        by_date: dict[Any, list[tuple]] = {}
        for row in rows:
            by_date.setdefault(row[date_idx], []).append(row)
        # zero rows: Spark's partitioned write lays down no data file —
        # just ensure the table dir exists and stop
        if not rows:
            base.mkdir(parents=True, exist_ok=True)
            return

        for date_val, part_rows in by_date.items():
            part = (
                f"date_updated={date_val.isoformat()}"
                if date_val is not None
                else "date_updated=__HIVE_DEFAULT_PARTITION__"
            )
            out_dir = base / part
            out_dir.mkdir(parents=True, exist_ok=True)
            arrays, pa_fields = [], []
            for f in data_fields:
                idx = [x.name for x in schema.fields].index(f.name)
                vals = [r[idx] for r in part_rows]
                if isinstance(f.dataType, T.TimestampType):
                    vals = [_instant(v) for v in vals]
                pa_type = _PA_TYPES[f.dataType]
                arrays.append(pa.array(vals, type=pa_type))
                pa_fields.append(
                    pa.field(f.name, pa_type, nullable=f.nullable)
                )
            tbl = pa.Table.from_arrays(
                arrays, schema=pa.schema(pa_fields)
            )
            name = f"part-00000-{uuid.uuid4().hex}.c000.snappy.parquet"
            tmp = out_dir / f".{name}.tmp"
            pq.write_table(tbl, tmp, compression="snappy")
            tmp.rename(out_dir / name)

    def read(self, table: str) -> DataFrame:
        return self.spark.read.format(self.fmt).load(self._uri(table))

    def latest_status(self, submission_id: str | None = None) -> DataFrame:
        """Most recent processing_status row per submission."""
        df = self.read("processing_status")
        if submission_id is not None:
            df = df.where(F.col("submission_id") == submission_id)
        # lifecycle order breaks a tie on time_updated: the later status
        # wins (an unknown status ranks below all of these)
        status = F.col("status")
        rank = (
            F.when(status == "received", 0)
            .when(status == "processed", 1)
            .when(status.isin("failed", "completed"), 2)
        )
        w = Window.partitionBy("submission_id").orderBy(
            F.col("time_updated").desc(), rank.desc_nulls_last()
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )


def new_submission_id() -> str:
    return uuid.uuid4().hex
