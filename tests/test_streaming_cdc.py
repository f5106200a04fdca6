"""streaming_apply_changes: CDC table maintenance via foreachBatch."""

from __future__ import annotations

import json

import pytest

from data_validation_engine_spark.streaming import streaming_apply_changes


def _write_ledger(spark, path: str, rows: list[tuple]) -> None:
    spark.createDataFrame(
        rows, "op string, id int, name string, bal double, seq int"
    ).coalesce(1).write.mode("append").parquet(path)


def _drain(spark, src: str, table: str, ckpt: str) -> None:
    changes = (
        spark.readStream.schema(
            "op string, id int, name string, bal double, seq int"
        ).parquet(src)
    )
    q = streaming_apply_changes(
        changes,
        table,
        ["id"],
        sequence_col="seq",
        checkpoint=ckpt,
        available_now=True,
    )
    q.awaitTermination()


def _table(spark, path: str) -> dict:
    return {
        r.id: (r.name, r.bal)
        for r in spark.read.parquet(path).collect()
    }


@pytest.mark.slow
def test_cdc_stream_maintains_table_across_drains(spark, tmp_path):
    src = str(tmp_path / "ledger")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    # drain 1: bootstrap inserts + one update-then-delete within the batch
    _write_ledger(
        spark,
        src,
        [
            ("I", 1, "alice", 10.0, 1),
            ("I", 2, "bob", 20.0, 1),
            ("U", 2, "bobby", 21.0, 2),
            ("I", 3, "carol", 30.0, 1),
            ("D", 3, None, None, 2),
        ],
    )
    _drain(spark, src, table, ckpt)
    assert _table(spark, table) == {1: ("alice", 10.0), 2: ("bobby", 21.0)}

    # drain 2: the checkpoint must resume past batch 1's files —
    # only the NEW ledger file applies, on top of the maintained state
    _write_ledger(
        spark,
        src,
        [
            ("U", 1, "al", 11.0, 3),
            ("D", 2, None, None, 3),
            ("I", 4, "dave", 40.0, 3),
        ],
    )
    _drain(spark, src, table, ckpt)
    assert _table(spark, table) == {1: ("al", 11.0), 4: ("dave", 40.0)}

    # parity: one batch apply_changes over the FULL ledger ends in the
    # same table (same semantics, maintained incrementally vs replayed)
    from pyspark.sql.types import StructType

    from data_validation_engine_spark.merge import apply_changes

    full = spark.read.parquet(src)
    empty = spark.createDataFrame(
        [], StructType([f for f in full.schema.fields if f.name not in ("op", "seq")])
    )
    replayed = {
        r.id: (r.name, r.bal)
        for r in apply_changes(
            empty, full, ["id"], sequence_col="seq"
        ).collect()
    }
    assert replayed == _table(spark, table)


def test_rejects_batch_frame(spark):
    df = spark.createDataFrame([("I", 1)], "op string, id int")
    with pytest.raises(ValueError, match="streaming changes frame"):
        streaming_apply_changes(
            df, "/tmp/x", ["id"], checkpoint="/tmp/c"
        )


@pytest.mark.slow
def test_out_of_order_sequences_across_batches_do_not_clobber(
    spark, tmp_path
):
    """File sources can split a ledger into micro-batches in any order;
    with sequence_col the table persists each row's sequence and a later
    batch carrying an OLDER change for a key must no-op, not clobber."""
    src = str(tmp_path / "ledger")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    # batch 1 delivers the NEWER change first
    _write_ledger(spark, src, [("I", 1, "newer", 99.0, 5)])
    _drain(spark, src, table, ckpt)
    assert _table(spark, table) == {1: ("newer", 99.0)}

    # batch 2 delivers a stale (lower-seq) update and a stale delete —
    # both must lose to the stored sequence; a genuinely newer row wins
    _write_ledger(
        spark,
        src,
        [
            ("U", 1, "stale", 1.0, 3),
            ("D", 1, None, None, 4),
            ("I", 2, "fresh", 7.0, 1),
        ],
    )
    _drain(spark, src, table, ckpt)
    assert _table(spark, table) == {1: ("newer", 99.0), 2: ("fresh", 7.0)}

    # batch 3: an at-or-above sequence APPLIES (>= keeps replays
    # idempotent), including deletes
    _write_ledger(spark, src, [("D", 1, None, None, 5)])
    _drain(spark, src, table, ckpt)
    assert _table(spark, table) == {2: ("fresh", 7.0)}


def test_swap_crash_recovery(spark, tmp_path):
    """A crash between moving the live table to backup and moving
    staging in must NOT bootstrap the next batch from empty: _recover
    restores the backup, and post-swap backup debris is dropped."""
    from data_validation_engine_spark.streaming.cdc import (
        _recover,
        _swap_dirs,
    )

    table = str(tmp_path / "table")
    backup = table + "__backup"
    df = spark.createDataFrame([(1, "a")], "id int, v string")

    # crash case 1: target renamed away, staging never moved in
    df.write.parquet(backup)
    _recover(spark, table)
    assert {r.id for r in spark.read.parquet(table).collect()} == {1}
    import os

    assert not os.path.exists(backup)

    # crash case 2: swap completed but backup delete didn't — debris only
    df.write.mode("overwrite").parquet(backup)
    _recover(spark, table)
    assert not os.path.exists(backup)
    assert {r.id for r in spark.read.parquet(table).collect()} == {1}

    # a normal swap replaces the table and leaves no debris
    staging = str(tmp_path / "staging")
    spark.createDataFrame([(2, "b")], "id int, v string").write.parquet(
        staging
    )
    _swap_dirs(spark, staging, table)
    assert {r.id for r in spark.read.parquet(table).collect()} == {2}
    assert not os.path.exists(backup) and not os.path.exists(staging)


@pytest.mark.slow
def test_ledger_split_across_batches_matches_one_batch_apply(
    spark, tmp_path
):
    """Convergence: the maintained table after N arbitrary-split drains
    equals one batch apply_changes over the concatenated ledger (keys
    with distinct sequences)."""
    import random

    from pyspark.sql.types import StructType

    from data_validation_engine_spark.merge import apply_changes

    rng = random.Random(8)
    ops = []
    seq = 0
    for _ in range(30):
        seq += 1
        k = rng.randint(1, 6)
        kind = rng.choice(["I", "U", "U", "D"])
        ops.append(
            (kind, k, f"v{seq}", float(seq), seq)
            if kind != "D"
            else ("D", k, None, None, seq)
        )
    rng.shuffle(ops)  # arrival order != sequence order

    src = str(tmp_path / "ledger")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    for chunk_start in range(0, 30, 10):
        _write_ledger(spark, src, ops[chunk_start : chunk_start + 10])
        _drain(spark, src, table, ckpt)

    full = spark.read.parquet(src)
    empty = spark.createDataFrame(
        [],
        StructType([f for f in full.schema.fields if f.name != "op"]),
    )
    replayed = {
        r.id: (r.name, r.bal)
        for r in apply_changes(
            empty, full, ["id"], op_col="op", sequence_col="seq"
        ).collect()
    }
    assert replayed == _table(spark, table)
