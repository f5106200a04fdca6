"""Micro-profiler for the availableNow drain fixed cost (r14, guide §1).

Runs one representative stateful availableNow drain (the hourly
windowed-count shape from q_streaming_window_counts) N times in one
session and prints, per run, the StreamingQueryProgress durationMs
breakdown (addBatch / getBatch / latestOffset / queryPlanning /
walCommit / commitOffsets) plus wall time, so the per-drain plumbing
cost decomposes into its actual components instead of being a single
opaque ~2s number.

Usage: python tools/profile_drain.py [runs] [state_partitions]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: every core),
     SPARK_GRAFT_DRAIN_SCRATCH (checkpoint/sink base dir; default the
     system tempdir — point it at /dev/shm to A/B tmpfs scratch).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    state_n = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    scratch = os.environ.get("SPARK_GRAFT_DRAIN_SCRATCH") or None

    spark = bench.local_session(
        "drain-profile",
        {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.session.timeZone": "UTC",
        },
    )

    from data_validation_engine_spark.streaming import (
        read_entity_stream,
        windowed_counts,
    )

    # warmup: one untimed drain so codegen/JIT don't ride run 1
    for i in range(-1, runs):
        out = tempfile.mkdtemp(prefix=f"dve_drainprof_{i}_", dir=scratch)
        sdf = read_entity_stream(
            spark,
            sf_dir,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
            options={"pathGlobFilter": "events.parquet"},
        )
        agg = windowed_counts(
            sdf, "ts", window="1 hour", watermark="2 hours",
            group_by=["event_type"],
        )
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_n))
        t0 = time.perf_counter()
        q = (
            agg.writeStream.format("parquet")
            .option("path", f"{out}/data")
            .option("checkpointLocation", f"{out}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        q.awaitTermination()
        wall = time.perf_counter() - t0
        if i < 0:
            print(f"warmup: wall={wall:.3f}s")
            continue
        batches = []
        for p in q.recentProgress:
            d = p["durationMs"] if isinstance(p, dict) else json.loads(p.json)["durationMs"]
            batches.append(d)
        print(f"run {i}: wall={wall:.3f}s state_partitions={state_n}")
        for bi, d in enumerate(batches):
            print(f"  batch {bi}: " + " ".join(
                f"{k}={v}" for k, v in sorted(d.items())
            ))
    spark.stop()


if __name__ == "__main__":
    main()
