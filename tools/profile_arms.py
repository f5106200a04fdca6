"""Per-arm profiler for roster rows.

Usage: python tools/profile_arms.py <row> [runs]

Replays a row's arms (``__spark_entry__.ROSTER[row].arms``, by tag)
SEPARATELY, each forced with the noop sink and labelled via
setJobDescription, so the row's seconds decompose into arm seconds. A
one-arm row replays as its single arm, ``full``. Each arm is called
standalone, so a row with a shared ``build`` replays every arm with its
own copy of the shared intermediate.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402


def main() -> None:
    row = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench.local_session(f"arm-profile-{row}", bench.QUERY_CONF)

    import __spark_entry__ as e

    arms = {arm.tag: arm.query for arm in e.ROSTER[row].arms}

    # one untimed warmup of every arm (JIT/codegen/python-pool)
    for name, fn in arms.items():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    results: dict[str, list[float]] = {n: [] for n in arms}
    for r in range(runs):
        for name, fn in arms.items():
            spark.sparkContext.setJobDescription(f"{row}:{name}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            results[name].append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
            # drop persisted litter like bench.py does
            try:
                jmap = spark.sparkContext._jsc.getPersistentRDDs()
                it = jmap.values().iterator()
                while it.hasNext():
                    it.next().unpersist(False)
            except Exception:
                pass
    for name, xs in results.items():
        xs = sorted(xs)
        print(
            f"{row}:{name:14s} min {xs[0]:6.2f}  med {xs[len(xs)//2]:6.2f} "
            f" all {[round(x,2) for x in xs]}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
