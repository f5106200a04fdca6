"""Submission benchmark: seeded submissions through the engine's public
entry points, timed end to end, with a separate traced run for layers.

Run from the root of a checkout:

    python3 perfbench/run.py --workload bulk_submission --seed 1 \
        --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (see perfbench/README.md). The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. Everything the
run writes goes under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

CHECKOUT = Path(__file__).resolve().parent.parent
OUT = CHECKOUT / ".perfbench_work"
SETUP_REPEATS = 3
MIN_CALLS = 4
TAIL_PERCENTILE = 75


def session_conf(cpus: int, event_log: Path | None) -> dict[str, str]:
    """bench.py's session settings, with a driver heap that fits a small
    box and Spark's scratch directories inside the checkout."""
    conf = {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": "dve-perfbench",
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": "4g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(OUT / "spark-local"),
        "spark.sql.warehouse.dir": str(OUT / "warehouse"),
    }
    if event_log is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(cpus: int, event_log: Path | None = None):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for key, value in session_conf(cpus, event_log).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the JVM that PySpark launched and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


IMPORT_AND_LOAD = (
    "import sys; sys.path.insert(0, sys.argv[1]);"
    "import data_validation_engine_spark.pipeline;"
    "from data_validation_engine_spark.dischema import load_dischema;"
    "load_dischema(sys.argv[2])"
)


def set_up(workload, cpus: int, repeats: int):
    """Time the engine's set-up ``repeats`` times and return the last
    session, its dischema and the set-up times.

    One set-up is a fresh interpreter that imports the engine and loads
    the dischema, plus a new session on the running JVM. The JVM launch
    happens once per process, before the first set-up, and is not counted.
    """
    spark = start_session(cpus)
    times = []
    for i in range(repeats):
        start = time.perf_counter()
        subprocess.run(
            [sys.executable, "-c", IMPORT_AND_LOAD, str(CHECKOUT), str(workload.dischema_path)],
            check=True,
        )
        spark.stop()
        spark = start_session(cpus)
        dischema = workload.load()
        times.append(time.perf_counter() - start)
    return spark, dischema, times


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * pct // 100))
    return ordered[int(rank) - 1]


class Loop:
    """A closed loop of timed calls, one client, each call checked after it
    returns (checks are outside the timed region)."""

    def __init__(
        self, spark, workload, dischema, work: Path, min_calls: int = MIN_CALLS
    ) -> None:
        self.spark = spark
        self.min_calls = min_calls
        self.workload = workload
        self.dischema = dischema
        self.work = work
        self.outcomes = []
        self.failed = 0
        self.errors: list[str] = []

    def call(self, after=None):
        index = len(self.outcomes)
        target = self.work / f"call_{index:03d}"
        try:
            outcome = self.workload.run(self.spark, self.dischema, target)
            errors = self.workload.check(outcome)
        except Exception as exc:  # a raising call is a failed attempt
            outcome, errors = None, [f"{type(exc).__name__}: {exc}"]
        if outcome is not None:
            print(f"call {index}: {outcome.wall_s:.3f}s", file=sys.stderr)
        if after is not None and outcome is not None:
            after(outcome)
        self.outcomes.append(outcome)
        if errors:
            self.failed += 1
            self.errors.extend(f"call {index}: {e}" for e in errors)
        shutil.rmtree(target, ignore_errors=True)

    def run_for(self, seconds: float, after=None) -> None:
        timed = 0.0
        while timed < seconds or len(self.outcomes) < self.min_calls:
            self.call(after)
            last = self.outcomes[-1]
            timed += last.wall_s if last is not None else 0.0
            if last is None and self.failed >= self.min_calls:
                break

    @property
    def done(self):
        return [o for o in self.outcomes if o is not None]

    def fastest(self):
        """The fastest call. Noise on a shared box only adds time, and with
        the four calls a run affords, the fastest call repeats across runs
        better than their median or mean (see perfbench/README.md)."""
        return min(self.done, key=lambda o: o.wall_s)


def end_to_end(loop: Loop, setup_times: list[float]) -> dict:
    best = loop.fastest()
    return {
        "wall_s": (best.wall_s, "s"),
        "records_per_s": (best.records / best.wall_s, "1/s"),
        "submissions_per_s": (len(best.latencies) / best.wall_s, "1/s"),
        "setup_s": (statistics.median(setup_times), "s"),
    }


def latency_percentiles(loop: Loop) -> dict:
    latencies = [t for o in loop.done for t in o.latencies]
    return {
        "submission_p50_s": statistics.median(latencies),
        "submission_tail_s": percentile(latencies, TAIL_PERCENTILE),
    }


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument(
        "--scale", type=float, default=1.0,
        help="input size relative to the benchmark's (self-test only)",
    )
    args = parser.parse_args(argv)

    sys.path.insert(0, str(CHECKOUT))
    import data_validation_engine_spark  # noqa: F401  (fail before any work)

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        parser.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cpus = os.cpu_count() or 1

    shutil.rmtree(OUT, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog"):
        (OUT / sub).mkdir(parents=True)
    # keep every scratch file inside the checkout: Python's and the JVMs'
    # temporary directories, and no hsperfdata files under /tmp
    os.environ["TMPDIR"] = str(OUT / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={OUT / 'tmp'}"
    import tempfile

    tempfile.tempdir = str(OUT / "tmp")

    cls = WORKLOADS[args.workload]
    workload = cls(OUT / "inputs", args.seed, args.scale)
    workload.prepare()
    warmup = cls(OUT / "warmup_inputs", args.seed + 1, args.scale)
    warmup.prepare()

    try:
        if args.trace:
            from perfbench.tracing import traced_run

            metrics, attempted, failed, errors = traced_run(args, workload, warmup, cpus)
        else:
            spark, dischema, setup_times = set_up(workload, cpus, SETUP_REPEATS)
            Loop(spark, warmup, warmup.load(), OUT / "warmup").call()
            loop = Loop(spark, workload, dischema, OUT / "work")
            loop.run_for(args.seconds)
            metrics = end_to_end(loop, setup_times) if loop.done else {}
            attempted, failed, errors = len(loop.outcomes), loop.failed, loop.errors
            spark.stop()
    finally:
        shutdown_jvm()
    for line in errors[:20]:
        print(f"check failed: {line}", file=sys.stderr)
    if not metrics:
        return 1
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    name: {"value": value, "unit": unit}
                    for name, (value, unit) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
