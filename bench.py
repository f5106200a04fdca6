"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}. $SPARK_GRAFT_CPUS defaults to every
core; the driver heap is three quarters of physical memory, at most 90g.

Each query is forced end-to-end with a noop sink (full computation, no
driver-side collect overhead).

Diagnostics:
- per-sample detail in bench_out.json ``query_stats[*].samples``
  (pass index + wall-clock offset + duration) so a disturbed time
  segment is attributable;
- ``SPARK_GRAFT_BENCH_ONLY=row1,row2`` isolation mode for fresh-process
  single-row adjudication;
- an ``env`` block (cpus, load averages, cumulative JVM GC ms) in both
  artifacts;
- a driver GC between passes so ContextCleaner reclaims the per-pass
  localCheckpoint blocks instead of letting heap pressure bleed into
  later rows.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = local_cpus()
    spark = local_session("dve-spark-bench", QUERY_CONF)

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()

    # isolation mode: SPARK_GRAFT_BENCH_ONLY
    # = comma-separated row names runs ONLY those queries in this (fresh)
    # process — the adjudication path for a row whose in-roster timing is
    # suspected of being session pressure rather than the operator
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    if only:
        keep = [n.strip() for n in only.split(",") if n.strip()]
        unknown = [n for n in keep if n not in queries]
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_BENCH_ONLY: unknown rows {unknown}")
        queries = {n: queries[n] for n in keep}

    # derive sf from the directory name (e.g. .../sf0.1)
    tail = Path(sf_dir).name
    try:
        sf = float(tail.replace("sf", ""))
    except ValueError:
        sf = None

    # warm up the JVM/codegen path and the Python worker pool once so the
    # first timed query doesn't absorb session/process start-up (measures
    # queries, not JIT or worker spawning)
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()

    def _identity(batches):
        yield from batches

    spark.range(256).repartition(int(cpus)).mapInPandas(
        _identity, "id long"
    ).write.format("noop").mode("overwrite").save()

    # k runs per query, report the MEDIAN: this machine's co-tenant noise
    # swings single-run timings 3-20x, so one
    # sample per query cannot support any perf claim. Runs are interleaved
    # round-robin (all queries once, then again) so a transient load spike
    # degrades one sample of many queries rather than all samples of one.
    # Default 5 passes: the per-sample timestamps show the box's noise
    # arrives in MINUTE-SCALE windows (~2 min
    # on / ~1 min off twice during one 3-pass run, same roster positions
    # inflated in consecutive passes, all flat in fresh-process isolation
    # and no local process above 1% CPU), so with 3 passes a median can
    # sit on 2 disturbed samples; 5 passes keep the median anchored to
    # undisturbed ones. The adaptive budget below still degrades the pass
    # count before ever degrading to an unusable single sample.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    # soft wall-clock budget: complete passes only, never fewer than one —
    # a partially-sampled pass would bias medians. ADAPTIVE (a fixed
    # budget that one pass of the roster outgrows leaves runs_per_query=1
    # — statistically void on a box with 3-20x single-run noise): the
    # next pass starts only if the
    # measured cost of the previous pass still fits, so the harness
    # degrades to fewer passes long before it degrades to one, and the
    # default budget is sized for >=2-3 passes of the current roster
    # The untimed warmup pass consumes ~1 roster-pass of wall
    # clock before any sample lands, so the default budget grows by
    # one pass-worth to keep >= 3 TIMED passes at the current roster
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "1800"))
    t0 = time.perf_counter()
    samples: dict[str, list[float]] = {name: [] for name in queries}
    # per-sample detail: pass index + the sample's wall-clock offset from
    # bench start, so a disturbed SEGMENT of one pass (e.g. five adjacent
    # 7-13x max/median rows) is attributable to its time window instead of reading
    # as five independently-unstable operators
    detail: dict[str, list[dict]] = {name: [] for name in queries}

    def _gc_ms() -> int:
        """Cumulative JVM GC milliseconds (driver == executor in local
        mode) — box-noise telemetry."""
        beans = (
            spark.sparkContext._jvm.java.lang.management
            .ManagementFactory.getGarbageCollectorMXBeans()
        )
        return sum(
            beans.get(i).getCollectionTime() for i in range(beans.size())
        )

    def _env_snapshot() -> dict:
        la = os.getloadavg()
        return {
            "cpus": int(cpus),
            "os_cpus": os.cpu_count(),
            "load_avg_1m": round(la[0], 2),
            "load_avg_5m": round(la[1], 2),
            "jvm_gc_total_ms": _gc_ms(),
        }

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2

    def emit() -> None:
        # called after EVERY completed pass, not just at exit: if the
        # harness kills the process mid-run, the last printed line /
        # written file is still a complete, self-identifying artifact
        # for every pass that finished (the driver parses the LAST
        # stdout line). queries_min rides along because this box's
        # co-tenant noise makes the MINIMUM the honest floor, and the
        # driver snapshots only stdout — adjudicating noise shouldn't
        # require bench_out.json. Full per-query median/min/max detail
        # goes to the FILE: a combined line overflows the driver's stdout
        # capture.
        timings = {
            name: round(median(xs), 3) for name, xs in samples.items()
        }
        stats = {
            name: {
                "median": round(median(xs), 3),
                "min": round(min(xs), 3),
                "max": round(max(xs), 3),
                "runs": len(xs),
                "samples": detail[name],
            }
            for name, xs in samples.items()
        }
        total = round(sum(timings.values()), 3)
        rpq = min(len(xs) for xs in samples.values())
        Path(__file__).resolve().parent.joinpath(
            "bench_out.json"
        ).write_text(
            json.dumps(
                {
                    "metric": "total_query_wall_sec",
                    "value": total,
                    "unit": "sec",
                    "queries": timings,
                    "query_stats": stats,
                    "runs_requested": runs,
                    "runs_per_query": rpq,
                    "sf": sf,
                    "env": _env_snapshot(),
                },
                indent=2,
            )
        )
        print(
            json.dumps(
                {
                    "metric": "total_query_wall_sec",
                    "value": total,
                    "unit": "sec",
                    "queries": timings,
                    "queries_min": {
                        name: s["min"] for name, s in stats.items()
                    },
                    # a single-sample artifact must be self-identifying
                    # (one pass cannot support a perf claim)
                    "runs_per_query": rpq,
                    "sf": sf,
                    # box-noise telemetry: lets a reader separate box noise from code without
                    # an isolation re-run
                    "env": _env_snapshot(),
                },
                separators=(",", ":"),
            ),
            flush=True,
        )

    def run_pass(record: bool, pass_idx: int) -> float:
        pass_t0 = time.perf_counter()
        for name, fn in queries.items():
            start = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            if record:
                dur = time.perf_counter() - start
                samples[name].append(dur)
                detail[name].append(
                    {
                        "pass": pass_idx,
                        "at": round(start - t0, 3),
                        "sec": round(dur, 3),
                    }
                )
            # drop the finished query's persistent-RDD litter NOW
            # (localCheckpoint blocks live in the block manager until
            # a driver GC lets the ContextCleaner find them — the
            # between-pass System.gc() can't help rows later in the
            # SAME pass, which is where the in-roster inflation lives:
            # classifier 68s in-roster vs 10.9s isolated this round).
            # Safe between queries: earlier frames are dead, nothing
            # recomputes them.
            try:
                jmap = spark.sparkContext._jsc.getPersistentRDDs()
                it = jmap.values().iterator()
                while it.hasNext():
                    it.next().unpersist(False)
            except Exception:
                pass  # diagnostics must never fail the bench
        # release driver-side litter between passes: the dedup/CC rounds
        # localCheckpoint per iteration and those RDD blocks are only
        # reclaimed when the ContextCleaner sees their references die in
        # a DRIVER GC — without one, 4 roster passes accumulate blocks
        # and the growing heap pressure bleeds into later rows' timings
        # ("session pressure": unchanged operators measured +28-49%
        # in-roster while flat in isolation)
        spark.sparkContext._jvm.System.gc()
        return time.perf_counter() - pass_t0

    # one UNTIMED warmup pass of the full roster: the generic JVM warmup
    # above doesn't touch the per-query codegen/JIT/process-pool paths,
    # so without it pass 1 carries 8x first-run spikes (feature_scores
    # max 69s vs median 8.2s) that read as phantom instability in
    # max/median. The
    # warmup consumes budget; the adaptive pass logic sees its cost, so
    # the harness still degrades to fewer TIMED passes, never to zero.
    last_pass = 0.0
    if os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0":
        last_pass = run_pass(record=False, pass_idx=-1)
    for i in range(runs):
        elapsed = time.perf_counter() - t0
        if i > 0 and elapsed + last_pass > budget:
            break
        last_pass = run_pass(record=True, pass_idx=i)
        emit()
    spark.stop()


def local_cpus() -> str:
    """``$SPARK_GRAFT_CPUS``, or every core of this machine."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())


def driver_memory() -> str:
    """Driver heap: three quarters of physical memory, at most 90g."""
    physical_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(90 * 1024, physical_mb * 3 // 4)}m"


#: the settings the headline queries run under
QUERY_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def local_session(app_name: str, conf: dict[str, str]):
    """A ``local[local_cpus()]`` session with as many shuffle partitions,
    the ``driver_memory()`` heap and the UI off; ``conf`` adds settings or
    overrides these."""
    from pyspark.sql import SparkSession

    cpus = local_cpus()
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    settings = {
        "spark.sql.shuffle.partitions": cpus,
        "spark.driver.memory": driver_memory(),
        "spark.ui.enabled": "false",
        **conf,
    }
    for key, value in settings.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


if __name__ == "__main__":
    main()
