"""The traced run: spans around the engine's layer entry points, Spark jobs
attributed to those spans through the event log, and the per-layer
metrics derived from both.

Spans are recorded from the benchmark's side only: each wrapper replaces a
public function where ``data_validation_engine_spark.pipeline`` (or the
step engine) looks it up, opens a span, tags the calling thread's Spark
jobs with the span's id and layer (``SparkContext.setLocalProperty``, which
the event log carries in every job's and stage's properties), and calls
through. Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import gc
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path

LAYERS = ("sources", "contract", "steps", "llmops", "messages", "sinks", "pipeline")
SPARK_METRICS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "driver_gap_s",
)
SPAN_METRICS = {
    # metric -> span names whose outermost durations it sums
    "sources.read_s": ("sources.read",),
    "sources.write_s": ("write.transform",),
    "contract.apply_s": ("contract.apply",),
    "contract.write_s": ("write.data_contract",),
    "steps.evaluate_s": ("steps.evaluate",),
    "steps.sync_filters_s": ("steps.sync_filters",),
    "llmops.call_s": ("llmops.call",),
    "messages.contract_feed_write_s": ("messages.contract_feed_write",),
    "messages.rules_feed_write_s": ("messages.rules_feed_write",),
    "sinks.entity_write_s": ("write.business_rules",),
    "sinks.report_s": ("sinks.report",),
    "sinks.aggregates_s": ("sinks.aggregates", "write.audit"),
    "sinks.audit_append_s": ("sinks.audit_append",),
}
CALL_COUNTS = {
    "steps.evaluate_calls": "steps.evaluate",
    "llmops.calls": "llmops.call",
    "sinks.audit_appends": "sinks.audit_append",
}
COUNTERS = (
    "sources.rows", "contract.messages", "messages.rows",
    "sinks.files_written", "sinks.bytes_written",
)
WRITE_CLASSES = {
    "transform": "sources",
    "data_contract": "contract",
    "errors": "messages",
    "business_rules": "sinks",
    "error_report": "sinks",
    "audit": "sinks",
}
TRACE_CALLS = 2  # minimum calls in each of the untraced and traced phases
LAYER_KEY = "perfbench.layer"
SPAN_KEY = "perfbench.span"


def per_layer_names() -> list[str]:
    """Every metric a traced run prints, in print order."""
    names = list(SPAN_METRICS) + list(CALL_COUNTS) + list(COUNTERS)
    names += ["pipeline.self_s", "pipeline.landing_s"]
    names += [f"spark.{layer}.{m}" for layer in LAYERS for m in SPARK_METRICS]
    names += [
        "spark.persisted_rdds_after", "spark.active_sessions_after",
        "driver_heap_peak_mb", "submission_p50_s", "submission_tail_s",
        "trace.untraced_wall_s", "trace.wall_s",
        "trace.overhead_s",
    ]
    return names


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "bytes" if "bytes" in name else "count"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    submission: str | None
    start: float
    end: float = 0.0


def classify_write(path) -> str:
    """The output class of a DataFrameWriter path, from its segments."""
    for part in Path(str(path)).parts:
        for key in WRITE_CLASSES:
            if part == key or part.startswith(key + "."):
                return key
    return "other"


class Tracer:
    """In-memory spans, nested per thread; a span opened on a thread with
    no open span is a child of the open ``process_landing`` span, if any."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._landing: int | None = None
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _tag(self, span: Span | None) -> None:
        self.sc.setLocalProperty(LAYER_KEY, span.layer if span else None)
        self.sc.setLocalProperty(SPAN_KEY, str(span.id) if span else None)

    def call(self, name: str, layer: str, fn, args, kwargs, submission=None):
        stack = self._stack()
        parent = stack[-1].id if stack else self._landing
        if submission is None and stack:
            submission = stack[-1].submission
        with self._lock:
            span = Span(len(self.spans), name, layer, parent, submission, time.time())
            self.spans.append(span)
        stack.append(span)
        if name == "pipeline.landing":
            self._landing = span.id
        self._tag(span)
        try:
            result = fn(*args, **kwargs)
            if span.submission is None:
                # run_pipeline mints the id itself when the caller passes none
                span.submission = getattr(result, "submission_id", None)
            return result
        finally:
            span.end = time.time()
            stack.pop()
            if name == "pipeline.landing":
                self._landing = None
            self._tag(stack[-1] if stack else None)

    def wrap(self, owner, attr: str, name, layer: str, submission=None) -> None:
        """Replace ``owner.attr`` with a traced call. ``name`` may be a
        function of the call's arguments."""
        inner = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            span_name = name(*args, **kwargs) if callable(name) else name
            sub = submission(*args, **kwargs) if submission else None
            return tracer.call(span_name, layer, inner, args, kwargs, sub)

        self._patches.append((owner, attr, inner))
        setattr(owner, attr, traced)

    def wrap_writer(self, cls, method: str) -> None:
        inner = getattr(cls, method)
        tracer = self

        def traced(writer, path=None, *args, **kwargs):
            kind = classify_write(path)
            stack = tracer._stack()
            layer = WRITE_CLASSES.get(kind) or (stack[-1].layer if stack else "pipeline")
            return tracer.call(
                f"write.{kind}", layer, inner, (writer, path, *args), kwargs
            )

        self._patches.append((cls, method, inner))
        setattr(cls, method, traced)

    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        from data_validation_engine_spark import pipeline
        from data_validation_engine_spark.llmops import dedup, text
        from data_validation_engine_spark.sinks.audit import AuditLog
        from data_validation_engine_spark.steps.engine import StepEngine

        def feed(messages, uri, *a, **k):
            stage = Path(str(uri)).name
            kind = "contract" if stage == "data_contract" else "rules"
            return f"messages.{kind}_feed_write"

        def submission_of(*args, **kwargs):
            return kwargs.get("submission_id")

        self.wrap(pipeline, "run_pipeline", "pipeline.run", "pipeline", submission_of)
        self.wrap(pipeline, "process_landing", "pipeline.landing", "pipeline")
        self.wrap(pipeline, "read_submitted_file", "sources.read", "sources")
        self.wrap(pipeline, "add_record_index", "contract.apply", "contract")
        self.wrap(pipeline, "apply_contract", "contract.apply", "contract")
        self.wrap(pipeline, "apply_sync_filters", "steps.sync_filters", "steps")
        self.wrap(pipeline, "write_messages_jsonl", feed, "messages")
        self.wrap(pipeline, "write_error_report", "sinks.report", "sinks")
        self.wrap(pipeline, "error_aggregates", "sinks.aggregates", "sinks")
        self.wrap(StepEngine, "evaluate", "steps.evaluate", "steps")
        self.wrap(AuditLog, "append", "sinks.audit_append", "sinks")
        for module, fn in (
            (dedup, "exact_dedup"), (dedup, "minhash_dedup"),
            (text, "text_stats"), (text, "quality_filters"),
        ):
            self.wrap(module, fn, "llmops.call", "llmops")
        for method in ("parquet", "json", "csv", "save"):
            self.wrap_writer(DataFrameWriter, method)

    def uninstall(self) -> None:
        for owner, attr, inner in reversed(self._patches):
            setattr(owner, attr, inner)
        self._patches.clear()

    def dump(self, path: Path) -> None:
        """Write the spans as JSON lines; a span opened before its
        submission's id was known takes the id of its nearest ancestor."""
        by_id = {s.id: s for s in self.spans}
        with path.open("w") as fh:
            for s in self.spans:
                record = dict(s.__dict__)
                up = s
                while record["submission"] is None and up.parent is not None:
                    up = by_id[up.parent]
                    record["submission"] = up.submission
                fh.write(json.dumps(record) + "\n")


# -- interval arithmetic -------------------------------------------------------

def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    merged: list[list[float]] = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return [(a, b) for a, b in merged]


def _subtract(
    base: list[tuple[float, float]], cut: list[tuple[float, float]]
) -> list[tuple[float, float]]:
    out = []
    cut = _union(cut)
    for a, b in base:
        pos = a
        for c, d in cut:
            if d <= pos or c >= b:
                continue
            if c > pos:
                out.append((pos, c))
            pos = max(pos, d)
        if pos < b:
            out.append((pos, b))
    return out


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


# -- metrics -------------------------------------------------------------------

def span_metrics(spans: list[Span]) -> dict[str, float]:
    by_id = {s.id: s for s in spans}
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)

    def outermost(s: Span) -> bool:
        p = by_id.get(s.parent) if s.parent is not None else None
        while p is not None:
            if p.name == s.name:
                return False
            p = by_id.get(p.parent) if p.parent is not None else None
        return True

    out: dict[str, float] = {}
    for metric, names in SPAN_METRICS.items():
        out[metric] = sum(
            s.end - s.start for s in spans if s.name in names and outermost(s)
        )
    for metric, name in CALL_COUNTS.items():
        out[metric] = sum(1 for s in spans if s.name == name and outermost(s))

    def self_time(s: Span, only: str | None = None) -> float:
        kids = [
            (c.start, c.end) for c in children[s.id] if only is None or c.name == only
        ]
        return _length(_subtract([(s.start, s.end)], kids))

    out["pipeline.self_s"] = sum(self_time(s) for s in spans if s.name == "pipeline.run")
    out["pipeline.landing_s"] = sum(
        self_time(s, "pipeline.run") for s in spans if s.name == "pipeline.landing"
    )
    return out


def read_event_log(path: Path) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) from a Spark JSON event log, with the trace tags."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    tags: dict[tuple[int, int], dict] = {}
    with path.open() as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "layer": props.get(LAYER_KEY),
                    "span": props.get(SPAN_KEY),
                    "start": ev["Submission Time"] / 1000,
                    "end": None,
                }
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                props = ev.get("Properties") or {}
                tags[(info["Stage ID"], info["Stage Attempt ID"])] = props
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                acc = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}
                props = tags.get(key, {})
                stages[key] = {
                    "layer": props.get(LAYER_KEY),
                    "tasks": info["Number of Tasks"],
                    "acc": acc,
                }
    return [j for j in jobs.values() if j["end"] is not None], list(stages.values())


def _acc(acc: dict, *names: str) -> float:
    return sum(float(acc.get(f"internal.metrics.{n}") or 0) for n in names)


def spark_metrics(spans: list[Span], jobs: list[dict], stages: list[dict]) -> dict:
    out = {f"spark.{layer}.{m}": 0.0 for layer in LAYERS for m in SPARK_METRICS}
    for job in jobs:
        if job["layer"] in LAYERS:
            out[f"spark.{job['layer']}.jobs"] += 1
    for st in stages:
        layer = st["layer"]
        if layer not in LAYERS:
            continue
        acc, p = st["acc"], f"spark.{layer}."
        out[p + "stages"] += 1
        out[p + "tasks"] += st["tasks"]
        out[p + "executor_run_s"] += _acc(acc, "executorRunTime") / 1e3
        out[p + "executor_cpu_s"] += _acc(acc, "executorCpuTime") / 1e9
        out[p + "jvm_gc_s"] += _acc(acc, "jvmGCTime") / 1e3
        out[p + "shuffle_read_bytes"] += _acc(
            acc, "shuffle.read.remoteBytesRead", "shuffle.read.localBytesRead"
        )
        out[p + "shuffle_write_bytes"] += _acc(acc, "shuffle.write.bytesWritten")
        out[p + "spill_bytes"] += _acc(acc, "diskBytesSpilled")

    # driver gap: each span's own time (minus its child spans) not covered
    # by a Spark job that span submitted
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    span_jobs: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for job in jobs:
        if job["span"] is not None:
            span_jobs[job["span"]].append((job["start"], job["end"]))
    for s in spans:
        own = _subtract([(s.start, s.end)], children[s.id])
        gap = _length(_subtract(own, span_jobs[str(s.id)]))
        out[f"spark.{s.layer}.driver_gap_s"] += gap
    return out


def heap_peak_mb(spark) -> float:
    """Sum of the JVM heap pools' peak usage since the last reset."""
    mgmt = spark.sparkContext._jvm.java.lang.management
    heap = mgmt.MemoryType.HEAP
    pools = mgmt.ManagementFactory.getMemoryPoolMXBeans()
    return sum(
        pools.get(i).getPeakUsage().getUsed()
        for i in range(pools.size())
        if pools.get(i).getType() == heap
    ) / 2**20


def reset_heap_peaks(spark) -> None:
    pools = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = pools.getMemoryPoolMXBeans()
    for i in range(beans.size()):
        beans.get(i).resetPeakUsage()


def live_sessions(sc) -> int:
    """Python SparkSession objects on ``sc`` still reachable in the driver."""
    from pyspark.sql import SparkSession

    gc.collect()
    return sum(
        1
        for o in gc.get_objects()
        if isinstance(o, SparkSession) and getattr(o, "_sc", None) is sc
    )


def output_counts(dirs: list[Path]) -> tuple[int, int]:
    files = size = 0
    for d in dirs:
        for p in d.rglob("*"):
            if p.is_file():
                files += 1
                size += p.stat().st_size
    return files, size


def traced_run(args, workload, warmup, cpus):
    """Untraced calls, then the same number of traced calls on a session
    with the event log on; returns (metrics, attempted, failed, errors)."""
    from perfbench import run
    from perfbench.run import Loop, set_up
    from perfbench.workloads import message_counts

    out = run.OUT
    spark, dischema, _ = set_up(workload, cpus, 1)
    Loop(spark, warmup, warmup.load(), out / "warmup").call()
    reset_heap_peaks(spark)
    plain = Loop(spark, workload, dischema, out / "untraced", TRACE_CALLS)
    plain.run_for(args.seconds / 2)
    heap = heap_peak_mb(spark)
    spark.stop()

    event_dir = out / "eventlog"
    spark = run.start_session(cpus, event_dir)
    tracer = Tracer(spark.sparkContext)
    counters: dict[str, float] = defaultdict(float)

    def count_outputs(outcome) -> None:
        results = outcome.results
        counters["sources.rows"] += sum(r.statistics.get("record_count", 0) for r in results)
        counters["messages.rows"] += sum(r.statistics.get("n_messages", 0) for r in results)
        feeds = [Path(r.errors_dir) / "data_contract" for r in results]
        counters["contract.messages"] += sum(message_counts(feeds).values())
        files, size = output_counts(outcome.outputs)
        counters["sinks.files_written"] += files
        counters["sinks.bytes_written"] += size

    tracer.install()
    try:
        traced = Loop(spark, workload, dischema, out / "traced", TRACE_CALLS)
        traced.run_for(args.seconds / 2, after=count_outputs)
    finally:
        tracer.uninstall()
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    sessions = live_sessions(spark.sparkContext)
    spark.stop()
    tracer.dump(out / "spans.jsonl")

    attempted = len(plain.outcomes) + len(traced.outcomes)
    failed = plain.failed + traced.failed
    errors = plain.errors + traced.errors
    if not plain.done or not traced.done:
        return {}, attempted, failed, errors

    (log,) = [p for p in event_dir.iterdir() if p.is_file()]
    jobs, stages = read_event_log(log)
    calls = len(traced.done)
    metrics = span_metrics(tracer.spans)
    metrics.update(spark_metrics(tracer.spans, jobs, stages))
    metrics.update(counters)
    metrics = {k: v / calls for k, v in metrics.items()}
    metrics["spark.persisted_rdds_after"] = persisted
    metrics["spark.active_sessions_after"] = sessions
    metrics["driver_heap_peak_mb"] = heap
    metrics.update(run.latency_percentiles(plain))
    untraced_wall, traced_wall = plain.fastest().wall_s, traced.fastest().wall_s
    metrics["trace.untraced_wall_s"] = untraced_wall
    metrics["trace.wall_s"] = traced_wall
    metrics["trace.overhead_s"] = traced_wall - untraced_wall
    result = {name: (metrics[name], unit(name)) for name in per_layer_names()}
    return result, attempted, failed, errors
