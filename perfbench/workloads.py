"""The three submission workloads: dischemas, inputs, one timed call each,
and the correctness check of that call's outputs.

A workload drives the engine only through ``load_dischema``,
``run_pipeline`` and ``process_landing``. ``prepare`` writes the seeded
inputs and the expected outputs before any timing starts; ``run`` is the
timed call; ``check`` compares what the call wrote with the expectation,
reading the files directly so that no Spark job runs between timed calls.
"""

from __future__ import annotations

import json
import shutil
import time
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

from perfbench import gen

BULK_DISCHEMA = {
    "contract": {
        "types": {
            "Flag": {"callable": "constr", "constraints": {"max_length": 1}},
        },
        "datasets": {
            "lineitem": {
                "fields": {
                    "l_orderkey": "int",
                    "l_partkey": "int",
                    "l_suppkey": "int",
                    "l_linenumber": "int",
                    "l_quantity": "int",
                    "l_extendedprice": "float",
                    "l_discount": "float",
                    "l_tax": "float",
                    "l_returnflag": "Flag",
                    "l_shipdate": "date",
                    "l_shipmode": "str",
                },
                "mandatory_fields": ["l_orderkey", "l_partkey", "l_linenumber"],
                "reader_config": {".csv": {"reader": "SparkCSVReader"}},
            }
        },
    },
    "transformations": {
        "reference_data": {
            "part": {"type": "filename", "filename": "part.parquet"}
        },
        "rules": [
            {
                "operation": "left_join",
                "entity": "lineitem",
                "target": "refdata_part",
                "join_condition": "lineitem.l_partkey == refdata_part.p_partkey",
                "new_columns": {"refdata_part.p_name": "part_name"},
            },
            {
                "operation": "add",
                "entity": "lineitem",
                "column_name": "net_price",
                "expression": "round(l_extendedprice * (1 - l_discount), 2)",
            },
        ],
        "filters": [
            {
                "entity": "lineitem",
                "expression": "l_discount >= 0",
                "error_code": "NEG_DISCOUNT",
                "failure_message": "discount is negative",
                "reporting_field": "l_discount",
            },
            {
                "entity": "lineitem",
                "expression": "part_name IS NOT NULL",
                "error_code": "UNKNOWN_PART",
                "failure_message": "part key not in the part table",
                "reporting_field": "l_partkey",
            },
            {
                "entity": "lineitem",
                "expression": "l_tax < 0.08",
                "error_code": "HIGH_TAX",
                "failure_message": "tax at the 8% ceiling",
                "reporting_field": "l_tax",
                "is_informational": True,
            },
        ],
        "post_filter_rules": [
            {
                "operation": "group_by",
                "entity": "lineitem",
                "group_by": {"l_orderkey": "l_orderkey"},
                "agg_columns": {
                    "count(1)": "n_lines",
                    "round(sum(net_price), 2)": "total_net",
                },
                "new_entity_name": "order_totals",
            }
        ],
    },
}

LANDING_DISCHEMA = {
    "contract": {
        "types": {
            "Flag": {"callable": "constr", "constraints": {"max_length": 1}},
        },
        "datasets": {
            "orders": {
                "fields": {
                    "o_orderkey": "int",
                    "o_custkey": "int",
                    "o_orderstatus": "Flag",
                    "o_totalprice": "float",
                    "o_orderdate": "date",
                    "o_orderpriority": "str",
                },
                "mandatory_fields": ["o_orderkey"],
                "reader_config": {".csv": {"reader": "SparkCSVReader"}},
            }
        },
    },
    "transformations": {
        "rules": [
            {
                "operation": "add",
                "entity": "orders",
                "column_name": "order_year",
                "expression": "year(o_orderdate)",
            }
        ],
        "filters": [
            {
                "entity": "orders",
                "expression": "o_orderstatus IN ('O', 'F', 'P')",
                "error_code": "BAD_STATUS",
                "failure_message": "unknown order status",
                "reporting_field": "o_orderstatus",
            }
        ],
    },
}

CORPUS_DISCHEMA = {
    "contract": {
        "datasets": {
            "documents": {
                "fields": {"doc_id": "int", "text": "str", "source": "str"},
                "mandatory_fields": ["doc_id", "text"],
                "reader_config": {
                    ".jsonl": {
                        "reader": "SparkJSONReader",
                        "kwargs": {"multi_line": False},
                    }
                },
            }
        },
    },
    "transformations": {
        "rules": [
            {"operation": "quality_filters", "entity": "documents"},
            {
                "operation": "dedup_exact",
                "entity": "documents",
                "key_columns": ["text"],
                "order_column": "doc_id",
                "normalize_text": True,
                "new_entity_name": "unique_docs",
            },
            {
                "operation": "dedup_minhash",
                "entity": "unique_docs",
                "id_column": "doc_id",
                "text_column": "text",
                "threshold": 0.5,
                "new_entity_name": "curated",
            },
            {
                "operation": "text_stats",
                "entity": "curated",
                "id_column": "doc_id",
                "new_entity_name": "doc_stats",
            },
        ],
    },
}


@dataclass
class Outcome:
    """One timed call: its submissions' latencies and the result objects
    the check reads."""

    wall_s: float
    latencies: list[float]
    records: int
    results: list
    work: Path
    audit: Path
    outputs: list[Path]


class Workload:
    """Seeded inputs + expected outputs for one workload at one size."""

    name = ""
    dischema_doc: dict = {}

    def __init__(self, root: Path, seed: int, scale: float) -> None:
        self.root = root
        self.seed = seed
        self.scale = scale
        self.dischema_path = root / "dischema.json"
        self.expected: gen.Expected | None = None

    def prepare(self) -> None:
        self.root.mkdir(parents=True, exist_ok=True)
        self.dischema_path.write_text(json.dumps(self.dischema_doc))

    def load(self):
        from data_validation_engine_spark.dischema import load_dischema

        return load_dischema(self.dischema_path)

    def run(self, spark, dischema, work: Path) -> Outcome:
        raise NotImplementedError

    def check(self, outcome: Outcome) -> list[str]:
        """Mismatches between the call's outputs and the expectation."""
        raise NotImplementedError


def message_counts(feeds: list[Path]) -> dict[str, int]:
    """Messages per ``error_code`` across JSON-lines feed directories."""
    counts: Counter[str] = Counter()
    for feed in feeds:
        for part in feed.glob("part-*"):
            with part.open() as fh:
                counts.update(json.loads(line)["error_code"] for line in fh)
    return dict(counts)


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p in Path(path).glob("part-*"))


def _nonzero(counts: dict[str, int]) -> dict[str, int]:
    return {k: v for k, v in counts.items() if v}


def _diff(label: str, got, want) -> list[str]:
    return [] if got == want else [f"{label}: got {got!r}, expected {want!r}"]


class _SingleSubmission(Workload):
    """One submitted file through ``run_pipeline`` per call."""

    entity = ""
    input_name = ""

    def input_files(self) -> dict[str, str]:
        return {self.entity: str(self.root / self.input_name)}

    def run(self, spark, dischema, work: Path) -> Outcome:
        from data_validation_engine_spark import pipeline

        audit = work / "audit_log"
        start = time.perf_counter()
        result = pipeline.run_pipeline(
            spark,
            dischema,
            self.input_files(),
            work,
            refdata_base_path=str(self.root),
            audit_path=str(audit),
        )
        wall = time.perf_counter() - start
        return Outcome(
            wall, [wall], self.expected.records, [result], work, audit, [work]
        )

    def check(self, outcome: Outcome) -> list[str]:
        exp = self.expected
        (result,) = outcome.results
        errors = _diff("success", result.success, True)
        errors += _diff(
            "n_record_rejections",
            result.statistics.get("n_record_rejections"),
            exp.n_record_rejections,
        )
        errors += _diff(
            "message counts",
            message_counts(list((outcome.work / "errors").iterdir())),
            _nonzero(exp.message_counts),
        )
        for name, rows in exp.entity_rows.items():
            path = result.entity_paths.get(name)
            errors += _diff(f"{name} rows", path and _parquet_rows(path), rows)
        return errors


class BulkSubmission(_SingleSubmission):
    name = "bulk_submission"
    dischema_doc = BULK_DISCHEMA
    entity = "lineitem"
    input_name = "lineitem.csv"
    rows = 20_000
    parts = 4_000

    def prepare(self) -> None:
        super().prepare()
        part = self.root / "part.parquet"
        csv = self.root / self.input_name
        gen.write_part(part, self.seed, self.parts)
        gen.write_lineitem(
            csv, self.seed, max(200, int(self.rows * self.scale)), self.parts
        )
        self.expected = gen.bulk_expected(csv, part)


class CorpusCuration(_SingleSubmission):
    name = "corpus_curation"
    dischema_doc = CORPUS_DISCHEMA
    entity = "documents"
    input_name = "documents.jsonl"
    documents = 200

    def prepare(self) -> None:
        super().prepare()
        path = self.root / self.input_name
        self.expected = gen.write_documents(
            path, self.seed, max(50, int(self.documents * self.scale))
        )
        self.exact_survivors = gen.corpus_exact_survivors(path)

    def check(self, outcome: Outcome) -> list[str]:
        errors = super().check(outcome)
        (result,) = outcome.results
        got = _parquet_rows(result.entity_paths["unique_docs"])
        return errors + _diff("dedup_exact survivors vs DuckDB", got, self.exact_survivors)


class LandingBatch(Workload):
    """A landing prefix of small order files through ``process_landing``
    with four worker threads per call."""

    name = "landing_batch"
    dischema_doc = LANDING_DISCHEMA
    files = 4
    rows_per_file = 250
    workers = 4

    def prepare(self) -> None:
        super().prepare()
        self.batch = self.root / "batch"
        self.expected = gen.write_landing(
            self.batch,
            self.seed,
            max(2, int(round(self.files * min(1.0, self.scale * 4)))),
            max(20, int(self.rows_per_file * self.scale)),
        )

    def run(self, spark, dischema, work: Path) -> Outcome:
        from data_validation_engine_spark import pipeline

        landing = work / "landing"
        shutil.copytree(self.batch, landing)
        audit = work / "audit_log"
        latencies: list[float] = []
        inner = pipeline.run_pipeline

        def timed(*args, **kwargs):
            start = time.perf_counter()
            try:
                return inner(*args, **kwargs)
            finally:
                latencies.append(time.perf_counter() - start)

        # process_landing looks run_pipeline up in its module at call time;
        # timing each call there is the only way to see per-submission
        # latency through the public entry point
        pipeline.run_pipeline = timed
        try:
            start = time.perf_counter()
            results = pipeline.process_landing(
                spark,
                dischema,
                str(landing),
                work / "out",
                audit_path=str(audit),
                max_workers=self.workers,
            )
            wall = time.perf_counter() - start
        finally:
            pipeline.run_pipeline = inner
        return Outcome(
            wall, latencies, self.expected.records, results, work, audit,
            [work / "out" / "work", audit],
        )

    def check(self, outcome: Outcome) -> list[str]:
        import pyarrow.dataset

        exp = self.expected
        results = outcome.results
        errors = _diff("submissions", len(results), exp.submissions)
        errors += _diff("successes", sum(r.success for r in results), exp.submissions)
        status = pyarrow.dataset.dataset(
            outcome.audit / "processing_status", partitioning="hive"
        ).to_table(columns=["submission_id", "status", "submission_result"])
        completed = {
            row["submission_id"]
            for row in status.to_pylist()
            if row["status"] == "completed" and row["submission_result"] == "success"
        }
        errors += _diff("completed audit statuses", len(completed), exp.submissions)
        errors += _diff(
            "n_record_rejections",
            sum(r.statistics.get("n_record_rejections", 0) for r in results),
            exp.n_record_rejections,
        )
        errors += _diff(
            "message counts",
            message_counts(list((outcome.work / "out" / "work").glob("*/errors/*"))),
            _nonzero(exp.message_counts),
        )
        rows = sum(_parquet_rows(r.entity_paths["orders"]) for r in results)
        errors += _diff("orders rows", rows, exp.entity_rows["orders"])
        return errors


WORKLOADS = {w.name: w for w in (BulkSubmission, LandingBatch, CorpusCuration)}
