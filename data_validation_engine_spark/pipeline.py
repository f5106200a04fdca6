"""End-to-end pipeline runner: dischema + input files -> validated outputs.

The composition layer over the stage operators (shape parity with the
reference's production entry point ``cluster_pipeline_run``,
dve pipeline/pipeline.py:950-977, minus its per-submission thread pool —
submissions here are independent function calls; Spark job submission is
thread-safe, so callers can fan out with their own executor):

1. **audit received** (dve pipeline/pipeline.py:260-318) — mint a
   submission id, append audit rows.
2. **file transformation** (pipeline.py:320-424) — per contract dataset,
   read the submitted file stringified via the configured reader; write the
   ``transform/`` parquet checkpoint. Entity presence checks (missing file,
   unconfigured extras) and the XSD check emit submission messages
   (dve backends/base/contract.py:227-315), driver literals tagged for the
   ``file_transformation`` feed. A missing entity or a failed XSD ends the
   submission there: its three JSONL feeds are written from those literal
   rows, with no Spark job.
3. **data contract** (pipeline.py:426-544) — reload ``transform/``, add
   ``__record_index__``, run the expression-compiled contract; write
   ``data_contract/`` parquet.
4. **business rules** (pipeline.py:546-728) — entity manager with lazy
   refdata + ``refdata_dve_submission_info``; pre-sync steps per rule, ONE
   sync-filter stage for all rules, post-sync steps. The file
   transformation, contract and rule messages then form one tagged feed,
   collected once with a bounded ``limit(cap + 1).toArrow()`` (the cap is
   the report's 100,000 detail rows), and the three stage error JSONL
   feeds are written from it; cross-stage record rejection by anti-join
   on (origin entity, record index); write final parquet.
5. **error report** (pipeline.py:730-746, 801-948) — the report, the
   ``error_aggregates`` artifact and the submission statistics audit row,
   all read from one summary of the feed whose size is bounded by its
   distinct entities, codes and locations: pyarrow computes it from the
   collected table, and over the cap one grouping-sets query does. Only
   the report's detail rows, the JSONL feeds and the rejection keys are
   data-sized; over the cap each of them is read distributed from the
   checkpointed feed.

The parquet checkpoints between stages are deliberate barriers (error
isolation + restartability); *within* a stage everything is one fused lazy
plan.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_validation_engine_spark.contract.apply import (
    apply_contract,
    reject_keys,
    reject_records_by_origin,
)
from data_validation_engine_spark.contract.compile import stringified_schema
from data_validation_engine_spark.contract.index import add_record_index
from data_validation_engine_spark.contract.spec import EntityContract
from data_validation_engine_spark.dischema import Dischema, load_dischema
from data_validation_engine_spark.entities import EntityManager
from data_validation_engine_spark.messages import (
    MessageCollector,
    ORIGIN_ENTITY,
    RECORD_INDEX,
    empty_messages,
    literal_feed,
    submission_message,
    union_messages,
)
from data_validation_engine_spark.sinks.audit import AuditLog, new_submission_id
from data_validation_engine_spark.sinks.errors import (
    FEEDS,
    MAX_DETAIL_ROWS,
    Feed,
    collect_feed,
    select_feed,
    tag_feed,
    write_messages_jsonl,
)
from data_validation_engine_spark.sinks.report import (
    error_aggregates,
    message_statistics,
    summarise_feed,
    write_error_aggregates,
    write_error_report,
)
from data_validation_engine_spark.sources.csv import CSVOptions, read_csv
from data_validation_engine_spark.sources.json import read_json
from data_validation_engine_spark.sources.xml import conform_to_schema, read_xml
from data_validation_engine_spark.steps.engine import StepEngine
from data_validation_engine_spark.steps.sync_filters import apply_sync_filters

from pyspark.sql import types as T


@dataclass
class PipelineResult:
    submission_id: str
    success: bool
    entities: dict[str, DataFrame] = field(default_factory=dict)
    entity_paths: dict[str, str] = field(default_factory=dict)
    messages: Optional[DataFrame] = None
    errors_dir: Optional[str] = None
    report_path: Optional[str] = None
    error_aggregates_path: Optional[str] = None
    statistics: dict[str, int] = field(default_factory=dict)


def _reader_config(entity_contract: EntityContract, path: str) -> dict[str, Any]:
    """The entity's reader config for ``path``'s extension, keyed with or
    without the dot (``".xml"`` or ``"xml"``); empty when none is set."""
    ext = Path(path).suffix.lower()
    configs = entity_contract.reader_config
    return configs.get(ext) or configs.get(ext.lstrip(".")) or {}


def read_submitted_file(
    spark: SparkSession, path: str, entity_contract: EntityContract
) -> DataFrame:
    """Dispatch one submitted file to the entity's configured reader,
    stringified: JSON and XML entities read to the structure-preserving
    all-strings schema (nested arrays/structs with string leaves)."""
    ext = Path(path).suffix.lower()
    cfg = _reader_config(entity_contract, path)
    kwargs = cfg.get("kwargs", {})
    reader_name = (cfg.get("reader") or "").lower()
    field_names = [f.name for f in entity_contract.fields]

    if ext == ".csv" or "csv" in reader_name:
        opt_names = {f.name for f in CSVOptions.__dataclass_fields__.values()}
        options = CSVOptions(
            **{k: v for k, v in kwargs.items() if k in opt_names}
        )
        return read_csv(spark, path, field_names, options)
    if ext == ".json" or "json" in reader_name:
        return read_json(
            spark,
            path,
            stringified_schema(entity_contract),
            multi_line=bool(kwargs.get("multi_line", True)),
        )
    if ext == ".xml" or "xml" in reader_name:
        df = read_xml(
            spark,
            path,
            kwargs.get("record_tag", "record"),
            root_tag=kwargs.get("root_tag"),
            explode_record_tag=bool(kwargs.get("root_tag")),
            n_records_to_read=kwargs.get("n_records_to_read"),
        )
        return conform_to_schema(df, stringified_schema(entity_contract))
    if ext in (".parquet", ""):
        df = spark.read.parquet(path)
        return df.select(
            *[F.col(f"`{n}`").cast("string").alias(n) for n in field_names]
        )
    raise ValueError(f"unsupported file extension {ext!r} for {path}")


def write_message_feeds(
    feed: Feed, errors_dir: Path, *, cap: int = MAX_DETAIL_ROWS
) -> Feed:
    """Write the tagged feed's JSONL feeds; return the untagged feed the
    stage-6 sinks read. A DataFrame is collected to its Arrow table when a
    bounded collect finds at most ``cap`` rows, else read as it is (cap 0:
    always); a table is read as it is."""
    collected = collect_feed(feed, cap) if isinstance(feed, DataFrame) else feed
    source = feed if collected is None else collected
    for name in FEEDS:
        write_messages_jsonl(select_feed(source, name), str(errors_dir / name))
    return select_feed(source)


def write_feed_artifacts(
    messages: Feed, work: Path, submission_id: str, *, write_report: bool
) -> tuple[str | None, str, dict[str, int]]:
    """Stage 6: the error report, the ``error_aggregates`` audit artifact
    and the feed's statistics; returns (report path, aggregates path,
    statistics), all from one summary of the feed."""
    summary = summarise_feed(messages)
    report_path = None
    if write_report:
        report_path = write_error_report(
            messages, str(work / "error_report"), summary=summary
        )
    # per (entity, code) counts persisted as parquet next to the report,
    # stamped with the submission id — the reference publishes the same
    # frame for auditing (dve pipeline/pipeline.py:730-746, 801-948);
    # written unconditionally (it is the machine-readable artifact; the
    # report is the human one)
    agg_path = str(work / "audit" / "error_aggregates.parquet")
    write_error_aggregates(error_aggregates(summary), submission_id, agg_path)
    return report_path, agg_path, message_statistics(summary)


def run_pipeline(
    spark: SparkSession,
    dischema: Dischema | str | Path,
    input_files: dict[str, str],
    working_dir: str | Path,
    *,
    refdata_base_path: str | None = None,
    audit_path: str | None = None,
    submission_id: str | None = None,
    submission_info: dict[str, Any] | None = None,
    write_report: bool = True,
    runtime_variables: dict[str, Any] | None = None,
) -> PipelineResult:
    """Run transform -> contract -> rules -> report for one submission.

    ``runtime_variables`` bind per-submission template variables for a
    ``templating_strategy: runtime`` dischema (rendered at evaluation
    time, not at config parse).
    """
    if not isinstance(dischema, Dischema):
        dischema = load_dischema(dischema)
    dischema = dischema.resolve(runtime_variables)
    work = Path(working_dir)
    errors_dir = work / "errors"
    submission_id = submission_id or new_submission_id()
    audit = AuditLog(spark, audit_path) if audit_path else None

    def audit_status(status: str, result: str | None = None) -> None:
        if audit:
            audit.append(
                "processing_status",
                [
                    {
                        "submission_id": submission_id,
                        "status": status,
                        "job_run_id": None,
                        "submission_result": result,
                    }
                ],
            )

    # -- stage 1: audit received -------------------------------------------
    audit_status("received")
    if audit and submission_info:
        audit.append(
            "submission_info",
            [
                {
                    "submission_id": submission_id,
                    **submission_info,
                }
            ],
        )

    contract = dischema.contract
    datasets = {e.name: e for e in contract.datasets} if contract else {}

    # -- entity presence checks (dve backends/base/contract.py:227-315) ----
    # presence and XSD messages are driver literals for the
    # file_transformation feed: an early exit writes every feed from them
    # driver-side and starts no Spark job
    missing = sorted(set(datasets) - set(input_files))
    extra = sorted(set(input_files) - set(datasets))
    file_messages = [
        submission_message(
            name, "MISSING_ENTITY", f"no file submitted for declared entity {name!r}"
        )
        for name in missing
    ] + [
        submission_message(
            name, "UNEXPECTED_ENTITY", f"file submitted for undeclared entity {name!r}"
        )
        for name in extra
    ]

    def fail_early() -> PipelineResult:
        feed = literal_feed(file_messages, "file_transformation")
        messages = write_message_feeds(feed, errors_dir)
        audit_status("failed", "critical")
        return PipelineResult(
            submission_id=submission_id,
            success=False,
            messages=spark.createDataFrame(messages),
            errors_dir=str(errors_dir),
        )

    if missing:
        return fail_early()

    # -- stage 2: file transformation (stringified checkpoint) -------------
    from data_validation_engine_spark.sources.xml import (
        XSDValidationError,
        validate_xsd,
    )

    transform_counts: dict[str, Observation] = {}
    transform_schemas: dict[str, T.StructType] = {}
    for name, entity_contract in datasets.items():
        path = input_files[name]
        kwargs = _reader_config(entity_contract, path).get("kwargs", {})
        if kwargs.get("xsd_location"):
            xsd = kwargs["xsd_location"]
            if dischema.base_dir and not Path(xsd).is_absolute():
                xsd = str(Path(dischema.base_dir) / xsd)
            try:
                validate_xsd(path, xsd)
            except XSDValidationError as exc:
                file_messages.append(
                    submission_message(
                        name,
                        kwargs.get("xsd_error_code", "XSD_VALIDATION_FAILED"),
                        kwargs.get("xsd_error_message", str(exc)),
                    )
                )
                return fail_early()
            except ImportError as exc:
                # no XSD backend in this runtime: surface it in the error
                # feed (informational) rather than skipping silently
                file_messages.append(
                    submission_message(
                        name, "XSD_NOT_VALIDATED", str(exc), informational=True
                    )
                )

        df = read_submitted_file(spark, path, entity_contract)
        # record_count rides the write action via an Observation instead
        # of a later re-scan-and-count of every transform checkpoint
        # (SURVEY §7: observe metrics replace count-based checks) — at
        # 100 TB the saved pass is a full table scan per entity
        obs = Observation(f"transform_rows_{name}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        df.write.mode("overwrite").parquet(str(work / "transform" / name))
        transform_counts[name] = obs
        transform_schemas[name] = df.schema

    # -- stage 3: data contract --------------------------------------------
    # Reference-faithful rejection timing: the contract emits messages and
    # CASTS every record (failed values become nulls); records are dropped
    # only at the final write via the scoped anti-join, so derived entities
    # and notifications built during business rules still see failed
    # records (dve spark/contract.py:120-199, rejection at
    # pipeline.py:614-637).
    #
    # Each parquet barrier is reloaded with the schema of the frame just
    # written to it, so no reload pays a footer-inference job.
    contract_messages = MessageCollector()
    contract_schemas: dict[str, T.StructType] = {}
    for name, entity_contract in datasets.items():
        raw = spark.read.schema(transform_schemas[name]).parquet(
            str(work / "transform" / name)
        )
        # a fresh file scan: both evaluations see the same partitions
        indexed = add_record_index(raw, persist=False)
        typed, messages = apply_contract(
            entity_contract, indexed, drop_failed_records=False
        )
        typed.write.mode("overwrite").parquet(str(work / "data_contract" / name))
        contract_schemas[name] = typed.schema
        contract_messages.add(messages)

    # -- stage 4: business rules -------------------------------------------
    # every row carries its contract-entity lineage (a constant literal per
    # entity — free under constant folding) so final rejection matches rows
    # by (origin, index) even after rename/copy/union reshuffles the
    # entity NAMESPACE
    entities = EntityManager(
        {
            name: spark.read.schema(contract_schemas[name])
            .parquet(str(work / "data_contract" / name))
            .withColumn(ORIGIN_ENTITY, F.lit(name))
            for name in datasets
        },
        spark=spark,
        refdata=dischema.refdata,
        refdata_base_path=refdata_base_path,
    )
    original_snapshots: set[str] = set()
    if dischema.cache_originals:
        for name in list(datasets):
            entities[f"Original{name}"] = entities[name]
            original_snapshots.add(f"Original{name}")
    if submission_info:
        entities.add_refdata_frame(
            "dve_submission_info",
            spark.createDataFrame([submission_info]),
        )

    engine = StepEngine(spark)
    rule_messages = MessageCollector()
    # a rules failure is a submission-level message no JSONL feed receives
    failures: list[dict] = []
    try:
        try:
            for rule in dischema.rules:
                for step in rule.pre_sync:
                    rule_messages.add(engine.evaluate(entities, config=step))
            # ONE sync stage across all rules (validate-all-then-drop)
            rule_messages.add(
                apply_sync_filters(entities, list(dischema.sync_filters))
            )
            for rule in dischema.rules:
                for step in rule.post_sync:
                    rule_messages.add(engine.evaluate(entities, config=step))
        except Exception as exc:
            failures.append(
                submission_message(
                    "submission",
                    "PROCESSING_ERROR",
                    f"business rules failed: {type(exc).__name__}: {exc}",
                )
            )
        success = not failures

        # ONE feed, each message tagged with the JSONL feed it belongs to;
        # the literal messages join it as Arrow local relations.
        # Lazy checkpoint: its first action (the bounded collect) runs the
        # contract and rules message DAGs once, and every later consumer
        # (the rejection anti-joins, the over-cap sinks, the caller's
        # result.messages) reads the blocks instead of re-running them
        literals = [
            spark.createDataFrame(literal_feed(rows, tag))
            for rows, tag in ((file_messages, "file_transformation"), (failures, None))
            if rows
        ]
        feed = union_messages(
            [
                *literals,
                tag_feed(contract_messages.union(), "data_contract"),
                tag_feed(rule_messages.union(), "business_rules"),
            ]
        ) or tag_feed(empty_messages(spark), None)
        feed = feed.localCheckpoint(eager=False)
        sink_feed = write_message_feeds(feed, errors_dir)

        result = PipelineResult(
            submission_id=submission_id,
            success=success,
            errors_dir=str(errors_dir),
            messages=select_feed(feed),
        )
        if not success:
            audit_status("failed", "critical")
            return result

        # -- stage 5: record rejection + final entity write ----------------
        rejected = reject_keys(spark, sink_feed)
        for name in list(entities):
            df = entities[name]
            if name in original_snapshots:
                # pre-rule snapshots are written as-is: the reference
                # explicitly skips entities marked original at rejection
                # (dve pipeline/pipeline.py:614-625), and the lineage
                # columns would otherwise route the copy through
                # reject_records_by_origin and drop contract-rejected rows
                # from the "before rules" picture
                df = df.drop(RECORD_INDEX, ORIGIN_ENTITY)
            elif RECORD_INDEX in df.columns:
                # reject (origin, index) pairs: the lineage column keeps
                # renamed/copied/unioned entities dropping the records their
                # messages refer to; an entity that lost it is its own
                # origin, since record indexes are per-entity sequences
                if ORIGIN_ENTITY not in df.columns:
                    df = df.withColumn(ORIGIN_ENTITY, F.lit(name))
                df = reject_records_by_origin(df, rejected)
                df = df.drop(RECORD_INDEX, ORIGIN_ENTITY)
            elif ORIGIN_ENTITY in df.columns:
                df = df.drop(ORIGIN_ENTITY)
            out = work / "business_rules" / name
            df.write.mode("overwrite").parquet(str(out))
            result.entity_paths[name] = str(out)
            result.entities[name] = spark.read.schema(df.schema).parquet(
                str(out)
            )
    finally:
        # unpersist integrity-check caches on EVERY path — a failure in the
        # rules stage otherwise leaks cached blocks across process_landing
        # loop iterations
        engine.cleanup()

    # -- stage 6: error report + statistics --------------------------------
    result.report_path, result.error_aggregates_path, stats = (
        write_feed_artifacts(
            sink_feed, work, submission_id, write_report=write_report
        )
    )
    # record_count = records RECEIVED (transform-stage rows), matching the
    # reference's statistics semantics; the counts were observed on the
    # stage-2 write actions themselves — no re-scan
    received = sum(
        int(transform_counts[name].get["rows"]) for name in datasets
    )
    result.statistics = {
        "n_messages": stats["n_messages"],
        "record_count": received,
        "n_record_rejections": stats["n_record_rejections"],
        "n_warnings": stats["n_warnings"],
    }
    if audit:
        audit.append(
            "submission_statistics",
            [
                {
                    "submission_id": submission_id,
                    "record_count": received,
                    "number_submission_rejections": 0,
                    "number_record_rejections": result.statistics[
                        "n_record_rejections"
                    ],
                    "number_warnings": result.statistics["n_warnings"],
                }
            ],
        )
    audit_status("completed", "success")
    return result


def process_landing(
    spark: SparkSession,
    dischema: Dischema | str | Path,
    landing_dir: str,
    working_root: str | Path,
    *,
    entity_name: str | None = None,
    refdata_base_path: str | None = None,
    audit_path: str | None = None,
    write_report: bool = True,
    runtime_variables: dict[str, Any] | None = None,
    max_workers: int = 1,
) -> list[PipelineResult]:
    """Process every submission waiting under a landing prefix.

    Shape parity with the reference's discovery + audit-received stages
    (dve pipeline/pipeline.py:164-318): pair each data file with its
    ``.metadata.json``, mint a submission id, move the pair to
    ``processed/<submission_id>/`` (audited as a ``transfers`` row), then
    run the pipeline per submission. Unpaired files are dead-lettered to
    ``dead_letter/``.

    ``max_workers > 1`` fans submissions out over a thread pool, the
    reference's concurrency model (dve pipeline/pipeline.py:950-977,
    ``ThreadPoolExecutor(max_workers=7)``). Threads are the right unit
    here: each worker just SUBMITS Spark jobs (scheduling across the
    cluster is Spark's), and job submission is thread-safe. Submissions
    are fully independent — ids are uuid4, working dirs are per-id, and
    audit appends land as distinct files. Result order follows discovery
    order regardless of completion order.

    ``entity_name`` names the dischema dataset each data file feeds; with
    one declared dataset it is inferred.
    """
    import json as _json

    from data_validation_engine_spark.files import (
        discover_submissions,
        move_file,
        read_text,
    )

    if not isinstance(dischema, Dischema):
        dischema = load_dischema(dischema)
    if entity_name is None:
        names = [e.name for e in dischema.contract.datasets] if dischema.contract else []
        if len(names) != 1:
            raise ValueError(
                "entity_name is required when the dischema declares "
                f"{len(names)} datasets"
            )
        entity_name = names[0]

    working_root = Path(working_root)
    audit = AuditLog(spark, audit_path) if audit_path else None
    pairs, dead = discover_submissions(landing_dir)
    for f in dead:
        move_file(f, str(working_root / "dead_letter" / Path(f).name))

    def _process_one(pair: tuple[str, str]) -> PipelineResult:
        data_uri, meta_uri = pair
        submission_id = new_submission_id()
        processed = working_root / "processed" / submission_id
        data_dest = str(processed / Path(data_uri).name)
        meta_dest = str(processed / Path(meta_uri).name)
        move_file(data_uri, data_dest)
        move_file(meta_uri, meta_dest)
        try:
            submission_info = _json.loads(read_text(meta_dest))
        except ValueError:
            submission_info = {}
        if audit:
            audit.append(
                "transfers",
                [
                    {
                        "submission_id": submission_id,
                        "report_name": Path(data_uri).name,
                        "transfer_id": submission_id,
                        "transfer_method": "landing_move",
                        "recipient": data_dest,
                    }
                ],
            )
        return run_pipeline(
            spark,
            dischema,
            {entity_name: data_dest},
            working_root / "work" / submission_id,
            refdata_base_path=refdata_base_path,
            audit_path=audit_path,
            submission_id=submission_id,
            submission_info=submission_info or None,
            write_report=write_report,
            # runtime-strategy dischemas can bind per-submission values:
            # shared runtime_variables plus the submission's own
            # metadata under `submission` (e.g. {{submission.file_name}})
            runtime_variables=(
                {
                    **(runtime_variables or {}),
                    "submission": dict(submission_info or {}),
                }
                if dischema.templating_strategy == "runtime"
                else runtime_variables
            ),
        )

    if max_workers > 1 and len(pairs) > 1:
        from concurrent.futures import ThreadPoolExecutor

        # Failure semantics mirror the sequential path as closely as a
        # pool allows: on the first submission failure (in discovery
        # order) every not-yet-started submission is cancelled and the
        # error propagates. In-flight submissions cannot be interrupted
        # — their side effects (file moves, audit rows) may still land,
        # exactly as the reference's per-submission fan-out allows
        # (dve pipeline/pipeline.py:957-975).
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            futures = [pool.submit(_process_one, pair) for pair in pairs]
            results: list[PipelineResult] = []
            try:
                for fut in futures:
                    results.append(fut.result())
            except BaseException:
                for fut in futures:
                    fut.cancel()
                raise
            return results
    return [_process_one(pair) for pair in pairs]
