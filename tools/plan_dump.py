"""Physical-plan audit over the whole oracle surface -> PLANS.md.

Coverage is all 50 roster rows, none skipped. Rows whose construction
runs bounded jobs (streaming drains, iterative driver loops,
fixture/layout writes, bounded control-plane collects) are built anyway
at the small audit sf and FLAGGED in the ``build`` column (``exec`` vs
``lazy``); the audited plan is the row's RETURNED frame — for a
streaming row that is the post-drain batch plan (the per-batch streaming
plan itself is pinned behaviourally in tests/test_streaming*.py, since
Spark only materialises a streaming physical plan on a started query).

Columns from ``scale.plan_report``: exchange count, join strategies
chosen by Catalyst, nested-loop/cartesian fallbacks (0 everywhere
except documented 1-row broadcasts), whole-stage codegen, scan-level
filter pushdown, WindowGroupLimit rank rewrite.

Usage: python tools/plan_dump.py [sf_dir] [out_md]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# rows whose query function RUNS bounded jobs during construction
# (streams drained to parquet, iterative driver loops, fixture/layout
# writes, control-plane collects) — flagged, not skipped
EXECUTES_AT_BUILD = {
    "streaming_sync_messages": "stream drain",
    "streaming_dedup": "stream drain",
    "streaming_window_counts": "stream drain",
    "sessionize": "stream drain (s arm)",
    "event_analytics": "two stream drains",
    "sketches": "stream drain + CMS/Bloom collects",
    "report_aggregates": "presence-check pipeline",
    "pipeline_e2e": "full pipeline + audit writes",
    "connected_components": "iterative label-prop rounds",
    "step_dedup_fuzzy": "iterative CC inside the step",
    "ann_variants": "LSH layout write (first call)",
    "text_corpus": "BPE train loop (dec arm) + WARC fixture build",
    "semantic_dedup": "PQ codebook collect (enc/adc arms)",
    "pca_project": "moment collect (dim^2 driver fetch)",
    "chunk_artifacts": "shard/ORC/blob writes + stream drain",
    "substring_dedup": "CMS heavy-hitter collect",
    "index_maintenance": "CMS screen collects",
    "classifier": "weights fixture broadcast",
    "stream_heavy": "stream drain",
    "span_dedup": "span-index persist (inc arm)",
    "crawl_signals": "robots rule-table collect",
    "sampling_v2": "curation totals collects",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_md = Path(sys.argv[2]) if len(sys.argv) > 2 else (
        Path(__file__).resolve().parent.parent / "PLANS.md"
    )

    import bench

    spark = bench.local_session(
        "dve-plan-dump",
        {
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.session.timeZone": "UTC",
        },
    )

    import __spark_entry__ as entry
    from data_validation_engine_spark.scale import plan_report

    lines = [
        "# PLANS — physical-plan audit of the oracle surface",
        "",
        f"Generated by `tools/plan_dump.py` at `{sf_dir}`. Coverage is "
        "the 50 roster rows. Rows whose construction runs bounded jobs "
        "are built at "
        "this small sf and flagged in the `build` column; their audited "
        "plan is the returned frame (for streaming rows the post-drain "
        "batch plan — the per-batch streaming plan is pinned in "
        "tests/test_streaming*.py). Columns from `scale.plan_report`: "
        "exchanges in the final plan, join strategies chosen by "
        "Catalyst, nested-loop/cartesian fallbacks (0 everywhere except "
        "documented 1-row broadcasts), whole-stage codegen present, "
        "filter pushdown reaching a scan, WindowGroupLimit rank "
        "rewrite.",
        "",
        "| query | build | shuffles | joins | NL/cart | codegen "
        "| pushdown | win-limit |",
        "|---|---|---|---|---|---|---|---|",
    ]
    failures = 0
    for name, fn in entry.queries().items():
        build = EXECUTES_AT_BUILD.get(name, "lazy")
        try:
            rep = plan_report(fn(spark, sf_dir))
        except Exception as exc:  # pragma: no cover - diagnostic path
            lines.append(
                f"| {name} | {build} | ERROR: {type(exc).__name__} "
                "| | | | | |"
            )
            failures += 1
            continue
        joins = ", ".join(f"{k}x{v}" for k, v in rep["joins"].items()) or "-"
        lines.append(
            f"| {name} | {build} | {rep['shuffles']} | {joins} "
            f"| {rep['cartesian_or_nested_loop']} "
            f"| {'y' if rep['whole_stage_codegen'] else 'n'} "
            f"| {'y' if rep['pushed_filters'] else 'n'} "
            f"| {'y' if rep['window_group_limit'] else 'n'} |"
        )
    lines.append("")
    out_md.write_text("\n".join(lines))
    print(f"wrote {out_md} ({len(lines)} lines, failures: {failures})")
    spark.stop()
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
