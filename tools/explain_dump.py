"""Dump ``.explain("formatted")`` for declared queries to files.

Writes ``plans/dump/<query>_<suffix>.txt`` for every requested roster
row (default: all 50), so a change's plan-shape claims are checkable
without running Spark: dump ``before`` on the parent and ``after`` on the
change, then diff. A later run with the same suffix overwrites its
files; copy a dump elsewhere to keep it.

Usage: python tools/explain_dump.py <suffix> [query ...]
  suffix   e.g. ``before`` or ``after``
  query    roster row names (default: every row)

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.001 — plan shape is
scale-invariant; the tiny sf keeps executed-at-build rows cheap).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    out_dir = Path(__file__).resolve().parent.parent / "plans" / "dump"
    out_dir.mkdir(parents=True, exist_ok=True)

    import bench

    spark = bench.local_session(
        "dve-explain-dump",
        {
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.session.timeZone": "UTC",
        },
    )

    import __spark_entry__ as entry

    queries = entry.queries()
    if only:
        unknown = [n for n in only if n not in queries]
        if unknown:
            raise SystemExit(f"unknown rows: {unknown}")
        queries = {n: queries[n] for n in only}

    failures = 0
    for name, fn in queries.items():
        try:
            df = fn(spark, sf_dir)
            text = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # diagnostic path
            print(f"ERROR {name}: {type(exc).__name__}: {exc}")
            failures += 1
            continue
        (out_dir / f"{name}_{suffix}.txt").write_text(text)
        print(f"wrote {name}_{suffix}.txt ({len(text.splitlines())} lines)")
    spark.stop()
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
