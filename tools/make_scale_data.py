"""Generate a LARGER synthetic dataset from sf0.1 for scale spot-benches.

/root/testdata is read-only and tops out at sf0.1 (~17 MB), where every
roster row is overhead-bound (core-count scaling measures ratios ≈1).
This tool writes a K-times-larger replica to an OUTPUT dir by unioning K
deterministic key-shifted copies of each table:

- ids shift by copy_index * 10**9 per copy (disjoint key spaces, FK
  shifts applied consistently within a table family);
- document text is salted with a copy token inserted every 2 words, so
  no 3-word shingle survives across copies and the near-dup cluster
  structure does not grow quadratically with K (each copy keeps its own
  in-copy duplicate structure — the realistic shape; salting every 4
  words instead leaves 2 intact shingles per run and makes dedup_exact's
  candidate stage grow 13x at K=4, which stresses a different workload
  shape than the one the spot bench measures);
- event timestamps shift by copy_index hours, extending the timeline.

The output is an INPUT for side measurements only (scale spot runs) —
bench.py still reads $SPARK_GRAFT_SF_DIR and the driver's contract is
untouched. Nothing here caches or precomputes any query result.

Usage: python tools/make_scale_data.py <out_dir> <K>
  e.g. python tools/make_scale_data.py /root/scale_data/sf0.4 4
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    out_dir = Path(sys.argv[1])
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    src = "/root/testdata/sf0.1"
    out_dir.mkdir(parents=True, exist_ok=True)

    import bench

    spark = bench.local_session(
        "make-scale-data",
        {
            "spark.sql.shuffle.partitions": "16",
            "spark.sql.session.timeZone": "UTC",
        },
    )

    shift = 10**9

    import shutil
    import tempfile

    def _single_file(df, name: str) -> None:
        # testdata ships each table as ONE parquet FILE (the streaming
        # readers pathGlobFilter on the exact file name) — mirror that
        tmp = Path(tempfile.mkdtemp(prefix="dve_scale_tmp_"))
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp / "t"))
        part = next((tmp / "t").glob("part-*.parquet"))
        dest = out_dir / f"{name}.parquet"
        if dest.exists():
            dest.unlink() if dest.is_file() else shutil.rmtree(dest)
        shutil.move(str(part), str(dest))
        shutil.rmtree(tmp)

    def copies(name: str, exprs) -> None:
        df = spark.read.parquet(f"{src}/{name}.parquet")
        parts = [df.selectExpr(*exprs(i)) for i in range(k)]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        _single_file(out, name)
        print(f"{name}: x{k}")

    copies("documents", lambda i: [
        f"doc_id + {i * shift} AS doc_id",
        # salt every 2nd word boundary with a copy token: no 3-word
        # shingle survives across copies, so cross-copy Jaccard is ~0
        # while in-copy duplicate structure is kept
        ("text" if i == 0 else
         f"regexp_replace(text, '(\\\\S+ \\\\S+) ',"
         f" '$1 cp{i} ') AS text"),
        "lang", "source",
        ("n_chars" if i == 0 else
         f"length(regexp_replace(text, '(\\\\S+ \\\\S+) ',"
         f" '$1 cp{i} ')) AS n_chars"),
    ])
    copies("events", lambda i: [
        f"event_id + {i * shift} AS event_id",
        f"ts + INTERVAL {i} HOURS AS ts",
        f"user_id + {i * shift} AS user_id",
        "event_type", "value", "props",
    ])
    copies("embeddings", lambda i: [
        f"vec_id + {i * shift} AS vec_id", "embedding", "label",
    ])
    copies("orders", lambda i: [
        f"o_orderkey + {i * shift} AS o_orderkey",
        f"o_custkey + {i * shift} AS o_custkey",
        "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
    ])
    copies("lineitem", lambda i: [
        f"l_orderkey + {i * shift} AS l_orderkey",
        f"l_partkey + {i * shift} AS l_partkey",
        f"l_suppkey + {i * shift} AS l_suppkey",
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    ])
    copies("customer", lambda i: [
        f"c_custkey + {i * shift} AS c_custkey",
        "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
    ])
    for name in ["nation", "region", "part", "supplier"]:
        import shutil as _sh

        dest = out_dir / f"{name}.parquet"
        if dest.exists():
            dest.unlink() if dest.is_file() else _sh.rmtree(dest)
        _sh.copyfile(f"{src}/{name}.parquet", dest)
        print(f"{name}: copied")
    spark.stop()


if __name__ == "__main__":
    main()
