"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then compares
row count, column names, and an order-insensitive value hash.

Usage: python tools/oracle_check.py [flags] [sf_dir] [query ...]

Flags (the driver's environment degrees of freedom — everything it can
legitimately do differently from this replica):

--session-tz=ZONE|none   Spark session timezone (default UTC; ``none``
                         leaves it unpinned, inheriting the JVM/OS zone —
                         what the driver may do)
--os-tz=ZONE             set the OS ``TZ`` for this process BEFORE any
                         engine starts (JVM default zone, DuckDB ICU zone,
                         pandas/pytz all follow it)
--arrow-batch=N          spark.sql.execution.arrow.maxRecordsPerBatch
--shuffle=N              spark.sql.shuffle.partitions
--canon=fetch|pandas     comparison-pipeline replica: ``fetch``
                         (default) hashes fetchall() Python natives
                         through the %.12g float normaliser; ``pandas``
                         replicates the DRIVER's canonicalization layer —
                         DuckDB via .df() and Spark via toPandas(), values
                         hashed as raw str() reprs with NO float collapse,
                         so dtype coercions (HUGEINT→float64 '1.0' vs
                         int64 '1', nullable-int promotion) become
                         VISIBLE. A green/red disagreement between the
                         two modes is a latent driver red.
--matrix                 run the sweep as SUBPROCESSES under a matrix of
                         adverse configs (non-UTC OS zone + unpinned
                         session tz + odd shuffle widths + tiny Arrow
                         chunks), each under BOTH canonicalizations; any
                         red here is a latent driver red

The matrix exists because two rows once went red ONLY on the driver box:
hashed surfaces must be environment-invariant by construction, and this
is the harness that falsifies that locally.

``duck_views`` and ``check_row`` are the comparison itself; operator
tests that prove a frame against DuckDB SQL outside the roster import
them.
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path
from typing import TYPE_CHECKING, Callable

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# row -> columns attested to carry a non-string type (the FLOATS.md
# inventory: ordered-fold doubles, exact-integer keys, booleans — each
# individually driver-attested green). The lint fails any OTHER
# non-string hashed column: the permanent gate against the
# engine→pandas dtype-coercion failure class (DuckDB HUGEINT → float64
# '1.0' against Spark int64 '1').
# Extending this list requires a FLOATS.md entry explaining why the
# column is engine-exact.
HASH_TYPE_ALLOWLIST: dict[str, frozenset[str]] = {
    "ann_variants": frozenset(["bucket_part", "cosine", "vec_id"]),
    "bounded_pairs": frozenset(["bucket", "id_a", "id_b"]),
    "connected_components": frozenset(
        ["component", "component_star", "id", "x"]
    ),
    "contract_cast": frozenset(["okey", "price"]),
    "contract_functions": frozenset(["ck", "name_num"]),
    "contract_messages": frozenset(["is_informational", "record_key"]),
    "data_profiling": frozenset(["a", "b", "x"]),
    "dedup_exact": frozenset(["a", "b", "doc_id"]),
    "dedup_minhash": frozenset(["id_a", "id_b", "jaccard"]),
    "dedup_simhash": frozenset(["a", "b"]),
    "embedding_neardup": frozenset(["a", "b", "r", "x"]),
    "entity_ops": frozenset(["n_nationkey"]),
    "feature_scores": frozenset(["x"]),
    "flag_joins": frozenset(["flag", "key"]),
    "group_by": frozenset(
        ["A", "N", "R", "avg_qty", "count_order", "q_roundtrip",
         "sum_base_price", "sum_disc_price", "sum_qty"]
    ),
    "join_header": frozenset(["n_nationkey"]),
    "multimodal_meta": frozenset(
        ["doc_id", "f_len", "f_max", "f_mean", "f_min", "n_bytes"]
    ),
    "pca_project": frozenset(["x"]),
    "quality_sync": frozenset(["doc_id", "n_chars"]),
    "report_aggregates": frozenset(["Count"]),
    "scalar_functions": frozenset(
        ["big_bal", "c_custkey", "le_5k", "name_len", "near_5k",
         "nhs_ok"]
    ),
    "sequence_prep": frozenset(["doc_id", "idx", "n"]),
    "source_xml_json": frozenset(["k", "rk"]),
    "step_dedup_fuzzy": frozenset(["doc_id", "n_chars"]),
    "step_similarity_ann": frozenset(["cosine", "vec_id"]),
    "streaming_dedup": frozenset(["k", "x"]),
    "streaming_sync_messages": frozenset(["record_key"]),
    "streaming_window_counts": frozenset(["n", "x"]),
    "text_retrieval": frozenset(["a", "b", "x"]),
    "text_stats": frozenset(
        ["avg_token_len", "bucket", "doc_id", "dup_bigram_frac",
         "dup_trigram_frac", "ecdf", "n_bpe_tokens", "n_chars",
         "n_emails", "n_ips", "n_longnums", "n_tokens", "punct_ratio",
         "quality_ok", "repetitive", "stopword_ratio",
         "top_token_frac", "w_kept"]
    ),
    "union": frozenset(["bal", "id"]),
    "vector_stats": frozenset(["a", "id", "x", "y"]),
}


def hash_discipline_violations(name: str, dtypes: list[tuple]) -> list[str]:
    """Columns of a hashed frame that are neither string nor on the
    attested allowlist — each is a latent driver red of the
    dtype-coercion class and fails the sweep."""
    allowed = HASH_TYPE_ALLOWLIST.get(name, frozenset())
    return [
        f"{col}:{typ}"
        for col, typ in dtypes
        if typ != "string" and col not in allowed
    ]


def normalise(value) -> str:
    import datetime as dt
    import math

    if value is None:
        return "∅"
    if isinstance(value, bool):
        return str(bool(value))
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        # driver-agnostic float rendering: collapse -0.0 / 17 sig figs
        if value == 0:
            return "0"
        return f"{value:.12g}"
    if isinstance(value, dt.datetime):
        return value.isoformat(sep=" ")
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(normalise(v) for v in value) + "]"
    if isinstance(value, dict):
        return "{" + ",".join(f"{k}:{normalise(v)}" for k, v in sorted(value.items())) + "}"
    return str(value)


def normalise_pandas(value) -> str:
    """The driver-replica canonicalization: raw ``str()`` of whatever the
    pandas layer delivered (np.int64(1) → '1', np.float64(1.0) → '1.0'),
    collapsing only the missing-value zoo (None/NaN/NaT → '∅') — so an
    engine-side dtype promotion CHANGES the hash instead of vanishing."""
    import math

    if value is None:
        return "∅"
    if isinstance(value, float) and math.isnan(value):
        return "∅"
    try:
        import pandas as pd

        if value is pd.NaT:
            return "∅"
    except Exception:  # noqa: BLE001
        pass
    if isinstance(value, (list, tuple)) or type(value).__name__ == "ndarray":
        return "[" + ",".join(normalise_pandas(v) for v in value) + "]"
    if isinstance(value, dict):
        return "{" + ",".join(
            f"{k}:{normalise_pandas(v)}" for k, v in sorted(value.items())
        ) + "}"
    return str(value)


def value_hash(
    columns: list[str], rows: list[tuple], norm=normalise
) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "|".join(norm(row[i]) for i in order) for row in rows
    )
    digest = hashlib.sha256()
    for line in lines:
        digest.update(line.encode())
        digest.update(b"\n")
    return digest.hexdigest()[:16]


# the driver-like adverse configurations --matrix sweeps: a DST zone and
# a +14 no-DST zone, session tz UNPINNED (inherits the OS zone), shuffle
# widths 7 and 1 (forces different partition orders/merge paths), small
# Arrow chunks (forces the multi-chunk pandas-state path)
MATRIX = (
    {"os_tz": "America/New_York", "session_tz": "none", "shuffle": "7",
     "arrow_batch": "33"},
    {"os_tz": "Pacific/Kiritimati", "session_tz": "none", "shuffle": "1",
     "arrow_batch": "7"},
)


def parse_args(argv: list[str]):
    opts = {
        "session_tz": "UTC",
        "os_tz": None,
        "arrow_batch": None,
        "shuffle": "16",
        "matrix": False,
        "canon": "fetch",
    }
    rest: list[str] = []
    for a in argv:
        if a == "--matrix":
            opts["matrix"] = True
        elif a.startswith("--session-tz="):
            opts["session_tz"] = a.split("=", 1)[1]
        elif a.startswith("--os-tz="):
            opts["os_tz"] = a.split("=", 1)[1]
        elif a.startswith("--arrow-batch="):
            opts["arrow_batch"] = a.split("=", 1)[1]
        elif a.startswith("--shuffle="):
            opts["shuffle"] = a.split("=", 1)[1]
        elif a.startswith("--canon="):
            opts["canon"] = a.split("=", 1)[1]
        else:
            rest.append(a)
    sf_dir = rest[0] if rest else "/root/testdata/sf0.01"
    return opts, sf_dir, set(rest[1:])


def run_matrix(sf_dir: str, only: set[str]) -> int:
    import os
    import subprocess

    failures = 0
    for cfg in MATRIX:
        for canon in ("fetch", "pandas"):
            flags = [
                f"--session-tz={cfg['session_tz']}",
                f"--shuffle={cfg['shuffle']}",
                f"--arrow-batch={cfg['arrow_batch']}",
                f"--canon={canon}",
            ]
            env = dict(os.environ)
            env["TZ"] = cfg["os_tz"]
            print(f"=== matrix: TZ={cfg['os_tz']} {' '.join(flags)} ===",
                  flush=True)
            rc = subprocess.call(
                [sys.executable, __file__, *flags, sf_dir, *sorted(only)],
                env=env,
            )
            failures += 1 if rc else 0
    print("matrix configs failed:", failures)
    return 1 if failures else 0


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table under
    ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if Path(path).exists():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def check_row(
    name: str,
    build: Callable[[], DataFrame],
    sql: str | None,
    con: duckdb.DuckDBPyConnection,
    canon: str = "fetch",
) -> tuple[int, str]:
    """Compares the Spark frame ``build()`` returns with ``sql`` run on
    ``con``: row count, column names and the order-insensitive value hash,
    after the hash-discipline lint. Returns (failures, report), where the
    report is the row's printed lines; a green row's last line reads
    ``OK    <name>: <rows> rows hash=<hash>``."""
    lines: list[str] = []
    failures = 0
    try:
        sdf = build()
        s_cols = sdf.columns
        lint = hash_discipline_violations(name, sdf.dtypes)
        if lint:
            lines.append(f"LINT  {name}: non-string hashed columns not on "
                         f"the FLOATS.md allowlist: {lint}")
            failures += 1
        if canon == "pandas":
            s_rows = [
                tuple(r) for r in sdf.toPandas().itertuples(index=False)
            ]
        else:
            s_rows = [tuple(r) for r in sdf.collect()]
    except Exception as exc:  # noqa: BLE001
        if "ENV_FINGERPRINT" in str(exc):
            # the deliberate diagnostic row: raising IS its contract
            return failures, f"probe {name}: {str(exc)[:400]}"
        lines.append(f"FAIL  {name}: spark error: {exc}")
        return failures + 1, "\n".join(lines)
    if sql is None:
        lines.append(
            f"rows  {name}: {len(s_rows)} rows (no oracle — weak check)"
        )
        return failures, "\n".join(lines)
    try:
        rel = con.execute(sql)
        d_cols = [c[0] for c in rel.description]
        if canon == "pandas":
            d_rows = [
                tuple(r) for r in rel.df().itertuples(index=False)
            ]
        else:
            d_rows = rel.fetchall()
    except Exception as exc:  # noqa: BLE001
        lines.append(f"FAIL  {name}: duckdb error: {exc}")
        return failures + 1, "\n".join(lines)

    problems = []
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
    if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in d_cols):
        problems.append(f"schema spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
    norm = normalise_pandas if canon == "pandas" else normalise
    if not problems:
        sh = value_hash([c.lower() for c in s_cols], s_rows, norm)
        dh = value_hash([c.lower() for c in d_cols], d_rows, norm)
        if sh != dh:
            problems.append(f"valuehash spark={sh} duckdb={dh}")
            # show a diff sample
            s_set = {
                "|".join(
                    norm(r[i])
                    for i in sorted(range(len(s_cols)), key=lambda i: s_cols[i].lower())
                )
                for r in s_rows
            }
            d_set = {
                "|".join(
                    norm(r[i])
                    for i in sorted(range(len(d_cols)), key=lambda i: d_cols[i].lower())
                )
                for r in d_rows
            }
            only_s = list(s_set - d_set)[:3]
            only_d = list(d_set - s_set)[:3]
            if only_s:
                problems.append(f"spark-only: {only_s}")
            if only_d:
                problems.append(f"duckdb-only: {only_d}")
    if problems:
        lines.append(f"FAIL  {name}: " + "; ".join(problems))
        failures += 1
    else:
        lines.append(f"OK    {name}: {len(s_rows)} rows hash={sh}")
    return failures, "\n".join(lines)


def main() -> int:
    opts, sf_dir, only = parse_args(sys.argv[1:])
    if opts["matrix"]:
        return run_matrix(sf_dir, only)
    if opts["os_tz"]:
        import os
        import time

        os.environ["TZ"] = opts["os_tz"]
        time.tzset()

    import __spark_entry__ as entry_mod
    conf = {
        "spark.sql.shuffle.partitions": opts["shuffle"],
        "spark.sql.adaptive.enabled": "true",
        "spark.ui.showConsoleProgress": "false",
    }
    if opts["session_tz"] != "none":
        conf["spark.sql.session.timeZone"] = opts["session_tz"]
    if opts["arrow_batch"]:
        conf["spark.sql.execution.arrow.maxRecordsPerBatch"] = opts["arrow_batch"]
    spark = bench.local_session("oracle-check", conf)
    con = duck_views(sf_dir)

    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in entry_mod.queries().items():
        if only and name not in only:
            continue
        n, report = check_row(
            name, lambda: fn(spark, sf_dir), oracles.get(name), con,
            opts["canon"],
        )
        print(report)
        failures += n
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
