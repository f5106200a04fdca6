"""Seeded input generators for the submission benchmark.

Every input the engine sees is written here from ``--seed`` alone: the
same seed gives byte-identical files. Each generator also returns the
outputs the engine must produce for those files, computed independently
of the engine: by DuckDB over the generated files (bulk lineitem, corpus
exact-dedup survivors) or from the dirt the generator injected itself
(landing batch, corpus survivors).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

SHIP_MODES = ("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
JUNK_NUMBERS = ("n/a", "12x", "--", "seven", "1.5.0", "?")
ORDER_STATUS = ("O", "F", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@dataclass
class Expected:
    """What one submission (or one landing batch) must produce."""

    message_counts: dict[str, int] = field(default_factory=dict)
    n_record_rejections: int = 0
    entity_rows: dict[str, int] = field(default_factory=dict)
    records: int = 0
    submissions: int = 1


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` valid calendar days between 1992-01-01 and 1998-12-31."""
    base = np.datetime64("1992-01-01")
    return base + rng.integers(0, 2557, n).astype("timedelta64[D]")


def _write_csv(path: Path, header: list[str], columns: list[np.ndarray]) -> None:
    rows = zip(*[c.tolist() for c in columns])
    with path.open("w", encoding="utf-8") as fh:
        fh.write(",".join(header) + "\n")
        fh.writelines(",".join(map(str, r)) + "\n" for r in rows)


# -- bulk_submission ---------------------------------------------------------

LINEITEM_FIELDS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_shipdate",
    "l_shipmode",
]


def write_part(path: Path, seed: int, n_parts: int) -> None:
    """The ``part`` reference table as parquet (keys 1..n_parts)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(seed, 1)
    keys = np.arange(1, n_parts + 1)
    pq.write_table(
        pa.table(
            {
                "p_partkey": keys,
                "p_name": [f"part {k}" for k in keys],
                "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_parts)],
            }
        ),
        path,
    )


def write_lineitem(path: Path, seed: int, n_rows: int, n_parts: int) -> None:
    """A lineitem CSV with seeded dirt: ~2% junk quantity, ~2.5% negative
    discount, ~3% wrong date format, ~1% part keys missing from ``part``."""
    rng = _rng(seed, 2)
    lines_per_order = rng.integers(1, 8, n_rows // 2 + 1)
    orderkey = np.repeat(np.arange(1, len(lines_per_order) + 1), lines_per_order)[:n_rows]
    starts = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    linenumber = np.arange(n_rows) - np.repeat(starts, np.diff(np.r_[starts, n_rows])) + 1

    partkey = rng.integers(1, n_parts + 1, n_rows)
    unknown = rng.random(n_rows) < 0.01
    partkey[unknown] = n_parts + rng.integers(1, 500, unknown.sum())
    quantity = rng.integers(1, 51, n_rows)
    price = np.round(quantity * rng.uniform(900.0, 2000.0, n_rows), 2)
    qty_text = quantity.astype(str).astype(object)
    junk = rng.random(n_rows) < 0.02
    qty_text[junk] = rng.choice(JUNK_NUMBERS, junk.sum())
    discount = rng.integers(0, 11, n_rows) / 100
    negative = rng.random(n_rows) < 0.025
    discount[negative] = -rng.integers(1, 11, negative.sum()) / 100
    tax = rng.integers(0, 9, n_rows) / 100
    days = _dates(rng, n_rows)
    shipdate = np.datetime_as_string(days).astype(object)
    bad_date = rng.random(n_rows) < 0.03
    # day/month/year is the same calendar day in the wrong layout
    shipdate[bad_date] = [f"{d[8:10]}/{d[5:7]}/{d[0:4]}" for d in shipdate[bad_date]]
    _write_csv(
        path,
        LINEITEM_FIELDS,
        [
            orderkey, partkey, rng.integers(1, 101, n_rows), linenumber,
            qty_text, price, discount, tax,
            rng.choice(["R", "A", "N"], n_rows), shipdate,
            rng.choice(SHIP_MODES, n_rows),
        ],
    )


def bulk_expected(csv: Path, part: Path) -> Expected:
    """The bulk dischema's outputs, computed by DuckDB from the contract and
    rules as declared (not from the engine's code)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW li AS SELECT * FROM read_csv('{csv}', header=true, "
            "all_varchar=true, quote='\"', escape='\\')"
        )
        con.execute(f"CREATE VIEW part AS SELECT * FROM read_parquet('{part}')")
        con.execute(
            """
            CREATE TABLE flags AS SELECT
              l_orderkey,
              TRY_CAST(TRIM(l_quantity) AS BIGINT) IS NULL AS bad_qty,
              NOT regexp_full_match(TRIM(l_shipdate), '[0-9]{4}-[0-9]{2}-[0-9]{2}')
                OR TRY_CAST(TRIM(l_shipdate) AS DATE) IS NULL AS bad_date,
              CAST(l_discount AS DOUBLE) < 0 AS neg_discount,
              p.p_partkey IS NULL AS unknown_part,
              CAST(l_tax AS DOUBLE) >= 0.08 AS high_tax
            FROM li LEFT JOIN part p ON CAST(li.l_partkey AS BIGINT) = p.p_partkey
            """
        )
        (n, bad_qty, bad_date, neg, unknown, high_tax, rejected, totals) = con.execute(
            """
            SELECT count(*), sum(bad_qty::INT), sum(bad_date::INT),
                   sum(neg_discount::INT), sum(unknown_part::INT),
                   sum(high_tax::INT),
                   sum((bad_qty OR bad_date OR neg_discount OR unknown_part)::INT),
                   count(DISTINCT l_orderkey) FILTER (
                     WHERE NOT neg_discount AND NOT unknown_part)
            FROM flags
            """
        ).fetchone()
    finally:
        con.close()
    return Expected(
        message_counts={
            "INVALID_NUMBER": int(bad_qty),
            "INVALID_DATE": int(bad_date),
            "NEG_DISCOUNT": int(neg),
            "UNKNOWN_PART": int(unknown),
            "HIGH_TAX": int(high_tax),
        },
        n_record_rejections=int(rejected),
        entity_rows={"lineitem": int(n - rejected), "order_totals": int(totals)},
        records=int(n),
    )


# -- landing_batch -----------------------------------------------------------

ORDER_FIELDS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
]


def write_landing(
    landing: Path, seed: int, n_files: int, rows_per_file: int
) -> Expected:
    """``n_files`` order CSVs, each paired with a ``.metadata.json``.

    Dirt per file: ~2% junk total price, ~2% wrong date format, ~1% an
    unknown order status. The expected message totals are the injected
    dirt, counted as it is injected.
    """
    rng = _rng(seed, 3)
    landing.mkdir(parents=True, exist_ok=True)
    counts = {"INVALID_NUMBER": 0, "INVALID_DATE": 0, "BAD_STATUS": 0}
    rejected = 0
    for i in range(n_files):
        n = rows_per_file
        price = np.round(rng.uniform(850.0, 550000.0, n), 2).astype(object)
        junk = rng.random(n) < 0.02
        price[junk] = rng.choice(JUNK_NUMBERS, junk.sum())
        date = np.datetime_as_string(_dates(rng, n)).astype(object)
        bad_date = rng.random(n) < 0.02
        date[bad_date] = [f"{d[8:10]}/{d[5:7]}/{d[0:4]}" for d in date[bad_date]]
        status = rng.choice(ORDER_STATUS, n).astype(object)
        bad_status = rng.random(n) < 0.01
        status[bad_status] = "X"
        counts["INVALID_NUMBER"] += int(junk.sum())
        counts["INVALID_DATE"] += int(bad_date.sum())
        counts["BAD_STATUS"] += int(bad_status.sum())
        rejected += int((junk | bad_date | bad_status).sum())
        name = f"orders_{i:03d}.csv"
        _write_csv(
            landing / name,
            ORDER_FIELDS,
            [
                np.arange(i * n + 1, i * n + n + 1), rng.integers(1, 15001, n),
                status, price, date, rng.choice(PRIORITIES, n),
            ],
        )
        meta = {
            "dataset_id": "orders",
            "file_name": name,
            "file_extension": ".csv",
            "submission_method": "landing",
            "submitting_org": f"X{i % 7 + 20}",
            "reporting_period_start": "1998-01-01",
            "reporting_period_end": "1998-12-31",
            "file_size": (landing / name).stat().st_size,
        }
        (landing / f"{name}.metadata.json").write_text(json.dumps(meta))
    return Expected(
        message_counts=counts,
        n_record_rejections=rejected,
        entity_rows={"orders": n_files * rows_per_file - rejected},
        records=n_files * rows_per_file,
        submissions=n_files,
    )


# -- corpus_curation ---------------------------------------------------------

def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """Distinct lowercase pseudo-words of 3 to 9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        lengths = rng.integers(3, 10, size)
        chars = rng.choice(letters, int(lengths.sum()))
        bounds = np.r_[0, np.cumsum(lengths)]
        words.update("".join(chars[a:b]) for a, b in zip(bounds[:-1], bounds[1:]))
    return np.array(sorted(words)[:size])


def write_documents(path: Path, seed: int, n_base: int) -> Expected:
    """A JSON-lines corpus: ``n_base`` distinct documents plus seeded copies.

    - ~2% of the base documents are 2-4 words long and fail the token-count
      quality gate (one message each).
    - ~10% of the long base documents get an exact copy that differs only in
      case and whitespace, which the normalised ``dedup_exact`` removes.
    - ~10% get a near-duplicate copy with one word appended (word-3-shingle
      Jaccard above 0.99), which ``dedup_minhash`` removes.

    Distinct documents draw 100-160 words from a 6000-word vocabulary, so
    they share no shingles and no two of them are near-duplicates.
    """
    rng = _rng(seed, 4)
    vocab = _vocabulary(rng, 6000)
    docs: list[str] = []
    short = 0
    for _ in range(n_base):
        if rng.random() < 0.02:
            n_words, short = int(rng.integers(2, 5)), short + 1
        else:
            n_words = int(rng.integers(100, 161))
        docs.append(" ".join(rng.choice(vocab, n_words)) + ".")
    long_docs = [d for d in docs if d.count(" ") >= 99]
    exact, near = [], []
    for text in long_docs:
        draw = rng.random()
        if draw < 0.10:
            words = text.split(" ")
            upper = rng.random(len(words)) < 0.2
            exact.append(
                "  ".join(w.upper() if u else w for w, u in zip(words, upper))
            )
        elif draw < 0.20:
            near.append(text + " " + str(rng.choice(vocab)))
    corpus = docs + exact + near
    order = rng.permutation(len(corpus))
    with path.open("w", encoding="utf-8") as fh:
        for doc_id, idx in enumerate(order, start=1):
            source = "crawl" if idx < len(docs) else "mirror"
            fh.write(
                json.dumps({"doc_id": doc_id, "text": corpus[idx], "source": source})
                + "\n"
            )
    survivors = n_base - short
    return Expected(
        message_counts={"BAD_TOKEN_COUNT": short},
        n_record_rejections=short,
        entity_rows={
            "documents": len(corpus) - short,
            "unique_docs": survivors + len(near),
            "curated": survivors,
            "doc_stats": survivors,
        },
        records=len(corpus),
    )


def corpus_exact_survivors(path: Path) -> int:
    """DuckDB count of documents that pass the three quality gates and are
    distinct after lowercasing and collapsing whitespace: the row count
    ``dedup_exact(normalize_text=True)`` must produce."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            f"""
            WITH docs AS (
              SELECT text,
                     len(string_split_regex(trim(text), '\\s+')) AS n_tok,
                     length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
                     length(regexp_replace(text, '\\s+', '', 'g')) AS n_chars
              FROM read_json('{path}', format='newline_delimited')
            )
            SELECT count(DISTINCT trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
            FROM docs
            WHERE n_tok BETWEEN 5 AND 5000
              AND n_punct / length(text) < 0.2
              AND n_chars / n_tok BETWEEN 2.0 AND 15.0
            """
        ).fetchone()[0]
    finally:
        con.close()
