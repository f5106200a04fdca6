"""The all-string hash-discipline gate (r9 verdict, Next-round #3).

Rounds 6-8 lost three driver rows to the engine→pandas dtype-coercion
layer (DuckDB HUGEINT/DECIMAL → float64 '1.0' vs Spark int64 '1'); the
round-9 fix renders hashed numerics as STRING in both twins. This test
makes the discipline permanent: every ``queries()`` frame must be
all-string except the columns the FLOATS.md inventory attests
(ordered-fold doubles, exact-integer keys, booleans — see
``tools/oracle_check.HASH_TYPE_ALLOWLIST``). A new row or tag that
introduces a non-string hashed column fails HERE, before it can go red
on the driver.

The full-frame schema walk executes every query once at sf0.001 (some
rows run streaming drains / pipeline submissions to produce their
frame), so this is the one deliberately slow test of the gate — the
cheap structural assertions run first.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod  # noqa: E402
from tools.oracle_check import (  # noqa: E402
    HASH_TYPE_ALLOWLIST,
    hash_discipline_violations,
)

SF_DIR = "/root/testdata/sf0.001"


class TestHashDisciplineStructure:
    def test_allowlist_rows_exist(self):
        # a stale allowlist entry means a row was renamed/retired
        # without updating the gate — fail loudly
        names = set(entry_mod.queries())
        stale = sorted(set(HASH_TYPE_ALLOWLIST) - names)
        assert not stale, f"allowlist rows not in queries(): {stale}"

    def test_every_query_has_an_oracle(self):
        # round-10 contract: 50 rows, every one oracle-attested
        q = entry_mod.queries()
        oracles = entry_mod.oracle_sql()
        assert len(q) == 50
        missing = sorted(set(q) - set(oracles))
        assert not missing, f"rows without a DuckDB twin: {missing}"

    def test_violation_detector(self):
        assert hash_discipline_violations(
            "no_such_row", [("a", "string"), ("b", "bigint")]
        ) == ["b:bigint"]
        assert hash_discipline_violations(
            "feature_scores", [("k", "string"), ("x", "double")]
        ) == []


class TestHashDisciplineFrames:
    @pytest.mark.slow
    def test_all_query_frames_respect_the_allowlist(self, spark):
        q = entry_mod.queries()
        bad: dict[str, list[str]] = {}
        for name, fn in q.items():
            df = fn(spark, SF_DIR)
            lint = hash_discipline_violations(name, df.dtypes)
            if lint:
                bad[name] = lint
        assert not bad, (
            "non-string hashed columns outside the FLOATS.md allowlist "
            f"(add an inventory entry or render as STRING): {bad}"
        )
