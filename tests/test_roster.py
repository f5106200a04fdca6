"""The roster contract: the driver's rows come from one declared table.

``__spark_entry__.ROSTER`` maps each row to its arms;
``queries()``/``oracle_sql()`` are derived from it. The driver records at
most 50 rows and compares every one against its DuckDB twin, and the tools
and tests that key rows by name must name rows that exist.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entry  # noqa: E402
from test_driver_matrix import SENSITIVE  # noqa: E402
from tools.plan_dump import EXECUTES_AT_BUILD  # noqa: E402


def test_roster_contract():
    roster = entry.ROSTER
    assert len(roster) == 50
    assert set(entry.queries()) == set(entry.oracle_sql()) == set(roster)
    for name, row in roster.items():
        tags = [arm.tag for arm in row.arms]
        assert tags, f"{name}: no arms"
        assert len(set(tags)) == len(tags), f"{name}: repeated tag {tags}"
        # a None oracle means "stated by the previous arm's SQL"
        assert row.arms[0].oracle is not None, f"{name}: first arm has no SQL"
    stale = sorted(
        (set(EXECUTES_AT_BUILD) | set(SENSITIVE)) - set(roster)
    )
    assert not stale, f"rows keyed in plan_dump/driver_matrix: {stale}"
