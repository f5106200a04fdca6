"""Driver-environment invariance: the oracle sweep must stay green under
the environment degrees of freedom the driver box controls (OS timezone,
unpinned session timezone, shuffle width, Arrow chunking).

Rounds 6-7 had two rows red ONLY on the driver — green on every local
replica — because their hashed surfaces leaked libm (`ln`) and
Arrow/pandas-timezone dependence. This test runs the most
environment-sensitive rows through ``tools/oracle_check.py`` in a
subprocess under an adverse config (DST zone, no UTC pin, odd shuffle
width, small Arrow chunks): a red here is a latent driver red. The full
50-row matrix is ``python tools/oracle_check.py --matrix``.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

# the rows whose plumbing crosses the hazards: pandas-state µs math
# and event-time windows + watermark flush (the streaming arms now
# ride the sessionize / event_analytics / cms_sketch unions), the
# ln-adjacent term surfaces (corpus_terms), and the Arrow-hop rows
# (feature_scores zlib, text_normalize unicodedata) — round-10 union
# successors of the r9 singletons
SENSITIVE = [
    "sessionize",
    "event_analytics",
    "streaming_window_counts",
    "sketches",
    "feature_scores",
    "text_corpus",
    # round-11: non-ASCII script profiling + robots regexes under a
    # non-UTC locale-ish environment
    "crawl_signals",
    # round-12: event-time windows + watermark flush through the
    # streaming CMS drain and the day-bucket probe arithmetic
    "stream_heavy",
]


@pytest.mark.slow
def test_sensitive_rows_green_under_adverse_environment():
    env = dict(os.environ)
    env["TZ"] = "America/New_York"
    proc = subprocess.run(
        [
            sys.executable,
            str(REPO / "tools" / "oracle_check.py"),
            "--session-tz=none",
            "--shuffle=7",
            "--arrow-batch=33",
            "/root/testdata/sf0.001",
            *SENSITIVE,
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=540,
    )
    tail = "\n".join(proc.stdout.splitlines()[-12:])
    assert proc.returncode == 0, f"adverse-environment sweep red:\n{tail}"
    assert "failures: 0" in proc.stdout, tail
