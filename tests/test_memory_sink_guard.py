"""Every memory-sink stream in the package runs through one helper,
``streaming/sinks.run_to_memory``: it names the query, drains it with
AvailableNow and applies the state-partition pin. A hand-built
``writeStream.format("memory")`` or ``.queryName(`` anywhere else is a
copy of that decision, so this scan fails on it."""

from __future__ import annotations

import os
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HELPER = "demo_segmenter_spark/streaming/sinks.py"
PATTERNS = ('writeStream.format("memory")', ".queryName(")


def test_memory_sink_blocks_only_in_helper():
    files = subprocess.run(
        ["git", "ls-files", "demo_segmenter_spark/*.py"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert HELPER in files
    hits = []
    for f in files:
        with open(os.path.join(REPO, f)) as fh:
            for i, line in enumerate(fh, 1):
                if any(p in line for p in PATTERNS):
                    hits.append(f"{f}:{i}")
    outside = [h for h in hits if not h.startswith(HELPER + ":")]
    assert not outside, f"memory-sink stream built outside {HELPER}: {outside}"
    assert len(hits) == len(PATTERNS), hits
