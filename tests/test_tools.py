"""Smoke tests for the verification tools under ``tools/``: each runs at
HEAD, as a user would run it, with no override flags."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_gate_check_runs_at_head(sf_dir):
    """The strict oracle gate checks one named query and exits 0."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "gate_check.py"),
         sf_dir, "group_all_sum"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "GATE: 0 failures" in proc.stdout
    assert "group_all_sum: MATCH" in proc.stdout
