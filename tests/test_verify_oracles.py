"""tools/verify_oracles.py runs from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.test_cli import SF

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_verify_oracles_runs_outside_the_checkout(tmp_path):
    """A Python-worker query (its UDF unpickles the package in the
    worker) matches its oracle when the script starts from another
    directory with no PYTHONPATH."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "verify_oracles.py"),
         SF, "multimodal_wav_decode"],
        capture_output=True, text=True, timeout=600, cwd=tmp_path, env=env,
    )
    assert r.returncode == 0, (r.stdout + r.stderr)[-3000:]
    assert "ALL MATCH (1 queries)" in r.stdout
