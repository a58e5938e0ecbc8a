"""Smoke tests of the runnable examples, each run as a script by its
absolute path from a directory outside the repo, so the Spark workers
must find chunker_spark through the example's own path setup."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_day2_hygiene_example_runs(tmp_path):
    """examples/day2_hygiene.py drives the rename split, the TOAST fill
    and quarantine writer, drift repair and ``rebucket`` end to end in
    its own Spark session; it exits 0 and ends on its OK line."""
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "examples", "day2_hygiene.py")],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
        env={**os.environ, "TMPDIR": str(tmp_path), "PYTHONIOENCODING": "utf-8"},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.strip().splitlines()[-1].startswith("OK —"), r.stdout[-2000:]
