"""Smoke tests of the runnable examples, each run as a script by its
absolute path from a directory outside the repo, so the Spark workers
must find chunker_spark through the example's own path setup."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "script, last_line_ok",
    [
        ("day2_hygiene.py", lambda line: line.startswith("OK —")),
        # the only caller running containment_pairs after stacked
        # rewrite stages (the nested-lambda depth caveat of ops/substrings)
        ("curation_pipeline.py", lambda line: json.loads(line)["export_verified"] is True),
    ],
    ids=["day2_hygiene", "curation_pipeline"],
)
def test_example_runs(script, last_line_ok, tmp_path):
    """The example runs end to end in its own Spark session, exits 0
    and ends on its summary line: day2_hygiene.py drives the rename
    split, the TOAST fill and quarantine writer, drift repair and
    ``rebucket``; curation_pipeline.py runs every curation stage from
    the quality filter to the verified JSONL export."""
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "examples", script)],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
        env={**os.environ, "TMPDIR": str(tmp_path), "PYTHONIOENCODING": "utf-8"},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert last_line_ok(r.stdout.strip().splitlines()[-1]), r.stdout[-2000:]
