"""Driver-contract tests: every queries() entry runs at sf0.001 and the
SQL-oracle subset matches DuckDB exactly (the driver's gate, simulated
locally at the smallest scale for speed — the driver itself runs
sf0.01)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

from .driver_sim import compare_query

SF_DIR = "/root/testdata/sf0.001"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"source", "chunks", "distinct_chunks", "bytes"}


def test_oracle_keys_subset():
    assert set(entrymod.oracle_sql()) <= set(entrymod.queries())


def test_import_fails_loudly_without_debugging_cache():
    """The module switches off PySpark's DataFrame-debugging capture
    through a private cache; a PySpark without that attribute must stop
    the import, not silently keep the capture on."""
    import subprocess

    code = (
        "import pyspark.errors.utils as u\n"
        "del u._enable_debugging_cache\n"
        "import __spark_entry__\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, timeout=120
    )
    assert r.returncode != 0
    assert "_enable_debugging_cache is missing" in r.stderr


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_runs_and_matches_oracle(spark, name):
    fn = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    r = compare_query(spark, SF_DIR, name, fn, sql)
    assert r["status"] in ("ok", "rows-only"), r
    assert r["rows"] >= 0
