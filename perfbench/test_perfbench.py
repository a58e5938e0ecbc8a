"""Tests of the benchmark's own helpers: ``python3 -m pytest perfbench``.

They need no Spark session; the family-map test imports the engine's
query catalogue.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from spans import with_self_time  # noqa: E402
from stats import parse_sql_metric, percentile, summary, supports  # noqa: E402
from workloads import segment_freshness, source_log  # noqa: E402


@pytest.mark.parametrize(
    "text, want",
    [
        ("1,234", 1234.0),
        ("0", 0.0),
        ("15.3 s", 15.3),
        ("120 ms", 0.12),
        ("2.5 min", 150.0),
        ("969.0 B", 969.0),
        ("2.0 KiB", 2048.0),
        ("1.5 MiB", 1.5 * (1 << 20)),
        ("3.0 GiB", 3.0 * (1 << 30)),
        ("total (min, med, max (stageId: taskId))\n15.3 s (120 ms, 3.1 s, 6.0 s (stage 3.0: task 17))", 15.3),
        ("total (min, med, max (stageId: taskId))\n921.0 B (230.0 B, 230.0 B, 231.0 B (stage 0.0: task 0))", 921.0),
        ("total (min, med, max (stageId: taskId))\n1024.0 KiB (256.0 KiB, 256.0 KiB, 256.0 KiB (stage 0.0: task 1))", 1 << 20),
        ("total (min, med, max (stageId: taskId))\n2 min (10 s, 30 s, 1.0 min (stage 1.0: task 4))", 120.0),
    ],
)
def test_parse_sql_metric(text, want):
    assert parse_sql_metric(text) == pytest.approx(want)


@pytest.mark.parametrize("text", ["", None, "n/a", "12 furlongs"])
def test_parse_sql_metric_rejects(text):
    assert parse_sql_metric(text) is None


def test_percentile_interpolates_and_hits_sample_points():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 0) == 1
    assert percentile(xs, 50) == 3
    assert percentile(xs, 100) == 5
    assert percentile(xs, 25) == 2
    assert percentile([1, 2], 50) == 1.5
    assert percentile([7], 90) == 7
    with pytest.raises(ValueError):
        percentile([], 50)


def test_percentile_needs_ten_samples_beyond_it():
    assert not supports(99, 90)
    assert supports(100, 90)
    assert not supports(19, 50)
    assert supports(20, 50)
    assert not supports(0, 50)
    s = summary(range(1, 51))
    assert s["n"] == 50 and s["p50"] == 25.5 and not s["p90_supported"]


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 1, "name": "run", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 2, "name": "a", "start": 1.0, "end": 4.0, "parent": 1},
        {"id": 3, "name": "b", "start": 3.0, "end": 6.0, "parent": 1},  # overlaps a
        {"id": 4, "name": "c", "start": 9.0, "end": 12.0, "parent": 1},  # runs past its parent
        {"id": 5, "name": "d", "start": 1.5, "end": 2.0, "parent": 2},
    ]
    got = {s["name"]: round(s["self_s"], 6) for s in with_self_time(spans)}
    assert got == {"run": 10.0 - 5.0 - 1.0, "a": 2.5, "b": 3.0, "c": 3.0, "d": 0.5}


def _write_log(d, name, lines):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as fh:
        fh.write("v1\n" + "".join(json.dumps(x) + "\n" for x in lines))


def test_segment_to_batch_to_commit(tmp_path):
    log = tmp_path / "sources" / "0"
    entry = lambda name, b: {"path": f"file:///x/source/{name}", "timestamp": 1, "batchId": b}  # noqa: E731
    # batches 0-9 compacted into 9.compact, batch 10 in its own file
    _write_log(str(log), "9.compact", [entry("b-00000.parquet", 0), entry("t-00000.parquet", 1),
                                       entry("t-00001.parquet", 1)])
    _write_log(str(log), "10", [entry("t-00002.parquet", 10)])
    _write_log(str(log), ".10.crc", [])
    seg_batch = source_log(str(tmp_path))
    assert seg_batch == {"b-00000.parquet": 0, "t-00000.parquet": 1,
                         "t-00001.parquet": 1, "t-00002.parquet": 10}
    commits = {
        0: {"batch_id": "0", "ts": 100.0},
        1: {"batch_id": "1", "ts": 105.0},
        2: {"batch_id": "warm-0", "ts": 1.0},  # not a stream batch: ignored
    }
    landed = {"b-00000.parquet": 99.0, "t-00000.parquet": 101.0, "t-00001.parquet": 102.5,
              "t-00002.parquet": 103.0}
    fresh = segment_freshness(landed, seg_batch, commits)
    # batch 10 has no commit yet, so its segment is left out
    assert fresh == {"b-00000.parquet": 1.0, "t-00000.parquet": 4.0, "t-00001.parquet": 2.5}


def test_every_query_has_a_family():
    import __spark_entry__ as entry

    with open(os.path.join(HERE, "layers.json")) as fh:
        spec = json.load(fh)
    fam = spec["query_families"]
    assert set(fam) == set(entry.queries())
    assert set(fam.values()) <= set(spec["families"])


def test_benchmark_json_matches_layer_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "layers.json")) as fh:
        spec = json.load(fh)
    assert bench["per_layer"] == [
        {k: m[k] for k in ("name", "unit", "better")} for m in spec["per_layer"]
    ]
    e2e = {m["name"] for m in bench["end_to_end"]}
    workloads = {w["name"] for w in bench["workloads"]}
    for m in spec["per_layer"]:
        assert m["moves"], m["name"]
        for mv in m["moves"]:
            assert mv["metric"] in e2e and mv["workload"] in workloads, (m["name"], mv)


def test_generated_tables_match_the_measured_shape(tmp_path):
    import inputs

    inputs.write_tables({"sf": 0.001}, 11, str(tmp_path))
    got, want = inputs.table_shape(str(tmp_path)), inputs.MEASURED
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        if isinstance(w, dict):
            assert set(g) == set(w), k
            for lang, share in w.items():
                assert g[lang] == pytest.approx(share, abs=0.05), (k, lang)
        elif isinstance(w, int):
            assert g == w, k
        else:
            # sample statistics of 500-6,000 draws: a few per cent
            assert g == pytest.approx(w, rel=0.05, abs=0.02), k


def test_fingerprint_covers_names_and_sizes(tmp_path):
    import inputs

    (tmp_path / "a.parquet").write_bytes(b"x" * 3)
    fp = inputs.fingerprint(str(tmp_path))
    assert inputs.fingerprint(str(tmp_path)) == fp
    (tmp_path / "a.parquet").write_bytes(b"x" * 4)
    assert inputs.fingerprint(str(tmp_path)) != fp


def test_reap_all_waits_for_adopted_orphans():
    """A grandchild whose parent exits first is still waited for."""
    import subprocess

    code = (
        "import subprocess, time, procs\n"
        "procs.adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 0.6 &'])\n"
        "t = time.monotonic()\n"
        "procs.reap_all()\n"
        "print(time.monotonic() - t)\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=HERE, capture_output=True,
                         text=True, check=True, timeout=30)
    assert float(out.stdout) >= 0.4
