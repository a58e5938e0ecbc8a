"""Wire-envelope parsers (Debezium/Maxwell) and sessionization.

Reference anchoring: the parsed stream must land in EVENT_SCHEMA with
the same (repo, path, seq, op) key semantics the replay engine resolves
(/root/reference/src/chunker/package.d:444-481 is the replay contract
the downstream LWW preserves); these tests pin the envelope -> event
mapping itself.
"""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import Row, functions as F


def _dbz(op, lsn, repo="r1", path="a.py", content="x = 1\n", ts_ms=1700000000000, **extra):
    row = {"repo": repo, "path": path, "commit": f"c{lsn}", "lang": "python",
           "content": content, **extra}
    return json.dumps({
        "op": op,
        "ts_ms": ts_ms,
        "before": row if op == "d" else None,
        "after": None if op == "d" else row,
        "source": {"lsn": str(lsn), "db": "repos"},
    })


def test_debezium_ops_and_images(spark):
    from chunker_spark.cdc.envelopes import parse_debezium

    raw = spark.createDataFrame(
        [
            (_dbz("c", 1),),
            (_dbz("u", 2, content="x = 2\n"),),
            (_dbz("r", 3, path="b.py"),),  # snapshot read == upsert
            (_dbz("d", 4),),  # delete: image comes from `before`
        ],
        "value string",
    )
    ev = parse_debezium(raw).orderBy("seq").collect()
    assert [e.op for e in ev] == ["I", "U", "I", "D"]
    assert [e.seq for e in ev] == [1, 2, 3, 4]
    assert ev[3].repo == "r1" and ev[3].path == "a.py"  # delete keyed by before-image
    assert ev[1].content == "x = 2\n"
    assert all(e.schema_ver == 1 for e in ev)  # default when absent
    assert ev[0].ts == datetime.datetime(2023, 11, 14, 22, 13, 20)


def test_debezium_schema_ver_and_evolved_columns(spark):
    from chunker_spark.cdc.envelopes import parse_debezium

    raw = spark.createDataFrame(
        [(_dbz("c", 9, schema_ver="2", branch="dev"),)], "value string"
    )
    e = parse_debezium(raw).first()
    assert e.schema_ver == 2 and e.branch == "dev"


def test_maxwell_parse(spark):
    from chunker_spark.cdc.envelopes import BINLOG_PACK_SHIFT, parse_maxwell

    raw = spark.createDataFrame(
        [
            (json.dumps({"type": "insert", "ts": 1700000000,
                         "position": "binlog.000003:4521",
                         "data": {"repo": "r", "path": "p", "content": "c"}}),),
            (json.dumps({"type": "delete", "ts": 1700000001,
                         "position": "binlog.000003:4600",
                         "data": {"repo": "r", "path": "p"}}),),
        ],
        "value string",
    )
    ev = parse_maxwell(raw).orderBy("seq").collect()
    base = 3 << BINLOG_PACK_SHIFT
    assert [(e.op, e.seq) for e in ev] == [("I", base + 4521), ("D", base + 4600)]
    assert ev[0].content == "c" and ev[1].content is None


def test_maxwell_seq_monotonic_across_binlog_rotation(spark):
    """Offsets RESET on binlog rotation: an event at file 4 offset 100
    must order AFTER file 3 offset 99999. Bare-offset positions (no
    file part) keep their raw offset; a position-less envelope gets a
    null seq (DLQ material, not a silently-wrong order)."""
    from chunker_spark.cdc.envelopes import BINLOG_PACK_SHIFT, parse_maxwell

    def mx(pos, content):
        body = {"type": "update", "ts": 1700000000,
                "data": {"repo": "r", "path": "p", "content": content}}
        if pos is not None:
            body["position"] = pos
        return json.dumps(body)

    raw = spark.createDataFrame(
        [
            (mx("mysql-bin.000003:99999", "old"),),
            (mx("mysql-bin.000004:100", "new"),),
            (mx("777", "bare"),),
            (mx(None, "lost"),),
        ],
        "value string",
    )
    got = {e.content: e.seq for e in parse_maxwell(raw).collect()}
    assert got["old"] == (3 << BINLOG_PACK_SHIFT) + 99999
    assert got["new"] == (4 << BINLOG_PACK_SHIFT) + 100
    assert got["new"] > got["old"]  # rotation preserved the total order
    assert got["bare"] == 777
    assert got["lost"] is None


def test_debezium_mysql_file_pos_fallback(spark):
    """A MySQL Debezium source has no lsn — seq falls back to the
    packed (source.file, source.pos) coordinate, monotonic across
    rotations; lsn still wins when present."""
    from chunker_spark.cdc.envelopes import BINLOG_PACK_SHIFT, parse_debezium

    def dbz_src(source, content):
        return json.dumps({
            "op": "u", "ts_ms": 1700000000000,
            "before": None,
            "after": {"repo": "r", "path": "p", "content": content},
            "source": source,
        })

    raw = spark.createDataFrame(
        [
            (dbz_src({"file": "mysql-bin.000009", "pos": "500"}, "f9"),),
            (dbz_src({"file": "mysql-bin.000010", "pos": "42"}, "f10"),),
            (dbz_src({"lsn": "12345", "file": "mysql-bin.000010", "pos": "42"}, "lsn"),),
            (dbz_src({"pos": "600"}, "noname"),),
        ],
        "value string",
    )
    got = {e.content: e.seq for e in parse_debezium(raw).collect()}
    assert got["f9"] == (9 << BINLOG_PACK_SHIFT) + 500
    assert got["f10"] == (10 << BINLOG_PACK_SHIFT) + 42
    assert got["f10"] > got["f9"]
    assert got["lsn"] == 12345  # lsn takes precedence
    assert got["noname"] == 600  # fileless source packs as ordinal 0


def test_maxwell_fixture_deterministic_and_splits(spark):
    from chunker_spark.cdc.envelopes import (
        maxwell_fixture_path,
        parse_maxwell,
        split_malformed,
    )

    p1, p2 = maxwell_fixture_path(), maxwell_fixture_path()
    assert p1 == p2
    raw = spark.read.parquet(p1)
    clean, dlq = split_malformed(raw, parser=parse_maxwell)
    assert dlq.count() == 2  # the planted bad-JSON + position-less rows
    assert clean.count() == raw.count() - 2
    # the rotation is real: both file ordinals present, and every
    # file-8 seq orders after every file-7 seq despite smaller offsets
    from chunker_spark.cdc.envelopes import BINLOG_PACK_SHIFT

    seqs = [r.seq for r in clean.select("seq").collect()]
    f7 = [s for s in seqs if (s >> BINLOG_PACK_SHIFT) == 7]
    f8 = [s for s in seqs if (s >> BINLOG_PACK_SHIFT) == 8]
    assert f7 and f8 and min(f8) > max(f7)


def test_split_malformed_diverts_and_preserves_payload(spark):
    from chunker_spark.cdc.envelopes import split_malformed

    bad_json = "{definitely not json"
    no_seq = json.dumps({"op": "u", "ts_ms": 1, "after": {"repo": "x", "path": "p"},
                         "source": {}})
    raw = spark.createDataFrame([(_dbz("c", 1),), (bad_json,), (no_seq,)], "value string")
    clean, dlq = split_malformed(raw)
    assert clean.count() == 1 and clean.first().seq == 1
    dlq_vals = {r.value for r in dlq.collect()}
    assert dlq_vals == {bad_json, no_seq}  # original payloads, replayable


def test_envelope_stream_feeds_apply_batch(spark, tmp_path):
    """End-to-end: envelopes -> parse -> exactly-once MERGE -> LWW state."""
    from chunker_spark.cdc import LakeTable, apply_batch
    from chunker_spark.cdc.envelopes import parse_debezium
    from chunker_spark.kernel import ChunkerParams

    raw = spark.createDataFrame(
        [
            (_dbz("c", 1, path="a.py", content="v1\n"),),
            (_dbz("u", 2, path="a.py", content="v2\n"),),
            (_dbz("c", 3, path="b.py", content="keep\n"),),
            (_dbz("d", 4, path="b.py"),),
        ],
        "value string",
    )
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    params = ChunkerParams(average_bits=6, min_size=64, max_size=256)
    apply_batch(lake, parse_debezium(raw), "b0", params=params, collect_metrics=False)
    state = {r.path: r.content for r in lake.read().collect()}
    assert state == {"a.py": "v2\n"}


def test_fixture_is_deterministic_and_parseable(spark):
    from chunker_spark.cdc.envelopes import debezium_fixture_path, split_malformed

    p1, p2 = debezium_fixture_path(), debezium_fixture_path()
    assert p1 == p2
    raw = spark.read.parquet(p1)
    clean, dlq = split_malformed(raw)
    assert dlq.count() == 2  # exactly the two planted malformed rows
    n = clean.count()
    assert raw.count() == n + 2


def test_streaming_wire_ingest_with_dlq(spark, tmp_path):
    """JSON-lines envelope files → readStream.text → per-batch parse +
    DLQ split → exactly-once MERGE: clean rows land in the lake, the
    two malformed payloads land in <lake>/dlq, and a second run over
    the same checkpoint is a complete no-op (no new commits, no DLQ
    growth)."""
    from chunker_spark.cdc import LakeTable
    from chunker_spark.cdc.streaming import IngestStream
    from chunker_spark.kernel import ChunkerParams

    log_dir = tmp_path / "wire-log"
    log_dir.mkdir()
    lines = [
        _dbz("c", 1, path="a.py", content="v1\n"),
        _dbz("u", 2, path="a.py", content="v2\n"),
        "{broken payload",
    ]
    (log_dir / "seg-0.jsonl").write_text("\n".join(lines) + "\n")
    (log_dir / "seg-1.jsonl").write_text(
        "\n".join(
            [
                _dbz("c", 3, path="b.py", content="w1\n"),
                _dbz("d", 4, path="a.py"),
                json.dumps({"op": "u", "ts_ms": 1, "after": {"repo": "x"}, "source": {}}),
            ]
        )
        + "\n"
    )

    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    params = ChunkerParams(average_bits=6, min_size=64, max_size=256)

    def run():
        IngestStream(
            spark,
            lake,
            str(log_dir),
            str(tmp_path / "ckpt"),
            params=params,
            wire_format="debezium",
        ).run_available()

    run()
    state = {r.path: r.content for r in lake.read().collect()}
    assert state == {"b.py": "w1\n"}  # a.py deleted at seq 4
    dlq = spark.read.parquet(f"{lake.root}/dlq")
    assert dlq.count() == 2

    n_commits = len(lake.committed_batch_ids())
    run()  # resume over the same checkpoint: nothing new to deliver
    assert len(lake.committed_batch_ids()) == n_commits
    assert spark.read.parquet(f"{lake.root}/dlq").count() == 2


def test_bootstrap_snapshot_then_stream(spark, tmp_path):
    """Snapshot-then-stream handoff: the bootstrap loads the initial
    state at base_seq 0; overlapping tail events (same key, higher seq)
    win LWW with no special casing; re-running the bootstrap is a
    ledger no-op."""
    from chunker_spark.cdc import LakeTable, apply_batch
    from chunker_spark.cdc.merge import bootstrap_snapshot
    from chunker_spark.kernel import ChunkerParams

    params = ChunkerParams(average_bits=6, min_size=64, max_size=256)
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    snap = spark.createDataFrame(
        [
            ("r1", "a.py", "c0", "python", "main", "snap-a\n"),
            ("r1", "b.py", "c0", "python", "main", "snap-b\n"),
        ],
        "repo string, path string, commit string, language string, branch string, content string",
    )
    c1 = bootstrap_snapshot(lake, snap, params=params, collect_metrics=False)
    assert c1 is not None
    assert bootstrap_snapshot(lake, snap, params=params, collect_metrics=False) is None

    # tail: update a.py at seq 10 (wins over the seq-0 snapshot row)
    from chunker_spark.cdc.envelopes import parse_debezium

    raw = spark.createDataFrame([(_dbz("u", 10, path="a.py", content="tail-a\n"),)], "value string")
    apply_batch(lake, parse_debezium(raw), "tail-1", params=params, collect_metrics=False)
    state = {r.path: (r.content, r.branch) for r in lake.read().collect()}
    assert state == {"a.py": ("tail-a\n", "main"), "b.py": ("snap-b\n", "main")}


def test_debezium_roundtrip_fuzz(spark):
    """Property: any event rendered as a Debezium envelope parses back
    field-for-field — arbitrary unicode in repo/path/content (quotes,
    newlines, non-BMP), every op code, large offsets. One Spark action
    over the whole generated corpus (per-example Spark calls would be
    prohibitively slow)."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    from chunker_spark.cdc.envelopes import parse_debezium

    text = st.text(min_size=0, max_size=40)
    drawn = []

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        st.lists(
            st.tuples(
                st.sampled_from(["c", "u", "d", "r"]),
                st.integers(min_value=0, max_value=2**62),
                text,
                text,
                st.one_of(st.none(), text),
            ),
            min_size=1,
            max_size=40,
            unique_by=lambda t: t[1],
        )
    )
    def collect(batch):
        drawn.append(batch)

    collect()
    # dedupe by lsn across batches (unique_by only holds within one)
    corpus = list({ev[1]: ev for batch in drawn for ev in batch}.values())
    rows = []
    expected = {}
    for op, lsn, repo, path, content in corpus:
        img = {"repo": repo, "path": path, "content": content}
        rows.append(
            json.dumps(
                {
                    "op": op,
                    "ts_ms": lsn % (2**40),
                    "before": img if op == "d" else None,
                    "after": None if op == "d" else img,
                    "source": {"lsn": str(lsn)},
                },
                ensure_ascii=False,
            )
        )
        expected[lsn] = ({"c": "I", "r": "I", "u": "U", "d": "D"}[op], repo, path, content)
    raw = spark.createDataFrame([(r,) for r in rows], "value string")
    got = {
        r.seq: (r.op, r.repo, r.path, r.content)
        for r in parse_debezium(raw).collect()
    }
    assert got == expected


# ---- sessionization ---------------------------------------------------


def _ts(minute, second=0):
    return datetime.datetime(2024, 1, 1, 0, minute, second)


def test_sessionize_gap_boundary(spark):
    """Gap == gap_s stays in-session; gap_s + 1us starts a new one."""
    from chunker_spark.ops.sessions import sessionize

    rows = [
        Row(user_id=1, ts=_ts(0)),
        Row(user_id=1, ts=_ts(30)),  # exactly 1800s later: same session
        Row(user_id=1, ts=_ts(30) + datetime.timedelta(minutes=30, microseconds=1)),
        Row(user_id=2, ts=_ts(5)),  # other key: independent numbering
    ]
    out = sessionize(spark.createDataFrame(rows), gap_s=1800).collect()
    by_user = {}
    for r in sorted(out, key=lambda r: (r.user_id, r.ts)):
        by_user.setdefault(r.user_id, []).append(r.session_seq)
    assert by_user[1] == [0, 0, 1]
    assert by_user[2] == [0]


def test_session_stats_single_exchange(spark):
    """The whole sessionize+rollup plan shuffles exactly once — the
    window partitionBy on the key; groupBy reuses that partitioning."""
    from chunker_spark.ops.sessions import session_stats

    rows = [Row(user_id=i % 3, ts=_ts(i), value=float(i)) for i in range(12)]
    df = session_stats(spark.createDataFrame(rows), gap_s=120, value_col="value")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    got = {(r.user_id, r.session_seq): r.n_events for r in df.collect()}
    # users 0,1,2 see events every 3 min > 120s gap -> every event its own session
    assert got[(0, 0)] == 1 and got[(0, 1)] == 1


def test_multi_table_routing_exactly_once(spark, tmp_path):
    """One envelope stream carrying two tables fans out to two lakes:
    per-table exactly-once (redelivery no-ops), unrouted rows surfaced,
    and each lake sees only its own keys."""
    from chunker_spark.cdc import LakeTable
    from chunker_spark.cdc.envelopes import parse_debezium
    from chunker_spark.cdc.router import route_batch
    from chunker_spark.kernel import ChunkerParams

    def dbz(op, lsn, table, path, content=None):
        row = {"repo": "r", "path": path, "commit": f"c{lsn}",
               "lang": "python", "content": content}
        return json.dumps({
            "op": op, "ts_ms": 1700000000000 + lsn,
            "before": row if op == "d" else None,
            "after": None if op == "d" else row,
            "source": {"lsn": str(lsn), "table": table},
        })

    raw = spark.createDataFrame(
        [
            (dbz("c", 1, "files", "a.py", "fa\n"),),
            (dbz("c", 2, "docs", "d.md", "dd\n"),),
            (dbz("u", 3, "files", "a.py", "fa2\n"),),
            (dbz("c", 4, "mystery", "m.txt", "mm\n"),),  # unrouted table
        ],
        "value string",
    )
    events = parse_debezium(raw)
    params = ChunkerParams(average_bits=6, min_size=64, max_size=256)
    lakes = {
        "files": LakeTable(spark, str(tmp_path / "files"), num_buckets=2),
        "docs": LakeTable(spark, str(tmp_path / "docs"), num_buckets=2),
    }
    commits, unrouted = route_batch(
        lakes, events, "b0", params=params, collect_metrics=False
    )
    assert commits["files"] is not None and commits["docs"] is not None
    # single-pass accounting rides along: per-table routed row counts
    assert commits["files"]["routed_rows"] == 2
    assert commits["docs"]["routed_rows"] == 1
    assert {r.path for r in unrouted.collect()} == {"m.txt"}
    assert {r.path: r.content for r in lakes["files"].read().collect()} == {"a.py": "fa2\n"}
    assert {r.path: r.content for r in lakes["docs"].read().collect()} == {"d.md": "dd\n"}

    # redelivery: both tables no-op; empty slice for a new table no-ops
    lakes["other"] = LakeTable(spark, str(tmp_path / "other"), num_buckets=2)
    commits2, _ = route_batch(lakes, events, "b0", params=params, collect_metrics=False)
    assert commits2 == {"files": None, "docs": None, "other": None}
    assert lakes["files"].current_commit()["commit_seq"] == 0  # no new commit


def test_sessionize_time_split_equivalence(spark):
    """Property (the split_interval_s contract): when no same-key event
    pair within gap_s straddles a bucket boundary, the skew-split path
    produces EXACTLY the session numbering of the default path. Events
    are generated in bucket interiors (>= gap_s away from boundaries)
    so the precondition holds by construction; keys, in-bucket
    clustering, and bucket occupancy are randomized with a fixed seed."""
    import random

    from chunker_spark.ops.sessions import sessionize

    rng = random.Random(1234)
    gap_s, split_s = 600, 86400
    base = datetime.datetime(2024, 3, 1)
    rows = []
    for key in range(6):
        for bucket in rng.sample(range(10), rng.randint(2, 6)):
            t = bucket * split_s + rng.randint(gap_s, split_s // 3)
            for _ in range(rng.randint(1, 12)):
                rows.append(Row(user_id=key, ts=base + datetime.timedelta(seconds=t)))
                # mix of in-session steps and > gap_s session breaks,
                # capped so we never come within gap_s of the boundary
                t += rng.choice([5, 30, gap_s + 1, 2 * gap_s])
                if t > (bucket + 1) * split_s - gap_s - 1:
                    break
    df = spark.createDataFrame(rows)
    plain = {
        (r.user_id, r.ts): r.session_seq
        for r in sessionize(df, gap_s=gap_s).collect()
    }
    split = {
        (r.user_id, r.ts): r.session_seq
        for r in sessionize(df, gap_s=gap_s, split_interval_s=split_s).collect()
    }
    assert split == plain and len(plain) == len(rows)


def test_streaming_maxwell_wire_ingest(spark, tmp_path):
    """The Maxwell wire path end-to-end through IngestStream: JSON-lines
    envelopes spanning a binlog rotation -> per-batch parse with packed
    seq -> DLQ split -> exactly-once MERGE. The file-8 update must win
    LWW over the larger raw file-7 offsets, and redelivery must no-op."""
    import json as _json

    from chunker_spark.cdc import LakeTable
    from chunker_spark.cdc.streaming import IngestStream
    from chunker_spark.kernel import ChunkerParams

    def mx(op, pos, path, content=None):
        data = {"repo": "r", "path": path}
        if content is not None:
            data["content"] = content
            data["commit"] = pos
        return _json.dumps({"type": op, "ts": 1700000000,
                            "position": pos, "table": "files", "data": data})

    log_dir = tmp_path / "mx-log"
    log_dir.mkdir()
    (log_dir / "seg-0.jsonl").write_text("\n".join([
        mx("insert", "mysql-bin.000007:90000", "a.go", "file7-a\n"),
        mx("insert", "mysql-bin.000007:90100", "b.go", "file7-b\n"),
        "corrupt {{{",
    ]) + "\n")
    (log_dir / "seg-1.jsonl").write_text("\n".join([
        # rotation: smaller raw offsets, must still win
        mx("update", "mysql-bin.000008:120", "a.go", "file8-a\n"),
        mx("delete", "mysql-bin.000008:150", "b.go"),
    ]) + "\n")

    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    params = ChunkerParams(average_bits=6, min_size=64, max_size=256)

    def run():
        IngestStream(spark, lake, str(log_dir), str(tmp_path / "ckpt"),
                     params=params, wire_format="maxwell").run_available()

    run()
    state = {r.path: r.content for r in lake.read().collect()}
    assert state == {"a.go": "file8-a\n"}  # rotation-ordered LWW; b.go deleted
    assert spark.read.parquet(f"{lake.root}/dlq").count() == 1
    n = len(lake.committed_batch_ids())
    run()  # redelivery: complete no-op
    assert len(lake.committed_batch_ids()) == n
    assert spark.read.parquet(f"{lake.root}/dlq").count() == 1


def test_dlq_survives_new_stream_generation(spark, tmp_path):
    """Spark restarts batch ids at 0 for every new checkpoint, so DLQ
    directories are scoped per ingest GENERATION (derived from the
    checkpoint path): a later run against the same lake with a fresh
    checkpoint must not overwrite an earlier run's captured payloads,
    while redelivery WITHIN a generation stays an idempotent overwrite."""
    import glob

    from chunker_spark.cdc import LakeTable
    from chunker_spark.cdc.streaming import IngestStream
    from chunker_spark.kernel import ChunkerParams

    params = ChunkerParams(average_bits=6, min_size=64, max_size=256)
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)

    log1 = tmp_path / "log1"
    log1.mkdir()
    (log1 / "seg-0.jsonl").write_text(
        _dbz("c", 1, path="a.py", content="v1\n") + "\nbroken-one {{{\n"
    )
    IngestStream(spark, lake, str(log1), str(tmp_path / "ckpt1"),
                 params=params, wire_format="debezium").run_available()
    assert spark.read.parquet(f"{lake.root}/dlq").count() == 1

    # new generation: fresh checkpoint, batch ids restart at 0
    log2 = tmp_path / "log2"
    log2.mkdir()
    (log2 / "seg-0.jsonl").write_text(
        _dbz("c", 2, path="b.py", content="v2\n") + "\nbroken-two {{{\n"
    )
    IngestStream(spark, lake, str(log2), str(tmp_path / "ckpt2"),
                 params=params, wire_format="debezium").run_available()
    dlq = spark.read.parquet(f"{lake.root}/dlq")
    assert dlq.count() == 2  # generation 1's payload NOT clobbered
    assert dlq.select("ingest_run").distinct().count() == 2

    # an all-clean generation quarantines nothing and leaves no
    # ingest_run= directory behind
    log3 = tmp_path / "log3"
    log3.mkdir()
    (log3 / "seg-0.jsonl").write_text(_dbz("c", 3, path="c.py", content="v3\n") + "\n")
    IngestStream(spark, lake, str(log3), str(tmp_path / "ckpt3"),
                 params=params, wire_format="debezium").run_available()
    assert len(glob.glob(f"{lake.root}/dlq/ingest_run=*")) == 2
    assert spark.read.parquet(f"{lake.root}/dlq").count() == 2


def test_sessionize_split_keeps_null_rows(spark):
    """ADVICE r3: null-ts (and null-key) rows must survive the
    split_interval_s path and get the same session numbers as the
    default path (where nulls sort first within their key)."""
    from chunker_spark.ops.sessions import sessionize

    rows = [
        ("u1", None, 1),          # null ts: sorts first, starts session 0
        ("u1", "2024-01-01 00:00:00", 2),
        ("u1", "2024-01-01 02:00:00", 3),   # > gap → new session
        (None, "2024-01-01 00:00:00", 4),   # null key: its own group
        (None, "2024-01-01 03:00:00", 5),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts string, ev int").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    plain = sessionize(df, gap_s=1800)
    split = sessionize(df, gap_s=1800, split_interval_s=86400 * 365)
    p = {r["ev"]: r["session_seq"] for r in plain.collect()}
    s = {r["ev"]: r["session_seq"] for r in split.collect()}
    assert len(s) == 5  # nothing dropped
    assert s == p


def test_sessionize_skew_warning(spark, caplog):
    """Opt-in skew advice: a key above the threshold is named in a
    warning when split_interval_s is unset; defaults stay silent."""
    import logging

    from chunker_spark.ops.sessions import sessionize

    rows = [("hot", f"2024-01-01 00:{m:02d}:00") for m in range(50)]
    rows += [("cold", "2024-01-01 00:00:00")]
    df = spark.createDataFrame(rows, "user_id string, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    with caplog.at_level(logging.WARNING, logger="chunker_spark.ops.sessions"):
        sessionize(df, gap_s=1800, warn_skew_above=10).collect()
    assert any("hot" in m and "split_interval_s" in m for m in caplog.messages)

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="chunker_spark.ops.sessions"):
        sessionize(df, gap_s=1800).collect()  # default: no action, no warning
    assert not caplog.messages


def test_wal2json_parse_images_and_lsn(spark):
    """wal2json v2: 64-bit LSN reassembly (hi*2^32+lo), name-value
    column arrays -> row images, identity old-keys for deletes,
    transaction-control/TRUNCATE lines dropped (not parsed as rows)."""
    import json as _json

    from chunker_spark.cdc.envelopes import parse_wal2json

    lines = [
        _json.dumps({"action": "B"}),
        _json.dumps({
            "action": "I", "lsn": "0/1A0", "timestamp": "2023-11-14 15:00:01.000001+00:00",
            "schema": "public", "table": "files",
            "columns": [{"name": "repo", "value": "r"}, {"name": "path", "value": "x.sql"},
                        {"name": "content", "value": "v1\n"}],
        }),
        _json.dumps({
            "action": "U", "lsn": "1/10", "table": "files",
            "columns": [{"name": "repo", "value": "r"}, {"name": "path", "value": "x.sql"},
                        {"name": "content", "value": "v2\n"}],
        }),
        _json.dumps({
            "action": "D", "lsn": "1/20", "table": "files",
            "identity": [{"name": "repo", "value": "r"}, {"name": "path", "value": "y.sql"}],
        }),
        _json.dumps({"action": "T", "schema": "public", "table": "files"}),
        _json.dumps({"action": "C"}),
    ]
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    rows = {r["seq"]: r for r in parse_wal2json(raw).collect()}
    # B/C/T dropped entirely: only the three row changes surface
    assert len(rows) == 3
    assert rows[0x1A0]["op"] == "I" and rows[0x1A0]["content"] == "v1\n"
    # hi part dominates: 1/10 -> 2^32 + 0x10
    assert (1 << 32) + 0x10 in rows and rows[(1 << 32) + 0x10]["op"] == "U"
    d = rows[(1 << 32) + 0x20]
    assert d["op"] == "D" and d["path"] == "y.sql" and d["content"] is None
    assert all(r["src_table"] == "files" for r in rows.values())


def test_wal2json_fixture_splits_and_segment_order(spark):
    """The fixture's DLQ split: exactly the 2 genuinely-malformed lines
    divert; all 64 row changes parse clean; control lines vanish; and
    the segment-1 updates (smaller lo offsets) win LWW on the
    reassembled LSN."""
    from pyspark.sql import functions as F

    from chunker_spark.cdc.envelopes import (
        parse_wal2json,
        split_malformed,
        wal2json_fixture_path,
    )

    raw = spark.read.parquet(wal2json_fixture_path())
    clean, dlq = split_malformed(raw, parser=parse_wal2json)
    assert dlq.count() == 2
    assert clean.count() == 64  # 20 I + 20 U + 20 U + 4 D
    from pyspark.sql.window import Window

    w = Window.partitionBy("repo", "path").orderBy(F.col("seq").desc())
    final = (
        clean.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .collect()
    )
    assert len(final) == 16  # 20 keys - 4 deletes
    # every surviving version is a segment-1 update (commit 'l1-...')
    assert all(r["commit"].startswith("l1-") for r in final)


def test_streaming_wal2json_wire_ingest(spark, tmp_path):
    """The wal2json wire path end-to-end through IngestStream: JSON
    lines crossing a WAL segment boundary -> per-batch parse with
    reassembled LSN -> control lines dropped, corrupt line DLQ'd ->
    exactly-once MERGE; redelivery no-ops."""
    import json as _json

    from chunker_spark.cdc import LakeTable
    from chunker_spark.cdc.streaming import IngestStream
    from chunker_spark.kernel import ChunkerParams

    def wj(action, lsn, path, content=None):
        body = {"action": action, "lsn": lsn, "table": "files"}
        if action == "D":
            body["identity"] = [{"name": "repo", "value": "r"},
                                {"name": "path", "value": path}]
        else:
            body["columns"] = [{"name": "repo", "value": "r"},
                               {"name": "path", "value": path},
                               {"name": "commit", "value": lsn},
                               {"name": "content", "value": content}]
        return _json.dumps(body)

    log_dir = tmp_path / "wj-log"
    log_dir.mkdir()
    (log_dir / "seg-0.jsonl").write_text("\n".join([
        _json.dumps({"action": "B"}),
        wj("I", "0/9000", "a.sql", "seg0-a\n"),
        wj("I", "0/9100", "b.sql", "seg0-b\n"),
        _json.dumps({"action": "C"}),
        "corrupt }}}",
    ]) + "\n")
    (log_dir / "seg-1.jsonl").write_text("\n".join([
        # segment boundary: lo resets below every seg-0 offset
        wj("U", "1/120", "a.sql", "seg1-a\n"),
        wj("D", "1/150", "b.sql"),
    ]) + "\n")

    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    params = ChunkerParams(average_bits=6, min_size=64, max_size=256)

    def run():
        IngestStream(spark, lake, str(log_dir), str(tmp_path / "ckpt"),
                     params=params, wire_format="wal2json").run_available()

    run()
    state = {r.path: r.content for r in lake.read().collect()}
    assert state == {"a.sql": "seg1-a\n"}  # LSN-ordered LWW; b.sql deleted
    assert spark.read.parquet(f"{lake.root}/dlq").count() == 1
    n = len(lake.committed_batch_ids())
    run()  # redelivery: complete no-op
    assert len(lake.committed_batch_ids()) == n


def test_canal_parse_multirow_explode_and_inbatch_order(spark):
    """Canal FlatMessage is the multi-row dialect: one message = one
    binlog event batch with a `data` ARRAY of row images. The parse
    must (a) yield one event per array element, (b) pack seq as
    (batch_id << SHIFT) + in-batch position so a key repeated WITHIN
    one batch still has a total order, (c) take DELETE images from
    `data` (not `old`), and (d) drop DDL messages without dead-
    lettering them."""
    import json as _json

    from chunker_spark.cdc.envelopes import CANAL_PACK_SHIFT, parse_canal

    def canal(mid, mtype, rows, is_ddl=False):
        return _json.dumps({"id": mid, "database": "d", "table": "files",
                            "type": mtype, "isDdl": is_ddl,
                            "es": 1700000000000, "ts": 1700000000250,
                            "data": rows, "old": None})

    raw = spark.createDataFrame(
        [
            (canal(7, "INSERT", [
                {"repo": "r", "path": "a.java", "content": "v0"},
                {"repo": "r", "path": "b.java", "content": "w0"},
                {"repo": "r", "path": "a.java", "content": "v1"},  # same key, later pos
            ]),),
            (canal(8, "DELETE", [{"repo": "r", "path": "b.java", "content": "w0"}]),),
            (canal(9, "ALTER", None, is_ddl=True),),
        ],
        "value string",
    )
    ev = parse_canal(raw).orderBy("seq").collect()
    base7, base8 = 7 << CANAL_PACK_SHIFT, 8 << CANAL_PACK_SHIFT
    # DDL dropped entirely — only the 4 row images surface
    assert [(e.op, e.seq) for e in ev] == [
        ("I", base7 + 0), ("I", base7 + 1), ("I", base7 + 2), ("D", base8 + 0)]
    # in-batch order: the pos-2 image of a.java outranks the pos-0 one
    assert ev[2].path == "a.java" and ev[2].content == "v1"
    assert ev[0].content == "v0"
    # DELETE keyed from the data image
    assert ev[3].path == "b.java" and ev[3].op == "D"
    assert all(e.src_table == "files" for e in ev)
    assert ev[0].ts == datetime.datetime(2023, 11, 14, 22, 13, 20)


def test_canal_fixture_deterministic_and_splits(spark):
    """The Canal fixture's DLQ split: exactly the 2 planted malformed
    payloads (bad JSON / batch-id-less) divert; all 58 row images parse
    clean; the DDL message vanishes (dropped, NOT dead-lettered); and
    the triple-repeated key inside batch 103 resolves LWW by in-batch
    position (pos 5 wins)."""
    from chunker_spark.cdc.envelopes import (
        CANAL_PACK_SHIFT,
        canal_fixture_path,
        parse_canal,
        split_malformed,
    )

    p1, p2 = canal_fixture_path(), canal_fixture_path()
    assert p1 == p2
    raw = spark.read.parquet(p1)
    clean, dlq = split_malformed(raw, parser=parse_canal)
    assert dlq.count() == 2
    assert clean.count() == 58  # 12 + 12 + 24 + 6 + 4; DDL contributes none
    from pyspark.sql.window import Window

    w = Window.partitionBy("repo", "path").orderBy(F.col("seq").desc())
    final = {
        r.path: r
        for r in clean.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .collect()
    }
    assert len(final) == 24 - 4  # four keys deleted in batch 104
    # key 3 appears at positions 0/2/5 of batch 103: pos 5 must win
    win = final["svc/c3.java"]
    assert win.seq == (103 << CANAL_PACK_SHIFT) + 5
    assert win.commit == "b1035"


def test_streaming_canal_wire_ingest(spark, tmp_path):
    """The Canal wire path end-to-end through IngestStream: multi-row
    FlatMessages (incl. a key repeated within one batch and a DDL line)
    -> per-message explode + packed seq -> DLQ split -> exactly-once
    MERGE; redelivery no-ops."""
    import json as _json

    from chunker_spark.cdc import LakeTable
    from chunker_spark.cdc.streaming import IngestStream
    from chunker_spark.kernel import ChunkerParams

    def canal(mid, mtype, rows, is_ddl=False):
        return _json.dumps({"id": mid, "database": "d", "table": "files",
                            "type": mtype, "isDdl": is_ddl,
                            "es": 1700000000000 + mid, "ts": 1700000001000,
                            "data": rows, "old": None})

    log_dir = tmp_path / "canal-log"
    log_dir.mkdir()
    (log_dir / "seg-0.jsonl").write_text("\n".join([
        canal(1, "INSERT", [
            {"repo": "r", "path": "a.java", "commit": "c1", "content": "v1\n"},
            {"repo": "r", "path": "b.java", "commit": "c1", "content": "w1\n"},
        ]),
        "canal corrupt [[[",
    ]) + "\n")
    (log_dir / "seg-1.jsonl").write_text("\n".join([
        # one batch: a.java updated twice (pos 0 then pos 2) + b.java deleted
        canal(2, "UPDATE", [
            {"repo": "r", "path": "a.java", "commit": "c2", "content": "v2-early\n"},
            {"repo": "r", "path": "b.java", "commit": "c2", "content": "w2\n"},
            {"repo": "r", "path": "a.java", "commit": "c2", "content": "v2-final\n"},
        ]),
        canal(3, "DELETE", [{"repo": "r", "path": "b.java", "commit": "c2",
                             "content": "w2\n"}]),
        canal(4, "ALTER", None, is_ddl=True),  # dropped, not dead-lettered
    ]) + "\n")

    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    params = ChunkerParams(average_bits=6, min_size=64, max_size=256)

    def run():
        IngestStream(spark, lake, str(log_dir), str(tmp_path / "ckpt"),
                     params=params, wire_format="canal").run_available()

    run()
    state = {r.path: r.content for r in lake.read().collect()}
    # in-batch LWW: the pos-2 image wins; b.java deleted at batch 3
    assert state == {"a.java": "v2-final\n"}
    assert spark.read.parquet(f"{lake.root}/dlq").count() == 1
    n = len(lake.committed_batch_ids())
    run()  # redelivery: complete no-op
    assert len(lake.committed_batch_ids()) == n
    assert spark.read.parquet(f"{lake.root}/dlq").count() == 1


def test_dms_fixture_cutover_and_splits(spark):
    """The DMS fixture's full-load→CDC cutover semantics: exactly the
    2 planted bad payloads DLQ (broken JSON / operation-less data
    record); the control record vanishes (dropped, NOT dead-lettered);
    load rows order at seq 0 so every CDC change beats the snapshot;
    the never-updated keys survive AT the snapshot; and the key
    touched twice in txn 103 resolves by transaction-record-id."""
    from chunker_spark.cdc.envelopes import (
        DMS_PACK_SHIFT,
        dms_fixture_path,
        parse_dms,
        split_malformed,
    )

    p1, p2 = dms_fixture_path(), dms_fixture_path()
    assert p1 == p2
    raw = spark.read.parquet(p1)
    clean, dlq = split_malformed(raw, parser=parse_dms)
    assert dlq.count() == 2
    assert clean.count() == 23 + 3 + 20 + 20 + 2 + 3  # control contributes none
    from pyspark.sql.window import Window

    w = Window.partitionBy("repo", "path").orderBy(F.col("seq").desc())
    final = {
        r.path: r
        for r in clean.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .collect()
    }
    assert len(final) == 23 + 2 - 3  # three keys tombstoned in txn 104
    # timestamp-mode keys order on commit-timestamp microseconds
    assert final["svc/d30.py"].commit == "t2-30"
    assert final["svc/d30.py"].seq == 1709269201500000
    assert final["svc/d31.py"].commit == "t1-31"
    # within-txn order: record-id 17 of txn 103 beats record-id 5
    assert final["svc/d3.py"].seq == (103 << DMS_PACK_SHIFT) + 17
    assert final["svc/d3.py"].commit == "v3b-3"
    # full-load-only keys survive at snapshot content, seq 0
    for k in (20, 21, 22):
        assert final[f"svc/d{k}.py"].seq == 0
        assert final[f"svc/d{k}.py"].commit == f"snap-{k}"
    # every CDC'd key left the snapshot behind
    assert final["svc/d0.py"].commit == "v2-0"


def test_streaming_dms_wire_ingest(spark, tmp_path):
    """The DMS wire path end-to-end through IngestStream: full-load
    records then transaction-packed CDC (incl. a within-txn repeated
    key and a control record) -> DLQ split -> exactly-once MERGE;
    redelivery no-ops."""
    import json as _json

    from chunker_spark.cdc import LakeTable
    from chunker_spark.cdc.streaming import IngestStream
    from chunker_spark.kernel import ChunkerParams

    def dms(op, path, content, txn=None, recid=None, rt="data"):
        meta = {"record-type": rt, "operation": op, "schema-name": "s",
                "table-name": "files", "timestamp": "2024-03-01T00:00:00.000000Z"}
        if txn is not None:
            meta["transaction-id"] = txn
            meta["transaction-record-id"] = recid
        return _json.dumps({"data": {"repo": "r", "path": path,
                                     "commit": "c", "content": content},
                            "metadata": meta})

    log_dir = tmp_path / "dms-log"
    log_dir.mkdir()
    (log_dir / "seg-0.jsonl").write_text("\n".join([
        dms("load", "a.py", "snap-a\n"),
        dms("load", "b.py", "snap-b\n"),
        "dms corrupt [[[",
    ]) + "\n")
    (log_dir / "seg-1.jsonl").write_text("\n".join([
        # txn 9: a.py updated twice — record-id 4 must win
        dms("update", "a.py", "v1-early\n", txn=9, recid=1),
        dms("update", "a.py", "v1-final\n", txn=9, recid=4),
        dms("delete", "b.py", "", txn=10, recid=0),
        dms("create-table", "x", "", rt="control"),  # dropped, not dead-lettered
    ]) + "\n")

    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    params = ChunkerParams(average_bits=6, min_size=64, max_size=256)

    def run():
        IngestStream(spark, lake, str(log_dir), str(tmp_path / "ckpt"),
                     params=params, wire_format="dms").run_available()

    run()
    state = {r.path: r.content for r in lake.read().collect()}
    assert state == {"a.py": "v1-final\n"}  # snapshot beaten, b.py tombstoned
    assert spark.read.parquet(f"{lake.root}/dlq").count() == 1
    n = len(lake.committed_batch_ids())
    run()  # redelivery: complete no-op
    assert len(lake.committed_batch_ids()) == n
    assert spark.read.parquet(f"{lake.root}/dlq").count() == 1


def test_mongo_fixture_oplog_order_and_splits(spark):
    """The Debezium-MongoDB fixture: exactly the 4 contract DLQ shapes
    divert (pre-image-less delete, updateDescription-only update,
    malformed JSON, missing oplog timestamp); document strings shred to
    row images; the key updated twice within ONE oplog second resolves
    on ord alone; pre-image deletes tombstone; never-updated snapshot
    keys survive at snapshot content."""
    from chunker_spark.cdc.envelopes import (
        MONGO_PACK_SHIFT,
        mongo_fixture_path,
        parse_mongo,
        split_malformed,
    )

    p1, p2 = mongo_fixture_path(), mongo_fixture_path()
    assert p1 == p2
    raw = spark.read.parquet(p1)
    clean, dlq = split_malformed(raw, parser=parse_mongo)
    assert dlq.count() == 4
    assert clean.count() == 20 + 12 + 12 + 2 + 1 + 2
    # src_table comes from source.collection (the routing column)
    assert clean.select("src_table").distinct().collect()[0][0] == "files"
    from pyspark.sql.window import Window

    w = Window.partitionBy("repo", "path").orderBy(F.col("seq").desc())
    final = {
        r.path: r
        for r in clean.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .collect()
    }
    assert len(final) == 20 - 2 + 1  # keys 1 and 6 tombstoned, key 40 inserted
    s0, s3 = 1709251200, 1709262000
    # same-oplog-second double update: ord 9 beats ord 3
    assert final["svc/m5.py"].commit == "v3b-5"
    assert final["svc/m5.py"].seq == (s3 << MONGO_PACK_SHIFT) + 9
    # the DLQ'd delete/update did NOT apply: keys 2 and 3 survive at v2
    assert final["svc/m2.py"].commit == "v2-2"
    assert final["svc/m3.py"].commit == "v2-3"
    # never-updated snapshot keys survive at snapshot content and seq
    for k in (12, 15, 19):
        assert final[f"svc/m{k}.py"].commit == f"snap-{k}"
        assert final[f"svc/m{k}.py"].seq == (s0 << MONGO_PACK_SHIFT) + k + 1
    assert final["svc/m40.py"].commit == "new-40"
    assert "svc/m1.py" not in final and "svc/m6.py" not in final


def test_streaming_mongo_wire_ingest(spark, tmp_path):
    """The Mongo wire path end-to-end through IngestStream: snapshot
    reads then change-stream updates (incl. a same-second repeated key
    resolved by ord and a pre-image delete) -> DLQ split -> exactly-once
    MERGE; redelivery no-ops."""
    import json as _json

    from chunker_spark.cdc import LakeTable
    from chunker_spark.cdc.streaming import IngestStream
    from chunker_spark.kernel import ChunkerParams

    def doc(path, content):
        return _json.dumps({"_id": f"r::{path}", "repo": "r", "path": path,
                            "commit": "c", "content": content})

    def mongo(op, path, content, sec, ord_):
        return _json.dumps({
            "op": op, "ts_ms": sec * 1000,
            "before": doc(path, content) if op == "d" else None,
            "after": None if op == "d" else doc(path, content),
            "source": {"rs": "rs0", "collection": "files",
                       "ts_ms": sec * 1000, "ord": ord_},
        })

    log_dir = tmp_path / "mongo-log"
    log_dir.mkdir()
    (log_dir / "seg-0.jsonl").write_text("\n".join([
        mongo("r", "a.py", "snap-a\n", 100, 1),
        mongo("r", "b.py", "snap-b\n", 100, 2),
        "mongo corrupt [[[",
    ]) + "\n")
    (log_dir / "seg-1.jsonl").write_text("\n".join([
        # same oplog second: ord 4 must win
        mongo("u", "a.py", "v1-early\n", 200, 1),
        mongo("u", "a.py", "v1-final\n", 200, 4),
        mongo("d", "b.py", "snap-b\n", 201, 1),
    ]) + "\n")

    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    params = ChunkerParams(average_bits=6, min_size=64, max_size=256)

    def run():
        IngestStream(spark, lake, str(log_dir), str(tmp_path / "ckpt"),
                     params=params, wire_format="mongo").run_available()

    run()
    state = {r.path: r.content for r in lake.read().collect()}
    assert state == {"a.py": "v1-final\n"}  # snapshot beaten, b.py tombstoned
    assert spark.read.parquet(f"{lake.root}/dlq").count() == 1
    n = len(lake.committed_batch_ids())
    run()  # redelivery: complete no-op
    assert len(lake.committed_batch_ids()) == n
    assert spark.read.parquet(f"{lake.root}/dlq").count() == 1


def test_goldengate_fixture_rotation_and_splits(spark):
    """The GoldenGate fixture: exactly the 4 contract DLQ shapes divert
    (malformed JSON, after-less update, before-less delete, non-20-digit
    pos); the truncate record drops without dead-lettering; the second
    update wave — next trail file, RBAs far below the first wave's —
    wins LWW only via the seqno bits of the packed position; a key
    updated twice within one trail file resolves on RBA alone;
    before-image deletes tombstone; never-updated snapshot keys survive
    at snapshot content."""
    from chunker_spark.cdc.envelopes import (
        GOLDENGATE_PACK_SHIFT,
        goldengate_fixture_path,
        parse_goldengate,
        split_malformed,
    )

    p1, p2 = goldengate_fixture_path(), goldengate_fixture_path()
    assert p1 == p2
    raw = spark.read.parquet(p1)
    clean, dlq = split_malformed(raw, parser=parse_goldengate)
    assert dlq.count() == 4
    assert clean.count() == 22 + 14 + 14 + 2 + 1 + 2
    # src_table carries the full three-part GoldenGate table name
    assert clean.select("src_table").distinct().collect()[0][0] == "ORCL.SRC.FILES"
    from pyspark.sql.window import Window

    w = Window.partitionBy("repo", "path").orderBy(F.col("seq").desc())
    final = {
        r.path: r
        for r in clean.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .collect()
    }
    assert len(final) == 22 - 2 + 1  # keys 2 and 9 tombstoned, key 40 inserted
    # rotation: v2 (trail 9, rba 100+) beat v1 (trail 8, rba 500000+)
    assert final["svc/g0.py"].commit == "v2-0"
    assert final["svc/g0.py"].seq == (9 << GOLDENGATE_PACK_SHIFT) + 100
    # within-trail double update: rba 7016 beats 7000
    assert final["svc/g5.py"].commit == "v3b-5"
    assert final["svc/g5.py"].seq == (9 << GOLDENGATE_PACK_SHIFT) + 7016
    # the DLQ'd update/delete did NOT apply: keys 3, 4 and 6 survive at v2
    for k in (3, 4, 6):
        assert final[f"svc/g{k}.py"].commit == f"v2-{k}"
    # never-updated snapshot keys survive at snapshot content and seq
    for k in (14, 17, 21):
        assert final[f"svc/g{k}.py"].commit == f"snap-{k}"
        assert final[f"svc/g{k}.py"].seq == (8 << GOLDENGATE_PACK_SHIFT) + 1000 + k * 16
    assert final["svc/g40.py"].commit == "new-40"
    assert "svc/g2.py" not in final and "svc/g9.py" not in final


def test_streaming_goldengate_wire_ingest(spark, tmp_path):
    """The GoldenGate wire path end-to-end through IngestStream: trail-8
    snapshot then a trail rotation whose updates carry SMALLER RBAs (the
    packed seq must still prefer them) plus a before-image delete -> DLQ
    split -> exactly-once MERGE; redelivery no-ops."""
    import json as _json

    from chunker_spark.cdc import LakeTable
    from chunker_spark.cdc.streaming import IngestStream
    from chunker_spark.kernel import ChunkerParams

    def gg(op, path, content, seqno, rba):
        img = {"repo": "r", "path": path, "commit": "c", "content": content}
        body = {
            "table": "ORCL.SRC.FILES", "op_type": op,
            "op_ts": "2024-03-01 00:00:00.000000",
            "pos": f"{seqno:010d}{rba:010d}",
            "primary_keys": ["repo", "path"],
        }
        if op == "D":
            body["before"] = img
        else:
            body["after"] = img
        return _json.dumps(body)

    log_dir = tmp_path / "gg-log"
    log_dir.mkdir()
    (log_dir / "seg-0.jsonl").write_text("\n".join([
        gg("I", "a.py", "snap-a\n", 8, 900000),
        gg("I", "b.py", "snap-b\n", 8, 900016),
        "gg corrupt [[[",
    ]) + "\n")
    (log_dir / "seg-1.jsonl").write_text("\n".join([
        # rotation: trail 9 at a LOWER rba must beat trail 8's snapshot
        gg("U", "a.py", "v1-final\n", 9, 64),
        gg("D", "b.py", "snap-b\n", 9, 128),
    ]) + "\n")

    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    params = ChunkerParams(average_bits=6, min_size=64, max_size=256)

    def run():
        IngestStream(spark, lake, str(log_dir), str(tmp_path / "ckpt"),
                     params=params, wire_format="goldengate").run_available()

    run()
    state = {r.path: r.content for r in lake.read().collect()}
    assert state == {"a.py": "v1-final\n"}  # rotation respected, b.py tombstoned
    assert spark.read.parquet(f"{lake.root}/dlq").count() == 1
    n = len(lake.committed_batch_ids())
    run()  # redelivery: complete no-op
    assert len(lake.committed_batch_ids()) == n
    assert spark.read.parquet(f"{lake.root}/dlq").count() == 1


def test_txn_gate_holds_torn_transaction_and_releases_on_commit(spark, tmp_path):
    """TxnGate over the txn fixture cut into three micro-batches: a
    transaction cut mid-way releases NOTHING until the batch that
    carries its commit line (then releases with original seqs), a
    fully-contained txn releases in its own batch, an xid-less event
    passes straight through — and redelivering a batch reproduces the
    identical release set from the versioned pending snapshots."""
    from chunker_spark.cdc.envelopes import (
        parse_wal2json,
        wal2json_commits,
        wal2json_txn_fixture_path,
    )
    from chunker_spark.cdc.txn import TxnGate

    raw = spark.read.parquet(wal2json_txn_fixture_path())
    gate = TxnGate(spark, str(tmp_path / "txn-state"))
    cuts = [(0, 6), (6, 9), (9, 12)]

    def run(b):
        lo, hi = cuts[b]
        part = raw.where((F.col("line_no") >= lo) & (F.col("line_no") < hi))
        rel = gate.gate(parse_wal2json(part, with_txn=True), wal2json_commits(part), b)
        return sorted((r.commit, r.txn_id) for r in rel.collect())

    # batch 0: txn 700 complete -> its 2 inserts; txn 701 torn -> held
    assert run(0) == [("t700-0", 700), ("t700-1", 700)]
    # batch 1: 701's carried-over first update + its second + the
    # xid-less pass-through
    r1 = run(1)
    assert r1 == [("solo-3", None), ("t701-0", 701), ("t701-1", 701)]
    # pending after batch 1 is empty
    assert gate.pending(batch_id=2).count() == 0
    # redelivery of batch 1 (crash between snapshot and lake commit):
    # identical release set, recomputed from snapshot v=0
    assert run(1) == r1
    # batch 2: txn 702 releases alone
    assert run(2) == [("t702-2", 702)]


def test_streaming_txn_atomic_ingest(spark, tmp_path):
    """txn_atomic end-to-end through IngestStream: a segment ending
    mid-transaction must NOT expose the torn update in the lake; the
    next segment's commit line releases it (original seq, LWW intact);
    an ungated run of the same log reaches the same final state."""
    import json as _json

    from chunker_spark.cdc import LakeTable
    from chunker_spark.cdc.streaming import IngestStream
    from chunker_spark.kernel import ChunkerParams

    lo = [0]

    def line(action, xid, path=None, content=None):
        lo[0] += 16
        body = {"action": action, "xid": xid, "lsn": f"7/{lo[0]:X}",
                "timestamp": "2023-11-14 16:00:00.000000+00:00"}
        if action in ("I", "U"):
            body["schema"] = "public"
            body["table"] = "files"
            body["columns"] = [
                {"name": "repo", "type": "text", "value": "r"},
                {"name": "path", "type": "text", "value": path},
                {"name": "commit", "type": "text", "value": "c"},
                {"name": "content", "type": "text", "value": content},
            ]
        return _json.dumps(body)

    log_dir = tmp_path / "txn-log"
    log_dir.mkdir()
    seg0 = "\n".join([
        line("B", 20),
        line("I", 20, "a.py", "base-a\n"),
        line("I", 20, "b.py", "base-b\n"),
        line("C", 20),
        line("B", 21),
        line("U", 21, "a.py", "torn-a\n"),
        # segment ends MID-transaction 21
    ]) + "\n"
    seg1 = "\n".join([
        line("U", 21, "b.py", "torn-b\n"),
        line("C", 21),
    ]) + "\n"
    (log_dir / "seg-0.jsonl").write_text(seg0)

    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    params = ChunkerParams(average_bits=6, min_size=64, max_size=256)
    stream = IngestStream(spark, lake, str(log_dir), str(tmp_path / "ckpt"),
                          params=params, wire_format="wal2json", txn_atomic=True)
    stream.run_available()
    # the torn update is NOT visible: both files still at base content
    state = {r.path: r.content for r in lake.read().collect()}
    assert state == {"a.py": "base-a\n", "b.py": "base-b\n"}

    (log_dir / "seg-1.jsonl").write_text(seg1)
    stream.run_available()
    state = {r.path: r.content for r in lake.read().collect()}
    assert state == {"a.py": "torn-a\n", "b.py": "torn-b\n"}

    # an UNGATED run over the full log converges to the same state
    lake2 = LakeTable(spark, str(tmp_path / "lake2"), num_buckets=2)
    IngestStream(spark, lake2, str(log_dir), str(tmp_path / "ckpt2"),
                 params=params, wire_format="wal2json").run_available()
    state2 = {r.path: r.content for r in lake2.read().collect()}
    assert state2 == state

    # txn_atomic demands the framing dialect
    import pytest as _pytest
    with _pytest.raises(ValueError, match="txn_atomic"):
        IngestStream(spark, lake, str(log_dir), str(tmp_path / "ckpt3"),
                     params=params, wire_format="debezium", txn_atomic=True)


def test_wal2json_old_keys_feed_rename_split(spark):
    """End-to-end rename over the real wire: wal2json U envelopes carry
    the OLD primary key in ``identity`` (REPLICA IDENTITY DEFAULT);
    with_old_keys=True surfaces it as old_repo/old_path, and
    split_key_changes turns the rename into tombstone(old)+upsert(new)
    so the final state has no phantom row at the old path."""
    import json as _json

    from chunker_spark.cdc.dblog import resolve_final_state
    from chunker_spark.cdc.envelopes import parse_wal2json
    from chunker_spark.cdc.keychange import split_key_changes

    def u(lsn, cols, ident):
        return _json.dumps({
            "action": "U", "lsn": lsn, "table": "files",
            "columns": [{"name": k, "value": v} for k, v in cols.items()],
            "identity": [{"name": k, "value": v} for k, v in ident.items()],
        })

    lines = [
        _json.dumps({
            "action": "I", "lsn": "0/10", "table": "files",
            "columns": [{"name": "repo", "value": "r"},
                        {"name": "path", "value": "a.py"},
                        {"name": "content", "value": "v1"}],
        }),
        # plain update: identity == new key, must NOT split
        u("0/20", {"repo": "r", "path": "a.py", "content": "v2"},
          {"repo": "r", "path": "a.py"}),
        # rename a.py -> b.py: identity carries the old key
        u("0/30", {"repo": "r", "path": "b.py", "content": "v2"},
          {"repo": "r", "path": "a.py"}),
    ]
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    events = parse_wal2json(raw, with_old_keys=True)
    split = split_key_changes(
        events.select("repo", "path", "old_repo", "old_path", "seq", "op", "content"),
        ["repo", "path"],
    )
    final = {
        (r["repo"], r["path"]): r["content"]
        for r in resolve_final_state(split, ["repo", "path"], out_seq_col="seq").collect()
    }
    assert final == {("r", "b.py"): "v2"}  # no phantom a.py

    # without the split, the phantom row survives — the trap is real
    naive = {
        (r["repo"], r["path"])
        for r in resolve_final_state(
            events.withColumn("out_seq", events["seq"]), ["repo", "path"],
            out_seq_col="out_seq",
        ).collect()
    }
    assert ("r", "a.py") in naive


def test_streaming_rename_split_through_ingest(spark, tmp_path):
    """The full production wiring for renames over the wal2json wire:
    parser_kwargs={'with_old_keys': True} surfaces the identity
    old-image, event_transform=split_key_changes rewrites the rename
    into tombstone+upsert INSIDE the micro-batch, and the lake's final
    state has no phantom row at the old path — exactly-once semantics
    (ledger no-op on redelivery) unchanged."""
    import json as _json

    from pyspark.sql import functions as F

    from chunker_spark.cdc import LakeTable
    from chunker_spark.cdc.keychange import split_key_changes
    from chunker_spark.cdc.streaming import IngestStream
    from chunker_spark.kernel import ChunkerParams

    def wj(action, lsn, path, content=None, old_path=None):
        body = {"action": action, "lsn": lsn, "table": "files"}
        cols = [{"name": "repo", "value": "r"},
                {"name": "path", "value": path},
                {"name": "commit", "value": lsn},
                {"name": "content", "value": content}]
        if action == "D":
            body["identity"] = [{"name": "repo", "value": "r"},
                                {"name": "path", "value": path}]
        else:
            body["columns"] = cols
        if action == "U":
            body["identity"] = [{"name": "repo", "value": "r"},
                                {"name": "path", "value": old_path or path}]
        return _json.dumps(body)

    log_dir = tmp_path / "wj-log"
    log_dir.mkdir()
    (log_dir / "seg-0.jsonl").write_text("\n".join([
        wj("I", "0/100", "a.sql", "va\n"),
        wj("I", "0/200", "keep.sql", "vk\n"),
    ]) + "\n")
    (log_dir / "seg-1.jsonl").write_text("\n".join([
        # rename a.sql -> b.sql, then an ordinary in-place update
        wj("U", "1/100", "b.sql", "va\n", old_path="a.sql"),
        wj("U", "1/200", "keep.sql", "vk2\n", old_path="keep.sql"),
    ]) + "\n")

    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    params = ChunkerParams(average_bits=6, min_size=64, max_size=256)

    def run():
        IngestStream(
            spark, lake, str(log_dir), str(tmp_path / "ckpt"), params=params,
            wire_format="wal2json",
            parser_kwargs={"with_old_keys": True},
            event_transform=lambda df: split_key_changes(
                df, ["repo", "path"], delete_op="D"
            ),
        ).run_available()

    run()
    state = {r.path: r.content for r in lake.read().collect()}
    assert state == {"b.sql": "va\n", "keep.sql": "vk2\n"}  # no phantom a.sql
    n = len(lake.committed_batch_ids())
    run()  # redelivery: ledger no-op
    assert len(lake.committed_batch_ids()) == n

    # parser_kwargs without a wire format is a loud config error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="parser_kwargs requires wire_format"):
        IngestStream(spark, lake, str(log_dir), str(tmp_path / "ckpt2"),
                     params=params, parser_kwargs={"with_old_keys": True})


def test_maxwell_and_canal_old_keys_for_rename_split(spark):
    """Old-image surfacing parity across the MySQL dialects: Maxwell's
    `old` object and Canal's `old` array (parallel to `data`, per
    exploded row) both land as old_repo/old_path on U rows — partial
    (changed-columns-only) images included — and feed the same
    split_key_changes -> resolve pipeline."""
    import json as _json

    from chunker_spark.cdc.dblog import resolve_final_state
    from chunker_spark.cdc.envelopes import parse_canal, parse_maxwell
    from chunker_spark.cdc.keychange import split_key_changes

    def resolve(events):
        split = split_key_changes(
            events.select("repo", "path", "old_repo", "old_path", "seq", "op", "content"),
            ["repo", "path"],
        )
        return {
            (r["repo"], r["path"]): r["content"]
            for r in resolve_final_state(split, ["repo", "path"], out_seq_col="seq").collect()
        }

    # Maxwell: old carries only the CHANGED columns (path here)
    mx = [
        _json.dumps({"type": "insert", "ts": 1, "position": "mysql-bin.000001:10",
                     "table": "files",
                     "data": {"repo": "r", "path": "a.py", "content": "v1"}}),
        _json.dumps({"type": "update", "ts": 2, "position": "mysql-bin.000001:20",
                     "table": "files",
                     "data": {"repo": "r", "path": "b.py", "content": "v1"},
                     "old": {"path": "a.py"}}),
        _json.dumps({"type": "update", "ts": 3, "position": "mysql-bin.000001:30",
                     "table": "files",
                     "data": {"repo": "r", "path": "b.py", "content": "v2"},
                     "old": {"content": "v1"}}),  # content-only old: no split
    ]
    events = parse_maxwell(
        spark.createDataFrame([(l,) for l in mx], "value string"),
        with_old_keys=True,
    )
    assert resolve(events) == {("r", "b.py"): "v2"}

    # Canal: one multi-row UPDATE message; row 0 renames, row 1 doesn't
    cn = [
        _json.dumps({"id": 1, "database": "d", "table": "files", "type": "INSERT",
                     "isDdl": False, "es": 1000, "ts": 1100,
                     "data": [{"repo": "r", "path": "a.py", "content": "v1"},
                              {"repo": "r", "path": "k.py", "content": "vk"}],
                     "old": None}),
        _json.dumps({"id": 2, "database": "d", "table": "files", "type": "UPDATE",
                     "isDdl": False, "es": 2000, "ts": 2100,
                     "data": [{"repo": "r", "path": "b.py", "content": "v1"},
                              {"repo": "r", "path": "k.py", "content": "vk2"}],
                     "old": [{"path": "a.py"}, {"content": "vk"}]}),
    ]
    events = parse_canal(
        spark.createDataFrame([(l,) for l in cn], "value string"),
        with_old_keys=True,
    )
    assert resolve(events) == {("r", "b.py"): "v1", ("r", "k.py"): "vk2"}


def test_goldengate_old_keys_for_rename_split(spark):
    """GoldenGate U rows carry the FULL before image; with_old_keys
    surfaces its repo/path and the rename splits like every other
    old-image dialect."""
    import json as _json

    from chunker_spark.cdc.dblog import resolve_final_state
    from chunker_spark.cdc.envelopes import parse_goldengate
    from chunker_spark.cdc.keychange import split_key_changes

    def gg(op, pos, after=None, before=None):
        return _json.dumps({
            "table": "S.FILES", "op_type": op,
            "op_ts": "2024-03-01 00:00:00.000000",
            "pos": pos, **({"after": after} if after else {}),
            **({"before": before} if before else {}),
        })

    lines = [
        gg("I", "00000000080000001000",
           after={"repo": "r", "path": "a.py", "content": "v1"}),
        gg("U", "00000000080000002000",
           after={"repo": "r", "path": "b.py", "content": "v1"},
           before={"repo": "r", "path": "a.py", "content": "v1"}),
    ]
    events = parse_goldengate(
        spark.createDataFrame([(l,) for l in lines], "value string"),
        with_old_keys=True,
    )
    split = split_key_changes(
        events.select("repo", "path", "old_repo", "old_path", "seq", "op", "content"),
        ["repo", "path"],
    )
    final = {
        (r["repo"], r["path"]): r["content"]
        for r in resolve_final_state(split, ["repo", "path"], out_seq_col="seq").collect()
    }
    assert final == {("r", "b.py"): "v1"}


def test_debezium_old_keys_for_rename_split(spark):
    """Debezium defensive parity: producers that do NOT split
    PK-changing updates (non-default) still resolve correctly when the
    update before-image is surfaced and split consumer-side."""
    import json as _json

    from chunker_spark.cdc.dblog import resolve_final_state
    from chunker_spark.cdc.envelopes import parse_debezium
    from chunker_spark.cdc.keychange import split_key_changes

    def dbz(op, lsn, after=None, before=None):
        return _json.dumps({
            "op": op, "ts_ms": 1700000000000 + lsn,
            "before": before, "after": after,
            "source": {"lsn": str(lsn), "db": "d", "table": "files"},
        })

    lines = [
        dbz("c", 1, after={"repo": "r", "path": "a.py", "content": "v1"}),
        dbz("u", 2, after={"repo": "r", "path": "b.py", "content": "v1"},
            before={"repo": "r", "path": "a.py", "content": "v1"}),
    ]
    events = parse_debezium(
        spark.createDataFrame([(l,) for l in lines], "value string"),
        with_old_keys=True,
    )
    split = split_key_changes(
        events.select("repo", "path", "old_repo", "old_path", "seq", "op", "content"),
        ["repo", "path"],
    )
    final = {
        (r["repo"], r["path"]): r["content"]
        for r in resolve_final_state(split, ["repo", "path"], out_seq_col="seq").collect()
    }
    assert final == {("r", "b.py"): "v1"}


def test_parser_kwargs_validated_at_construction(spark, tmp_path):
    """Unknown parser kwargs fail at IngestStream construction with the
    accepted-parameter list — not as a TypeError inside the first
    micro-batch."""
    import pytest as _pytest

    from chunker_spark.cdc import LakeTable
    from chunker_spark.cdc.streaming import IngestStream

    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    with _pytest.raises(ValueError, match="not accepted by the 'dms' parser"):
        IngestStream(spark, lake, str(tmp_path), str(tmp_path / "ckpt"),
                     wire_format="dms", parser_kwargs={"with_old_keys": True})


def test_parser_plans_survive_session_recreation():
    """Cached parser plans are keyed to the py4j gateway: a session
    stopped and re-created in the same process, with a new gateway and
    JVM, parses Debezium again instead of reusing Column refs into the
    JVM that is gone."""
    import os
    import subprocess
    import sys

    code = (
        "import json\n"
        "from pyspark import SparkContext\n"
        "from pyspark.sql import SparkSession\n"
        "from chunker_spark.cdc.envelopes import parse_debezium\n"
        "env = json.dumps({'op': 'c', 'ts_ms': 1, 'before': None, 'source': {'lsn': '5'},\n"
        "                  'after': {'repo': 'r', 'path': 'p', 'content': 'x'}})\n"
        "def parse():\n"
        "    s = (SparkSession.builder.master('local[1]')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "    rows = parse_debezium(s.createDataFrame([(env,)], 'value string'))\n"
        "    got = [(e.repo, e.path, e.seq, e.op) for e in rows.collect()]\n"
        "    s.stop()\n"
        "    return got\n"
        "first = parse()\n"
        "SparkContext._gateway.shutdown()\n"
        "SparkContext._gateway = SparkContext._jvm = None\n"
        "assert parse() == first == [('r', 'p', 5, 'I')], first\n"
        "print('ok')\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, timeout=300
    )
    assert r.returncode == 0 and r.stdout.strip().endswith("ok"), r.stderr[-2000:]
