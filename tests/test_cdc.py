"""T4 + T5: replay equivalence vs the single-threaded oracle (including
schema evolution) and exactly-once resume-after-kill (SURVEY.md §5.2)."""

import glob

import pandas as pd
import pytest
from pyspark.sql import functions as F

from chunker_spark.cdc import (
    EVENT_SCHEMA,
    GenSpec,
    IngestStream,
    LakeTable,
    apply_batch,
    gen_events_local,
    normalize_events,
    replay,
    state_digest,
    state_rows,
    write_segments,
)
from chunker_spark.kernel import ChunkerParams

PARAMS = ChunkerParams(average_bits=9, min_size=256, max_size=4096)
SPEC = GenSpec(
    seed=42,
    n_keys=60,
    mean_blocks=4,
    schema_ver_plan=((150, 2), (300, 3)),  # +branch at seq 150, rename at 300
)
N_EVENTS = 450

COMPARE_COLS = ["repo", "path", "commit", "language", "branch", "content_sha256"]


def _events_df(spark, events):
    pdf = pd.DataFrame(events)[[f.name for f in EVENT_SCHEMA.fields]]
    return spark.createDataFrame(pdf, EVENT_SCHEMA)


def _assert_state_equals_oracle(spark, lake, events):
    got = lake.read().select(*COMPARE_COLS)
    exp_rows = state_rows(replay(events))
    exp = spark.createDataFrame(pd.DataFrame(exp_rows)[COMPARE_COLS])
    # set equality both directions (T4 contract)
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
    assert got.count() == len(exp_rows)
    return exp_rows


def test_batch_replay_equivalence(spark, tmp_path):
    """Apply the full stream as 3 batches; final state == oracle,
    including column-add and rename mid-stream."""
    events = list(gen_events_local(SPEC, N_EVENTS))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=8)
    for i, lo in enumerate(range(0, N_EVENTS, 150)):
        commit = apply_batch(lake, _events_df(spark, events[lo : lo + 150]), f"b{i}", params=PARAMS)
        assert commit is not None
    rows = _assert_state_equals_oracle(spark, lake, events)
    # manifests exist and tile content for surviving rows
    bad = (
        lake.read()
        .where(F.col("content").isNotNull())
        .where(F.aggregate(F.col("manifest"), F.lit(0).cast("long"), lambda a, c: a + c["length"]) != F.col("size"))
        .count()
    )
    assert bad == 0
    assert state_digest(rows)  # digest is computable and stable


def test_batch_idempotent_replay(spark, tmp_path):
    """Re-delivering a committed batch is a no-op (exactly-once)."""
    events = list(gen_events_local(SPEC, 120))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    df = _events_df(spark, events)
    assert apply_batch(lake, df, "batch-0", params=PARAMS) is not None
    before = sorted(r["commit"] for r in lake.read().select("commit").collect())
    assert apply_batch(lake, df, "batch-0", params=PARAMS) is None  # replay
    after = sorted(r["commit"] for r in lake.read().select("commit").collect())
    assert before == after
    assert len(lake._commit_files()) == 1


def test_last_writer_wins_within_batch(spark, tmp_path):
    """Multiple updates to one key inside a batch → max-seq row wins."""
    ev = list(gen_events_local(GenSpec(seed=1, n_keys=2, mean_blocks=2), 10))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    apply_batch(lake, _events_df(spark, ev), "b0", params=PARAMS)
    _assert_state_equals_oracle(spark, lake, ev)


def test_streaming_replay_and_metrics(spark, tmp_path):
    """Stream the segmented log end-to-end; state == oracle; lineage
    metrics rows recorded per (batch, bucket)."""
    events = list(gen_events_local(SPEC, N_EVENTS))
    seg_dir = str(tmp_path / "segments")
    write_segments(spark, SPEC, N_EVENTS, seg_dir, n_segments=5)
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=8)
    stream = IngestStream(
        spark, lake, seg_dir, str(tmp_path / "ckpt"), params=PARAMS, max_files_per_trigger=2,
        expire_every=2, expire_keep_last=2,  # amortized snapshot expiry in-stream
    )
    stream.run_available()
    _assert_state_equals_oracle(spark, lake, events)
    assert len(lake._commit_files()) <= 2 + 1  # expiry ran; ledger intact
    assert len(lake.committed_batch_ids()) == 3
    metrics = spark.read.parquet(f"{lake.root}/metrics")
    assert metrics.count() > 0
    assert metrics.where(F.col("upsert_chunks") <= 0).count() == 0
    # chunk reuse observed: updates share chunks with prior versions
    assert metrics.select(F.sum("reused_chunks")).collect()[0][0] > 0


def test_streaming_resume_after_kill(spark, tmp_path):
    """Crash injected after the lake commit of batch 2 but before the
    checkpoint records it — the worst case. Restart must re-deliver
    that batch, the idempotency gate must no-op it, and the final
    state must equal an uninterrupted run's."""
    events = list(gen_events_local(SPEC, N_EVENTS))
    seg_dir = str(tmp_path / "segments")
    write_segments(spark, SPEC, N_EVENTS, seg_dir, n_segments=6)
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=8)
    ckpt = str(tmp_path / "ckpt")

    crashing = IngestStream(
        spark, lake, seg_dir, ckpt, params=PARAMS, max_files_per_trigger=1, fail_after_batches=2
    )
    with pytest.raises(Exception):
        crashing.run_available()
    committed_mid = len(lake._commit_files())
    assert committed_mid >= 1

    # restart from the same checkpoint: finishes the log losslessly
    resumed = IngestStream(spark, lake, seg_dir, ckpt, params=PARAMS, max_files_per_trigger=1)
    resumed.run_available()
    _assert_state_equals_oracle(spark, lake, events)
    # every lake commit has a distinct batch_id: nothing applied twice
    import json

    ids = [
        json.load(open(p))["batch_id"]
        for p in sorted(glob.glob(f"{lake.root}/meta/commit-*.json"))
    ]
    assert len(ids) == len(set(ids))
    assert len(ids) == 6  # one commit per segment batch, no duplicates


def test_resume_survives_parallelism_and_trigger_change(spark, tmp_path):
    """Resume from the same checkpoint on a DIFFERENT cluster shape:
    shuffle parallelism doubled and the trigger re-cut (1 file/batch →
    3 files/batch). The north-star deployment resizes between N and 4N
    executors; nothing in the checkpoint, ledger, or lake layout may
    depend on the old partitioning or the old batch boundaries. The
    in-flight batch is re-delivered at its ORIGINAL offsets (Spark
    replays the uncommitted epoch as recorded), so the idempotency gate
    no-ops it; the remaining log re-cuts under the new trigger size."""
    events = list(gen_events_local(SPEC, N_EVENTS))
    seg_dir = str(tmp_path / "segments")
    write_segments(spark, SPEC, N_EVENTS, seg_dir, n_segments=6)
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=8)
    ckpt = str(tmp_path / "ckpt")

    crashing = IngestStream(
        spark, lake, seg_dir, ckpt, params=PARAMS, max_files_per_trigger=1, fail_after_batches=2
    )
    with pytest.raises(Exception):
        crashing.run_available()
    assert len(lake._commit_files()) >= 1

    old_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(int(old_shuffle) * 2))
    try:
        resumed = IngestStream(
            spark, lake, seg_dir, ckpt, params=PARAMS, max_files_per_trigger=3
        )
        resumed.run_available()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_shuffle)
    _assert_state_equals_oracle(spark, lake, events)
    import json

    ids = [
        json.load(open(p))["batch_id"]
        for p in sorted(glob.glob(f"{lake.root}/meta/commit-*.json"))
    ]
    assert len(ids) == len(set(ids))  # nothing applied twice
    # fewer commits than the 6 a 1-file/batch run makes: the tail of the
    # log really was re-cut under the larger trigger, not replayed 1:1
    assert len(ids) < 6


def test_continuous_trigger_soak(spark, tmp_path):
    """Long-lived tail soak: >=50 micro-batches on a processing-time
    trigger with in-stream expiry. Asserts the unbounded-growth
    surfaces stay bounded — commit-JSON size, meta-dir file count,
    per-bucket data-file count, checkpoint bytes — and that the final
    state equals both the single-threaded replay oracle and a fresh
    AvailableNow (backfill-mode) run over the same log: the two trigger
    modes are interchangeable on a shared checkpoint contract."""
    import json as _json
    import os

    n_ev = 300
    spec = GenSpec(seed=7, n_keys=40, mean_blocks=2)
    events = list(gen_events_local(spec, n_ev))
    seg_dir = str(tmp_path / "segments")
    write_segments(spark, spec, n_ev, seg_dir, n_segments=50)
    small = ChunkerParams(average_bits=6, min_size=64, max_size=512)

    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    stream = IngestStream(
        spark, lake, seg_dir, str(tmp_path / "ckpt"), params=small,
        max_files_per_trigger=1, expire_every=10, expire_keep_last=4,
    )
    run = stream.run_processing_time(
        interval="100 milliseconds", min_batches=50, idle_for_s=1.5, max_runtime_s=480
    )
    assert run["drained"] and run["batches"] >= 50  # deadline undershoot is detectable
    assert stream.batches_seen >= 50

    # bounded growth: commit JSONs stay small, expiry caps the meta dir,
    # compaction caps per-bucket read amplification
    commit_paths = glob.glob(f"{lake.root}/meta/commit-*.json")
    assert max(os.path.getsize(p) for p in commit_paths) < 64_000
    assert len(commit_paths) <= 4 + 10  # expire_keep_last + one expire_every window
    commit = lake.current_commit()
    assert all(len(fl) <= lake.compact_threshold + 1 for fl in commit["files"].values())
    assert len(lake.committed_batch_ids()) == 50  # full ledger survives expiry
    ck_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _dn, fs in os.walk(str(tmp_path / "ckpt"))
        for f in fs
    )
    assert ck_bytes < 2_000_000  # offset WAL + file-source log, not data

    # equality: soak state == oracle == AvailableNow backfill state
    _assert_state_equals_oracle(spark, lake, events)
    lake2 = LakeTable(spark, str(tmp_path / "lake2"), num_buckets=2)
    IngestStream(
        spark, lake2, seg_dir, str(tmp_path / "ckpt2"), params=small
    ).run_available()
    _assert_state_equals_oracle(spark, lake2, events)


def test_schema_normalization(spark):
    """Canonical projection: v1 rows get branch='main' and language
    from `lang`; v3 rows read `language` directly."""
    events = [
        dict(seq=0, ts=pd.Timestamp("2026-01-01", tz="UTC"), op="I", repo="r", path="p1",
             commit="c1", lang="py", language=None, branch=None, content="x", schema_ver=1),
        dict(seq=1, ts=pd.Timestamp("2026-01-01", tz="UTC"), op="I", repo="r", path="p2",
             commit="c2", lang="go", language=None, branch="dev", content="y", schema_ver=2),
        dict(seq=2, ts=pd.Timestamp("2026-01-01", tz="UTC"), op="I", repo="r", path="p3",
             commit="c3", lang=None, language="rs", branch="main", content="z", schema_ver=3),
    ]
    df = normalize_events(_events_df(spark, events))
    got = {r["path"]: (r["language"], r["branch"]) for r in df.collect()}
    assert got == {"p1": ("py", "main"), "p2": ("go", "dev"), "p3": ("rs", "main")}


def test_out_of_order_batches(spark, tmp_path):
    """Merge-on-read resolves by seq, so batches applied out of order
    (late segment replay, multi-source races) still converge to the
    oracle state — including deletes arriving 'before' older upserts."""
    events = list(gen_events_local(SPEC, 300))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    slices = [events[200:300], events[0:100], events[100:200]]  # shuffled order
    for i, sl in enumerate(slices):
        assert apply_batch(lake, _events_df(spark, sl), f"ooo-{i}", params=PARAMS) is not None
    _assert_state_equals_oracle(spark, lake, events)


def test_compaction_bounds_files_and_preserves_state(spark, tmp_path):
    """Many small batches trigger compaction; per-bucket file counts
    stay bounded and the resolved state is unchanged."""
    import json

    events = list(gen_events_local(SPEC, 400))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2, compact_threshold=3)
    for i, lo in enumerate(range(0, 400, 50)):
        apply_batch(lake, _events_df(spark, events[lo : lo + 50]), f"c{i}", params=PARAMS)
    commit = lake.current_commit()
    assert any("compact" in json.load(open(f"{lake.root}/meta/{f}"))["kind"]
               for f in lake._commit_files())
    assert all(len(fl) <= 3 + 1 for fl in commit["files"].values())
    _assert_state_equals_oracle(spark, lake, events)


def test_lww_strategy_auto_selection(spark, tmp_path):
    """The LWW strategy cutover is wired: a batch whose estimated rows
    exceed the threshold takes the single-shuffle max_by path, a small
    batch takes the broadcast-winners path — and both converge to the
    same oracle state."""
    events = list(gen_events_local(SPEC, 120))
    lake_a = LakeTable(spark, str(tmp_path / "lake_a"), num_buckets=4)
    c1 = apply_batch(lake_a, _events_df(spark, events), "b0", params=PARAMS,
                     broadcast_threshold=0)  # force: everything over threshold
    assert c1["stats"]["lww_strategy"] == "shuffle"
    _assert_state_equals_oracle(spark, lake_a, events)

    lake_b = LakeTable(spark, str(tmp_path / "lake_b"), num_buckets=4)
    c2 = apply_batch(lake_b, _events_df(spark, events), "b0", params=PARAMS,
                     broadcast_threshold=1 << 40)
    assert c2["stats"]["lww_strategy"] == "broadcast"
    _assert_state_equals_oracle(spark, lake_b, events)


def test_batch_id_ledger_is_o1(spark, tmp_path):
    """committed_batch_ids comes from the latest commit's ledger (O(1)
    file reads per batch), carries every id, and still gates replays."""
    events = list(gen_events_local(SPEC, 150))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    for i, lo in enumerate(range(0, 150, 50)):
        apply_batch(lake, _events_df(spark, events[lo : lo + 50]), f"L{i}", params=PARAMS)
    assert lake.current_commit()["batch_ids"] == ["L0", "L1", "L2"]
    assert lake.committed_batch_ids() == {"L0", "L1", "L2"}
    # replay of an OLD batch (not just the latest) is still a no-op
    assert apply_batch(lake, _events_df(spark, events[0:50]), "L0", params=PARAMS) is None


def test_ledger_spills_to_side_chunks(spark, tmp_path):
    """Past ledger_spill_threshold the in-commit batch-id tail spills to
    immutable meta/ledger-*.json chunks: the commit JSON stays
    O(threshold) at any batch count, every id (spilled or tail) still
    gates replays, and a cold LakeTable instance (empty chunk cache)
    resolves the full set."""
    events = list(gen_events_local(SPEC, 100))
    lake = LakeTable(
        spark, str(tmp_path / "lake"), num_buckets=2, ledger_spill_threshold=4
    )
    for i in range(10):
        lo = (i * 10) % 100
        apply_batch(lake, _events_df(spark, events[lo : lo + 10]), f"S{i}", params=PARAMS)
    commit = lake.current_commit()
    assert len(commit["batch_ids"]) <= 4  # bounded tail
    assert commit["ledger_files"]  # at least one spill happened
    assert lake.committed_batch_ids() == {f"S{i}" for i in range(10)}
    # replay of a SPILLED batch id is still a no-op
    assert apply_batch(lake, _events_df(spark, events[0:10]), "S0", params=PARAMS) is None
    # a cold instance (no warm chunk cache) sees the same ledger
    cold = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    assert cold.committed_batch_ids() == {f"S{i}" for i in range(10)}


def test_ledger_scale_100k_batches(spark, tmp_path):
    """10⁵-batch regime, synthesized without running 10⁵ Spark commits:
    a fabricated commit carrying 100k tail ids must spill on the next
    real append, leaving the new commit JSON small (tail reset), with
    all 100k ids + the new one still replay-gating."""
    import json as _json
    import os as _os

    events = list(gen_events_local(SPEC, 20))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    apply_batch(lake, _events_df(spark, events[:10]), "base", params=PARAMS)
    # fabricate a huge tail on the latest commit (simulating 10^5
    # pre-spill batches accumulated by an older engine version)
    commit = lake.current_commit()
    commit["batch_ids"] = sorted({f"H{i:06d}" for i in range(100_000)} | {"base"})
    commit["commit_seq"] += 1
    lake._write_commit(commit)

    big = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    apply_batch(big, _events_df(spark, events[10:20]), "after", params=PARAMS)
    latest = big.current_commit()
    assert latest["batch_ids"] == []  # spilled: tail reset
    assert len(latest["ledger_files"]) == 1
    size = _os.path.getsize(
        f"{big.root}/meta/commit-{latest['commit_seq']:012d}.json"
    )
    with open(f"{big.root}/meta/{latest['ledger_files'][0]}") as f:
        assert len(_json.load(f)["batch_ids"]) == 100_002
    assert size < 100_000  # commit JSON no longer carries the 100k ledger
    ids = big.committed_batch_ids()
    assert len(ids) == 100_002 and "H054321" in ids and "after" in ids
    assert apply_batch(big, _events_df(spark, events[:10]), "H054321", params=PARAMS) is None


def test_lake_rejects_uri_root(spark, tmp_path, monkeypatch):
    """The commit log publishes through os.listdir / open / os.rename,
    so a URI root fails at construction instead of silently becoming a
    local ``s3:/...`` directory that breaks at the first commit."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="POSIX path"):
        LakeTable(spark, "s3://b/lake")
    assert not (tmp_path / "s3:").exists()


def test_time_travel_read(spark, tmp_path):
    """read(at=commit_seq) reproduces the state as of that commit —
    applying batch 2 must not change what commit 0 shows (Iceberg
    snapshot-read parity on the built-in lake)."""
    events = list(gen_events_local(SPEC, 200))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    apply_batch(lake, _events_df(spark, events[:100]), "t0", params=PARAMS)
    at0 = {(r["repo"], r["path"], r["commit"]) for r in
           lake.read().select("repo", "path", "commit").collect()}
    apply_batch(lake, _events_df(spark, events[100:200]), "t1", params=PARAMS)
    # historical read sees exactly the batch-0 state; current sees both
    back = {(r["repo"], r["path"], r["commit"]) for r in
            lake.read(at=0).select("repo", "path", "commit").collect()}
    assert back == at0
    exp = {(r["repo"], r["path"], r["commit"]) for r in state_rows(replay(events))}
    now = {(r["repo"], r["path"], r["commit"]) for r in
           lake.read().select("repo", "path", "commit").collect()}
    assert now == exp and now != at0


def test_changes_cdf_between_commits(spark, tmp_path):
    """changes(since, until) — the change-data-feed read — emits exactly
    the net per-key difference between two resolved snapshots, checked
    against the replay oracle's two states: inserts for new keys,
    update_postimage for advanced keys, deletes for tombstoned keys,
    nothing for untouched keys."""
    events = list(gen_events_local(SPEC, 300))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    apply_batch(lake, _events_df(spark, events[:150]), "c0", params=PARAMS)
    apply_batch(lake, _events_df(spark, events[150:300]), "c1", params=PARAMS)

    feed = {
        (r["repo"], r["path"]): (r["_change_type"], r["content_sha256"])
        for r in lake.changes(since=0).collect()
    }

    old = {(r["repo"], r["path"]): r["content_sha256"] for r in state_rows(replay(events[:150]))}
    new = {(r["repo"], r["path"]): r["content_sha256"] for r in state_rows(replay(events))}
    expected = {}
    for k, sha in new.items():
        if k not in old:
            expected[k] = ("insert", sha)
        elif old[k] != sha:
            expected[k] = ("update_postimage", sha)
    for k in old.keys() - new.keys():
        expected[k] = ("delete", None)

    # keys updated to identical content (same sha) still advance seq and
    # legitimately appear as update_postimage; ignore those rows
    feed_cmp = {
        k: v
        for k, v in feed.items()
        if not (v[0] == "update_postimage" and k in old and old.get(k) == v[1] and k not in expected)
    }
    assert feed_cmp == expected
    # a CDF read over an empty interval is empty
    top = lake.current_commit()["commit_seq"]
    assert lake.changes(since=top, until=top).count() == 0


def test_expire_commits_bounds_storage_and_keeps_state(spark, tmp_path):
    """expire_commits garbage-collects unreferenced data files and old
    commit JSONs; the current state, time travel within the retained
    window, and the exactly-once ledger all survive."""
    import glob as _glob

    events = list(gen_events_local(SPEC, 400))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2, compact_threshold=3)
    for i, lo in enumerate(range(0, 400, 50)):
        apply_batch(lake, _events_df(spark, events[lo : lo + 50]), f"e{i}", params=PARAMS)
    files_before = len(_glob.glob(f"{lake.root}/data/**/*.parquet", recursive=True))
    stats = lake.expire_commits(keep_last=2)
    assert stats["removed_commits"] == 6 and stats["kept_commits"] == 2
    files_after = len(_glob.glob(f"{lake.root}/data/**/*.parquet", recursive=True))
    assert files_after < files_before
    assert stats["removed_files"] == files_before - files_after
    # current state still equals the oracle over all 400 events
    _assert_state_equals_oracle(spark, lake, events)
    # the full batch-id ledger survives: replaying batch e0 is a no-op
    assert apply_batch(lake, _events_df(spark, events[0:50]), "e0", params=PARAMS) is None
    # time travel within the retained window still resolves
    prev_seq = lake.current_commit()["commit_seq"] - 1
    assert lake.read(at=prev_seq).count() > 0


def test_tombstone_horizon_ages_out_dead_deletes(spark, tmp_path):
    """With a tombstone_horizon (the stream's no-redelivery watermark),
    compaction drops tombstones fenced below it — table size tracks
    live keys — while tombstones at/above the horizon survive for late
    events and the resolved live state is unchanged."""
    import pandas as pd

    def ev(seq, op, k, content):
        return dict(
            seq=seq, ts=pd.Timestamp("2026-01-01", tz="UTC"), op=op,
            repo="r", path=f"p{k}", commit=f"c{seq}", lang="py",
            language=None, branch=None, content=content, schema_ver=1,
        )

    # keys 0-9: inserted then deleted EARLY (final state = old tombstone)
    # keys 10-19: inserted, then updated many times (churn -> compaction)
    # key 5: deleted again late (seq >= horizon) -> tombstone retained
    events = [ev(k, "I", k, f"body-{k} " * 40) for k in range(20)]
    events += [ev(20 + k, "D", k, None) for k in range(10)]
    seq = 30
    for round_ in range(12):
        for k in range(10, 20):
            events.append(ev(seq, "U", k, f"body-{k}-v{round_} " * 40))
            seq += 1
    events.append(ev(seq, "D", 5, None))  # late delete, seq >= horizon

    def run(lake):
        for i in range(0, len(events), 20):
            apply_batch(lake, _events_df(spark, events[i : i + 20]), f"tb{i}", params=PARAMS)
        live = {r["path"] for r in lake.read().select("path").collect()}
        assert live == {f"p{k}" for k in range(10, 20)}
        return lake.read_files().where(F.col("deleted")).select("path", "seq").distinct()

    horizon = 30  # all early deletes (seq 20-29) are below; the late one is not
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=1, compact_threshold=3,
                     tombstone_horizon=horizon)
    tombs = run(lake)
    kept = {(r["path"], r["seq"]) for r in tombs.collect()}
    assert ("p5", seq) in kept  # in-horizon tombstone retained
    assert not any(s < horizon for _, s in kept)  # dead tombstones aged out

    # control: without a horizon, every final tombstone survives
    lake2 = LakeTable(spark, str(tmp_path / "lake2"), num_buckets=1, compact_threshold=3)
    tombs2 = run(lake2)
    assert tombs2.where(F.col("seq") < horizon).count() == 10  # all early deletes kept


#: the JSON keys of every commit kind — readers outside the engine
#: (e.g. perfbench's commit poller) depend on them
_COMMIT_KEYS = {
    "commit_seq", "batch_id", "batch_ids", "ledger_files", "ts", "kind",
    "num_buckets", "touched_buckets", "compacted_buckets", "files",
    "file_stats", "stats",
}


@pytest.mark.parametrize("kind", ["delta", "delta+compact", "rebucket"])
def test_point_lookup_prunes_files_by_footer_stats(spark, tmp_path, kind):
    """lookup(repo, path) opens only files whose footer (repo, path)
    range can contain the key — and returns exactly what a full-scan
    filter returns — whether the latest commit is a plain delta, a
    compacting delta or a rebucket. Every commit kind records a non-null
    range for every live file and writes the same JSON keys to
    ``meta/commit-<seq>.json``."""
    import os

    events = list(gen_events_local(SPEC, 300))
    lake = LakeTable(
        spark, str(tmp_path / "lake"), num_buckets=4,
        compact_threshold=1 if kind == "delta+compact" else 8,
    )
    apply_batch(lake, _events_df(spark, events[:150]), "p0", params=PARAMS)
    apply_batch(lake, _events_df(spark, events[150:300]), "p1", params=PARAMS)
    if kind == "rebucket":
        lake.rebucket(8)

    commit = lake.current_commit()
    assert commit["kind"] == kind
    assert set(commit) == _COMMIT_KEYS
    assert os.path.exists(f"{lake.root}/meta/commit-{commit['commit_seq']:012d}.json")
    all_paths = [p for fl in commit["files"].values() for p in fl]
    # every live file has a usable range (files are written key-sorted)
    for p in all_paths:
        rng = commit["file_stats"][p]
        assert len(rng) == 4 and all(v is not None for v in rng), p
    # the ordering contract the ranges depend on: rows within each data
    # file ARE sorted by (repo, path) — partitionBy must not clobber the
    # clustering sort (it inserts its own unstable __bucket sort unless
    # __bucket already leads the ordering)
    import pyarrow.parquet as pq

    for p in all_paths:
        t = pq.ParquetFile(p).read(columns=["repo", "path"])
        keys = list(zip(t.column("repo").to_pylist(), t.column("path").to_pylist()))
        assert keys == sorted(keys), p

    full = lake.read()
    target = full.select("repo", "path").orderBy("repo", "path").first()
    got = lake.lookup(target.repo, target.path).collect()
    exp = full.where(
        (full.repo == target.repo) & (full.path == target.path)
    ).collect()
    assert len(got) == 1
    assert got[0].content_sha256 == exp[0].content_sha256

    # the pruned file set is a strict subset for a point key
    pruned = lake.read_files(key=(target.repo, target.path))
    n_pruned_files = len(pruned.inputFiles())
    assert 0 < n_pruned_files < len(all_paths)
    # a key outside every range reads zero files
    assert lake.lookup("zzz-no-such-repo", "nope").count() == 0


def test_vacuum_orphans_removes_crash_debris_only(spark, tmp_path):
    import os

    events = list(gen_events_local(SPEC, 100))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    apply_batch(lake, _events_df(spark, events), "v0", params=PARAMS)
    before = {(r["repo"], r["path"], r["content_sha256"]) for r in
              lake.read().select("repo", "path", "content_sha256").collect()}

    # simulate a crashed writer: snap dir written, commit never recorded
    orphan = f"{lake.root}/data/snap-000000000099-delta"
    os.makedirs(f"{orphan}/__bucket=0")
    with open(f"{orphan}/__bucket=0/part-orphan.parquet", "w") as f:
        f.write("junk")
    with open(f"{orphan}/_SUCCESS", "w") as f:
        f.write("")

    out = lake.vacuum_orphans()
    assert out["removed_dirs"] == ["snap-000000000099-delta"]
    assert not os.path.exists(orphan)
    after = {(r["repo"], r["path"], r["content_sha256"]) for r in
             lake.read().select("repo", "path", "content_sha256").collect()}
    assert after == before  # committed data untouched
    assert lake.vacuum_orphans()["removed_dirs"] == []  # idempotent


def test_cdf_incrementally_maintains_downstream_aggregate(spark, tmp_path):
    """The change feed is sufficient to MAINTAIN a downstream aggregate
    without recomputation — the core CDF consumption pattern. A keyed
    consumer (its state holds each key's last contribution, the standard
    postimage-feed design) applies changes(since, until) per commit
    interval to per-repo (row count, content bytes) totals; after every
    commit the maintained totals must equal a full recompute from the
    resolved table — including through deletes, re-creates, and the
    compaction that commits trigger."""
    events = list(gen_events_local(SPEC, 240))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4, compact_threshold=3)

    state = {}  # (repo, path) -> (repo, bytes)
    totals = {}  # repo -> [rows, bytes]

    def apply_changes(df):
        for r in df.collect():
            key = (r.repo, r.path)
            if key in state:  # retract the previous contribution
                repo0, b0 = state.pop(key)
                totals[repo0][0] -= 1
                totals[repo0][1] -= b0
                if totals[repo0] == [0, 0]:
                    del totals[repo0]
            if r._change_type != "delete":
                nb = len(r.content.encode()) if r.content is not None else 0
                state[key] = (r.repo, nb)
                totals.setdefault(r.repo, [0, 0])
                totals[r.repo][0] += 1
                totals[r.repo][1] += nb

    prev_commit = -1
    for i, lo in enumerate(range(0, 240, 60)):
        apply_batch(lake, _events_df(spark, events[lo : lo + 60]), f"cdf{i}", params=PARAMS)
        cur = lake.current_commit()["commit_seq"]
        apply_changes(
            lake.changes(since=prev_commit, until=cur)
            if prev_commit >= 0
            else lake.read_files().sparkSession.createDataFrame([], lake.read_files().schema)
        )
        if prev_commit < 0:  # first interval: everything is an insert
            first = lake.read().withColumn("_change_type", F.lit("insert"))
            apply_changes(first)
        prev_commit = cur

        full = {
            r.repo: [r.n, r.b]
            for r in lake.read()
            .groupBy("repo")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length(F.col("content").cast("binary"))).alias("b"),
            )
            .collect()
        }
        assert {k: list(v) for k, v in totals.items()} == full, f"commit {cur}"


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """Stream-stream event-time interval join: purchases joined to the
    same user's clicks within the preceding 10 minutes, both sides
    watermarked (the watermark + time-range constraint is what lets
    Spark BOUND the join state and evict old rows — an unconstrained
    stream-stream join would buffer both streams forever). The
    streaming result over the whole log must equal the identical batch
    join — the standard streaming≡batch contract."""
    import datetime

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = datetime.datetime(2024, 6, 1)
    rng = __import__("random").Random(11)
    clicks, purchases = [], []
    for i in range(300):
        u = rng.randint(0, 20)
        t = base + datetime.timedelta(seconds=rng.randint(0, 7200))
        clicks.append({"user_id": u, "click_id": i, "cts": t})
    for i in range(120):
        u = rng.randint(0, 20)
        t = base + datetime.timedelta(seconds=rng.randint(0, 7200))
        purchases.append({"user_id": u, "purchase_id": i, "pts": t})

    cdir, pdir = tmp_path / "clicks", tmp_path / "purchases"
    for rows, d, ts in ((clicks, cdir, "cts"), (purchases, pdir, "pts")):
        d.mkdir()
        id_col = "click_id" if ts == "cts" else "purchase_id"
        # two segment files per side: multiple micro-batches.
        # Explicit us-precision UTC-adjusted schema: pandas defaults to
        # ns INT64 (unreadable as Spark timestamp), and withWatermark
        # demands the LTZ timestamp type.
        for half in (0, 1):
            part = rows[half::2]
            tbl = pa.table(
                {
                    "user_id": pa.array([r["user_id"] for r in part], pa.int64()),
                    id_col: pa.array([r[id_col] for r in part], pa.int64()),
                    ts: pa.array([r[ts] for r in part], pa.timestamp("us", tz="UTC")),
                }
            )
            pq.write_table(tbl, str(d / f"seg-{half}.parquet"))

    schema_c = "user_id long, click_id long, cts timestamp"
    schema_p = "user_id long, purchase_id long, pts timestamp"
    cs = spark.readStream.schema(schema_c).parquet(str(cdir)).withWatermark("cts", "1 minute")
    ps = spark.readStream.schema(schema_p).parquet(str(pdir)).withWatermark("pts", "1 minute")
    joined = ps.join(
        cs,
        F.expr(
            "ps.user_id = cs.user_id AND cts BETWEEN pts - INTERVAL 10 MINUTES AND pts"
        ) if False else (
            (ps.user_id == cs.user_id)
            & (cs.cts >= ps.pts - F.expr("INTERVAL 10 MINUTES"))
            & (cs.cts <= ps.pts)
        ),
        "inner",
    ).select("purchase_id", "click_id")

    got_rows = []
    q = (
        joined.writeStream.foreachBatch(
            lambda df, _bid: got_rows.extend((r.purchase_id, r.click_id) for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    cb = spark.createDataFrame(pd.DataFrame(clicks), schema_c)
    pb = spark.createDataFrame(pd.DataFrame(purchases), schema_p)
    exp = {
        (r.purchase_id, r.click_id)
        for r in pb.join(
            cb,
            (pb.user_id == cb.user_id)
            & (cb.cts >= pb.pts - F.expr("INTERVAL 10 MINUTES"))
            & (cb.cts <= pb.pts),
            "inner",
        )
        .select("purchase_id", "click_id")
        .collect()
    }
    assert exp and set(got_rows) == exp and len(got_rows) == len(exp)


def test_processing_time_deadline_undershoot_detectable(spark, tmp_path):
    """ADVICE r3: a max_runtime_s expiry before min_batches is met
    returns drained=False instead of a silent normal return."""
    from chunker_spark.cdc.events import GenSpec, write_segments
    from chunker_spark.cdc.lake import LakeTable
    from chunker_spark.cdc.streaming import IngestStream
    from chunker_spark.kernel import ChunkerParams

    spec = GenSpec(seed=5, n_keys=8, mean_blocks=2)
    seg_dir = str(tmp_path / "segs")
    write_segments(spark, spec, 40, seg_dir, n_segments=2)
    small = ChunkerParams(average_bits=6, min_size=64, max_size=512)
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    stream = IngestStream(
        spark, lake, seg_dir, str(tmp_path / "ckpt"), params=small,
        max_files_per_trigger=1, collect_metrics=False,
    )
    run = stream.run_processing_time(
        interval="100 milliseconds", min_batches=999, idle_for_s=1.0, max_runtime_s=8
    )
    assert run["drained"] is False
    assert run["batches"] == stream.batches_seen < 999


def test_fingerprint_store_incremental_equals_recompute(spark, tmp_path):
    """The distributed incremental-dedup consumer: a parquet-persisted
    (key, fp) store maintained ONLY from changes(since, until) equals a
    full fingerprint recompute of the resolved table after every commit
    — through updates, deletes, re-creates and compaction. Re-running a
    refresh at the same commit is a no-op (exactly-once), and dup
    groups derived from the store match the direct groupBy."""
    from chunker_spark.ops.incremental import FingerprintStore, dup_groups

    events = list(gen_events_local(SPEC, 240))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4, compact_threshold=3)
    store = FingerprintStore(spark, str(tmp_path / "fps"))

    for i, lo in enumerate(range(0, 240, 60)):
        apply_batch(lake, _events_df(spark, events[lo : lo + 60]), f"fp{i}", params=PARAMS)
        res = store.refresh(lake)
        assert res["applied"] is True
        # idempotent: same commit -> no-op
        res2 = store.refresh(lake)
        assert res2["applied"] is False and res2["to"] == res["to"]

        got = {
            tuple(r): None
            for r in store.read().select("repo", "path", "fp").collect()
        }
        want = {
            tuple(r): None
            for r in lake.read()
            .select("repo", "path", F.sha2(F.col("content").cast("binary"), 256).alias("fp"))
            .collect()
        }
        assert got == want, f"commit interval {i}"

    # dup groups from the store == direct fingerprint groupBy on the table
    got_groups = {
        (r["fp"], r["n_copies"]) for r in dup_groups(store.read()).collect()
    }
    want_groups = {
        (r["fp"], r["n"])
        for r in lake.read()
        .groupBy(F.sha2(F.col("content").cast("binary"), 256).alias("fp"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .collect()
    }
    assert got_groups == want_groups


def test_fingerprint_store_update_plan_content_free(spark, tmp_path):
    """Scale shape of one store update: the touched-key retraction is a
    BROADCAST anti-join (an interval is batch-sized) and no Exchange
    carries the content column — only fixed-width key+fp rows move."""
    from chunker_spark.ops.incremental import update_fingerprint_store

    events = list(gen_events_local(SPEC, 120))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    apply_batch(lake, _events_df(spark, events[:60]), "p0", params=PARAMS)
    c0 = lake.current_commit()["commit_seq"]
    store0 = lake.read().select(
        "repo", "path", F.sha2(F.col("content").cast("binary"), 256).alias("fp")
    )
    apply_batch(lake, _events_df(spark, events[60:]), "p1", params=PARAMS)
    c1 = lake.current_commit()["commit_seq"]
    updated = update_fingerprint_store(store0, lake.changes(since=c0, until=c1))

    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    plan = updated._jdf.queryExecution().explainString(jmode)
    assert "BroadcastExchange" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "content#" not in line, line


def test_changes_with_preimages_full_delta_cdf_parity(spark, tmp_path):
    """changes(include_preimages=True): every update emits an
    update_preimage row whose payload IS the old resolved state, delete
    rows carry the pre-delete payload (not nulls), inserts are
    unchanged — the retraction surface an incrementally-maintained
    aggregate needs. Checked against the replay oracle's two states."""
    events = list(gen_events_local(SPEC, 300))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    apply_batch(lake, _events_df(spark, events[:150]), "c0", params=PARAMS)
    apply_batch(lake, _events_df(spark, events[150:300]), "c1", params=PARAMS)

    old = {(r["repo"], r["path"]): r["content_sha256"] for r in state_rows(replay(events[:150]))}
    new = {(r["repo"], r["path"]): r["content_sha256"] for r in state_rows(replay(events))}

    rows = lake.changes(since=0, include_preimages=True).collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["_change_type"], {})[(r["repo"], r["path"])] = r["content_sha256"]

    # every update_postimage key has exactly one preimage companion,
    # and the preimage payload is the OLD state's content
    posts = by_type.get("update_postimage", {})
    pres = by_type.get("update_preimage", {})
    assert set(pres) == set(posts)
    for k, sha in pres.items():
        assert sha == old[k], k
        assert posts[k] == new[k], k
    # deletes carry the pre-delete payload
    dels = by_type.get("delete", {})
    assert set(dels) == old.keys() - new.keys()
    for k, sha in dels.items():
        assert sha == old[k] and sha is not None, k
    # inserts unchanged vs the default path
    ins = by_type.get("insert", {})
    for k, sha in ins.items():
        assert k not in old and sha == new[k]
    # the default path is untouched: same visible change set, null deletes
    plain = lake.changes(since=0).collect()
    assert {(r["repo"], r["path"], r["_change_type"]) for r in plain} == {
        (r["repo"], r["path"], r["_change_type"])
        for r in rows
        if r["_change_type"] != "update_preimage"
    }


def test_signature_store_incremental_equals_recompute(spark, tmp_path):
    """The near-dup sibling of the fingerprint store: a parquet-
    persisted (key, minhash sig) store maintained ONLY from CDF
    intervals equals a full signature recompute of the resolved table
    after every commit (signatures are deterministic given the seed),
    and a refresh at the same commit is a no-op."""
    from chunker_spark.ops.dedup import minhash_udf
    from chunker_spark.ops.incremental import SignatureStore

    events = list(gen_events_local(SPEC, 180))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4, compact_threshold=3)
    store = SignatureStore(spark, str(tmp_path / "sigs"), num_hashes=32, bands=8)

    mk_sig = minhash_udf(32, 5, 1)
    for i, lo in enumerate(range(0, 180, 60)):
        apply_batch(lake, _events_df(spark, events[lo : lo + 60]), f"sg{i}", params=PARAMS)
        assert store.refresh(lake)["applied"] is True
        assert store.refresh(lake)["applied"] is False
        got = {
            (r["repo"], r["path"]): tuple(r["sig"])
            for r in store.read().collect()
        }
        want = {
            (r["repo"], r["path"]): tuple(r["sig"])
            for r in lake.read()
            .select("repo", "path", mk_sig(F.col("content")).alias("sig"))
            .collect()
        }
        assert got == want, f"commit interval {i}"


def test_signature_store_probe_finds_cross_commit_near_dups(spark, tmp_path):
    """The incremental near-dup query: commit 2 ingests a near-copy of
    a commit-1 document; probing the store with ONLY the interval's
    upserted keys surfaces the (new, old) pair — without re-shingling
    the old corpus — and the pair agrees with the batch
    minhash_lsh_pairs answer over the full resolved table."""
    import pandas as pd

    from chunker_spark.cdc import EVENT_SCHEMA
    from chunker_spark.ops.dedup import minhash_lsh_pairs
    from chunker_spark.ops.incremental import SignatureStore

    base_text = ("the quick brown fox jumps over the lazy dog again and again " * 8)

    def ev(seq, path, content):
        return {
            "repo": "r1", "path": path, "commit": f"c{seq}", "language": "text",
            "lang": None, "branch": "main", "op": "U", "seq": seq,
            "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=seq),
            "content": content, "schema_ver": 3,
        }

    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    store = SignatureStore(spark, str(tmp_path / "sigs"), num_hashes=64, bands=16)

    b1 = [ev(1, "orig.txt", base_text), ev(2, "other.txt", "completely different content " * 20)]
    pdf1 = pd.DataFrame(b1)[[f.name for f in EVENT_SCHEMA.fields]]
    apply_batch(lake, spark.createDataFrame(pdf1, EVENT_SCHEMA), "b1", params=PARAMS)
    store.refresh(lake)
    prev = store.last_applied()

    near_copy = base_text.replace("lazy", "sleepy", 1)  # one-word edit
    b2 = [ev(3, "copy.txt", near_copy), ev(4, "fresh.txt", "unrelated new material " * 25)]
    pdf2 = pd.DataFrame(b2)[[f.name for f in EVENT_SCHEMA.fields]]
    apply_batch(lake, spark.createDataFrame(pdf2, EVENT_SCHEMA), "b2", params=PARAMS)
    interval = lake.changes(since=prev)
    store.refresh(lake)

    probe = interval.where(F.col("_change_type") != "delete").select("repo", "path")
    pairs = {
        (r["key_a"], r["key_b"]): r["jaccard_est"]
        for r in store.near_dups(threshold=0.5, probe=probe).collect()
    }
    key = ("r1\x1fcopy.txt", "r1\x1forig.txt")
    assert key in pairs and pairs[key] >= 0.5
    # probe mode never pairs two old keys: every pair involves a probe key
    probe_keys = {"r1\x1fcopy.txt", "r1\x1ffresh.txt"}
    assert all(a in probe_keys or b in probe_keys for a, b in pairs)
    # agreement with the batch op over the full resolved state
    docs = lake.read().select(
        F.concat_ws("\x1f", "repo", "path").alias("doc_id"), F.col("content").alias("text")
    )
    batch_pairs = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in minhash_lsh_pairs(docs, num_hashes=64, bands=16, threshold=0.5).collect()
    }
    probe_batch = {p for p in batch_pairs if p[0] in probe_keys or p[1] in probe_keys}
    assert set(pairs) == probe_batch


def test_replay_dlq_exactly_once_and_requarantine(spark, tmp_path):
    """The dead-letter replay path: a wire ingest quarantines payloads
    it cannot parse; after the 'fix' (here: the payloads were Maxwell
    envelopes arriving on a Debezium topic), replay_dlq re-ingests the
    whole quarantine through the right parser as ONE content-derived
    batch — running it twice is a ledger no-op — while a still-broken
    payload is re-quarantined, never dropped, and replays as a no-op
    batch of its own."""
    import json as _json

    from chunker_spark.cdc import LakeTable
    from chunker_spark.cdc.streaming import IngestStream, replay_dlq
    from chunker_spark.kernel import ChunkerParams

    def maxwell(op, pos, path, content):
        return _json.dumps({"type": op, "ts": 1700000000,
                            "position": f"mysql-bin.000001:{pos}",
                            "table": "files",
                            "data": {"repo": "r", "path": path,
                                     "commit": "c", "content": content}})

    log_dir = tmp_path / "wire-log"
    log_dir.mkdir()
    (log_dir / "seg-0.jsonl").write_text("\n".join([
        maxwell("insert", 100, "a.py", "v1\n"),   # not Debezium -> DLQ
        maxwell("insert", 110, "b.py", "w1\n"),   # not Debezium -> DLQ
        maxwell("update", 120, "a.py", "v2\n"),   # not Debezium -> DLQ
        "utterly broken [[[",                      # broken for everyone
    ]) + "\n")

    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    params = ChunkerParams(average_bits=6, min_size=64, max_size=256)
    IngestStream(spark, lake, str(log_dir), str(tmp_path / "ckpt"),
                 params=params, wire_format="debezium").run_available()
    assert lake.read().count() == 0  # everything quarantined
    assert spark.read.parquet(f"{lake.root}/dlq").count() == 4

    res = replay_dlq(lake, "maxwell", params=params)
    assert res["replayed"] == 3 and res["still_bad"] == 1
    assert res["commit"] is not None
    state = {r.path: r.content for r in lake.read().collect()}
    assert state == {"a.py": "v2\n", "b.py": "w1\n"}  # LWW on packed seq
    # the broken payload was re-quarantined, not dropped
    assert spark.read.parquet(f"{lake.root}/dlq").count() == 1

    n_commits = len(lake.committed_batch_ids())
    res2 = replay_dlq(lake, "maxwell", params=params)
    # second replay sees only the re-quarantined broken payload: it
    # still fails, gets re-quarantined again, and nothing re-applies
    assert res2["replayed"] == 0 and res2["still_bad"] == 1
    assert {r.path: r.content for r in lake.read().collect()} == state
    assert spark.read.parquet(f"{lake.root}/dlq").count() == 1

    # THIRD replay: the still-bad set is unchanged, so the replay dir
    # name now collides with its own source dir — the payload must
    # survive the overwrite-then-cleanup cycle (checkpoint + cleanup
    # exclusion), not vanish
    res3 = replay_dlq(lake, "maxwell", params=params)
    assert res3["replayed"] == 0 and res3["still_bad"] == 1
    assert res3["batch_id"] == res2["batch_id"]  # same content, same id
    assert spark.read.parquet(f"{lake.root}/dlq").count() == 1
    assert {r.path: r.content for r in lake.read().collect()} == state

    # empty-quarantine no-op once the broken payload is purged
    import shutil
    shutil.rmtree(f"{lake.root}/dlq")
    res4 = replay_dlq(lake, "maxwell", params=params)
    assert res4 == {"replayed": 0, "still_bad": 0, "batch_id": None, "commit": None}


def test_signature_store_rejects_param_mismatch(spark, tmp_path):
    """Reopening a SignatureStore with different MinHash parameters
    must be a hard error — an incremental refresh would otherwise mix
    incomparable signatures into one table."""
    from chunker_spark.ops.incremental import SignatureStore

    events = list(gen_events_local(SPEC, 60))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    apply_batch(lake, _events_df(spark, events), "p0", params=PARAMS)
    store = SignatureStore(spark, str(tmp_path / "sigs"), num_hashes=32, bands=8)
    assert store.refresh(lake)["applied"] is True

    reopened = SignatureStore(spark, str(tmp_path / "sigs"), num_hashes=64, bands=16)
    with pytest.raises(ValueError, match="re-bootstrap"):
        reopened.refresh(lake)
    with pytest.raises(ValueError, match="re-bootstrap"):
        reopened.read()
    # same params: fine (bands is a QUERY-time knob, not signature state)
    same = SignatureStore(spark, str(tmp_path / "sigs"), num_hashes=32, bands=4)
    assert same.refresh(lake)["applied"] is False


def test_window_count_store_incremental_equals_recompute(spark, tmp_path):
    """The CDF-maintained substring-window index: (digest, count) state
    maintained ONLY from changes(..., include_preimages=True) — +1 per
    window of every postimage, -1 per window of every preimage/delete —
    equals a full window recount of the resolved table after every
    commit, through updates, deletes and re-creates; refresh is
    exactly-once; the derived duplicated-window set matches a direct
    batch recount."""
    from chunker_spark.ops.incremental import WindowCountStore
    from chunker_spark.ops.substrings import window_digests

    K = 4
    events = list(gen_events_local(SPEC, 240))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4, compact_threshold=3)
    store = WindowCountStore(spark, str(tmp_path / "wcs"), k=K)

    def recount():
        return {
            (r["h"], r["n"])
            for r in lake.read()
            .select(F.explode(window_digests("content", K)).alias("h"))
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    for i, lo in enumerate(range(0, 240, 60)):
        apply_batch(lake, _events_df(spark, events[lo : lo + 60]), f"wc{i}", params=PARAMS)
        res = store.refresh(lake)
        assert res["applied"] is True
        assert store.refresh(lake)["applied"] is False  # exactly-once
        got = {(r["h"], r["n"]) for r in store.read().collect()}
        assert got == recount(), f"commit interval {i}"

    dup_got = {(r["h"], r["n"]) for r in store.dup_windows().collect()}
    dup_want = {(h, n) for (h, n) in recount() if n >= 2}
    assert dup_got == dup_want
    # params pinned: reopening with a different k is a hard error
    import pytest

    with pytest.raises(ValueError, match="re-bootstrap"):
        WindowCountStore(spark, str(tmp_path / "wcs"), k=K + 1).read()


def test_probe_window_duplicates_against_store(spark, tmp_path):
    """Probe-mode: a new batch checked against the maintained window
    index flags exactly the documents repeating corpus content — a doc
    duplicating an ingested doc reads dup_fraction 1.0, fresh content
    0.0, a half-copy in between; sub-k docs report zero windows."""
    from datetime import datetime, timezone

    from chunker_spark.ops.incremental import WindowCountStore, probe_window_duplicates

    K = 4
    base = "alpha beta gamma delta epsilon zeta eta theta"
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    ev = [
        {"op": "I", "repo": "r", "path": f"p{i}", "commit": "c", "lang": "py",
         "content": base if i < 2 else f"unique{i} " * 8, "seq": i,
         "ts": datetime(2026, 1, 1, tzinfo=timezone.utc), "schema_ver": 1,
         "language": None, "branch": None}
        for i in range(4)
    ]
    import pandas as pd

    pdf = pd.DataFrame(ev)[[f.name for f in EVENT_SCHEMA.fields]]
    apply_batch(lake, spark.createDataFrame(pdf, EVENT_SCHEMA), "b0", params=PARAMS)
    store = WindowCountStore(spark, str(tmp_path / "wcs"), k=K)
    store.refresh(lake)

    probe = spark.createDataFrame(
        [
            ("r", "new-full-copy", base),                      # every window dup
            ("r", "new-fresh", "nothing here matches at all ok"),
            ("r", "new-half", base.split(" ", 4)[-1] + " x y z w"),  # some windows
            ("r", "new-short", "too short"),                   # < k tokens
        ],
        "repo string, path string, content string",
    )
    got = {
        r.path: (r.n_windows, r.n_dup_windows, r.dup_fraction)
        for r in probe_window_duplicates(store, probe, k=K).collect()
    }
    assert got["new-full-copy"][2] == 1.0 and got["new-full-copy"][0] == 5
    assert got["new-fresh"][1] == 0 and got["new-fresh"][2] == 0.0
    assert got["new-short"] == (0, 0, 0.0)
    # 8 tokens -> 5 windows; exactly window 0 ("epsilon zeta eta
    # theta") also occurs in the ingested base document
    assert got["new-half"] == (5, 1, 1 / 5)

    import pytest

    # a store pins k: probing with a different explicit k would compute
    # digests that never match the index (silent zero-dup report), so
    # it is a hard error; omitting k uses the pinned value (asserted
    # above — the call passed k=K which equals the pin)
    with pytest.raises(ValueError, match="pinned k"):
        probe_window_duplicates(store, probe, k=K + 1)
    with pytest.raises(ValueError, match="pinned content_col"):
        probe_window_duplicates(store, probe, content_col="text")


def test_window_count_guards(spark, tmp_path):
    """Misuse guards around the retractable window-count state: a
    changes frame read without include_preimages is rejected (it would
    corrupt counts silently — deletes lose their retraction), k < 1 is
    rejected at construction, and a lazy read() frame stays collectable
    across ONE subsequent refresh (the GC keeps the predecessor
    generation exactly for handed-out frames)."""
    import pytest

    from chunker_spark.ops.incremental import WindowCountStore, update_window_counts

    with pytest.raises(ValueError, match="k must be >= 1"):
        WindowCountStore(spark, str(tmp_path / "bad"), k=0)

    events = list(gen_events_local(SPEC, 120))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    apply_batch(lake, _events_df(spark, events[:60]), "g0", params=PARAMS)
    store = WindowCountStore(spark, str(tmp_path / "wcs"), k=4)
    store.refresh(lake)

    c0 = lake.current_commit()["commit_seq"]
    apply_batch(lake, _events_df(spark, events[60:]), "g1", params=PARAMS)
    c1 = lake.current_commit()["commit_seq"]
    # preimage-less feed -> loud error, not silent drift
    no_pre = lake.changes(since=c0, until=c1)
    with pytest.raises(ValueError, match="include_preimages"):
        update_window_counts(store.read(), no_pre, k=4)
    # the marked feed passes the guard; assume_preimages bypasses it
    # for hand-built frames
    with_pre = lake.changes(since=c0, until=c1, include_preimages=True)
    update_window_counts(store.read(), with_pre, k=4)
    update_window_counts(store.read(), no_pre.limit(0), k=4, assume_preimages=True)

    # generation GC: a frame read before a refresh survives it
    held = store.read()
    store.refresh(lake)
    held.count()  # predecessor directory must still exist
    assert store.refresh(lake)["applied"] is False


def test_metrics_path_two_actions_and_exact_values(spark, tmp_path, monkeypatch):
    """Metrics-path driver-action budget (r4 fixed four actions down to
    two; r6 rides the volume sums on the delta write itself via an
    Observation): a FIRST commit must cost ZERO driver actions beyond
    the delta write (no prior state — chunk reuse is 0 by definition),
    and a follow-up commit exactly ONE (the chunk-reuse join). Counted
    at the DataFrame API level (collect/count/toPandas), which is
    deterministic under AQE where job counts are not. Values are
    checked against an independent driver-side LWW recomputation of
    the same events."""
    # patch the concrete class — pyspark 4's classic DataFrame overrides
    # the base-class methods, so patching pyspark.sql.DataFrame is a no-op
    from pyspark.sql.classic.dataframe import DataFrame

    events = list(gen_events_local(GenSpec(seed=7, n_keys=40, mean_blocks=3), 240))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=8)
    batches = [("b0", events[:120]), ("b1", events[120:])]
    dfs = {b: _events_df(spark, ev) for b, ev in batches}  # build outside the count

    actions: list[str] = []
    orig_collect, orig_count = DataFrame.collect, DataFrame.count
    orig_topandas = DataFrame.toPandas
    monkeypatch.setattr(DataFrame, "collect", lambda s: (actions.append("collect"), orig_collect(s))[1])
    monkeypatch.setattr(DataFrame, "count", lambda s: (actions.append("count"), orig_count(s))[1])
    monkeypatch.setattr(DataFrame, "toPandas", lambda s: (actions.append("toPandas"), orig_topandas(s))[1])

    commits = {}
    expected = {"b0": [], "b1": ["count"]}
    for b, _ in batches:
        n0 = len(actions)
        commits[b] = apply_batch(lake, dfs[b], b, params=PARAMS)
        assert actions[n0:] == expected[b], f"batch {b}: {actions[n0:]}"

    monkeypatch.undo()

    for b, ev in batches:
        win: dict[tuple, dict] = {}
        for e in ev:
            k = (e["repo"], e["path"])
            if k not in win or e["seq"] > win[k]["seq"]:
                win[k] = e
        ups = [e for e in win.values() if e["op"] != "D"]
        s = commits[b]["stats"]
        assert s["upsert_rows"] == len(ups)
        assert s["delete_rows"] == len(win) - len(ups)
        assert s["upsert_bytes"] == sum(len(e["content"]) for e in ups)
        assert sum(int(v) for v in s["keys_per_bucket"].values()) == len(win)
    # updated keys share chunks with their prior versions
    assert commits["b1"]["stats"]["reused_chunks"] > 0


def test_reused_chunks_matches_resolve_then_semi_join(spark):
    """The one-aggregate chunk-reuse count equals the two-shuffle
    formulation it replaced (resolve the old state, then semi-join the
    exploded new chunks against it) and a driver-side oracle, on data
    with reuse, keys with several prior versions, tombstoned prior
    versions (latest and earlier), hashes repeated within one manifest,
    keys with no prior version and prior rows of keys the batch deletes."""
    import random

    from chunker_spark.cdc.lake import resolve_state
    from chunker_spark.cdc.merge import _reused_chunks

    rng = random.Random(5)
    alphabet = [f"h{i:02d}" for i in range(12)]  # small: repeats within a manifest

    def manifest():
        return [rng.choice(alphabet) for _ in range(rng.randrange(1, 9))]

    old, new = [], []
    for k in range(80):
        key = (f"r{k % 3}", f"p{k}")
        seqs = sorted(rng.sample(range(1, 1000), rng.randrange(0, 5)))
        for s in seqs:
            dead = rng.random() < 0.3
            old.append((*key, s, dead, None if dead else manifest()))
        if k % 7 != 6:  # every 7th key: prior rows only (a batch delete)
            new.append((*key, 2000 + k, False, manifest()))
    schema = "repo string, path string, seq long, deleted boolean, manifest_h array<string>"
    as_manifest = F.transform("manifest_h", lambda h: F.struct(h.alias("chunk_sha256")))

    def frame(rows, parts):
        return (
            spark.createDataFrame(rows, schema)
            .repartition(parts)  # several versions of a key meet only after the shuffle
            .select("repo", "path", "seq", "deleted", as_manifest.alias("manifest"))
        )

    upserts, old_rows = frame(new, 2), frame(old, 3)

    def exploded(df):
        return df.select("repo", "path", F.explode("manifest.chunk_sha256").alias("h"))

    reference = exploded(upserts).join(
        exploded(resolve_state(old_rows)), ["repo", "path", "h"], "left_semi"
    ).count()

    latest: dict[tuple, tuple] = {}
    for r, p, s, dead, hs in old:
        if (r, p) not in latest or s > latest[(r, p)][0]:
            latest[(r, p)] = (s, dead, hs)
    oracle = 0
    for r, p, _s, _dead, hs in new:
        prior = latest.get((r, p))
        if prior and not prior[1]:
            oracle += sum(h in prior[2] for h in hs)

    assert oracle > 0
    assert any(v[1] for v in latest.values())  # some latest prior is a tombstone
    assert any(len(hs) > len(set(hs)) for *_k, hs in new)
    assert _reused_chunks(upserts, old_rows) == reference == oracle


def test_key_bucket_matches_bucket_expr(spark):
    """The driver-side bucket equals Spark's ``bucket_expr`` on random
    keys: empty, non-ASCII and longer-than-32-byte strings (the XXH64
    stripe loop), at several bucket counts."""
    import random

    from chunker_spark.cdc.lake import bucket_expr, key_bucket

    rng = random.Random(11)
    alphabet = "abz/._-09 éßж漢字😀"
    keys = [("", ""), ("", "x"), ("a" * 32, "b" * 33), ("😀" * 9, "é" * 17)] + [
        tuple("".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 70))) for _ in "rp")
        for _ in range(1200)
    ]
    assert any(len(r.encode()) > 32 for r, _p in keys)
    df = spark.createDataFrame(keys, "repo string, path string")
    for nb in (1, 7, 16, 1024):
        got = df.select("repo", "path", bucket_expr(nb).alias("b")).collect()
        bad = [(r.repo, r.path) for r in got if key_bucket((r.repo, r.path), nb) != r.b]
        assert bad == [], (nb, bad[:3])


_LISTING_JOB = "Listing leaf files and directories"


def _listing_jobs(spark, action) -> list[str]:
    """Run ``action``; return the names/descriptions of the distributed
    file-listing jobs Spark started meanwhile, read from the application
    status store (populated with the UI off)."""
    sc = spark.sparkContext._jsc.sc()

    def jobs():
        sc.listenerBus().waitUntilEmpty()
        it = sc.statusStore().jobsList(None).iterator()
        out = []
        while it.hasNext():
            j = it.next()
            desc = j.description()
            out.append((int(j.jobId()), f"{j.name()} {desc.get() if desc.isDefined() else ''}"))
        return out

    before = max((i for i, _ in jobs()), default=-1)
    action()
    return [text for i, text in jobs() if i > before and _LISTING_JOB in text]


def test_lake_reads_list_files_on_the_driver(spark, tmp_path):
    """Above 32 paths Spark lists a read's files with a distributed job,
    one task per path. A LakeTable lists them on the driver instead: no
    listing job for one streaming micro-batch over 40 source segments, a
    lake read of more than 32 files, a compaction or a lookup."""
    from chunker_spark.cdc.lake import key_bucket

    seg_dir = str(tmp_path / "segments")
    write_segments(spark, SPEC, 400, seg_dir, n_segments=40)
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4, compact_threshold=1000)
    stream = IngestStream(spark, lake, seg_dir, str(tmp_path / "ckpt"), params=PARAMS)
    assert _listing_jobs(spark, stream.run_available) == []
    assert lake.current_commit()["commit_seq"] == 0  # one micro-batch, 40 segments

    events = list(gen_events_local(SPEC, 760))[400:]
    for i in range(9):
        batch = _events_df(spark, events[i * 40 : (i + 1) * 40])
        apply_batch(lake, batch, f"x{i}", params=PARAMS, collect_metrics=False)
    n_files = sum(len(fl) for fl in lake.current_commit()["files"].values())
    assert n_files > 32
    assert _listing_jobs(spark, lambda: lake.read().count()) == []

    lake.compact_threshold = 8
    last = _events_df(spark, events[:40])
    assert _listing_jobs(
        spark, lambda: apply_batch(lake, last, "compact", params=PARAMS, collect_metrics=False)
    ) == []
    commit = lake.current_commit()
    assert commit["kind"] == "delta+compact"

    key = (events[0]["repo"], events[0]["path"])
    assert _listing_jobs(spark, lambda: lake.lookup(*key).collect()) == []
    bucket_files = commit["files"][str(key_bucket(key, commit["num_buckets"]))]
    assert 0 < len(lake.read_files(key=key).inputFiles()) <= len(bucket_files)
