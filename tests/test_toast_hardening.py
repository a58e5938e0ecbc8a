"""Hardening regressions for the TOAST quarantine/replay path and
bucket-count evolution, pinned from this round's review findings:

* the delete fence must survive into the second-stage state fill (an
  in-batch D before a placeholder U must NOT resolve from the sink's
  pre-delete state — that resurrects the old incarnation);
* a redelivered rename+placeholder (crash in the exactly-once window)
  resolves via the NEW key once the old key is tombstoned, instead of
  quarantining forever;
* empty quarantine run directories (the steady-state residue of an
  all-resolved batch) are a no-op for replay, not a crash;
* quarantine survivors replay repeatedly without the partition-column
  round-trip corrupting the schema;
* a rebucket that fails AFTER the snapshot write but BEFORE the commit
  rename restores the instance's bucket count (the committed layout is
  still the old one).
"""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from chunker_spark.cdc.toast import (
    DEBEZIUM_UNAVAILABLE as PH,
    fill_from_state,
    fill_unavailable,
)

KEYS = ["repo", "path"]


def test_delete_fence_blocks_state_fill(spark):
    """A placeholder AFTER an in-batch delete of its key stays marked
    through fill_from_state even when the (pre-batch) state has the
    key — the state row is the previous incarnation."""
    batch = spark.createDataFrame(
        [
            ("r", "k", 1, "D", None),   # in-batch delete fences k
            ("r", "k", 2, "U", PH),     # malformed: update after delete
            ("r", "j", 3, "U", PH),     # control: no fence, state fills
        ],
        "repo string, path string, seq long, op string, content string",
    )
    state = spark.createDataFrame(
        [("r", "k", "old-incarnation"), ("r", "j", "state-j")],
        "repo string, path string, content string",
    )
    local = fill_unavailable(batch, KEYS, ["content"], delete_op="D", keep_marks=True)
    assert "_toast_seg" in local.columns  # fence info reaches stage two
    out = {
        r["path"]: (r["content"], r["toast_unresolved"])
        for r in fill_from_state(local, state, KEYS, ["content"]).collect()
        if r["op"] == "U"
    }
    assert out["k"] == (None, 1)        # fenced: quarantine, not refill
    assert out["j"] == ("state-j", 0)   # unfenced rows still resolve


def _wj(action, lsn, path, content=None, old_path=None):
    body = {"action": action, "lsn": lsn, "table": "files"}
    if action == "D":
        body["identity"] = [{"name": "repo", "value": "r"},
                            {"name": "path", "value": path}]
    else:
        body["columns"] = [{"name": "repo", "value": "r"},
                           {"name": "path", "value": path},
                           {"name": "content", "value": content}]
    if action == "U":
        body["identity"] = [{"name": "repo", "value": "r"},
                            {"name": "path", "value": old_path or path}]
    return json.dumps(body)


def _mk_stream(spark, lake, log_dir, ckpt, **kw):
    from chunker_spark.cdc.keychange import split_key_changes
    from chunker_spark.cdc.streaming import IngestStream
    from chunker_spark.kernel import ChunkerParams

    return IngestStream(
        spark, lake, str(log_dir), str(ckpt),
        params=ChunkerParams(average_bits=6, min_size=64, max_size=256),
        wire_format="wal2json", max_files_per_trigger=1,
        parser_kwargs={"with_old_keys": True},
        toast_value_cols=["content"],
        event_transform=lambda df: split_key_changes(
            df, ["repo", "path"], delete_op="D"
        ),
        **kw,
    )


def test_streaming_delete_then_placeholder_not_resurrected(spark, tmp_path):
    """Integration form of the fence: D(k) + U(k, placeholder) in one
    batch (the re-insert was lost upstream). The placeholder must NOT
    merge with the pre-delete content; once the missing re-insert
    lands, the quarantine replay resolves it from the NEW incarnation."""
    from chunker_spark.cdc import LakeTable
    from chunker_spark.cdc.streaming import replay_toast_quarantine
    from chunker_spark.kernel import ChunkerParams

    params = ChunkerParams(average_bits=6, min_size=64, max_size=256)
    log_dir = tmp_path / "wal"
    log_dir.mkdir()
    (log_dir / "seg-0.jsonl").write_text(_wj("I", "0/100", "k.sql", "v1\n") + "\n")
    (log_dir / "seg-1.jsonl").write_text("\n".join([
        _wj("D", "1/100", "k.sql"),
        _wj("U", "1/300", "k.sql", PH),  # re-insert between them was lost
    ]) + "\n")

    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    _mk_stream(spark, lake, log_dir, tmp_path / "ckpt").run_available()

    # the delete merged; the placeholder did NOT resurrect v1
    assert {r.path for r in lake.read().collect()} == set()
    assert glob.glob(f"{lake.root}/dlq/toast/*/*/*.parquet")

    # replay against the still-deleted state: unresolvable, survives
    res = replay_toast_quarantine(lake, ["content"], params=params)
    assert (res["replayed"], res["still_bad"]) == (0, 1)

    # the lost re-insert lands (lsn between the D and the U)
    (log_dir / "seg-2.jsonl").write_text(_wj("I", "1/200", "k.sql", "v2\n") + "\n")
    _mk_stream(spark, lake, log_dir, tmp_path / "ckpt").run_available()
    res2 = replay_toast_quarantine(lake, ["content"], params=params)
    assert (res2["replayed"], res2["still_bad"]) == (1, 0)
    state = {r.path: r.content for r in lake.read().collect()}
    assert state == {"k.sql": "v2\n"}  # new incarnation, never v1


def test_redelivered_rename_placeholder_resolves_via_new_key(spark, tmp_path):
    """Crash between lake commit and checkpoint commit redelivers a
    rename+placeholder batch whose rename already applied (old key
    tombstoned). The old-key lookup misses; the new-key fallback
    resolves it, so the redelivery leaves NO phantom quarantine."""
    from chunker_spark.cdc import LakeTable

    log_dir = tmp_path / "wal"
    log_dir.mkdir()
    (log_dir / "seg-0.jsonl").write_text(_wj("I", "0/100", "b.sql", "vb\n") + "\n")
    (log_dir / "seg-1.jsonl").write_text(
        _wj("U", "1/100", "b2.sql", PH, old_path="b.sql") + "\n"
    )

    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    crashing = _mk_stream(
        spark, lake, log_dir, tmp_path / "ckpt", fail_after_batches=2
    )
    with pytest.raises(Exception):
        crashing.run_available()
    # batch 2 reached the lake: rename applied, old key tombstoned
    assert {r.path: r.content for r in lake.read().collect()} == {"b2.sql": "vb\n"}

    _mk_stream(spark, lake, log_dir, tmp_path / "ckpt").run_available()
    assert {r.path: r.content for r in lake.read().collect()} == {"b2.sql": "vb\n"}
    # the redelivered placeholder resolved (via the new key) — nothing
    # quarantined, and no empty run-dir shell left behind either
    assert not glob.glob(f"{lake.root}/dlq/toast/*/*/*.parquet")
    assert not glob.glob(f"{lake.root}/dlq/toast/ingest_run=*")


@pytest.mark.parametrize(
    "replay, shell",
    [("replay_dlq", "dlq/ingest_run=stale"),
     ("replay_toast_quarantine", "dlq/toast/ingest_run=stale")],
    ids=["dlq", "toast"],
)
def test_replay_noop_on_empty_run_dirs(spark, tmp_path, replay, shell):
    """Empty ingest_run= shells (however they arise) are pruned by
    either replay, which returns its documented no-op instead of
    failing on schema inference."""
    from chunker_spark.cdc import LakeTable, streaming

    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    shell = f"{lake.root}/{shell}"
    os.makedirs(shell)
    arg = "debezium" if replay == "replay_dlq" else ["content"]
    res = getattr(streaming, replay)(lake, arg)
    assert res == {"replayed": 0, "still_bad": 0, "batch_id": None, "commit": None}
    assert not os.path.isdir(shell)  # pruned, not left to trip the next call


def test_replay_survivors_are_replayable_again(spark, tmp_path):
    """A survivor row round-trips through two consecutive replays: the
    rewrite must not materialize the discovered batch_id partition
    column into the data (which would make the next read fail with a
    duplicate-column error)."""
    from chunker_spark.cdc import LakeTable
    from chunker_spark.cdc.streaming import replay_toast_quarantine
    from chunker_spark.kernel import ChunkerParams

    params = ChunkerParams(average_bits=6, min_size=64, max_size=256)
    log_dir = tmp_path / "wal"
    log_dir.mkdir()
    (log_dir / "seg-0.jsonl").write_text(
        _wj("U", "0/100", "ghost.sql", PH) + "\n"  # no base version anywhere
    )
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    _mk_stream(spark, lake, log_dir, tmp_path / "ckpt").run_available()
    assert glob.glob(f"{lake.root}/dlq/toast/*/*/*.parquet")

    for _ in range(2):  # second pass reads the first pass's rewrite
        res = replay_toast_quarantine(lake, ["content"], params=params)
        assert (res["replayed"], res["still_bad"]) == (0, 1)
    qrows = spark.read.parquet(f"{lake.root}/dlq/toast").collect()
    assert [r.path for r in qrows] == ["ghost.sql"]


def test_rebucket_failure_before_commit_restores_bucket_count(spark, tmp_path, monkeypatch):
    """A failure between the snapshot write and the commit rename must
    leave the instance on the OLD bucket count — the committed layout
    is unchanged, and hashing future deltas with the new count would
    split keys across buckets."""
    import pandas as pd

    from chunker_spark.cdc import (
        EVENT_SCHEMA, GenSpec, LakeTable, apply_batch, gen_events_local,
        replay, state_rows,
    )
    from chunker_spark.kernel import ChunkerParams

    params = ChunkerParams(average_bits=9, min_size=256, max_size=4096)
    all_events = list(gen_events_local(GenSpec(seed=7, n_keys=20, mean_blocks=2), 160))
    events, more = all_events[:120], all_events[120:]
    pdf = pd.DataFrame(events)[[f.name for f in EVENT_SCHEMA.fields]]
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    apply_batch(lake, spark.createDataFrame(pdf, EVENT_SCHEMA), "b0",
                params=params, collect_metrics=False)

    monkeypatch.setattr(
        lake, "_write_commit",
        lambda *a, **k: (_ for _ in ()).throw(OSError("disk full")),
    )
    with pytest.raises(OSError, match="disk full"):
        lake.rebucket(8)
    monkeypatch.undo()

    assert lake.num_buckets == 4  # layout unchanged: commit never landed
    # and the instance still works end-to-end on the old layout
    pdf2 = pd.DataFrame(more)[[f.name for f in EVENT_SCHEMA.fields]]
    apply_batch(lake, spark.createDataFrame(pdf2, EVENT_SCHEMA), "b1",
                params=params, collect_metrics=False)
    got = {
        (r["repo"], r["path"], r["content_sha256"])
        for r in lake.read().select("repo", "path", "content_sha256").collect()
    }
    want = {
        (r["repo"], r["path"], r["content_sha256"])
        for r in state_rows(replay(events + more))
    }
    assert got == want


def test_replay_skips_uncommitted_quarantine_leaf(spark, tmp_path):
    """ADVICE r4: a quarantine leaf whose source batch never reached the
    committed ledger (stream crashed between the quarantine write and
    the lake commit) must be SKIPPED by replay — filling it from
    current state could resurrect a deleted incarnation — and left on
    disk for the batch's redelivery to rewrite and mark."""
    from chunker_spark.cdc import LakeTable
    from chunker_spark.cdc.streaming import replay_toast_quarantine
    from chunker_spark.kernel import ChunkerParams

    params = ChunkerParams(average_bits=6, min_size=64, max_size=256)
    log_dir = tmp_path / "wal"
    log_dir.mkdir()
    (log_dir / "seg-0.jsonl").write_text(_wj("I", "0/100", "k.sql", "v1\n") + "\n")
    (log_dir / "seg-1.jsonl").write_text("\n".join([
        _wj("D", "1/100", "k.sql"),
        _wj("U", "1/300", "k.sql", PH),  # re-insert between them was lost
    ]) + "\n")
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    _mk_stream(spark, lake, log_dir, tmp_path / "ckpt").run_available()

    # the healthy run marked its leaf merge-complete
    [leaf] = glob.glob(f"{lake.root}/dlq/toast/ingest_run=*/batch_id=*")
    assert os.path.exists(os.path.join(leaf, "_MERGED"))

    # simulate the crash window: same leaf content under a batch id the
    # ledger has never seen, fence marker absent
    orphan = os.path.join(os.path.dirname(leaf), "batch_id=9999")
    os.rename(leaf, orphan)
    os.remove(os.path.join(orphan, "_MERGED"))

    # the lost re-insert lands, so the fill WOULD resolve if allowed
    (log_dir / "seg-2.jsonl").write_text(_wj("I", "1/200", "k.sql", "v2\n") + "\n")
    _mk_stream(spark, lake, log_dir, tmp_path / "ckpt").run_available()

    with pytest.warns(UserWarning, match="has not committed"):
        res = replay_toast_quarantine(lake, ["content"], params=params)
    assert (res["replayed"], res["still_bad"]) == (0, 0)
    assert os.path.isdir(orphan)  # left for redelivery, never dropped
    # and nothing resurrected: v2 is current state, untouched by replay
    assert {r.path: r.content for r in lake.read().collect()} == {"k.sql": "v2\n"}

    # once the batch is marked merged (what redelivery does), the same
    # leaf replays normally
    open(os.path.join(orphan, "_MERGED"), "w").close()
    res2 = replay_toast_quarantine(lake, ["content"], params=params)
    assert (res2["replayed"], res2["still_bad"]) == (1, 0)
    assert {r.path: r.content for r in lake.read().collect()} == {"k.sql": "v2\n"}
