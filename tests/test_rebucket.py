"""Bucket-count evolution (LakeTable.rebucket): state preservation,
exactly-once ledger carry, committed-layout adoption on reopen, horizon
aging, and time travel across the layout change."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from chunker_spark.cdc import (
    EVENT_SCHEMA,
    GenSpec,
    LakeTable,
    apply_batch,
    gen_events_local,
    replay,
    state_rows,
)
from chunker_spark.kernel import ChunkerParams

PARAMS = ChunkerParams(average_bits=9, min_size=256, max_size=4096)
SPEC = GenSpec(seed=31, n_keys=40, mean_blocks=3, schema_ver_plan=((100, 2), (200, 3)))
COMPARE = ["repo", "path", "commit", "language", "branch", "content_sha256"]


def _events_df(spark, events):
    pdf = pd.DataFrame(events)[[f.name for f in EVENT_SCHEMA.fields]]
    return spark.createDataFrame(pdf, EVENT_SCHEMA)


def _state(lake, at=None):
    return {tuple(r) for r in lake.read(at=at).select(*COMPARE).collect()}


def _oracle(events):
    return {tuple(r[c] for c in COMPARE) for r in state_rows(replay(events))}


def test_rebucket_preserves_state_and_continues(spark, tmp_path):
    """Rebucket mid-stream: state identical across the rewrite, the
    stream keeps appending under the new layout, point lookups and
    bucket-pruned reads stay correct, and the pre-rebucket commit is
    still time-travel readable, by full read and by point lookup."""
    events = list(gen_events_local(SPEC, 300))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    apply_batch(lake, _events_df(spark, events[:150]), "a", params=PARAMS, collect_metrics=False)
    pre = _state(lake)
    pre_commit = lake.current_commit()["commit_seq"]

    commit = lake.rebucket(8)
    assert commit["kind"] == "rebucket"
    assert commit["num_buckets"] == 8 == lake.num_buckets
    assert _state(lake) == pre == _oracle(events[:150])
    # time travel across the layout change
    assert _state(lake, at=pre_commit) == pre
    # a lookup at the pre-rebucket commit hashes with THAT commit's
    # bucket count: keys whose bucket moved still resolve
    from chunker_spark.cdc.lake import key_bucket

    moved = sorted(r[:2] for r in pre if key_bucket(r[:2], 4) != key_bucket(r[:2], 8))[:4]
    assert moved
    for key in moved:
        old_rows = lake.lookup(*key, at=pre_commit).select(*COMPARE).collect()
        assert [tuple(r) for r in old_rows] == [r for r in pre if r[:2] == key]

    apply_batch(lake, _events_df(spark, events[150:]), "b", params=PARAMS, collect_metrics=False)
    assert _state(lake) == _oracle(events)

    # bucket-pruned full read under the new layout covers every key
    per_bucket = [lake.read(buckets=[b]).count() for b in range(8)]
    assert sum(per_bucket) == len(_oracle(events))
    # point lookup (file-skipping path) still resolves
    some = lake.read().select("repo", "path").first()
    assert lake.lookup(some["repo"], some["path"]).count() == 1


def test_rebucket_keeps_exactly_once(spark, tmp_path):
    """The batch-id ledger survives the rewrite: a replayed batch is
    still a no-op after rebucket."""
    events = list(gen_events_local(SPEC, 120))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    assert apply_batch(lake, _events_df(spark, events), "b0", params=PARAMS, collect_metrics=False)
    lake.rebucket(2)
    assert apply_batch(lake, _events_df(spark, events), "b0", params=PARAMS, collect_metrics=False) is None
    assert _state(lake) == _oracle(events)


def test_reopen_adopts_committed_layout(spark, tmp_path):
    """The on-disk bucket count wins over the constructor arg when the
    table already has commits — a mismatched reopen cannot split writes
    across two hashings."""
    events = list(gen_events_local(SPEC, 100))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    apply_batch(lake, _events_df(spark, events), "b0", params=PARAMS, collect_metrics=False)

    reopened = LakeTable(spark, str(tmp_path / "lake"), num_buckets=16)
    assert reopened.num_buckets == 4
    lake.rebucket(8)
    assert LakeTable(spark, str(tmp_path / "lake")).num_buckets == 8
    # a brand-new table still honors the arg
    assert LakeTable(spark, str(tmp_path / "fresh"), num_buckets=16).num_buckets == 16


def test_rebucket_tombstone_horizon(spark, tmp_path):
    """The rewrite applies the same tombstone-aging rule as compaction:
    deletes below the no-redelivery watermark vanish from the files,
    deletes at/above it survive to keep fencing late seqs."""
    rows = [
        ("r", "old", 5, "I", "c1", "x"),
        ("r", "old", 7, "D", "c2", None),  # below horizon: aged out
        ("r", "new", 150, "I", "c3", "y"),
        ("r", "new", 160, "D", "c4", None),  # above horizon: kept
        ("r", "live", 170, "I", "c5", "z"),
    ]
    ev = (
        spark.createDataFrame(
            rows, "repo string, path string, seq long, op string, commit string, content string"
        )
        .withColumn("ts", F.to_timestamp(F.lit("2024-03-01 00:00:00")))
        .withColumn("schema_ver", F.lit(1))
        .withColumn("lang", F.lit("py"))
        .withColumn("language", F.lit(None).cast("string"))
        .withColumn("branch", F.lit(None).cast("string"))
    )
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4, tombstone_horizon=100)
    apply_batch(lake, ev, "b0", params=PARAMS, collect_metrics=False)
    lake.rebucket(2)
    raw = {(r["path"], r["deleted"]) for r in lake.read_files().collect()}
    assert ("old", True) not in raw  # aged out by the rewrite
    assert ("new", True) in raw  # still fencing
    import hashlib

    assert _state(lake) == {
        ("r", "live", "c5", "py", "main", hashlib.sha256(b"z").hexdigest())
    }
    assert {r["path"] for r in lake.read().collect()} == {"live"}


def test_rebucket_validation(spark, tmp_path):
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    with pytest.raises(ValueError, match="num_buckets"):
        lake.rebucket(0)
