"""Producer-side duplicates absorbed by last-writer-wins, and the
event-time window/session rollups as streams (SURVEY.md §2.3)."""

import glob
import shutil

from chunker_spark.cdc import (
    GenSpec,
    IngestStream,
    LakeTable,
    gen_events_local,
    replay,
    state_rows,
    write_segments,
)
from chunker_spark.kernel import ChunkerParams

PARAMS = ChunkerParams(average_bits=9, min_size=256, max_size=4096)


def test_duplicate_events_dropped(spark, tmp_path):
    """Duplicate a whole segment (at-least-once producer): the copy
    carries the same seqs, so last-writer-wins absorbs it and the final
    state still equals the oracle over the original stream. One file
    per trigger puts the duplicate segment in its own later batch,
    after the rows it repeats (and newer ones) were committed."""
    spec = GenSpec(seed=5, n_keys=30, mean_blocks=3)
    events = list(gen_events_local(spec, 200))
    seg_dir = str(tmp_path / "segments")
    write_segments(spark, spec, 200, seg_dir, n_segments=4)
    # duplicate segment 1 as a new file (same rows, same seqs)
    src = sorted(glob.glob(f"{seg_dir}/segment-*.parquet"))[1]
    shutil.copy(src, f"{seg_dir}/segment-00009.parquet")

    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    stream = IngestStream(
        spark,
        lake,
        seg_dir,
        str(tmp_path / "ckpt"),
        params=PARAMS,
        max_files_per_trigger=1,
    )
    stream.run_available()

    got = lake.read().select("repo", "path", "commit", "content_sha256")
    exp_rows = state_rows(replay(events))
    assert got.count() == len(exp_rows)
    got_keys = {(r["repo"], r["path"], r["commit"]) for r in got.collect()}
    exp_keys = {(r["repo"], r["path"], r["commit"]) for r in exp_rows}
    assert got_keys == exp_keys


def test_windowed_metrics_streaming_equals_batch(spark, tmp_path):
    """Real F.window tumbling rollup with a watermark, run as a
    Structured Stream (availableNow → memory sink, complete mode) —
    results equal the same aggregation computed in batch."""
    from chunker_spark.cdc.events import EVENT_SCHEMA
    from chunker_spark.cdc.streaming import windowed_event_metrics

    spec = GenSpec(seed=9, n_keys=20, mean_blocks=2)
    seg_dir = str(tmp_path / "segments")
    write_segments(spark, spec, 300, seg_dir, n_segments=3)

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(seg_dir)
    q = (
        windowed_event_metrics(stream, window="1 minute", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("win_metrics")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (str(r["window_start"]), r["op"]): (r["n_events"], r["bytes"])
        for r in spark.sql("SELECT * FROM win_metrics").collect()
    }
    batch = spark.read.schema(EVENT_SCHEMA).parquet(seg_dir)
    exp = {
        (str(r["window_start"]), r["op"]): (r["n_events"], r["bytes"])
        for r in windowed_event_metrics(batch).collect()
    }
    assert got == exp
    assert len(exp) > 3  # multiple windows and ops actually present


def test_session_window_streaming_equals_batch(spark, tmp_path):
    """Native F.session_window sessions computed as a Structured Stream
    (availableNow → memory sink) equal the same expression in batch,
    and cross-check against the window-function sessionize: same number
    of sessions per key and identical session_start sets (gap chosen
    away from the generator's spacing so the one documented boundary
    difference — exact-gap events — cannot fire)."""
    from chunker_spark.cdc.events import EVENT_SCHEMA
    from chunker_spark.cdc.streaming import session_window_stats
    from chunker_spark.ops.sessions import session_stats

    spec = GenSpec(seed=11, n_keys=15, mean_blocks=2)
    seg_dir = str(tmp_path / "segments")
    write_segments(spark, spec, 300, seg_dir, n_segments=3)
    gap = "6500 milliseconds"

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(seg_dir)
    q = (
        session_window_stats(stream, key_col="repo", gap=gap)
        .writeStream.format("memory")
        .queryName("sess_win")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["repo"], str(r["session_start"])): (str(r["session_end"]), r["n_events"])
        for r in spark.sql("SELECT * FROM sess_win").collect()
    }

    batch = spark.read.schema(EVENT_SCHEMA).parquet(seg_dir)
    exp = {
        (r["repo"], str(r["session_start"])): (str(r["session_end"]), r["n_events"])
        for r in session_window_stats(batch, key_col="repo", gap=gap).collect()
    }
    assert got == exp
    assert len(exp) > 15  # real multi-session structure

    # cross-algorithm check vs the window-function sessionizer
    alt = session_stats(batch, key_col="repo", gap_s=6.5)
    alt_rows = alt.collect()
    assert len(alt_rows) == len(exp)
    assert {(r["repo"], str(r["session_start"])) for r in alt_rows} == set(got)
    # n_events per (key, start) agree too
    alt_map = {(r["repo"], str(r["session_start"])): r["n_events"] for r in alt_rows}
    assert {k: v[1] for k, v in got.items()} == alt_map
