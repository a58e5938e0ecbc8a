"""End-to-end CDC walkthrough: binlog → streaming MERGE → query.

The full engine loop in one runnable script (the Spark-side counterpart
of examples/chunk_file.py): synthesize a deterministic change-event
binlog as parquet segments, tail it with Structured Streaming into a
merge-on-read lake table (exactly-once batch ids, salted chunking,
schema evolution mid-stream), then demonstrate the read surface —
current state, chunk-level dedup stats, per-window ingest metrics,
time travel, and snapshot expiry.

Usage: python examples/cdc_pipeline.py [n_events] [workdir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import chunker_spark too; they inherit PYTHONPATH.
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from pyspark.sql import SparkSession, functions as F

from chunker_spark.cdc import GenSpec, IngestStream, LakeTable, write_segments
from chunker_spark.cdc.events import EVENT_SCHEMA
from chunker_spark.cdc.streaming import windowed_event_metrics
from chunker_spark.kernel import ChunkerParams


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 600
    work = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="cdc-demo-")

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("cdc-pipeline-demo")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # 1. a deterministic binlog with schema evolution mid-stream
    #    (v2 adds `branch` at 1/3, v3 renames lang→language at 2/3)
    spec = GenSpec(
        seed=7, n_keys=max(n_events // 8, 10), mean_blocks=4,
        schema_ver_plan=((n_events // 3, 2), (2 * n_events // 3, 3)),
    )
    seg_dir = f"{work}/binlog"
    write_segments(spark, spec, n_events, seg_dir, n_segments=4)
    print(f"binlog: {n_events} events in 4 segments at {seg_dir}")

    # 2. stream → exactly-once MERGE into the lake (source-code params:
    #    2K/8K/64K chunks), with amortized snapshot expiry
    lake = LakeTable(spark, f"{work}/lake", num_buckets=8)
    IngestStream(
        spark, lake, seg_dir, f"{work}/ckpt",
        params=ChunkerParams(average_bits=13, min_size=2048, max_size=65536),
        max_files_per_trigger=1,
        expire_every=8, expire_keep_last=4,
    ).run_available()

    # 3. current state + per-row invariant + chunk-level dedup
    state = lake.read().cache()
    n_rows = state.count()
    chunks = state.select(F.explode("manifest").alias("c"))
    stats = chunks.agg(
        F.count(F.lit(1)).alias("chunks"),
        F.countDistinct("c.chunk_sha256").alias("distinct_chunks"),
        F.sum("c.length").alias("bytes"),
    ).collect()[0]
    print(
        f"state: {n_rows} live files, {stats['chunks']} chunks "
        f"({stats['distinct_chunks']} distinct = "
        f"{stats['distinct_chunks'] / max(stats['chunks'], 1):.0%} unique), "
        f"{stats['bytes']} bytes tiled"
    )

    # 4. ingest observability: tumbling event-time windows over the log
    log = spark.read.schema(EVENT_SCHEMA).parquet(seg_dir)
    print("per-minute ops:")
    for r in windowed_event_metrics(log).orderBy("window_start", "op").limit(6).collect():
        print(f"  {r['window_start']}  op={r['op']}  n={r['n_events']}  bytes={r['bytes']}")

    # 5. time travel: the table as of the first retained commit
    commits = sorted(int(f.split("-")[1].split(".")[0]) for f in lake._commit_files())
    old = lake.read(at=commits[0]).count()
    print(f"time travel: commit {commits[0]} had {old} live files (now {n_rows})")
    print(f"retained commits after in-stream expiry: {len(commits)}")

    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
