"""CDC ingest benchmark: sustained change-events/sec with state verify.

The BASELINE.json protocol: apply a deterministic change-event stream to
the lake table via the micro-batch MERGE engine, verify the final-state
sha256 against the single-threaded oracle, and report throughput. Run at
two parallelism levels (e.g. --parallelism 8 and 32) on identical input
to evidence the N-vs-4N scaling criterion (see BENCH/BASELINE.md).

Usage:
  spark-submit [--py-files chunker_spark.zip] bench/run_ingest.py \
      --events 200000 --parallelism 8 --seed 42 [--keys 2000] \
      [--batches 8] [--out /tmp/lake] [--skip-verify]

Prints one JSON line:
  {"metric": "cdc_ingest_events_per_sec",
                "mode": "stream" if args.segments else "synth", "value": ..., "unit": "events/s",
   "events": N, "parallelism": P, "elapsed_sec": ..., "state_sha256": ...,
   "verified": true}
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

try:  # spark-submit --py-files chunker_spark.zip puts the package on path
    import chunker_spark  # noqa: F401
except ImportError:  # repo-checkout fallback for plain `python bench/run_ingest.py`
    sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import SparkSession

from chunker_spark.cdc import (
    GenSpec,
    LakeTable,
    apply_batch,
    events_df,
    gen_events_local,
    replay,
    state_digest,
    state_rows,
)
from chunker_spark.cdc.events import SOURCE_PARAMS


def build_spark(parallelism: int, local_dir: str = "") -> SparkSession:
    b = (
        SparkSession.builder.master(f"local[{parallelism}]")
        .appName(f"cdc-ingest-bench-p{parallelism}")
        .config("spark.sql.shuffle.partitions", str(max(parallelism, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        # executor-sized heap (see bench.py): large lazy heaps stall on
        # this host's slow fresh-page faulting; the ingest working set
        # per batch is bounded by maxBytesPerTrigger-scale volumes anyway
        .config("spark.driver.memory", "12g")
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    return b.getOrCreate()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=100_000)
    ap.add_argument("--keys", type=int, default=0, help="default: events//10")
    ap.add_argument("--parallelism", type=int, default=8)
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--out", type=str, default="")
    ap.add_argument("--skip-verify", action="store_true")
    ap.add_argument("--metrics", action="store_true", help="collect per-batch lineage stats")
    ap.add_argument("--mean-kb", type=int, default=8, help="mean content size per file")
    ap.add_argument(
        "--segments",
        type=str,
        default="",
        help="pre-materialized binlog dir (see --gen-segments): measure the "
        "streaming ingest alone, excluding event synthesis",
    )
    ap.add_argument(
        "--gen-segments",
        type=str,
        default="",
        help="only generate the event log as parquet files into this dir, then exit",
    )
    ap.add_argument(
        "--trigger",
        choices=["available", "processing"],
        default="available",
        help="streaming trigger mode for --segments runs: AvailableNow "
        "backfill (default) or the long-lived processing-time tail "
        "(soak shape; reports the per-batch latency series)",
    )
    ap.add_argument(
        "--tmpfs",
        action="store_true",
        help="place lake, checkpoint and shuffle dirs on /dev/shm — the "
        "single-host analogue of cluster storage whose bandwidth scales "
        "with executors (local disk does not)",
    )
    args = ap.parse_args()

    spec = GenSpec(
        seed=args.seed,
        n_keys=args.keys or max(args.events // 10, 10),
        mean_blocks=args.mean_kb,
        schema_ver_plan=((args.events // 3, 2), (2 * args.events // 3, 3)),
    )
    base_tmp = "/dev/shm" if args.tmpfs else None
    out = args.out or tempfile.mkdtemp(prefix="cdc-lake-", dir=base_tmp)

    spark = build_spark(args.parallelism, local_dir=tempfile.mkdtemp(prefix="cdc-local-", dir=base_tmp) if args.tmpfs else "")
    spark.sparkContext.setLogLevel("ERROR")

    if args.gen_segments:
        # materialize the binlog once (any parallelism); ingest runs at
        # different cluster sizes then consume the identical input.
        # Enough files that each trigger's scan stage can parallelize
        # across the largest cluster size measured.
        n_files = max(args.batches * 32, 128)
        (
            events_df(spark, spec, args.events, partitions=n_files)
            .write.mode("overwrite")
            .parquet(args.gen_segments)
        )
        print(json.dumps({"generated": args.events, "dir": args.gen_segments, "files": n_files}))
        spark.stop()
        return

    lake = LakeTable(spark, out, num_buckets=args.buckets)

    # Warmup (excluded from throughput): a small throwaway ingest so JVM
    # codegen, Python workers (imports) and kernel tables are hot before
    # t0 — measuring sustained events/s, not cold start.
    warm_dir = tempfile.mkdtemp(prefix="cdc-warm-")
    warm_lake = LakeTable(spark, warm_dir, num_buckets=args.buckets)
    warm_spec = GenSpec(seed=args.seed + 991, n_keys=2000, mean_blocks=8)
    apply_batch(
        warm_lake,
        events_df(spark, warm_spec, 4000, partitions=args.parallelism),
        batch_id="warmup",
        params=SOURCE_PARAMS,
        collect_metrics=False,
    )
    shutil.rmtree(warm_dir, ignore_errors=True)

    t0 = time.time()
    if args.segments:
        # the north-rule architecture: tail the pre-materialized binlog
        # with Structured Streaming, one foreachBatch MERGE per trigger
        from chunker_spark.cdc import IngestStream

        seg_files = [f for f in os.listdir(args.segments) if f.endswith(".parquet")]
        per_trigger = max(1, (len(seg_files) + args.batches - 1) // args.batches)
        stream = IngestStream(
            spark,
            lake,
            args.segments,
            checkpoint_dir=tempfile.mkdtemp(prefix="cdc-ckpt-", dir=base_tmp),
            params=SOURCE_PARAMS,
            max_files_per_trigger=per_trigger,
            # throughput protocol measures the one-job-per-batch hot
            # path; the metrics/lineage pipeline (one extra per-batch
            # action, the chunk-reuse count over the batch keys'
            # history) is --metrics, measured separately
            collect_metrics=args.metrics,
        )
        t0 = time.time()
        if args.trigger == "processing":
            run_info = stream.run_processing_time(
                interval="200 milliseconds", min_batches=args.batches, idle_for_s=1.5
            )
            if not run_info["drained"]:
                # deadline undershoot: fewer batches than requested ran —
                # surface it instead of reporting a silently-truncated rate
                print(json.dumps({"warning": "deadline before drain", **run_info}),
                      file=sys.stderr)
        else:
            stream.run_available()
    else:
        per = (args.events + args.batches - 1) // args.batches
        for b in range(args.batches):
            lo, hi = b * per, min((b + 1) * per, args.events)
            if lo >= hi:
                break
            # distributed lazy synthesis of this batch's slice of the
            # log; task granularity: >= parallelism tasks
            parts = max(args.parallelism, min((hi - lo) // 4000, args.parallelism * 4))
            batch = events_df(spark, spec, hi, partitions=parts, start=lo)
            apply_batch(
                lake,
                batch,
                batch_id=f"bench-{b}",
                params=SOURCE_PARAMS,
                collect_metrics=args.metrics,
            )
    elapsed = time.time() - t0

    # final-state digest from the lake
    rows = (
        lake.read()
        .select("repo", "path", "commit", "language", "branch", "content_sha256")
        .collect()
    )
    got_rows = sorted(
        (dict(r.asDict()) for r in rows), key=lambda r: (r["repo"], r["path"])
    )
    digest = state_digest(got_rows)

    verified = None
    if not args.skip_verify:
        exp = state_rows(replay(gen_events_local(spec, args.events)))
        verified = state_digest(exp) == digest
        if not verified:
            print(json.dumps({"error": "state mismatch", "got": digest}), file=sys.stderr)
            sys.exit(1)

    result = {
        "metric": "cdc_ingest_events_per_sec",
        "mode": "stream" if args.segments else "synth",
        "value": round(args.events / elapsed, 1),
        "unit": "events/s",
        "events": args.events,
        "keys": spec.n_keys,
        "parallelism": args.parallelism,
        "batches": args.batches,
        "elapsed_sec": round(elapsed, 2),
        "state_sha256": digest,
        "verified": verified,
        "rows_final": len(got_rows),
    }
    if args.segments:
        lat = sorted(stream.batch_latencies)
        if lat:
            result["trigger"] = args.trigger
            result["batch_latency_p50"] = lat[len(lat) // 2]
            result["batch_latency_p95"] = lat[min(len(lat) - 1, int(len(lat) * 0.95))]
            result["batch_latencies"] = list(stream.batch_latencies)
        if args.trigger == "processing":
            result["drained"] = run_info["drained"]
    print(json.dumps(result))
    spark.stop()
    if not args.out:
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
