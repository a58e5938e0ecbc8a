#!/usr/bin/env python3
"""The repository benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload ingest --seed 3 --seconds 16 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` alone,
before timing, and cached under ``perfbench/.work``; everything the run
writes stays there. The run prints each metric by name, unit and sample
count, then, as its last line, one JSON object::

    {"correct": true, "attempted": 37, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` is a separate traced run that reports the per-layer metrics
and writes its spans (with self times) to ``perfbench/.work/results``.
``perfbench/layers.json`` defines every metric per workload.
The exit code is 0 only when every output matched its oracle; with no
engine to import (``chunker_spark``) it is 2.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CORES = 4

#: Workload shapes. Changing one changes the benchmark: a perf claim may
#: not edit these.
SHAPES = {
    "ingest": {
        "buckets": 16,
        # 16 KiB mean content: most files exceed SOURCE_PARAMS.min_size
        # (2 KiB) and split into several chunks. At this size a traced run
        # still finds per-batch Spark work, not the bytes, taking most of
        # each batch
        "backfill": {"mean_kib": 16, "events": 720, "segments": 12, "batches": 4},
        # 1 KiB content, below min_size: the kernel's no-hash path, so
        # per-batch control-plane work dominates. Offered load: 10
        # segments/s x 10 events = 100 events/s; a batch takes what landed
        # during the one before, and at this rate batch time (5-7 s on a
        # 4-core VM) does not grow from batch to batch. ``events`` caps the
        # tail's length.
        "tail": {"mean_kib": 1, "events": 1600, "segment_events": 10,
                 "segments_per_s": 10.0, "trigger": "500 milliseconds",
                 "expire_every": 4, "lookup_think_s": 0.5},
    },
    # one query per family plus the two slowest text/dedup queries, at
    # sf0.001, in one pass on a fresh session: each query's first run,
    # code generation included
    "query_suite": {
        "sf": 0.001,
        "queries": [
            "pricing_summary", "doc_tokens", "doc_repetition", "simhash",
            "ann_topk", "chunk_store", "cdc_changes", "debezium_parse",
        ],
    },
}


_T0 = time.time()


def log(msg: str) -> None:
    print(msg, flush=True)


def phase(msg: str) -> None:
    """Progress on stderr, stamped with seconds since the run started."""
    print(f"[perfbench {time.time() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


# ---- environment ------------------------------------------------------------------


def prepare_env() -> str:
    """Keep every file the run and its child processes write under WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH", "")) if p
    )
    # every JVM, the launcher's too: temp files under WORK, no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return tmp


def engine_importable() -> bool:
    try:
        import __spark_entry__  # noqa: F401
        import chunker_spark.cdc  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the engine is not importable from {ROOT}: {ex}", file=sys.stderr)
        return False
    return True


def labels() -> dict:
    """What the run ran on; labels, not metrics."""
    import pyspark

    from chunker_spark.kernel import native

    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    prov = native.provider()
    return {
        "nproc": os.cpu_count(),
        "cores_used": CORES,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": next((ln for ln in java.stderr.splitlines() if "version" in ln), "?"),
        "kernel_provider": "numpy" if prov is None else type(prov).__name__,
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def dram_probe() -> dict | None:
    """``bench/bw_probe.py`` at a small size (16 MiB, 2 processes)."""
    import importlib.util

    path = os.path.join(ROOT, "bench", "bw_probe.py")
    if not os.path.exists(path):
        return None
    spec = importlib.util.spec_from_file_location("_bw_probe", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.probe(n_mb=16, procs=2)


# ---- Spark set-up -----------------------------------------------------------------


def _warm_partition(it):
    """Runs in each Python worker: import the engine, load the kernel."""
    from chunker_spark.kernel import native

    native.provider()
    yield from it


def start_spark(tmp: str):
    """SparkSession on local[4] plus warm-up: Python workers started on
    every core with the engine imported and the native kernel loaded, and
    one string-keyed shuffle. Returns (session, seconds): the set-up time,
    JVM start included, up to the first timed operation."""
    from pyspark.sql import SparkSession, functions as F

    from chunker_spark.kernel import native

    t0 = time.perf_counter()
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", os.path.join(tmp, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        # keep every job, stage and SQL execution of the run readable
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    native.provider()
    spark.range(0, CORES, 1, CORES).mapInPandas(
        lambda it: _warm_partition(it), "id long").count()
    spark.range(0, 100_000).groupBy(
        (F.col("id") % 97).cast("string").alias("k")).count().count()
    return spark, time.perf_counter() - t0


# ---- inputs -----------------------------------------------------------------------


def make_inputs(workload: str, seed: int) -> tuple[str, str]:
    import inputs

    shape = SHAPES[workload]
    if workload == "query_suite":
        d = inputs.cached(WORK, "tables", {"sf": shape["sf"]}, seed,
                          lambda out: inputs.write_tables(shape, seed, out))
    else:
        gen = {p: {k: shape[p][k] for k in ("mean_kib", "events", "segments", "segment_events")
                   if k in shape[p]} for p in ("backfill", "tail")}
        d = inputs.cached(WORK, "events", gen, seed,
                          lambda out: inputs.write_events(shape, seed, out))
    return d, inputs.fingerprint(d)


def query_expectations(shape: dict, tables: str) -> dict[str, int]:
    """Oracle row counts, computed once per set of tables and oracle SQL.
    They are kept beside, not inside, the fingerprinted tables directory,
    under a key that hashes the selected queries' ``oracle_sql()`` text."""
    import hashlib

    import __spark_entry__ as entry
    import workloads

    oracles = entry.oracle_sql()
    key = hashlib.sha256(json.dumps({n: oracles[n] for n in shape["queries"]},
                                    sort_keys=True).encode()).hexdigest()[:16]
    path = f"{tables}.oracle-{key}.json"
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    counts = workloads.oracle_counts(shape["queries"], tables)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(counts, fh)
    os.replace(tmp, path)
    return counts


# ---- metrics ----------------------------------------------------------------------


def ms(x: float) -> float:
    return x * 1000.0


def e2e_metrics(workload: str, res: dict, setup_s: float, peak_rss: int) -> tuple[dict, dict]:
    """(end-to-end metrics, named figures for the report)."""
    from stats import percentile, summary, supports

    report: dict = {}
    if workload == "ingest":
        fresh = res["freshness_s"]
        lk = [r["t1"] - r["t0"] for r in res["lookups"]]
        fs, ls = summary(fresh), summary(lk)
        latency = fs["p50"]
        throughput = res["backfill_events"] / res["backfill_s"]
        report["events_per_s"] = {"value": throughput, "unit": "events/s",
                                  "n": res["backfill_batches"], "stat": "backfill"}
        # segments share their batch's commit time, so a percentile is
        # supported by committed tail batches, not by segments
        nb = res["tail_batches"]
        report["freshness_p50_s"] = {"value": fs["p50"], "unit": "s", "n": fs["n"],
                                     "batches": nb, "supported": supports(nb, 50)}
        report["freshness_p90_s"] = {"value": fs["p90"], "unit": "s", "n": fs["n"],
                                     "batches": nb, "supported": supports(nb, 90)}
        if lk:
            report["lookup_p50_ms"] = {"value": ms(ls["p50"]), "unit": "ms", "n": ls["n"],
                                       "supported": supports(ls["n"], 50)}
            report["lookup_p90_ms"] = {"value": ms(ls["p90"]), "unit": "ms", "n": ls["n"],
                                       "supported": ls["p90_supported"]}
        late = res["lateness_s"]
        report["generator_late_p90_ms"] = {"value": ms(percentile(late, 90)), "unit": "ms",
                                           "n": len(late), "label": True}
    else:
        qs = [q for q in res["queries"] if "build_s" in q]
        per = [q["build_s"] + q["action_s"] for q in qs]
        suite = sum(per)
        # the geometric mean weighs every query's relative change alike;
        # the median of eight queries jumps between two of them
        latency = math.exp(sum(math.log(x) for x in per) / len(per))
        throughput = len(per) / suite
        report["query_suite_s"] = {"value": suite, "unit": "s", "n": len(per),
                                   "stat": "sum over queries"}
    report["setup_s"] = {"value": setup_s, "unit": "s", "n": 1}
    report["peak_rss_mb"] = {"value": peak_rss / 1e6, "unit": "MB", "n": 1}
    metrics = {
        "latency_ms": {"value": ms(latency), "unit": "ms"},
        "throughput_per_s": {"value": throughput, "unit": "1/s"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }
    return metrics, report


def ops_count(workload: str, res: dict) -> tuple[int, int]:
    """(attempted, failed) ops: batches, lookups and queries. A wrong final
    state, or a landed segment never committed, fails every batch."""
    if workload == "ingest":
        batches = max(res["batches"], 1)
        bad = 0 if res["state_ok"] else batches
        return batches + len(res["lookups"]), bad + res["lookup_failures"]
    return len(res["queries"]), sum(1 for q in res["queries"] if "error" in q)


# ---- main -------------------------------------------------------------------------


def main(argv=None) -> int:
    """Run one workload; on every way out, end the JVM and wait for every
    process the run started."""
    import procs

    procs.adopt_orphans()
    try:
        return run(argv)
    finally:
        procs.stop_jvm()
        procs.reap_all()
        phase("all processes ended")


def run(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    tmp = prepare_env()
    if not engine_importable():
        return 2
    tmp_before = set(os.listdir(tmp))
    sys.path.insert(0, HERE)
    import layers
    import workloads
    from sparkstats import RssSampler
    from spans import Tracer

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    run_dir = os.path.join(WORK, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tracer = Tracer(run_id, enabled=bool(args.trace))
    shape = SHAPES[args.workload]

    probe_start = dram_probe()
    phase("dram probe")
    inputs_dir, fp = make_inputs(args.workload, args.seed)
    phase("inputs")
    if args.workload == "query_suite":
        workloads.redirect_fixtures(os.path.join(WORK, "fixtures"))
        expected = query_expectations(shape, inputs_dir)
        phase("oracle row counts")

    sampler = RssSampler().start()
    ticks0 = cpu_ticks()
    spark = None
    try:
        spark, setup_s = start_spark(tmp)
        phase(f"set-up {setup_s:.2f}s")
        lab = labels()
        ctx = layers.Context(spark, tracer) if args.trace else None
        with tracer.span("run", workload=args.workload) as root:
            if args.workload == "ingest":
                res = workloads.run_ingest(spark, shape, args.seed, inputs_dir, run_dir,
                                           tracer, args.seconds)
            else:
                res = workloads.run_queries(spark, shape["queries"], inputs_dir, expected,
                                            tracer)
        phase("workload")
        sampler.stop()
        metrics, report = e2e_metrics(args.workload, res, setup_s, sampler.peak)
        per_layer = None
        if args.trace:
            per_layer = layers.collect(ctx, args.workload, res, root)
            per_layer["process.peak_rss_mb"] = {"value": sampler.peak / 1e6, "unit": "MB"}
    finally:
        sampler.stop()
        if spark is not None:
            spark.stop()
    phase("spark stopped")
    ticks1 = cpu_ticks()
    steal = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
    probe_end = dram_probe()

    attempted, failed = ops_count(args.workload, res)
    correct = failed == 0 and not res["failures"]
    result = {
        "run": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "input_fingerprint": fp,
        "labels": {**lab, "dram_start": probe_start, "dram_end": probe_end,
                   "cpu_steal_share": round(steal, 4)},
        "report": report, "metrics": metrics, "per_layer": per_layer,
        "attempted": attempted, "failed": failed, "failures": res["failures"][:20],
        "detail": {k: v for k, v in res.items()
                   if k in ("batch_s", "freshness_s", "backfill_visible_s", "lateness_s", "queries")},
    }
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    if args.trace:
        result["tracing_overhead"] = layers.overhead(results, args.workload, args.seed, metrics)
        result["sql_metric_names"] = ctx.sql_metric_names
        result["batch_layers"] = ctx.batch_rows
        tracer.write(os.path.join(results, f"{run_id}.spans.jsonl"))
    with open(os.path.join(results, f"{run_id}.json"), "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    # scratch lakes the queries create under TMPDIR; the compiled kernel stays
    for name in set(os.listdir(tmp)) - tmp_before:
        if not name.endswith(".so"):
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)

    log(f"perfbench {args.workload} seed={args.seed} trace={args.trace} inputs={fp[:16]}")
    log("labels: " + json.dumps(result["labels"], default=str))
    for name, r in report.items():
        extra = f" batches={r['batches']}" if "batches" in r else ""
        if not r.get("supported", True):
            extra += " (fewer than 10 samples beyond the percentile)"
        log(f"  {name:24s} {r['value']:12.4f} {r['unit']:9s} n={r['n']}{extra}")
    log(f"  {'failed_share':24s} {failed / attempted:12.4f} {'ratio':9s} n={attempted}")
    for f in res["failures"][:20]:
        log(f"  FAILED: {f}")
    if args.trace:
        log("tracing overhead: " + json.dumps(result["tracing_overhead"]))
    out = per_layer if args.trace else metrics
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
