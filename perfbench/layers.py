"""Per-layer metrics of a traced run, all measured from outside the engine.

Sources: Spark's status stores and streaming progress (``sparkstats``),
the lake's commit JSONs and directory, and driver-side calls into the
kernel and manifest functions on the workload's own contents. The layer
of every metric, the end-to-end metric and workload it should move, and
the query-family map are in ``layers.json``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from datetime import datetime

import sparkstats
from stats import percentile

HERE = os.path.dirname(os.path.abspath(__file__))

with open(os.path.join(HERE, "layers.json")) as _fh:
    SPEC = json.load(_fh)

MB = 1e6


def metric_names() -> list[str]:
    return [m["name"] for m in SPEC["per_layer"]]


class Context:
    """Registers the streaming listener before the workload starts."""

    def __init__(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.progress: list[dict] = []
        #: per-batch layer figures by ingest phase, kept in the result file
        self.batch_rows: dict[str, list[dict]] = {}
        self.sql_metric_names: list[str] = []
        self.listener = sparkstats.progress_listener(spark, self.progress)


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _layer_totals(execs: list[dict]) -> dict[str, float]:
    """Named layer figures summed over ``execs``."""
    s = sparkstats.sum_layer
    return {
        "udf.python_run_s": s(execs, "udf", "time to run Python workers"),
        "udf.python_start_s": s(execs, "udf", "time to start Python workers",
                                "time to initialize Python workers"),
        "udf.mb_to_python": s(execs, "udf", "data sent to Python workers") / MB,
        "udf.mb_from_python": s(execs, "udf", "data returned from Python workers") / MB,
        "exchange.shuffle_mb": s(execs, "exchange", "shuffle bytes written") / MB,
        "exchange.write_s": s(execs, "exchange", "shuffle write time"),
        "exchange.fetch_wait_s": s(execs, "exchange", "fetch wait time"),
        "exchange.broadcast_mb": s(execs, "broadcast", "data size") / MB,
        "scan.files_read": s(execs, "scan", "number of files read"),
        "scan.mb_read": s(execs, "scan", "size of files read") / MB,
        "scan.time_s": s(execs, "scan", "scan time"),
    }


def _kernel_figures(contents: list[bytes], versions: list[list[bytes]], tracer) -> dict:
    """Driver-side kernel and manifest throughput on the workload's own
    contents, and the chunk reuse between consecutive versions of a key."""
    import pandas as pd

    from chunker_spark.cdc.events import SOURCE_PARAMS
    from chunker_spark.functions.manifest import manifest_udf
    from chunker_spark.kernel.vectorized import chunk_many

    total = sum(len(c) for c in contents) or 1
    kt, chunks = [], 0
    for _ in range(3):
        with tracer.span("kernel.chunk_many"):
            t0 = time.perf_counter()
            out = chunk_many(contents, SOURCE_PARAMS)
            kt.append(time.perf_counter() - t0)
        chunks = sum(len(c) for c in out)
    fn = manifest_udf(SOURCE_PARAMS).func
    series = pd.Series([c.decode("utf-8") for c in contents])
    mt = []
    for _ in range(3):
        with tracer.span("manifest.udf_func"):
            t0 = time.perf_counter()
            fn(series)
            mt.append(time.perf_counter() - t0)
    reused = attempts = 0
    for seq in versions:
        if len(seq) < 2:
            continue
        mans = fn(pd.Series([c.decode("utf-8") for c in seq]))
        for prev, cur in zip(mans[:-1], mans[1:]):
            have = {c["chunk_sha256"] for c in prev}
            attempts += len(cur)
            reused += sum(1 for c in cur if c["chunk_sha256"] in have)
    return {
        "kernel.mb_per_s": total / MB / statistics.median(kt),
        "kernel.chunks": float(chunks),
        "kernel.reused_chunk_share": reused / attempts if attempts else 0.0,
        "manifest.mb_per_s": total / MB / statistics.median(mt),
    }


def _ingest_contents(events: list[dict]) -> tuple[list[bytes], list[list[bytes]]]:
    contents, by_key = [], {}
    for ev in events:
        key = (ev["repo"], ev["path"])
        if ev["content"] is None:
            by_key[key] = []  # a delete ends the version chain
            continue
        b = ev["content"].encode("utf-8")
        contents.append(b)
        by_key.setdefault(key, []).append(b)
    return contents, list(by_key.values())


def _dir_bytes(root: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(f"{root}/**/*", recursive=True)
               if os.path.isfile(p))


def collect(ctx: Context, workload: str, res: dict, root_span) -> dict:
    """Every per-layer metric of ``layers.json``: medians per batch for the
    ingest workload, per pass for the query suite; 0 where the
    workload has no such layer."""
    spark, tracer = ctx.spark, ctx.tracer
    spark.streams.removeListener(ctx.listener)
    execs = sparkstats.SqlStore(spark).executions()
    jobs = sparkstats.jobs(spark)
    job_group = {j["id"]: j["group"] for j in jobs}
    for e in execs:
        groups = {job_group.get(j) for j in e["jobs"]}
        e["group"] = next((g for g in groups if g), None)
    m = {name: 0.0 for name in metric_names()}

    if workload == "ingest":
        m.update(_ingest_layers(ctx, res, execs, jobs, root_span))
        contents, versions = _ingest_contents(res["events"])
    else:
        m.update(_query_layers(ctx, res, execs, jobs))
        import pyarrow.parquet as pq

        texts = pq.read_table(os.path.join(res["tables"], "documents.parquet"),
                              columns=["text"]).column("text").to_pylist()
        contents, versions = [t.encode("utf-8") for t in texts], []
    m.update(_kernel_figures(contents, versions, tracer))
    ctx.sql_metric_names = sorted({f"{layer}: {n}" for e in execs
                                   for layer, vals in e["metrics"].items() for n in vals})
    return {k: {"value": float(v), "unit": UNITS[k]} for k, v in m.items()}


UNITS = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def _ingest_layers(ctx, res, execs, jobs, root_span) -> dict:
    tracer = ctx.tracer
    out: dict[str, float] = {}
    phases = {s["id"]: s["name"] for s in tracer.spans if s["name"] in ("backfill", "tail")}
    spans = [s for s in tracer.spans if s["id"] in phases]
    batches = []
    for p in ctx.progress:
        if p["rows"] == 0:
            continue
        start = _epoch(p["timestamp"])
        d = p["duration_ms"]
        end = start + d.get("triggerExecution", 0) / 1000.0
        parent = next((s["id"] for s in spans if s["start"] <= start <= s["end"]), root_span)
        sid = tracer.add("batch", start, end, parent=parent, batch=p["batch"],
                         rows=p["rows"], duration_ms=d)
        batches.append({"p": p, "start": start, "end": end, "span": sid,
                        "phase": phases.get(parent)})
    stream_jobs = [j for j in jobs if not (j["group"] or "").startswith("perfbench-")]
    rows = {"backfill": [], "tail": []}
    for b in batches:
        bj = [j for j in stream_jobs if j["start"] and b["start"] <= j["start"] <= b["end"]]
        be = [e for e in execs if e["start"] and b["start"] <= e["start"] <= b["end"]
              and not (e["group"] or "").startswith("perfbench-")]
        for e in be:
            tracer.add("sql", e["start"], e["end"] or e["start"], parent=b["span"],
                       execution=e["id"])
        row = _layer_totals(be)
        d = b["p"]["duration_ms"]
        row.update({
            "spark.jobs": len(bj), "spark.stages": sum(j["stages"] for j in bj),
            "spark.tasks": sum(j["tasks"] for j in bj),
            "streaming.rows_per_batch": b["p"]["rows"],
            "streaming.trigger_ms": d.get("triggerExecution", 0),
            "streaming.add_batch_ms": d.get("addBatch", 0),
            "streaming.overhead_ms": sum(d.get(k, 0) for k in (
                "latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")),
        })
        if b["phase"] in rows:
            rows[b["phase"]].append(row)
    ctx.batch_rows = rows
    # the bytes path is measured on the backfill's batches, the per-batch
    # control plane on the tail's
    for k in (rows["backfill"] or rows["tail"] or [{}])[0]:
        src = rows["backfill"] if k.split(".")[0] in ("udf", "exchange", "scan") else rows["tail"]
        out[k] = _median(r[k] for r in src)
    out["streaming.batches"] = float(len(batches))

    # lake write side: commit JSONs recorded as they appeared (data files
    # are sized when a commit first references them, compaction output
    # included), and the lake directory after the run
    commits = [res["commits"][s] for s in sorted(res["commits"])]
    live = commits[-1]["files"] if commits else {}
    content_bytes = sum(len(e["content"].encode("utf-8")) for e in res["events"]
                        if e["content"] is not None)
    written = sum(c["new_bytes"] for c in commits)
    lake_bytes = _dir_bytes(os.path.join(res["lake_root"], "data"))
    live_bytes = sum(len(r["content"].encode("utf-8")) for r in _live_rows(res["events"]))
    out.update({
        "lake.files_written": _median(c["new_files"] for c in commits),
        "lake.mb_written": _median(c["new_bytes"] / MB for c in commits),
        "lake.write_amplification": written / content_bytes if content_bytes else 0.0,
        "lake.compactions": float(sum(1 for c in commits if c["compacted"])),
        "lake.commit_json_kb": _median(c["bytes"] / 1e3 for c in commits),
        "lake.files_per_bucket_max": float(max((len(v) for v in live.values()), default=0)),
        "lake.space_amplification": lake_bytes / live_bytes if live_bytes else 0.0,
    })

    # lake read side: each lookup's executions, by its job group
    lk = res["lookups"]
    per_lookup = []
    for r in lk:
        le = [e for e in execs if e["group"] == r["group"]]
        per_lookup.append({
            "files": sparkstats.sum_layer(le, "scan", "number of files read"),
            "mb": sparkstats.sum_layer(le, "scan", "size of files read") / MB,
            "jobs": sum(1 for j in jobs if j["group"] == r["group"]),
        })
    lat = [r["t1"] - r["t0"] for r in lk]
    out.update({
        "lookup.files_read": _median(x["files"] for x in per_lookup),
        "lookup.mb_read": _median(x["mb"] for x in per_lookup),
        "lookup.jobs": _median(x["jobs"] for x in per_lookup),
        "lookup.p50_ms": percentile(lat, 50) * 1000 if lat else 0.0,
        "lookup.p90_ms": percentile(lat, 90) * 1000 if lat else 0.0,
        "freshness.p90_s": percentile(res["freshness_s"], 90) if res["freshness_s"] else 0.0,
    })
    return out


def _live_rows(events: list[dict]) -> list[dict]:
    from chunker_spark.cdc import replay

    return [r for r in replay(events).values() if r["content"] is not None]


def _query_layers(ctx, res, execs, jobs) -> dict:
    """Per pass: build and action time, jobs and shuffle per family, and
    the layer totals of the pass's executions."""
    fam = SPEC["query_families"]
    qs = [q for q in res["queries"] if "build_s" in q]
    groups = {q["group"] for q in qs}
    pe = [e for e in execs if e["group"] in groups]
    out = _layer_totals(pe)
    pj = [j for j in jobs if j["group"] in groups]
    out.update({
        "spark.jobs": float(len(pj)),
        "spark.stages": float(sum(j["stages"] for j in pj)),
        "spark.tasks": float(sum(j["tasks"] for j in pj)),
        "query.build_s": sum(q["build_s"] for q in qs),
        "query.action_s": sum(q["action_s"] for q in qs),
        "query.python_run_s": out["udf.python_run_s"],
    })
    for f in SPEC["families"]:
        fq = [q for q in qs if fam[q["name"]] == f]
        g = {q["group"] for q in fq}
        fe = [e for e in execs if e["group"] in g]
        out[f"query.{f}.build_s"] = sum(q["build_s"] for q in fq)
        out[f"query.{f}.action_s"] = sum(q["action_s"] for q in fq)
        out[f"query.{f}.jobs"] = float(sum(1 for j in jobs if j["group"] in g))
        out[f"query.{f}.shuffle_mb"] = sparkstats.sum_layer(
            fe, "exchange", "shuffle bytes written") / MB
    for e in pe:
        parent = next((s["id"] for s in ctx.tracer.spans
                       if s["name"] == "query" and s.get("group") == e["group"]), None)
        ctx.tracer.add("sql", e["start"], e["end"] or e["start"], parent=parent,
                       execution=e["id"])
    return out


def overhead(results_dir: str, workload: str, seed: int, traced: dict) -> dict:
    """Traced minus untraced end-to-end metrics, against the newest
    untraced result of the same workload and seed in ``results_dir``."""
    best = None
    for path in glob.glob(os.path.join(results_dir, f"{workload}-s{seed}-t0-*.json")):
        if best is None or os.path.getmtime(path) > os.path.getmtime(best):
            best = path
    if best is None:
        return {"note": "no untraced run of this workload and seed to compare with"}
    with open(best) as fh:
        base = json.load(fh)["metrics"]
    return {k: {"traced": v["value"], "untraced": base[k]["value"],
                "difference": v["value"] - base[k]["value"], "unit": v["unit"]}
            for k, v in traced.items() if k in base}
