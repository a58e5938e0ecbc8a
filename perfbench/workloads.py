"""The two workloads, each driving the engine's production entry points.

* ``ingest`` -- a closed-loop backfill (``IngestStream.run_available`` over
  pre-generated segments in a few large batches, ``collect_metrics=False``),
  then an open-loop live tail on the same lake and checkpoint: a generator
  thread lands small segments by atomic rename on a fixed schedule while
  ``run_processing_time`` (metrics on, expiry on) tails them and one
  closed-loop reader thread issues ``LakeTable.lookup(repo, path,
  at=<observed commit>)``.
* ``query_suite`` -- one closed-loop client runs a fixed set of
  ``__spark_entry__.queries()`` with each output written to a noop sink.

Each ``run`` returns the raw observations; ``run.py`` turns them into
metrics. Every op that fails, or whose output disagrees with the oracle,
is recorded in ``failures``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import threading
import time
import traceback

import inputs

TABLE_COLS = ("repo", "path", "commit", "language", "branch", "content_sha256")


def lake_digest(lake) -> str:
    """``state_digest`` of the lake's current state."""
    from chunker_spark.cdc import state_digest

    rows = lake.read().select(*TABLE_COLS).collect()
    return state_digest(sorted((r.asDict() for r in rows), key=lambda r: (r["repo"], r["path"])))


def oracle_digest(events: list[dict]) -> str:
    from chunker_spark.cdc import replay, state_digest, state_rows

    return state_digest(state_rows(replay(events)))


class CommitObserver:
    """Polls a lake's ``meta/`` directory and records every commit JSON
    as it appears, before expiry can remove it: seq -> {batch_id, ts,
    bytes, files, compacted, new_files, new_bytes}; the last two count the
    data files the commit references for the first time."""

    def __init__(self, root: str, interval_s: float = 0.02) -> None:
        self.meta = os.path.join(root, "meta")
        self.interval_s = interval_s
        self.commits: dict[int, dict] = {}
        self._sizes: dict[str, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="commit-observer", daemon=True)

    def poll(self) -> None:
        try:
            names = os.listdir(self.meta)
        except FileNotFoundError:
            return
        for name in sorted(names):
            if not (name.startswith("commit-") and name.endswith(".json")):
                continue
            seq = int(name[len("commit-"):-len(".json")])
            if seq in self.commits:
                continue
            path = os.path.join(self.meta, name)
            try:
                with open(path) as fh:
                    raw = fh.read()
            except FileNotFoundError:  # expired between listdir and open
                continue
            c = json.loads(raw)
            new = [p for fl in c["files"].values() for p in fl if p not in self._sizes]
            for p in new:
                try:
                    self._sizes[p] = os.path.getsize(p)
                except OSError:  # already expired
                    self._sizes[p] = 0
            with self._lock:
                self.commits[seq] = {
                    "batch_id": c["batch_id"], "ts": c["ts"], "bytes": len(raw),
                    "files": c["files"], "compacted": c.get("compacted_buckets", []),
                    "new_files": len(new), "new_bytes": sum(self._sizes[p] for p in new),
                }

    def latest(self) -> int | None:
        with self._lock:
            return max(self.commits) if self.commits else None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.poll()
            self._stop.wait(self.interval_s)

    def start(self) -> "CommitObserver":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.poll()


def source_log(checkpoint: str) -> dict[str, int]:
    """Segment file name -> micro-batch id, from the file source's own
    log in the checkpoint (``sources/0/<batch>`` and ``<batch>.compact``
    files: a version line, then one JSON entry per file)."""
    out: dict[str, int] = {}
    d = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as fh:
            lines = fh.read().splitlines()
        for line in lines[1:]:
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def segment_freshness(landed: dict[str, float], seg_batch: dict[str, int],
                      commits: dict[int, dict]) -> dict[str, float]:
    """Per landed segment: seconds from its landing (or due) time to the
    ``ts`` of the commit of the batch that consumed it. Segments not (yet)
    mapped to a committed batch are left out."""
    batch_ts = {}
    for c in commits.values():
        try:
            batch_ts[int(c["batch_id"])] = c["ts"]
        except ValueError:
            continue
    out = {}
    for seg, t in landed.items():
        b = seg_batch.get(seg)
        if b is not None and b in batch_ts:
            out[seg] = batch_ts[b] - t
    return out


class Reader(threading.Thread):
    """One closed-loop client of point lookups at the newest commit it
    has observed, pausing ``think_s`` between lookups; each lookup runs
    under its own job group."""

    def __init__(self, spark, lake_root: str, observer: CommitObserver, keys: list,
                 seed: int, think_s: float, tracer, parent=None) -> None:
        super().__init__(name="lookup-reader", daemon=True)
        self.spark = spark
        self.lake_root = lake_root
        self.observer = observer
        self.keys = keys
        self.rng = random.Random(seed)
        self.think_s = think_s
        self.tracer = tracer
        self.parent = parent
        self.stop_event = threading.Event()
        self.results: list[dict] = []

    def run(self) -> None:
        from chunker_spark.cdc import LakeTable

        lake = LakeTable(self.spark, self.lake_root)
        sc = self.spark.sparkContext
        i = 0
        while not self.stop_event.is_set():
            at = self.observer.latest()
            repo, path = self.keys[self.rng.randrange(len(self.keys))]
            group = f"perfbench-lookup-{i}"
            sc.setJobGroup(group, "perfbench lookup", interruptOnCancel=False)
            rec = {"i": i, "group": group, "repo": repo, "path": path, "at": at}
            t0 = time.time()
            try:
                rows = lake.lookup(repo, path, at=at).select(*TABLE_COLS).collect()
                rec["rows"] = [r.asDict() for r in rows]
            except Exception:
                rec["error"] = traceback.format_exc(limit=3)
            rec["t0"], rec["t1"] = t0, time.time()
            self.tracer.add("lookup", t0, rec["t1"], parent=self.parent, group=group)
            self.results.append(rec)
            i += 1
            self.stop_event.wait(self.think_s)
        sc.setJobGroup("perfbench-idle", "", interruptOnCancel=False)


class Lander(threading.Thread):
    """Open-loop generator: segment k is due at ``start + k / rate`` and is
    renamed into the source directory then, however far the engine has
    fallen behind. Records due and actual landing times."""

    def __init__(self, staged: list[tuple[str, str]], source: str, rate: float, start: float) -> None:
        super().__init__(name="segment-lander", daemon=True)
        self.staged = staged
        self.source = source
        self.rate = rate
        self.start_at = start
        self.due: dict[str, float] = {}
        self.landed: dict[str, float] = {}

    def run(self) -> None:
        for k, (src, name) in enumerate(self.staged):
            due = self.start_at + k / self.rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            os.rename(src, os.path.join(self.source, name))
            self.landed[name] = time.time()
            self.due[name] = due


def run_ingest(spark, shape: dict, seed: int, inputs_dir: str, run_dir: str,
               tracer, seconds: float) -> dict:
    """Backfill, then live tail, on one lake and one checkpoint.

    1. Backfill (closed loop): every backfill segment is in the source
       directory when ``run_available`` starts; ``collect_metrics=False``
       and ``batches`` triggers, the documented bulk-backfill setting.
    2. Tail (open loop): tail segments land on schedule for ``seconds``
       while ``run_processing_time`` (metrics on, expiry on) commits them
       and a ``Reader`` looks keys up at the newest observed commit.
    """
    from chunker_spark.cdc import IngestStream, LakeTable
    from chunker_spark.cdc.events import SOURCE_PARAMS

    source = os.path.join(run_dir, "source")
    staging = os.path.join(run_dir, "staging")
    checkpoint = os.path.join(run_dir, "checkpoint")
    lake_root = os.path.join(run_dir, "lake")
    os.makedirs(source)
    os.makedirs(staging)
    lake = LakeTable(spark, lake_root, num_buckets=shape["buckets"])
    observer = CommitObserver(lake_root).start()
    failures: list[str] = []
    b, t = shape["backfill"], shape["tail"]

    def stream(**kw):
        return IngestStream(spark, lake, source, checkpoint, params=SOURCE_PARAMS, **kw)

    back_names = sorted(os.listdir(f"{inputs_dir}/backfill"))
    for name in back_names:
        shutil.copyfile(f"{inputs_dir}/backfill/{name}", f"{source}/{name}")
    per_trigger = -(-len(back_names) // b["batches"])
    with tracer.span("backfill"):
        t_back = time.time()
        back = stream(max_files_per_trigger=per_trigger, collect_metrics=False)
        back.run_available()
    observer.poll()
    back_commits = dict(observer.commits)

    n_seg = min(int(seconds * t["segments_per_s"]), len(os.listdir(f"{inputs_dir}/tail")))
    staged = []
    for name in sorted(os.listdir(f"{inputs_dir}/tail"))[:n_seg]:
        shutil.copyfile(f"{inputs_dir}/tail/{name}", f"{staging}/{name}")
        staged.append((f"{staging}/{name}", name))
    back_spec, tail_spec = inputs.event_specs(shape, seed)
    keys = sorted({back_spec.key_repo_path(k) for k in range(back_spec.n_keys)}
                  | {(r, "tail/" + p) for r, p in
                     (tail_spec.key_repo_path(k) for k in range(tail_spec.n_keys))})
    tail = stream(collect_metrics=True, expire_every=t["expire_every"])
    t_start = time.time() + 0.5
    lander = Lander(staged, source, t["segments_per_s"], t_start)
    with tracer.span("tail") as tail_span:
        reader = Reader(spark, lake_root, observer, keys, seed, t["lookup_think_s"], tracer,
                        parent=tail_span)
        lander.start()
        reader.start()
        # returns once the source has been idle for idle_for_s; a pause in
        # landings that long would end it early, so it is re-entered
        # (same checkpoint) until the lander is done
        while True:
            tail.run_processing_time(interval=t["trigger"], idle_for_s=1.0,
                                     max_runtime_s=seconds + 90)
            if not lander.is_alive() or time.time() > t_start + seconds + 90:
                break
        lander.join(timeout=30)
    reader.stop_event.set()
    reader.join(timeout=60)
    observer.stop()

    n_tail = sum(hi - lo for name, (lo, hi) in inputs.segment_ranges(shape).items()
                 if name in lander.due)
    events = inputs.stream_events(shape, seed, n_tail)
    seg_batch = source_log(checkpoint)
    back_visible = segment_freshness({n: t_back for n in back_names}, seg_batch, back_commits)
    fresh = segment_freshness(lander.due, seg_batch, observer.commits)
    missing = len(back_names) + len(lander.due) - len(back_visible) - len(fresh)
    if missing:
        failures.append(f"{missing} segments not committed")
    got, want = lake_digest(lake), oracle_digest(events)
    if got != want:
        failures.append(f"final state digest {got[:12]} != oracle {want[:12]}")
    lookup_failures = check_lookups(reader.results, shape, observer.commits, seg_batch,
                                    events, failures)
    return {
        "failures": failures, "lookup_failures": lookup_failures,
        "state_ok": got == want and not missing,
        "backfill_events": b["events"], "backfill_s": max(
            c["ts"] for c in back_commits.values()) - t_back,
        "backfill_visible_s": sorted(back_visible.values()),
        "freshness_s": [fresh[k] for k in sorted(fresh)],
        # the segments' freshness values come from this many commit times
        "tail_batches": len({seg_batch[k] for k in fresh}),
        "lateness_s": [lander.landed[k] - lander.due[k] for k in sorted(lander.due)],
        "lookups": reader.results, "commits": observer.commits,
        "backfill_batches": len(back_commits),
        "batches": len(set(seg_batch.values())), "events": events, "lake_root": lake_root,
        "batch_s": {"backfill": list(back.batch_latencies), "tail": list(tail.batch_latencies)},
    }


def check_lookups(results: list[dict], shape: dict, commits: dict[int, dict],
                  seg_batch: dict[str, int], events: list[dict], failures: list[str]) -> int:
    """Compare every lookup with the replay oracle over the events that
    its ``at`` commit contains; returns how many failed."""
    from chunker_spark.cdc import replay, state_rows

    ranges = inputs.segment_ranges(shape)
    failed = 0
    states: dict[int, dict] = {}
    for rec in results:
        if "error" in rec:
            failed += 1
            failures.append(f"lookup {rec['repo']}/{rec['path']}: "
                            f"{rec['error'].strip().splitlines()[-1]}")
            continue
        batch = int(commits[rec["at"]]["batch_id"])
        if batch not in states:
            hi = max(ranges[s][1] for s, bb in seg_batch.items() if bb <= batch)
            states[batch] = {(r["repo"], r["path"]): r for r in state_rows(replay(events[:hi]))}
        want = states[batch].get((rec["repo"], rec["path"]))
        got = rec["rows"]
        if (want is None and got) or (want is not None and (
                len(got) != 1 or any(got[0][c] != want[c] for c in TABLE_COLS))):
            failed += 1
            failures.append(f"lookup {rec['repo']}/{rec['path']} at {rec['at']} != oracle")
    return failed


# ---- query suite ---------------------------------------------------------------

#: fixture helpers of the engine whose ``base`` directory defaults to a
#: fixed path; the benchmark points them at its own work directory
FIXTURE_FUNCS = (
    ("chunker_spark.cdc.envelopes", (
        "dms_fixture_path", "canal_fixture_path", "wal2json_fixture_path",
        "debezium_fixture_path", "maxwell_fixture_path", "mongo_fixture_path",
        "wal2json_txn_fixture_path", "goldengate_fixture_path")),
    ("chunker_spark.cdc.outbox", ("outbox_fixture_path",)),
    ("chunker_spark.cdc.toast", ("toast_fixture_path",)),
    ("chunker_spark.cdc.keychange", ("rename_fixture_path",)),
    ("chunker_spark.cdc.dblog", ("dblog_fixture_paths",)),
    ("chunker_spark.ops.multimodal", ("media_fixture_path",)),
    ("chunker_spark.functions.manifest", ("manifest_expected_fixture_path",)),
)


def _set_default(fn, name: str, value) -> None:
    code = fn.__code__
    args = code.co_varnames[: code.co_argcount]
    defaults = list(fn.__defaults__ or ())
    idx = args.index(name) - (len(args) - len(defaults))
    if idx < 0:
        raise ValueError(f"{fn.__qualname__}: {name!r} has no default")
    defaults[idx] = value
    fn.__defaults__ = tuple(defaults)


def redirect_fixtures(base: str) -> None:
    """Make the engine's query fixtures live under ``base``."""
    import importlib

    import __spark_entry__ as entry

    entry._REPLAY_FIXTURE_DIR = os.path.join(base, "cdc_replay_v1")
    for mod_name, names in FIXTURE_FUNCS:
        mod = importlib.import_module(mod_name)
        for n in names:
            _set_default(getattr(mod, n), "base", base)
    # the expected-manifest fixture otherwise scans every corpus it finds
    # on the host; the query set reads its own tables only
    from chunker_spark.functions import manifest

    _set_default(manifest.manifest_expected_fixture_path, "sf_dirs", ())


def oracle_counts(names: list[str], tables_dir: str) -> dict[str, int]:
    """Row count of each query's DuckDB ``oracle_sql()`` over the tables."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
        return {n: len(con.execute(oracles[n]).fetchall()) for n in names}
    finally:
        con.close()


def run_queries(spark, names: list[str], tables_dir: str, expected: dict[str, int],
                tracer) -> dict:
    """One pass over ``names``; per query the build (the query function
    call, eager jobs included) and the action (a noop write whose row
    count rides an ``Observation``) are timed apart."""
    from pyspark.sql import Observation, functions as F

    import __spark_entry__ as entry

    qs = entry.queries()
    sc = spark.sparkContext
    out, failures = [], []
    for name in names:
        group = f"perfbench-q-{name}"
        sc.setJobGroup(group, f"perfbench query {name}", interruptOnCancel=False)
        rec = {"name": name, "group": group}
        with tracer.span("query", query=name, group=group):
            t0 = time.time()
            try:
                with tracer.span("query.build", query=name):
                    df = qs[name](spark, tables_dir)
                t1 = time.time()
                obs = Observation(f"rows_{name}")
                with tracer.span("query.action", query=name):
                    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                        "noop").mode("overwrite").save()
                t2 = time.time()
                rec.update(build_s=t1 - t0, action_s=t2 - t1, rows=int(obs.get["n"]))
                if rec["rows"] != expected[name]:
                    failures.append(f"{name}: {rec['rows']} rows != oracle {expected[name]}")
                    rec["error"] = "row count"
            except Exception:
                rec["error"] = traceback.format_exc(limit=3)
                failures.append(f"{name}: {rec['error'].splitlines()[-1]}")
        rec["t0"], rec["t1"] = t0, time.time()
        out.append(rec)
    sc.setJobGroup("perfbench-idle", "", interruptOnCancel=False)
    return {"queries": out, "failures": failures, "tables": tables_dir}
