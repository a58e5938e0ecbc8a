"""Day-2 CDC hygiene demo: renames + TOAST placeholders + drift repair.

One run shows the three production traps and their fixes end-to-end:

1. a wal2json UPDATE renames a file (old PK in ``identity``) — without
   the split the lake keeps a phantom row at the old path;
2. an unchanged-TOAST column arrives as the Debezium sentinel — merged
   raw it would corrupt the content; ``fill_unavailable`` resolves it
   from the previous row version;
3. a sink drifts (simulated bit-rot) — ``table_diff`` finds it and
   ``repair_events`` emits the corrective events that make the
   re-audit read all-equal;
4. the table outgrows its launch bucket count — ``rebucket`` rewrites
   the layout in one commit with state preserved.

Run: python examples/day2_hygiene.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import chunker_spark too; they inherit PYTHONPATH.
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from pyspark.sql import SparkSession, functions as F

from chunker_spark.cdc import LakeTable
from chunker_spark.cdc.keychange import split_key_changes
from chunker_spark.cdc.streaming import IngestStream
from chunker_spark.cdc.toast import DEBEZIUM_UNAVAILABLE
from chunker_spark.kernel import ChunkerParams
from chunker_spark.ops.audit import reconcile_summary, repair_events


def wj(action, lsn, path, content=None, old_path=None):
    body = {"action": action, "lsn": lsn, "table": "files"}
    cols = [{"name": "repo", "value": "acme/mono"},
            {"name": "path", "value": path},
            {"name": "commit", "value": lsn},
            {"name": "content", "value": content}]
    if action == "D":
        body["identity"] = [{"name": "repo", "value": "acme/mono"},
                            {"name": "path", "value": path}]
    else:
        body["columns"] = cols
    if action == "U":
        body["identity"] = [{"name": "repo", "value": "acme/mono"},
                            {"name": "path", "value": old_path or path}]
    return json.dumps(body)


def main() -> None:
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="day2-demo-")

    log_dir = f"{root}/wal"
    os.makedirs(log_dir)
    PH = DEBEZIUM_UNAVAILABLE
    # batch 1: the two files land; batch 2: a rename whose content is
    # TOAST'd (unchanged -> the producer omits it) plus a plain update.
    # The rename's previous version lives in the LAKE (earlier batch)
    # under the OLD key — only the engine-orchestrated two-stage fill
    # (toast_value_cols) can resolve it; a batch-local transform alone
    # cannot see across batches or keys.
    with open(f"{log_dir}/seg-0.jsonl", "w") as f:
        f.write("\n".join([
            wj("I", "0/100", "core/engine.py", "def run(): pass\n"),
            wj("I", "0/200", "core/util.py", "HELPERS = 1\n"),
        ]) + "\n")
    with open(f"{log_dir}/seg-1.jsonl", "w") as f:
        f.write("\n".join([
            wj("U", "1/100", "core/runtime.py", PH, old_path="core/engine.py"),
            wj("U", "1/200", "core/util.py", "HELPERS = 2\n"),
        ]) + "\n")

    lake = LakeTable(spark, f"{root}/lake", num_buckets=2)
    IngestStream(
        spark, lake, log_dir, f"{root}/ckpt",
        params=ChunkerParams(average_bits=6, min_size=64, max_size=512),
        wire_format="wal2json", max_files_per_trigger=1,
        parser_kwargs={"with_old_keys": True},
        toast_value_cols=["content"],
        event_transform=lambda df: split_key_changes(
            df, ["repo", "path"], delete_op="D"
        ),
    ).run_available()

    state = {r.path: r.content for r in lake.read().collect()}
    print("lake state after hygiene-transformed ingest:")
    for path in sorted(state):
        print(f"  {path!r}: {state[path]!r}")
    assert "core/engine.py" not in state          # no phantom at old path
    assert state["core/runtime.py"] == "def run(): pass\n"  # TOAST resolved

    # day-2 drift: the sink loses a row and corrupts another
    source = lake.read().select("repo", "path", "content")
    sink = source.where(F.col("path") != "core/util.py").withColumn(
        "content",
        F.when(F.col("path") == "core/runtime.py", F.lit("BITROT")).otherwise(
            F.col("content")
        ),
    )
    before = reconcile_summary(source, sink, ["repo", "path"], ["content"]).collect()[0]
    plan = repair_events(source, sink, ["repo", "path"], ["content"])
    print("audit:", dict(before.asDict()), "-> repair plan:",
          [(r.path, r.op) for r in plan.orderBy("path").collect()])

    repaired = sink.join(plan.select("repo", "path"), ["repo", "path"], "left_anti") \
        .unionByName(plan.where(F.col("op") == "u").drop("op"))
    after = reconcile_summary(source, repaired, ["repo", "path"], ["content"]).collect()[0]
    print("re-audit:", dict(after.asDict()))
    assert (after.mismatch, after.only_left, after.only_right) == (0, 0, 0)
    # day-2 layout evolution: the table outgrew its launch bucket count
    pre = {(r.path, r.content) for r in lake.read().select("path", "content").collect()}
    commit = lake.rebucket(8)
    assert commit["kind"] == "rebucket" and lake.num_buckets == 8
    assert {(r.path, r.content) for r in lake.read().select("path", "content").collect()} == pre
    print("rebucket:", commit["stats"], "state preserved across rewrite")

    print("OK — rename split, TOAST fill, drift repair, rebucket all verified")
    spark.stop()


if __name__ == "__main__":
    main()
