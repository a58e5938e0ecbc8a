"""End-to-end wire-format demo: Debezium JSON-lines -> lake -> CDF.

Builds a tiny two-table binlog dump (files + docs), streams it through
the envelope parser with DLQ splitting and multi-table routing, then
shows a change-data-feed read after a second batch — the full
bus-to-lake-to-consumer loop in one script.

Run: python examples/wire_to_lake.py
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

from pyspark.sql import SparkSession

from chunker_spark.cdc import LakeTable
from chunker_spark.cdc.envelopes import parse_debezium, split_malformed
from chunker_spark.cdc.router import route_batch
from chunker_spark.kernel import ChunkerParams


def dbz(op, lsn, table, path, content=None):
    row = {"repo": "acme/mono", "path": path, "commit": f"c{lsn:04d}",
           "lang": "python", "content": content}
    return json.dumps({
        "op": op, "ts_ms": 1700000000000 + lsn * 1000,
        "before": row if op == "d" else None,
        "after": None if op == "d" else row,
        "source": {"lsn": str(lsn), "table": table},
    })


def main() -> None:
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    params = ChunkerParams(average_bits=8, min_size=64, max_size=1024)
    root = tempfile.mkdtemp(prefix="wire-demo-")
    lakes = {
        "files": LakeTable(spark, f"{root}/files", num_buckets=4),
        "docs": LakeTable(spark, f"{root}/docs", num_buckets=4),
    }

    batch1 = [
        dbz("c", 1, "files", "src/app.py", "print('v1')\n"),
        dbz("c", 2, "docs", "README.md", "# hello\n"),
        dbz("u", 3, "files", "src/app.py", "print('v2')\n"),
        "{oops not json",  # -> DLQ
    ]
    raw1 = spark.createDataFrame([(v,) for v in batch1], "value string")
    clean, dlq = split_malformed(raw1)
    commits, unrouted = route_batch(lakes, clean, "batch-1", params=params,
                                    collect_metrics=False)
    committed = {k: v is not None for k, v in commits.items()}
    print(f"batch-1: commits={committed}, dlq={dlq.count()}, unrouted={unrouted.count()}")

    batch2 = [
        dbz("u", 4, "docs", "README.md", "# hello world\n"),
        dbz("d", 5, "files", "src/app.py"),
        dbz("c", 6, "files", "src/new.py", "x = 1\n"),
    ]
    raw2 = spark.createDataFrame([(v,) for v in batch2], "value string")
    clean2, _ = split_malformed(raw2)
    route_batch(lakes, clean2, "batch-2", params=params, collect_metrics=False)

    for name, lake in lakes.items():
        rows = [(r.path, r.size) for r in lake.read().orderBy("path").collect()]
        print(f"{name} final state: {rows}")

    # change-data-feed: what moved in the files table between the batches?
    feed = lakes["files"].changes(since=0)
    for r in feed.orderBy("path").collect():
        print(f"files CDF: {r.path} {r._change_type} seq={r.seq}")


if __name__ == "__main__":
    main()
