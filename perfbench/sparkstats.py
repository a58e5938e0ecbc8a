"""Read what Spark already records, from outside the engine.

* SQL metrics of each execution's plan nodes, from the driver's SQL status
  store (``sharedState().statusStore()``), summed per node kind;
* jobs, stages and tasks per job group, from the application status store;
* streaming progress (``durationMs``) through a ``StreamingQueryListener``;
* peak resident memory of this process tree, sampled from ``/proc``.

Nothing here changes what the engine does; the benchmark raises Spark's
UI retention limits so no execution is evicted before it is read.
"""

from __future__ import annotations

import os
import threading
import time

from procs import tree
from stats import parse_sql_metric

#: SQL status-store node names -> benchmark layer keys
NODE_LAYERS = {
    "ArrowEvalPython": "udf",
    "BatchEvalPython": "udf",
    "MapInPandas": "udf",
    "MapInArrow": "udf",
    "FlatMapGroupsInPandas": "udf",
    "AggregateInPandas": "udf",
    "WindowInPandas": "udf",
    "Exchange": "exchange",
    "BroadcastExchange": "broadcast",
}


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


def _node_layer(name: str) -> str | None:
    if name in NODE_LAYERS:
        return NODE_LAYERS[name]
    if name.startswith("Scan ") or name.startswith("FileScan") or name == "Scan":
        return "scan"
    return None


class SqlStore:
    """Snapshot reader over the SQL status store."""

    def __init__(self, spark) -> None:
        self.spark = spark

    def _store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def executions(self) -> list[dict]:
        """Per execution: id, submission and completion (epoch s), job ids,
        and ``metrics`` as {layer: {metric name: summed total}}."""
        store = self._store()
        out = []
        for e in _iter(store.executionsList()):
            eid = int(e.executionId())
            values = store.executionMetrics(eid)
            layers: dict[str, dict[str, float]] = {}
            for node in _iter(store.planGraph(eid).allNodes()):
                layer = _node_layer(node.name())
                if layer is None:
                    continue
                acc = layers.setdefault(layer, {})
                for m in _iter(node.metrics()):
                    v = values.get(m.accumulatorId())
                    parsed = parse_sql_metric(v.get()) if v.isDefined() else None
                    if parsed is not None:
                        acc[m.name()] = acc.get(m.name(), 0.0) + parsed
            done = e.completionTime()
            out.append(
                {
                    "id": eid,
                    "start": e.submissionTime() / 1000.0,
                    "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                    "jobs": [int(j) for j in _iter(e.jobs().keys())],
                    "metrics": layers,
                }
            )
        return out


def jobs(spark) -> list[dict]:
    """Every job the application status store holds: id, group, submission
    and completion (epoch s), stage and task counts."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in _iter(store.jobsList(None)):
        sub = j.submissionTime()
        done = j.completionTime()
        group = j.jobGroup()
        out.append(
            {
                "id": int(j.jobId()),
                "group": group.get() if group.isDefined() else None,
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                "stages": int(j.stageIds().size()),
                "tasks": int(j.numTasks()),
            }
        )
    return out


def sum_layer(executions: list[dict], layer: str, *names: str) -> float:
    """Total of the named metrics of one layer over ``executions``."""
    return sum(
        e["metrics"].get(layer, {}).get(n, 0.0) for e in executions for n in names
    )


# ---- streaming progress -------------------------------------------------------


def progress_listener(spark, sink: list):
    """Register a listener that appends each progress event's fields to
    ``sink``; returns it so the caller can remove it."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append(
                {
                    "batch": int(p.batchId),
                    "rows": int(p.numInputRows),
                    "timestamp": p.timestamp,
                    "duration_ms": dict(p.durationMs),
                    "seen": time.time(),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener


# ---- resident memory ---------------------------------------------------------


def tree_rss_bytes(root: int) -> int:
    """Summed resident set size of ``root`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background sampler of this process tree's summed RSS; ``peak`` is
    the largest sample. Stopped with ``stop()``, which joins the thread."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
