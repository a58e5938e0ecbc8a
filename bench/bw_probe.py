"""Memory-bandwidth regime probe: a label for timing runs.

A /proc/stat CPU-steal label catches CPU theft but
not co-tenant *memory-bandwidth* contention, which is invisible to the
guest and asymmetric: a 1-core run is barely affected while a 4-core
run of the same job can lose 2-3x (observed 2026-08-17: back-to-back
steal-clean pairs reading p1 14.9k ev/s — *above* its all-time median —
against p4 30.4k and 16.4k ev/s, vs 47.9-50.3k in pristine windows).
BENCH/BASELINE.md round-2 documented the same mechanism ("CPU steal
reads 0, so the noise is host-level memory-bandwidth interference").

This probe makes that regime quantitative, the same move the steal
label made for CPU theft. Two numbers, both GB/s:

* ``fresh_gbs`` — copy into a freshly mmapped 512 MiB destination,
  single process: measures the fault+zero+copy path that the round-2
  "degraded host" pathology throttled to 0.01-0.05 GB/s.
* ``agg4_gbs`` — the same copy in 4 concurrent processes, aggregate:
  approximates the DRAM demand of a local[4] ingest run. This is the
  number that collapses when a co-tenant saturates the memory system
  while 1-core probes still read healthy.

Usage: ``python bench/bw_probe.py`` → one JSON line. ``perfbench/run.py``
runs it at the start and end of each run and labels the result with it,
so timing comparisons can condition on bandwidth as well as steal.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import time

import numpy as np

MB = 1024 * 1024


def _fresh_copy_gbs(n_mb: int = 512) -> float:
    """GB/s copying into a *fresh* destination mapping (faults included)."""
    src = np.ones(n_mb * MB, dtype=np.uint8)  # pre-faulted source
    t0 = time.perf_counter()
    dst = np.empty_like(src)  # fresh mapping
    np.copyto(dst, src)  # faults + copies every page
    elapsed = time.perf_counter() - t0
    del dst
    return n_mb / 1024 / elapsed


def _worker(q: "mp.Queue", n_mb: int) -> None:
    q.put(_fresh_copy_gbs(n_mb))


def probe(n_mb: int = 512, procs: int = 4) -> dict:
    fresh = round(_fresh_copy_gbs(n_mb), 2)
    q: "mp.Queue" = mp.Queue()
    ps = [mp.Process(target=_worker, args=(q, n_mb // 2)) for _ in range(procs)]
    for p in ps:
        p.start()
    vals = [q.get() for _ in ps]
    for p in ps:
        p.join()
    return {"fresh_gbs": fresh, "agg4_gbs": round(sum(vals), 2)}


if __name__ == "__main__":
    print(json.dumps(probe()))
