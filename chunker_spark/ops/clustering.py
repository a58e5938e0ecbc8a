"""Distributed embedding clustering (Lloyd's k-means).

Corpus-level clustering is the scale path for topic balancing and
semantic dedup beyond pairwise similarity: cluster the embedding
space, then sample/weight per cluster. The IVF index
(`ops/similarity.py`) fits its centroids on a bounded driver-side
sample — right for an index, wrong for *corpus statistics*. This
module is the fully distributed variant: every assignment and every
centroid update is a Spark aggregate over the whole corpus; the ONLY
driver-side data is the k x d centroid matrix itself (fixed size,
independent of corpus size — the same bounded-state argument as the
IVF fit sample, but with all N vectors participating).

Scale design (100 TB):
- Assignment is a map-only stage: centroids ride to executors as a
  broadcast literal array; distance = one `aggregate(zip_with(...))`
  fold per centroid — JVM built-ins, no Python, no shuffle.
- The update step never shuffles vectors: `posexplode` turns each
  assigned vector into fixed-width (cluster, dim, value) rows and a
  hash aggregate computes per-(cluster, dim) sums — k*d groups, fully
  map-side combinable.
- Iterations are driver-coordinated like the connected-components
  loop (`ops/graph.py`): k*d floats cross the driver per round, never
  rows.

Cross-engine float discipline (for the `embedding_kmeans_assign`
oracle): distances are rounded to 6 decimals BEFORE the argmin, ties
break on centroid id — the exact protocol the ANN oracles pinned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def _double_sql(x: float) -> str:
    """A double literal as SQL text, exact: Python's repr is the
    shortest round-trip decimal form and Spark's string->double cast is
    correctly rounded, so the parsed double is bit-identical."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _dist_structs_sql(vec_col: str, centroids: list[tuple[int, list[float]]]) -> str:
    """The k-way (distance, centroid-id) struct array as ONE SQL
    expression string: per centroid, the squared L2 distance as a
    sequential left-to-right fold (parity with DuckDB's list_sum
    order), rounded to 6 before the argmin, ties broken on cid by
    struct comparison. Built with a single py4j call instead of
    ~k*(dim+10): with k=8 d=64 a per-element ``F.lit`` construction
    costs ~500 driver round trips (~0.4 s) EVERY time an assignment
    stage is planned, which ``kmeans_fit`` pays once per Lloyd
    iteration and every query build pays once. Catalyst constant-folds
    the cast literals into literal-centroid codegen.

    ``vec_col`` must be a plain identifier: it is backtick-quoted into
    the SQL text, where a dotted name would silently mean a different
    (top-level) column than ``F.col`` resolves."""
    if not vec_col.isidentifier():
        raise ValueError(f"vec_col must be a plain column identifier, got {vec_col!r}")
    v_sql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    parts = []
    for cid, vec in centroids:
        arr = "array(" + ",".join(_double_sql(x) for x in vec) + ")"
        parts.append(
            f"struct(round(aggregate(zip_with({v_sql}, {arr}, "
            "(a, b) -> (a - b) * (a - b)), CAST('0.0' AS DOUBLE), "
            f"(acc, x) -> acc + x), 6) AS d, {int(cid)} AS cid)"
        )
    return "array(" + ",".join(parts) + ")"


def kmeans_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every row to its nearest centroid (squared L2).

    ``centroids`` is a small [(centroid_id, vector), ...] list — it is
    embedded into the plan as literals (the broadcast degenerate case:
    no exchange at all, the values live inside the generated code).
    Adds `cluster` (winning centroid id) and `sq_dist` (rounded to 6).
    Ties break on the lower centroid id.
    """
    if not centroids:
        raise ValueError("centroids must be non-empty")
    best = F.array_min(F.expr(_dist_structs_sql(vec_col, centroids)))
    return df.withColumn("cluster", best["cid"]).withColumn("sq_dist", best["d"])


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """Distributed Lloyd's iterations; returns the final centroids.

    Deterministic init: the vectors of the ``k`` smallest ids (no RNG —
    reruns converge identically, and the init is expressible in any
    engine). Each iteration: broadcast-literal assignment (map-only),
    then per-(cluster, dim) mean via posexplode + hash aggregate —
    fixed k*d aggregate state, map-side combined. Empty clusters keep
    their previous centroid (standard Lloyd's fallback, keeps k
    stable)."""
    if k <= 0 or iters < 0:
        raise ValueError(f"need k > 0 and iters >= 0, got k={k} iters={iters}")
    seed_rows = (
        df.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(F.col(id_col))
        .limit(k)
        .collect()
    )
    centroids = [(i, list(r["v"])) for i, r in enumerate(seed_rows)]
    vecs = df.select(F.col(vec_col).cast("array<double>").alias("v"))
    for _ in range(iters):
        assigned = kmeans_assign(vecs, centroids, vec_col="v")
        sums = (
            assigned.select("cluster", F.posexplode("v").alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        counts: dict[int, int] = {}
        for r in sums:
            by_cluster.setdefault(r["cluster"], {})[r["dim"]] = r["s"]
            counts[r["cluster"]] = r["n"]
        centroids = [
            (
                cid,
                [by_cluster[cid][d] / counts[cid] for d in range(len(old))]
                if cid in by_cluster
                else old,
            )
            for cid, old in centroids
        ]
    return centroids


def cluster_sizes(assigned: DataFrame) -> DataFrame:
    """Per-cluster occupancy + distance spread. min/max over ROUNDED
    distances (order-independent — safe for cross-engine hashing,
    unlike a float mean)."""
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("sq_dist").alias("min_sq_dist"),
            F.max("sq_dist").alias("max_sq_dist"),
        )
        .orderBy("cluster")
    )
