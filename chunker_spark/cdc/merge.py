"""Micro-batch MERGE: change events → exactly-once upsert into the lake.

Pipeline per batch (SURVEY.md §3.4), each stage chosen for 10^10-event
scale:

1. **Idempotency gate** — skip batches whose ``batch_id`` is already in
   the lake commit log (exactly-once under foreachBatch retries).
2. **Normalize** — schema-evolution projection (schema.py), JVM-only.
3. **Last-writer-wins** — one row per key = ``max_by(struct(*), seq)``,
   the aggregate ``lake.resolve_state`` runs for readers. Spark plans
   it as partial→final aggregation around one key exchange: the
   map-side combine absorbs a hot key's versions before the shuffle,
   which is the scalable answer to monorepo skew for aggregation.
4. **Spread exchange + manifest UDF** — the winners are repartitioned
   by (BUCKET, salt) with ``salt = xxhash64(commit) pmod 8`` and AQE
   sizing, before the CPU-heavy chunking stage (AQE cannot split a hot
   key inside a UDF stage; mandated by BASELINE.json north_rule). It
   spreads a monorepo's keys over partitions AND already satisfies the
   write layout, so the write adds no exchange: the batch crosses two,
   the LWW exchange and this one.
5. **Merge-on-read delta commit** — the batch's upserts + tombstones
   append as new bucket-partitioned files (O(batch) write volume);
   readers resolve last-writer-wins per key and compaction keeps
   per-bucket file counts bounded (lake.py).
6. **Lineage/metrics** (``collect_metrics``) — row/byte/chunk counts
   and chunk reuse (skip-on-update) ride the delta write as an
   Observation: each batch key's prior version (its hashes, read
   semi-join pruned from the prior commit, content never read) is
   joined onto the key-partitioned LWW aggregate and rides the winners
   to the spread exchange, so the write is the commit's one Spark
   action. Keys per bucket come from the new files' parquet footers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.manifest import with_manifest
from ..kernel.chunker import ChunkerParams
from .events import SOURCE_PARAMS
from .lake import LakeTable, bucket_expr, resolve_state
from .schema import KEY_COLS, LATEST_SCHEMA_VER, TABLE_SCHEMA, normalize_events

#: salt values per bucket in apply_batch's spread exchange: at most
#: this many partitions (so delta files) per bucket and batch.
_SALT_BUCKETS = 8


def _spread(winners: DataFrame, num_buckets: int) -> DataFrame:
    """The batch's layout exchange: partition by (lake bucket, salt).
    The salt comes from ``commit`` so replays place rows identically. A
    monorepo's keys spread over partitions for the chunking UDF, and
    each bucket's rows land in at most ``_SALT_BUCKETS`` partitions, so
    the delta write needs no exchange of its own. No partition count:
    AQE sizes it from the batch's bytes."""
    salt = F.pmod(
        F.xxhash64(F.coalesce(F.col("commit"), F.lit(""))), F.lit(_SALT_BUCKETS)
    )
    return winners.repartition(bucket_expr(num_buckets), salt)


def apply_batch(
    lake: LakeTable,
    raw_events: DataFrame,
    batch_id: str | int,
    params: ChunkerParams = SOURCE_PARAMS,
    collect_metrics: bool = True,
) -> dict | None:
    """Apply one micro-batch of raw change events. Returns the commit
    dict, or None when the batch was already committed (no-op replay).

    Last-writer-wins is ``lake.resolve_state``'s ``max_by`` aggregate,
    whatever the batch's size: partial aggregation sends at most one
    row per key per input partition to the key exchange, so a hot key
    costs O(tasks). Without ``collect_metrics`` the batch is scanned
    once. Requires ``seq`` unique per key within a batch, which a
    binlog/WAL offset is by construction."""
    if str(batch_id) in lake.committed_batch_ids():
        return None  # exactly-once: duplicate delivery is a no-op

    events = normalize_events(raw_events)
    # The reduced batch: upserts with manifests + delete tombstones.
    # Deletes have null content, so the manifest UDF passes them
    # through as null.
    #
    # Partitioning: the LWW aggregate's key exchange, then _spread, the
    # exchange that lays the batch out for the chunking UDF and the
    # write. AQE sizes it: a micro-batch coalesces to one
    # advisory-sized partition (one file per bucket) while a
    # snapshot-scale batch fans out to at most _SALT_BUCKETS files per
    # bucket, each advisory-sized.
    # (No cache anywhere: caching would block AQE from re-coalescing
    # the exchange, InMemoryRelation partitioning is frozen, which
    # fanned a 20-row batch into one tiny file per (bucket, salt) group
    # when tried.)
    winners = resolve_state(events, drop_tombstones=False)
    reuse = []
    if collect_metrics and lake._files_for(lake.current_commit()):
        # skip-on-update lineage: each key's prior version joins onto
        # its winner BEFORE the spread, so the reuse count rides the
        # write below instead of costing an action of its own. The
        # aggregate is already partitioned by key, so the join adds no
        # exchange of the batch.
        prior = _prior_versions(lake, events.select(*KEY_COLS))
        winners = winners.join(prior.hint("shuffle_hash"), list(KEY_COLS), "left")
        # every new entry found in the live prior version counts,
        # repeated hashes included; a tombstoned or absent one reuses
        # nothing (a null ``old`` drops out of the sum)
        hit = F.filter("manifest.chunk_sha256", lambda h: F.array_contains("old.h", h))
        live_prior = ~F.col("deleted") & ~F.col("old.deleted")
        reuse = [F.sum(F.when(live_prior, F.size(hit))).alias("reused")]
    batch = with_manifest(_spread(winners, lake.num_buckets), params=params).withColumn(
        "deleted", F.col("op") == "D"
    )

    stats_fn = None
    if collect_metrics:
        # The metric sums RIDE the delta write via an Observation
        # (CollectMetrics): collected as a side effect of the one write
        # action instead of a separate aggregate job (guide §1.2, fewer
        # passes).
        from pyspark.sql import Observation

        is_up = ~F.col("deleted")
        obs = Observation()
        batch = batch.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(is_up.cast("long")).alias("up_rows"),
            F.sum(F.when(is_up, F.col("size"))).alias("up_bytes"),
            F.sum(F.when(is_up, F.size("manifest"))).alias("up_chunks"),
            *reuse,
        )

        def stats_fn(rows_per_bucket: dict[str, int]) -> dict:
            """Runs inside append_delta right after the delta files
            land, so the observation has resolved; the batch is one row
            per key, so each bucket's new rows are its keys."""
            vals = {k: int(v or 0) for k, v in obs.get.items()}  # empty batch: sums observe as null
            return {
                "upsert_rows": vals["up_rows"],
                "upsert_bytes": vals["up_bytes"],
                "upsert_chunks": vals["up_chunks"],
                "delete_rows": vals["n"] - vals["up_rows"],
                "keys_per_bucket": rows_per_bucket,
                "reused_chunks": vals.get("reused", 0),  # a first commit reuses nothing
            }
    # merge-on-read delta: upserts keep their seq; deletes become
    # tombstones. No table read, no join — the MERGE "match" is
    # resolved lazily by readers (lake.resolve_state) and physically
    # by amortized compaction. Write volume is O(batch), and the write
    # is the commit's one Spark action on either path.
    delta = batch.select(*[F.col(f.name) for f in TABLE_SCHEMA.fields], "seq", "deleted")
    return lake.append_delta(delta, str(batch_id), stats_fn=stats_fn)


def _prior_versions(lake: LakeTable, keys: DataFrame) -> DataFrame:
    """Per batch key, its prior version as ``old`` = (deleted, h): the
    prior commit's unresolved rows of ``keys`` (semi-join pruned — the
    build side needs no dedup, so ``keys`` may repeat a key — so the
    cost tracks the batch keys' history, not the table; only key, seq,
    deleted and the manifest's hashes are read, never content), resolved
    by max ``seq``. A key with no prior row is absent. The semi-join
    takes no hint: the planner broadcasts ``keys`` or shuffles both
    sides from its own statistics."""
    rows = lake.read_files().select(
        *KEY_COLS, "seq", "deleted", F.col("manifest.chunk_sha256").alias("h")
    )
    return (
        rows.join(keys, list(KEY_COLS), "left_semi")
        .groupBy(*KEY_COLS)
        .agg(F.max_by(F.struct("deleted", "h"), "seq").alias("old"))
    )


def bootstrap_snapshot(
    lake,
    snapshot: DataFrame,
    batch_id: str = "bootstrap-0",
    base_seq: int = 0,
    snapshot_ts: str = "1970-01-01 00:00:00",
    params: ChunkerParams = SOURCE_PARAMS,
    **apply_kwargs,
) -> dict | None:
    """Initial-load bootstrap: apply a full table snapshot before the
    incremental tail starts (the standard CDC snapshot-then-stream
    handoff). ``snapshot`` carries the canonical table columns
    (repo, path, commit, language, branch, content); every row becomes
    an insert at ``base_seq``, which must sort BELOW the first binlog
    offset the stream will deliver — so if the snapshot races the tail
    (a key is both snapshotted and updated before the stream starts),
    last-writer-wins resolves in favor of the stream event with no
    special casing. ``seq`` only needs to be unique per key within a
    batch, and a snapshot has one row per key by construction. The
    batch_id ledger makes a re-run of the bootstrap a no-op, exactly
    like any other batch.
    """
    events = snapshot.select(
        F.lit(int(base_seq)).cast("long").alias("seq"),
        F.lit(snapshot_ts).cast("timestamp").alias("ts"),
        F.lit("I").alias("op"),
        F.col("repo"),
        F.col("path"),
        F.col("commit"),
        F.lit(None).cast("string").alias("lang"),
        F.col("language"),
        F.col("branch"),
        F.col("content"),
        F.lit(LATEST_SCHEMA_VER).cast("int").alias("schema_ver"),
    )
    return apply_batch(lake, events, batch_id, params=params, **apply_kwargs)

