"""Micro-batch MERGE: change events → exactly-once upsert into the lake.

Pipeline per batch (SURVEY.md §3.4), each stage chosen for 10^10-event
scale:

1. **Idempotency gate** — skip batches whose ``batch_id`` is already in
   the lake commit log (exactly-once under foreachBatch retries).
2. **Normalize** — schema-evolution projection (schema.py), JVM-only.
3. **Last-writer-wins** — one row per key = ``max_by(struct(*), seq)``.
   Spark plans this as partial→final hash aggregation (map-side combine
   absorbs hot keys before the shuffle, which is the scalable answer to
   monorepo skew for aggregation).
4. **Spread exchange + manifest UDF** — the batch is repartitioned by
   (BUCKET, salt) with ``salt = xxhash64(commit) pmod 8`` and AQE
   sizing, before the CPU-heavy chunking stage (AQE cannot split a hot
   key inside a UDF stage; mandated by BASELINE.json north_rule). It
   spreads a monorepo's keys over partitions AND already satisfies the
   write layout, so the batch payload crosses exactly ONE exchange per
   commit.
5. **Merge-on-read delta commit** — the batch's upserts + tombstones
   append as new bucket-partitioned files (O(batch) write volume);
   readers resolve last-writer-wins per key and compaction keeps
   per-bucket file counts bounded (lake.py).
6. **Lineage/metrics** (``collect_metrics``) — per-bucket row/byte/
   chunk counts ride the delta write as an Observation; chunk reuse
   (skip-on-update) is one more action: one aggregate over the written
   upserts and the unresolved prior rows of the batch's keys (semi-join
   pruned), so its cost tracks the batch keys' history, not the touched
   buckets' data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.manifest import with_manifest
from ..kernel.chunker import ChunkerParams
from .events import SOURCE_PARAMS
from .lake import LakeTable, bucket_expr
from .schema import KEY_COLS, LATEST_SCHEMA_VER, TABLE_SCHEMA, normalize_events

#: updates-side row-count threshold below which the LWW winners set is
#: broadcast (micro-batches are usually far smaller than table state).
#: Above it, apply_batch falls back to the single-shuffle max_by path so
#: a huge-key-cardinality batch can never blow the driver/broadcast
#: memory limit.
BROADCAST_THRESHOLD_ROWS = 2_000_000


def _estimated_rows(df: DataFrame) -> int | None:
    """Upper-bound row estimate from Catalyst plan statistics — free (no
    Spark job). Uses the optimizer's rowCount when known, else
    sizeInBytes (real for file sources: sum of input file sizes — the
    production streaming path) over a conservative minimum event row
    width, so over-estimating only pushes us to the always-safe shuffle
    path. Returns None when the plan has no statistics (in-memory /
    mapInPandas sources report a Long.MaxValue sentinel)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return int(rc.get())  # py4j maps scala BigInt -> python int
        size = int(stats.sizeInBytes())
        if size >= 1 << 60:  # defaultSizeInBytes sentinel: no real stats
            return None
        return size // 48
    except Exception:
        return None


def last_writer_wins(events: DataFrame, broadcast_winners: bool = True) -> DataFrame:
    """Reduce a batch to its final event per key by max ``seq``.

    Default strategy: aggregate only ``(repo, path, max(seq))`` — a few
    bytes per key — then broadcast semi-join the events against the
    winners. The wide ``content`` column never enters a shuffle here
    (payload bytes move exactly once per batch, in the spread
    exchange before the chunking UDF). Requires ``seq`` unique
    within a batch, which a binlog/WAL offset is by construction.

    Fallback (``broadcast_winners=False``): single-shuffle
    ``max_by(struct(*), seq)`` grouped by key, for batches whose key
    cardinality is too large for a broadcast (partial map-side combine
    still bounds hot-key cost at O(tasks)).
    """
    if not broadcast_winners:
        payload = F.struct(*[F.col(c) for c in events.columns])
        return (
            events.groupBy(*KEY_COLS)
            .agg(F.max_by(payload, F.col("seq")).alias("e"))
            .select("e.*")
        )
    winners = events.groupBy(*KEY_COLS).agg(F.max("seq").alias("seq"))
    return events.join(
        F.broadcast(winners), on=[*KEY_COLS, "seq"], how="left_semi"
    )


#: salt values per bucket in apply_batch's spread exchange: at most
#: this many partitions (so delta files) per bucket and batch.
_SALT_BUCKETS = 8


def _spread(winners: DataFrame, num_buckets: int) -> DataFrame:
    """The batch's one payload exchange: partition by (lake bucket,
    salt). The salt comes from ``commit`` so replays place rows
    identically. A monorepo's keys spread over partitions for the
    chunking UDF, and each bucket's rows land in at most
    ``_SALT_BUCKETS`` partitions, so the delta write needs no exchange
    of its own. No partition count: AQE sizes it from the batch's
    bytes."""
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
    broadcast_threshold: int = BROADCAST_THRESHOLD_ROWS,
) -> dict | None:
    """Apply one micro-batch of raw change events. Returns the commit
    dict, or None when the batch was already committed (no-op replay).

    LWW strategy is picked per batch in two tiers. Tier 1 is free:
    Catalyst plan statistics give a row-count UPPER bound (file sizes /
    48-byte minimum rows); if even that bound fits under
    ``broadcast_threshold``, broadcast-winners is safe with no further
    work. Tier 2 runs only when the bound exceeds the threshold: one
    slim job counts the batch's DISTINCT KEYS exactly — column pruning
    means the scan reads the two key columns, never content — and the
    exact cardinality decides. (The size bound alone is ~2 orders too
    conservative for content-heavy CDC rows: a 3 GB batch of 4 KiB
    files has ~800k rows, not 67M, and the broadcast path saves a full
    content shuffle — worth one key-width counting job.) Batches with
    no plan statistics (in-memory test/synth sources) keep the
    broadcast default without the count, matching micro-batch reality;
    callers with unbounded stat-less batches pass
    ``broadcast_threshold=0`` to force the always-safe shuffle path."""
    spark = lake.spark
    if str(batch_id) in lake.committed_batch_ids():
        return None  # exactly-once: duplicate delivery is a no-op

    if broadcast_threshold <= 0:  # explicit opt-out: always shuffle
        use_broadcast = False
    else:
        est = _estimated_rows(raw_events)
        if est is None or est <= broadcast_threshold:
            use_broadcast = True
        else:
            n_keys = (
                normalize_events(raw_events).select(*KEY_COLS).distinct().count()
            )
            use_broadcast = n_keys <= broadcast_threshold
    lww = "broadcast" if use_broadcast else "shuffle"  # recorded in the commit stats
    events = normalize_events(raw_events)
    # The reduced batch: upserts with manifests + delete tombstones.
    # Deletes have null content, so the manifest UDF passes them
    # through as null.
    #
    # Partitioning: _spread is the batch's one payload exchange (guide
    # §2.4 — one exchange, not two). AQE sizes it: a micro-batch
    # coalesces to one advisory-sized partition (one file per bucket)
    # while a snapshot-scale batch fans out to at most _SALT_BUCKETS
    # files per bucket, each advisory-sized.
    # (No cache anywhere: the metrics path reads the just-written delta
    # files for its reuse count instead of pinning the batch in memory —
    # caching would also block AQE from re-coalescing the exchange,
    # InMemoryRelation partitioning is frozen, which fanned a 20-row
    # batch into one tiny file per (bucket, salt) group when tried.)
    winners = last_writer_wins(events, broadcast_winners=use_broadcast)
    batch = with_manifest(_spread(winners, lake.num_buckets), params=params)
    # merge-on-read delta: upserts keep their seq; deletes become
    # tombstones. No table read, no join — the MERGE "match" is
    # resolved lazily by readers (lake.resolve_state) and physically
    # by amortized compaction. Write volume is O(batch).
    delta = batch.select(
        *[F.col(f.name) for f in TABLE_SCHEMA.fields],
        F.col("seq"),
        (F.col("op") == "D").alias("deleted"),
    )

    if collect_metrics:
        # The metric sums RIDE the delta write via an Observation
        # (CollectMetrics): per-bucket counts + conditional volume
        # sums are collected as a side effect of the one write
        # action instead of a separate aggregate job (the former
        # dedicated collect was itself the r4 fix for THREE metric
        # actions; this removes the remaining one — guide §1.2,
        # fewer passes). The chunk-reuse count then reads the written
        # delta files back (column-pruned), never a cached batch.
        from pyspark.sql import Observation

        nb = lake.num_buckets
        is_up = ~F.col("deleted")
        obs = Observation()
        delta = delta.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(is_up.cast("long")).alias("up_rows"),
            F.coalesce(F.sum(F.when(is_up, F.col("size"))), F.lit(0)).alias("up_bytes"),
            F.coalesce(F.sum(F.when(is_up, F.size("manifest"))), F.lit(0)).alias("up_chunks"),
            *[
                F.sum((bucket_expr(nb) == b).cast("long")).alias(f"b{b}")
                for b in range(nb)
            ],
        )

        def _finish_stats(touched: list[int], new_files: dict) -> dict:
            """Runs inside append_delta AFTER the delta files land
            (observation resolved, touched buckets known) and BEFORE
            the commit JSON is written — the prior commit still
            defines the old state for the reuse count. The reuse
            side reads the JUST-WRITTEN delta files (column-pruned
            to repo/path/manifest) rather than a cached copy of the
            batch — same rows by construction, no cache memory, no
            UDF recompute."""
            vals = {k: int(v or 0) for k, v in obs.get.items()}  # empty batch: sums observe as null
            per_bucket = {b: vals[f"b{b}"] for b in range(nb) if vals[f"b{b}"]}
            stats = {
                "upsert_rows": vals["up_rows"],
                "upsert_bytes": vals["up_bytes"],
                "upsert_chunks": vals["up_chunks"],
                "delete_rows": vals["n"] - vals["up_rows"],
                "keys_per_bucket": {str(b): n for b, n in sorted(per_bucket.items())},
                "lww_strategy": lww,
            }
            # chunk-reuse lineage compares only against prior
            # versions of THIS batch's keys, so prune the old rows to
            # them BEFORE the reuse aggregate: a broadcast semi-join
            # on the key set keeps the metrics path O(batch keys'
            # history) instead of O(touched buckets' full table
            # data) — without it the lineage stats re-scan and
            # re-aggregate ever more table per batch as buckets fill
            # (measured ~85s/1.6M events extra at local[1] on an
            # un-pruned read; see BENCH/BASELINE.md r3). A first
            # commit has no prior files at all: reuse is 0 by
            # definition, no job launched.
            new_paths = [p for fl in new_files.values() for p in fl]
            if new_paths and lake._files_for(lake.current_commit(), touched):
                from .schema import FILE_SCHEMA

                written = spark.read.schema(FILE_SCHEMA).parquet(*new_paths)
                # no distinct(): batch is post-LWW, one row per key
                # by construction — the former distinct was a pure
                # extra shuffle, and a semi-join build side needs no
                # dedup anyway
                batch_keys = written.select(*KEY_COLS)
                # gate the broadcast on the SAME cardinality decision
                # the LWW stage made: a >threshold-key batch already
                # chose the shuffle path precisely because its key
                # set cannot safely transit the driver —
                # broadcasting it here would reopen that exact
                # blowup. Shuffle semi-join in that regime.
                if use_broadcast:
                    batch_keys = F.broadcast(batch_keys)
                old_rows = lake.read_files(buckets=touched).join(
                    batch_keys, list(KEY_COLS), "left_semi"
                )
                stats["reused_chunks"] = _reused_chunks(
                    written.where(~F.col("deleted")), old_rows
                )
            else:
                stats["reused_chunks"] = 0
            return stats

        commit = lake.append_delta(delta, str(batch_id), stats_fn=_finish_stats)
    else:
        # hot path: ONE Spark action per batch — the delta write;
        # touched buckets are derived from the files it produced
        commit = lake.append_delta(
            delta, str(batch_id), stats_fn=lambda _touched, _files: {"lww_strategy": lww}
        )
    return commit


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


def _reused_chunks(upserts: DataFrame, old_rows: DataFrame) -> int:
    """Chunk-reuse lineage: how many chunk entries of the batch's
    upserts already existed in their key's prior LIVE version — the
    skip-on-update win. ``old_rows`` are the prior files' UNRESOLVED
    rows of the batch's keys: one grouping over both inputs takes, per
    key, the new hash array and the max-``seq`` old (deleted, hashes),
    so resolution and the reuse match share one shuffle. Every new
    entry counts, repeated hashes included; a tombstoned or absent prior
    version reuses nothing. One ``count()`` action."""
    hashes = F.col("manifest.chunk_sha256")
    no_seq = F.lit(None).cast("long")
    new = upserts.select(
        *KEY_COLS, F.col("seq").alias("new_seq"), no_seq.alias("old_seq"),
        F.lit(False).alias("deleted"), hashes.alias("h"),
    )
    old = old_rows.select(
        *KEY_COLS, no_seq.alias("new_seq"), F.col("seq").alias("old_seq"),
        "deleted", hashes.alias("h"),
    )
    per_key = new.unionByName(old).groupBy(*KEY_COLS).agg(
        F.max_by("h", "new_seq").alias("new_h"),  # null orderings are skipped
        F.max_by(F.struct("deleted", "h"), "old_seq").alias("old"),
    )
    return int(
        per_key.where(~F.col("old.deleted"))
        .select(F.explode(F.filter("new_h", lambda h: F.array_contains("old.h", h))))
        .count()
    )
