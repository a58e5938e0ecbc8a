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
    mapInPandas sources report a Long.MaxValue sentinel). Any other
    failure — a renamed private attribute or JVM method after a PySpark
    upgrade — propagates: a silent None would send every batch, whatever
    its size, down the broadcast path."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    rc = stats.rowCount()
    if rc.isDefined():
        return int(rc.get())  # py4j maps scala BigInt -> python int
    size = int(stats.sizeInBytes())
    if size >= 1 << 60:  # defaultSizeInBytes sentinel: no real stats
        return None
    return size // 48


def last_writer_wins(
    events: DataFrame, broadcast_winners: bool = True, per_key: DataFrame | None = None
) -> DataFrame:
    """Reduce a batch to its final event per key by max ``seq``.

    Default strategy: aggregate only ``(repo, path, max(seq))`` — a few
    bytes per key — then broadcast semi-join the events against the
    winners (an inner join when ``per_key`` rides along: the winners
    hold one row per key). The wide ``content`` column never enters a
    shuffle here (payload bytes move once per batch, in the spread
    exchange before the chunking UDF). Requires ``seq`` unique within a
    batch, which a binlog/WAL offset is by construction.

    Fallback (``broadcast_winners=False``): single-shuffle
    ``max_by(struct(*), seq)`` grouped by key, for batches whose key
    cardinality is too large for a broadcast (partial map-side combine
    still bounds hot-key cost at O(tasks)).

    ``per_key``: optional columns keyed by (repo, path), at most one row
    per key, left-joined onto each winner. The join meets the LWW
    aggregate, which is already partitioned by key, so it adds no
    exchange of the batch; on the default strategy the columns then
    ride the winners broadcast.
    """

    def attach(df: DataFrame) -> DataFrame:
        if per_key is None:
            return df
        return df.join(per_key.hint("shuffle_hash"), list(KEY_COLS), "left")

    if not broadcast_winners:
        # the key columns stay GROUPING columns in the output, so the
        # result is known to be partitioned by key (see resolve_state)
        payload = F.struct(*[F.col(c) for c in events.columns if c not in KEY_COLS])
        return attach(
            events.groupBy(*KEY_COLS)
            .agg(F.max_by(payload, F.col("seq")).alias("e"))
            .select(*[F.col(c if c in KEY_COLS else f"e.{c}").alias(c) for c in events.columns])
        )
    winners = events.groupBy(*KEY_COLS).agg(F.max("seq").alias("seq"))
    return events.join(
        F.broadcast(attach(winners)),
        on=[*KEY_COLS, "seq"],
        how="left_semi" if per_key is None else "inner",  # inner carries per_key along
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
    # (No cache anywhere: caching would block AQE from re-coalescing
    # the exchange, InMemoryRelation partitioning is frozen, which
    # fanned a 20-row batch into one tiny file per (bucket, salt) group
    # when tried.)
    prior, reuse = None, []
    if collect_metrics and lake._files_for(lake.current_commit()):
        # skip-on-update lineage: each key's prior version joins onto
        # its winner BEFORE the spread, so the reuse count rides the
        # write below instead of costing an action of its own
        prior = _prior_versions(lake, events.select(*KEY_COLS), use_broadcast)
        # every new entry found in the live prior version counts,
        # repeated hashes included; a tombstoned or absent one reuses
        # nothing (a null ``old`` drops out of the sum)
        hit = F.filter("manifest.chunk_sha256", lambda h: F.array_contains("old.h", h))
        live_prior = ~F.col("deleted") & ~F.col("old.deleted")
        reuse = [F.sum(F.when(live_prior, F.size(hit))).alias("reused")]
    winners = last_writer_wins(events, broadcast_winners=use_broadcast, per_key=prior)
    batch = with_manifest(_spread(winners, lake.num_buckets), params=params).withColumn(
        "deleted", F.col("op") == "D"
    )

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
                "lww_strategy": lww,
                "reused_chunks": vals.get("reused", 0),  # a first commit reuses nothing
            }
    else:
        stats_fn = lambda _rows: {"lww_strategy": lww}  # noqa: E731
    # merge-on-read delta: upserts keep their seq; deletes become
    # tombstones. No table read, no join — the MERGE "match" is
    # resolved lazily by readers (lake.resolve_state) and physically
    # by amortized compaction. Write volume is O(batch), and the write
    # is the commit's one Spark action on either path.
    delta = batch.select(*[F.col(f.name) for f in TABLE_SCHEMA.fields], "seq", "deleted")
    return lake.append_delta(delta, str(batch_id), stats_fn=stats_fn)


def _prior_versions(lake: LakeTable, keys: DataFrame, broadcast: bool) -> DataFrame:
    """Per batch key, its prior version as ``old`` = (deleted, h): the
    prior commit's unresolved rows of ``keys`` (semi-join pruned — the
    build side needs no dedup, so ``keys`` may repeat a key — so the
    cost tracks the batch keys' history, not the table; only key, seq,
    deleted and the manifest's hashes are read, never content), resolved
    by max ``seq``. A key with no prior row is absent. The semi-join
    follows the LWW tier: a >threshold-key batch chose the shuffle path
    because its key set cannot transit the driver."""
    rows = lake.read_files().select(
        *KEY_COLS, "seq", "deleted", F.col("manifest.chunk_sha256").alias("h")
    )
    return (
        rows.join(F.broadcast(keys) if broadcast else keys, list(KEY_COLS), "left_semi")
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

