"""Iceberg-style merge-on-read lake table on plain Parquet + JSON commits.

The sandbox has no Iceberg runtime jar, so the exactly-once MERGE sink is
built behind this small table format (SURVEY.md §7.3.3), shaped like
Iceberg v2 (data files + positional semantics kept logical):

* **Merge-on-read.** A micro-batch MERGE appends one *delta* file set —
  the batch's upsert rows plus delete tombstones, each carrying its
  binlog ``seq`` — hash-bucketed on the table key. Readers resolve the
  current state by last-writer-wins (max ``seq``) per key and drop
  tombstones. A batch therefore writes O(batch), never O(table) — the
  property that keeps 10^10-event ingest linear. Copy-on-write (the
  alternative that rewrites every touched bucket per batch) makes total
  write volume quadratic in batch count and was measured 10x slower at
  multi-million-event scale.
* **Bounded read amplification.** When a bucket accumulates more than
  ``compact_threshold`` files, the commit compacts it: its files are
  replaced by one resolved file. Tombstones are retained through
  compaction so late/reordered batches with older seqs stay harmless.
* **Atomic commits.** One JSON manifest per commit listing
  {bucket -> files}, written tmp-then-``os.rename``; the latest commit
  defines the table; older commits stay readable (time-travel-lite).
* **Exactly-once.** Every commit records its ``batch_id``; re-delivery
  of a committed micro-batch is detected and becomes a no-op. Files
  written by a crashed attempt are unreferenced and harmless.

Bucketing uses ``xxhash64(repo, path) pmod num_buckets`` — deterministic
across runs, so delta and base files of a key always share a bucket and
resolution never re-shuffles more than one bucket's rows. ``key_bucket``
computes the same bucket on the driver, so a point lookup opens one
bucket's files without a Spark job.
"""

from __future__ import annotations

import json
import os
import struct
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from .schema import FILE_SCHEMA, KEY_COLS, TABLE_SCHEMA


def bucket_expr(num_buckets: int, key_cols=KEY_COLS) -> F.Column:
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(num_buckets))


_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` (little-endian lanes, unsigned 64-bit result) —
    the algorithm behind Spark's ``xxhash64``."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i <= n - 32:
            v = [_xxh64_round(a, k) for a, k in zip(v, struct.unpack_from("<4Q", data, i))]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _xxh64_round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xxh64_round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= struct.unpack_from("<I", data, i)[0] * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h ^= b * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


def key_bucket(key: tuple[str | None, ...], num_buckets: int) -> int:
    """``bucket_expr`` evaluated on the driver for one key, with no Spark
    job: Spark's ``xxhash64`` chains XXH64 over the columns' UTF-8 bytes
    from seed 42 (each hash seeds the next; a null column is skipped),
    and ``pmod`` of the signed result picks the bucket."""
    h = 42
    for v in key:
        if v is not None:
            h = _xxh64(v.encode("utf-8"), h)
    return (h - (1 << 64) if h >> 63 else h) % num_buckets


def _file_key_ranges(paths: list[str]) -> dict[str, list[str | None]]:
    """Per-file COMPOSITE key range [first_repo, first_path, last_repo,
    last_path]. Files are written sorted by (repo, path, seq), so the
    first and last rows ARE the lexicographic key bounds. Hash bucketing
    scatters keys, so a bucket's file usually spans most of the key space
    and the range prunes little on its own (with ranges as the only
    pruning, a lookup in the 16-bucket ingest benchmark opened a median
    of 51 files); it prunes within the key's bucket, which
    ``read_files(key=...)`` selects first. Reads only
    the key columns of the first and last row groups, driver-side,
    O(new files) per commit. A file that can't be read maps to Nones
    (never pruned)."""
    import pyarrow.parquet as pq

    out: dict[str, list[str | None]] = {}
    for p in paths:
        try:
            pf = pq.ParquetFile(p)
            if pf.metadata.num_rows == 0:
                raise ValueError("empty file")
            first_t = pf.read_row_group(0, columns=["repo", "path"])
            last_t = pf.read_row_group(pf.metadata.num_row_groups - 1, columns=["repo", "path"])
            out[p] = [
                first_t.column("repo")[0].as_py(),
                first_t.column("path")[0].as_py(),
                last_t.column("repo")[last_t.num_rows - 1].as_py(),
                last_t.column("path")[last_t.num_rows - 1].as_py(),
            ]
        except Exception:
            out[p] = [None, None, None, None]
    return out


def resolve_state(files_df: DataFrame, drop_tombstones: bool = True) -> DataFrame:
    """Merge-on-read resolution: last writer (max seq) per key, then
    drop tombstones. One aggregate; map-side combine bounds the
    per-file duplicates before the shuffle.

    The key columns stay GROUPING columns in the output (only non-key
    fields ride the max_by struct): extracting keys back out of the
    struct would mint fresh attribute ids, and every downstream
    key-equi-join (e.g. the CDF diff) would then re-Exchange what is
    already hash-partitioned by key — the plan
    audit showed one redundant Exchange per resolve consumer (guide
    §2.4: two operations keyed the same way share one exchange). Also
    ~key-width fewer bytes per shuffled row."""
    other = [c for c in files_df.columns if c not in KEY_COLS]
    payload = F.struct(*[F.col(c) for c in other])
    resolved = (
        files_df.groupBy(*KEY_COLS)
        .agg(F.max_by(payload, F.col("seq")).alias("r"))
        .select(*KEY_COLS, *[F.col(f"r.{c}").alias(c) for c in other])
    )
    if drop_tombstones:
        resolved = resolved.where(~F.col("deleted"))
    return resolved


#: Spark lists the files of a read on the driver up to this many paths
#: and starts a distributed listing job (one task per path) above it.
_LISTING_THRESHOLD_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_DRIVER_LISTING_THRESHOLD = 2**31 - 1


class LakeTable:
    """A bucketed merge-on-read table rooted at ``root``."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        num_buckets: int = 16,
        compact_threshold: int = 8,
        tombstone_horizon: int | None = None,
        ledger_spill_threshold: int = 100_000,
    ) -> None:
        """``tombstone_horizon``: optional binlog-seq watermark below
        which the source guarantees no more (re)deliveries — the
        checkpointed low-watermark of the stream. Compaction then drops
        tombstones with ``seq < horizon``: they can no longer fence
        anything, and keeping every delete forever makes table size
        O(all keys ever) instead of O(live keys) on churny sources.
        Tombstones at or above the horizon are always retained, so
        late/reordered events within the horizon stay safe.

        ``ledger_spill_threshold``: once the in-commit batch-id ledger
        exceeds this many ids it is spilled to an immutable side file
        (``meta/ledger-*.json``) referenced by the commit, keeping every
        commit JSON O(threshold) instead of O(all batches ever) — the
        10⁶-batch regime would otherwise rewrite a multi-MB ledger into
        every commit. Spilled chunks are immutable, so they are read
        once per process and cached."""
        if "://" in root:
            # the commit log publishes through os.listdir / open /
            # os.rename: a URI would silently become a local directory
            raise ValueError(
                f"LakeTable root must be a POSIX path (e.g. a mounted volume), got {root!r}"
            )
        if int(spark.conf.get(_LISTING_THRESHOLD_CONF)) < _DRIVER_LISTING_THRESHOLD:
            spark.conf.set(_LISTING_THRESHOLD_CONF, str(_DRIVER_LISTING_THRESHOLD))
        self.spark = spark
        self.root = root.rstrip("/")
        self.num_buckets = num_buckets
        self.compact_threshold = compact_threshold
        self.tombstone_horizon = tombstone_horizon
        self.ledger_spill_threshold = ledger_spill_threshold
        self._ledger_cache: dict[str, frozenset[str]] = {}
        os.makedirs(f"{self.root}/meta", exist_ok=True)
        os.makedirs(f"{self.root}/data", exist_ok=True)
        # Reopening an existing table: the committed layout wins. The
        # bucket count is a physical property of the data on disk (every
        # file map is keyed by it); trusting a mismatched constructor
        # arg would mis-prune bucket reads and split future writes
        # across two incompatible hashings. rebucket() is the only way
        # to change it.
        committed = self.current_commit()
        if committed:
            self.num_buckets = int(committed["num_buckets"])

    # ---- commit log ------------------------------------------------

    def _commit_files(self) -> list[str]:
        meta = f"{self.root}/meta"
        return sorted(
            f for f in os.listdir(meta) if f.startswith("commit-") and f.endswith(".json")
        )

    def current_commit(self) -> dict | None:
        files = self._commit_files()
        if not files:
            return None
        with open(f"{self.root}/meta/{files[-1]}") as f:
            return json.load(f)

    def commit_at(self, commit_seq: int) -> dict:
        """Load a specific commit (time travel — every commit's file map
        stays readable until its data files are compacted away)."""
        with open(f"{self.root}/meta/commit-{commit_seq:012d}.json") as f:
            return json.load(f)

    def _ledger_chunk(self, name: str) -> frozenset[str]:
        """Read one spilled ledger chunk. Chunks are immutable once
        written (tmp + rename, never appended), so the per-process
        cache makes the steady-state idempotency check O(1) reads: the
        commit JSON (with its bounded in-commit tail) is the only file
        re-read per batch; chunk files are read once per process
        lifetime regardless of batch count."""
        cached = self._ledger_cache.get(name)
        if cached is None:
            with open(f"{self.root}/meta/{name}") as f:
                cached = frozenset(json.load(f)["batch_ids"])
            self._ledger_cache[name] = cached
        return cached

    def committed_batch_ids(self) -> set[str]:
        """Every batch id ever committed, from the LATEST commit only:
        each commit carries the recent-tail id ledger (``batch_ids``)
        plus references to immutable spilled chunks (``ledger_files``,
        cached per process), so the per-batch idempotency check is O(1)
        file reads instead of re-reading every commit JSON (O(n) per
        batch → O(n²) over a stream)."""
        commit = self.current_commit()
        if not commit:
            return set()
        ids = set(commit["batch_ids"])
        for name in commit["ledger_files"]:
            ids |= self._ledger_chunk(name)
        return ids

    def _write_commit(self, commit: dict) -> None:
        seq = commit["commit_seq"]
        meta = f"{self.root}/meta"
        tmp = f"{meta}/.tmp-{uuid.uuid4().hex}.json"
        final = f"{meta}/commit-{seq:012d}.json"
        with open(tmp, "w") as f:
            json.dump(commit, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, final)  # atomic commit point

    # ---- reads -----------------------------------------------------

    def _files_for(self, commit: dict | None, buckets: list[int] | None = None) -> list[str]:
        if not commit:
            return []
        fmap = commit["files"]
        keys = [str(b) for b in buckets] if buckets is not None else list(fmap)
        return [p for k in keys for p in fmap.get(k, [])]

    def read_files(
        self,
        buckets: list[int] | None = None,
        at: int | None = None,
        key: tuple[str, str] | None = None,
    ) -> DataFrame:
        """Raw delta/base rows (with seq + deleted), unresolved.
        ``at`` selects a historical commit (time travel). ``key`` is a
        (repo, path) point-lookup hint: only the key's bucket is read,
        hashed with the bucket count of the commit being read (``at``
        may predate a rebucket), and within it files whose composite
        first/last-row key range excludes the key are skipped entirely
        (data skipping on the key-sorted files; a file whose footer
        could not be read has a null range and is always read)."""
        commit = self.commit_at(at) if at is not None else self.current_commit()
        paths = self._files_for(commit, buckets)
        if key is not None and commit:
            kb = key_bucket(key, int(commit["num_buckets"]))
            in_bucket = set(self._files_for(commit, [kb]))
            fstats = commit["file_stats"]
            key_t = (key[0], key[1])

            def may_contain(p: str) -> bool:
                s = fstats[p]
                if any(v is None for v in s):
                    return True  # unreadable footer -> can't prune
                return (s[0], s[1]) <= key_t <= (s[2], s[3])

            paths = [p for p in paths if p in in_bucket and may_contain(p)]
        if not paths:
            return self.spark.createDataFrame([], FILE_SCHEMA)
        return self.spark.read.schema(FILE_SCHEMA).parquet(*paths)

    def read(self, buckets: list[int] | None = None, at: int | None = None) -> DataFrame:
        """Table state (resolved, tombstones dropped) — current, or as of
        commit ``at`` (time travel; Iceberg snapshot-read parity),
        optionally restricted to buckets (bucket pruning)."""
        return resolve_state(self.read_files(buckets, at=at)).select(
            *[F.col(f.name) for f in TABLE_SCHEMA.fields]
        )

    def lookup(self, repo: str, path: str, at: int | None = None) -> DataFrame:
        """Point lookup of one key: reads only the key's bucket (computed
        on the driver with ``key_bucket``, no Spark job), and within it
        only files whose (repo, path) footer range can contain the key —
        so at most the bucket's live files, which compaction bounds."""
        pruned = self.read_files(at=at, key=(repo, path))
        return (
            resolve_state(pruned)
            .where((F.col("repo") == repo) & (F.col("path") == path))
            .select(*[F.col(f.name) for f in TABLE_SCHEMA.fields])
        )

    def changes(
        self, since: int, until: int | None = None, include_preimages: bool = False
    ) -> DataFrame:
        """Change-data-feed read: net row-level changes between commit
        ``since`` (exclusive) and ``until`` (inclusive; None = current)
        — the Iceberg/Delta incremental-consumption surface, so a
        downstream pipeline can re-process only what moved.

        Computed on RESOLVED states, not raw deltas, so the answer is
        identical before and after compaction/expiry of the interval's
        files. Scale shape: the full-outer diff joins only
        (key, seq, deleted) — fixed-width rows — and the content
        payload is joined back for the changed keys alone; unchanged
        data never shuffles. ``_change_type`` is insert /
        update_postimage / delete; delete rows carry the key with null
        payload.

        ``include_preimages=True`` is full Delta-CDF parity for
        consumers that need retractions (windowed aggregates, joins
        maintained incrementally): every update additionally emits an
        ``update_preimage`` row with the OLD payload, and delete rows
        carry the OLD payload instead of nulls. Same scale shape — the
        old payload is joined back from the ``since`` state for the
        changed keys only.
        """
        new_res = resolve_state(self.read_files(at=until), drop_tombstones=False)
        old_res = resolve_state(self.read_files(at=since), drop_tombstones=False)
        slim = lambda df, tag: df.select(
            *KEY_COLS, F.col("seq").alias(f"{tag}_seq"), F.col("deleted").alias(f"{tag}_del")
        )
        j = slim(new_res, "new").join(slim(old_res, "old"), list(KEY_COLS), "full_outer")
        old_live = F.col("old_del") == False  # noqa: E712 — tri-state null logic
        new_live = F.col("new_del") == False  # noqa: E712
        change = (
            F.when(F.col("old_seq").isNull() & new_live, "insert")
            .when(old_live & F.col("new_del"), "delete")
            .when(old_live & new_live & (F.col("new_seq") > F.col("old_seq")), "update_postimage")
            .when(F.col("old_del") & new_live, "insert")  # re-created key
            .when(F.col("new_seq").isNull() & old_live, "delete")  # aged out entirely
        )
        changed = j.withColumn("_change_type", change).where(F.col("_change_type").isNotNull())
        payload_cols = [f.name for f in TABLE_SCHEMA.fields]
        if not include_preimages:
            # Single-subtree shape: the former two-branch union
            # (upserts inner-joined to visible keys + deletes projected
            # from the diff) referenced the diff twice, and Catalyst
            # planned the whole full-outer resolve subtree PER branch.
            # One LEFT payload join onto ALL changed rows instead:
            # delete rows null their payload conditionally (an aged-out
            # key is absent from the new state and nulls naturally),
            # and both join inputs are already hash-partitioned by key
            # from the resolves, so no new Exchange appears.
            is_del = F.col("_change_type") == "delete"
            npay = new_res.drop("deleted").withColumnRenamed("seq", "__nseq")
            return changed.join(npay, list(KEY_COLS), "left").select(
                *KEY_COLS,
                *[
                    F.when(is_del, F.lit(None).cast(TABLE_SCHEMA[c].dataType))
                    .otherwise(F.col(c))
                    .alias(c)
                    for c in payload_cols
                    if c not in KEY_COLS
                ],
                F.when(is_del, F.coalesce(F.col("new_seq"), F.col("old_seq")))
                .otherwise(F.col("__nseq"))
                .alias("seq"),
                F.col("_change_type"),
            )
        visible = changed.where(F.col("_change_type") != "delete").select(
            *KEY_COLS, "_change_type"
        )
        upserts = new_res.join(visible, list(KEY_COLS), "inner").select(
            *payload_cols, F.col("seq"), F.col("_change_type")
        )
        # OLD payloads, joined back for the changed keys only: the
        # update_preimage companion rows plus the pre-delete values
        # on delete rows (Delta CDF emits both; a retraction-based
        # consumer subtracts the preimage and adds the postimage)
        pre_keys = changed.where(
            F.col("_change_type").isin("update_postimage", "delete")
        ).select(*KEY_COLS, "_change_type")
        old_payloads = old_res.join(pre_keys, list(KEY_COLS), "inner")
        preimages = old_payloads.where(
            F.col("_change_type") == "update_postimage"
        ).select(
            *payload_cols, F.col("seq"), F.lit("update_preimage").alias("_change_type")
        )
        deletes = old_payloads.where(F.col("_change_type") == "delete").select(
            *payload_cols, F.col("seq"), F.col("_change_type")
        )
        # column-metadata marker: retraction-based consumers
        # (ops/incremental.update_window_counts) refuse a feed
        # without it — a preimage-less interval corrupts their
        # state silently, so the misuse must be loud
        return (
            upserts.unionByName(preimages)
            .unionByName(deletes)
            .withMetadata("_change_type", {"cdf_preimages": True})
        )

    # ---- writes ----------------------------------------------------

    def _write_snap(
        self, rows: DataFrame, seq: int, tag: str, prepartitioned: bool = False
    ) -> dict[str, list[str]]:
        snap_dir = f"{self.root}/data/snap-{seq:012d}-{tag}"
        out = rows.withColumn("__bucket", bucket_expr(self.num_buckets))
        # cluster rows by key within each file: repeated repo/path values
        # RLE-compress, the resolve groupBy's map-side combine sees each
        # key's duplicates adjacent, and the composite first/last-row
        # range (file_stats) is a tight pruning bound. __bucket leads
        # the sort so it already satisfies partitionBy's required
        # ordering — otherwise the writer inserts its own (unstable)
        # sort by __bucket and destroys the key order.
        # No explicit partition count: AQE sizes the exchange from the
        # batch's real bytes (guide §2/§6 — scale-adaptive, and output
        # files track the advisory partition size), where a fixed
        # n_parts burned one near-empty task per bucket on micro-batches
        # and couldn't grow past num_buckets on snapshots. Bucket
        # boundaries stay exact: the writer splits files by the
        # partitionBy value, and a bucket's rows hash to one partition.
        # ``prepartitioned`` (append_delta): apply_batch already
        # partitioned the rows by (bucket, salt) before the chunking
        # UDF, so the payload is not exchanged a second time here —
        # each bucket then spans at most merge._SALT_BUCKETS partitions, i.e.
        # at most that many (advisory-sized) files per batch.
        if not prepartitioned:
            out = out.repartition("__bucket")
        out.sortWithinPartitions(
            "__bucket", "repo", "path", "seq"
        ).write.partitionBy("__bucket").mode("overwrite").parquet(snap_dir)
        files: dict[str, list[str]] = {}
        for d in os.listdir(snap_dir):
            if d.startswith("__bucket="):
                b = d.split("=", 1)[1]
                files[b] = sorted(
                    f"{snap_dir}/{d}/{f}"
                    for f in os.listdir(f"{snap_dir}/{d}")
                    if f.endswith(".parquet")
                )
        return files

    def _next_commit(
        self,
        prev: dict | None,
        seq: int,
        batch_id: str,
        kind: str,
        files: dict[str, list[str]],
        touched: list[int],
        compacted: list[int],
        stats: dict,
    ) -> dict:
        """Build commit ``seq`` on top of ``prev`` — the one place a
        commit dict is made; ``_write_commit`` publishes it.

        File stats: every live file keeps the composite key range
        ``prev`` recorded for it; files this commit wrote get theirs
        from their parquet footers (driver-side, O(new files)) —
        _write_snap key-sorts every file, which is what makes
        first/last-row a valid bound.

        Ledger: the exactly-once batch-id tail is extended with
        ``batch_id`` and spilled to an immutable side chunk once it
        exceeds ``ledger_spill_threshold`` (a crash between the chunk
        write and the commit rename is harmless — a retry rewrites the
        same deterministic content via tmp + rename)."""
        prev_stats = prev["file_stats"] if prev else {}
        live = {p for fl in files.values() for p in fl}
        file_stats = {p: s for p, s in prev_stats.items() if p in live}
        file_stats.update(_file_key_ranges(sorted(live - set(prev_stats))))

        tail = sorted(set(prev["batch_ids"] if prev else []) | {str(batch_id)})
        ledger_files = list(prev["ledger_files"]) if prev else []
        if len(tail) > self.ledger_spill_threshold:
            chunk_name = f"ledger-{seq:012d}.json"
            tmp = f"{self.root}/meta/.tmp-ledger-{uuid.uuid4().hex}.json"
            with open(tmp, "w") as f:
                json.dump({"batch_ids": tail}, f)
                f.flush()
                os.fsync(f.fileno())
            os.rename(tmp, f"{self.root}/meta/{chunk_name}")
            self._ledger_cache[chunk_name] = frozenset(tail)
            ledger_files.append(chunk_name)
            tail = []
        return {
            "commit_seq": seq,
            "batch_id": str(batch_id),
            "batch_ids": tail,  # recent ids; spilled chunks hold the rest
            "ledger_files": ledger_files,
            "ts": time.time(),
            "kind": kind,
            "num_buckets": self.num_buckets,
            "touched_buckets": touched,
            "compacted_buckets": sorted(compacted),
            "files": files,
            "file_stats": file_stats,
            "stats": stats,
        }

    def append_delta(self, delta_rows: DataFrame, batch_id: str, stats_fn=None) -> dict:
        """MERGE commit: append the batch's upserts + tombstones as new
        delta files; compact any bucket whose file count exceeds the
        threshold. Write volume: O(batch) + amortized compaction.
        The touched buckets are the ones the write produced files for.
        ``delta_rows`` is written without a bucket exchange: it should
        arrive partitioned by bucket, as apply_batch's spread exchange
        leaves it; otherwise each task writes its own file per bucket.

        ``stats_fn``: optional ``callable(touched_buckets, new_files)
        -> dict`` invoked right after the delta files land and BEFORE
        the commit JSON is renamed into place — so an Observation attached to
        ``delta_rows`` has resolved, and ``current_commit()`` still
        names the PRIOR state (lineage joins against old state read
        consistently). Its result is the commit's ``stats``."""
        prev = self.current_commit()
        seq = (prev["commit_seq"] + 1) if prev else 0
        files = {k: list(v) for k, v in (prev["files"] if prev else {}).items()}

        new_files = self._write_snap(delta_rows, seq, "delta", prepartitioned=True)
        touched = sorted(int(b) for b in new_files)
        stats = stats_fn(touched, new_files) if stats_fn is not None else {}
        for b, fl in new_files.items():
            files.setdefault(b, []).extend(fl)

        # bounded read amplification: compact oversized buckets
        over = [int(b) for b, fl in files.items() if len(fl) > self.compact_threshold]
        if over:
            base = resolve_state(
                self.spark.read.schema(FILE_SCHEMA).parquet(
                    *[p for b in over for p in files[str(b)]]
                ),
                drop_tombstones=False,  # keep tombstones: late seqs stay safe
            )
            if self.tombstone_horizon is not None:
                # below the no-redelivery watermark a tombstone fences
                # nothing anymore — age it out so table size tracks
                # LIVE keys, not every key ever deleted
                base = base.where(
                    ~F.col("deleted") | (F.col("seq") >= F.lit(self.tombstone_horizon))
                )
            compacted = self._write_snap(base, seq, "compact")
            for b in over:
                files[str(b)] = compacted.get(str(b), [])

        kind = "delta" + ("+compact" if over else "")
        commit = self._next_commit(prev, seq, batch_id, kind, files, touched, over, stats)
        self._write_commit(commit)
        return commit

    # ---- maintenance -------------------------------------------------

    def rebucket(self, new_num_buckets: int) -> dict:
        """Bucket-count evolution (Iceberg ``bucket(N, key)`` partition
        evolution analogue): rewrite the table under a new key-hash
        width in one commit. Day-2 necessity at 10^10 events — a table
        sized for N buckets at launch eventually needs 4N to keep
        per-bucket file data bounded, and requiring a full re-ingest to
        get there would make the initial choice permanent.

        Mechanics: resolve current files to one row per key (tombstones
        KEPT above the horizon — late seqs stay fenced, same rule as
        compaction), rewrite everything hashed by the new bucket count,
        and publish a ``rebucket`` commit. The exactly-once batch-id
        ledger carries forward, so replayed batches are still no-ops
        after the rewrite. Historical commits stay time-travel readable
        (their file maps are keyed by THEIR OWN num_buckets; full reads
        resolve identically, only bucket-pruned reads are
        layout-specific). Crash-safe like every write: data files land
        first, the commit JSON rename is the atomic point; a crash
        in between leaves an orphan snap dir for vacuum_orphans().
        Single-writer op, like compaction.

        Cost: one full-table shuffle — O(live keys), not O(history),
        because resolution collapses per-key deltas map-side first.
        """
        if new_num_buckets < 1:
            raise ValueError(f"rebucket: num_buckets must be >= 1, got {new_num_buckets}")
        prev = self.current_commit()
        seq = (prev["commit_seq"] + 1) if prev else 0
        rows = resolve_state(self.read_files(), drop_tombstones=False)
        if self.tombstone_horizon is not None:
            rows = rows.where(
                ~F.col("deleted") | (F.col("seq") >= F.lit(self.tombstone_horizon))
            )
        old_n = self.num_buckets
        self.num_buckets = new_num_buckets  # _write_snap hashes with it
        # the restore scope runs through the commit rename: until
        # _write_commit succeeds the committed layout is still old_n,
        # and an instance left on the new count after e.g. an ENOSPC in
        # the ledger-carry write would hash subsequent deltas with a
        # bucket count the table's files don't use (split-hash
        # corruption, mis-pruned bucket reads)
        try:
            files = self._write_snap(rows, seq, "rebucket")
            commit = self._next_commit(
                prev, seq, f"__rebucket-{seq}", "rebucket", files,
                touched=sorted(int(b) for b in files),
                compacted=[],
                stats={"rebucket_from": old_n, "rebucket_to": new_num_buckets},
            )
            self._write_commit(commit)
        except BaseException:
            # BaseException, not Exception: a KeyboardInterrupt/SystemExit
            # during the long full-table rewrite must also restore the
            # count, or a surviving instance hashes future deltas with an
            # uncommitted bucket count (ADVICE r4)
            self.num_buckets = old_n  # nothing committed: layout unchanged
            raise
        return commit

    def _referenced_files(self, names: list[str]) -> set[str]:
        """Every data file the named commit JSONs reference."""
        referenced: set[str] = set()
        for name in names:
            with open(f"{self.root}/meta/{name}") as f:
                for fl in json.load(f)["files"].values():
                    referenced.update(fl)
        return referenced

    def expire_commits(self, keep_last: int = 2) -> dict:
        """Expire old commits and garbage-collect their data files
        (Iceberg ``expire_snapshots`` parity). Compaction replaces a
        bucket's file LIST in the new commit but never deletes the old
        files — historical commits stay time-travel-readable. Over 10⁴+
        batches that is unbounded storage; this bounds it: keep the
        newest ``keep_last`` commits, delete older commit JSONs, and
        remove every data file no retained commit references. The
        batch-id ledger lives in the latest commit, so exactly-once
        replay detection survives expiry for ALL history. Returns
        {removed_commits, removed_files, kept_commits}."""
        names = self._commit_files()
        if len(names) <= keep_last:
            return {"removed_commits": 0, "removed_files": 0, "kept_commits": len(names)}
        keep, drop = names[-keep_last:], names[:-keep_last]
        referenced = self._referenced_files(keep)
        removed_files = 0
        data_root = f"{self.root}/data"
        for dirpath, _dirnames, filenames in os.walk(data_root, topdown=False):
            for fn in filenames:
                p = f"{dirpath}/{fn}"
                if fn.endswith(".parquet") and p not in referenced:
                    os.remove(p)
                    removed_files += 1
            if dirpath != data_root and not os.listdir(dirpath):
                os.rmdir(dirpath)
        for name in drop:
            os.remove(f"{self.root}/meta/{name}")
        return {
            "removed_commits": len(drop),
            "removed_files": removed_files,
            "kept_commits": len(keep),
        }

    def vacuum_orphans(self) -> dict:
        """Remove snapshot directories referenced by NO commit — the
        debris of a writer that crashed after ``_write_snap`` but before
        ``_write_commit`` (expire_commits won't touch these: it only
        deletes parquet unreferenced by *retained* commits, and leaves
        the _SUCCESS/crc debris behind). Single-writer maintenance op:
        must not run concurrently with an in-flight append, whose
        not-yet-committed snap dir would look orphaned."""
        import shutil

        referenced_dirs = {
            os.path.dirname(p) for p in self._referenced_files(self._commit_files())
        }
        data_root = f"{self.root}/data"
        removed = []
        if os.path.isdir(data_root):
            for d in sorted(os.listdir(data_root)):
                full = f"{data_root}/{d}"
                if not os.path.isdir(full) or not d.startswith("snap-"):
                    continue
                if not any(ref.startswith(full + "/") for ref in referenced_dirs):
                    shutil.rmtree(full)
                    removed.append(d)
        return {"removed_dirs": removed}
