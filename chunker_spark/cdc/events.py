"""Change-event model and deterministic event-stream generator.

The engine ingests a CDC log of source-code file rows (BASELINE.json
input_hint shape): insert/update/delete events keyed by ``(repo, path)``
with a total per-key order given by ``seq``.

The generator is stateless per event index — content for any
``(key, version)`` is a pure function of ``(seed, key, version)`` — so
the same stream can be (a) produced locally for the replay oracle,
(b) written as parquet segments for streaming tests, and (c) synthesized
partition-parallel at bench scale via ``spark.range`` + ``mapInPandas``
without ever materializing the log on the driver (FIXTURES.md §C/§E).

Update semantics deliberately edit one contiguous block of the previous
content so consecutive versions share most chunks — exercising the
skip-unchanged-regions dedup path.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Iterator

import numpy as np

from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..kernel.chunker import ChunkerParams

#: Ingestion chunking defaults for source-code rows: 2 KiB min / 8 KiB
#: avg / 64 KiB max (the reference's 512K/1M/8M restic defaults target
#: backup blobs; source files are small). Same kernel, same polynomial.
SOURCE_PARAMS = ChunkerParams(average_bits=13, min_size=2048, max_size=65536)

EVENT_SCHEMA = StructType(
    [
        StructField("seq", LongType(), False),
        StructField("ts", TimestampType(), False),
        StructField("op", StringType(), False),  # 'I' | 'U' | 'D'
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), True),
        StructField("lang", StringType(), True),  # schema_ver <= 2 name
        StructField("language", StringType(), True),  # schema_ver >= 3 name
        StructField("branch", StringType(), True),  # added in schema_ver 2
        StructField("content", StringType(), True),
        StructField("schema_ver", IntegerType(), False),
    ]
)

_LANGS = ["py", "go", "d", "java", "md", "rs", "c"]
_T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)

_BLOCK = 1024  # bytes of content per editable block


def _h64(*parts: object) -> int:
    digest = hashlib.blake2b(
        "|".join(str(p) for p in parts).encode(), digest_size=8
    ).digest()
    return int.from_bytes(digest, "big")


@dataclass(frozen=True)
class GenSpec:
    """Shape of a generated stream (all derived values deterministic
    in ``seed``)."""

    seed: int = 42
    n_keys: int = 200
    n_repos: int = 8
    monorepo_share: float = 0.5  # fraction of keys in repo 0 (skew)
    mean_blocks: int = 8  # mean content size = mean_blocks * 1 KiB
    p_delete: float = 0.12
    schema_ver_plan: tuple[tuple[int, int], ...] = ()  # (from_seq, ver)

    def key_repo_path(self, k: int) -> tuple[str, str]:
        # repo 0 is the "monorepo": it owns monorepo_share of all keys
        if (k / max(self.n_keys, 1)) < self.monorepo_share:
            repo = "repo-0"
        else:
            repo = f"repo-{1 + _h64(self.seed, 'repo', k) % (self.n_repos - 1)}"
        return repo, f"src/dir{k % 37}/file_{k}.{_LANGS[k % len(_LANGS)][:2]}"

    def schema_ver_at(self, seq: int) -> int:
        ver = 1
        for from_seq, v in self.schema_ver_plan:
            if seq >= from_seq:
                ver = v
        return ver


_SM_MUL1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_MUL2 = np.uint64(0x94D049BB133111EB)
_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_BLOCK_IDX = np.arange(_BLOCK // 8, dtype=np.uint64)


def _blocks_bytes(seeds: list[int]) -> bytes:
    """1 KiB of printable pseudo-source text per seed, one vectorized
    pass for the whole document (splitmix64 in counter mode — each
    block is a pure function of its own seed, so editing one block's
    version leaves every other block byte-identical)."""
    n = len(seeds)
    words = _BLOCK // 8
    with np.errstate(over="ignore"):
        x = np.repeat(np.asarray(seeds, dtype=np.uint64), words)
        x += np.tile(_BLOCK_IDX, n) * _SM_GAMMA
        x = (x ^ (x >> np.uint64(30))) * _SM_MUL1
        x = (x ^ (x >> np.uint64(27))) * _SM_MUL2
        x ^= x >> np.uint64(31)
    raw = np.uint8(35) + (x.view(np.uint8) % np.uint8(88))  # printable '#'..'z'
    raw = raw.reshape(n, _BLOCK)
    raw[:, ::79] = 10  # newline every ~79 chars
    return raw.tobytes()


def content_at(spec: GenSpec, k: int, version: int) -> str:
    """Content of key ``k`` after its ``version``-th I/U event.

    The file has a per-key number of 1 KiB blocks; each version bumps
    exactly one block (chosen by hash), so successive versions differ
    in one contiguous region and share all other chunks.
    """
    n_blocks = 1 + _h64(spec.seed, "nb", k) % (2 * spec.mean_blocks - 1)
    edited = [0] * n_blocks
    for v in range(1, version + 1):
        edited[_h64(spec.seed, "edit", k, v) % n_blocks] += 1
    seeds = [_h64(spec.seed, k, i, edited[i]) for i in range(n_blocks)]
    return _blocks_bytes(seeds).decode("ascii")


def event_at(spec: GenSpec, i: int) -> dict:
    """The ``i``-th event of the stream — stateless, O(versions-of-key).

    Keys receive events round-robin; a key's ``version`` is how many
    events it has seen. Ops: version 0 is I; later versions are U
    except a deterministic ~p_delete fraction of D, and the version
    after a D is a re-insert.
    """
    k = i % spec.n_keys
    version = i // spec.n_keys
    repo, path = spec.key_repo_path(k)

    def is_delete(v: int) -> bool:
        return v > 0 and (_h64(spec.seed, "op", k, v) % 1000) < int(spec.p_delete * 1000)

    if version == 0:
        op = "I"
    elif is_delete(version):
        op = "D"
    elif is_delete(version - 1):
        op = "I"  # re-insert after delete
    else:
        op = "U"

    ver = spec.schema_ver_at(i)
    lang = _LANGS[k % len(_LANGS)]
    row = {
        "seq": i,
        "ts": _T0 + timedelta(seconds=i),
        "op": op,
        "repo": repo,
        "path": path,
        "commit": hashlib.sha1(f"{spec.seed}|{k}|{version}".encode()).hexdigest(),
        "lang": lang if ver < 3 else None,
        "language": lang if ver >= 3 else None,
        "branch": ("main" if _h64(spec.seed, "br", k) % 4 else "dev") if ver >= 2 else None,
        "content": None if op == "D" else content_at(spec, k, version),
        "schema_ver": ver,
    }
    return row


def gen_events_local(spec: GenSpec, n_events: int) -> Iterator[dict]:
    """Materialize the first ``n_events`` events (tests / oracle)."""
    for i in range(n_events):
        yield event_at(spec, i)


def events_df(spark, spec: GenSpec, n_events: int, partitions: int | None = None, start: int = 0):
    """Distributed, lazy event synthesis: ``spark.range`` over indices +
    per-partition Python synthesis. Nothing is materialized driver-side;
    generation parallelism follows the range partitioning (bench path,
    FIXTURES.md §E)."""
    import pandas as pd

    rng = spark.range(start, n_events, 1, partitions or spark.sparkContext.defaultParallelism)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [event_at(spec, int(i)) for i in b["id"]]
            yield pd.DataFrame(rows, columns=[f.name for f in EVENT_SCHEMA.fields])

    return rng.mapInPandas(synth, schema=EVENT_SCHEMA)


def write_segments(spark, spec: GenSpec, n_events: int, out_dir: str, n_segments: int) -> list[str]:
    """Write the stream as numbered single-file parquet segments — the
    binlog a streaming source tails (flat files, NOT directories: the
    file streaming source does not recurse). Segment boundaries define
    micro-batch arrival order for resume tests (FIXTURES.md §C)."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    all_events = list(gen_events_local(spec, n_events))
    cols = [f.name for f in EVENT_SCHEMA.fields]
    # explicit arrow schema: all-null string columns must not fall back
    # to inferred types
    pa_schema = pa.schema(
        [
            pa.field("seq", pa.int64()),
            pa.field("ts", pa.timestamp("us", tz="UTC")),
            pa.field("op", pa.string()),
            pa.field("repo", pa.string()),
            pa.field("path", pa.string()),
            pa.field("commit", pa.string()),
            pa.field("lang", pa.string()),
            pa.field("language", pa.string()),
            pa.field("branch", pa.string()),
            pa.field("content", pa.string()),
            pa.field("schema_ver", pa.int32()),
        ]
    )
    paths = []
    per = (n_events + n_segments - 1) // n_segments
    for s in range(n_segments):
        lo, hi = s * per, min((s + 1) * per, n_events)
        if lo >= hi:
            break
        pdf = pd.DataFrame(all_events[lo:hi])[cols]
        pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True)
        p = f"{out_dir}/segment-{s:05d}.parquet"
        pq.write_table(pa.Table.from_pandas(pdf, schema=pa_schema, preserve_index=False), p)
        paths.append(p)
    return paths
