"""Seeded benchmark inputs, generated before timing and cached on disk.

Everything here is a pure function of ``(shape, seed)``: the change-event
segments the ingest phases consume (through the engine's own event
generator, ``chunker_spark.cdc.events``) and the small warehouse tables
the query phase reads. The program under test receives only the files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np

#: bump when the generated bytes change for an unchanged shape
GEN_VERSION = 3

#: cached input sets kept per kind; older ones are removed
KEEP = 8


def fingerprint(root: str) -> str:
    """sha256 over the sorted (relative path, size) list of every file
    under ``root``: equal fingerprints mean equal input files."""
    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(f"{os.path.relpath(p, root)}\0{os.path.getsize(p)}\n".encode())
    return h.hexdigest()


def cached(work: str, kind: str, shape: dict, seed: int, build) -> str:
    """Directory holding ``build(dir)``'s output for this shape and seed,
    built once (into a temporary sibling, renamed into place)."""
    key = hashlib.sha256(
        json.dumps({"v": GEN_VERSION, "kind": kind, "shape": shape, "seed": seed},
                   sort_keys=True).encode()
    ).hexdigest()[:16]
    final = os.path.join(work, "inputs", f"{kind}-{seed}-{key}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)
    prune(os.path.join(work, "inputs"), f"{kind}-", keep=KEEP)
    return final


def prune(d: str, prefix: str, keep: int) -> None:
    """Remove all but the ``keep`` newest ``prefix*`` directories of ``d``,
    with the files kept beside each (``<dir>.*``)."""
    dirs = sorted(
        (os.path.join(d, n) for n in os.listdir(d)
         if n.startswith(prefix) and ".tmp-" not in n and os.path.isdir(os.path.join(d, n))),
        key=os.path.getmtime,
    )
    for p in dirs[:-keep]:
        shutil.rmtree(p, ignore_errors=True)
        name = os.path.basename(p)
        for n in os.listdir(d):
            if n.startswith(name + "."):
                os.remove(os.path.join(d, n))


# ---- change-event segments --------------------------------------------------


def event_specs(shape: dict, seed: int):
    """``GenSpec`` of the backfill and of the tail stream. Both have keys =
    events / 10, monorepo skew 0.5 and 12% deletes; the backfill migrates
    v1 -> v2 -> v3 like ``bench/run_ingest.py``, the tail is on v3."""
    from chunker_spark.cdc import GenSpec

    b, t = shape["backfill"], shape["tail"]
    nb = b["events"]
    back = GenSpec(seed=seed, n_keys=max(nb // 10, 10), monorepo_share=0.5,
                   mean_blocks=b["mean_kib"], p_delete=0.12,
                   schema_ver_plan=((nb // 3, 2), (2 * nb // 3, 3)))
    tail = GenSpec(seed=seed, n_keys=max(t["events"] // 10, 10), monorepo_share=0.5,
                   mean_blocks=t["mean_kib"], p_delete=0.12, schema_ver_plan=((0, 3),))
    return back, tail


def stream_events(shape: dict, seed: int, n_tail: int) -> list[dict]:
    """The backfill events, then the first ``n_tail`` tail events. Tail
    keys live under ``tail/`` and tail seqs and timestamps continue the
    backfill's, so the whole list is one change log."""
    from datetime import timedelta

    from chunker_spark.cdc import gen_events_local

    back, tail = event_specs(shape, seed)
    nb = shape["backfill"]["events"]
    events = list(gen_events_local(back, nb))
    for ev in gen_events_local(tail, n_tail):
        ev["seq"] += nb
        ev["ts"] += timedelta(seconds=nb)
        ev["path"] = "tail/" + ev["path"]
        events.append(ev)
    return events


def write_events(shape: dict, seed: int, out: str) -> None:
    """Write the log as parquet segments: ``backfill/`` holds the backfill
    in ``segments`` files, ``tail/`` the tail in files of
    ``segment_events`` events each. Names sort in log order."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from chunker_spark.cdc import EVENT_SCHEMA

    events = stream_events(shape, seed, shape["tail"]["events"])
    schema = to_arrow_schema(EVENT_SCHEMA)
    cols = schema.names

    def put(rows: list[dict], path: str) -> None:
        pdf = pd.DataFrame(rows)[cols]
        pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True)
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), path)

    for name, (lo, hi) in segment_ranges(shape).items():
        d = f"{out}/{'backfill' if name.startswith('b-') else 'tail'}"
        os.makedirs(d, exist_ok=True)
        put(events[lo:hi], f"{d}/{name}")


def segment_ranges(shape: dict) -> dict[str, tuple[int, int]]:
    """Segment file name -> [lo, hi) range of indexes into the log."""
    nb, nt = shape["backfill"]["events"], shape["tail"]["events"]
    per = -(-nb // shape["backfill"]["segments"])
    out = {}
    for s, lo in enumerate(range(0, nb, per)):
        out[f"b-{s:05d}.parquet"] = (lo, min(lo + per, nb))
    step = shape["tail"]["segment_events"]
    for s, lo in enumerate(range(nb, nb + nt, step)):
        out[f"t-{s:05d}.parquet"] = (lo, min(lo + step, nb + nt))
    return out


# ---- warehouse tables for the query phase ----------------------------------

#: The shape of the sf0.001 tables that the engine's tests, ``bench.py`` and
#: the query oracles are written against, measured column by column; the
#: generator below draws from these laws and ``test_perfbench`` checks that
#: its output reproduces the figures.
MEASURED = {
    # documents: words i.i.d. uniform over a 31-word vocabulary, word count
    # uniform in [10, 100), no duplicate texts, 20 round-robin sources
    "documents.rows": 500,
    "documents.words_mean": 55.9, "documents.words_min": 10, "documents.words_max": 99,
    "documents.vocabulary": 31, "documents.chars_per_word": 4.50, "documents.dup_share": 0.0,
    "documents.lang_share": {"en": 0.386, "fr": 0.164, "es": 0.160, "zh": 0.148, "de": 0.142},
    # embeddings: 64-dim unit vectors of i.i.d. Gaussians; the 10 labels
    # are independent of the vectors (label centroids are no further from
    # the origin than under shuffled labels), nearest-neighbour cosine ~0.36
    "embeddings.rows": 500, "embeddings.dim": 64, "embeddings.labels": 10,
    "embeddings.norm": 1.0, "embeddings.nn_cos_p50": 0.361,
    # events: timestamps uniform over 30 days and sorted by event_id,
    # 15 users, value exponential with mean 50
    "events.rows": 1000, "events.users": 15, "events.value_mean": 50.05,
    "events.span_days": 30,
    # TPC-H-like tables: keys uniform, so every customer has orders
    "lineitem.rows": 6000, "orders.rows": 1500, "customers_without_orders": 0,
    "o_totalprice.max": 499705.05, "l_extendedprice.max": 104998.18,
}

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.386, 0.164, 0.160, 0.148, 0.142]


def write_tables(shape: dict, seed: int, out: str) -> None:
    """The ten tables ``__spark_entry__.queries()`` read, at the row
    counts of scale factor ``shape['sf']`` (6,000 lineitems per 0.001),
    drawn from the laws of ``MEASURED``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 7])
    k = shape["sf"] / 0.001

    def n(base: int) -> int:
        return max(int(round(base * k)), 1)

    def put(name: str, cols: dict, schema: list) -> None:
        pq.write_table(pa.table(cols, schema=pa.schema(schema)), f"{out}/{name}.parquet")

    def money(lo: float, hi: float, size: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, size), 2)

    def dates(size: int, start: str, days: int) -> np.ndarray:
        base = np.datetime64(start, "us")
        return base + rng.integers(0, days, size).astype("timedelta64[D]")

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    put("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        [("r_regionkey", i32), ("r_name", s)])
    put("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)])
    nc, ns, np_, no, nl = n(150), n(10), n(200), n(1500), n(6000)
    put("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": money(-999, 9999, nc),
        "c_mktsegment": rng.choice(["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"], nc),
    }, [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64), ("c_mktsegment", s)])
    put("supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": money(-999, 9999, ns),
    }, [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)])
    adj = ["cold", "small", "large", "blue", "new", "red", "hot", "old"]
    noun = ["widget", "bolt", "rod", "gear", "anvil", "nut", "spring", "valve"]
    put("part", {
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (np_, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD"], np_),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(np_) * 0.1, 2),
    }, [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s), ("p_size", i32),
        ("p_retailprice", f64)])
    put("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": money(1000, 500000, no),
        "o_orderdate": dates(no, "1995-01-01", 2405),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no),
    }, [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s), ("o_totalprice", f64),
        ("o_orderdate", ts), ("o_orderpriority", s)])
    put("lineitem", {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(900, 105000, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": rng.choice(["N", "R", "A"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": dates(nl, "1995-01-01", 2500),
    }, [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
        ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
        ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)])
    ne = n(1000)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    put("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 15, ne).astype(np.int64),
        "event_type": rng.choice(["click", "purchase", "error", "signup", "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [json.dumps({"k": int(v)}) for v in rng.integers(0, 100, ne)],
    }, [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s), ("value", f64),
        ("props", s)])
    nd = n(500)
    lens = rng.integers(10, 100, nd)
    texts = [" ".join(rng.choice(_WORDS, ln)) for ln in lens]
    put("documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, [("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)])
    nv, dim = n(500), 64
    vecs = rng.normal(0, 1, (nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    }, [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)])


def table_shape(tables: str) -> dict:
    """The figures of ``MEASURED``, computed from a directory of tables."""
    import collections

    import pyarrow.parquet as pq

    def read(name: str):
        return pq.read_table(f"{tables}/{name}.parquet").to_pandas()

    doc, emb, ev = read("documents"), read("embeddings"), read("events")
    orders, items = read("orders"), read("lineitem")
    words = [t.split() for t in doc.text]
    lens = np.array([len(w) for w in words])
    vocab = collections.Counter(w for ws in words for w in ws)
    vecs = np.stack(emb.embedding.values).astype(np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = unit @ unit.T
    np.fill_diagonal(cos, -1.0)
    span = ev.ts.max() - ev.ts.min()
    return {
        "documents.rows": len(doc),
        "documents.words_mean": float(lens.mean()),
        "documents.words_min": int(lens.min()), "documents.words_max": int(lens.max()),
        "documents.vocabulary": len(vocab),
        "documents.chars_per_word": float(np.mean([len(w) for ws in words for w in ws])),
        "documents.dup_share": 1.0 - doc.text.nunique() / len(doc),
        "documents.lang_share": doc.lang.value_counts(normalize=True).to_dict(),
        "embeddings.rows": len(emb), "embeddings.dim": vecs.shape[1],
        "embeddings.labels": int(emb.label.nunique()),
        "embeddings.norm": float(np.linalg.norm(vecs, axis=1).mean()),
        "embeddings.nn_cos_p50": float(np.median(cos.max(axis=1))),
        "events.rows": len(ev), "events.users": int(ev.user_id.nunique()),
        "events.value_mean": float(ev.value.mean()),
        "events.span_days": round(span.total_seconds() / 86400),
        "lineitem.rows": len(items), "orders.rows": len(orders),
        "customers_without_orders": int(len(read("customer")) - orders.o_custkey.nunique()),
        "o_totalprice.max": float(orders.o_totalprice.max()),
        "l_extendedprice.max": float(items.l_extendedprice.max()),
    }
