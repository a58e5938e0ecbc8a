"""Equivalence pins for the round-6 plan-construction rewrites.

Each optimization that replaced a Column-by-Column expression builder
with a single SQL string (or a per-process cached plan) gets a test
proving the fast path computes EXACTLY what the original construction
computes — schema and rows — or, where the original builder is gone,
what an independent reference computes, so the rewrites can never
drift from the semantics the oracles pinned.
"""

import pytest
from pyspark.sql import functions as F


# ---- kmeans_assign: SQL fast path vs an independent reference ------

def _sq_dist_reference(vec, cent) -> float:
    """Squared L2 as a left-to-right float64 fold (the op's fold
    order), rounded to 6 places the way Spark's ``round`` does:
    HALF_UP on the shortest decimal form of the double."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    acc = np.float64(0.0)
    for a, b in zip(np.asarray(vec, np.float64), np.asarray(cent, np.float64)):
        acc = acc + (a - b) * (a - b)
    return float(Decimal(repr(float(acc))).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def test_kmeans_assign_equals_numpy_reference(spark):
    from chunker_spark.ops.clustering import kmeans_assign

    rows = [
        (0, [0.0, 0.0, 0.0]),
        (1, [1.0, 2.0, -3.5]),
        (2, [0.5, 0.5, 0.5]),
        (3, [1e-9, -1e-9, 123456.789]),
        # exact tie with both centroids -> lower cid must win
        (4, [2.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0, 0.0]), (1, [3.0, 0.0, 0.0]), (2, [0.5, 0.5, 0.5])]

    out = kmeans_assign(df, cents)
    assert out.dtypes[-2:] == [("cluster", "int"), ("sq_dist", "double")]
    got = {r["vec_id"]: (r["cluster"], r["sq_dist"]) for r in out.collect()}
    # min over (distance, cid): ties on the distance go to the lower cid
    want = {
        vid: min((_sq_dist_reference(vec, c), cid) for cid, c in cents)[::-1]
        for vid, vec in rows
    }
    assert got == want
    assert got[4] == (0, 1.0)


# ---- simhash: SQL fast path vs Column path ---------------------------

def test_simhash_sql_fast_path_equals_column_path(spark):
    from chunker_spark.ops.dedup import simhash_expr

    rows = [
        (0, "The quick brown fox jumps over the lazy dog"),
        (1, "lorem ipsum dolor sit amet " * 5),
        (2, ""),
        (3, "one-word"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    both = df.select(
        "doc_id",
        simhash_expr("text").alias("h_sql"),       # string -> SQL fast path
        simhash_expr(F.col("text")).alias("h_col"),  # Column -> original path
    ).collect()
    for r in both:
        assert r["h_sql"] == r["h_col"], r


# ---- normalize_events: precompiled SQL vs canonical_field ------------

def test_normalize_events_sql_equals_canonical_field(spark):
    from chunker_spark.cdc.schema import (
        FIELD_SOURCES,
        canonical_field,
        normalize_events,
    )

    # one row per schema version, plus a null-version row (fallthrough)
    rows = [
        (1, "2024-01-01T00:00:00", "I", 1, "r1", "p1", "c1", "py", None, None, "x"),
        (2, "2024-01-01T00:00:01", "U", 2, "r2", "p2", "c2", "py", None, "dev", "y"),
        (3, "2024-01-01T00:00:02", "D", 3, "r3", "p3", "c3", None, "rust", "main", None),
        (4, "2024-01-01T00:00:03", "I", None, "r4", "p4", "c4", "go", None, None, "z"),
    ]
    schema = (
        "seq long, ts string, op string, schema_ver int, repo string, "
        "path string, commit string, lang string, language string, "
        "branch string, content string"
    )
    df = spark.createDataFrame(rows, schema)
    new = normalize_events(df)
    old = df.select(
        F.col("seq"), F.col("ts"), F.col("op"),
        *[canonical_field(name) for name in FIELD_SOURCES],
    )
    assert [f.name for f in new.schema.fields] == [f.name for f in old.schema.fields]
    assert new.exceptAll(old).count() == 0 and old.exceptAll(new).count() == 0


# ---- envelope parsers: cached plan vs fresh build --------------------

@pytest.mark.parametrize("flags", [(False, False), (True, False), (True, True)])
def test_parser_plan_cache_identity_and_freshness(spark, flags):
    from chunker_spark.cdc import envelopes as env

    keep_raw, with_old_keys = flags
    payloads = [
        ('{"op":"c","ts_ms":1000,"after":{"repo":"r","path":"p","commit":"c1",'
         '"content":"hello"},"source":{"lsn":"7","table":"files"}}',),
        ('{"op":"u","ts_ms":2000,"before":{"repo":"r","path":"p"},'
         '"after":{"repo":"r","path":"p2","commit":"c2","content":"hi"},'
         '"source":{"lsn":"8","table":"files"}}',),
        ('{"op":"d","ts_ms":3000,"before":{"repo":"r","path":"p2"},'
         '"source":{"lsn":"9","table":"files"}}',),
        ("not json",),
    ]
    raw = spark.createDataFrame(payloads, "value string")

    # same args -> the SAME cached plan object (no rebuild)
    p1 = env._debezium_plan("value", keep_raw, with_old_keys)
    p2 = env._debezium_plan("value", keep_raw, with_old_keys)
    assert p1 is p2
    # different flags -> a different plan
    assert p1 is not env._debezium_plan("value", keep_raw, not with_old_keys)

    cached = env.parse_debezium(
        raw, keep_raw=keep_raw, with_old_keys=with_old_keys
    ).collect()
    env._debezium_plan.cache_clear()
    fresh = env.parse_debezium(
        raw, keep_raw=keep_raw, with_old_keys=with_old_keys
    ).collect()
    assert sorted(map(repr, cached)) == sorted(map(repr, fresh))
    assert len(cached) == 4  # malformed row surfaces as a null-op DLQ row
