"""Driver contract for the spark-graft builder (PySpark target).

``entry``     — flagship: CDC chunk-manifest + dedup stats over sf0.001.
``queries``   — one entry per implemented operator family (SURVEY.md §2):
                relational coverage (agg/join/window/topk/setop), CDC
                semantics (last-writer-wins, gap audit, replay), the
                chunking kernel surface (manifests, chunk store), and
                training-data ops (dedup, text analysis, ANN, media).
``oracle_sql``— DuckDB-equivalent SQL for every query whose semantics
                SQL can express — including invariant-style oracles for
                the engine-specific ops (chunk-store conservation,
                planted-duplicate MinHash/ngram/LSH-embedding
                completeness, SimHash order/case invariance, ANN
                self-nearest rank-1, full CDC-replay final state and
                change-feed diff, the lang-id heuristic restated in
                SQL, media digests pinned to generation-time values,
                kernel chunk manifests joined by content hash to
                expected vectors precomputed by the independent scalar
                kernel, and all three wire envelopes — Debezium, Maxwell
                (across a binlog rotation) and wal2json (across a WAL
                segment boundary), the as-of join
                vs DuckDB's native ASOF JOIN, HLL sketches via their
                error contract, sequence packing and exact stratified
                sampling in pure integer arithmetic, TF-IDF and k-means
                assignment under the rounded-before-rank float
                protocol, SCD-2 validity intervals in integer
                microseconds). All 58 of 58 queries are value-checked.

Numeric parity policy: aggregates compute in exact DECIMAL on both
sides, then cast to double and round — distributed double summation is
order-dependent, decimal is not, so value hashes match bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.errors.utils as _pyspark_errors_utils

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

# Engine-wide: turn OFF PySpark's DataFrame-debugging call-site capture
# (spark.python.sql.dataFrameDebugging.enabled, default true). With it
# on, EVERY DataFrame/Column API call pays ~3-4 py4j round trips (an
# active-session lookup, a conf.get of stackTracesInDataFrameContext, a
# JVM PySparkCurrentOrigin.set) plus a Python stack walk — pure
# driver-side control-plane cost that error messages spend on a user
# code line pointer. Measured on this suite: 40-55% of plan-
# construction time per query (e.g. simhash build 0.61->0.27 s,
# wal2json_parse 0.25->0.13 s, same-process interleaved A/B); the suite
# builds ~100 query plans per bench pass, and a streaming deployment
# re-builds its micro-batch plan every trigger. The conf is read ONCE
# per process and cached (pyspark.errors.utils._enable_debugging_cache)
# — possibly before this module can reach a session (bench.py warms
# the session before calling queries()), so the supported conf route
# cannot win the race; setting the module cache directly IS the switch.
# Results are unaffected: the flag only enriches error messages.
# The cache is private: if a PySpark upgrade renames it, assigning it
# would silently switch nothing, so that must fail loudly instead.
if not hasattr(_pyspark_errors_utils, "_enable_debugging_cache"):
    raise RuntimeError(
        "pyspark.errors.utils._enable_debugging_cache is missing in this "
        "PySpark version; update the DataFrame-debugging switch in "
        "__spark_entry__.py"
    )
_pyspark_errors_utils._enable_debugging_cache = False


#: per-process parquet schema cache — METADATA only, a metastore in
#: miniature. Every bare spark.read.parquet runs a one-task
#: footer/schema-inference job (~0.1 s warm, measured); the suite
#: re-reads the same few dozen fixed paths 100+ times per bench pass.
#: The schema is inferred once per path and passed explicitly on later
#: reads — plan-identical (the cached schema IS the inferred one), and
#: no data or results are ever cached: every read still scans parquet.
_PQ_SCHEMAS: dict = {}


def _pq(spark: SparkSession, path: str) -> DataFrame:
    sch = _PQ_SCHEMAS.get(path)
    if sch is None:
        df = spark.read.parquet(path)
        _PQ_SCHEMAS[path] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _pq(spark, f"{sf_dir}/{name}.parquet")


#: planted-duplicate id shift for the completeness-invariant oracles
#: (minhash/ngram/embedding-LSH); >> any doc_id/vec_id at every sf
_COPY_OFFSET = 1_000_000


# ---------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Chunk-manifest + dedup profile of the documents table at sf0.001:
    per source, rows, bytes, total/distinct chunks and dedup ratio."""
    from chunker_spark.functions.manifest import with_manifest
    from chunker_spark.kernel import ChunkerParams

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    params = ChunkerParams(average_bits=9, min_size=128, max_size=4096)
    m = with_manifest(docs, content_col="text", params=params)
    ch = m.select("source", F.explode("manifest").alias("c"))
    return (
        ch.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("chunks"),
            F.countDistinct("c.chunk_sha256").alias("distinct_chunks"),
            F.sum("c.length").alias("bytes"),
            F.round(
                F.countDistinct("c.chunk_sha256") / F.count(F.lit(1)), 4
            ).alias("dedup_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------

def q_pricing_summary(spark, sf):
    """TPC-H Q1-style aggregation (decimal-exact)."""
    l = _t(spark, sf, "lineitem").where(F.col("l_shipdate") <= F.lit("1998-09-02"))
    dec = lambda c: F.col(c).cast("decimal(20,4)")
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")).cast("double"), 2).alias("sum_base_price"),
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(20,4)") - dec("l_discount"))).cast("double"),
                2,
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE), 2) AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4)) * (CAST(1 AS DECIMAL(20,4)) - CAST(l_discount AS DECIMAL(20,4)))) AS DOUBLE), 2) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark, sf):
    """3-way join with broadcast dims: revenue per customer nation."""
    l = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    dec = lambda col: F.col(col).cast("decimal(20,4)")
    rev = l.withColumn(
        "rev", dec("l_extendedprice") * (F.lit(1).cast("decimal(20,4)") - dec("l_discount"))
    )
    return (
        rev.join(o, rev["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.round(F.sum("rev").cast("double"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
        .orderBy("n_name")
    )


SQL_REVENUE_BY_NATION = """
SELECT n_name,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4)) * (CAST(1 AS DECIMAL(20,4)) - CAST(l_discount AS DECIMAL(20,4)))) AS DOUBLE), 2) AS revenue,
       count(*) AS line_count
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


def q_last_order_per_customer(spark, sf):
    """Window function: each customer's most recent order (LWW shape)."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("last_orderkey"),
            F.col("o_orderstatus").alias("last_status"),
            F.round(F.col("o_totalprice").cast("decimal(20,4)").cast("double"), 2).alias("last_totalprice"),
        )
    )


SQL_LAST_ORDER = """
SELECT o_custkey AS custkey,
       o_orderkey AS last_orderkey,
       o_orderstatus AS last_status,
       round(CAST(CAST(o_totalprice AS DECIMAL(20,4)) AS DOUBLE), 2) AS last_totalprice
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
"""


def q_topk_orders(spark, sf):
    """Top-k with deterministic tie-break."""
    o = _t(spark, sf, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice").cast("decimal(20,4)").cast("double"), 2).alias("totalprice"),
        )
    )


SQL_TOPK_ORDERS = """
SELECT o_orderkey, o_custkey,
       round(CAST(CAST(o_totalprice AS DECIMAL(20,4)) AS DOUBLE), 2) AS totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 25
"""


def q_customers_without_orders(spark, sf):
    """Anti-join set operation."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


SQL_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
ORDER BY c_custkey
"""


def q_events_lww(spark, sf):
    """CDC last-writer-wins over the events stream table: the final
    event per user by (ts, event_id) — the engine's batch-reduce step
    (chunker_spark.cdc.lake.resolve_state, which merge.apply_batch runs
    on every batch) on public data."""
    e = _t(spark, sf, "events")
    payload = F.struct("event_id", "event_type", "value")
    return (
        e.groupBy("user_id")
        .agg(F.max_by(payload, F.struct("ts", "event_id")).alias("last"))
        .select(
            "user_id",
            F.col("last.event_id").alias("last_event_id"),
            F.col("last.event_type").alias("last_event_type"),
            F.round(F.col("last.value").cast("decimal(20,6)").cast("double"), 4).alias("last_value"),
        )
    )


SQL_EVENTS_LWW = """
SELECT user_id,
       event_id AS last_event_id,
       event_type AS last_event_type,
       round(CAST(CAST(value AS DECIMAL(20,6)) AS DOUBLE), 4) AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_events_gap_audit(spark, sf):
    """Ordering audit with lag(): per-user count of inter-event gaps
    over 1 hour (lineage-style stream health metric)."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")  # ts is NTZ; session tz is UTC
    gap = epoch - F.lag(epoch).over(w)
    return (
        e.withColumn("gap_s", gap)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("gap_s") > 3600, 1).otherwise(0)).alias("gaps_over_1h"),
            F.max("gap_s").alias("max_gap_s"),
        )
    )


SQL_EVENTS_GAP_AUDIT = """
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CASE WHEN gap_s > 3600 THEN 1 ELSE 0 END) AS BIGINT) AS gaps_over_1h,
       max(gap_s) AS max_gap_s
FROM (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
  FROM events
)
GROUP BY user_id
"""


def q_events_minutely(spark, sf):
    """Tumbling-window stream metrics: per-minute event counts and
    value sums per event type (the streaming metrics rollup shape,
    SURVEY.md §2.3, run here on the batch events table)."""
    e = _t(spark, sf, "events")
    # NTZ timestamps truncate + stringify without any session-timezone
    # shift — keeps the oracle comparison timezone-proof
    minute = F.date_trunc("minute", F.col("ts")).cast("string")
    return e.groupBy(minute.alias("minute"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(20,6)")).cast("double"), 4).alias("value_sum"),
    )


SQL_EVENTS_MINUTELY = """
SELECT CAST(date_trunc('minute', ts) AS VARCHAR) AS minute,
       event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 4) AS value_sum
FROM events
GROUP BY 1, 2
"""


def q_events_windowed(spark, sf):
    """True tumbling-window aggregation via F.window (5-minute buckets —
    not expressible as date_trunc), the batch face of the streaming
    rollup operator (cdc.streaming.windowed_event_metrics; the streaming
    run with watermark is pinned by test_windowed_metrics_streaming_
    equals_batch). NTZ timestamps keep the comparison timezone-proof."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(20,6)")).cast("double"), 4).alias("value_sum"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


SQL_EVENTS_WINDOWED = """
SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) AS VARCHAR) AS window_start,
       event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 4) AS value_sum
FROM events
GROUP BY 1, 2
"""


def q_doc_sha256(spark, sf):
    """The content-sha256 invariant column (BASELINE.json input_hint)."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", F.sha2(F.col("text").cast("binary"), 256).alias("content_sha256")
    )


SQL_DOC_SHA256 = """
SELECT doc_id, sha256(text) AS content_sha256 FROM documents
"""


def q_doc_tokens(spark, sf):
    """Token counting: BPE-ish regex tokens + whitespace tokens."""
    from chunker_spark.functions.text import token_count, whitespace_token_count

    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        token_count("text").cast("long").alias("bpe_tokens"),
        whitespace_token_count("text").cast("long").alias("ws_tokens"),
    )


SQL_DOC_TOKENS = r"""
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens,
       len(string_split_regex(trim(text), '\s+')) AS ws_tokens
FROM documents
"""


def q_doc_quality(spark, sf):
    """Quality scoring features with exact SQL parity."""
    d = _t(spark, sf, "documents")
    c = F.col("text")
    n = F.length(c).cast("long")
    words = F.split(F.trim(c), r"\s+")
    n_words = F.size(words).cast("long")
    punct = F.length(F.regexp_replace(c, r"[^!-/:-@\[-`{-~]", "")).cast("long")
    upper = F.length(F.regexp_replace(c, "[^A-Z]", "")).cast("long")
    return d.select(
        "doc_id",
        n.alias("n_chars"),
        n_words.alias("n_words"),
        punct.alias("n_punct"),
        upper.alias("n_upper"),
        F.round(n.cast("decimal(20,6)") / F.greatest(n_words, F.lit(1)).cast("decimal(20,6)"), 4)
        .cast("double")
        .alias("mean_word_len"),
    )


SQL_DOC_QUALITY = r"""
SELECT doc_id,
       length(text) AS n_chars,
       len(string_split_regex(trim(text), '\s+')) AS n_words,
       length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g')) AS n_punct,
       length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
       CAST(round(CAST(length(text) AS DECIMAL(20,6)) / CAST(greatest(len(string_split_regex(trim(text), '\s+')), 1) AS DECIMAL(20,6)), 4) AS DOUBLE) AS mean_word_len
FROM documents
"""


def q_doc_fingerprint(spark, sf):
    """Document fingerprint (xxhash64 of ws/case-normalized text),
    checked through its partition invariant: the fingerprint must
    induce EXACTLY the grouping the normalized text induces — the
    oracle counts distinct normalized texts directly; Spark counts
    distinct fingerprints. Equal iff the fingerprint respects the
    normalization equivalence AND is collision-free on the corpus."""
    from chunker_spark.functions.text import doc_fingerprint

    d = _t(spark, sf, "documents")
    return d.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(doc_fingerprint("text")).alias("n_groups"),
    )


SQL_DOC_FINGERPRINT = r"""
SELECT count(*) AS n_docs,
       count(DISTINCT regexp_replace(lower(text), '\s+', ' ', 'g')) AS n_groups
FROM documents
"""


def q_dedup_exact(spark, sf):
    """Exact dedup on normalized text: representative id + group size.

    Groups on a sha256 fingerprint of the normalized text, never the
    text itself — at 100 TB the shuffle carries 32-byte keys, not the
    full corpus (the oracle groups on the normalized text directly:
    identical groups unless sha256 collides)."""
    d = _t(spark, sf, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return (
        d.withColumn("fp", F.sha2(norm.cast("binary"), 256))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count(F.lit(1)).alias("dup_count"))
        .select("rep_doc_id", "dup_count")
    )


SQL_DEDUP_EXACT = r"""
SELECT min(doc_id) AS rep_doc_id, count(*) AS dup_count
FROM documents
GROUP BY regexp_replace(lower(text), '\s+', ' ', 'g')
"""


def q_ann_topk(spark, sf):
    """Brute-force cosine top-5 for the first 4 vectors as queries."""
    from chunker_spark.ops.similarity import brute_force_topk

    v = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = v.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(v, q, k=5).select(
        "query_id", "vec_id", (F.col("cosine") + F.lit(0.0)).alias("cosine"), "rank"
    )


SQL_ANN_TOPK = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
     q AS (SELECT vec_id AS query_id, emb AS qemb FROM v WHERE vec_id < 4),
     scored AS (
       SELECT q.query_id, v.vec_id,
              round(
                list_sum(list_transform(list_zip(v.emb, q.qemb), x -> x[1]*x[2]))
                / (sqrt(list_sum(list_transform(v.emb, x -> x*x)))
                 * sqrt(list_sum(list_transform(q.qemb, x -> x*x)))), 6) AS cosine
       FROM v CROSS JOIN q
     )
SELECT query_id, vec_id, cosine + 0.0 AS cosine, rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def q_embedding_dedup(spark, sf):
    """Embedding-cosine near-duplicate pairs (exact baseline)."""
    from chunker_spark.ops.dedup import embedding_near_dup_pairs

    v = _t(spark, sf, "embeddings")
    return embedding_near_dup_pairs(v, threshold=0.35).select(
        "id_a", "id_b", "cosine"
    )


SQL_EMBEDDING_DEDUP = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
     p AS (
       SELECT l.vec_id AS id_a, r.vec_id AS id_b,
              round(
                list_sum(list_transform(list_zip(l.emb, r.emb), x -> x[1]*x[2]))
                / (sqrt(list_sum(list_transform(l.emb, x -> x*x)))
                 * sqrt(list_sum(list_transform(r.emb, x -> x*x)))), 6) AS cosine
       FROM v l JOIN v r ON l.vec_id < r.vec_id
     )
SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.35
"""


def q_embedding_dedup_lsh(spark, sf):
    """The hyperplane-LSH (bits>0) scale path of embedding near-dup,
    oracle-checked by planted-duplicate completeness: every vector
    unioned with an id-shifted exact copy shares all hyperplane
    signatures with it, so the bucketed candidate join MUST surface the
    pair and the exact verify MUST score it cosine 1.0. A broken
    signature UDF, bucket join, or verify loses rows or values."""
    from chunker_spark.ops.dedup import embedding_near_dup_pairs

    v = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = v.select((F.col("vec_id") + _COPY_OFFSET).alias("vec_id"), "embedding")
    pairs = embedding_near_dup_pairs(
        v.unionByName(planted), threshold=0.999999, bits=8
    )
    return pairs.where(F.col("id_b") - F.col("id_a") == _COPY_OFFSET)


SQL_EMBEDDING_DEDUP_LSH = f"""
SELECT vec_id AS id_a,
       vec_id + {_COPY_OFFSET} AS id_b,
       CAST(1.0 AS DOUBLE) AS cosine
FROM embeddings
"""


def q_manifest_tiling(spark, sf):
    """Chunk-manifest tiling invariant, SQL-checkable: the sum of chunk
    lengths per document must equal the content's UTF-8 byte length,
    and every non-final chunk must respect the min/max bounds. The
    oracle computes the byte length (and zero expected violations)
    independently in DuckDB."""
    from chunker_spark.functions.manifest import with_manifest
    from chunker_spark.kernel import ChunkerParams

    d = _t(spark, sf, "documents")
    params = ChunkerParams(average_bits=9, min_size=128, max_size=4096)
    m = with_manifest(d, content_col="text", params=params)
    chunk_lens = F.expr("transform(manifest, c -> c.length)")
    bad = F.size(
        F.filter(
            F.slice(chunk_lens, 1, F.greatest(F.size(chunk_lens) - 1, F.lit(0))),
            lambda ln: (ln < params.min_size) | (ln > params.max_size),
        )
    )
    return m.select(
        "doc_id",
        F.aggregate(chunk_lens, F.lit(0).cast("long"), lambda a, x: a + x).alias("manifest_bytes"),
        bad.cast("long").alias("bound_violations"),
    )


SQL_MANIFEST_TILING = """
SELECT doc_id,
       strlen(text)::BIGINT AS manifest_bytes,
       0::BIGINT AS bound_violations
FROM documents
"""


# ---- engine-specific queries --------------------------------------
# (chunk_store / minhash_pairs / simhash / cdc_replay carry invariant
# oracles; doc_manifest / lang_id / lsh_ann / media_features are
# rows-only: no SQL equivalent exists for their values)


def q_doc_manifest(spark, sf):
    """Chunk manifests over documents (the CDC kernel surface),
    recomputed through the vectorized Arrow UDF. The oracle joins the
    documents table BY CONTENT HASH to generation-time expected values
    computed by the independent scalar boundary kernel
    (manifest_expected_fixture_path) — so chunk counts, the first
    boundary's rolling-hash fingerprint, and the EOF-rule final length
    are all value-checked against a second implementation, mirroring
    the reference's expected-vector tests (package.d:444-481)."""
    from chunker_spark.functions.manifest import (
        manifest_expected_fixture_path,
        with_manifest,
    )
    from chunker_spark.kernel import ChunkerParams

    # Self-check: make sure the expected-vector fixture covers THIS
    # corpus (extends itself if the sf dir is new), so the oracle's
    # content-hash join can never silently shrink.
    manifest_expected_fixture_path(extra_dirs=(sf,))
    d = _t(spark, sf, "documents")
    params = ChunkerParams(average_bits=9, min_size=128, max_size=4096)
    m = with_manifest(d, content_col="text", params=params)
    return m.select(
        "doc_id",
        "content_sha256",
        "size",
        F.size("manifest").cast("long").alias("n_chunks"),
        F.col("manifest")[0]["cut"].alias("first_cut"),
        F.col("manifest")[F.size("manifest") - 1]["length"].alias("last_len"),
    )


def _sql_doc_manifest() -> str:
    from chunker_spark.functions.manifest import manifest_expected_fixture_path

    path = manifest_expected_fixture_path()  # ensure the fixture exists for DuckDB
    return f"""
SELECT d.doc_id, f.content_sha256, f.size, f.n_chunks, f.first_cut, f.last_len
FROM documents d
JOIN read_parquet('{path}') f ON sha256(d.text) = f.content_sha256
"""


def q_chunk_store(spark, sf):
    """Content-addressable chunk store, checked through its conservation
    invariant: Σ(chunk length × refcount) over the whole store must
    equal the total byte volume of every manifest — which the oracle
    computes independently as Σ strlen(text) over the corpus. Any
    refcount, length, or dedup-identity bug breaks the equality.
    (The per-chunk store rows themselves are pinned by pytest:
    tests/test_spark_manifest.py.)"""
    from chunker_spark.functions.manifest import chunk_store, with_manifest
    from chunker_spark.kernel import ChunkerParams

    d = _t(spark, sf, "documents")
    params = ChunkerParams(average_bits=9, min_size=128, max_size=4096)
    store = chunk_store(with_manifest(d, content_col="text", params=params))
    return store.select(
        F.sum(F.col("length") * F.col("refcount")).cast("long").alias("store_bytes")
    )


SQL_CHUNK_STORE = """
SELECT CAST(sum(strlen(text)) AS BIGINT) AS store_bytes FROM documents
"""

def q_minhash_pairs(spark, sf):
    """MinHash+LSH completeness invariant: the corpus has no natural
    exact duplicates, so plant one per document (an id-shifted copy),
    run the full shingle→minhash→band→bucket-join pipeline over the
    union, and keep only the planted pairs (id_b − id_a == offset).
    Every document MUST surface its copy with signature-Jaccard exactly
    1.0 — a dropped band, broken bucket join, or non-deterministic
    signature loses rows and fails the count/hash check. Near-dup
    recall on non-identical texts is pinned by tests/test_ops.py."""
    from chunker_spark.ops.dedup import minhash_lsh_pairs

    d = _t(spark, sf, "documents").select("doc_id", "text")
    planted = d.select((F.col("doc_id") + _COPY_OFFSET).alias("doc_id"), "text")
    pairs = minhash_lsh_pairs(d.unionByName(planted), num_hashes=32, bands=8, threshold=0.5)
    return pairs.where(F.col("id_b") - F.col("id_a") == _COPY_OFFSET)


SQL_MINHASH_PAIRS = f"""
SELECT doc_id AS id_a,
       doc_id + {_COPY_OFFSET} AS id_b,
       CAST(1.0 AS DOUBLE) AS jaccard_est
FROM documents
"""


def q_ngram_pairs(spark, sf):
    """Exact word-3-gram Jaccard through the inverted-index join, on
    the same planted-duplicate completeness invariant as minhash_pairs:
    every document must pair with its id-shifted copy at Jaccard
    exactly 1.0 (every fixture doc has >= 10 words, so gram sets are
    never empty). Near-dup scores on non-identical texts are pinned by
    tests/test_ops.py::test_ngram_jaccard."""
    from chunker_spark.ops.dedup import ngram_jaccard_pairs

    d = _t(spark, sf, "documents").select("doc_id", "text")
    planted = d.select((F.col("doc_id") + _COPY_OFFSET).alias("doc_id"), "text")
    # single small parquet file -> 2 input splits; spread the shingle
    # UDF across the cluster (real corpora arrive already well-split)
    union = d.unionByName(planted).repartition(spark.sparkContext.defaultParallelism)
    pairs = ngram_jaccard_pairs(union, n=3, threshold=0.5)
    return pairs.where(F.col("id_b") - F.col("id_a") == _COPY_OFFSET)


SQL_NGRAM_PAIRS = f"""
SELECT doc_id AS id_a,
       doc_id + {_COPY_OFFSET} AS id_b,
       CAST(1.0 AS DOUBLE) AS jaccard
FROM documents
"""


def q_doc_containment(spark, sf):
    """Asymmetric containment dedup (`ops/dedup.py::containment_pairs`)
    on a provable planted invariant: for every document a synthetic
    partial copy — the first 60% of its words — is planted at
    doc_id+offset. Every n-gram of a contiguous word-prefix is an
    n-gram of the original, so containment(copy -> original) is
    EXACTLY 1.0 for all 500 pairs; Jaccard would read ~0.6 (this is
    the partial-copy case Jaccard misses). Completeness + exact score
    both oracle-checked; graded scores on organic pairs are pinned by
    tests/test_ops.py::test_containment_pairs_brute_force."""
    from chunker_spark.ops.dedup import containment_pairs

    d = _t(spark, sf, "documents").select("doc_id", "text")
    words = F.filter(F.split(F.col("text"), r"\W+"), lambda w: w != "")
    prefix = F.concat_ws(
        " ", F.slice(words, 1, F.ceil(F.size(words) * 0.6).cast("int"))
    )
    planted = d.select(
        (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"), prefix.alias("text")
    )
    union = d.unionByName(planted).repartition(spark.sparkContext.defaultParallelism)
    pairs = containment_pairs(union, n=3, threshold=1.0)
    return pairs.where(F.col("id_b") - F.col("id_a") == _COPY_OFFSET).select(
        "id_a", "id_b", "containment"
    )


SQL_DOC_CONTAINMENT = f"""
SELECT doc_id AS id_a,
       doc_id + {{offset}} AS id_b,
       CAST(1.0 AS DOUBLE) AS containment
FROM documents
""".format(offset=_COPY_OFFSET)


def q_simhash(spark, sf):
    """SimHash algebraic invariants, SQL-checkable: the hash is a pure
    function of the lowercased word multiset, so reversing word order
    and upper-casing the text must each leave it unchanged — computed
    three times per document through the real operator. The concrete
    64-bit values are pinned by known-answer tests (tests/test_ops.py)."""
    from chunker_spark.ops.dedup import simhash_expr

    d = _t(spark, sf, "documents")
    words = F.filter(F.split(F.lower(F.col("text")), r"\W+"), lambda w: w != "")
    reversed_text = F.concat_ws(" ", F.reverse(words))
    # two-step projection so the base hash is evaluated ONCE (it
    # appears in both invariant comparisons — inlined it would run 4
    # simhash evaluations per doc instead of 3). The text variants are
    # pre-projected to named columns so all three simhash_expr calls
    # take the single-py4j-call SQL fast path; the optimizer collapses
    # the adjacent projections, so the executed plan is unchanged.
    pre = d.select(
        "doc_id",
        "text",
        reversed_text.alias("_rev"),
        F.upper(F.col("text")).alias("_up"),
    )
    h = pre.select(
        "doc_id",
        simhash_expr("text").alias("h_base"),
        simhash_expr("_rev").alias("h_rev"),
        simhash_expr("_up").alias("h_up"),
    )
    return h.select(
        "doc_id",
        (F.col("h_base") == F.col("h_rev")).alias("order_invariant"),
        (F.col("h_base") == F.col("h_up")).alias("case_invariant"),
    )


SQL_SIMHASH = """
SELECT doc_id, true AS order_invariant, true AS case_invariant FROM documents
"""


def q_lang_id(spark, sf):
    """n-gram language identification (Pandas UDF), oracle-checked: the
    classifier is a pure function of trigram occurrence counts with a
    deterministic first-max tie-break, so the oracle restates the whole
    heuristic in SQL (replace-based substring counts + a priority CASE
    argmax) and the two must agree on every document."""
    from chunker_spark.functions.text import language_id_udf

    d = _t(spark, sf, "documents")
    return d.select("doc_id", language_id_udf()(F.col("text")).alias("lang_guess"))


def _sql_lang_id() -> str:
    """SQL restatement of language_id_udf: per-language trigram counts
    via non-overlapping replace (same semantics as pandas str.count on
    literal patterns), argmax with pandas-idxmax first-max tie-break."""
    from chunker_spark.functions.text import _PROFILES

    langs = list(_PROFILES)
    scores = []
    for lang, grams in _PROFILES.items():
        terms = " + ".join(
            f"(length(t) - length(replace(t, '{g}', ''))) // {len(g)}" for g in grams
        )
        scores.append(f"       {terms} AS s_{lang}")
    all_s = ", ".join(f"s_{l}" for l in langs)
    cases = [f"  WHEN greatest({all_s}) <= 0 THEN 'und'"]
    for i, lang in enumerate(langs[:-1]):
        rest = [f"s_{l2}" for l2 in langs[i + 1 :]]
        others = f"greatest({', '.join(rest)})" if len(rest) > 1 else rest[0]
        cases.append(f"  WHEN s_{lang} >= {others} THEN '{lang}'")
    case_sql = "\n".join(cases)
    score_sql = ",\n".join(scores)
    return f"""
WITH lowered AS (SELECT doc_id, coalesce(lower(text), '') AS t FROM documents),
scored AS (
  SELECT doc_id,
{score_sql}
  FROM lowered
)
SELECT doc_id, CASE
{case_sql}
  ELSE '{langs[-1]}'
END AS lang_guess
FROM scored
"""


def q_lsh_ann(spark, sf):
    """LSH-bucketed approximate nearest neighbours (scale path):
    multi-table hyperplane LSH at the ≥0.9-recall operating point
    measured against brute force (tests/test_ops.py pins the recall
    contract). dim is derived executor-side — no driver collect.
    SQL-checkable via the self-nearest invariant (each query vector is
    in the corpus, shares every table bucket with itself, and must
    come back rank-1 at cosine exactly 1.0); top-5 quality is the
    pytest recall contract."""
    from chunker_spark.ops.similarity import lsh_bucketed_topk

    v = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = v.where(F.col("vec_id") < 4).select(F.col("vec_id").alias("query_id"), "embedding")
    return lsh_bucketed_topk(v, q, k=5, bits=3, tables=12).where(F.col("rank") == 1)


SQL_LSH_ANN = """
SELECT vec_id AS query_id, vec_id, CAST(1.0 AS DOUBLE) AS cosine, 1 AS rank
FROM embeddings WHERE vec_id < 4
"""


def q_ivf_ann(spark, sf):
    """IVF (k-means coarse quantizer) approximate nearest neighbours —
    the second scale path next to hyperplane LSH. SQL-checkable via the
    self-nearest invariant: each query vector is in the corpus, always
    probes its own k-means cell, and must come back rank-1 with cosine
    exactly 1.0 — a broken assignment UDF, probe ordering, or scoring
    loses it. Top-5 quality (recall@5 >= 0.9 vs brute force) is pinned
    by tests/test_ops.py::test_ivf_ann_recall_vs_brute_force."""
    from chunker_spark.ops.similarity import ivf_topk

    v = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = v.where(F.col("vec_id") < 4).select(F.col("vec_id").alias("query_id"), "embedding")
    return ivf_topk(v, q, k=5, n_centroids=16, nprobe=12).where(F.col("rank") == 1)


SQL_IVF_ANN = """
SELECT vec_id AS query_id, vec_id, CAST(1.0 AS DOUBLE) AS cosine, 1 AS rank
FROM embeddings WHERE vec_id < 4
"""


def q_media_features(spark, sf):
    """Multimodal plumbing, oracle-checked: binary payloads → feature
    vectors through the real mapInPandas decode path (deterministic
    fake decoder; real decode is the stubbed seam). Two invariants the
    oracle pins: (1) ``payload_sha256`` recomputed executor-side equals
    the generation-time digest stored in the fixture — the binary
    column survives parquet → Spark → Arrow → pandas bit-for-bit; and
    (2) every feature vector is unit-norm (Σx² rounds to 1.0)."""
    from chunker_spark.ops.multimodal import extract_features, media_fixture_path

    media = _pq(spark, media_fixture_path(n=48)).select("media_id", "kind", "payload")
    f = extract_features(media, dim=8)
    sq_norm = F.aggregate(
        "feature", F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
    )
    return f.select(
        "media_id", "kind", "payload_sha256", F.round(sq_norm, 3).alias("feat_sq_norm")
    )


def _sql_media_features() -> str:
    from chunker_spark.ops.multimodal import media_fixture_path

    path = media_fixture_path(n=48)  # ensure it exists before DuckDB reads it
    return f"""
SELECT media_id, kind, payload_sha256, CAST(1.0 AS DOUBLE) AS feat_sq_norm
FROM read_parquet('{path}')
"""


_REPLAY_FIXTURE_DIR = "/tmp/chunker_spark_fixtures/cdc_replay_v1"


def _replay_events(spark) -> DataFrame:
    """Read the replay fixture with an explicit (all-nullable, matching
    what inference would produce) schema: parquet schema inference runs
    a one-task Spark job per read, and five cdc queries re-read this
    fixture every bench pass — the explicit schema makes the read
    job-free without changing a single plan downstream."""
    from pyspark.sql.types import StructField, StructType

    from chunker_spark.cdc.events import EVENT_SCHEMA

    schema = StructType(
        [StructField(f.name, f.dataType, True) for f in EVENT_SCHEMA.fields]
    )
    return spark.read.schema(schema).parquet(_REPLAY_FIXTURE_DIR)


def _ensure_replay_fixture() -> str:
    """Write the deterministic 300-event CDC fixture (seed 11, schema
    evolution at seq 100 and 200) as parquet, once. Called from both the
    Spark query and oracle_sql() so the file exists whichever side the
    driver runs first; content is a pure function of the seed."""
    import os

    from chunker_spark.cdc.events import GenSpec, write_segments

    marker = f"{_REPLAY_FIXTURE_DIR}/segment-00000.parquet"
    if not os.path.exists(marker):
        spec = GenSpec(seed=11, n_keys=40, mean_blocks=3, schema_ver_plan=((100, 2), (200, 3)))
        write_segments(None, spec, 300, _REPLAY_FIXTURE_DIR, n_segments=1)
    return marker


def q_cdc_replay(spark, sf):
    """CDC replay through the real engine: 300 events (including a
    column add at seq 100 and a rename at seq 200) → two exactly-once
    MERGE batches → resolved lake state. The oracle recomputes the
    final state independently in SQL: schema normalization as CASE over
    schema_ver, last-writer-wins as a window by seq, tombstones
    dropped; ``manifest_bytes`` additionally ties the chunk manifests
    to the tiling invariant (Σ chunk lengths == content bytes)."""
    import tempfile

    from chunker_spark.cdc import LakeTable, apply_batch
    from chunker_spark.kernel import ChunkerParams

    _ensure_replay_fixture()
    events = _replay_events(spark)
    lake = LakeTable(spark, tempfile.mkdtemp(prefix="q-cdc-"), num_buckets=4)
    params = ChunkerParams(average_bits=9, min_size=256, max_size=4096)
    apply_batch(lake, events.where(F.col("seq") < 150), "q0", params=params, collect_metrics=False)
    apply_batch(lake, events.where(F.col("seq") >= 150), "q1", params=params, collect_metrics=False)
    manifest_bytes = F.aggregate(
        F.expr("transform(manifest, c -> c.length)"), F.lit(0).cast("long"), lambda a, x: a + x
    )
    return lake.read().select(
        "repo", "path", "commit", "language", "branch", "content_sha256", "size",
        manifest_bytes.alias("manifest_bytes"),
    )


def _sql_cdc_replay_with_fixture() -> str:
    _ensure_replay_fixture()  # guarantee the parquet exists before DuckDB reads it
    return f"""
WITH ev AS (SELECT * FROM read_parquet('{_REPLAY_FIXTURE_DIR}/segment-00000.parquet')),
norm AS (
  SELECT seq, op, repo, path, commit,
         CASE WHEN schema_ver >= 3 THEN language ELSE lang END AS language,
         CASE WHEN schema_ver >= 2 THEN branch ELSE 'main' END AS branch,
         content
  FROM ev
),
latest AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
  FROM norm
)
SELECT repo, path, commit, language, branch,
       sha256(content) AS content_sha256,
       CAST(strlen(content) AS BIGINT) AS size,
       CAST(strlen(content) AS BIGINT) AS manifest_bytes
FROM latest WHERE rn = 1 AND op <> 'D'
"""


def q_doc_split(spark, sf):
    """Deterministic train/eval split by content hash (anti-leakage:
    identical content always lands on the same side, reproducible with
    no seed or state). 75/25 at 1/256 granularity; fully JVM-side."""
    from chunker_spark.ops.curation import content_hash_split

    d = _t(spark, sf, "documents").select("doc_id", "text")
    return content_hash_split(d, train_frac=0.75).select("doc_id", "split")


SQL_DOC_SPLIT = """
SELECT doc_id,
       CASE WHEN substr(sha256(text), 1, 2) < 'c0' THEN 'train' ELSE 'eval' END AS split
FROM documents
"""


def q_embedding_quantize(spark, sf):
    """Symmetric int8 quantization of the embedding column. The oracle
    pins the mechanical contract: scale = max|x|/127 (max over floats is
    exact — no summation-order hazard), the quantized max-magnitude
    component is exactly ±127 for any nonzero vector, and the width is
    preserved."""
    from chunker_spark.ops.similarity import quantize_embeddings

    v = _t(spark, sf, "embeddings")
    q = quantize_embeddings(v)
    q_absmax = F.array_max(F.transform("qvec", lambda x: F.abs(x.cast("int"))))
    return q.select(
        "vec_id",
        F.round("scale", 6).alias("scale_r"),
        q_absmax.alias("q_absmax"),
        F.size("qvec").alias("q_len"),
    )


SQL_EMBEDDING_QUANTIZE = """
SELECT vec_id,
       round(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0, 6) AS scale_r,
       CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) = 0
            THEN 0 ELSE 127 END AS q_absmax,
       CAST(len(embedding) AS INTEGER) AS q_len
FROM embeddings
"""


def q_dedup_clusters(spark, sf):
    """Distributed connected components turning duplicate PAIRS into
    dedup CLUSTERS (the decision a curation pipeline acts on). Edges
    are exact-duplicate star pairs (rep -> member per fingerprint
    group); the iterative min-label CC must label every member of every
    >1 group with the group minimum — which the oracle computes directly
    with a window function over the normalized text."""
    from chunker_spark.ops.graph import dedup_clusters

    base = _t(spark, sf, "documents").select("doc_id", "text")
    planted = base.select((F.col("doc_id") + _COPY_OFFSET).alias("doc_id"), "text")
    d = base.unionByName(planted)  # every doc gains an exact duplicate
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    fp = d.select("doc_id", F.sha2(norm.cast("binary"), 256).alias("fp"))
    w = Window.partitionBy("fp")
    g = fp.select(
        "doc_id",
        F.min("doc_id").over(w).alias("rep"),
        F.count(F.lit(1)).over(w).alias("n"),
    ).where(F.col("n") > 1)
    edges = g.where(F.col("doc_id") != F.col("rep")).select(
        F.col("rep").alias("id_a"), F.col("doc_id").alias("id_b")
    )
    return dedup_clusters(edges)


SQL_DEDUP_CLUSTERS = rf"""
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_COPY_OFFSET} AS doc_id, text FROM documents
),
fp AS (
  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS k FROM docs
),
g AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY k) AS rep_id,
         count(*) OVER (PARTITION BY k) AS n
  FROM fp
)
SELECT doc_id, rep_id FROM g WHERE n > 1
"""


def q_dedup_keep_best(spark, sf):
    """Retention policy after dedup clustering (`ops.curation.
    retain_canonical`): every document gains a planted TRUNCATED copy
    (first 60% of its chars — the partial-copy shape real crawls
    produce), members cluster on a normalized 200-char-prefix
    fingerprint, and exactly one survivor per cluster is kept — the
    highest-score member (score = char length, so the superstring wins
    over its truncation), ties to the lowest id. Full per-row value
    oracle: doc_id, stable cluster rep, member count, kept verdict,
    score. Docs shorter than the prefix window whose truncation
    diverges fall out as singletons (kept) — the oracle reproduces
    that edge rather than hiding it. Scale shape: single Exchange on
    the fixed-width fingerprint; argmax + rep/size ride the same
    window partitioning; raw text never shuffles."""
    from chunker_spark.ops.curation import retain_canonical

    base = _t(spark, sf, "documents").select("doc_id", "text")
    planted = base.select(
        (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"),
        F.expr(
            "substring(text, 1, cast(ceil(length(text) * 0.6) as int))"
        ).alias("text"),
    )
    d = base.unionByName(planted)
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    members = d.select(
        "doc_id",
        F.sha2(F.substring(norm, 1, 200).cast("binary"), 256).alias("cluster"),
        F.length("text").cast("long").alias("score"),
    )
    return retain_canonical(members).select(
        "doc_id", "rep", "n_members", "kept", "score"
    )


SQL_DEDUP_KEEP_BEST = rf"""
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_COPY_OFFSET} AS doc_id,
         substring(text, 1, CAST(ceil(length(text) * 0.6) AS INTEGER)) AS text
  FROM documents
),
m AS (
  SELECT doc_id,
         substring(regexp_replace(lower(text), '\s+', ' ', 'g'), 1, 200) AS cluster,
         CAST(length(text) AS BIGINT) AS score
  FROM docs
),
g AS (
  SELECT doc_id, score,
         min(doc_id) OVER (PARTITION BY cluster) AS rep,
         CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_members,
         row_number() OVER (PARTITION BY cluster ORDER BY score DESC, doc_id) AS rk
  FROM m
)
SELECT doc_id, rep, n_members, (rk = 1) AS kept, score FROM g
"""


def q_cdc_changes(spark, sf):
    """Change-data-feed read between two commits (incremental
    consumption): replay the 300-event fixture as two batches, then ask
    the lake what net-changed between commit 0 and commit 1. The oracle
    recomputes both resolved states in SQL and diffs them — inserts,
    post-image updates, deletes (null payload), untouched keys absent."""
    import tempfile

    from chunker_spark.cdc import LakeTable, apply_batch
    from chunker_spark.kernel import ChunkerParams

    _ensure_replay_fixture()
    events = _replay_events(spark)
    lake = LakeTable(spark, tempfile.mkdtemp(prefix="q-cdf-"), num_buckets=4)
    params = ChunkerParams(average_bits=9, min_size=256, max_size=4096)
    apply_batch(lake, events.where(F.col("seq") < 150), "c0", params=params, collect_metrics=False)
    apply_batch(lake, events.where(F.col("seq") >= 150), "c1", params=params, collect_metrics=False)
    return lake.changes(since=0).select(
        "repo", "path", "seq", "content_sha256", "_change_type"
    )


def _sql_cdc_changes() -> str:
    _ensure_replay_fixture()
    return f"""
WITH ev AS (SELECT * FROM read_parquet('{_REPLAY_FIXTURE_DIR}/segment-00000.parquet')),
norm AS (
  SELECT seq, op, repo, path, content FROM ev
),
a AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
  FROM norm WHERE seq < 150
),
b AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
  FROM norm
),
sa AS (SELECT repo, path, seq, op, content FROM a WHERE rn = 1),
sb AS (SELECT repo, path, seq, op, content FROM b WHERE rn = 1),
d AS (
  SELECT sb.repo, sb.path, sb.seq, sb.op AS new_op, sb.content,
         CASE
           WHEN sa.seq IS NULL AND sb.op <> 'D' THEN 'insert'
           WHEN sa.op <> 'D' AND sb.op = 'D' THEN 'delete'
           WHEN sa.op <> 'D' AND sb.op <> 'D' AND sb.seq > sa.seq THEN 'update_postimage'
           WHEN sa.op = 'D' AND sb.op <> 'D' THEN 'insert'
         END AS change_type
  FROM sb LEFT JOIN sa USING (repo, path)
)
SELECT repo, path, seq,
       CASE WHEN change_type = 'delete' THEN NULL ELSE sha256(content) END AS content_sha256,
       change_type AS "_change_type"
FROM d WHERE change_type IS NOT NULL
"""


def q_events_sessions(spark, sf):
    """Gap-based sessionization (30-min idle cutoff) + per-session
    rollup through ops.sessions: one shuffle (the key window),
    everything downstream reuses its partitioning. Decimal-exact value
    sums per the module-wide parity policy."""
    from chunker_spark.ops.sessions import session_stats

    e = _t(spark, sf, "events").select("user_id", "ts", "value")
    return session_stats(e, key_col="user_id", ts_col="ts", gap_s=1800, value_col="value")


SQL_EVENTS_SESSIONS = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 1800 SECOND
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1 AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE), 2) AS sum_value
FROM sessions
GROUP BY user_id, session_seq
"""


def q_orders_returned_exists(spark, sf):
    """EXISTS-style semi-join (TPC-H Q4 shape): orders with at least
    one returned line, counted by priority. The lineitem side is
    reduced to distinct keys BEFORE the join — the semi-join shuffles
    8-byte keys, never lineitem payload."""
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem").where(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


SQL_ORDERS_RETURNED_EXISTS = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_order_rollup(spark, sf):
    """ROLLUP aggregation (multi-level subtotals in one pass): order
    counts and decimal-exact totals by (status, priority), by status,
    and grand total. Spark plans this as a single Expand + hash agg —
    no per-level rescans."""
    o = _t(spark, sf, "orders")
    dec = F.col("o_totalprice").cast("decimal(20,4)")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(dec).cast("double"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


SQL_ORDER_ROLLUP = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE), 2) AS total_price
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


def q_quantity_percentiles(spark, sf):
    """Exact percentiles (linear interpolation) per return flag.
    ``percentile`` is exact and order-independent — safe to hash-match
    against DuckDB's quantile_cont; quantities are small integers so
    the interpolated values are exactly representable."""
    l = _t(spark, sf, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("p50"),
            F.expr("percentile(l_quantity, 0.9)").alias("p90"),
            F.max("l_quantity").cast("double").alias("q_max"),
        )
        .orderBy("l_returnflag")
    )


SQL_QUANTITY_PERCENTILES = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS p50,
       quantile_cont(l_quantity, 0.9) AS p90,
       CAST(max(l_quantity) AS DOUBLE) AS q_max
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_events_props_json(spark, sf):
    """Semi-structured JSON column: extract a key from the props JSON
    string (JVM-side get_json_object, pipelined into the scan) and
    aggregate over it — decimal-exact sums so the double division
    rounds identically on both engines."""
    e = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    # floor division on both sides: a double->int CAST truncates in
    # Spark but rounds in DuckDB, so never compare through it
    bucket = F.floor(k / F.lit(10)).cast("int")
    return (
        e.withColumn("k_bucket", bucket)
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(20,4)")).cast("double") / F.count(F.lit(1)), 2
            ).alias("avg_value"),
        )
        .orderBy("k_bucket")
    )


SQL_EVENTS_PROPS_JSON = """
SELECT CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) // 10 AS INTEGER) AS k_bucket,
       count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(*), 2) AS avg_value
FROM events
GROUP BY 1
ORDER BY 1
"""


def q_debezium_parse(spark, sf):
    """Wire-format ingestion: Debezium JSON envelopes → EVENT_SCHEMA
    (single JVM-side from_json projection, malformed rows diverted to
    the DLQ in the same scan) → last-writer-wins final state. The
    oracle recomputes parse + LWW + tombstone drop from the same fixture
    with DuckDB's JSON functions."""
    from chunker_spark.cdc.envelopes import debezium_fixture_path, split_malformed

    raw = _pq(spark, debezium_fixture_path())
    clean, _dlq = split_malformed(raw)
    w = Window.partitionBy("repo", "path").orderBy(F.col("seq").desc())
    return (
        clean.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("repo", "path", "commit", "seq", F.sha2("content", 256).alias("content_sha256"))
    )


def _sql_debezium_parse() -> str:
    from chunker_spark.cdc.envelopes import debezium_fixture_path

    path = debezium_fixture_path()  # ensure the fixture exists for DuckDB
    return f"""
WITH raw AS (SELECT value FROM read_parquet('{path}')),
parsed AS (
  SELECT CAST(json_extract_string(value, '$.source.lsn') AS BIGINT) AS seq,
         CASE json_extract_string(value, '$.op')
           WHEN 'c' THEN 'I' WHEN 'r' THEN 'I'
           WHEN 'u' THEN 'U' WHEN 'd' THEN 'D' END AS op,
         CASE WHEN json_extract_string(value, '$.op') = 'd'
              THEN json_extract_string(value, '$.before.repo')
              ELSE json_extract_string(value, '$.after.repo') END AS repo,
         CASE WHEN json_extract_string(value, '$.op') = 'd'
              THEN json_extract_string(value, '$.before.path')
              ELSE json_extract_string(value, '$.after.path') END AS path,
         CASE WHEN json_extract_string(value, '$.op') = 'd'
              THEN json_extract_string(value, '$.before.commit')
              ELSE json_extract_string(value, '$.after.commit') END AS commit,
         CASE WHEN json_extract_string(value, '$.op') = 'd'
              THEN json_extract_string(value, '$.before.content')
              ELSE json_extract_string(value, '$.after.content') END AS content
  FROM raw WHERE json_valid(value)
),
clean AS (
  SELECT * FROM parsed
  WHERE op IS NOT NULL AND seq IS NOT NULL AND repo IS NOT NULL AND path IS NOT NULL
),
latest AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
  FROM clean
)
SELECT repo, path, commit, seq, sha256(content) AS content_sha256
FROM latest WHERE rn = 1 AND op <> 'D'
"""


def q_outbox_route(spark, sf):
    """Transactional-outbox event routing (Debezium Outbox Event Router
    semantics): Debezium envelopes of the ``outbox`` table → domain
    events. Inserts only (cleanup deletes/updates are not events),
    destination derived as ``outbox.event.<aggregatetype>``, redelivered
    event ids deduped keep-lowest-seq. One from_json projection + one
    high-cardinality window — no Python. The oracle restates all three
    router rules from the same fixture with DuckDB JSON functions."""
    from chunker_spark.cdc.outbox import outbox_fixture_path, route_outbox

    raw = _pq(spark, outbox_fixture_path())
    return route_outbox(raw).select(
        "event_id", "destination", "aggregate_id", "event_type", "seq", "payload"
    )


def _sql_outbox_route() -> str:
    from chunker_spark.cdc.outbox import outbox_fixture_path

    path = outbox_fixture_path()  # ensure the fixture exists for DuckDB
    return f"""
WITH raw AS (SELECT value FROM read_parquet('{path}')),
parsed AS (
  SELECT json_extract_string(value, '$.after.id') AS event_id,
         'outbox.event.' || json_extract_string(value, '$.after.aggregatetype') AS destination,
         json_extract_string(value, '$.after.aggregateid') AS aggregate_id,
         json_extract_string(value, '$.after.type') AS event_type,
         CAST(json_extract_string(value, '$.source.lsn') AS BIGINT) AS seq,
         json_extract_string(value, '$.after.payload') AS payload
  FROM raw
  WHERE json_valid(value)
    AND json_extract_string(value, '$.op') = 'c'
    AND json_extract_string(value, '$.source.table') = 'outbox'
),
kept AS (
  SELECT * FROM parsed
  WHERE event_id IS NOT NULL AND aggregate_id IS NOT NULL
    AND destination IS NOT NULL AND seq IS NOT NULL
),
deduped AS (
  SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY seq ASC) AS rn
  FROM kept
)
SELECT event_id, destination, aggregate_id, event_type, seq, payload
FROM deduped WHERE rn = 1
"""


def q_dblog_snapshot(spark, sf):
    """Chunk-interleaved snapshot of a live table (DBLog watermark
    algorithm, Netflix arXiv:2010.12597): snapshot chunks selected
    WHILE the change log keeps flowing, each annotated with its
    (lw, hw) watermark pair; keys changed inside a chunk's window are
    dropped from the chunk (stale copies), survivors are positioned at
    hw, and LWW resolution converges to the true source state. The
    oracle is genuinely independent: it replays initial-state + the
    full change log by seq (plain LWW, no watermarks, never reads the
    chunks), so equality verifies the algorithm instead of restating
    it — a broken window-drop leaves a stale snapshot row as a key's
    final content."""
    from chunker_spark.cdc.dblog import (
        dblog_fixture_paths,
        interleave_snapshot,
        resolve_final_state,
    )

    p = dblog_fixture_paths()
    stream = interleave_snapshot(
        _pq(spark, p["changes"]),
        _pq(spark, p["chunks"]),
        ["repo", "path"],
    )
    return resolve_final_state(stream, ["repo", "path"]).select(
        "repo", "path", "content"
    )


def _sql_dblog_snapshot() -> str:
    from chunker_spark.cdc.dblog import dblog_fixture_paths

    p = dblog_fixture_paths()  # ensure the fixture exists for DuckDB
    return f"""
WITH unioned AS (
  SELECT repo, path, content, 0 AS seq, 'c' AS op
  FROM read_parquet('{p["initial"]}')
  UNION ALL
  SELECT repo, path, content, seq, op FROM read_parquet('{p["changes"]}')
),
last AS (
  SELECT repo, path, content, op,
         row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
  FROM unioned
)
SELECT repo, path, content FROM last WHERE rn = 1 AND op <> 'd'
"""


def q_toast_fill(spark, sf):
    """Unchanged-TOAST placeholder resolution (Debezium's
    ``__debezium_unavailable_value``): Postgres omits unchanged TOAST
    columns from the WAL, so update after-images carry a sentinel that
    would corrupt the lake on merge. One keyed LOCF window resolves
    each placeholder to the key's previous row version — honest NULLs
    carry (struct-wrapped), deletes fence incarnations (a value never
    leaks across a delete + re-insert), unresolvable placeholders go
    NULL with a loud per-row counter. Single hash Exchange, no Python
    (plan-asserted). The oracle restates segment + carry + fence with
    DuckDB's IGNORE NULLS windows from the same fixture."""
    from chunker_spark.cdc.toast import fill_unavailable, toast_fixture_path

    df = _pq(spark, toast_fixture_path())
    return fill_unavailable(df, ["repo", "path"], ["content", "meta"]).select(
        "repo", "path", "seq", "op", "content", "meta", "toast_unresolved"
    )


def _sql_toast_fill() -> str:
    from chunker_spark.cdc.toast import DEBEZIUM_UNAVAILABLE, toast_fixture_path

    path = toast_fixture_path()  # ensure the fixture exists for DuckDB
    ph = DEBEZIUM_UNAVAILABLE
    carry = (
        "last_value(CASE WHEN op <> 'd' AND ({c} IS NULL OR {c} <> '" + ph + "') "
        "THEN struct_pack(s := seg, v := {c}) END IGNORE NULLS) OVER "
        "(PARTITION BY repo, path ORDER BY seq "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return f"""
WITH raw AS (SELECT * FROM read_parquet('{path}')),
segd AS (
  SELECT *, sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END) OVER
      (PARTITION BY repo, path ORDER BY seq
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
  FROM raw
),
carried AS (
  SELECT *, {carry.format(c="content")} AS lc, {carry.format(c="meta")} AS lm
  FROM segd
)
SELECT repo, path, seq, op,
  CASE WHEN content = '{ph}' THEN (CASE WHEN lc.s = seg THEN lc.v END)
       ELSE content END AS content,
  CASE WHEN meta = '{ph}' THEN (CASE WHEN lm.s = seg THEN lm.v END)
       ELSE meta END AS meta,
  (CASE WHEN content = '{ph}' AND (lc IS NULL OR lc.s <> seg) THEN 1 ELSE 0 END
   + CASE WHEN meta = '{ph}' AND (lm IS NULL OR lm.s <> seg) THEN 1 ELSE 0 END)
  AS toast_unresolved
FROM carried
"""


def q_pk_rename(spark, sf):
    """Primary-key-change splitting: an UPDATE that changes the key (a
    git file RENAME for this engine's (repo, path) keys) must become
    tombstone(old key) + upsert(new key), or the lake keeps a phantom
    row at the old key forever. split_key_changes packs the pair as
    2*seq / 2*seq+1 (order-preserving, no schema change downstream) and
    handles PARTIAL old images (Maxwell's `old` carries only changed
    columns). Map-only: zero Exchange, no Python (plan-asserted). The
    query resolves the split stream to its final state; the oracle
    restates split + LWW in DuckDB from the same fixture — a missing
    split leaves b.py/c.py/gone.py phantoms and the row set differs."""
    from chunker_spark.cdc.dblog import resolve_final_state
    from chunker_spark.cdc.keychange import rename_fixture_path, split_key_changes

    df = _pq(spark, rename_fixture_path())
    split = split_key_changes(df, ["repo", "path"])
    return resolve_final_state(split, ["repo", "path"], out_seq_col="seq").select(
        "repo", "path", "content"
    )


def _sql_pk_rename() -> str:
    from chunker_spark.cdc.keychange import rename_fixture_path

    path = rename_fixture_path()  # ensure the fixture exists for DuckDB
    return f"""
WITH raw AS (SELECT * FROM read_parquet('{path}')),
split AS (
  SELECT repo, path, seq * 2 + 1 AS s, op, content FROM raw
  UNION ALL
  SELECT coalesce(old_repo, repo), coalesce(old_path, path), seq * 2,
         'd', NULL
  FROM raw
  WHERE op <> 'd'
    AND (old_repo IS NOT NULL OR old_path IS NOT NULL)
    AND (coalesce(old_repo, repo) IS DISTINCT FROM repo
         OR coalesce(old_path, path) IS DISTINCT FROM path)
),
last AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY s DESC) AS rn
  FROM split
)
SELECT repo, path, content FROM last WHERE rn = 1 AND op <> 'd'
"""


def q_maxwell_parse(spark, sf):
    """Maxwell wire-format ingestion across a binlog ROTATION: JSON
    envelopes → EVENT_SCHEMA with seq packed as file_ordinal*2^40+offset
    (offsets reset on rotation; raw offsets would LWW-resolve to stale
    file-7 rows) → malformed rows diverted to the DLQ in the same scan →
    last-writer-wins final state. The oracle restates parse + packing +
    LWW + tombstone drop from the same fixture with DuckDB JSON/regex
    functions — a wrong packing makes the file-7 updates win and every
    content hash mismatch."""
    from chunker_spark.cdc.envelopes import (
        maxwell_fixture_path,
        parse_maxwell,
        split_malformed,
    )

    raw = _pq(spark, maxwell_fixture_path())
    clean, _dlq = split_malformed(raw, parser=parse_maxwell)
    w = Window.partitionBy("repo", "path").orderBy(F.col("seq").desc())
    return (
        clean.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("repo", "path", "commit", "seq", F.sha2("content", 256).alias("content_sha256"))
    )


def _sql_maxwell_parse() -> str:
    from chunker_spark.cdc.envelopes import maxwell_fixture_path

    path = maxwell_fixture_path()  # ensure the fixture exists for DuckDB
    shift = 1 << 40  # BINLOG_PACK_SHIFT packing base
    return f"""
WITH raw AS (SELECT value FROM read_parquet('{path}')),
parsed AS (
  SELECT COALESCE(TRY_CAST(regexp_extract(
             regexp_extract(json_extract_string(value, '$.position'), '^(.*?):\\d+$', 1),
             '(\\d+)\\s*$', 1) AS BIGINT), 0) * {shift}
         + TRY_CAST(regexp_extract(json_extract_string(value, '$.position'),
                                   '(\\d+)$', 1) AS BIGINT) AS seq,
         CASE json_extract_string(value, '$.type')
           WHEN 'insert' THEN 'I' WHEN 'update' THEN 'U'
           WHEN 'delete' THEN 'D' END AS op,
         json_extract_string(value, '$.data.repo') AS repo,
         json_extract_string(value, '$.data.path') AS path,
         json_extract_string(value, '$.data.commit') AS commit,
         json_extract_string(value, '$.data.content') AS content
  FROM raw WHERE json_valid(value)
),
clean AS (
  SELECT * FROM parsed
  WHERE op IS NOT NULL AND seq IS NOT NULL AND repo IS NOT NULL AND path IS NOT NULL
),
latest AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
  FROM clean
)
SELECT repo, path, commit, seq, sha256(content) AS content_sha256
FROM latest WHERE rn = 1 AND op <> 'D'
"""


def q_wal2json_parse(spark, sf):
    """wal2json (Postgres logical decoding, v2) wire-format ingestion
    across a WAL SEGMENT boundary: JSON lines → EVENT_SCHEMA with seq =
    the 64-bit LSN reassembled from the textual hi/lo hex form
    (hi*2^32+lo; the lo part resets at segment boundaries, so ordering
    on it alone would LWW-resolve to stale segment-0 rows) →
    transaction-control lines (B/C) and TRUNCATE dropped, genuinely
    malformed payloads diverted to the DLQ in the same scan →
    last-writer-wins final state. The oracle restates parse + LSN
    reassembly + name-value row-image lookup + LWW + tombstone drop
    with DuckDB JSON functions."""
    from chunker_spark.cdc.envelopes import (
        parse_wal2json,
        split_malformed,
        wal2json_fixture_path,
    )

    raw = _pq(spark, wal2json_fixture_path())
    clean, _dlq = split_malformed(raw, parser=parse_wal2json)
    w = Window.partitionBy("repo", "path").orderBy(F.col("seq").desc())
    return (
        clean.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("repo", "path", "commit", "seq", F.sha2("content", 256).alias("content_sha256"))
    )


def _sql_wal2json_parse() -> str:
    from chunker_spark.cdc.envelopes import wal2json_fixture_path

    path = wal2json_fixture_path()  # ensure the fixture exists for DuckDB
    field = (
        "(SELECT j->>'value' FROM unnest(CAST(json_extract(value, '$.{src}') AS JSON[])) AS u(j) "
        "WHERE j->>'name' = '{name}')"
    )

    def img(name: str) -> str:
        return (
            "CASE WHEN json_extract_string(value, '$.action') = 'D' THEN "
            + field.format(src="identity", name=name)
            + " ELSE "
            + field.format(src="columns", name=name)
            + " END"
        )

    return f"""
WITH raw AS (SELECT value FROM read_parquet('{path}')),
rows0 AS (
  SELECT value FROM raw
  WHERE json_valid(value)
    AND json_extract_string(value, '$.action') IN ('I', 'U', 'D')
),
parsed AS (
  SELECT TRY_CAST(('0x' || string_split(json_extract_string(value, '$.lsn'), '/')[1]) AS BIGINT)
             * 4294967296
         + TRY_CAST(('0x' || string_split(json_extract_string(value, '$.lsn'), '/')[2]) AS BIGINT) AS seq,
         json_extract_string(value, '$.action') AS op,
         {img('repo')} AS repo,
         {img('path')} AS path,
         {img('commit')} AS commit,
         {img('content')} AS content
  FROM rows0
),
clean AS (
  SELECT * FROM parsed
  WHERE op IS NOT NULL AND seq IS NOT NULL AND repo IS NOT NULL AND path IS NOT NULL
),
latest AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
  FROM clean
)
SELECT repo, path, commit, seq, sha256(content) AS content_sha256
FROM latest WHERE rn = 1 AND op <> 'D'
"""


def q_canal_parse(spark, sf):
    """Canal FlatMessage wire-format ingestion — the multi-row dialect:
    each message carries a binlog-ordered ARRAY of row images, exploded
    JVM-side (posexplode_outer) with seq packed as batch_id*2^20+pos,
    because the same key can legally appear several times inside ONE
    batch (the fixture plants a key three times in one message — batch
    id alone ties, only the in-batch position resolves LWW). DDL
    messages are dropped, malformed payloads diverted to the DLQ in the
    same scan, then last-writer-wins final state. The oracle restates
    explode + packing + LWW + tombstone drop with DuckDB JSON unnest
    (generate_subscripts gives the 1-based position, re-based to 0)."""
    from chunker_spark.cdc.envelopes import (
        canal_fixture_path,
        parse_canal,
        split_malformed,
    )

    raw = _pq(spark, canal_fixture_path())
    clean, _dlq = split_malformed(raw, parser=parse_canal)
    w = Window.partitionBy("repo", "path").orderBy(F.col("seq").desc())
    return (
        clean.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("repo", "path", "commit", "seq", F.sha2("content", 256).alias("content_sha256"))
    )


def _sql_canal_parse() -> str:
    from chunker_spark.cdc.envelopes import CANAL_PACK_SHIFT, canal_fixture_path

    path = canal_fixture_path()  # ensure the fixture exists for DuckDB
    shift = 1 << CANAL_PACK_SHIFT
    return f"""
WITH raw AS (SELECT value FROM read_parquet('{path}')),
msgs AS (
  SELECT TRY_CAST(json_extract_string(value, '$.id') AS BIGINT) AS mid,
         json_extract_string(value, '$.type') AS mtype,
         CAST(json_extract(value, '$.data') AS JSON[]) AS data
  FROM raw
  WHERE json_valid(value)
    AND COALESCE(json_extract_string(value, '$.isDdl'), 'false') NOT IN ('true', '1')
),
exploded AS (
  SELECT mid, mtype,
         unnest(data) AS img,
         generate_subscripts(data, 1) - 1 AS pos
  FROM msgs
),
parsed AS (
  SELECT mid * {shift} + pos AS seq,
         CASE mtype WHEN 'INSERT' THEN 'I' WHEN 'UPDATE' THEN 'U'
                    WHEN 'DELETE' THEN 'D' END AS op,
         img->>'repo' AS repo,
         img->>'path' AS path,
         img->>'commit' AS commit,
         img->>'content' AS content
  FROM exploded
),
clean AS (
  SELECT * FROM parsed
  WHERE op IS NOT NULL AND seq IS NOT NULL AND repo IS NOT NULL AND path IS NOT NULL
),
latest AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
  FROM clean
)
SELECT repo, path, commit, seq, sha256(content) AS content_sha256
FROM latest WHERE rn = 1 AND op <> 'D'
"""


def q_dms_parse(spark, sf):
    """AWS DMS wire-format ingestion across the full-load→CDC cutover:
    ``load`` snapshot rows order at seq 0 by contract (DMS writes each
    key's snapshot exactly once, before CDC, in coordinates
    incomparable with transaction ids), CDC rows pack
    transaction_id*2^20+transaction_record_id (the fixture plants one
    key twice in one transaction — only the record id resolves LWW),
    control records dropped, malformed/operation-less payloads
    diverted to the DLQ in the same scan, then last-writer-wins final
    state: 3 never-updated keys must survive at snapshot content, 3
    tombstones must drop. The oracle restates parse + packing + LWW
    with DuckDB JSON functions."""
    from chunker_spark.cdc.envelopes import (
        dms_fixture_path,
        parse_dms,
        split_malformed,
    )

    raw = _pq(spark, dms_fixture_path())
    clean, _dlq = split_malformed(raw, parser=parse_dms)
    w = Window.partitionBy("repo", "path").orderBy(F.col("seq").desc())
    return (
        clean.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("repo", "path", "commit", "seq", F.sha2("content", 256).alias("content_sha256"))
    )


def _sql_dms_parse() -> str:
    from chunker_spark.cdc.envelopes import DMS_PACK_SHIFT, dms_fixture_path

    path = dms_fixture_path()  # ensure the fixture exists for DuckDB
    shift = 1 << DMS_PACK_SHIFT
    return f"""
WITH raw AS (SELECT value FROM read_parquet('{path}')),
parsed AS (
  SELECT CASE json_extract_string(value, '$.metadata.operation')
           WHEN 'load' THEN 0
           ELSE COALESCE(
             TRY_CAST(json_extract_string(value, '$.metadata."transaction-id"') AS BIGINT)
               * {shift}
               + COALESCE(TRY_CAST(json_extract_string(value, '$.metadata."transaction-record-id"') AS BIGINT), 0),
             epoch_us(TRY_CAST(json_extract_string(value, '$.metadata.timestamp') AS TIMESTAMP)))
         END AS seq,
         CASE json_extract_string(value, '$.metadata.operation')
           WHEN 'load' THEN 'I' WHEN 'insert' THEN 'I'
           WHEN 'update' THEN 'U' WHEN 'delete' THEN 'D' END AS op,
         json_extract_string(value, '$.data.repo') AS repo,
         json_extract_string(value, '$.data.path') AS path,
         json_extract_string(value, '$.data.commit') AS commit,
         json_extract_string(value, '$.data.content') AS content
  FROM raw
  WHERE json_valid(value)
    AND COALESCE(json_extract_string(value, '$.metadata."record-type"'), 'data') <> 'control'
),
clean AS (
  SELECT * FROM parsed
  WHERE op IS NOT NULL AND seq IS NOT NULL AND repo IS NOT NULL AND path IS NOT NULL
),
latest AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
  FROM clean
)
SELECT repo, path, commit, seq, sha256(content) AS content_sha256
FROM latest WHERE rn = 1 AND op <> 'D'
"""


def q_mongo_parse(spark, sf):
    """Debezium MongoDB wire-format ingestion — the schemaless dialect:
    row images arrive as extended-JSON document STRINGS (after/before),
    shredded by a second JVM-side from_json; seq packs the oplog
    position (ts_seconds*2^20 + ord — the fixture plants one key twice
    within the SAME oplog second, so only ord resolves LWW); deletes
    carry the full pre-image (change-stream pre/post images), and the
    three contract DLQ shapes (pre-image-less delete,
    updateDescription-only update, malformed JSON) divert in the same
    scan without applying. Final last-writer-wins state: 8 never-updated
    snapshot keys survive, 2 tombstones drop. The oracle restates parse
    + packing + LWW with DuckDB JSON functions (json_extract_string on
    the embedded document string)."""
    from chunker_spark.cdc.envelopes import (
        mongo_fixture_path,
        parse_mongo,
        split_malformed,
    )

    raw = _pq(spark, mongo_fixture_path())
    clean, _dlq = split_malformed(raw, parser=parse_mongo)
    w = Window.partitionBy("repo", "path").orderBy(F.col("seq").desc())
    return (
        clean.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("repo", "path", "commit", "seq", F.sha2("content", 256).alias("content_sha256"))
    )


def _sql_mongo_parse() -> str:
    from chunker_spark.cdc.envelopes import MONGO_PACK_SHIFT, mongo_fixture_path

    path = mongo_fixture_path()  # ensure the fixture exists for DuckDB
    shift = 1 << MONGO_PACK_SHIFT
    return f"""
WITH raw AS (SELECT value FROM read_parquet('{path}')),
parsed AS (
  SELECT CASE json_extract_string(value, '$.op')
           WHEN 'c' THEN 'I' WHEN 'r' THEN 'I'
           WHEN 'u' THEN 'U' WHEN 'd' THEN 'D' END AS op,
         (TRY_CAST(json_extract_string(value, '$.source.ts_ms') AS BIGINT) // 1000)
           * {shift}
           + COALESCE(TRY_CAST(json_extract_string(value, '$.source.ord') AS BIGINT), 0) AS seq,
         CASE WHEN json_extract_string(value, '$.op') = 'd'
              THEN json_extract_string(value, '$.before')
              ELSE json_extract_string(value, '$.after') END AS doc
  FROM raw WHERE json_valid(value)
),
img AS (
  SELECT op, seq,
         json_extract_string(doc, '$.repo') AS repo,
         json_extract_string(doc, '$.path') AS path,
         json_extract_string(doc, '$.commit') AS commit,
         json_extract_string(doc, '$.content') AS content
  FROM parsed
),
clean AS (
  SELECT * FROM img
  WHERE op IS NOT NULL AND seq IS NOT NULL AND repo IS NOT NULL AND path IS NOT NULL
),
latest AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
  FROM clean
)
SELECT repo, path, commit, seq, sha256(content) AS content_sha256
FROM latest WHERE rn = 1 AND op <> 'D'
"""


def q_goldengate_parse(spark, sf):
    """Oracle GoldenGate wire-format ingestion across a trail-file
    rotation: the 20-digit ``pos`` splits into (trail seqno, RBA) and
    packs as seqno*2^32+rba — the fixture's second update wave lands in
    the next trail file at RBAs far BELOW the first wave's, so it wins
    last-writer-wins only via the seqno bits; one key updated twice
    within one trail file resolves on RBA alone; ``T`` truncates drop
    (no row image, like wal2json control lines) while the four DLQ
    shapes (malformed JSON, after-less update, before-less delete,
    non-20-digit pos) divert in the same scan. Final LWW state: 8
    never-updated snapshot keys survive, 2 tombstones drop. The oracle
    restates parse + pos-split packing + LWW with DuckDB JSON
    functions."""
    from chunker_spark.cdc.envelopes import (
        goldengate_fixture_path,
        parse_goldengate,
        split_malformed,
    )

    raw = _pq(spark, goldengate_fixture_path())
    clean, _dlq = split_malformed(raw, parser=parse_goldengate)
    w = Window.partitionBy("repo", "path").orderBy(F.col("seq").desc())
    return (
        clean.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("repo", "path", "commit", "seq", F.sha2("content", 256).alias("content_sha256"))
    )


def _sql_goldengate_parse() -> str:
    from chunker_spark.cdc.envelopes import (
        GOLDENGATE_PACK_SHIFT,
        goldengate_fixture_path,
    )

    path = goldengate_fixture_path()  # ensure the fixture exists for DuckDB
    shift = 1 << GOLDENGATE_PACK_SHIFT
    return f"""
WITH raw AS (SELECT value FROM read_parquet('{path}')),
parsed AS (
  SELECT CASE json_extract_string(value, '$.op_type')
           WHEN 'I' THEN 'I' WHEN 'U' THEN 'U' WHEN 'D' THEN 'D' END AS op,
         CASE WHEN length(json_extract_string(value, '$.pos')) = 20
              THEN TRY_CAST(substr(json_extract_string(value, '$.pos'), 1, 10) AS BIGINT)
                     * {shift}
                   + TRY_CAST(substr(json_extract_string(value, '$.pos'), 11, 10) AS BIGINT)
         END AS seq,
         CASE WHEN json_extract_string(value, '$.op_type') = 'D'
              THEN json_extract(value, '$.before')
              ELSE json_extract(value, '$.after') END AS img
  FROM raw
  WHERE json_valid(value)
    AND COALESCE(json_extract_string(value, '$.op_type'), '') <> 'T'
),
img AS (
  SELECT op, seq,
         json_extract_string(img, '$.repo') AS repo,
         json_extract_string(img, '$.path') AS path,
         json_extract_string(img, '$.commit') AS commit,
         json_extract_string(img, '$.content') AS content
  FROM parsed
),
clean AS (
  SELECT * FROM img
  WHERE op IS NOT NULL AND seq IS NOT NULL AND repo IS NOT NULL AND path IS NOT NULL
),
latest AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
  FROM clean
)
SELECT repo, path, commit, seq, sha256(content) AS content_sha256
FROM latest WHERE rn = 1 AND op <> 'D'
"""


def q_cdc_lineage(spark, sf):
    """The engine's own lineage/metrics table (north_rule: 'per-partition
    lineage + metrics'), value-checked: apply the replay fixture as two
    metric-collecting commits, read back ``<lake>/metrics``, and compare
    the per-batch volumes the ENGINE recorded against an independent SQL
    recomputation from the raw events (LWW winners per batch: upsert /
    delete row counts, upsert bytes, and total winner keys — which must
    equal the sum of the per-bucket key counts the commit read from
    its new files' footers). Hash-dependent detail (which bucket each key lands in)
    is engine-internal and aggregated out; everything else is exact."""
    import tempfile

    from chunker_spark.cdc import LakeTable, apply_batch
    from chunker_spark.cdc.streaming import _append_metrics
    from chunker_spark.kernel import ChunkerParams

    _ensure_replay_fixture()
    events = _replay_events(spark)
    root = tempfile.mkdtemp(prefix="q-lin-")
    lake = LakeTable(spark, root, num_buckets=4)
    params = ChunkerParams(average_bits=9, min_size=256, max_size=4096)
    for i, pred in enumerate([F.col("seq") < 150, F.col("seq") >= 150]):
        commit = apply_batch(lake, events.where(pred), f"m{i}", params=params)
        _append_metrics(lake, commit, f"m{i}")
    m = spark.read.schema(
        "commit_seq long, batch_id string, bucket long, bucket_keys long, "
        "upsert_rows long, upsert_bytes long, upsert_chunks long, "
        "reused_chunks long, delete_rows long"
    ).parquet(f"{lake.root}/metrics")  # fixed engine-written schema; path is per-call tmpdir
    return m.groupBy("batch_id").agg(
        F.first("upsert_rows").alias("upsert_rows"),
        F.first("delete_rows").alias("delete_rows"),
        F.first("upsert_bytes").alias("upsert_bytes"),
        F.sum("bucket_keys").cast("long").alias("key_rows"),
    )


def _sql_cdc_lineage() -> str:
    _ensure_replay_fixture()
    return f"""
WITH ev AS (SELECT * FROM read_parquet('{_REPLAY_FIXTURE_DIR}/segment-00000.parquet')),
b AS (
  SELECT *, CASE WHEN seq < 150 THEN 'm0' ELSE 'm1' END AS batch_id FROM ev
),
w AS (
  SELECT *, row_number() OVER (PARTITION BY batch_id, repo, path ORDER BY seq DESC) AS rn
  FROM b
)
SELECT batch_id,
       CAST(sum(CASE WHEN op <> 'D' THEN 1 ELSE 0 END) AS BIGINT) AS upsert_rows,
       CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS delete_rows,
       CAST(coalesce(sum(CASE WHEN op <> 'D' THEN strlen(content) END), 0) AS BIGINT) AS upsert_bytes,
       CAST(count(*) AS BIGINT) AS key_rows
FROM w WHERE rn = 1
GROUP BY batch_id
"""


def q_cdc_timetravel(spark, sf):
    """Snapshot read AS OF an earlier commit (Iceberg time-travel
    parity, lake.read(at=...)): replay the 300-event fixture as two
    exactly-once commits, then read the table as of commit 0. The
    oracle recomputes the batch-A resolved state (seq < 150)
    independently in SQL — proving historical commits stay readable
    and resolve to exactly the state they committed."""
    import tempfile

    from chunker_spark.cdc import LakeTable, apply_batch
    from chunker_spark.kernel import ChunkerParams

    _ensure_replay_fixture()
    events = _replay_events(spark)
    lake = LakeTable(spark, tempfile.mkdtemp(prefix="q-tt-"), num_buckets=4)
    params = ChunkerParams(average_bits=9, min_size=256, max_size=4096)
    apply_batch(lake, events.where(F.col("seq") < 150), "t0", params=params, collect_metrics=False)
    apply_batch(lake, events.where(F.col("seq") >= 150), "t1", params=params, collect_metrics=False)
    return lake.read(at=0).select(
        "repo", "path", "commit", "language", "branch", "content_sha256", "size"
    )


def _sql_cdc_timetravel() -> str:
    _ensure_replay_fixture()
    return f"""
WITH ev AS (SELECT * FROM read_parquet('{_REPLAY_FIXTURE_DIR}/segment-00000.parquet')),
norm AS (
  SELECT seq, op, repo, path, commit,
         CASE WHEN schema_ver >= 3 THEN language ELSE lang END AS language,
         CASE WHEN schema_ver >= 2 THEN branch ELSE 'main' END AS branch,
         content
  FROM ev WHERE seq < 150
),
latest AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
  FROM norm
)
SELECT repo, path, commit, language, branch,
       sha256(content) AS content_sha256,
       CAST(strlen(content) AS BIGINT) AS size
FROM latest WHERE rn = 1 AND op <> 'D'
"""


def q_cdc_compact(spark, sf):
    """Kafka-style log compaction of the archived change log: latest
    event per (repo, path) via one partial→final max_by aggregation
    (map-side combine collapses per-key history before the shuffle),
    with delete tombstones older than the retention horizon (seq 150)
    aged out — bounding from-scratch replay cost at 10^10 events. The
    oracle recomputes latest-per-key with a window and applies the same
    horizon rule; replay equivalence vs the FULL log is pinned
    separately in tests/test_logcompact.py."""
    from chunker_spark.cdc.logcompact import compact_log

    _ensure_replay_fixture()
    events = _replay_events(spark)
    c = compact_log(events, tombstone_horizon=150)
    return c.select(
        "repo", "path", "seq", "op",
        F.sha2(F.col("content").cast("binary"), 256).alias("content_sha256"),
    )


def _sql_cdc_compact() -> str:
    _ensure_replay_fixture()
    return f"""
WITH ev AS (SELECT * FROM read_parquet('{_REPLAY_FIXTURE_DIR}/segment-00000.parquet')),
latest AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
  FROM ev
)
SELECT repo, path, seq, op, sha256(content) AS content_sha256
FROM latest
WHERE rn = 1 AND NOT (op = 'D' AND seq < 150)
"""


def q_txn_gate_release(spark, sf):
    """Transaction-atomic release across a micro-batch cut: the fixture
    slices a wal2json stream (include-xids) mid-transaction — txn 701's
    first update lands in batch 0 but its commit line in batch 1 — and
    the TxnGate must hold that update back (never expose a torn
    transaction) and release it, original seq intact, once batch 1
    delivers the C line; a fully-committed txn releases in its own
    batch and an xid-less event passes straight through. Runs the real
    two-batch gate (versioned pending snapshots and all); the oracle
    restates the completeness rule relationally: an event's release
    batch IS its commit line's batch, because logical decoding orders
    every change line before its transaction's commit line."""
    import shutil

    from chunker_spark.cdc.envelopes import (
        parse_wal2json,
        wal2json_commits,
        wal2json_txn_fixture_path,
    )
    from chunker_spark.cdc.txn import TxnGate

    raw = _pq(spark, wal2json_txn_fixture_path())
    state = "/tmp/chunker_spark_fixtures/txn_gate_query_state"
    shutil.rmtree(state, ignore_errors=True)
    gate = TxnGate(spark, state)
    out = None
    for b, cond in ((0, F.col("line_no") < 6), (1, F.col("line_no") >= 6)):
        part = raw.where(cond)
        released = gate.gate(
            parse_wal2json(part, with_txn=True), wal2json_commits(part), b
        ).withColumn("release_batch", F.lit(b))
        out = released if out is None else out.unionByName(released)
    return out.select("repo", "path", "commit", "seq", "txn_id", "release_batch")


def _sql_txn_gate_release() -> str:
    from chunker_spark.cdc.envelopes import wal2json_txn_fixture_path

    path = wal2json_txn_fixture_path()  # ensure the fixture exists for DuckDB
    field = (
        "(SELECT j->>'value' FROM unnest(CAST(json_extract(value, '$.columns') AS JSON[])) AS u(j) "
        "WHERE j->>'name' = '{name}')"
    )
    return f"""
WITH raw AS (SELECT line_no, value FROM read_parquet('{path}')),
parsed AS (
  SELECT line_no,
         json_extract_string(value, '$.action') AS action,
         TRY_CAST(json_extract_string(value, '$.xid') AS BIGINT) AS txn_id,
         TRY_CAST(('0x' || string_split(json_extract_string(value, '$.lsn'), '/')[1]) AS BIGINT)
             * 4294967296
           + TRY_CAST(('0x' || string_split(json_extract_string(value, '$.lsn'), '/')[2]) AS BIGINT) AS seq,
         {field.format(name='repo')} AS repo,
         {field.format(name='path')} AS path,
         {field.format(name='commit')} AS commit
  FROM raw WHERE json_valid(value)
),
events AS (SELECT * FROM parsed WHERE action IN ('I', 'U', 'D')),
commits AS (
  SELECT txn_id, CASE WHEN line_no < 6 THEN 0 ELSE 1 END AS commit_batch
  FROM parsed WHERE action = 'C' AND txn_id IS NOT NULL
)
SELECT e.repo, e.path, e.commit, e.seq, e.txn_id,
       CASE WHEN e.txn_id IS NULL
            THEN CASE WHEN e.line_no < 6 THEN 0 ELSE 1 END
            ELSE c.commit_batch END AS release_batch
FROM events e LEFT JOIN commits c USING (txn_id)
WHERE e.txn_id IS NULL OR c.commit_batch IS NOT NULL
"""


def q_orders_reconcile(spark, sf):
    """Source↔sink reconciliation (the nightly CDC audit): diff the
    orders table against a deterministically perturbed copy — keys
    divisible by 97 dropped (only_left), by 101 repriced (+1.0,
    mismatch), by 103 duplicated under a shifted key (only_right) — via
    the keyed-digest full-outer diff: each side reduces MAP-SIDE to
    (key, sha2(to_json(compared columns))) so row payloads never enter
    the one fixed-width join. The oracle restates the diff as a direct
    column-comparison FULL OUTER JOIN — a different mismatch test
    (tuple comparison vs digest equality) that must agree exactly."""
    from chunker_spark.ops.audit import table_diff

    o = _t(spark, sf, "orders")
    key = F.col("o_orderkey")
    right = (
        o.where(key % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(key % 101 == 0, F.col("o_totalprice") + F.lit(1.0)).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            o.where(key % 103 == 0).withColumn(
                "o_orderkey", key + F.lit(1_000_000_000)
            )
        )
    )
    return table_diff(
        o,
        right,
        key_cols=["o_orderkey"],
        compare_cols=["o_custkey", "o_orderstatus", "o_totalprice"],
    )


def q_orders_repair(spark, sf):
    """Repair plan from the nightly audit (closing orders_reconcile's
    loop): the same deterministically perturbed sink — keys %97 dropped,
    %101 repriced, %103 duplicated under shifted keys — diffed against
    the source, then turned into corrective CDC events: UPSERTS carrying
    the source payload for only_left+mismatch, DELETES for only_right.
    Source payloads are fetched only for repair keys (left-semi after
    the fixed-width digest diff). The oracle derives the plan DIRECTLY
    from the perturbation predicates (%97 or %101 upserts, shifted-key
    deletes) — no diff machinery — so a wrong diff class or a lost
    repair row mismatches."""
    from chunker_spark.ops.audit import repair_events

    o = _t(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    key = F.col("o_orderkey")
    sink = (
        o.where(key % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(key % 101 == 0, F.col("o_totalprice") + F.lit(1.0)).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            o.where(key % 103 == 0).withColumn(
                "o_orderkey", key + F.lit(1_000_000_000)
            )
        )
    )
    return repair_events(
        o, sink, ["o_orderkey"], ["o_custkey", "o_orderstatus", "o_totalprice"]
    )


SQL_ORDERS_REPAIR = """
WITH ups AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'u' AS op
  FROM orders
  WHERE o_orderkey % 97 = 0 OR o_orderkey % 101 = 0
),
dels AS (
  SELECT o_orderkey + 1000000000 AS o_orderkey,
         CAST(NULL AS BIGINT) AS o_custkey,
         CAST(NULL AS VARCHAR) AS o_orderstatus,
         CAST(NULL AS DOUBLE) AS o_totalprice,
         'd' AS op
  FROM orders
  WHERE o_orderkey % 103 = 0
)
SELECT * FROM ups UNION ALL SELECT * FROM dels
"""


SQL_ORDERS_RECONCILE = """
WITH r AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 103 = 0
)
SELECT COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
       CASE WHEN l.o_orderkey IS NULL THEN 'only_right'
            WHEN r.o_orderkey IS NULL THEN 'only_left'
            WHEN l.o_custkey <> r.o_custkey
              OR l.o_orderstatus <> r.o_orderstatus
              OR l.o_totalprice <> r.o_totalprice THEN 'mismatch' END AS diff_kind
FROM orders l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey
WHERE CASE WHEN l.o_orderkey IS NULL THEN 'only_right'
           WHEN r.o_orderkey IS NULL THEN 'only_left'
           WHEN l.o_custkey <> r.o_custkey
             OR l.o_orderstatus <> r.o_orderstatus
             OR l.o_totalprice <> r.o_totalprice THEN 'mismatch' END IS NOT NULL
"""


def q_events_asof_click(spark, sf):
    """Backward as-of join: every purchase matched to the SAME user's
    latest click at-or-before the purchase instant (inner: purchases
    with no prior click drop, the DuckDB ASOF JOIN default). Runs the
    union+LOCF plan from ops.asof — one shuffle, linear, no non-equi
    pair blowup — while the oracle is DuckDB's native ASOF JOIN, an
    entirely different algorithm computing the same relation."""
    from chunker_spark.ops.asof import asof_join

    ev = _t(spark, sf, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    j = asof_join(purchases, clicks, on="user_id", how="inner")
    return j.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_r").alias("click_ts"),
        F.col("click_event_id_r").alias("click_event_id"),
        # events.ts is TIMESTAMP_NTZ (unix_micros wants TIMESTAMP);
        # the cast difference is timezone-invariant
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("ts_r").cast("timestamp"))
        ).alias("gap_us"),
    )


SQL_EVENTS_ASOF_CLICK = """
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     r AS (SELECT user_id, ts, event_id AS click_event_id FROM events WHERE event_type = 'click')
SELECT l.event_id, l.user_id, l.ts,
       r.ts AS click_ts, r.click_event_id,
       epoch_us(l.ts) - epoch_us(r.ts) AS gap_us
FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_events_asof_next(spark, sf):
    """FORWARD as-of join (`ops/asof.py direction='forward'`): every
    purchase matched to the SAME user's EARLIEST click at-or-after the
    purchase instant — the "what did they do next" question. Same
    union+LOCF engine plan read in reverse time order (one shuffle, no
    non-equi pair blowup); the oracle is DuckDB's native ASOF JOIN with
    the inequality flipped (l.ts <= r.ts) — a different algorithm
    computing the same relation."""
    from chunker_spark.ops.asof import asof_join

    ev = _t(spark, sf, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    j = asof_join(purchases, clicks, on="user_id", how="inner", direction="forward")
    return j.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_r").alias("click_ts"),
        F.col("click_event_id_r").alias("click_event_id"),
        (
            F.unix_micros(F.col("ts_r").cast("timestamp"))
            - F.unix_micros(F.col("ts").cast("timestamp"))
        ).alias("wait_us"),
    )


SQL_EVENTS_ASOF_NEXT = """
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     r AS (SELECT user_id, ts, event_id AS click_event_id FROM events WHERE event_type = 'click')
SELECT l.event_id, l.user_id, l.ts,
       r.ts AS click_ts, r.click_event_id,
       epoch_us(r.ts) - epoch_us(l.ts) AS wait_us
FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
"""


def q_events_value_tiers(spark, sf):
    """Range (interval) join: events banded into value tiers via the
    bucketized equi-join of ops.ranges — Catalyst would execute the
    naive `v >= lo AND v < hi` predicate as a nested loop; the operator
    explodes intervals to width-10 buckets and hash-joins instead. The
    oracle IS that naive BETWEEN join (DuckDB runs it fine at this
    scale), so the rewrite is value-checked against the direct
    formulation it replaces."""
    from chunker_spark.ops.ranges import range_join

    ev = _t(spark, sf, "events").select("event_id", "value")
    tiers = spark.createDataFrame(
        [("t0", 0.0, 10.0), ("t1", 10.0, 50.0), ("t2", 50.0, 150.0), ("t3", 150.0, 500.0)],
        "tier string, lo double, hi double",
    )
    j = range_join(ev, tiers, value_col="value", bucket_width=10.0)
    return (
        j.groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(20,4)")).cast("double"), 2
            ).alias("sum_value"),
        )
        .orderBy("tier")
    )


SQL_EVENTS_VALUE_TIERS = """
WITH tiers(tier, lo, hi) AS (
  VALUES ('t0', 0.0, 10.0), ('t1', 10.0, 50.0), ('t2', 50.0, 150.0), ('t3', 150.0, 500.0)
)
SELECT t.tier,
       count(*) AS n,
       round(CAST(sum(CAST(e.value AS DECIMAL(20,4))) AS DOUBLE), 2) AS sum_value
FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
GROUP BY 1 ORDER BY 1
"""


def q_user_approx_distinct(spark, sf):
    """Sketch aggregation (HyperLogLog++): per-event-type approximate
    distinct users next to the exact count, oracle-checked as an
    INVARIANT — the sketch's value is implementation-specific, but its
    documented error contract is not: within_tol must be true at rsd
    0.02 against a 5% gate, and the exact column must match DuckDB's
    count(distinct) bit-for-bit. At 100 TB the sketch is the only
    viable distinct (fixed 2^p-byte state per group, map-side
    combinable, no distinct shuffle)."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.02).alias("approx"),
        )
        .select(
            "event_type",
            F.col("exact_users").cast("long").alias("exact_users"),
            (
                F.abs(F.col("approx") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_tol"),
        )
    )


SQL_USER_APPROX_DISTINCT = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_tol
FROM events
GROUP BY event_type
"""


def q_events_type_pivot(spark, sf):
    """PIVOT: per-user-cohort event counts spread across one column per
    event type (the wide-format reporting op). Spark's relational pivot
    plans as a single two-phase hash aggregate over (cohort) with
    pivot-value projection — one shuffle, map-side combined; the oracle
    restates it as conditional aggregation, which is also exactly what
    the pivot compiles to, so the equivalence is the correctness
    contract for the pivot path itself."""
    ev = _t(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.withColumn("cohort", (F.col("user_id") % 10).cast("int"))
        .groupBy("cohort")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "cohort",
            *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types],
        )
        .orderBy("cohort")
    )


SQL_EVENTS_TYPE_PIVOT = """
SELECT CAST(user_id % 10 AS INTEGER) AS cohort,
       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view
FROM events
GROUP BY 1 ORDER BY 1
"""


def q_events_moving_avg(spark, sf):
    """Rolling window aggregate: per-user 5-row trailing mean of the
    event value, ordered by time — the sliding-window frame
    (rowsBetween) surface, distinct from the tumbling/session windows
    already covered. One shuffle (partitionBy user); the frame itself
    is a streaming-buffer computation inside the sorted partition.
    Decimal-exact mean, rounded, to dodge float summation order."""
    ev = _t(spark, sf, "events").where(F.col("event_type") == "purchase")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(
            F.avg(F.col("value").cast("decimal(20,4)")).over(w).cast("double"), 4
        ).alias("avg5_value"),
    )


SQL_EVENTS_MOVING_AVG = """
SELECT event_id, user_id, ts,
       round(CAST(avg(CAST(value AS DECIMAL(20,4))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS avg5_value
FROM events WHERE event_type = 'purchase'
"""


def q_order_cube(spark, sf):
    """CUBE aggregation: order counts/totals over every combination of
    (orderstatus, orderpriority) including both marginals and the grand
    total — one Expand + single two-phase hash aggregate, the same plan
    family as ROLLUP but with the full 2^k grouping-set lattice."""
    o = _t(spark, sf, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(20,4)")).cast("double"), 2
            ).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


SQL_ORDER_CUBE = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE), 2) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_lineitem_unpivot(spark, sf):
    """UNPIVOT (melt): the four lineitem measures rotated into
    (measure, value) long format, then aggregated per measure — the
    inverse of the pivot query. Spark plans unpivot as a single Expand
    (each input row fans out to one row per measure) feeding one
    two-phase hash aggregate — no shuffle of the wide table, no join.
    The oracle restates it as a UNION ALL of per-measure aggregates."""
    li = _t(spark, sf, "lineitem")
    long = li.unpivot(
        ids=[],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    )
    return (
        long.groupBy("measure")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(20,4)")).cast("double"), 2
            ).alias("total"),
        )
        .orderBy("measure")
    )


SQL_LINEITEM_UNPIVOT = """
WITH long AS (
  SELECT 'l_quantity' AS measure, l_quantity AS value FROM lineitem
  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
)
SELECT measure, count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE), 2) AS total
FROM long GROUP BY measure ORDER BY measure
"""


def q_doc_contamination(spark, sf):
    """Benchmark decontamination (ops/decontaminate.py): distinct word
    5-gram overlap of every document against an eval set — here the
    texts of doc_id < 10 from the same corpus, so those ten documents
    are fully contaminated by construction and every other row's
    fraction measures real shared phrasing. The benchmark gram set is
    broadcast (eval sets are MBs, corpora are TBs); doc grams join
    map-side, only (doc_id, count) rows shuffle. Oracle: the identical
    relational computation in DuckDB list SQL."""
    from chunker_spark.ops.decontaminate import ngram_contamination

    d = _t(spark, sf, "documents")
    bench = d.where(F.col("doc_id") < 10).select("text")
    return ngram_contamination(d, bench, n=5).orderBy("doc_id")


def q_doc_bloom(spark, sf):
    """Bloom-filter decontamination (ops/bloom.py + bloom_decontaminate):
    membership of every document's normalized-content fingerprint in a
    reference set (docs with doc_id % 7 == 0), via a RELATIONAL bloom —
    the m-bit array lives as (word_idx, bits) rows built with bit_or,
    probed by broadcast join + map-side AND-reduce, so neither reference
    strings nor fingerprints ever broadcast raw. Oracle is the sketch
    INVARIANT, not the bits: per source, the exact member count (DuckDB
    recomputes exact membership on the identical normalized text) plus
    two gates that must hold — no_false_negatives (every exact member
    bloom-flagged; mathematically guaranteed) and fp_bound_ok (false
    positives <= 10x the sizing fpp + 16 slack)."""
    from chunker_spark.ops.decontaminate import (
        bloom_decontaminate,
        normalized_fingerprint,
    )

    d = _t(spark, sf, "documents")
    ref = d.where(F.col("doc_id") % 7 == 0).select("text")
    verdict = bloom_decontaminate(d, ref, fpp=1e-3)
    # exact membership on the SAME normalized text (not the hash): a
    # non-reference doc whose content duplicates a reference doc IS a
    # member — both sides agree on that by construction
    ref_fp = (
        d.where(F.col("doc_id") % 7 == 0)
        .select(normalized_fingerprint("text").alias("fp"))
        .distinct()
    )
    exact = d.select(
        "doc_id",
        "source",
        normalized_fingerprint("text").alias("fp"),
    ).join(
        F.broadcast(ref_fp.withColumn("is_member", F.lit(True))), "fp", "left"
    ).select(
        "doc_id", "source", F.coalesce("is_member", F.lit(False)).alias("exact")
    )
    per_doc = exact.join(verdict, "doc_id")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("exact").cast("long")).alias("n_members"),
            F.bool_and(~F.col("exact") | F.col("bloom_hit")).alias(
                "no_false_negatives"
            ),
            (
                F.sum((F.col("bloom_hit") & ~F.col("exact")).cast("long"))
                <= F.sum((~F.col("exact")).cast("long")) * 0.01 + 16
            ).alias("fp_bound_ok"),
        )
        .select("source", "n_docs", "n_members", "no_false_negatives", "fp_bound_ok")
    )


SQL_DOC_BLOOM = """
WITH fp AS (
  SELECT doc_id, source,
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
),
ref AS (SELECT DISTINCT norm FROM fp WHERE doc_id % 7 = 0)
SELECT fp.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN ref.norm IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       TRUE AS no_false_negatives,
       TRUE AS fp_bound_ok
FROM fp LEFT JOIN ref ON fp.norm = ref.norm
GROUP BY fp.source
"""


_DECON_GRAMS = (
    "list_transform(range(1, greatest(len(ws) - 4, 0) + 1), "
    "i -> array_to_string(ws[i:i+4], ' '))"
)

SQL_DOC_CONTAMINATION = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS ws
  FROM documents
),
dg AS (SELECT doc_id, list_distinct({_DECON_GRAMS}) AS grams FROM w),
bg AS (
  SELECT DISTINCT gram
  FROM (SELECT unnest({_DECON_GRAMS}) AS gram FROM w WHERE doc_id < 10)
),
per AS (SELECT doc_id, unnest(grams) AS gram FROM dg),
m AS (
  SELECT per.doc_id, count(*) AS n_contaminated
  FROM per JOIN bg USING (gram) GROUP BY per.doc_id
)
SELECT dg.doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CAST(coalesce(m.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       round(coalesce(m.n_contaminated, 0) / greatest(len(grams), 1), 6) AS contamination
FROM dg LEFT JOIN m USING (doc_id)
"""


def q_doc_repetition(spark, sf):
    """Gopher-style repetition quality signals (functions/text.py):
    duplicate word-2-gram occurrence fraction and duplicate-line
    fraction per document — the filters that catch boilerplate and
    looping generations before training. Pure JVM array expressions
    (no shuffle at all: map-only over the scan)."""
    from chunker_spark.functions.text import dup_line_fraction, dup_ngram_fraction

    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        dup_ngram_fraction("text", 2).alias("dup_2gram_frac"),
        dup_line_fraction("text").alias("dup_line_frac"),
    )


SQL_DOC_REPETITION = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS ws,
         list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS ls
  FROM documents
),
g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                        i -> array_to_string(ws[i:i+1], ' ')) AS g2,
         ls
  FROM base
)
SELECT doc_id,
       CASE WHEN len(g2) > 0
            THEN round(1.0 - len(list_distinct(g2)) / len(g2), 6)
            ELSE 0.0 END AS dup_2gram_frac,
       CASE WHEN len(ls) > 0
            THEN round(1.0 - len(list_distinct(ls)) / len(ls), 6)
            ELSE 0.0 END AS dup_line_frac
FROM g
"""


def q_doc_pii(spark, sf):
    """PII scrub audit (functions/text.py redact_pii/pii_counts): the
    corpus carries no natural PII, so deterministic synthetic PII is
    injected per doc_id residue class — an email, an IPv4, or an
    SSN-shaped id — then redacted and counted. The oracle re-runs the
    identical injection + RE2-compatible patterns in DuckDB, so the
    redacted TEXT itself is hash-compared, not just the counts.
    Map-only JVM regexp chain: no shuffle, no Python."""
    from chunker_spark.functions.text import pii_counts, redact_pii

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(did % 3 == 0,
               F.concat(F.lit(" contact user"), did.cast("string"),
                        F.lit("@example.com now")))
        .when(did % 3 == 1,
              F.concat(F.lit(" from 10.1."), (did % 256).cast("string"),
                       F.lit(".7 logged")))
        .otherwise(F.concat(F.lit(" ssn 123-45-"),
                            F.lpad((did % 10000).cast("string"), 4, "0"))),
    )
    return d.select(
        "doc_id",
        redact_pii(injected).alias("redacted"),
        *[c for c in pii_counts(injected)],
    )


SQL_DOC_PII = r"""
WITH inj AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id::VARCHAR || '@example.com now'
           WHEN doc_id % 3 = 1 THEN ' from 10.1.' || (doc_id % 256)::VARCHAR || '.7 logged'
           ELSE ' ssn 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
         END AS t
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
           '\b(\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g'),
         '\b\d{3}-\d{2}-\d{4}\b', '[ID]', 'g') AS redacted,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ip,
       CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn
FROM inj
"""


def q_doc_quality_deciles(spark, sf):
    """Quality-metric decile binning (ntile window) — the curation step
    that stratifies a corpus for mixture weighting: rank every document
    by a quality metric (mean word length, whose cross-engine parity
    the doc_quality oracle already pins) into 10 equal bins, report
    per-bin row counts and metric ranges. Tie-break on doc_id makes the
    ntile assignment a total order, so Spark's and DuckDB's ntile agree
    exactly. One window sort (global — fine for a scalar per-doc score;
    at extreme scale Spark range-partitions the sort) + a tiny
    aggregate."""
    from pyspark.sql.window import Window

    d = _t(spark, sf, "documents")
    c = F.col("text")
    n_words = F.size(F.split(F.trim(c), r"\s+"))
    q = (
        F.round(
            F.length(c).cast("decimal(20,6)")
            / F.greatest(n_words, F.lit(1)).cast("decimal(20,6)"),
            4,
        ).cast("double")
    )
    scored = d.select("doc_id", q.alias("q"))
    w = Window.orderBy(F.col("q"), F.col("doc_id"))
    return (
        scored.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("q").alias("q_min"),
            F.max("q").alias("q_max"),
        )
        .orderBy("decile")
    )


SQL_DOC_QUALITY_DECILES = r"""
WITH scored AS (
  SELECT doc_id,
         CAST(round(CAST(length(text) AS DECIMAL(20,6))
              / CAST(greatest(len(string_split_regex(trim(text), '\s+')), 1) AS DECIMAL(20,6)), 4) AS DOUBLE) AS q
  FROM documents
),
binned AS (SELECT doc_id, q, ntile(10) OVER (ORDER BY q, doc_id) AS decile FROM scored)
SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
       min(q) AS q_min, max(q) AS q_max
FROM binned GROUP BY decile ORDER BY decile
"""


def q_order_grouping_sets(spark, sf):
    """Explicit GROUPING SETS — the arbitrary-lattice sibling of the
    ROLLUP/CUBE queries: totals by status alone, by priority alone, and
    the grand total, in ONE pass (single Expand + two-phase hash
    aggregate, same plan family as rollup). grouping_id disambiguates
    the null-vs-aggregated rows."""
    o = _t(spark, sf, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id() AS BIGINT) AS gid,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE), 2) AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


SQL_ORDER_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE), 2) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def q_doc_pack(spark, sf):
    """Sequence packing: lay the corpus into 512-token training bins
    across 8 content-hash shards (`ops/packing.py`). Per-document
    output (shard, start_bin, end_bin, bin_offset) — the full packing
    layout, every row value-checked. Integer arithmetic end-to-end:
    the window cumsum, the bin division and the offsets are exact, so
    the oracle matches bit-for-bit with no float policy needed. One
    hash-partition shuffle on the shard; shards sort independently."""
    from chunker_spark.functions.text import token_count
    from chunker_spark.ops.packing import pack_documents

    d = _t(spark, sf, "documents")
    return pack_documents(d, token_count("text"), budget=512, n_shards=8)


SQL_DOC_PACK = r"""
WITH toks AS (
  SELECT doc_id, sha256(text) AS h,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS tokens
  FROM documents
), sharded AS (
  SELECT doc_id, h, CAST(tokens AS BIGINT) AS tokens,
         ('0x' || substr(h, 1, 2))::INT % 8 AS shard
  FROM toks
), packed AS (
  SELECT doc_id, shard, tokens,
         COALESCE(SUM(tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM sharded
)
SELECT doc_id, CAST(shard AS INT) AS shard, tokens,
       CAST(cum_before // 512 AS BIGINT) AS start_bin,
       CAST((cum_before + greatest(tokens, 1) - 1) // 512 AS BIGINT) AS end_bin,
       CAST(cum_before % 512 AS BIGINT) AS bin_offset
FROM packed
"""


def q_doc_mixture(spark, sf):
    """Corpus mixture weighting (`ops/curation.py mixture_sample` — the
    Pile/DoReMi recipe): a DIFFERENT exact fraction per source —
    100% of src0, 3/4 of src1, 1/2 of src2, 1/5 of src3, src4 dropped,
    1/10 of everything else. Content-determined rank within each
    source, pure-integer keep test ((rk-1)*den < n*num), so the kept
    id set is bit-identical to the oracle's CASE-driven restatement —
    no float cutoff anywhere."""
    from chunker_spark.ops.curation import mixture_sample

    d = _t(spark, sf, "documents")
    quotas = {"src0": (1, 1), "src1": (3, 4), "src2": (1, 2), "src3": (1, 5), "src4": (0, 1)}
    return mixture_sample(d, "source", quotas, default=(1, 10)).select("doc_id", "source")


SQL_DOC_MIXTURE = """
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY sha256(text), doc_id) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT doc_id, source FROM ranked
WHERE (rk - 1) * (CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 4 WHEN 'src2' THEN 2
                              WHEN 'src3' THEN 5 WHEN 'src4' THEN 1 ELSE 10 END)
    <       n * (CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 3 WHEN 'src2' THEN 1
                              WHEN 'src3' THEN 1 WHEN 'src4' THEN 0 ELSE 1 END)
"""


def q_doc_weighted_sample(spark, sf):
    """Deterministic weighted sampling without replacement
    (`ops/curation.py weighted_sample`, Efraimidis-Spirakis A-ES):
    sample_key = ln(content-hash uniform) / n_chars, top-100 keys win —
    selection probability proportional to document length, yet a pure
    function of the data. Plans as TakeOrderedAndProject (partial
    top-k per partition), not a full sort. House float policy: key
    rounded to 6 before ranking, ties on doc_id."""
    from chunker_spark.ops.curation import weighted_sample

    d = _t(spark, sf, "documents")
    return weighted_sample(d, k=100, weight_col="n_chars").select(
        "doc_id", "n_chars", "sample_key"
    )


SQL_DOC_WEIGHTED_SAMPLE = """
SELECT doc_id, n_chars,
       round(ln((('0x' || substr(sha256(text), 1, 8))::BIGINT + 0.5) / 4294967296.0)
             / n_chars, 6) + 0.0 AS sample_key
FROM documents
ORDER BY sample_key DESC, doc_id
LIMIT 100
"""


def q_lineitem_zorder(spark, sf):
    """Z-order curve positions (`ops/layout.py` — the compaction-time
    file layout for multi-column data-skipping): bucket l_partkey and
    l_suppkey to 8 bits each with EXACT integer min-max scaling
    ((x-min)*256 // (max-min+1) — no float policy needed), then Morton-
    interleave the bucket bits JVM-side. The oracle regenerates the
    identical shift/mask arithmetic as ANSI SQL (disjoint bit terms
    summed with + == OR'd). The quantile (equi-depth) strategy and the
    actual file-pruning effect are behaviour-tested in
    tests/test_pipeline_ops.py / test_plans.py — boundary sampling
    isn't value-pinnable, curve arithmetic is."""
    from chunker_spark.ops.layout import zorder_value

    li = _t(spark, sf, "lineitem")
    z = zorder_value(li, ["l_partkey", "l_suppkey"], bits=8, strategy="minmax")
    return z.where(F.col("l_quantity") > 45).select(
        "l_orderkey", "l_linenumber", "zvalue"
    )


def _sql_lineitem_zorder() -> str:
    interleave = " + ".join(
        f"(((b{c} >> {b}) & 1) << {b * 2 + i})"
        for b in range(8)
        for i, c in enumerate(("p", "s"))
    )
    return f"""
WITH stats AS (
  SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
         min(l_suppkey) AS smin, max(l_suppkey) AS smax
  FROM lineitem
),
bucketed AS (
  SELECT l_orderkey, l_linenumber, l_quantity,
         ((l_partkey - pmin) * 256) // (pmax - pmin + 1) AS bp,
         ((l_suppkey - smin) * 256) // (smax - smin + 1) AS bs
  FROM lineitem, stats
)
SELECT l_orderkey, l_linenumber,
       CAST({interleave} AS BIGINT) AS zvalue
FROM bucketed WHERE l_quantity > 45
"""


def q_doc_boilerplate(spark, sf):
    """Line-level boilerplate removal (`ops/boilerplate.py` — the
    CCNet/RefinedWeb paragraph-dedup pass): synthesize multi-line
    "pages" of 5 documents each, then strip every line whose normalized
    form (lower+trim) appears in >= 2 distinct pages. The engine never
    shuffles text for the decision — document frequency runs on
    (xxhash64(line), page_id) int pairs and the rebuild is a positional
    JVM array filter over the original column. The oracle restates the
    whole pass with DuckDB string_split/unnest, grouping on the
    normalized line itself (no hash), so agreement also certifies the
    hash-collision-free count path. sha256 of the rebuilt text pins
    line order and joining exactly."""
    from chunker_spark.ops.boilerplate import remove_boilerplate_lines

    d = _t(spark, sf, "documents")
    pages = d.groupBy(F.floor(F.col("doc_id") / 5).alias("page_id")).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("text")
    )
    out = remove_boilerplate_lines(pages, id_col="page_id", text_col="text", min_docs=2)
    total_lines = F.size(F.split(F.col("text"), "\n"))
    return out.select(
        "page_id",
        F.sha2(F.col("clean_text"), 256).alias("clean_sha256"),
        F.col("n_lines_removed"),
        (total_lines - F.col("n_lines_removed")).alias("n_lines_kept"),
    )


SQL_DOC_BOILERPLATE = """
WITH pages AS (
  SELECT doc_id // 5 AS page_id,
         string_agg(text, chr(10) ORDER BY doc_id) AS text
  FROM documents GROUP BY 1
),
lines AS (
  SELECT page_id,
         unnest(str_split(text, chr(10))) AS line,
         generate_subscripts(str_split(text, chr(10)), 1) - 1 AS pos
  FROM pages
),
freq AS (
  SELECT lower(trim(line)) AS norm, count(DISTINCT page_id) AS df
  FROM lines GROUP BY 1
),
flagged AS (
  SELECT l.page_id, l.pos, l.line, f.df >= 2 AS dropped
  FROM lines l JOIN freq f ON lower(trim(l.line)) = f.norm
),
rebuilt AS (
  SELECT page_id,
         coalesce(string_agg(line, chr(10) ORDER BY pos)
                  FILTER (WHERE NOT dropped), '') AS clean_text,
         count(*) FILTER (WHERE dropped) AS n_removed,
         count(*) FILTER (WHERE NOT dropped) AS n_kept
  FROM flagged GROUP BY page_id
)
SELECT page_id, sha256(clean_text) AS clean_sha256,
       CAST(n_removed AS INT) AS n_lines_removed,
       CAST(n_kept AS INT) AS n_lines_kept
FROM rebuilt
"""


def q_doc_stratified(spark, sf):
    """EXACT stratified 1/5 sample per language (`ops/curation.py`):
    rank within each stratum by (sha256(text), doc_id), keep the first
    ceil(n/5). The keep test is pure integer arithmetic — no float
    cutoff to disagree on — so the sampled id set itself is the
    oracle, not just its size."""
    from chunker_spark.ops.curation import stratified_sample

    d = _t(spark, sf, "documents")
    return stratified_sample(d, ["lang"], 1, 5).select("doc_id", "lang")


SQL_DOC_STRATIFIED = """
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY sha256(text), doc_id) AS rk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT doc_id, lang FROM ranked WHERE (rk - 1) * 5 < n * 1
"""


def q_lang_top_terms(spark, sf):
    """TF-IDF salient terms per language (`ops/terms.py`): one explode
    pass, integer term-frequency sums, a single ln() multiply per
    (lang, term) — no order-dependent float accumulation anywhere —
    ranked on the 6-decimal-rounded score with the term as tie-break
    (the ANN float-parity protocol)."""
    from chunker_spark.ops.terms import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf, "documents"), k=5)


SQL_LANG_TOP_TERMS = """
WITH terms AS (
  SELECT d.doc_id, d.lang, t.term
  FROM documents d, unnest(regexp_split_to_array(lower(d.text), '[^a-z]+')) AS t(term)
  WHERE length(t.term) >= 2
),
tf AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS total_tf FROM terms GROUP BY lang, term),
dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq FROM terms GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.lang, tf.term, tf.total_tf, dfq.doc_freq,
         round(tf.total_tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (dfq.doc_freq + 1)), 6) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN n
)
SELECT lang, CAST(rank AS BIGINT) AS rank, term, total_tf, doc_freq,
       round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY score DESC, term ASC) AS rank
      FROM scored)
WHERE rank <= 5
"""


def q_embedding_kmeans(spark, sf):
    """Distributed k-means assignment (`ops/clustering.py`): centroids
    = the 8 lowest-id vectors (deterministic, engine-expressible
    init), embedded as plan literals (the degenerate broadcast — no
    exchange); per-row squared-L2 argmin with distances rounded to 6
    BEFORE the argmin, ties to the lower centroid id. Map-only stage,
    JVM fold, no Python. Full per-row oracle."""
    from chunker_spark.ops.clustering import kmeans_assign

    v = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    seed = v.orderBy("vec_id").limit(8).collect()
    centroids = [(i, list(r["embedding"])) for i, r in enumerate(seed)]
    return kmeans_assign(v, centroids).select("vec_id", "cluster", "sq_dist")


SQL_EMBEDDING_KMEANS = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, emb AS cemb
      FROM v ORDER BY vec_id LIMIT 8),
scored AS (
  SELECT v.vec_id, c.cid,
         round(list_sum(list_transform(list_zip(v.emb, c.cemb),
                                       x -> (x[1]-x[2])*(x[1]-x[2]))), 6) AS d
  FROM v CROSS JOIN c
)
SELECT vec_id, CAST(cid AS INT) AS cluster, d AS sq_dist
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk FROM scored)
WHERE rk = 1
"""


def q_events_scd2(spark, sf):
    """SCD Type-2 history construction — the canonical CDC consumer
    pattern: every event becomes a version row valid [ts, next ts of
    the same user), open-ended for the current version. Durations in
    exact integer microseconds (unix_micros), summarized per
    event_type so the oracle pins interval construction (count, open
    versions, total and max validity) without floating point. One
    window shuffle on user_id."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    vers = e.select(
        "event_type",
        # events.ts is TIMESTAMP_NTZ; session tz is UTC, so the cast is identity
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.lead("ts").over(w).cast("timestamp")).alias("next_us"),
    )
    dur = F.col("next_us") - F.col("ts_us")
    return vers.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.sum(F.when(F.col("next_us").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_current"),
        F.sum(dur).alias("total_duration_us"),
        F.max(dur).alias("max_duration_us"),
    )


SQL_EVENTS_SCD2 = """
WITH vers AS (
  SELECT event_type, epoch_us(ts) AS ts_us,
         epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS next_us
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_versions,
       CAST(sum(CASE WHEN next_us IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
       CAST(sum(next_us - ts_us) AS BIGINT) AS total_duration_us,
       CAST(max(next_us - ts_us) AS BIGINT) AS max_duration_us
FROM vers GROUP BY event_type
"""


def q_customer_value_pctrank(spark, sf):
    """percent_rank / cume_dist coverage: customers ranked by exact
    DECIMAL spend within their nation. Both window values are small
    integer ratios ((rank-1)/(n-1), peers/n) — IEEE division of exact
    integers, bit-identical across engines, emitted RAW: rounding them
    (tried in round 4) put (rank-1)/(n-1)=.0640625 exactly on the
    round-6 half boundary at sf0.1, which Spark (decimal-string) and
    DuckDB (raw-bits) resolve differently."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    spend = (
        o.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(20,4)")).alias("spend_dec"))
    )
    j = c.join(spend, c.c_custkey == spend.o_custkey).select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("spend_dec").cast("double"), 2).alias("spend"),
    )
    w = Window.partitionBy("c_nationkey").orderBy("spend")
    return j.select(
        "c_custkey",
        F.col("c_nationkey").cast("long").alias("nationkey"),
        "spend",
        # raw quotients: (rank-1)/(n-1) and peers/n are IEEE divisions
        # of identical exact integers on both engines — bit-identical.
        # round(...,6) sat ON the .5 boundary at sf0.1 ((rank-1)/(n-1)
        # = .0640625) and double-rounded differently across engines.
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"),
    )


SQL_CUSTOMER_VALUE_PCTRANK = """
WITH spend AS (
  SELECT o_custkey, round(CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE), 2) AS spend
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nationkey, spend,
       percent_rank() OVER (PARTITION BY c_nationkey ORDER BY spend) AS pct_rank,
       cume_dist() OVER (PARTITION BY c_nationkey ORDER BY spend) AS cume_dist
FROM customer JOIN spend ON c_custkey = o_custkey
"""


def q_doc_lm_score(spark, sf):
    """Unigram-LM quality scoring (`ops/lm_score.py`, the CCNet
    perplexity-filter core): fit a smoothed top-200 unigram model on
    the corpus (one fixed-width aggregate, deterministic tf-desc/word
    cut), broadcast it, score every document's per-token cross-entropy.
    Full per-document oracle — log-probs are rounded-once DECIMALs so
    per-doc sums are exact, and the compared score is integer
    micro-nats (round-half-up bigint division): no float accumulation
    or float division anywhere in the compared columns."""
    from chunker_spark.ops.lm_score import lm_cross_entropy, unigram_model

    d = _t(spark, sf, "documents")
    model = unigram_model(d, vocab_size=200)
    return lm_cross_entropy(d, model).select("doc_id", "n_tokens", "ce_micro_nats")


SQL_DOC_LM_SCORE = """
WITH words AS (
  SELECT d.doc_id, t.w AS word
  FROM documents d, unnest(regexp_split_to_array(lower(d.text), '[^a-z]+')) AS t(w)
  WHERE t.w <> ''
),
counts AS (SELECT word, CAST(count(*) AS BIGINT) AS tf FROM words GROUP BY word),
vocab AS (SELECT word, tf FROM counts ORDER BY tf DESC, word ASC LIMIT 200),
tot AS (SELECT CAST(sum(tf) AS DOUBLE) + CAST(count(*) AS DOUBLE) + 1.0 AS denom FROM vocab),
model AS (
  SELECT word, CAST(round(ln((tf + 1) / tot.denom), 6) AS DECIMAL(20,6)) AS logp
  FROM vocab CROSS JOIN tot
),
oovp AS (SELECT CAST(round(ln(1.0 / denom), 6) AS DECIMAL(20,6)) AS logp FROM tot),
scored AS (
  SELECT w.doc_id, COALESCE(m.logp, o.logp) AS logp
  FROM words w LEFT JOIN model m USING (word) CROSS JOIN oovp o
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       (2 * CAST(-sum(logp) * 1000000 AS BIGINT) + count(*)) // (2 * count(*))
         AS ce_micro_nats
FROM scored GROUP BY doc_id
"""


def q_events_range_frame(spark, sf):
    """Time-interval RANGE window frame — the value-range sibling of
    `events_moving_avg`'s ROWS frame: per event, count + decimal-exact
    sum of the same user's events in the trailing 60 seconds
    (inclusive). Order key = integer microseconds (ts is
    TIMESTAMP_NTZ — cast first), so the frame bound is exact integer
    arithmetic and RANGE peers (equal timestamps) are
    engine-identical. One shuffle (partitionBy user); the frame is a
    two-pointer sweep inside the sorted partition."""
    ev = _t(spark, sf, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-60_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.col("ts_us").alias("ts_us"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_60s"),
        F.round(
            F.sum(F.col("value").cast("decimal(20,4)")).over(w).cast("double"), 4
        ).alias("sum_60s"),
    )


SQL_EVENTS_RANGE_FRAME = """
WITH e AS (SELECT event_id, user_id, value, epoch_us(ts) AS ts_us FROM events)
SELECT event_id, user_id, ts_us,
       CAST(count(*) OVER w AS BIGINT) AS n_60s,
       round(CAST(sum(CAST(value AS DECIMAL(20,4))) OVER w AS DOUBLE), 4) AS sum_60s
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 60000000 PRECEDING AND CURRENT ROW)
"""


def q_value_approx_quantiles(spark, sf):
    """Quantile-sketch aggregation (`approx_percentile`, GK-sketch
    family) beside the exact interpolated percentile, oracle-checked
    as an INVARIANT like the HLL query: the sketch value is
    implementation-specific but its rank-error contract is not — with
    accuracy 10000 the approximate p50/p95 must land between the exact
    p45/p55 (resp. p90/p99.5) rank bounds, and the exact columns must
    match DuckDB bit-for-bit. At 100 TB the sketch is the only viable
    percentile: fixed per-group state, map-side combinable, no global
    sort — `percentile()` by contrast buffers every value per group."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("exact_p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("exact_p95"),
            F.expr("approx_percentile(value, 0.5, 10000)").alias("a50"),
            F.expr("approx_percentile(value, 0.95, 10000)").alias("a95"),
            F.expr("percentile(value, 0.45)").alias("lo50"),
            F.expr("percentile(value, 0.55)").alias("hi50"),
            F.expr("percentile(value, 0.90)").alias("lo95"),
            F.expr("percentile(value, 0.995)").alias("hi95"),
        )
        .select(
            "event_type",
            "exact_p50",
            "exact_p95",
            (F.col("a50").between(F.col("lo50"), F.col("hi50"))).alias("p50_within_rank_tol"),
            (F.col("a95").between(F.col("lo95"), F.col("hi95"))).alias("p95_within_rank_tol"),
        )
    )


SQL_VALUE_APPROX_QUANTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS exact_p50,
       round(quantile_cont(value, 0.95), 6) AS exact_p95,
       TRUE AS p50_within_rank_tol,
       TRUE AS p95_within_rank_tol
FROM events GROUP BY event_type
"""


def q_event_freq_cms(spark, sf):
    """Frequency-sketch aggregation (count-min sketch, `ops/sketches.py`):
    per-event-type frequency estimated from a single fixed-size CMS
    next to the exact count, oracle-checked as an INVARIANT like the
    HLL and GK queries — the sketch cells are implementation-specific,
    but its published contract is not: the estimate may never
    undercount (`overcount_ok`) and must overcount by at most eps*N
    (`within_eps`, eps=1e-3, confidence=0.99, fixed seed so the run is
    deterministic), while `exact_cnt` must match DuckDB bit-for-bit.

    Completes the sketch family (HLL = distinct, GK = quantile,
    CMS = per-key frequency — the heavy-hitter primitive behind
    per-domain crawl caps and hot-key detection). Scale shape: the
    sketch is map-side combinable fixed state, so the shuffle carries
    one ~80 KB binary per partition, never rows; the only collects are
    the one bounded binary and the top-16 key rows (deterministic
    count-then-key ordering), both O(1) in the corpus."""
    import math

    from chunker_spark.ops.sketches import cms_estimates, cms_sketch_bytes

    eps, confidence, seed = 1e-3, 0.99, 42
    ev = _t(spark, sf, "events")
    sk = cms_sketch_bytes(ev, "event_type", eps, confidence, seed)
    top = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "event_type")
        .limit(16)
    )
    keys = [r["event_type"] for r in top.select("event_type").collect()]
    est, n_total = cms_estimates(spark, sk, keys)
    bound = math.ceil(eps * n_total)
    est_map = F.create_map(*[x for k in keys for x in (F.lit(k), F.lit(est[k]))])
    return top.select(
        "event_type",
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        (est_map[F.col("event_type")] >= F.col("exact_cnt")).alias("overcount_ok"),
        (est_map[F.col("event_type")] <= F.col("exact_cnt") + F.lit(bound)).alias(
            "within_eps"
        ),
    )


SQL_EVENT_FREQ_CMS = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS exact_cnt,
       TRUE AS overcount_ok,
       TRUE AS within_eps
FROM events
GROUP BY event_type
ORDER BY exact_cnt DESC, event_type
LIMIT 16
"""


def q_events_props_variant(spark, sf):
    """Semi-structured VARIANT path (Spark 4): `parse_json` shreds the
    props JSON into the binary VARIANT encoding once, then typed
    `try_variant_get` extraction + `schema_of_variant` run over the
    shredded form — at 100 TB this replaces per-access string
    re-tokenization (`get_json_object`, the `events_props_json` query)
    with one decode per row and O(1) typed field reads, Spark's
    intended scale path for JSON columns. Oracle: exact per-type
    aggregates of the extracted field bit-equal to DuckDB's JSON
    functions; the absent-path probe must be null on every row
    (try_variant_get, not variant_get, so a missing path is data, not
    an exception), and the observed per-row variant schema must be the
    single pinned literal."""
    e = _t(spark, sf, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "int")
    absent = F.try_variant_get(v, "$.absent", "string")
    return (
        e.select(
            "event_type",
            k.alias("k"),
            absent.alias("absent"),
            F.schema_of_variant(v).alias("vs"),
        )
        .groupBy("event_type")
        .agg(
            F.count("k").alias("k_present"),
            F.sum("k").cast("long").alias("k_sum"),
            F.min("k").cast("int").alias("k_min"),
            F.max("k").cast("int").alias("k_max"),
            F.count("absent").alias("absent_present"),
            F.count_distinct("vs").alias("n_schemas"),
            F.min("vs").alias("vschema"),
        )
    )


SQL_EVENTS_PROPS_VARIANT = """
SELECT event_type,
       CAST(count(json_extract_string(props, '$.k')) AS BIGINT) AS k_present,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum,
       CAST(min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS k_min,
       CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS k_max,
       CAST(0 AS BIGINT) AS absent_present,
       CAST(1 AS BIGINT) AS n_schemas,
       'OBJECT<k: BIGINT>' AS vschema
FROM events
GROUP BY event_type
"""


def q_user_distinct_rollup(spark, sf):
    """Sketch MERGEABILITY (`hll_sketch_agg` + `hll_union_agg`): the
    100 TB reaggregation pattern — materialize one fixed-size HLL
    sketch per (event_type, day) partial, then answer the coarser
    per-type distinct by UNIONING the stored sketches, never
    re-touching raw rows. The union estimates the distinct of the
    union (NOT the sum of dailies — users active on many days count
    once), which is exactly what no non-sketch partial can do without
    a re-shuffle of the raw keys. Oracle as invariant, like the other
    sketch queries: n_days and exact_users bit-equal to DuckDB, the
    union-sketch estimate within the 5% gate."""
    ev = _t(spark, sf, "events").withColumn("day", F.to_date("ts"))
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    rolled = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return rolled.join(exact, "event_type").select(
        "event_type",
        F.col("n_days").cast("long").alias("n_days"),
        F.col("exact_users").cast("long").alias("exact_users"),
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("within_tol"),
    )


SQL_USER_DISTINCT_ROLLUP = """
SELECT event_type,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_tol
FROM events
GROUP BY event_type
"""


def q_events_session_window(spark, sf):
    """Native session windows (`F.session_window`, via
    `cdc.streaming.session_window_stats`): per-user sessions that
    extend while consecutive events arrive within a 12-hour gap,
    window = [first event, last event + gap). This is the
    streaming-native complement to the custom `events_sessions`
    operator — on a stream Spark holds one state row per OPEN session
    and finalizes it when the watermark passes session end; the batch
    run here evaluates the identical expression, so the full-value
    DuckDB oracle (lag/cumsum island SQL) pins BOTH surfaces (the
    streaming≡batch test is test_streaming_dedup.py). Boundary: an
    event at exactly +gap starts a new session (half-open interval),
    hence >= in the oracle. One hash exchange on user_id; state
    fixed-width per open session."""
    from chunker_spark.cdc.streaming import session_window_stats

    e = _t(spark, sf, "events")
    return session_window_stats(
        e, key_col="user_id", ts_col="ts", gap="12 hours"
    ).select(
        "user_id",
        "session_start",
        "session_end",
        F.col("n_events").cast("long").alias("n_events"),
    )


SQL_EVENTS_SESSION_WINDOW = """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 12 HOUR
              THEN 1 ELSE 0 END AS brk
  FROM events
),
s AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM o
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 12 HOUR AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM s
GROUP BY user_id, sid
"""


def q_doc_bpe_stats(spark, sf):
    """Distributed BPE tokenizer training (`ops/bpe.py`, Sennrich et
    al. 1508.07909): 8 merges learned from a deterministic corpus
    subset (doc_id % 31 == 0) by iterative explode/groupBy pair
    counting over the word-TYPE frame (pytest pins the learned merge
    sequence equal to an in-memory reference trainer, and encode
    round-trips); the merge table then encodes EVERY document via the
    Arrow-batched rank-greedy UDF. Oracle pattern: iterative training
    is not SQL-expressible, so — like the HLL/CMS/GK sketch queries —
    DuckDB pins the exact relational columns (per-source doc and
    whitespace-word counts on identical tokenization) plus TRUE gates
    for the encoder's published invariants, which Spark must earn with
    real values: every document's BPE token count is >= its word count
    (no token crosses words) and <= its non-space character count
    (every token is >= 1 char), with equality-at-the-bottom impossible
    once any merge applies (compression strictly positive on the
    subset the merges were mined from is NOT asserted — merges are
    frequency-mined, not guaranteed per-source)."""
    from chunker_spark.ops.bpe import encode_counts, train_bpe

    d = _t(spark, sf, "documents")
    merges = train_bpe(d.where(F.col("doc_id") % 31 == 0), num_merges=8)
    words = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    enc = encode_counts(d, merges).select(
        "source",
        F.size(words).cast("long").alias("n_words"),
        F.length(F.regexp_replace(F.lower(F.col("text")), r"\s+", "")).alias("n_chars"),
        "bpe_tokens",
    )
    return enc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.bool_and(F.col("bpe_tokens") >= F.col("n_words")).alias("bpe_ge_words"),
        F.bool_and(F.col("bpe_tokens") <= F.col("n_chars")).alias("bpe_le_chars"),
    )


SQL_DOC_BPE_STATS = r"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                x -> x <> ''))) AS BIGINT) AS n_words,
       TRUE AS bpe_ge_words,
       TRUE AS bpe_le_chars
FROM documents
GROUP BY source
"""


def q_doc_substring_dedup(spark, sf):
    """Exact duplicated-substring removal (`ops/substrings.py`, Lee et
    al. arXiv:2107.06499 reformulated relationally — the suffix-array
    original does not distribute): every >= 8-token run occurring more
    than once in the corpus is struck from every document. The corpus
    carries deterministic planted duplication — a fixed 15-token
    boilerplate sentence appended to every doc_id % 4 == 0 document —
    so the strike verifiably fires; natural corpus repeats are caught
    identically by both engines. Full value oracle: the spliced
    clean_text itself hash-compares, not just counts. Plan: map-side
    window digests (text never shuffles — fixed-width (md5, doc, pos)
    rows), one partial-combining digest count, one doc-keyed island
    window, JVM splice."""
    from chunker_spark.ops.substrings import strike_duplicated_substrings

    d = _t(spark, sf, "documents")
    boiler = (
        " this content is provided as is without warranty of any kind either express or implied"
    )
    injected = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.col("text"), F.lit(boiler)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return strike_duplicated_substrings(injected, k=8)


SQL_DOC_SUBSTRING_DEDUP = r"""
WITH inj AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0
              THEN text || ' this content is provided as is without warranty of any kind either express or implied'
              ELSE text END AS text
  FROM documents
),
tok AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM inj
),
win AS (
  SELECT doc_id, r.i AS pos,
         md5(array_to_string(ws[r.i + 1 : r.i + 8], ' ')) AS h
  FROM tok, UNNEST(range(0, greatest(len(ws) - 7, 0))) AS r(i)
),
duph AS (SELECT h FROM win GROUP BY h HAVING count(*) >= 2),
dpos AS (SELECT w.doc_id, w.pos FROM win w JOIN duph USING (h)),
isl0 AS (
  SELECT doc_id, pos,
         CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
              THEN 1 ELSE 0 END AS brk
  FROM dpos
),
isl AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl0
),
spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
  FROM isl GROUP BY doc_id, island
),
sp AS (SELECT doc_id, list({'s': s, 'e': e} ORDER BY s) AS spans FROM spans GROUP BY doc_id),
spliced AS (
  SELECT t.doc_id, t.ws, coalesce(sp.spans, []) AS spans,
         list_filter(list_transform(t.ws, (w, i) -> {'w': w, 'i': i - 1}),
                     x -> len(list_filter(coalesce(sp.spans, []),
                                          y -> x.i >= y.s AND x.i < y.e)) = 0) AS kept
  FROM tok t LEFT JOIN sp USING (doc_id)
)
SELECT doc_id,
       coalesce(array_to_string(list_transform(kept, x -> x.w), ' '), '') AS clean_text,
       CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST(len(ws) - len(kept) AS BIGINT) AS n_removed,
       CAST(len(spans) AS BIGINT) AS n_spans
FROM spliced
"""


def q_events_resample(spark, sf):
    """Regular-grid resampling (`ops/resample.py`): per-user 6-hour
    grid clamped inside each user's observed span, every grid instant
    carrying LOCF and linearly-interpolated `value`. Observations are
    first deduplicated to one per (user, instant) — latest event_id
    wins (max_by, one partial-combining aggregate) — because bracket
    selection among equal instants is otherwise tie-ambiguous. Grid
    instants are exact step multiples, so independently-resampled
    series equi-join. DuckDB pins the whole construction with its
    native ASOF JOIN run in both directions + the identical lerp
    expression tree (bit-equal IEEE doubles, no rounding). Plan: one
    bounds aggregate, map-side sequence/explode, ONE union-window hash
    exchange on user_id (the ops/asof.py shape — never a range join)."""
    from chunker_spark.ops.resample import resample

    step_us = 21_600_000_000  # 6 hours
    e = _t(spark, sf, "events")
    obs = (
        e.groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("value"))
        .select(
            "user_id",
            # events.ts is TIMESTAMP_NTZ; session tz is UTC, so the cast is identity
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "value",
        )
    )
    return resample(obs, ["user_id"], "ts_us", "value", step_us)


SQL_EVENTS_RESAMPLE = """
WITH o AS (
  SELECT user_id, epoch_us(ts) AS ts_us, arg_max(value, event_id) AS value
  FROM events GROUP BY user_id, ts
),
b AS (SELECT user_id, min(ts_us) AS mn, max(ts_us) AS mx FROM o GROUP BY user_id),
g AS (
  SELECT user_id,
         unnest(range(
           CAST(floor((mn + 21600000000 - 1) / 21600000000.0) AS BIGINT) * 21600000000,
           CAST(floor(mx / 21600000000.0) AS BIGINT) * 21600000000 + 1,
           21600000000)) AS grid_us
  FROM b
  WHERE CAST(floor((mn + 21600000000 - 1) / 21600000000.0) AS BIGINT)
        <= CAST(floor(mx / 21600000000.0) AS BIGINT)
),
lb AS (
  SELECT g.user_id, g.grid_us, o.ts_us AS b_us, o.value AS b_v
  FROM g ASOF JOIN o ON g.user_id = o.user_id AND g.grid_us >= o.ts_us
),
fb AS (
  SELECT g.user_id, g.grid_us, o.ts_us AS f_us, o.value AS f_v
  FROM g ASOF JOIN o ON g.user_id = o.user_id AND g.grid_us <= o.ts_us
)
SELECT lb.user_id, lb.grid_us,
       lb.b_v AS value_locf,
       CASE WHEN fb.f_us = lb.b_us THEN lb.b_v
            ELSE lb.b_v + (fb.f_v - lb.b_v)
                 * (CAST(lb.grid_us - lb.b_us AS DOUBLE)
                    / CAST(fb.f_us - lb.b_us AS DOUBLE))
       END AS value_lerp
FROM lb JOIN fb ON lb.user_id = fb.user_id AND lb.grid_us = fb.grid_us
"""


def q_semdedup(spark, sf):
    """SemDeDup (`ops/semdedup.py`, Abbas et al. arXiv:2303.09540):
    k-means cluster the embeddings (same deterministic 8-lowest-id
    literal-centroid init as `embedding_kmeans`), then within-cluster
    pairwise cosine only — a row is a semantic duplicate iff a
    lower-id row in its cluster reads cosine >= 0.3 (rounded to 6
    before the compare). Full per-row oracle: verdict, witness id,
    and max within-cluster cosine for every vector. Plan: map-only
    assignment (no exchange — centroids are codegen literals), one
    cluster-keyed self-join, fixed-width verdict aggregate."""
    from chunker_spark.ops.semdedup import semantic_dedup

    v = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    seed = v.orderBy("vec_id").limit(8).collect()
    centroids = [(i, list(r["embedding"])) for i, r in enumerate(seed)]
    return semantic_dedup(v, centroids, threshold=0.3)


SQL_SEMDEDUP = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, emb AS cemb
      FROM v ORDER BY vec_id LIMIT 8),
assigned AS (
  SELECT vec_id, emb, cluster FROM (
    SELECT v.vec_id, v.emb, c.cid AS cluster,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             round(list_sum(list_transform(list_zip(v.emb, c.cemb),
                                           x -> (x[1]-x[2])*(x[1]-x[2]))), 6), c.cid) AS rk
    FROM v CROSS JOIN c)
  WHERE rk = 1
),
pairs AS (
  SELECT a.vec_id, a.cluster, b.vec_id AS other_id,
         round(list_sum(list_transform(list_zip(a.emb, b.emb), x -> x[1]*x[2]))
           / (sqrt(list_sum(list_transform(a.emb, x -> x*x)))
            * sqrt(list_sum(list_transform(b.emb, x -> x*x)))), 6) AS cos
  FROM assigned a LEFT JOIN assigned b
    ON a.cluster = b.cluster AND b.vec_id < a.vec_id
)
SELECT vec_id, CAST(cluster AS INT) AS cluster,
       (min(CASE WHEN cos >= 0.3 THEN other_id END) IS NOT NULL) AS is_dup,
       min(CASE WHEN cos >= 0.3 THEN other_id END) AS dup_of,
       max(cos) + 0.0 AS max_cosine
FROM pairs GROUP BY vec_id, cluster
"""


def q_doc_windows(spark, sf):
    """Sliding-window text chunking for embedding/RAG pipelines:
    every document becomes ceil(len/stride) overlapping windows of up
    to 256 chars at stride 192 (1/4 overlap), each with its own
    sha256 — the fixed-window sibling of the content-defined
    `doc_manifest`. Map-only plan: sequence+explode then substring,
    zero exchanges; at 100 TB this is a pure scan→scan stage that
    AQE-parallelizes on input splits."""
    d = _t(spark, sf, "documents")
    win, stride = 256, 192
    # empty docs yield zero windows (matching the oracle's empty
    # range()) — and F.sequence(0, -1, ...) would error, so the guard
    # is correctness, not just hygiene
    exploded = d.where(F.length("text") > 0).select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(0), F.length("text") - F.lit(1), F.lit(stride))
        ).alias("start"),
    )
    piece = F.col("text").substr(F.col("start") + F.lit(1), F.lit(win))
    return exploded.select(
        "doc_id",
        F.expr(f"start div {stride}").cast("long").alias("win_id"),
        F.col("start").cast("long").alias("start"),
        F.length(piece).cast("long").alias("win_len"),
        F.sha2(piece.cast("binary"), 256).alias("win_sha256"),
    )


SQL_DOC_WINDOWS = """
WITH starts AS (
  SELECT doc_id, text, unnest(range(0, length(text), 192)) AS s FROM documents
)
SELECT doc_id,
       CAST(s // 192 AS BIGINT) AS win_id,
       CAST(s AS BIGINT) AS start,
       CAST(length(substr(text, s + 1, 256)) AS BIGINT) AS win_len,
       sha256(substr(text, s + 1, 256)) AS win_sha256
FROM starts
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": q_pricing_summary,
        "revenue_by_nation": q_revenue_by_nation,
        "last_order_per_customer": q_last_order_per_customer,
        "topk_orders": q_topk_orders,
        "customers_without_orders": q_customers_without_orders,
        "events_lww": q_events_lww,
        "events_gap_audit": q_events_gap_audit,
        "events_minutely": q_events_minutely,
        "events_windowed": q_events_windowed,
        "events_sessions": q_events_sessions,
        "events_props_json": q_events_props_json,
        "orders_returned_exists": q_orders_returned_exists,
        "order_rollup": q_order_rollup,
        "quantity_percentiles": q_quantity_percentiles,
        "doc_sha256": q_doc_sha256,
        "doc_tokens": q_doc_tokens,
        "doc_quality": q_doc_quality,
        "doc_fingerprint": q_doc_fingerprint,
        "doc_split": q_doc_split,
        "dedup_exact": q_dedup_exact,
        "dedup_clusters": q_dedup_clusters,
        "dedup_keep_best": q_dedup_keep_best,
        "embedding_quantize": q_embedding_quantize,
        "embedding_dedup": q_embedding_dedup,
        "embedding_dedup_lsh": q_embedding_dedup_lsh,
        "ann_topk": q_ann_topk,
        "doc_manifest": q_doc_manifest,
        "manifest_tiling": q_manifest_tiling,
        "chunk_store": q_chunk_store,
        "minhash_pairs": q_minhash_pairs,
        "ngram_pairs": q_ngram_pairs,
        "simhash": q_simhash,
        "lang_id": q_lang_id,
        "lsh_ann": q_lsh_ann,
        "ivf_ann": q_ivf_ann,
        "media_features": q_media_features,
        "cdc_replay": q_cdc_replay,
        "cdc_changes": q_cdc_changes,
        "cdc_compact": q_cdc_compact,
        "cdc_timetravel": q_cdc_timetravel,
        "cdc_lineage": q_cdc_lineage,
        "debezium_parse": q_debezium_parse,
        "maxwell_parse": q_maxwell_parse,
        "wal2json_parse": q_wal2json_parse,
        "canal_parse": q_canal_parse,
        "dms_parse": q_dms_parse,
        "mongo_parse": q_mongo_parse,
        "goldengate_parse": q_goldengate_parse,
        "outbox_route": q_outbox_route,
        "dblog_snapshot": q_dblog_snapshot,
        "toast_fill": q_toast_fill,
        "pk_rename": q_pk_rename,
        "txn_gate_release": q_txn_gate_release,
        "orders_reconcile": q_orders_reconcile,
        "orders_repair": q_orders_repair,
        "events_asof_click": q_events_asof_click,
        "events_asof_next": q_events_asof_next,
        "events_value_tiers": q_events_value_tiers,
        "events_type_pivot": q_events_type_pivot,
        "events_moving_avg": q_events_moving_avg,
        "order_cube": q_order_cube,
        "lineitem_unpivot": q_lineitem_unpivot,
        "user_approx_distinct": q_user_approx_distinct,
        "doc_contamination": q_doc_contamination,
        "doc_bloom": q_doc_bloom,
        "doc_repetition": q_doc_repetition,
        "doc_boilerplate": q_doc_boilerplate,
        "lineitem_zorder": q_lineitem_zorder,
        "doc_mixture": q_doc_mixture,
        "doc_weighted_sample": q_doc_weighted_sample,
        "doc_pii": q_doc_pii,
        "doc_quality_deciles": q_doc_quality_deciles,
        "order_grouping_sets": q_order_grouping_sets,
        "doc_pack": q_doc_pack,
        "doc_stratified": q_doc_stratified,
        "lang_top_terms": q_lang_top_terms,
        "embedding_kmeans": q_embedding_kmeans,
        "events_scd2": q_events_scd2,
        "customer_value_pctrank": q_customer_value_pctrank,
        "semdedup": q_semdedup,
        "value_approx_quantiles": q_value_approx_quantiles,
        "event_freq_cms": q_event_freq_cms,
        "events_props_variant": q_events_props_variant,
        "user_distinct_rollup": q_user_distinct_rollup,
        "events_session_window": q_events_session_window,
        "events_resample": q_events_resample,
        "doc_substring_dedup": q_doc_substring_dedup,
        "doc_bpe_stats": q_doc_bpe_stats,
        "events_range_frame": q_events_range_frame,
        "doc_lm_score": q_doc_lm_score,
        "doc_containment": q_doc_containment,
        "doc_windows": q_doc_windows,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "pricing_summary": SQL_PRICING,
        "revenue_by_nation": SQL_REVENUE_BY_NATION,
        "last_order_per_customer": SQL_LAST_ORDER,
        "topk_orders": SQL_TOPK_ORDERS,
        "customers_without_orders": SQL_CUSTOMERS_WITHOUT_ORDERS,
        "events_lww": SQL_EVENTS_LWW,
        "events_gap_audit": SQL_EVENTS_GAP_AUDIT,
        "events_minutely": SQL_EVENTS_MINUTELY,
        "events_windowed": SQL_EVENTS_WINDOWED,
        "events_sessions": SQL_EVENTS_SESSIONS,
        "events_props_json": SQL_EVENTS_PROPS_JSON,
        "orders_returned_exists": SQL_ORDERS_RETURNED_EXISTS,
        "order_rollup": SQL_ORDER_ROLLUP,
        "quantity_percentiles": SQL_QUANTITY_PERCENTILES,
        "doc_sha256": SQL_DOC_SHA256,
        "doc_tokens": SQL_DOC_TOKENS,
        "doc_quality": SQL_DOC_QUALITY,
        "doc_fingerprint": SQL_DOC_FINGERPRINT,
        "doc_split": SQL_DOC_SPLIT,
        "dedup_exact": SQL_DEDUP_EXACT,
        "dedup_clusters": SQL_DEDUP_CLUSTERS,
        "dedup_keep_best": SQL_DEDUP_KEEP_BEST,
        "embedding_quantize": SQL_EMBEDDING_QUANTIZE,
        "embedding_dedup": SQL_EMBEDDING_DEDUP,
        "embedding_dedup_lsh": SQL_EMBEDDING_DEDUP_LSH,
        "ann_topk": SQL_ANN_TOPK,
        "manifest_tiling": SQL_MANIFEST_TILING,
        "chunk_store": SQL_CHUNK_STORE,
        "minhash_pairs": SQL_MINHASH_PAIRS,
        "ngram_pairs": SQL_NGRAM_PAIRS,
        "simhash": SQL_SIMHASH,
        "lsh_ann": SQL_LSH_ANN,
        "ivf_ann": SQL_IVF_ANN,
        "cdc_replay": _sql_cdc_replay_with_fixture(),
        "cdc_changes": _sql_cdc_changes(),
        "cdc_compact": _sql_cdc_compact(),
        "cdc_timetravel": _sql_cdc_timetravel(),
        "cdc_lineage": _sql_cdc_lineage(),
        "debezium_parse": _sql_debezium_parse(),
        "maxwell_parse": _sql_maxwell_parse(),
        "wal2json_parse": _sql_wal2json_parse(),
        "canal_parse": _sql_canal_parse(),
        "dms_parse": _sql_dms_parse(),
        "mongo_parse": _sql_mongo_parse(),
        "goldengate_parse": _sql_goldengate_parse(),
        "outbox_route": _sql_outbox_route(),
        "dblog_snapshot": _sql_dblog_snapshot(),
        "toast_fill": _sql_toast_fill(),
        "pk_rename": _sql_pk_rename(),
        "txn_gate_release": _sql_txn_gate_release(),
        "orders_reconcile": SQL_ORDERS_RECONCILE,
        "orders_repair": SQL_ORDERS_REPAIR,
        "events_asof_click": SQL_EVENTS_ASOF_CLICK,
        "events_asof_next": SQL_EVENTS_ASOF_NEXT,
        "events_value_tiers": SQL_EVENTS_VALUE_TIERS,
        "events_type_pivot": SQL_EVENTS_TYPE_PIVOT,
        "events_moving_avg": SQL_EVENTS_MOVING_AVG,
        "order_cube": SQL_ORDER_CUBE,
        "lineitem_unpivot": SQL_LINEITEM_UNPIVOT,
        "user_approx_distinct": SQL_USER_APPROX_DISTINCT,
        "lang_id": _sql_lang_id(),
        "media_features": _sql_media_features(),
        "doc_manifest": _sql_doc_manifest(),
        "doc_contamination": SQL_DOC_CONTAMINATION,
        "doc_bloom": SQL_DOC_BLOOM,
        "doc_repetition": SQL_DOC_REPETITION,
        "doc_boilerplate": SQL_DOC_BOILERPLATE,
        "lineitem_zorder": _sql_lineitem_zorder(),
        "doc_mixture": SQL_DOC_MIXTURE,
        "doc_weighted_sample": SQL_DOC_WEIGHTED_SAMPLE,
        "doc_pii": SQL_DOC_PII,
        "doc_quality_deciles": SQL_DOC_QUALITY_DECILES,
        "order_grouping_sets": SQL_ORDER_GROUPING_SETS,
        "doc_pack": SQL_DOC_PACK,
        "doc_stratified": SQL_DOC_STRATIFIED,
        "lang_top_terms": SQL_LANG_TOP_TERMS,
        "embedding_kmeans": SQL_EMBEDDING_KMEANS,
        "events_scd2": SQL_EVENTS_SCD2,
        "customer_value_pctrank": SQL_CUSTOMER_VALUE_PCTRANK,
        "semdedup": SQL_SEMDEDUP,
        "value_approx_quantiles": SQL_VALUE_APPROX_QUANTILES,
        "event_freq_cms": SQL_EVENT_FREQ_CMS,
        "events_props_variant": SQL_EVENTS_PROPS_VARIANT,
        "user_distinct_rollup": SQL_USER_DISTINCT_ROLLUP,
        "events_session_window": SQL_EVENTS_SESSION_WINDOW,
        "events_resample": SQL_EVENTS_RESAMPLE,
        "doc_substring_dedup": SQL_DOC_SUBSTRING_DEDUP,
        "doc_bpe_stats": SQL_DOC_BPE_STATS,
        "events_range_frame": SQL_EVENTS_RANGE_FRAME,
        "doc_lm_score": SQL_DOC_LM_SCORE,
        "doc_containment": SQL_DOC_CONTAINMENT,
        "doc_windows": SQL_DOC_WINDOWS,
    }
