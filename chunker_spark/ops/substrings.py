"""Exact duplicated-substring removal (Lee et al., "Deduplicating
Training Data Makes Language Models Better", arXiv:2107.06499).

Document- and line-level dedup miss the middle ground: long token runs
(license blocks, quoted passages, templated paragraphs) repeated inside
otherwise-distinct documents. The published remedy finds every
substring of >= k tokens that occurs more than once in the corpus and
strikes it. The reference implementation builds a corpus-wide suffix
array — a single-machine construction that does not distribute; this
module is the relational reformulation with the same effect:

1. tokenize (whitespace; the algorithm is defined on token sequences);
2. every k-token window becomes one fixed-width row
   ``(window_digest, doc, pos)`` — map-side ``transform`` +
   ``posexplode``, the corpus text itself never shuffles;
3. a window is *duplicated* iff its digest occurs more than once in
   the corpus (one partial-combining count over digests — catches both
   cross-document and intra-document repeats, matching the paper);
4. per document, overlapping/adjacent duplicated windows merge into
   maximal spans (the sessionize island pattern: lag + cumsum over ONE
   window shuffle keyed by doc);
5. the spans are struck out by a pure-JVM splice: ``filter`` over the
   token array against the row's span list, then ``array_join``.

Strike policy: ALL occurrences of a duplicated run are removed (the
paper's simplest policy; keeping one canonical copy is a per-digest
``min(doc,pos)`` survivor election away, deliberately not done here —
it doubles the join work for a policy the paper found immaterial).

Digest choice: ``md5`` of the space-joined window — 128-bit, collision
negligible, and computable bit-identically by the DuckDB value oracle
(production would swap in ``xxhash64`` for an 8-byte shuffle row at
zero algorithmic change). Tokenization is ``\\s+`` on trimmed text;
output text is single-space re-joined (the token-sequence semantics of
the paper — byte-exact whitespace reconstruction is out of scope).

Scale shape at 100 TB: the dominant shuffle carries one 16-byte-digest
row per token of corpus — the same order as the corpus token count,
partial-aggregated map-side; no stage is quadratic and no stage holds
more than one document's tokens in memory at once. The suffix-array
original needs corpus-resident memory; this needs a shuffle.

Composition caveat: ``clean_text`` is a nested higher-order-function
expression (transform/filter/exists), and each token-array builder
(``word_ngrams`` — behind ``window_digests``, decontamination,
``dup_ngram_fraction`` and the pair-dedup gram sets — and
``simhash_expr``) adds one level for the lambda variable its array is
bound to (``_bind``). Stacking SEVERAL such rewrite stages lazily into
one projection (e.g. boilerplate splice -> this -> n-gram shingling)
can push Spark's interpreted evaluator past its nested-lambda depth
(observed as ``INTERNAL_ERROR Cannot evaluate expression`` on Spark
4.1). Persist a stage boundary between major rewrite stages — a lake
write in production, ``localCheckpoint()`` in process — exactly as
examples/curation_pipeline.py does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions.text import word_ngrams


def window_digests(text_col, k: int):
    """array<string> of md5 digests, one per k-token window of the
    document (0-based window i digests tokens [i, i+k)); empty when the
    document has fewer than k tokens."""
    words = F.split(F.trim(F.col(text_col) if isinstance(text_col, str) else text_col), r"\s+")
    return F.transform(word_ngrams(words, k), lambda w: F.md5(w))


def duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated token spans per document: one row per span,
    ``(id, span_start, span_end)`` — token indices, 0-based, end
    exclusive. A span means: every k-window starting in
    [span_start, span_end - k] has corpus occurrence count >=
    ``min_count``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    digests = window_digests(text_col, k)
    win = docs.select(
        F.col(id_col).alias("_sd_id"), F.posexplode(digests).alias("pos", "h")
    )
    dup_h = (
        win.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= min_count)
        .select("h")
    )
    dup_pos = win.join(dup_h, "h", "left_semi").select("_sd_id", "pos")
    # island merge: windows at p and p' (p < p') merge when p' <= p + k
    # (overlap or adjacency — the duplicated token runs are contiguous)
    w = Window.partitionBy("_sd_id").orderBy("pos")
    brk = F.when(
        F.col("pos") > F.lag("pos").over(w) + k, F.lit(1)
    ).otherwise(F.lit(0))
    islands = dup_pos.withColumn(
        "_island", F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        islands.groupBy("_sd_id", "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end"),
        )
        .select(F.col("_sd_id").alias(id_col), "span_start", "span_end")
    )


def strike_duplicated_substrings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Remove every duplicated >= k-token run from every document.

    Returns (id, clean_text, n_tokens, n_removed, n_spans): the
    space-rejoined surviving tokens plus audit counts. Documents with
    no duplicated run pass through with n_removed = 0 (their
    clean_text is still the normalized single-space re-join, so the
    output column is uniformly token-sequence semantics).
    """
    spans = duplicated_spans(docs, id_col, text_col, k, min_count)
    per_doc = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans")
    )
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    joined = docs.select(id_col, text_col).join(per_doc, id_col, "left")
    spans_col = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<span_start:int,span_end:int>>"),
    )
    idx = F.transform(words, lambda w, i: F.struct(w.alias("w"), i.alias("i")))
    kept = F.filter(
        idx,
        lambda s: ~F.exists(
            spans_col,
            lambda sp: (s["i"] >= sp["span_start"]) & (s["i"] < sp["span_end"]),
        ),
    )
    n_tokens = F.size(words)
    n_kept = F.size(kept)
    return joined.select(
        id_col,
        F.array_join(F.transform(kept, lambda s: s["w"]), " ").alias("clean_text"),
        n_tokens.cast("long").alias("n_tokens"),
        (n_tokens - n_kept).cast("long").alias("n_removed"),
        F.size(spans_col).cast("long").alias("n_spans"),
    )
