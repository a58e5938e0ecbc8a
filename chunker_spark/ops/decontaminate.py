"""Benchmark decontamination — n-gram overlap against an eval set.

The training-data op every LLM pipeline runs before a corpus ships:
flag documents whose word n-grams overlap a benchmark/eval set, so test
questions never leak into training data (the standard 8-13-gram overlap
decontamination of GPT-3/PaLM/Llama reports, run here as a relational
plan instead of a hash-set loop).

Spark-first shape, built for an asymmetric join: eval sets are MBs
while the corpus is TBs. The benchmark side reduces to DISTINCT gram
strings and is BROADCAST — the corpus side's exploded grams join
map-side (no shuffle of doc grams at all); the only shuffle carries
fixed-width (doc_id, count) partial aggregates. Tokenization and gram
assembly are pure JVM higher-order functions (split → filter → slice →
array_join) — no Python, no O(words²) re-evaluation (``word_ngrams``
binds its word array to a lambda variable, so the split runs once per
row, not once per gram position). Both come from ``functions.text``,
shared with ``dup_ngram_fraction``, simhash and the pair-dedup gram
sets (``window_digests`` reuses ``word_ngrams`` over its own ``\\s+``
tokens).

Contamination is measured over DISTINCT doc grams so in-document
repetition can't inflate the score: ``contamination = |distinct grams
∩ benchmark grams| / |distinct grams|``, 0.0 for docs shorter than n
words.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text import _words, word_ngrams


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-document benchmark-overlap report.

    Returns ``(id_col, n_grams, n_contaminated, contamination)``:
    distinct word-n-gram count, how many of them appear anywhere in the
    benchmark set, and the fraction (0.0 when the doc has no grams).
    Filter ``contamination >= threshold`` downstream to quarantine.
    """
    dg = docs.select(
        F.col(id_col), F.array_distinct(word_ngrams(_words(text_col), n)).alias("_grams")
    )
    totals = dg.select(id_col, F.size("_grams").alias("n_grams"))

    bench_grams = benchmark.select(
        F.explode(word_ngrams(_words(bench_text_col), n)).alias("gram")
    ).distinct()

    per_gram = dg.select(id_col, F.explode("_grams").alias("gram"))
    matched = (
        per_gram.join(F.broadcast(bench_grams), "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        totals.join(matched, id_col, "left")
        .select(
            id_col,
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("long").alias("n_contaminated"),
            F.round(
                F.coalesce(F.col("n_contaminated"), F.lit(0))
                / F.greatest(F.col("n_grams"), F.lit(1)),
                6,
            ).cast("double").alias("contamination"),
        )
    )


def normalized_fingerprint(text_col: str = "text") -> Column:
    """Whitespace-collapsed, lowercased, trimmed content -> one int64
    fingerprint (xxhash64). The normalization must be restatable in
    ANSI SQL so the oracle can recompute the exact-membership side."""
    return F.xxhash64(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    )


def bloom_decontaminate(
    docs: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_text_col: str = "text",
    fpp: float = 1e-3,
    expected_items: int | None = None,
) -> DataFrame:
    """Per-document Bloom membership verdict against a reference set
    (eval benchmark / opt-out list / previously-shipped corpus):
    ``(id_col, bloom_hit)``.

    The bloom variant of decontamination matters when the reference is
    too big to broadcast as strings or even as raw fingerprints: the
    bit-packed bitmap is ~1.44·k/64 longs per member (~9x smaller than
    64-bit fingerprints at fpp 1e-3), probes are broadcast-join +
    map-side AND-reduce (one fixed-width (id, bool) row per document is
    the only shuffle), and the no-false-negative guarantee means a miss
    is definitive — only hits need the exact confirmation pass.

    ``expected_items`` sizes the filter; defaults to one count() over
    the reference (references are MB-to-GB scale; pass it explicitly in
    a pipeline that already knows it).
    """
    from .bloom import bloom_build, bloom_params, bloom_probe

    n = expected_items if expected_items is not None else reference.count()
    m_bits, k = bloom_params(max(n, 1), fpp)
    ref_fps = reference.select(
        normalized_fingerprint(ref_text_col).alias("fp")
    )
    bloom = bloom_build(ref_fps, "fp", m_bits, k)
    probe = docs.select(
        F.col(id_col), normalized_fingerprint(text_col).alias("fp")
    )
    return bloom_probe(probe, bloom, "fp", id_col, m_bits, k)
