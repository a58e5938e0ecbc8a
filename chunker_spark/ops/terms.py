"""Corpus term statistics: TF-IDF salient-term extraction.

The curation use-case: per language (or per source/domain), which
terms dominate the corpus weighted by informativeness — the signal
used for topic balancing, boilerplate discovery ("click", "cookie",
"subscribe" topping a web crawl), and quick corpus drift checks
between snapshots.

Scale design (100 TB):
- One explode pass over the text; everything downstream is
  fixed-width (term, counts) rows — the document text is dropped at
  the tokenizer and never shuffles.
- ONE aggregate computes both statistics: per-(group,term) occurrence
  totals and per-cell distinct-document counts; the corpus-wide
  document frequency is then an integer window sum over the aggregate
  rows (each document has exactly one group value, so per-group
  distinct counts partition the per-term distinct set). The former
  second explode pass, per-term aggregate and tf⋈df join are gone.
- The corpus-size scalar N rides in as a broadcast single-row frame.
- Float discipline for cross-engine parity: per-(group,term) score is
  total_tf * ln((N+1)/(df+1)) — the term frequencies are summed as
  INTEGERS first and the logarithm multiplies once, so no
  order-dependent float accumulation exists anywhere. Ranking uses the
  score rounded to 6 decimals with the term as tie-break, the same
  discipline the ANN oracles use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

#: lowercase-letter runs of length >= 2; everything else is a separator
_TERM_SPLIT_RE = "[^a-z]+"


def tfidf_top_terms(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_term_len: int = 2,
) -> DataFrame:
    """Top-``k`` terms per ``group_col`` by summed TF-IDF.

    Returns (group_col, rank, term, total_tf, doc_freq, score) with
    score = total_tf * ln((N_docs+1)/(doc_freq+1)), rounded to 4.

    Precondition: each document (``id_col`` value) belongs to exactly
    one group. ``doc_freq`` is the sum of per-group distinct-document
    counts, so a document that appears under two groups is counted
    twice and its terms' scores come out too low.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    terms = df.select(
        F.col(id_col),
        F.col(group_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), _TERM_SPLIT_RE),
                lambda t: F.length(t) >= min_term_len,
            )
        ).alias("term"),
    )
    # ONE aggregate over the exploded terms computes both statistics
    # (guide §1.2 — one pass, not two): occurrence totals per
    # (group, term) plus that cell's distinct-document count. Because a
    # document carries exactly one ``group_col`` value (it is a column
    # of the per-document row), the corpus-wide document frequency of a
    # term is the exact integer sum of its per-group distinct counts —
    # a window sum over the tiny aggregate rows, replacing the former
    # second explode pass + per-term aggregate + join.
    per_cell = terms.groupBy(group_col, "term").agg(
        F.count(F.lit(1)).alias("total_tf"),
        F.countDistinct(id_col).alias("_docs"),
    )
    dfreq_w = Window.partitionBy("term")
    n_docs = df.select(F.countDistinct(id_col).alias("_n"))
    scored = (
        per_cell.withColumn("doc_freq", F.sum("_docs").over(dfreq_w))
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("total_tf")
                * F.log((F.col("_n") + 1).cast("double") / (F.col("doc_freq") + 1)),
                6,
            ),
        )
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            group_col,
            F.col("rank").cast("long").alias("rank"),
            "term",
            "total_tf",
            F.col("doc_freq").cast("long").alias("doc_freq"),
            F.round("score", 4).alias("score"),
        )
    )
