"""End-to-end training-data curation walkthrough over the documents
corpus: quality filter → PII scrub → boilerplate-line removal →
decontaminate → dedup (exact + near) → containment prune (partial
copies) → language-stratified sample → source mixture weighting →
weighted curriculum seed → sequence packing → sliding-window
embedding prep → sharded JSONL export with a self-verifying
manifest.

One runnable script composing the `ops/` + `functions/text` surface
the way a pretraining-data pipeline does, in the order a real pipeline
runs the stages (cheap map-only filters first, pairwise ops on the
shrunken survivor set, packing last). Every stage is deterministic —
reruns print byte-identical output — and every number printed is a
fixed-width aggregate: the document text itself never leaves the
executors.

Usage: python examples/curation_pipeline.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import chunker_spark too; they inherit PYTHONPATH.
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from pyspark.sql import SparkSession, functions as F

from chunker_spark.functions.text import (
    dup_line_fraction,
    quality_features,
    redact_pii,
    token_count,
)
from chunker_spark.ops.boilerplate import remove_boilerplate_lines
from chunker_spark.ops.curation import (
    mixture_sample,
    stratified_sample,
    weighted_sample,
)
from chunker_spark.ops.dedup import containment_pairs, exact_dedup, minhash_lsh_pairs
from chunker_spark.ops.decontaminate import ngram_contamination
from chunker_spark.ops.graph import dedup_clusters
from chunker_spark.ops.packing import pack_documents, packing_summary


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("curation-pipeline-demo")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out: dict = {"corpus_docs": docs.count()}

    # 1. map-only quality gate: cheap signals, no shuffle
    feats = quality_features("text")
    scored = docs.select(
        "doc_id", "text", "lang",
        feats["mean_word_len"].alias("mwl"),
        feats["punct_ratio"].alias("punct"),
        dup_line_fraction("text").alias("dup_lines"),
    )
    kept = scored.where(
        (F.col("mwl") >= 2.0) & (F.col("punct") <= 0.3) & (F.col("dup_lines") <= 0.5)
    )
    out["after_quality_filter"] = kept.count()

    # 2. PII scrub (map-only redaction chain)
    clean = kept.select("doc_id", "lang", redact_pii("text").alias("text"))

    # 2b. boilerplate-line removal (CCNet-style): strip lines shared by
    # >= 2 documents; a doc whose every line was boilerplate drops out.
    # Only (hash, id, pos) ints shuffle — the text never does.
    clean = (
        remove_boilerplate_lines(clean, min_docs=2)
        .where(F.col("clean_text") != "")
        .select("doc_id", "lang", F.col("clean_text").alias("text"))
    )
    out["after_boilerplate"] = clean.count()

    # 2c. exact duplicated-substring removal (Lee et al. 2107.06499):
    # strike every >= 8-token run occurring more than once across the
    # corpus — catches repeated passages INSIDE otherwise-distinct
    # documents that line- and doc-level dedup both miss. Fixed-width
    # (digest, doc, pos) rows shuffle; the text never does.
    from chunker_spark.ops.substrings import strike_duplicated_substrings

    # stage boundary: three splice stages stacked lazily (boilerplate →
    # substrings → n-gram decontamination) push Spark's interpreted
    # evaluator past its nested-lambda depth (INTERNAL_ERROR observed);
    # a production pipeline persists between major rewrite stages
    # anyway — localCheckpoint is the in-process equivalent.
    struck = strike_duplicated_substrings(clean, k=8).localCheckpoint(eager=True)
    clean = (
        struck.where(F.col("clean_text") != "")
        .join(clean.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", F.col("clean_text").alias("text"))
    )
    out["substring_tokens_removed"] = (
        struck.agg(F.sum("n_removed")).collect()[0][0] or 0
    )
    out["after_substring_strike"] = clean.count()

    # 3. decontamination vs a (here: planted) eval set — broadcast grams
    evalset = docs.where(F.col("doc_id") < 5).select("text")
    contam = ngram_contamination(clean, evalset, n=8)
    clean = (
        clean.join(
            contam.where(F.col("contamination") > 0.5).select("doc_id"),
            "doc_id",
            "left_anti",
        )
    )
    out["after_decontamination"] = clean.count()

    # 4. exact dedup (fingerprint groupBy) + near-dup clusters (LSH)
    uniq = clean.join(
        exact_dedup(clean).select("doc_id"), "doc_id", "left_semi"
    )
    pairs = minhash_lsh_pairs(uniq, num_hashes=64, bands=16, threshold=0.8)
    clusters = dedup_clusters(pairs)  # (doc_id, rep_id): keep reps only
    canonical = (
        uniq.join(clusters, "doc_id", "left")
        .where(F.col("rep_id").isNull() | (F.col("rep_id") == F.col("doc_id")))
        .select("doc_id", "lang", "text")
    )
    out["after_near_dedup"] = canonical.count()

    # 4b. containment prune: drop partial copies — a doc >=90% of
    # whose n-grams appear inside another surviving doc (the case a
    # Jaccard threshold structurally misses when sizes differ). Drop
    # the CONTAINED side — the one with fewer grams (ties: higher id)
    # — keeping the superset document.
    cpairs = containment_pairs(canonical, n=3, threshold=0.9)
    contained = (
        cpairs.select(
            F.when(F.col("n_a") < F.col("n_b"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("doc_id")
        )
        .distinct()
    )
    canonical = canonical.join(contained, "doc_id", "left_anti")
    out["after_containment_prune"] = canonical.count()

    # 5. exact 1/5 stratified sample per language (held-out eval shard)
    eval_shard = stratified_sample(canonical, ["lang"], 1, 5)
    train = canonical.join(eval_shard.select("doc_id"), "doc_id", "left_anti")
    out["eval_shard_docs"] = eval_shard.count()
    out["train_docs"] = train.count()

    # 5b. source mixture weighting on the training side: keep all of
    # src0, half of src1, a tenth of everything else (exact rational
    # fractions — the corpus-mixing step of a pretraining recipe). The
    # source column lives on the raw table; join it back by id (the
    # text column stays put).
    src = docs.select("doc_id", "source")
    mixed = mixture_sample(
        train.join(src, "doc_id"),
        "source",
        {"src0": (1, 1), "src1": (1, 2)},
        default=(1, 10),
    ).drop("source")
    out["train_docs_after_mixture"] = mixed.count()

    # 5c. deterministic weighted curriculum seed: the 32 documents with
    # the highest length-weighted A-ES draw (reproducible across runs)
    seed = weighted_sample(
        mixed.withColumn("n_tokens", token_count("text")), k=32, weight_col="n_tokens"
    )
    out["curriculum_seed_docs"] = seed.count()

    # 6. pack the training survivors into 512-token bins
    packed = pack_documents(mixed, token_count("text"), budget=512, n_shards=4)
    summary = packing_summary(packed, budget=512).collect()
    out["packed_bins"] = int(sum(r["bins_used"] for r in summary))
    out["packed_tokens"] = int(sum(r["total_tokens"] for r in summary))
    out["fill_ratio_mean"] = round(
        sum(r["fill_ratio"] for r in summary) / len(summary), 4
    )

    # 7. RAG/embedding prep handoff: overlapping 256-char windows at
    # stride 192 over the mixed training corpus (map-only explode —
    # zero shuffles; see the doc_windows query for the per-window
    # schema an embedding job would consume)
    win_starts = F.sequence(F.lit(0), F.length("text") - F.lit(1), F.lit(192))
    out["embedding_windows"] = (
        mixed.where(F.length("text") > 0).select(F.explode(win_starts)).count()
    )

    # 7b. tokenizer training on the curated corpus (ops/bpe.py): the
    # merges a real pipeline ships alongside the shards; encoding the
    # corpus with them gives the true token budget packing would use
    # on the next iteration of the pipeline
    from chunker_spark.ops.bpe import encode_counts, train_bpe

    merges = train_bpe(mixed, num_merges=8)
    out["bpe_merges_learned"] = len(merges)
    out["bpe_corpus_tokens"] = int(
        encode_counts(mixed, merges).agg(F.sum("bpe_tokens")).collect()[0][0] or 0
    )

    # 8. hand-off: deterministic sharded JSONL export + verification —
    # what the training job actually mounts
    import tempfile

    from chunker_spark.ops.export import export_jsonl_shards, verify_export

    with tempfile.TemporaryDirectory() as tmp:
        export_jsonl_shards(mixed.select("doc_id", "text"), tmp, n_shards=4)
        verdicts = verify_export(spark, tmp).collect()
        out["export_shards"] = len(verdicts)
        out["export_verified"] = all(r["ok"] for r in verdicts)

    print(json.dumps(out, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
