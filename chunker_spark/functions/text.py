"""Text-analysis column functions for training-data pipelines.

All JVM-side built-ins (whole-stage codegen, no Python) unless noted:
language-ID needs per-row scoring against n-gram profiles and runs as a
Pandas UDF over Arrow batches.

Designed over the `documents` table (doc_id, text, lang, source,
n_chars) but applicable to any string column.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, functions as F


def _bind(value: Column, body) -> Column:
    """``body(v)`` with ``v`` bound to ``value``, evaluated once per row.
    Higher-order functions are ``CodegenFallback``, so common
    subexpression elimination skips their lambda bodies: an outer
    expression written inside one is evaluated again on every call."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _words(text_col) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(F.lower(c), r"\W+"), lambda x: x != "")


def word_ngrams(words_col, n: int) -> Column:
    """Order-sensitive word n-grams (space-joined strings) from an
    array<string> column or expression, evaluated once per row. Empty
    array when the document has fewer than ``n`` words (guards
    sequence()'s descending-range behavior on start > stop)."""
    w = F.col(words_col) if isinstance(words_col, str) else words_col
    return _bind(w, lambda ws: F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (n - 1)),
            lambda i: F.array_join(F.slice(ws, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>")))


# ---- token counting -------------------------------------------------

#: BPE-ish pre-tokenizer: word pieces, numbers, or single non-space
#: symbols — the classic GPT-2-style split, as a Spark regex.
_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(col: str | Column) -> Column:
    """Number of BPE-ish tokens (regexp-based, JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(_TOKEN_RE), 0))


def whitespace_token_count(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(F.trim(c), r"\s+"))


# ---- quality scoring -------------------------------------------------

_STOPWORDS = [
    "the", "of", "and", "a", "to", "in", "is", "you", "that", "it",
    "he", "was", "for", "on", "are", "as", "with", "his", "they", "i",
]


def quality_features(col: str | Column) -> dict[str, Column]:
    """Cheap quality signals: length, punctuation ratio, stopword
    ratio, mean word length, uppercase ratio. All built-ins."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c).cast("double")
    words = F.split(F.lower(F.trim(c)), r"\s+")
    n_words = F.size(words).cast("double")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.array_intersect(words, stop_arr)).cast("double")
    punct = F.length(F.regexp_replace(c, r"[^\p{Punct}]", "")).cast("double")
    upper = F.length(F.regexp_replace(c, r"[^A-Z]", "")).cast("double")
    return {
        "n_chars": n,
        "n_words": n_words,
        "punct_ratio": F.round(punct / F.greatest(n, F.lit(1.0)), 6),
        "stopword_hit_ratio": F.round(
            n_stop / F.greatest(F.lit(float(len(_STOPWORDS))), F.lit(1.0)), 6
        ),
        "mean_word_len": F.round(n / F.greatest(n_words, F.lit(1.0)), 6),
        "upper_ratio": F.round(upper / F.greatest(n, F.lit(1.0)), 6),
    }


def quality_score(col: str | Column) -> Column:
    """Scalar [0,1] quality heuristic combining the features."""
    f = quality_features(col)
    raw = (
        F.least(f["n_words"] / F.lit(100.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(f["punct_ratio"] * 4, F.lit(1.0))) * 0.3
        + F.least(f["stopword_hit_ratio"] * 2, F.lit(1.0)) * 0.3
    )
    return F.round(raw, 6)


# ---- document fingerprinting ----------------------------------------


def doc_fingerprint(col: str | Column) -> Column:
    """64-bit document fingerprint (xxhash64 of normalized text) —
    rolling-hash-free exact-identity fingerprint, JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(F.lower(F.regexp_replace(c, r"\s+", " ")))


# ---- language identification (Pandas UDF) ---------------------------

_PROFILES = {
    "en": ["the", "and", "ing", "ion", "tio", "ent", "ati", "for", "her", "ter"],
    "de": ["der", "die", "und", "den", "ein", "sch", "ich", "cht", "das", "ber"],
    "fr": ["les", "des", "ent", "ion", "que", "ous", "ait", "eur", "lle", "une"],
    "es": ["que", "ión", "los", "ado", "con", "ent", "cia", "una", "sta", "par"],
    "it": ["che", "ion", "lla", "ent", "per", "del", "one", "ato", "gli", "con"],
}


def language_id_udf():
    """n-gram-profile language guess: argmax over trigram hit counts.
    Pandas UDF (vectorized string ops per Arrow batch)."""

    @F.pandas_udf("string")
    def _lang(text: pd.Series) -> pd.Series:
        low = text.fillna("").str.lower()
        scores = {
            lang: sum(low.str.count(g) for g in grams)
            for lang, grams in _PROFILES.items()
        }
        df = pd.DataFrame(scores)
        best = df.idxmax(axis=1)
        best[df.max(axis=1) <= 0] = "und"
        return best

    return _lang


# ---- repetition filters (Gopher-style quality signals) --------------


def dup_line_fraction(col: str | Column) -> Column:
    """Fraction of non-empty lines that are duplicates of an earlier
    line (Gopher repetition filter, line granularity): 1 − distinct/total,
    0.0 for empty/lineless docs. Pure JVM array expressions."""
    c = F.col(col) if isinstance(col, str) else col
    lines = F.filter(F.split(c, "\n"), lambda x: F.trim(x) != "")
    n = F.size(lines)
    return F.when(
        n > 0, F.round(F.lit(1.0) - F.size(F.array_distinct(lines)) / n, 6)
    ).otherwise(F.lit(0.0)).cast("double")


def dup_ngram_fraction(col: str | Column, n: int = 2) -> Column:
    """Fraction of word n-gram OCCURRENCES that repeat an earlier
    occurrence: 1 − distinct/total over order-sensitive word n-grams
    (Gopher's duplicate-n-gram family; the line filter is blind to
    single-line boilerplate, this isn't). 0.0 when fewer than n words."""
    return _bind(word_ngrams(_words(col), n), lambda grams: F.when(
        F.size(grams) > 0,
        F.round(F.lit(1.0) - F.size(F.array_distinct(grams)) / F.size(grams), 6),
    ).otherwise(F.lit(0.0)).cast("double"))


# ---- PII scrubbing (pre-training redaction) -------------------------

#: (name, pattern, replacement) applied IN ORDER by redact_pii — order
#: is part of the contract (an [IP] replacement can never create an
#: id-pattern match, etc.). Patterns are deliberately conservative and
#: RE2-compatible so an external audit (e.g. DuckDB) can re-run them
#: verbatim; fuzzy phone formats are excluded (locale-ambiguous —
#: handle upstream with a dedicated library if required).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", r"\b(\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[ID]"),
]


def redact_pii(col: str | Column) -> Column:
    """Replace every email / IPv4 / SSN-shaped token with a typed
    placeholder — the standard pre-training scrub, pure JVM
    regexp_replace chain (map-only, no shuffle, codegen-friendly)."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts(col: str | Column) -> list[Column]:
    """One ``n_<kind>`` count column per PII pattern (regexp_count,
    JVM-side) — the audit surface next to the redaction."""
    c = F.col(col) if isinstance(col, str) else col
    return [
        F.regexp_count(c, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
