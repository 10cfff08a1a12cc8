"""Text-analysis functions for the training-data pipeline: token
counting, quality scoring, language-ID heuristics, fingerprinting.
All JVM-side Column expressions (no Python in the hot path) — at 100 TB
these run inside WholeStageCodegen over the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .exact import pround

# Tiny per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic. Chosen to be unambiguous across the five
# fixture languages.
LANG_MARKERS = {
    "en": (" the ", " and ", " of ", " is "),
    "de": (" der ", " und ", " die ", " ist "),
    "fr": (" le ", " et ", " les ", " est "),
    "es": (" el ", " los ", " es ", " una "),
    "zh": ("的", "是", "了", "在"),
}

EN_STOPWORDS = (
    "the", "and", "of", "to", "a", "in", "is", "it", "for", "on",
    "with", "as", "at", "by", "an", "be", "this", "that", "from",
)


def ws_tokens(text: Column) -> Column:
    """Non-empty lowercase whitespace tokens — THE canonical tokenizer
    the corpus-prep stats (plans/trainprep.py) and BPE training
    (operators/bpe.py) share, so they provably see the same stream."""
    return F.filter(
        F.split(F.lower(F.trim(text)), r"\s+"), lambda t: t != ""
    )


def token_count(text: Column) -> Column:
    """Whitespace token count; empty/blank → 0."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: splits on word/number/punct boundaries
    (a BPE-flavored regex approximation — each word piece, number run,
    or punctuation mark counts as one token)."""
    toks = F.regexp_extract_all(text, F.lit(r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"), 1)
    return F.size(toks)


def occurrence_count(text: Column, needle: str) -> Column:
    """Occurrences of a literal substring via replace-length arithmetic
    (global in both Spark and ANSI SQL — oracle-parity friendly)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("int")


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are punctuation."""
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()-]", ""))
    return pround(punct / F.greatest(F.length(text), F.lit(1)), 4)


def stopword_ratio(text: Column) -> Column:
    """Fraction of whitespace tokens that are common English stopwords."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    stops = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return pround(stops / F.greatest(F.size(toks), F.lit(1)), 4)


def quality_score(text: Column) -> Column:
    """Composite document quality in [0,1]: rewards reasonable length,
    penalizes extreme punctuation density and stopword-free (non-natural)
    text. Deterministic, expression-only."""
    length_term = F.least(F.length(text) / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * 4, F.lit(1.0))
    stop_term = F.least(stopword_ratio(text) * 5, F.lit(1.0))
    return pround((length_term + punct_term + stop_term) / 3, 4)


def lang_scores(text: Column) -> dict[str, Column]:
    """Marker-hit counts per candidate language (language-ID heuristic)."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    out = {}
    for lang, markers in LANG_MARKERS.items():
        score = None
        for m in markers:
            c = occurrence_count(padded, m)
            score = c if score is None else (score + c)
        out[lang] = score
    return out


def rolling_fingerprint(text: Column) -> Column:
    """Polynomial rolling-hash document fingerprint (mod 2^31-1) over
    UTF-8 code units — a cheap stable content signature computed as a
    fold over the character array, entirely JVM-side."""
    chars = F.split(text, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: F.pmod(acc * 31 + F.ascii(c), F.lit(2147483647).cast("long")),
    )
