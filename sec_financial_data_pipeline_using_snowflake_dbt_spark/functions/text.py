"""Text-analysis Column helpers (language-ID, quality, tokenization,
fingerprints).

All pure Column expressions — JVM-side, whole-stage-codegen'd, no Python
UDFs. Deterministic across engines: hashing is md5-over-UTF8 (portable),
tokenization is an explicit whitespace regex with empty-token filtering
so Spark `split` and ANSI `string_split_regex` agree.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: The id and text columns of the document corpus every text operator reads.
DOC_ID = "doc_id"
TEXT = "text"

# Tiny per-language marker-word lists for the n-gram/stopword language-ID
# heuristic. Deliberately small + deterministic (scoring, not linguistics).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "value", "table"),
    "es": ("el", "la", "los", "de", "que", "y"),
    "fr": ("le", "la", "les", "des", "et", "une"),
    "de": ("der", "die", "das", "und", "ein", "nicht"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}

_WS = r"\s+"
_PUNCT_CLASS = "[.,!?;:]"


def tokens(text: str | Column) -> Column:
    """Whitespace tokenization with empty-token filtering.

    ``filter(split(text, '\\s+'), t -> t <> '')`` — identical semantics to
    ``list_filter(string_split_regex(text, '\\s+'), t -> t <> '')``.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, _WS), lambda t: t != "")


def distinct_tokens(text: str | Column) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.array_distinct(tokens(F.lower(c)))


def token_count(text: str | Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text)).cast("long")


def char_token_estimate(n_chars: str | Column) -> Column:
    """BPE-ish token estimate: ceil(chars / 4) — the ~4-chars-per-token
    heuristic used for LLM corpus sizing."""
    c = F.col(n_chars) if isinstance(n_chars, str) else n_chars
    return F.ceil(c.cast("double") / F.lit(4.0)).cast("long")


def punct_count(text: str | Column) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return (F.length(c) - F.length(F.regexp_replace(c, _PUNCT_CLASS, ""))).cast("long")


def marker_hits(text: str | Column, markers: tuple[str, ...]) -> Column:
    """Number of tokens that are in the marker list (with repeats)."""
    c = F.col(text) if isinstance(text, str) else text
    lst = list(markers)
    return F.size(F.filter(tokens(F.lower(c)), lambda t: t.isin(lst))).cast("long")


def normalize_text(text: str | Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip punctuation,
    collapse whitespace runs to single spaces, trim."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.lower(c)
    c = F.regexp_replace(c, _PUNCT_CLASS, "")
    c = F.regexp_replace(c, _WS, " ")
    return F.trim(c)


def fingerprint(text: str | Column) -> Column:
    """Document fingerprint = md5 of the normalized text. Portable across
    engines (md5 over UTF-8 bytes)."""
    return F.md5(normalize_text(text))


def word_shingles(text: str | Column, n: int = 3) -> Column:
    """n-word shingles of the lowercased token stream, as '␟'-joined
    strings. Used by MinHash."""
    toks = tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    if n == 1:
        return F.array_distinct(toks)
    # guard: F.sequence(0, negative) would generate a DESCENDING sequence;
    # short docs must yield an empty shingle set instead
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - F.lit(n))
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.array_join(F.slice(toks, i + 1, n), "␟"),
        )
    )
