"""Text-analysis expressions: tokenization, shingling, fingerprints,
quality metrics, language-ID heuristic.

All pure Catalyst column expressions (split / transform / aggregate /
md5 higher-order functions) — whole-stage-codegen'd, no Python in the
row path, so they scale linearly over 100 TB of documents. Every
expression has a DuckDB-equivalent SQL form used by the oracle
harness (see llm_queries.py) — hence the md5-based hashing (identical
hex output in both engines) rather than Spark's xxhash64.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "tokens",
    "token_count",
    "word_shingles",
    "char_shingles",
    "ngram_repetition",
    "normalize_text",
    "fingerprint",
    "quality_metrics",
    "LANG_MARKERS",
    "PII_PATTERNS",
    "pii_redact",
    "pii_counts",
]


def tokens(text: Column) -> Column:
    """Whitespace tokenization — the dedup/TF-IDF/quality workhorse
    (see ``bpe_pretokens`` for the BPE-style variant)."""
    return F.split(F.trim(text), r"\s+")


# GPT-2-style pre-tokenizer, restricted to syntax Java regex and RE2
# (the DuckDB engine) interpret identically: contraction suffixes,
# space-prefixed letter runs, space-prefixed digit runs,
# space-prefixed punctuation runs, residual whitespace. The original
# pattern's trailing-space lookahead is dropped (RE2 has no
# lookahead); both engines use leftmost-first alternation. The
# whitespace class is spelled out because the engines' \s differ
# (Java includes \x0b, RE2 does not — found by the cross-engine
# fuzz in tests/test_properties.py).
_WS_CLASS = r" \t\n\x0b\f\r"
BPE_PRETOKEN_RE = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+"
    r"| ?\p{N}+"
    rf"| ?[^{_WS_CLASS}\p{{L}}\p{{N}}]+"
    rf"|[{_WS_CLASS}]+"
)


def bpe_pretokens(text: Column) -> Column:
    """BPE-style pre-tokenization (the merge-free first stage every
    BPE/byte-level tokenizer runs): array of pre-token strings,
    whitespace runs removed. This is the unit 'token count' that
    sequence packing / cost estimation should use when the real
    tokenizer is out of reach — within a few percent of GPT-2 counts
    on English text, and exactly reproducible in SQL.

    The whitespace-run filter names the SAME class the pattern's
    ``\\s`` matches (engine trim()s disagree about which characters
    are 'space' — e.g. U+2028 — so trim-based emptiness checks are
    not portable; an explicit class is). Anchors are \\A/\\z, NOT ^/$:
    Java's $ also matches BEFORE a final line terminator (U+2028/29,
    \\r, \\n...), so '^ws+$' wrongly classifies ' \\u2028' as a pure
    whitespace run on the Spark side only — found by the cross-engine
    fuzz (DuckDB regexp_full_match and Python re have \\A..\\z
    semantics here)."""
    return F.filter(
        F.regexp_extract_all(text, F.lit(BPE_PRETOKEN_RE), 0),
        lambda t: ~t.rlike(r"\A[ \t\n\x0b\f\r]+\z"),
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def _ngram_array(t: Column, n: int) -> Column:
    """All (non-distinct) word n-grams from a bound token array,
    built as a zip_with over n shifted slices of the array — pure
    vectorized array ops, no per-element lambda indexing.
    (History: transform+element_at(i+j) re-evaluates the subscript
    lookup per lambda call and measured ~10× slower — 4.5s vs 0.46s
    for 260k shingles at sf0.1.)"""
    m = F.size(t) - (n - 1)
    parts = [F.slice(t, i + 1, m) for i in range(n)]
    joined = parts[0]
    for p in parts[1:]:
        joined = F.zip_with(joined, p, lambda x, y: F.concat_ws(" ", x, y))
    return joined


def shingles_from_tokens(t: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an ALREADY-BOUND token array
    column (see _ngram_array for the construction). Callers should
    bind the token array as a real column first so split() runs
    once."""
    return F.when(
        F.size(t) >= n, F.array_distinct(_ngram_array(t, n))
    ).otherwise(F.array().cast("array<string>"))


def ngram_repetition(t: Column, n: int = 3) -> tuple[Column, Column]:
    """(total, unique) n-gram counts from a bound token array — the
    duplicate-n-gram repetition signal used by Gopher-style quality
    filters (rep_ratio = 1 - unique/total). Zero/zero when the doc is
    shorter than n tokens."""
    grams = _ngram_array(t, n)
    total = F.when(F.size(t) >= n, F.size(grams)).otherwise(F.lit(0))
    uniq = F.when(F.size(t) >= n, F.size(F.array_distinct(grams))).otherwise(
        F.lit(0)
    )
    return total, uniq


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles straight from a text column.
    Convenience form for small inputs/tests — hot paths should bind
    tokens to a column and use shingles_from_tokens (see there)."""
    return shingles_from_tokens(tokens(text), n)


def char_shingles(text: Column, n: int = 5) -> Column:
    """Distinct character n-gram shingles (for short/no-whitespace
    text, e.g. CJK); same construction over substrings."""
    starts = F.sequence(F.lit(1), F.length(text) - (n - 1))
    return F.when(
        F.length(text) >= n,
        F.array_distinct(F.transform(starts, lambda i: F.substring(text, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprint dedup: lowercase, strip
    non-alphanumerics to spaces, collapse whitespace."""
    c = F.lower(text)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (portable
    across engines; the rolling-hash variant is in simhash/minhash)."""
    return F.md5(normalize_text(text))


def quality_metrics(text: Column) -> dict[str, Column]:
    """Document quality signals (length, token stats, stopword and
    punctuation ratios) as named expressions."""
    t = tokens(text)
    n_tok = F.size(t)
    total_len = F.aggregate(
        F.transform(t, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    stop = F.size(F.filter(t, lambda x: x.isin("the", "a", "of", "and")))
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_tokens": n_tok.cast("bigint"),
        "n_uniq_tokens": F.size(F.array_distinct(t)).cast("bigint"),
        "avg_token_len": F.round(total_len / n_tok, 4),
        "stopword_ratio": F.round(stop / n_tok, 4),
        "punct_ratio": F.round(n_punct / n_chars, 4),
    }


# Marker stopwords per language for the n-gram/stopword lang-ID
# heuristic. Deterministic and oracle-replicable; on real corpora
# extend the marker lists (they're data, not code).
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist"],
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "los", "y", "es"],
    "fr": ["le", "la", "les", "et", "est"],
    "zh": ["的", "了", "是", "在", "我"],
}


# PII patterns restricted to syntax Java regex (Spark) and RE2
# (DuckDB) interpret identically: explicit ASCII classes, bounded
# repetition, \b word boundaries (ASCII semantics in both), no
# lookaround (RE2 has none). Order matters: emails are redacted
# before IPs so the dotted domain of an address never half-matches
# the IPv4 pattern.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
]


def pii_redact(text: Column) -> Column:
    """Replace every PII match with its placeholder token, applying
    the patterns in PII_PATTERNS order. Pure codegen'd regexp_replace
    chain — no Python in the row path."""
    out = text
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII match counts on the ORIGINAL text (audit metric:
    how much was redacted)."""
    return {
        kind: F.regexp_count(text, F.lit(pat)).cast("bigint")
        for kind, pat, _ in PII_PATTERNS
    }
