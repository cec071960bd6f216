"""Text-analysis functions for training-data pipelines — pure column
expressions (JVM-side, whole-stage codegen; no Python in the hot path).

These generalize the reference's character-class / normalization toolkit
(/root/reference/src/yomitoku: kanji/kana predicates
document_analyzer.py:69-70, NFKC text_recognizer.py:155, whitespace and
numeric normalizers extractor/normalizer.py) into the document-quality
operators a 100 TB corpus pipeline needs: token counting, quality
scoring, language ID, fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WS_SPLIT = r"\s+"

# tiny per-language stopword marker sets for the n-gram/stopword-vote
# language-ID heuristic (public, trivially-known word lists)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "los"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "de", "un", "une", "est", "dans"],
}

CJK_RE = "[\\u3040-\\u30ff\\u3400-\\u9fff]"


def tokens(col: Column) -> Column:
    """Whitespace tokenization; empty string → empty array."""
    return F.filter(F.split(F.trim(col), WS_SPLIT), lambda w: w != "")


def token_count(col: Column) -> Column:
    """Token count without materializing the token array: the number of
    \\S+ runs equals len(split-on-\\s+ minus empties). regexp_count is a
    codegen'd JVM expression; higher-order filter/split are interpreted
    per row (they don't participate in whole-stage codegen), which cost
    a ~3x constant factor at corpus scale."""
    return F.regexp_count(col, F.lit(r"\S+")).cast("bigint")


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token estimate: alnum runs + each punct char counts
    once (a cheap stand-in for a BPE tokenizer's piece count)."""
    alnum_runs = F.regexp_count(col, F.lit(r"[\p{L}\p{N}]+"))
    punct = F.length(F.regexp_replace(col, r"[\p{L}\p{N}\s]", ""))
    return (alnum_runs + punct).cast("bigint")


def _stopword_re(lang: str) -> str:
    # token == word  ⟺  the word run is whitespace/edge delimited; the
    # lookahead (not a consuming \s) keeps back-to-back stopwords
    # ("of the") both countable under the non-overlapping scan.
    # re.escape guards future list entries containing metacharacters
    # (the current lists are plain words, but a silent miscount here
    # would skew lang_id/quality/training_set_selection corpus-wide).
    import re as _re

    return (
        r"(?:^|\s)(?:"
        + "|".join(_re.escape(w) for w in STOPWORDS[lang])
        + r")(?=\s|$)"
    )


def stopword_count(col: Column, lang: str = "en") -> Column:
    """Exact-token stopword hits (with multiplicity) as ONE codegen'd
    regexp scan — equivalent to filtering the whitespace token array on
    membership, without re-tokenizing per language."""
    return F.regexp_count(F.lower(col), F.lit(_stopword_re(lang))).cast("bigint")


def lang_id(col: Column) -> Column:
    """Rule/stopword-vote language ID: CJK script short-circuits, else the
    language with the most stopword hits wins (ties → 'und' order en>es>de>fr)."""
    lc = F.lower(col)
    votes = {lang: stopword_count(lc, lang) for lang in STOPWORDS}
    best = F.greatest(*votes.values())
    pick = F.lit("und")
    for lang in reversed(list(STOPWORDS)):  # earlier langs win ties
        pick = F.when(votes[lang] == best, F.lit(lang)).otherwise(pick)
    return (
        F.when(F.length(F.regexp_replace(col, f"[^{CJK_RE[1:-1]}]", "")) * 4
               >= F.length(col), F.lit("cjk"))
        .when(best == 0, F.lit("und"))
        .otherwise(pick)
    )


def fingerprint(col: Column, n_tokens: int = 8) -> Column:
    """Document fingerprint: md5 over the first n normalized tokens —
    a cheap rolling-hash-style near-head signature for clustering."""
    head = F.slice(tokens(F.lower(F.trim(col))), 1, n_tokens)
    return F.md5(F.array_join(head, " "))


def hash64(col: Column) -> Column:
    """Stable 60-bit hash from md5 hex (same construction is expressible
    in ANSI SQL/DuckDB: ('0x' || substr(md5(x),1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")
