"""Text-analysis column functions for training-data pipelines
(BASELINE.json north star: language-ID, quality scoring, token
counting, document fingerprinting).

Everything here is built-in-function composition — JVM-side, inside
whole-stage codegen, no UDFs — so the operators scan-scale to 100 TB of
documents.  Each returns a Column usable in any select.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: marker words per language for the n-gram/stopword heuristic.
#: Deliberately tiny and deterministic; real pipelines swap in fastText —
#: the *operator shape* (argmax over per-language evidence counts) is
#: what matters here.
LANG_MARKERS: dict[str, list[str]] = {
    "de": [" der ", " und ", " die ", " nicht ", " ist "],
    "en": [" the ", " and ", " of ", " is ", " to "],
    "es": [" el ", " los ", " que ", " es ", " para "],
    "fr": [" le ", " les ", " est ", " une ", " pour "],
    "zh": ["的", "是", "不", "了", "在"],
}


def _count_occurrences(col: Column, needle: str) -> Column:
    """Occurrences of ``needle`` via length arithmetic — portable to any
    SQL engine (the DuckDB oracles mirror it exactly)."""
    return (
        F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit("")))
    ) / len(needle)


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-occurrence counts over ' '||text||' '."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    return {
        lang: sum(
            (_count_occurrences(padded, m) for m in markers),
            F.lit(0).cast("double"),
        ).cast("long")
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """Argmax language code, 'und' when no marker fires.  Ties break
    alphabetically (first CASE branch wins) — deterministic.

    Shaped as GREATEST + a flat CASE chain, mirroring the SQL oracle:
    every score expression appears a constant (~2x) number of times.
    The previous nested when(struct) fold embedded each accumulated
    struct TWICE per step, duplicating the marker arithmetic 2^5 times
    — the generated processNext() blew past Janino's method limit
    (19k lines), silently dropping the whole stage to interpreted mode."""
    scores = lang_scores(text)
    langs = sorted(scores)
    g = F.greatest(*[scores[lang] for lang in langs])
    pred = F.when(g == 0, F.lit("und"))
    for lang in langs:
        pred = pred.when(scores[lang] == g, F.lit(lang))
    return pred


def whitespace_token_count(text: Column) -> Column:
    """Whitespace tokenization count.

    Counts non-whitespace runs directly (``regexp_count('\\S+')``) so
    empty / whitespace-only text yields 0 — ``split(trim(''))`` would
    yield ``['']`` = 1, diverging from regexp-match-counting engines.
    """
    return F.regexp_count(text, F.lit(r"\S+")).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token count: words and single punctuation marks counted
    separately (the ``\\w+|[^\\w\\s]`` convention).  Operates on the
    passed column expression, not a hardcoded column name.
    """
    return F.size(
        F.regexp_extract_all(text, F.lit(r"\w+|[^\w\s]"), 0)
    ).cast("long")


def punct_ratio(text: Column) -> Column:
    punct = F.length(F.regexp_replace(text, r"[^.,!?;:]", ""))
    return punct.cast("double") / F.greatest(F.length(text), F.lit(1))


def digit_ratio(text: Column) -> Column:
    digits = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    return digits.cast("double") / F.greatest(F.length(text), F.lit(1))


def mean_word_length(text: Column) -> Column:
    words = F.split(F.trim(text), r"\s+")
    return F.length(F.trim(text)).cast("double") / F.greatest(
        F.size(words), F.lit(1)
    )


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0, 1]: long enough, not
    punctuation/digit soup, sane mean word length.  The standard
    pre-training filter shape (C4/Gopher-style rules compressed into a
    single score)."""
    length_ok = F.least(F.length(text).cast("double") / 200.0, F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 5.0)
    digit_pen = F.greatest(F.lit(0.0), F.lit(1.0) - digit_ratio(text) * 5.0)
    mwl = mean_word_length(text)
    mwl_ok = F.when((mwl >= 3.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    return F.round(length_ok * punct_pen * digit_pen * mwl_ok, 6)


#: DuckDB twin of :func:`quality_score` over the ``text`` column.
QUALITY_SCORE_SQL = r"""ROUND(
             LEAST(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
             * GREATEST(0.0, 1.0 -
                 (CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
                  / GREATEST(length(text), 1)) * 5.0)
             * GREATEST(0.0, 1.0 -
                 (CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                  / GREATEST(length(text), 1)) * 5.0)
             * (CASE WHEN (CAST(length(trim(text)) AS DOUBLE)
                           / GREATEST(len(regexp_extract_all(trim(text), '\S+', 0)), 1))
                          BETWEEN 3.0 AND 12.0
                     THEN 1.0 ELSE 0.5 END),
           6)"""


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse runs of
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


#: DuckDB twin of :func:`normalize_text` over the ``text`` column.
NORMALIZE_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

#: DuckDB twins of ``split(normalize_text(text), " ")``, the token
#: list of the ``text`` column: one splits with ``string_split_regex``,
#: the other with ``string_split``; both give the same tokens.
TOKENIZE_SQL = f"string_split_regex({NORMALIZE_SQL}, ' ')"
SPLIT_TOKENS_SQL = f"string_split( {NORMALIZE_SQL}, ' ')"


def fingerprint(text: Column) -> Column:
    """Deterministic 128-bit document fingerprint: md5 hex of the
    normalized text.  Engine-portable (DuckDB md5 produces the same
    hex), unlike xxhash64/murmur which are engine-specific."""
    return F.md5(normalize_text(text).cast("binary"))


#: DuckDB twin of :func:`fingerprint` over the ``text`` column.
FINGERPRINT_SQL = f"md5({NORMALIZE_SQL})"


# PII patterns kept to the regex subset Java (Spark) and RE2 (DuckDB,
# the oracle engine) interpret identically: no backrefs, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def scrub_pii(text: Column) -> Column:
    """Redact email addresses and phone numbers with typed markers.

    Training-corpus hygiene: runs entirely JVM-side (regexp_replace is
    codegen'd — no Python in the hot path), one pass per pattern.
    Emails scrub before phones so digit runs inside addresses can't be
    half-eaten by the phone pattern.
    """
    return F.regexp_replace(
        F.regexp_replace(text, EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
    )
