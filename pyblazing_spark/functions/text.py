"""Text-analysis column functions for LLM-data pipelines: tokenization,
quality scoring, language ID, fingerprinting, shingling.

Everything is a JVM-side expression (no UDFs) and — deliberately —
expressible in ANSI SQL, so every operator built on these has a DuckDB
oracle. The occurrence counter uses the length/replace identity instead of
regexp_count (portable across engines)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic. Deliberately small: the heuristic must be cheap at 100 TB
#: (pure string ops, no model).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization -> array<string>."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank strings).

    Counts non-whitespace runs with ``regexp_count`` instead of
    materializing the token array (``size(split(...))``): identical value
    (incl. null/empty edges) at ~2x the throughput — the count is the hot
    expression in per-source stats and quality scoring."""
    return F.regexp_count(text, F.lit(r"\S+"))


def occurrences(text: Column, word: str) -> Column:
    """Count of ``' word '`` occurrences via the length/replace identity
    (portable: no regexp_count)."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("int")


def normalize(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip non [a-z0-9 ],
    collapse whitespace, trim."""
    lowered = F.lower(text)
    stripped = F.regexp_replace(lowered, "[^a-z0-9 ]", "")
    return F.trim(F.regexp_replace(stripped, " +", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (the rolling-hash use case — identical in DuckDB, so oracle-checkable).
    """
    return F.md5(normalize(text))


def stopword_hits(text: Column, lang: str) -> Column:
    """Total stopword occurrences for one language."""
    lowered = F.lower(text)
    total = F.lit(0)
    for word in LANG_STOPWORDS[lang]:
        total = total + occurrences(lowered, word)
    return total


def lang_id(text: Column) -> Column:
    """Stopword-scoring language ID -> 'en'/'es'/'fr'/'de'/'und'.

    Ties break in a fixed order (en > es > fr > de) so the result is
    deterministic and mirrors the SQL oracle exactly."""
    s = {lang: stopword_hits(text, lang) for lang in LANG_STOPWORDS}
    return (
        F.when(
            (s["en"] >= s["es"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["de"]) & (s["en"] > 0),
            "en",
        )
        .when((s["es"] >= s["fr"]) & (s["es"] >= s["de"]) & (s["es"] > 0), "es")
        .when((s["fr"] >= s["de"]) & (s["fr"] > 0), "fr")
        .when(s["de"] > 0, "de")
        .otherwise("und")
    )


def alpha_ratio(text: Column) -> Column:
    """Share of [a-z] characters (lowercased).

    ``translate`` (single-pass char map, no regex engine) measured ~20%
    faster than ``regexp_count('[a-z]')`` and ~4x faster than
    ``length(regexp_replace(...))`` on prose-sized rows; identical count,
    so the SQL oracles are unaffected."""
    lowered = F.lower(text)
    alpha_n = F.length(lowered) - F.length(
        F.translate(lowered, "abcdefghijklmnopqrstuvwxyz", "")
    )
    return alpha_n / F.length(lowered)


def digit_ratio(text: Column) -> Column:
    return F.regexp_count(text, F.lit("[0-9]")) / F.length(text)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length saturation + alphabetic
    share + stopword presence − digit noise. The exact blend mirrors the
    SQL oracle; tune freely, keep both sides in sync."""
    length_part = F.least(F.lit(1.0), token_count(text) / F.lit(100.0))
    stop_part = F.least(F.lit(1.0), stopword_hits(text, "en") / F.lit(5.0))
    return F.round(
        length_part * 0.3 + alpha_ratio(text) * 0.4 + stop_part * 0.3 - digit_ratio(text) * 0.2,
        4,
    )
