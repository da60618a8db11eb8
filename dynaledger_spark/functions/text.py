"""Text analysis for corpus curation: language-ID, stopword counting,
document fingerprinting.

All operators are JVM-side expression trees (split/filter/aggregate/rlike)
— whole-stage-codegen over the scan, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small public stopword marker profiles (top function words per language).
LANG_PROFILES: dict[str, list[str]] = {
    "de": ["der", "die", "und", "das", "nicht", "von", "ist", "mit", "den", "ein"],
    "en": ["the", "and", "of", "to", "in", "is", "it", "for", "on", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "los", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est"],
    "zh": ["的", "是", "不", "了", "在", "人", "有", "我", "他", "这"],
}

MOD = 1_000_000_007


def tokens_of(text: Column) -> Column:
    return F.split(text, " ")


def stopword_hits(text: Column, words: list[str]) -> Column:
    """Count of tokens that are in the marker set (multiset count)."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens_of(text), lambda t: F.array_contains(arr, t)))


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: stopword_hits(text, words) for lang, words in LANG_PROFILES.items()}


def predict_lang(text: Column) -> Column:
    """Argmax language by stopword hits; ties break to the lexicographically
    first language code; all-zero scores → 'und' (undetermined)."""
    scores = lang_scores(text)
    # struct comparison: (score asc, lang desc) — greatest picks max score,
    # and for equal scores the *smaller* lang code must win, so compare on
    # (score, negated-rank) via reverse alphabetical ordering of codes.
    ordered = sorted(scores.items(), reverse=True)  # zh..de: later = smaller code
    best = F.greatest(
        *[
            F.struct(score.alias("s"), F.lit(i).alias("r"), F.lit(lang).alias("lang"))
            for i, (lang, score) in enumerate(ordered)
        ]
    )
    total = None
    for s in scores.values():
        total = s if total is None else total + s
    return F.when(total == 0, F.lit("und")).otherwise(best["lang"])


def rolling_fingerprint(text: Column) -> Column:
    """Polynomial rolling hash over characters, mod 1e9+7 (stable across
    engines: same fold in DuckDB is list_reduce with the same lambda)."""
    codes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text), F.lit(1))),
        lambda i: F.coalesce(F.ascii(text.substr(i, F.lit(1))), F.lit(0)).cast("long"),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % MOD,
    )
