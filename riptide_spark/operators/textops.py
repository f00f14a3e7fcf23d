"""Text-analysis operators for training-data pipelines (all JVM-side).

Language-ID (stopword-profile votes), quality scoring (length / punctuation
/ stopword ratios), token counting (whitespace + BPE-ish regex) and the
reference's regex-extraction operator (E21,
``/root/reference/crates/riptide-extraction/src/regex_extraction.rs:215-266``)
— every one a built-in column expression with a 1:1 ANSI-SQL equivalent used
as the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.langid import STOPWORD_PROFILES
from .dedup import _words

# Default regex set mirroring regex_extraction.rs defaults (email, url,
# iso-date, us-phone, price).
DEFAULT_PATTERNS = {
    "emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "urls": r"https?://[^\s<>\"]+",
    "iso_dates": r"\d{4}-\d{2}-\d{2}",
    "phones": r"\(\d{3}\) \d{3}-\d{4}",
    "prices": r"\$\d+(\.\d{2})?",
}

# BPE-ish tokenizer: letter runs, digit runs, single non-space symbols.
BPE_ISH_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def whitespace_tokens(text: Column) -> Column:
    return F.size(_words(text)).cast("bigint")


def bpeish_tokens(text: Column) -> Column:
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_ISH_PATTERN), 0)).cast(
        "bigint"
    )


def regex_extract_counts(df: DataFrame, text_col: str, id_col: str,
                         patterns: dict[str, str] | None = None) -> DataFrame:
    patterns = patterns or DEFAULT_PATTERNS
    cols = [F.col(id_col)]
    for name, pattern in patterns.items():
        matches = F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0)
        cols.append(F.size(matches).cast("bigint").alias(f"n_{name}"))
        cols.append(F.try_element_at(matches, F.lit(1)).alias(f"first_{name}"))
    return df.select(*cols)


def stopword_hits(text: Column, lang: str) -> Column:
    """Count of profile-stopword occurrences (word-bounded)."""
    profile = "|".join(STOPWORD_PROFILES[lang])
    return F.size(
        F.regexp_extract_all(F.lower(text), F.lit(rf"\b({profile})\b"), 0)
    ).cast("bigint")


def langid_columns(text: Column, langs: tuple[str, ...] = ("en", "de", "fr", "es", "nl")) -> list[Column]:
    """Per-language hit counts + argmax prediction (ties → first in order)."""
    hits = {lang: stopword_hits(text, lang).alias(f"hits_{lang}") for lang in langs}
    cols = list(hits.values())
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    predicted = F.lit("und")
    for lang in reversed(langs):
        predicted = F.when(F.col(f"hits_{lang}") == best, F.lit(lang)).otherwise(predicted)
    cols.append(F.when(best > 0, predicted).otherwise(F.lit("und")).alias("predicted_lang"))
    return cols


def quality_signal_columns(text: Column) -> dict[str, Column]:
    """Length/punct/alpha/stopword signals + a composite quality heuristic."""
    n_chars = F.length(text).cast("bigint")
    words = whitespace_tokens(text)
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).cast("bigint")
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("bigint")
    stop_en = stopword_hits(text, "en")
    chars_d = n_chars.cast("double")
    signals = {
        "n_chars": n_chars,
        "n_words": words,
        "punct_ratio": F.round(punct / F.greatest(chars_d, F.lit(1.0)), 6).cast("double"),
        "alpha_ratio": F.round(alpha / F.greatest(chars_d, F.lit(1.0)), 6).cast("double"),
        "stopword_ratio": F.round(
            stop_en.cast("double") / F.greatest(words.cast("double"), F.lit(1.0)), 6
        ).cast("double"),
        "mean_word_len": F.round(
            alpha.cast("double") / F.greatest(words.cast("double"), F.lit(1.0)), 6
        ).cast("double"),
    }
    return signals
