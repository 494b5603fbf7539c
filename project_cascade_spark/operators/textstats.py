"""Text-analysis operators for a training-data pipeline: language ID,
quality scoring, token counting.

All pure Catalyst expressions (whole-stage codegen) with exact DuckDB twins
in oracle.py.  These run over the `documents` table in the correctness gate
and over `code_files.content` in the pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_ws

# Tiny, deterministic stopword lists — a heuristic language classifier in
# the spirit of n-gram language ID (fast, data-independent, shippable).
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "nicht", "ist", "ich", "ein", "mit", "sie"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"],
    "es": ["el", "la", "de", "que", "los", "una", "con", "por", "para", "es"],
}

# BPE-ish tokenization: words | digit runs | single punctuation marks.
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def stopword_hits(tokens_col: Column, lang: str) -> Column:
    """# tokens (with multiplicity) that are stopwords of `lang`."""
    stops = F.array(*[F.lit(s) for s in STOPWORDS[lang]])
    return F.size(F.filter(tokens_col, lambda t: F.array_contains(stops, t)))


def language_id(df: DataFrame, text_col: str) -> DataFrame:
    """Add lang_pred = argmax over stopword-hit counts ('und' if all zero).

    Tie-break: language order en, de, fr, es (stable, documented)."""
    toks = F.split(normalize_ws(F.col(text_col)), " ")
    out = df.withColumn("_toks", toks)
    hit_cols = []
    for lang in STOPWORDS:
        c = f"_hits_{lang}"
        out = out.withColumn(c, stopword_hits(F.col("_toks"), lang))
        hit_cols.append((lang, c))
    best = F.lit("und")
    best_hits = F.lit(0)
    for lang, c in reversed(hit_cols):  # reversed so earlier langs win ties
        cond = F.col(c) > F.lit(0)
        better = F.col(c) >= best_hits
        best = F.when(cond & better, F.lit(lang)).otherwise(best)
        best_hits = F.when(cond & better, F.col(c)).otherwise(best_hits)
    out = out.withColumn("lang_pred", best)
    return out.drop("_toks", *[c for _, c in hit_cols])


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Length/punctuation/stopword-ratio quality features + a 0-1 score.

    Mirrors common pretraining-data quality filters (length bounds, symbol
    ratio, stopword presence); every term is a plain expression.
    """
    norm = normalize_ws(F.col(text_col))
    toks = F.split(norm, " ")
    n_chars = F.length(F.col(text_col))
    n_tokens = F.size(toks)
    stops = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    stop_ratio = F.size(F.filter(toks, lambda t: F.array_contains(stops, t))) / n_tokens
    # non-alphanumeric, non-space chars / all chars
    punct_ratio = (
        n_chars - F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z0-9\\s]", ""))
    ) / F.greatest(n_chars, F.lit(1))
    mean_tok_len = F.length(F.regexp_replace(norm, " ", "")) / F.greatest(n_tokens, F.lit(1))
    score = (
        F.when((n_tokens >= 5) & (n_tokens <= 100000), 0.4).otherwise(0.0)
        + F.when(punct_ratio <= 0.2, 0.3).otherwise(0.0)
        + F.when(stop_ratio >= 0.02, 0.2).otherwise(0.0)
        + F.when((mean_tok_len >= 2.0) & (mean_tok_len <= 12.0), 0.1).otherwise(0.0)
    )
    return (
        df.withColumn("n_chars_calc", n_chars.cast("long"))
        .withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn("stop_ratio", F.round(stop_ratio, 6))
        .withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn("mean_tok_len", F.round(mean_tok_len, 6))
        .withColumn("quality_score", F.round(score, 2))
    )


def token_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count (both cheap
    whole-document counts, no explode)."""
    ws = F.size(F.split(normalize_ws(F.col(text_col)), " "))
    bpe = F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_REGEX), 0))
    return df.withColumn("ws_tokens", ws.cast("long")).withColumn(
        "bpe_tokens", bpe.cast("long")
    )

