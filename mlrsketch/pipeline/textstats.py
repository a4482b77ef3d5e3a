"""Text analysis over the documents table — all pure Catalyst expressions.

Every function here is a zero-shuffle, whole-stage-codegen'd projection:
language-ID (stopword n-gram heuristic), quality scoring, token
counting, and rolling-hash fingerprinting. Formulas are deliberately
closed-form so an ANSI-SQL oracle can reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword marker sets for the n-gram heuristic
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "les"),
    "es": ("el", "de", "los"),
    "ru": ("i", "v", "ne"),
}


def _count_token(token: str) -> Column:
    """Occurrences of a whole token in the ``__toks`` column, the text
    split once per row by the caller: size(filter(__toks, t -> t =
    token)). Pure JVM."""
    return F.size(F.filter(F.col("__toks"), lambda t: t == F.lit(token)))


def token_count(df: DataFrame, text_col: str = "text", out: str = "n_tokens") -> DataFrame:
    """Whitespace token count (the `nest --explode` cardinality without
    exploding — reference analog pkg/transformers/nest.go:34)."""
    return df.withColumn(out, F.size(F.split(F.col(text_col), " ")))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality features + a composite score in [0,1]:

    - len_score: min(n_chars/500, 1) — longer docs up to a cap
    - alpha_ratio: fraction of [a-z ] characters (null, and so the
      score, for '')
    - stop_ratio: min(10 * stopword_tokens / n_tokens, 1)
    score = round((len_score + alpha_ratio + stop_ratio)/3, 6)
    """
    text = F.col(text_col)
    n_chars = F.length(text)
    n_tokens = F.size("__toks")
    stop = _count_token("the") + _count_token("and") + _count_token("of")
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    # null for '' (no characters), as SQL's x / 0 gives NULL
    alpha = F.try_divide(n_chars - F.length(F.regexp_replace(text, "[a-z ]", "")), n_chars)
    stop_ratio = F.least(F.lit(10.0) * stop / n_tokens, F.lit(1.0))
    return (
        df.withColumn("__toks", F.split(text, " "))
        .withColumn("len_score", F.round(len_score, 6))
        .withColumn("alpha_ratio", F.round(alpha, 6))
        .withColumn("stop_ratio", F.round(stop_ratio, 6))
        .withColumn(
            "quality_score", F.round((len_score + alpha + stop_ratio) / 3.0, 6)
        )
        .drop("__toks")
    )


def lang_id(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    """Stopword-marker language ID: argmax over per-language marker-token
    counts; 'und' (undetermined) when all scores are 0. Deterministic
    tie-break: language code ascending (struct max on (score, -code)
    is not SQL-portable, so ties go to the FIRST language in sorted
    order among the maxima — implemented via greatest + case)."""
    scores = {
        lang: sum((_count_token(m) for m in markers), F.lit(0))
        for lang, markers in sorted(_LANG_MARKERS.items())
    }
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in sorted(_LANG_MARKERS, reverse=True):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return (
        df.withColumn("__toks", F.split(F.col(text_col), " "))
        .withColumn(out, F.when(best == 0, F.lit("und")).otherwise(expr))
        .drop("__toks")
    )


def fingerprint(df: DataFrame, text_col: str = "text", out: str = "fp") -> DataFrame:
    """Document fingerprint: md5 of the text (stable across engines).
    Used as the exact-dedup key at any scale; 128 bits ⇒ collision
    probability negligible at 10^12 docs."""
    return df.withColumn(out, F.md5(F.col(text_col)))


_BPE_ISH = r"[a-z]+|[0-9]+|[^a-z0-9 ]"


def token_count_bpe(df: DataFrame, text_col: str = "text", out: str = "n_bpe_tokens") -> DataFrame:
    """BPE-ish token count: alpha runs, digit runs, and individual
    punctuation each count as one token (the pre-tokenization split most
    BPE vocabularies start from). JVM regexp, zero shuffle."""
    return df.withColumn(
        out, F.size(F.regexp_extract_all(F.col(text_col), F.lit(_BPE_ISH), 0))
    )
