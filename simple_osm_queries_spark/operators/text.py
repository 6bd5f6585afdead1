"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting.

All pure column math (JVM-side, codegen). Every operator has an exact
ANSI-SQL mirror used as its DuckDB oracle (see __spark_entry__.py), so the
correctness gate checks implementation parity row-for-row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]

# language marker words for the n-gram/stopword heuristic; ties resolve in
# this order (deterministic)
LANG_MARKERS = {
    "en": ["the", "a", "of", "and"],
    "de": ["der", "die", "und", "ein"],
    "es": ["el", "la", "los", "una"],
    "fr": ["le", "les", "et", "une"],
}

_BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def words(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: alpha runs, digit runs, single punct."""
    return F.regexp_count(text, F.lit(_BPE_ISH))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    w = words(t)
    n_tok = F.size(w)
    stop_hits = F.size(F.filter(w, lambda x: x.isin(STOPWORDS)))
    return df.withColumns(
        {
            "n_chars_calc": F.length(t),
            "n_tokens": n_tok,
            "n_bpe_tokens": bpe_ish_token_count(t),
            "mean_word_len": (F.length(F.regexp_replace(t, r"\s+", "")) / n_tok),
            "punct_ratio": F.regexp_count(t, F.lit(r"[.,;:!?]")) / F.length(t),
            "stopword_ratio": stop_hits / n_tok,
            "upper_ratio": F.regexp_count(t, F.lit("[A-Z]")) / F.length(t),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality score in [0,1]-ish: rewards mid-length docs with
    natural stopword density and sane word lengths."""
    feats = quality_features(df, text_col)
    length_term = F.least(F.col("n_tokens") / F.lit(64.0), F.lit(1.0))
    stop_term = F.least(F.col("stopword_ratio") * F.lit(4.0), F.lit(1.0))
    wordlen = F.col("mean_word_len")
    wordlen_term = F.when((wordlen >= 2.0) & (wordlen <= 10.0), F.lit(1.0)).otherwise(F.lit(0.3))
    return feats.withColumn(
        "quality",
        F.round(
            F.lit(0.4) * length_term + F.lit(0.3) * stop_term + F.lit(0.3) * wordlen_term, 6
        ),
    )


def lang_scores(text: Column) -> dict[str, Column]:
    w = words(text)

    def marker_hits(markers: list[str]) -> Column:
        # closure, NOT lambda-default-args (pyspark arity inspection)
        return F.size(F.filter(w, lambda x: x.isin(markers)))

    return {lang: marker_hits(markers) for lang, markers in LANG_MARKERS.items()}


def lang_id(df: DataFrame, text_col: str = "text", out: str = "pred_lang") -> DataFrame:
    """Marker-word language ID. Falls back to 'und' when no marker hits.
    Deterministic tie-break: the LANG_MARKERS declaration order."""
    scores = lang_scores(F.col(text_col))
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # iterate reversed so earlier languages win ties
    for lang in reversed(list(scores)):
        s = scores[lang]
        best_lang = F.when(s >= best_score, F.lit(lang)).otherwise(best_lang)
        best_score = F.greatest(s, best_score)
    return df.withColumn(out, F.when(best_score > 0, best_lang).otherwise(F.lit("und")))


def doc_fingerprint(text: Column) -> Column:
    """Normalization-stable fingerprint: md5 of lowercased,
    whitespace-collapsed text. (Exact-dedup key that survives reflow.)"""
    return F.md5(F.regexp_replace(F.trim(F.lower(text)), r"\s+", " "))
