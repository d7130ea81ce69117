"""Text-analysis functions for large-scale training-data pipelines.

All pure column expressions (JVM-side, codegen'd) — no Python UDFs:
language-ID (stopword n-gram heuristic), quality scoring, token counting,
document fingerprinting. Each has an exact DuckDB-SQL twin in
kenshin_spark.queries for the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny per-language marker lexicons for the n-gram/stopword heuristic.
#: Deterministic and engine-portable (plain regex counts).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "est"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("de", "shi", "le", "zai", "he"),
}

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

#: a BPE-ish token pattern: runs of word chars OR single non-space symbols
TOKEN_PATTERN = r"[A-Za-z0-9_]+|[^\sA-Za-z0-9_]"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def marker_regex(words: tuple[str, ...]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Marker-word hit count per language over the lowercased text."""
    low = F.lower(_c(text))
    return {
        lang: F.regexp_count(low, F.lit(marker_regex(words)))
        for lang, words in LANG_MARKERS.items()
    }


def language_id(text: Column | str) -> Column:
    """Predicted language = argmax marker count, ties broken by the fixed
    language order (deterministic). All-zero scores → 'und'."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # build the CASE in reverse so earlier languages win ties
    for lang in reversed(list(scores)):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def token_count(text: Column | str) -> Column:
    """Whitespace token count (documents are space-separated here)."""
    return F.size(F.split(F.trim(_c(text)), r"\s+"))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Count of BPE-ish tokens (word runs + individual symbols)."""
    return F.regexp_count(_c(text), F.lit(TOKEN_PATTERN))


def stopword_count(text: Column | str) -> Column:
    return F.regexp_count(F.lower(_c(text)), F.lit(marker_regex(STOPWORDS)))


def quality_columns(text: Column | str, ndigits: int = 6) -> dict[str, Column]:
    """Quality-score feature set: length, tokens, stopword ratio, alpha
    ratio, mean token length. Ratios rounded for cross-engine stability."""
    t = _c(text)
    n_chars = F.length(t)
    n_tok = token_count(t)
    n_stop = stopword_count(t)
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tok.cast("long"),
        "n_stopwords": n_stop.cast("long"),
        "stopword_ratio": F.round(n_stop / n_tok, ndigits),
        "alpha_ratio": F.round(n_alpha / n_chars, ndigits),
        "mean_token_len": F.round(n_chars / n_tok, ndigits),
    }


def normalized_text(text: Column | str) -> Column:
    """Lowercase, strip every non-alphanumeric — the exact-dedup key."""
    return F.regexp_replace(F.lower(_c(text)), r"[^a-z0-9]", "")


def fingerprint_md5(text: Column | str) -> Column:
    """Content fingerprint: md5 of the normalized text."""
    return F.md5(normalized_text(text))


def rolling_fingerprint(text: Column | str, window: int = 8) -> Column:
    """Rolling-hash-style fingerprint: md5 of every ``window``-gram of the
    normalized text sampled at stride ``window``, min-pooled — a cheap
    locality-sensitive document signature computed fully JVM-side."""
    norm = normalized_text(text)
    # split into fixed-width chunks via regex, hash each, take the min
    chunks = F.regexp_extract_all(norm, F.lit(f"(.{{{window}}})"), 1)
    hashes = F.transform(
        chunks, lambda c: F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
    )
    return F.array_min(hashes)


# Gopher-style document quality rules (Rae et al. 2021 §A1.1, adapted to
# this corpus's ranges). Every rule is an integer comparison on raw counts
# — no float division — so the verdict is bit-identical across engines.
QUALITY_MIN_TOKENS = 25
QUALITY_MAX_TOKENS = 100_000
QUALITY_MEAN_TOKEN_LEN = (3, 10)  # inclusive bounds, chars per token
QUALITY_MIN_STOPWORDS = 2
QUALITY_ALPHA_RATIO = (41, 50)  # n_alpha/n_chars >= 41/50 (= 0.82)


def quality_verdict(text: Column | str) -> dict[str, Column]:
    """Per-rule booleans plus the combined ``keep`` verdict — the
    filter stage of a training-data pipeline. All rules are expressed as
    integer cross-multiplications (``n_alpha * 50 >= n_chars * 41``
    instead of ``ratio >= 0.82``) so Spark and any SQL oracle agree
    exactly, with no float-rounding discipline needed."""
    t = _c(text)
    n_chars = F.length(t)
    n_tok = token_count(t)
    n_stop = stopword_count(t)
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    lo, hi = QUALITY_MEAN_TOKEN_LEN
    num, den = QUALITY_ALPHA_RATIO
    len_ok = (n_tok >= QUALITY_MIN_TOKENS) & (n_tok <= QUALITY_MAX_TOKENS)
    mean_ok = (n_chars >= lo * n_tok) & (n_chars <= hi * n_tok)
    stop_ok = n_stop >= QUALITY_MIN_STOPWORDS
    alpha_ok = n_alpha * den >= n_chars * num
    return {
        "len_ok": len_ok,
        "mean_token_ok": mean_ok,
        "stopword_ok": stop_ok,
        "alpha_ok": alpha_ok,
        "keep": len_ok & mean_ok & stop_ok & alpha_ok,
    }


# Pinned-integer-weight linear quality model (fasttext-style classifier
# distilled to exact arithmetic). A monotone link function (sigmoid)
# never changes a thresholded keep decision, so the logit is kept in
# integer space: bit-identical across engines, no libm anywhere.
QM_WEIGHT_STOPWORDS = 30
QM_WEIGHT_TOKENS = 2
QM_WEIGHT_PUNCT = -5
QM_WEIGHT_DIGITS = -2
QM_TOKEN_CAP = 500  # saturate the length feature (long ≠ better forever)
QM_THRESHOLD = 100
QM_MIN_TOKENS = 25

#: ASCII punctuation as a negated char class (!-/ :-@ [-` {-~)
PUNCT_NEG_PATTERN = r"[^!-/:-@\[-`{-~]"


def quality_model_score(
    docs, id_col: str = "doc_id", text_col: str = "text"
):
    """Model-based quality filter: ``(doc_id, n_tokens, n_stopwords,
    n_digits, n_punct, score, keep)`` where score is a pinned-weight
    linear combination of count features and ``keep`` thresholds it.

    Stands in for the learned-classifier stage of a curation pipeline
    (fasttext / logistic quality models): features are exact counts,
    weights are integers, so the decision replays bit-exactly in any
    SQL engine. Row-local, zero shuffles — scales as a pure map."""
    t = F.col(text_col)
    n_tok = token_count(t).cast("long")
    n_stop = stopword_count(t).cast("long")
    n_digits = F.length(F.regexp_replace(t, r"[^0-9]", "")).cast("long")
    n_punct = F.length(F.regexp_replace(t, PUNCT_NEG_PATTERN, "")).cast("long")
    score = (
        QM_WEIGHT_STOPWORDS * n_stop
        + QM_WEIGHT_TOKENS * F.least(n_tok, F.lit(QM_TOKEN_CAP))
        + QM_WEIGHT_PUNCT * n_punct
        + QM_WEIGHT_DIGITS * n_digits
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_tok.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        n_digits.alias("n_digits"),
        n_punct.alias("n_punct"),
        score.alias("score"),
        ((score >= QM_THRESHOLD) & (n_tok >= QM_MIN_TOKENS)).alias("keep"),
    )
