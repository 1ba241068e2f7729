"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting.

These generalize the reference's abstract-processing surface (clean_html +
notebook NLP, reference src/research_index_backend/utils.py:5-23 and
notebooks/nlp.ipynb) into the operators a training-data pipeline runs over
every document. All are pure column expressions — JVM codegen, zero Python
in the hot path, embarrassingly parallel at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A tiny embedded English stopword list (public knowledge); real pipelines
# broadcast a per-language list.
EN_STOPWORDS = ("the", "a", "an", "of", "to", "in", "and", "is", "it",
                "that", "for", "on", "with", "as", "at", "by")


def whitespace_tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def word_tokens(text: Column | str) -> Column:
    """Word tokenization: alnum/apostrophe runs, lowercased."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(
        F.split(F.lower(c), r"[^a-z0-9']+"), lambda t: t != "")


# GPT-2-style pre-tokenizer, simplified to the portable subset (letter runs,
# digit runs, symbol runs — each with an optional leading space). Java and
# RE2 both support this dialect, so the count is oracle-checkable.
BPE_PRETOKEN_PATTERN = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+"

# translate() alphabets for regex-free char-class counts: Java regex \s is
# exactly these six ASCII chars, so the translate forms are value-identical
# to the \s-based regexp_counts they replace (see quality_score).
_WS6 = " \t\n\x0b\x0c\r"
_ALNUM = ("abcdefghijklmnopqrstuvwxyz"
          "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789")


def bpe_token_count(text: Column | str) -> Column:
    """BPE-ish token count: matches of the GPT-2-style pre-tokenizer
    pattern — the standard cheap proxy for LLM token budgets (a real
    tokenizer refines each pre-token into subwords, so this is a lower
    bound that tracks closely for English).

    regexp_count, not size(regexp_extract_all): same non-overlapping
    match traversal (value-identical, 0 diffs at the 100x probe) but
    counting allocates no per-match strings/array (r13; ~6% on the
    full token_stats plan, pure win on allocation pressure)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_PRETOKEN_PATTERN))


def stopword_ratio(text: Column | str,
                   stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    toks = word_tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def lang_id(text: Column | str, threshold: float = 0.05) -> Column:
    """N-gram-free heuristic language ID: English iff the stopword ratio
    clears the threshold. (The corpus here is synthetic English; the shape —
    broadcastable per-language score, argmax — is the real operator.)"""
    return F.when(stopword_ratio(text) >= threshold, F.lit("en")) \
            .otherwise(F.lit("unknown"))


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Length / punctuation / stopword quality heuristics per document.

    Returns one row per doc with the raw signals and a composite [0,1]
    score; the thresholds are the standard web-corpus filters (mean word
    length in [3,10], stopword presence, bounded symbol ratio).

    Plan: one staged select so the word-token array materializes ONCE
    (the inlined form re-ran the interpreted split+filter per consumer:
    9.4s -> 5.9s at 10x sf0.1), and the single-char-class counts ride
    translate() — a plain char-map pass, no regex engine at all.
    Java's \\s is exactly the six ASCII chars [ \\t\\n\\x0B\\f\\r], so
    len(translate(c, those6, '')) == len - regexp_count(\\s), and
    removing [alnum + those6] leaves exactly the [^a-zA-Z0-9\\s] class
    (unicode letters count as punct under BOTH forms — Java character
    classes are ASCII here). Value-identical by construction and by
    measurement (0 diffs on the 100x corpus); interleaved A/B 42.5s ->
    23.1s (1.84x) for the signal scan at the 100x probe (r13). The \\S+
    token count keeps regexp_count (runs, not a char class).
    """
    c = F.col(text_col)
    signals = df.select(
        F.col(id_col),
        F.regexp_count(c, F.lit(r"\S+")).alias("__n_tok"),
        F.length(F.translate(c, _WS6, "")).alias("__len_nonws"),
        F.length(F.translate(c, _ALNUM + _WS6, "")).alias("__n_punct"),
        F.length(c).alias("__len_all"),
        word_tokens(c).alias("__wt"),
    ).select(
        id_col,
        F.col("__n_tok").alias("n_tokens"),
        (F.col("__len_nonws") / F.greatest(F.col("__n_tok"), F.lit(1)))
        .alias("mean_word_len"),
        (F.col("__n_punct") / F.greatest(F.col("__len_all"), F.lit(1)))
        .alias("punct_ratio"),
        (F.size(F.filter("__wt", lambda t: t.isin(*EN_STOPWORDS)))
         / F.greatest(F.size("__wt"), F.lit(1))).alias("stopword_ratio"),
    )
    score = (
        F.when((F.col("mean_word_len") >= 3)
               & (F.col("mean_word_len") <= 10), F.lit(0.4))
        .otherwise(F.lit(0.0))
        + F.when(F.col("stopword_ratio") >= 0.01, F.lit(0.3))
        .otherwise(F.lit(0.0))
        + F.when(F.col("punct_ratio") <= 0.2, F.lit(0.3))
        .otherwise(F.lit(0.0))
    )
    return signals.select(
        id_col, "n_tokens", "mean_word_len", "punct_ratio",
        "stopword_ratio", score.alias("quality"),
    )


def fingerprint(text: Column | str, prefix_chars: int = 64) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized lowercased text. A rolling/winnowed variant
    would shingle first; md5-of-normalized is the exact-dup anchor."""
    c = F.col(text) if isinstance(text, str) else text
    norm = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.md5(norm)
