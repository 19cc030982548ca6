"""Text-analysis functions for a training-data pipeline over the
``documents`` table: token counting, quality scoring, language ID,
document fingerprinting. All pure ``pyspark.sql.functions`` compositions —
JVM-side, codegen'd, no UDFs — so they run at corpus scale and each has an
ANSI-SQL equivalent for the DuckDB oracle."""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import Column
from pyspark.sql import functions as F

# word lists for the n-gram/function-word language heuristic; tiny on
# purpose (broadcastable as literals inside the expression)
LANG_MARKERS: Dict[str, List[str]] = {
    "de": ["der", "die", "das", "und", "nicht", "ist", "ich", "mit"],
    "en": ["the", "and", "of", "to", "is", "that", "for", "it"],
    "es": ["el", "la", "los", "que", "de", "es", "una", "para"],
    "fr": ["le", "la", "les", "et", "est", "que", "pour", "dans"],
    "zh": ["de5", "shi4", "le5", "zai4", "you3", "wo3", "ta1", "men5"],
}


def words(col: Column) -> Column:
    """Whitespace tokenization, empty tokens dropped."""
    return F.filter(F.split(col, r"\s+"), lambda w: w != "")


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(col))


def token_count_regex(col: Column) -> Column:
    """BPE-ish token count: word pieces OR single non-space punctuation —
    the classic ``\\w+|[^\\w\\s]`` pre-tokenizer."""
    return F.size(F.regexp_extract_all(col, F.lit(r"(\w+|[^\w\s])"), 1))


def ngrams_of_words(ws: Column, n: int) -> Column:
    """Word n-gram shingles (space-joined) from an ALREADY-TOKENIZED
    array column. Built from n-1 ``zip_with`` folds over n shifted
    slices — O(w·n) total work. The naive per-position
    ``transform(sequence, i -> array_join(slice(ws, i, n)))`` form is
    ~10× slower: Catalyst inlines the ``ws`` subexpression into the
    lambda, so every element re-evaluates the tokenizer split.

    Pass a materialized words column (separate projection), not
    ``words(text)`` inline, or the same inlining recomputes the split
    once per slice."""
    size = F.size(ws)
    m = size - (n - 1)
    parts = [F.slice(ws, i + 1, m) for i in range(n)]
    out = parts[0]
    for p in parts[1:]:
        out = F.zip_with(out, p,
                         lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(size >= n, out) \
        .otherwise(F.array().cast("array<string>"))


def word_ngrams(col: Column, n: int) -> Column:
    """Word n-gram shingles of a raw text column. Returns an empty array
    for texts shorter than n words. (For hot paths, tokenize into its own
    projection first and use :func:`ngrams_of_words` — see its note.)"""
    return ngrams_of_words(words(col), n)


def quality_metrics(col: Column) -> Dict[str, Column]:
    """Length/punctuation/digit/uppercase/stopword ratios + a composite
    score — standard pretraining-corpus quality heuristics."""
    length = F.length(col)
    n_words = token_count_ws(col)
    punct = F.length(F.regexp_replace(col, r"[^\.,;:!\?]", ""))
    digits = F.length(F.regexp_replace(col, r"[^0-9]", ""))
    uppers = F.length(F.regexp_replace(col, r"[^A-Z]", ""))
    stop = F.size(F.filter(
        words(F.lower(col)),
        lambda w: w.isin(*LANG_MARKERS["en"])))
    safe_len = F.greatest(length, F.lit(1)).cast("double")
    safe_words = F.greatest(n_words, F.lit(1)).cast("double")
    # mean word length = non-whitespace chars / words: subtracting the
    # word count instead would bill every EXTRA whitespace char (runs
    # of spaces, newlines) to the words and mis-trigger the >12 penalty
    non_ws = F.length(F.regexp_replace(col, r"\s", ""))
    mean_word_len = non_ws.cast("double") / safe_words
    # NULL text → NULL score, explicitly: every penalty condition is
    # NULL for NULL input and WHEN's otherwise() branch would award it
    # the BEST score (1.0) while '' correctly scores 0.0 — a quality
    # filter would then keep every null-text document as top quality
    score = F.when(col.isNull(), F.lit(None).cast("double")).otherwise(
        F.when(length < 20, 0.0).otherwise(1.0)
        * F.when(punct / safe_len > 0.2, 0.5).otherwise(1.0)
        * F.when(digits / safe_len > 0.3, 0.5).otherwise(1.0)
        * F.when(mean_word_len > 12, 0.5).otherwise(1.0))
    return {
        "n_chars": length,
        "n_words": n_words,
        "punct_ratio": punct / safe_len,
        "digit_ratio": digits / safe_len,
        "upper_ratio": uppers / safe_len,
        "stopword_ratio": stop.cast("double") / safe_words,
        "mean_word_len": mean_word_len,
        "quality_score": score,
    }


def lang_scores(col: Column) -> Dict[str, Column]:
    """Per-language marker-word hit counts."""
    low = words(F.lower(col))
    return {lang: F.size(F.filter(low, lambda w: w.isin(*markers)))
            for lang, markers in sorted(LANG_MARKERS.items())}


def language_id(col: Column) -> Column:
    """Predicted language: argmax of marker-word hits, ties broken by
    language code ascending, 'und' (undetermined) when no marker hits."""
    scores = lang_scores(col)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # the fold nests each WHEN OUTSIDE the previous one, so the LAST
    # language iterated is evaluated first and only overwrites on a
    # strict >: iterate ASCENDING so ties fall through to the
    # ascending-first code (matching the oracle's ascending CASE)
    for lang in sorted(scores):
        s = scores[lang]
        take = s > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, s).otherwise(best_score)
    return best_lang


def doc_fingerprint(col: Column) -> Column:
    """Content fingerprint: md5 of case/whitespace-normalized text.
    (md5 exists in both Spark and DuckDB, making the oracle exact; the
    scale path would swap in xxhash64 for speed.)

    Case-folds with the repo's Go SIMPLE per-rune mapping (go_lower),
    not ``F.lower``: the JDK's FULL mapping expands 'İ' to two code
    points (i + U+0307), which no SQL replay engine reproduces —
    simple mapping keeps the fingerprint contract one-rune-to-one-rune
    and matches DuckDB's lower() on the pinned Unicode corpus
    (tests/test_oracle_unicode_injection.py). Contextual full-mapping
    corners (final sigma) are out of the replication contract.

    Trim AFTER the \\s+ collapse, not before: ``F.trim`` strips only
    ASCII spaces, so trim-first left leading/trailing tabs/newlines
    alive as a leading/trailing space after the collapse — documents
    differing only by a trailing newline got distinct fingerprints and
    dedup_exact never pooled them. Post-collapse the edges are at most
    one ASCII space, which trim removes exactly (the oracle must pass
    trim an explicit ' ' charset: DuckDB's one-arg trim also strips
    Unicode spaces such as NBSP, Spark's never does)."""
    from ..functions.casing import go_lower
    return F.md5(F.trim(F.regexp_replace(go_lower(col), r"\s+", " ")))
