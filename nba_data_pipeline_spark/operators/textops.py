"""Text-analysis operators for large-scale training-data pipelines:
language-ID (n-gram/stopword heuristic), quality scoring, token counting,
document fingerprinting, shingling and winnowing. All are JVM-side
Catalyst expressions (split / regexp / higher-order array functions) that
the optimizer can see, except ``predict_lang_fast``, an Arrow
``pandas_udf``.

These extend the reference's text handling (line parsing, keyword
predicates — run_scraper.py:97-101, nba_props_scraper.py:633-645) to the
LLM-data-pipeline operator set called for by the project north star.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, functions as F

# Stopword lists for the language-ID heuristic. Deterministic and tiny on
# purpose: the operator's contract is a reproducible score, not NLP accuracy.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "es": ("el", "la", "de", "y", "es", "que", "los", "un"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "就"),
}

WS_TOKEN_PATTERN = r"\s+"
# BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space symbol.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT_PATTERN = r"[.!?,;:]"


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization (after trim so no boundary empties)."""
    return F.split(F.trim(text), WS_TOKEN_PATTERN)


def token_count_ws(text: Column) -> Column:
    return F.size(ws_tokens(text))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count via the pre-tokenizer regex — the cheap proxy for
    'how many LLM tokens is this document'."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), 0))


def stopword_hits(text: Column, lang: str) -> Column:
    words = LANG_STOPWORDS[lang]
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(ws_tokens(text), lambda t: F.array_contains(arr, t)))


def predict_lang(text: Column) -> Column:
    """Stopword-scoring language ID with a deterministic tie-break (langs
    compared in sorted order; first max wins)."""
    langs = sorted(LANG_STOPWORDS)
    scores = {lang: stopword_hits(text, lang) for lang in langs}
    best = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        better = scores[lang] > best_score
        best = F.when(better, F.lit(lang)).otherwise(best)
        best_score = F.when(better, scores[lang]).otherwise(best_score)
    return best


def predict_lang_fast(text: Column) -> Column:
    """Arrow-vectorized language ID — identical semantics to
    ``predict_lang`` (stopword occurrence counts, first-max over langs in
    sorted order) but one tokenization pass per document instead of one
    regex split per (lang × stopword) filter, which is what makes the
    pure-expression form O(40×) slower on long documents."""
    langs = sorted(LANG_STOPWORDS)
    stop_sets = {lang: frozenset(LANG_STOPWORDS[lang]) for lang in langs}

    @F.pandas_udf("string")
    def _predict(s: pd.Series) -> pd.Series:
        def f(t: str) -> str:
            toks = (t or "").split()
            best_lang, best_score = langs[0], -1
            for lang in langs:
                ss = stop_sets[lang]
                score = sum(1 for tok in toks if tok in ss)
                if score > best_score:
                    best_lang, best_score = lang, score
            return best_lang

        return s.map(f)

    return _predict(text)


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio features + a composite score —
    all exact-integer counts divided pairwise, so cross-engine stable."""
    n_chars = F.length(text)
    n_tokens = token_count_ws(text)
    n_nonspace = F.length(F.regexp_replace(text, r"\s", ""))
    n_punct = F.size(F.regexp_extract_all(text, F.lit(PUNCT_PATTERN), 0))
    n_stop = stopword_hits(text, "en")
    avg_token_len = n_nonspace.cast("double") / n_tokens
    punct_ratio = n_punct.cast("double") / n_chars
    stop_ratio = n_stop.cast("double") / n_tokens
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "avg_token_len": avg_token_len,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio,
    }


def doc_fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of the sorted distinct token set — invariant
    to word order and duplication, the cheap exact-near-dup key."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(ws_tokens(text))), " "))


def word_shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles as strings in document order; [] when the doc has
    fewer than k tokens or is null. The tokens are exactly ``ws_tokens``'s
    (trim, split on ``\\s+``, so a leading tab or a trailing newline is an
    empty token, and U+00A0 is not whitespace). Every whitespace run
    becomes one space, then one regex pass captures, at each token start,
    the zero-width lookahead over the next k space-separated tokens."""
    one_space = F.regexp_replace(F.trim(text), WS_TOKEN_PATTERN, " ")
    gram = f"(?:^|(?<= ))(?=([^ ]*(?: [^ ]*){{{k - 1}}}))"
    return F.coalesce(
        F.regexp_extract_all(one_space, F.lit(gram), 1),
        F.array().cast("array<string>"),
    )


def distinct_word_shingles_fast(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles, first occurrence kept, in document order
    — the shingle set every near-dup operator consumes."""
    return F.array_distinct(word_shingles(text, k))


def winnow_minima_fast(text: Column, k: int = 3, w: int = 4) -> Column:
    """Winnowing fingerprints: the distinct sliding-window (width ``w``)
    minima over the md5 hashes of the document's k-grams, in window order
    (duplicates removed, first occurrence kept); [] when the doc has fewer
    than ``w`` k-grams."""

    def minima(h: Column) -> Column:
        n_win = F.size(h) - (w - 1)
        starts = F.when(n_win >= 1, F.sequence(F.lit(1), n_win)).otherwise(
            F.array().cast("array<int>")
        )
        return F.array_distinct(
            F.transform(
                starts,
                lambda i: F.least(*[F.element_at(h, i + j) for j in range(w)]),
            )
        )

    hashes = F.transform(word_shingles(text, k), lambda g: F.md5(g))
    # An array expression named inside a lambda is re-evaluated for every
    # element; a lambda variable is not. Passing the hashes in as the one
    # element of a one-element array binds them once per row.
    return F.element_at(F.transform(F.array(hashes), minima), 1)
