"""Text-analysis column expressions (training-data pipeline surface).

All pure Catalyst expressions (split / transform / aggregate / regexp) —
JVM-side, codegen'd, no Python in the hot path. Tokenization is plain
single-space split so the DuckDB oracle (``string_split(text, ' ')``)
matches exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from .vector import ColumnOrName, _c

# BPE-ish lexer: runs of word chars, or a single non-space symbol.
TOKEN_REGEX = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deterministic and SQL-expressible (list_intersect oracle).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "se", "las"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "im", "ein"],
}


def words(col: ColumnOrName) -> Column:
    """Whitespace tokens (single-space split)."""
    return F.split(_c(col), " ")


def word_count(col: ColumnOrName) -> Column:
    return F.size(words(col))


def tokens_bpe(col: ColumnOrName) -> Column:
    """Regex lexer tokens — the engine's token-counting primitive."""
    return F.regexp_extract_all(_c(col), F.lit(TOKEN_REGEX), 0)


def token_count(col: ColumnOrName) -> Column:
    return F.size(tokens_bpe(col))


def shingles(col: ColumnOrName, n: int = 3) -> Column:
    """Word n-gram shingles: ``n`` consecutive words joined by a space.
    Documents shorter than ``n`` words yield an empty list.

    The words array is bound ONCE as a lambda variable (the outer
    one-element transform) so the inner per-shingle lambda touches only
    lambda variables: an outer expression referenced inside an
    interpreted lambda body re-evaluates per call, which here would
    re-run the split once per shingle — O(len^2) per document (the r10
    HOF sweep; measured 3.3x on 2000-word docs for the 20-word
    variant, worse for 3-grams)."""
    def make(w):
        return F.when(
            F.size(w) >= n,
            F.transform(F.sequence(F.lit(1), F.size(w) - n + 1),
                        lambda i: F.concat_ws(" ", F.slice(w, i, n))),
        ).otherwise(F.array().cast("array<string>"))
    return F.transform(F.array(words(col)), make)[0]


def punct_ratio(col: ColumnOrName) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    c = _c(col)
    non_word = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    return F.when(F.length(c) > 0, non_word.cast("double") / F.length(c)).otherwise(F.lit(0.0))


def quality_score(col: ColumnOrName) -> Column:
    """Heuristic document quality in [0,1]: rewards mid-length docs,
    penalizes punctuation soup and very short text. Deterministic
    arithmetic only (SQL-oracle-able)."""
    c = _c(col)
    wc = word_count(c).cast("double")
    len_score = F.least(wc / F.lit(20.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(c) * 4)
    mean_wlen = F.when(wc > 0, F.length(c).cast("double") / wc).otherwise(F.lit(0.0))
    wlen_score = F.when((mean_wlen >= 3) & (mean_wlen <= 12), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(len_score * punct_pen * wlen_score, 6)


def gopher_rules(col: ColumnOrName) -> dict[str, Column]:
    """Gopher's document-level quality rules (Rae et al. 2021,
    arXiv:2112.11446, Appendix A1.1) as named boolean columns, with
    the published thresholds verbatim: 50..100,000 words; mean word
    length in [3, 10]; >=80% of words contain an alphabetic character;
    >=2 stop words; symbol-to-word ratio (# or ...) <= 0.1. The
    line-based rules (bullet/ellipsis line fractions) are omitted —
    the fixture corpus carries no newlines — and noted as such where
    the battery is registered. Every threshold compare is
    cross-multiplied integer arithmetic over the shared single-space
    word split: no float sits on any keep/drop boundary, so both
    engines agree exactly. NULL text propagates NULL flags (an
    unreadable doc is not 'failed', it is unknown)."""
    c = _c(col)
    w = words(c)
    n = F.size(w)
    sum_len = F.aggregate(w, F.lit(0).cast("bigint"),
                          lambda acc, t: acc + F.length(t))
    n_alpha = F.size(F.filter(w, lambda t: t.rlike("[A-Za-z]")))
    stop_hits = F.size(F.filter(
        w, lambda t: F.lower(t).isin(*STOPWORDS["en"])))
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ell = ((F.length(c)
              - F.length(F.replace(c, F.lit("..."), F.lit(""))))
             / F.lit(3)).cast("bigint")
    return {
        "word_count_ok": (n >= 50) & (n <= 100_000),
        "mean_word_len_ok": (sum_len >= 3 * n) & (sum_len <= 10 * n),
        "alpha_words_ok": n_alpha * 5 >= n.cast("bigint") * 4,
        "stopwords_ok": stop_hits >= 2,
        "symbol_ratio_ok": (n_hash + n_ell) * 10 <= n.cast("bigint"),
    }


def c4_sentences_kept(col: ColumnOrName) -> Column:
    """C4's line-level retention count (Raffel et al. 2020, §2.2),
    adapted to SENTENCES because the fixture corpus carries no
    newlines (the same adaptation gopher_rules documents): the text
    splits on '.', and a fragment is RETAINED iff (a) it is
    terminal-punctuated — true by construction for every fragment but
    the last, which must end in '!', '?' or '"' — (b) it has at least
    3 words on the literal-space split, and (c) it does not contain
    'javascript' (C4 removes such lines verbatim). Pure codegen'd
    HOFs; index arithmetic mirrors the 1-based DuckDB oracle
    exactly."""
    c = _c(col)
    arr = F.split(c, r"\.")
    n = F.size(arr)
    last_ok = F.substring(F.rtrim(F.element_at(arr, -1)), -1, 1) \
        .isin("!", "?", '"')
    return F.size(F.filter(
        arr,
        lambda x, i: ((i < n - 1) | last_ok)
        & (F.size(F.filter(F.split(x, " "), lambda t: t != "")) >= 3)
        & ~F.contains(F.lower(x), F.lit("javascript"))))


def c4_rules(col: ColumnOrName) -> dict[str, Column]:
    """C4's page-level quality rules (Raffel et al. 2020, §2.2) as
    named boolean columns: >= 5 retained sentences (the paper's
    5-sentence minimum over retained lines), no 'lorem ipsum', no
    curly brace (the paper's code-page heuristic). The dirty-word
    list is omitted (unpublishable corpus artifact); 3+-sentence-span
    dedup is covered by the dup_paragraph family. Integer/boolean
    only — no float on any keep/drop boundary. NULL text propagates
    NULL flags."""
    c = _c(col)
    return {
        "enough_sentences": c4_sentences_kept(c) >= 5,
        "no_lorem_ipsum": ~F.contains(F.lower(c), F.lit("lorem ipsum")),
        "no_curly_brace": ~F.contains(c, F.lit("{")),
    }


def lang_scores(col: ColumnOrName) -> dict[str, Column]:
    """Stopword-hit count per candidate language."""
    w = F.transform(words(col), F.lower)
    return {
        lang: F.size(F.filter(w, lambda t: t.isin(*sw)))
        for lang, sw in STOPWORDS.items()
    }


def fingerprint(col: ColumnOrName) -> Column:
    """Document fingerprint: md5 of the case/space-normalized text.
    Stable under case and runs-of-whitespace differences."""
    norm = F.lower(F.regexp_replace(F.trim(_c(col)), r"\s+", " "))
    return F.md5(norm)
