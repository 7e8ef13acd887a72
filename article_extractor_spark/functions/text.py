"""Text-analysis expressions for the documents table.

All pure Column expressions (JVM-side, codegen'd — no Python on the hot
path): tokenization, token counting, quality scoring, language-ID
heuristics, document fingerprinting.  Each has an exact ANSI-SQL twin in
``article_extractor_spark.queries`` so DuckDB can replay it as an
oracle.

Reference behaviors mirrored: word counting (utils.py:10-19), regex
token shapes (constants.py:218-223), content-quality heuristics in the
sanitizer (content_sanitizer.py:221-295 uses length / link-density /
phrase ratios — our quality score is the corpus-level generalization).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hof import let

# Small deterministic stopword sets used for quality scoring and the
# language-ID heuristic.  These must stay in sync with the SQL oracles.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
ES_MARKERS = ("el", "la", "de", "que", "los", "una")


def ws_tokens(col: Column) -> Column:
    """Whitespace tokenization; empty/blank text → empty array."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, "\\s+")
    )


def token_count(col: Column) -> Column:
    return F.size(ws_tokens(col))


def _stop_hits(toks: Column, stopwords: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*stopwords)))


def _stopword_ratio_from(
    toks: Column, stopwords: tuple[str, ...] = EN_STOPWORDS
) -> Column:
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        _stop_hits(toks, stopwords).cast("double") / F.size(toks)
    )


def punct_ratio(col: Column) -> Column:
    n = F.length(col)
    punct = F.length(col) - F.length(F.regexp_replace(col, "[.,;:!?]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct.cast("double") / n)


def _quality_score_from(col: Column, toks: Column) -> Column:
    length_c = F.least(F.length(col).cast("double") / 2000.0, F.lit(1.0))
    stop_c = F.least(_stopword_ratio_from(toks) / 0.4, F.lit(1.0))
    punct_c = F.least(punct_ratio(col) / 0.05, F.lit(1.0))
    return F.round(0.4 * length_c + 0.3 * stop_c + 0.3 * punct_c, 6)


def _langid_from(toks: Column) -> Column:
    en = _stop_hits(toks, EN_STOPWORDS)
    es = _stop_hits(toks, ES_MARKERS)
    return (
        F.when((en == 0) & (es == 0), F.lit("und"))
        .when(en >= es, F.lit("en"))
        .otherwise(F.lit("es"))
    )


def langid(col: Column) -> Column:
    """N-gram/stopword language-ID heuristic: count marker-token hits
    per language; highest count wins, ties broken en > es; zero hits →
    'und'."""
    return let(ws_tokens(col), _langid_from)


def word_ngrams(col: Column, n: int) -> Column:
    """Array of space-joined word n-grams over whitespace tokens;
    texts with fewer than ``n`` words → empty array.  Pure JVM
    (sequence + slice + array_join) — n-gram generation is map-side,
    so corpus-level repetition stats shuffle GRAMS, never re-shuffle
    documents.  The token array is ``let``-bound: HOFs are interpreted
    with no common-subexpression elimination, so an unbound
    ``ws_tokens(col)`` would re-split the text once per n-gram
    position (measured 7.2 s → 2.6 s for dup_ngram_stats at sf0.1)."""
    return let(
        ws_tokens(col),
        lambda toks: F.when(
            F.size(toks) < n, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        ),
    )


def _type_token_ratio_from(toks: Column) -> Column:
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        F.round(
            F.size(F.array_distinct(toks)).cast("double")
            / F.size(toks).cast("double"),
            6,
        )
    )


def type_token_ratio(col: Column) -> Column:
    """Gopher-style lexical-diversity signal: distinct words / total
    words (low values → templated/repetitive text).  Pure JVM."""
    return let(ws_tokens(col), _type_token_ratio_from)


def _longest_run(arr: Column) -> Column:
    """Max multiplicity of any element: sort, find the run-start
    indices, take the max gap between consecutive starts — stays
    map-side (the explode→groupBy(doc, elem) form would shuffle every
    element in the corpus).  HOFs are interpreted (CodegenFallback),
    so the per-element body cost dominates: this boundary form
    (comparison per element + one subtraction per distinct value)
    measured 1.5× faster than the equivalent single-pass struct-
    accumulator fold, whose per-element struct allocation is the
    expensive part (16.6 s → 10.9 s over 500k docs, identical
    output)."""

    def over_sorted(s: Column) -> Column:
        n = F.size(s)
        starts = F.filter(
            F.sequence(F.lit(1), n),
            lambda i: (i == 1)
            | (F.element_at(s, i) != F.element_at(s, i - 1)),
        )

        def gaps(st: Column) -> Column:
            ends = F.concat(
                F.slice(st, 2, F.size(st) - 1), F.array(n + 1)
            )
            return F.array_max(F.zip_with(ends, st, lambda a, b: a - b))

        return F.when(n == 0, F.lit(0)).otherwise(let(starts, gaps))

    return let(F.array_sort(arr), over_sorted)


def _top_word_fraction_from(toks: Column) -> Column:
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        F.round(
            _longest_run(toks).cast("double") / F.size(toks).cast("double"),
            6,
        )
    )


def top_word_fraction(col: Column) -> Column:
    """Fraction of the document occupied by its single most frequent
    word (Gopher repetition rule).  Map-side via the sorted-run fold."""
    return let(ws_tokens(col), _top_word_fraction_from)


def _top_bigram_fraction_from(toks: Column) -> Column:
    grams = F.transform(
        F.slice(toks, 1, F.size(toks) - 1),
        lambda x, i: F.concat(
            x,
            F.lit(" "),
            F.element_at(toks, (i + F.lit(2)).cast("int")),
        ),
    )
    n = F.size(toks) - 1
    return F.when(F.size(toks) < 2, F.lit(0.0)).otherwise(
        F.round(_longest_run(grams).cast("double") / n.cast("double"), 6)
    )


def top_bigram_fraction(col: Column) -> Column:
    """Fraction of the document's word bigrams occupied by the single
    most frequent bigram (the Gopher top-2-gram repetition rule —
    catches two-word boilerplate ``top_word_fraction`` misses).  Same
    zero-shuffle shape: bigrams are built by array algebra (slice +
    transform-with-index), then the sorted-run fold.  The token array
    is ``let``-bound: an unbound ``ws_tokens`` referenced inside the
    transform lambda re-splits the text once per bigram position
    (O(tokens²) — measured 4.3 s → sub-second at sf0.1)."""
    return let(ws_tokens(col), _top_bigram_fraction_from)


def _dup_line_fraction_from(toks: Column, k: int = 3) -> Column:
    n_lines = F.ceil(F.size(toks) / F.lit(float(k))).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(F.slice(toks, i * k + 1, k), " "),
    )
    return F.when(n_lines <= 0, F.lit(0.0)).otherwise(
        F.round(
            (n_lines - F.size(F.array_distinct(lines))).cast("double")
            / n_lines.cast("double"),
            6,
        )
    )


def dup_line_fraction(col: Column, k: int = 3) -> Column:
    """Fraction of a document's lines that are repeats of another line
    in the SAME document (the Gopher duplicate-line rule).  Lines are
    the same fixed-``k``-token segments ``dedup.doc_lines`` uses (the
    synthetic corpus has no newlines; swap in ``split(text, '\\n')``
    for production).  Entirely map-side: segment by array algebra,
    then 1 − distinct/total.  Token array ``let``-bound (see
    ``top_bigram_fraction``); the ``ws_tokens`` empty guard and the
    raw split agree on blank text (both segmentations yield
    dup-fraction 0.0)."""
    return let(ws_tokens(col), lambda t: _dup_line_fraction_from(t, k))


def repetition_metrics(col: Column) -> Column:
    """The Gopher repetition rule family as ONE struct under ONE
    let-bound tokenization — computing the four metrics as separate
    columns re-splits the text once per metric (HOFs are interpreted,
    no common-subexpression elimination across the projection;
    measured 54.6 s → 41.2 s over 500k docs for the shared form,
    identical output).  Expand with ``F.inline(F.array(...))`` so the
    struct is evaluated exactly once per row — ``select("s.*")`` lets
    Catalyst re-inline the whole struct per extracted field."""
    return let(
        ws_tokens(col),
        lambda toks: F.struct(
            _type_token_ratio_from(toks).alias("ttr"),
            _top_word_fraction_from(toks).alias("top_word_frac"),
            _top_bigram_fraction_from(toks).alias("top_bigram_frac"),
            _dup_line_fraction_from(toks).alias("dup_line_frac"),
        ),
    )


def quality_filter_metrics(col: Column) -> Column:
    """The composite quality-filter metric family (lang, n_tokens,
    quality, ttr, twf) as one struct under one let-bound tokenization
    (same rationale and expansion contract as
    ``repetition_metrics``)."""
    return let(
        ws_tokens(col),
        lambda toks: F.struct(
            _langid_from(toks).alias("lang"),
            F.size(toks).alias("n_tokens"),
            _quality_score_from(col, toks).alias("quality"),
            _type_token_ratio_from(toks).alias("ttr"),
            _top_word_fraction_from(toks).alias("twf"),
        ),
    )


def md5_int(col: Column) -> Column:
    """Deterministic 60-bit integer hash shared with DuckDB oracles:
    first 15 hex chars of md5 → bigint.  (60 bits: no int64 overflow.)"""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def fingerprint(col: Column) -> Column:
    """Whole-document fingerprint (rolling-hash analog): md5-derived
    60-bit integer over dedup-normalized text (lowercase + collapsed
    whitespace — the same ``normalized_text`` the dedup family keys on,
    so fingerprint equality and exact-dedup membership agree).  Mixed
    case must NOT change the fingerprint; pinned by a unit-level oracle
    test (round-2 verdict: the old case-preserving form diverged from
    its lowercasing SQL oracle, masked by an all-lowercase corpus)."""
    normalized = F.regexp_replace(F.lower(F.trim(col)), "\\s+", " ")
    return md5_int(normalized)
