"""Text-analysis column functions (SURVEY.md §2.7 N3) — all pure Catalyst
expressions (JVM-side, codegen'd); no Python in the hot path.

Each text primitive is defined once, here. One tokenizer: the documents
testdata is single-space-joined word text, so :func:`tokens` is
``split(text, ' ')``, which matches DuckDB's ``string_split(text, ' ')``
exactly (the oracle contract). One n-gram builder, :func:`ngrams`, under
bigrams, shingles, struct bigrams and the winnowing k-gram hashes.
Arrays are bound once per row with :func:`let`: HOF lambdas run in the
interpreter, and a lambda body that mentions an outer expression (the
split, a hash array) re-evaluates it for every element. Plan-lint's
``hof-invariant`` rule (plans/lint.py) flags such a lambda. A pandas UDF
takes :func:`tokens`, never a ``let``-bound array such as :func:`shingles`:
Spark 4.1 can fail to generate code for a Python UDF whose argument holds
a lambda (``[INTERNAL_ERROR] Cannot generate code for expression``,
depending on what the session ran before), while a plain split never did;
plan-lint's ``udf-hof-arg`` rule flags that shape.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language marker-word sets for the n-gram/stopword language-ID
# heuristic. Deterministic and cheap: one array_intersect per language.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "fr": ["le", "la", "et", "de", "est"],
    "es": ["el", "la", "y", "de", "es"],
    "de": ["der", "die", "und", "von", "ist"],
}

STOPWORDS = ["the", "a", "of", "and", "is", "to", "in"]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def let(value: Column, fn: Callable[[Column], Column]) -> Column:
    """``fn(value)`` with ``value`` evaluated once per row: ``fn`` receives
    it as a lambda variable, so HOF lambdas inside ``fn`` that mention it
    read the bound array instead of re-evaluating ``value`` per element.
    A null ``value`` reaches ``fn`` as null, exactly as when inlined."""
    return F.element_at(F.transform(F.array(value), fn), 1)


def tokens(col: Column | str) -> Column:
    """Whitespace tokens (single-space semantics, oracle-aligned)."""
    return F.split(_c(col), " ")


def tokens_regex(col: Column | str) -> Column:
    """BPE-ish robust tokenizer: word pieces, numbers, or single punctuation
    marks — for raw text that isn't single-space-clean."""
    return F.expr(
        f"regexp_extract_all({_sql_name(col)}, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)"
    )


def _sql_name(col: Column | str) -> str:
    if isinstance(col, str):
        return col
    raise TypeError("tokens_regex needs a column name string")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def stopword_ratio(col: Column | str) -> Column:
    # stopword hits = tokens minus what is left once every stopword is
    # removed: no lambda, so the ratio may feed a pandas UDF (score_quality)
    toks = tokens(col)
    kept = functools.reduce(F.array_remove, STOPWORDS, toks)
    return (F.size(toks) - F.size(kept)) / F.size(toks)


def avg_token_length(col: Column | str) -> Column:
    toks = tokens(col)
    # total chars minus the single-space separators, over token count
    return (F.length(_c(col)) - (F.size(toks) - 1)) / F.size(toks)


def distinct_token_ratio(col: Column | str) -> Column:
    toks = tokens(col)
    return F.size(F.array_distinct(toks)) / F.size(toks)


def dup_word_frac(col: Column | str) -> Column:
    """Duplicate-word fraction: the share of tokens that repeat an earlier
    one (the Gopher repetition signal; 0 for all-distinct text). Null text
    gives null."""
    return 1 - distinct_token_ratio(col)


def quality_score(col: Column | str) -> Column:
    """Composite quality heuristic in [0, ~1]: rewards lexical diversity and
    sane token lengths, penalizes stopword stuffing. Deterministic algebra
    only — reproducible in ANSI SQL for the oracle."""
    return (
        F.lit(0.5) * distinct_token_ratio(col)
        + F.lit(0.3) * F.least(avg_token_length(col) / F.lit(8.0), F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - stopword_ratio(col))
    )


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Per-language marker-hit counts (the n-gram-profile heuristic reduced
    to marker words — adequate and deterministic)."""
    toks = tokens(col)
    return {
        lang: F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(m) for m in markers])))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(col: Column | str) -> Column:
    """argmax over lang_scores; ties broken toward the lexicographically
    greatest language code (documented contract, mirrored in the oracle
    SQL); 'und' if no marker hits at all."""
    scores = lang_scores(col)
    pairs = F.array(
        *[
            F.struct(score.alias("score"), F.lit(lang).alias("lang"))
            for lang, score in sorted(scores.items())
        ]
    )
    # struct ordering is field-by-field: score desc, then lang desc.
    best = F.sort_array(pairs, asc=False)[0]
    return F.when(best["score"] <= 0, F.lit("und")).otherwise(best["lang"])


def ngrams(col: Column | str, n: int) -> Column:
    """All word n-grams of a text column in order, occurrences included
    (NOT distinct), each the n tokens joined by single spaces."""

    def grams(t: Column) -> Column:
        starts = F.sequence(F.lit(1), F.size(t) - (n - 1))
        joined = F.transform(starts, lambda i: F.array_join(F.slice(t, i, n), " "))
        # sequence(1, 0) is the DESCENDING [1, 0]: guard docs under n tokens
        return F.when(F.size(t) >= n, joined).otherwise(F.array().cast("array<string>"))

    return let(tokens(col), grams)


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column."""
    return F.array_distinct(ngrams(col, n))


def bigrams(col: Column | str) -> Column:
    """ALL word bigrams in order (duplicates kept — unlike shingles, which
    dedupe): the repetition-signal denominator."""
    return ngrams(col, 2)


def bigram_pairs(col: Column | str) -> Column:
    """:func:`bigrams` as ``struct<w1, w2>``, for relations keyed on the two
    words: each bigram split at its one space (a token never holds one)."""
    return F.transform(
        bigrams(col),
        lambda b: F.struct(
            F.substring_index(b, " ", 1).alias("w1"),
            F.substring_index(b, " ", -1).alias("w2"),
        ),
    )


def top_element_count(arr: Column) -> Column:
    """Occurrence count of the most frequent element of an array. Pure HOF
    (O(distinct × n) per row, map-only — no explode/groupBy shuffle), so
    repetition scoring stays a single scan-bound pass at 100 TB."""
    return let(
        arr,
        lambda a: F.array_max(
            F.transform(
                F.array_distinct(a),
                lambda w: F.size(F.filter(a, lambda t: t == w)),
            )
        ),
    )


def fingerprint_md5(col: Column | str) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized lowercase text
    (the exact-dedup key). md5 exists in DuckDB too → oracle-able."""
    normalized = F.regexp_replace(F.trim(F.lower(_c(col))), r"\s+", " ")
    return F.md5(normalized)


def winnow_fingerprints(col: Column | str, k: int = 3, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    scheme): hash every k-gram in order, slide a window of w hashes, keep
    each window's minimum, dedupe. Guarantees any shared token run of
    length >= w+k-1 between two documents yields a shared fingerprint —
    the rolling-hash fingerprint the pipeline north-star asks for.

    Pure Catalyst (transform/slice/array_min over md5 hex strings — string
    order is hash order, portable to the oracle): no Python in the path,
    so 100 TB of documents fingerprint at scan speed, map-side only."""
    hashes = F.transform(ngrams(col, k), F.md5)
    # fewer than w hashes make one window; none make one null, compacted away
    wins = let(
        hashes,
        lambda h: F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(h) - (w - 1), F.lit(1))),
            lambda i: F.array_min(F.slice(h, i, w)),
        ),
    )
    return F.array_distinct(F.array_compact(wins))
