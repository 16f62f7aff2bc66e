"""Text-analysis expression library (driver extension ops, SURVEY.md §2.10).

Language-ID, quality scoring, token counting, and document fingerprinting
over the ``documents`` table — all as pure Catalyst expressions (split /
filter / transform higher-order functions), so they run JVM-side inside
whole-stage codegen and scale linearly with no Python in the hot path.

Every builder here has an exact ANSI-SQL twin (see __spark_entry__.py
oracle_sql) so the DuckDB oracle can verify it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language marker vocabularies for the n-gram/stopword heuristic.
# Chosen for determinism, not linguistic completeness.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "de", "et", "est"),
    "zh": ("de", "le", "shi", "wo", "ni"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is", "it")

PUNCT_CHARS = ".,!?;:"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization; empty string → empty array (not [''])."""
    text = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def punct_ratio(text: Column | str) -> Column:
    """# punctuation chars / # chars (0 for empty text)."""
    text = F.col(text) if isinstance(text, str) else text
    stripped = F.translate(text, PUNCT_CHARS, "")
    return F.when(
        F.length(text) > 0,
        (F.length(text) - F.length(stripped)).cast("double") / F.length(text),
    ).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] doc-quality heuristic:
    0.4·min(1, tokens/64) + 0.3·(1 − punct_ratio) + 0.3·min(1, 4·stopwords/tokens)

    Single pass over the token array: token count and stopword hits
    accumulate in one `aggregate` with a struct accumulator, and the
    score is assembled in the aggregate's *finish* lambda — references to
    the accumulator are lambda variables (evaluated once), unlike column
    expressions, which Catalyst re-expands per reference (the ~100×
    minhash lesson, operators/dedup.py).
    """
    toks = F.transform(tokens(text), F.lower)
    sw_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    punct = punct_ratio(text)
    zero = F.struct(F.lit(0).alias("n"), F.lit(0).alias("sw"))
    return F.aggregate(
        toks,
        zero,
        lambda acc, t: F.struct(
            (acc["n"] + 1).alias("n"),
            (
                acc["sw"] + F.when(F.array_contains(sw_arr, t), 1).otherwise(0)
            ).alias("sw"),
        ),
        lambda acc: (
            F.lit(0.4) * F.least(F.lit(1.0), acc["n"].cast("double") / F.lit(64.0))
            + F.lit(0.3) * (F.lit(1.0) - punct)
            + F.lit(0.3)
            * F.least(
                F.lit(1.0),
                F.lit(4.0)
                * F.when(
                    acc["n"] > 0, acc["sw"].cast("double") / acc["n"]
                ).otherwise(F.lit(0.0)),
            )
        ),
    )


def lang_id(text: Column | str) -> Column:
    """argmax over per-language marker hits; ties broken by fixed language
    order (en, de, es, fr, zh); all-zero → 'und' (undetermined).

    One pass over the token array: a 5-slot counter array accumulates all
    language scores simultaneously; the argmax CASE runs in the finish
    lambda over the final accumulator (see quality_score perf note).
    """
    order = list(LANG_MARKERS.keys())
    toks = F.transform(tokens(text), F.lower)
    marker_arrays = [
        F.array(*[F.lit(m) for m in LANG_MARKERS[lang]]) for lang in order
    ]

    def per_token(t):
        return F.array(
            *[
                F.when(F.array_contains(ma, t), 1).otherwise(0)
                for ma in marker_arrays
            ]
        )

    def argmax(acc):
        scores = [F.element_at(acc, i + 1) for i in range(len(order))]
        best = F.greatest(*scores)
        expr = F.when(best == 0, F.lit("und"))
        for lang, s in zip(order, scores):
            expr = expr.when(s == best, F.lit(lang))
        return expr.otherwise(F.lit("und"))

    return F.aggregate(
        toks,
        F.array_repeat(F.lit(0), len(order)),
        lambda acc, t: F.zip_with(acc, per_token(t), lambda a, b: a + b),
        argmax,
    )


def normalized_text(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def doc_fingerprint(text: Column | str) -> Column:
    """Whitespace-normalized, case-folded MD5 content fingerprint —
    the exact-dedup key (generalizes merge.py:38-39 keep-first dedup from
    node-ids to content hashes)."""
    return F.md5(normalized_text(text))


def word_ngrams(text: Column | str, n: int) -> Column:
    """Word n-grams as ARRAY<STRING>; unlike :func:`shingles` there is no
    whole-text fallback — documents with fewer than ``n`` tokens yield an
    empty array (repetition statistics must not fabricate a gram).

    HOF-only (sequence+transform+slice), JVM-side, no shuffle. The token
    array is bound once as a lambda variable (transform-over-singleton,
    the chunk_expr lesson) — a plain column reference would have
    Catalyst's projection collapse re-expand the split at every use.
    """

    def grams_of(t: Column) -> Column:
        cnt = F.size(t)
        grams = F.transform(
            F.sequence(F.lit(1), cnt - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        )
        return F.when(cnt >= n, grams).otherwise(F.array().cast("array<string>"))

    toks = F.split(normalized_text(text), " ")
    return F.element_at(F.transform(F.array(toks), grams_of), 1)


def type_token_ratio(text: Column | str) -> Column:
    """distinct tokens / total tokens in [0,1]; 1.0 for empty docs (no
    repetition evidence). Low TTR ⇒ heavy token-level repetition — the
    cheapest of the Gopher repetition signals (Rae et al. 2021, §A1.1),
    and the only one that needs no per-gram aggregation."""

    def ttr_of(t: Column) -> Column:
        return F.when(
            F.size(t) > 0,
            F.size(F.array_distinct(t)).cast("double") / F.size(t),
        ).otherwise(F.lit(1.0))

    toks = F.split(normalized_text(text), " ")
    return F.element_at(F.transform(F.array(toks), ttr_of), 1)


def shingles(text: Column | str, k: int = 3) -> Column:
    """Word k-shingles as ARRAY<STRING> (input to MinHash / Jaccard).

    Computed with sequence+transform+slice HOFs — one pass, JVM-side.
    Documents with fewer than k tokens yield a single shingle of the whole
    (normalized) text so they still participate in dedup.
    """
    toks = F.split(normalized_text(text), " ")
    n = F.size(toks)
    whole = F.array(F.concat_ws(" ", toks))
    grams = F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return F.when(n >= k, grams).otherwise(whole)
