"""Repetition-based quality statistics for corpus curation.

Gopher-style repetition filters (Rae et al. 2021, "Scaling Language
Models", §A1.1): documents dominated by a few repeated n-grams are
boilerplate/spam and get dropped before training. The reference engine
has no text-curation surface (its pipeline stops at graph features,
preprocess.py:1-60); this extends the documents path the same way
operators/dedup.py extends exact dedup.

Scale shape: one explode keyed by (doc_id, gram) — the groupBy keys
contain the document id, so the shuffle is uniformly spread regardless
of gram skew (a globally common gram like "the the" never concentrates
on one reducer, unlike a gram-keyed global count). Two-level
aggregation: partial counts map-side, then a per-doc rollup whose
second exchange is doc_id-keyed (tiny, one row per doc downstream).
Per-row signals (type-token ratio) never leave whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from federated_gcn_spark.functions.text import type_token_ratio, word_ngrams


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Per-document repetition profile over word n-grams.

    Returns one row per input row:
      - ``n_grams``        total n-gram occurrences (0 for docs shorter than n)
      - ``top_gram_frac``  occurrences of the modal n-gram / total occurrences
      - ``dup_gram_frac``  occurrences belonging to any gram seen ≥2× / total
      - ``ttr``            distinct tokens / total tokens (1.0 when empty)

    Gopher thresholds for reference: drop when the duplicate-2-gram
    fraction exceeds ~0.2 or the top-2-gram fraction exceeds ~0.18; we
    return the raw fractions and leave the threshold to the caller.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    # TTR is computed per-row BEFORE the explode and carried through both
    # aggregations with first() — one scan of the table and exactly two
    # doc-id-co-keyed shuffles; the join-back alternative re-scans the
    # source and pays a third exchange.
    base = df.select(
        F.col(id_col),
        F.round(type_token_ratio(text_col), 6).alias("ttr"),
        F.explode_outer(word_ngrams(text_col, n)).alias("gram"),
    )
    per_gram = base.groupBy(id_col, "gram").agg(
        F.count("gram").alias("cnt"),  # count(gram) skips the NULL explode_outer row
        F.first("ttr").alias("ttr"),
    )
    per_doc = per_gram.groupBy(id_col).agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce(F.max("cnt"), F.lit(0)).cast("long").alias("top_cnt"),
        F.coalesce(
            F.sum(F.when(F.col("cnt") >= 2, F.col("cnt")).otherwise(F.lit(0))),
            F.lit(0),
        ).cast("long").alias("dup_cnt"),
        F.first("ttr").alias("ttr"),
    )
    frac = lambda c: F.when(  # noqa: E731
        F.col("n_grams") > 0, F.round(c.cast("double") / F.col("n_grams"), 6)
    ).otherwise(F.lit(0.0))
    return per_doc.select(
        F.col(id_col),
        "n_grams",
        frac(F.col("top_cnt")).alias("top_gram_frac"),
        frac(F.col("dup_cnt")).alias("dup_gram_frac"),
        "ttr",
    )


def dsir_log_weights(
    tok: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "token",
    target_col: str = "is_target",
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR-style importance log-weights (Xie et al. 2023) from a token
    table: hash tokens into ``n_buckets`` buckets (Spark xxhash64 —
    layout-independent and oracle-replayable), fit add-one-smoothed
    bucket unigram distributions for the target slice
    (``target_col`` = true) and the raw corpus, and return per-document
    ``(n_tokens, log_w)`` with log_w = sum_t log(p_tgt/p_raw).

    The bucket tables are n_buckets rows regardless of corpus size and
    ride as broadcast joins; the only large exchanges are the token
    explode the caller already paid and the per-document sum."""
    # b feeds the raw/target bucket tallies, the totals and the scoring
    # join — unstaged, the caller's tokenize explode re-ran four times.
    # One lazy checkpoint -> one tokenize+hash pass.
    b = tok.select(
        F.col(id_col).alias("__id"),
        F.col(target_col).alias("__t"),
        F.pmod(F.xxhash64(token_col), F.lit(n_buckets)).alias("bucket"),
    ).localCheckpoint(eager=False)
    raw = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    tgt = b.where("__t").groupBy("bucket").agg(F.count(F.lit(1)).alias("ct"))
    tot = b.agg(
        F.count(F.lit(1)).alias("nr"),
        F.count(F.when(F.col("__t"), 1)).alias("nt"),
    )
    lr = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce("ct", F.lit(0)) + 1)
                    / (F.col("nt") + n_buckets).cast("double")
                )
                - F.log(
                    (F.col("cr") + 1)
                    / (F.col("nr") + n_buckets).cast("double")
                )
            ).alias("logratio"),
        )
    )
    return (
        b.join(F.broadcast(lr), "bucket")
        .groupBy(F.col("__id").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.sum("logratio"), 6).alias("log_w"),
        )
    )
