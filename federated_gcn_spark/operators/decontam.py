"""Eval-set decontamination: drop training documents that overlap a
held-out evaluation set by shared word n-grams.

Standard LLM-pipeline hygiene (GPT-3 §C / PaLM §B used 13-gram overlap;
the n is a parameter — the sf0.01 synthetic vocabulary is tiny, so
tests use n=3 to get non-degenerate overlap). The reference engine has
no analogue; this is part of the training-data extension surface, like
operators/dedup.py.

Scale shape: the eval inventory is ``distinct`` n-grams of the eval
set — eval corpora are millions of grams against a 100 TB training
side, so the contamination join is an equi-join on the gram string
where the eval side is small. No broadcast hint: AQE sees the
post-distinct size and picks broadcast-hash when it fits, shuffle-hash
otherwise (a forced hint would OOM if someone passes a huge "eval"
set — the flagship_revenue lesson). The training side explodes to
(doc_id, gram) but aggregates straight back to doc_id; the gram
shuffle is spread by doc_id co-key so a ubiquitous gram cannot hot-spot
one reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from federated_gcn_spark.functions.text import word_ngrams


def ngram_inventory(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 13
) -> DataFrame:
    """(id, gram) pairs, one row per *distinct* gram per document."""
    return df.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(text_col, n))).alias("gram"),
    )


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """Per-train-document count of distinct n-grams shared with the eval
    set. Only contaminated documents appear (inner join); a row's
    ``n_hits`` is how many of its distinct grams occur anywhere in eval.
    """
    eval_grams = (
        ngram_inventory(eval_df, text_col, id_col, n).select("gram").distinct()
    )
    return (
        ngram_inventory(train, text_col, id_col, n)
        .join(eval_grams, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
