"""Round-4 wave 29: embedding / text pipeline audits — random
projection, the hashing trick, encoding hygiene, and cross-split
n-gram novelty.

- ``jl_projection_fidelity``: map the 64-d embeddings to 16-d with
  a +-1 Rademacher matrix (seeded portable LCG, committed literals —
  the Achlioptas/JL construction) and report how well pairwise
  squared distances survive (mean/min/max of the per-pair distortion
  ratio) — the measured check behind every "reduce first, then
  cluster" decision at 100 TB.
- ``feature_hash_collisions``: the hashing trick audit — bucket the
  corpus vocabulary into 4096 slots by xxhash64 and report load,
  collision rate, the biggest bucket, and the Poisson-expected bucket
  usage to compare against.
- ``mojibake_stats``: encoding-hygiene profile per source — docs with
  non-ASCII bytes, mean non-ASCII character fraction, replacement
  chars (U+FFFD) and C0 control characters — the first filter of any
  crawl-cleaning pipeline.
- ``ngram_novelty_scan``: per-source mean fraction of held-out-doc
  8-gram shingles NOT present in the train split — the
  memorization/leak-risk complement of decontam_report (which asks
  about a benchmark; this asks about the corpus itself).

Cross-engine determinism: Rademacher signs are committed +-1 literals
(LCG over (k, j)); projections and distances are ordered
left-to-right array folds rounded to 9 dp; vocab buckets replay
Spark's xxhash64; novelty fractions are exact integer gram counts
with 9-dp-rounded DECIMAL-sum means.

Reference anchor: SURVEY.md §2.10 LLM-pipeline operators; extends
operators/similarity.py (ANN), functions/text.py (n-grams),
operators/decontam.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from federated_gcn_spark.catalog import load_table
from federated_gcn_spark.plans.queries import register
from federated_gcn_spark.plans.xxh64_sql import (
    hash_string_sql,
    pmod_sql,
)

_JL_K, _JL_D = 16, 64
# Portable LCG over the flattened (k, j) index — same constants as
# operators/sample.py; the sign matrix is a committed pure function.
_LCG_A, _LCG_C, _LCG_M = 1_103_515_245, 12_345, 2_147_483_648


def _jl_signs() -> list[list[int]]:
    signs = []
    for k in range(_JL_K):
        row = []
        for j in range(_JL_D):
            v = ((k * _JL_D + j + 42) * _LCG_A + _LCG_C) % _LCG_M
            # take a HIGH bit: the LCG's low bits alternate with the
            # index parity (A and C odd), which would make all 16 sign
            # rows identical
            row.append(1 if (v >> 16) % 2 == 0 else -1)
        signs.append(row)
    return signs


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss projection fidelity
# ---------------------------------------------------------------------------

def _jl_oracle() -> str:
    signs = _jl_signs()
    proj_a = ", ".join(
        "ROUND(list_sum(list_transform(a.e, (x, i) -> x * ("
        + f"[{', '.join(str(s) for s in signs[k])}]"
        + "[i]))), 9) AS ya%d" % k
        for k in range(_JL_K)
    )
    proj_b = ", ".join(
        "ROUND(list_sum(list_transform(b.e, (x, i) -> x * ("
        + f"[{', '.join(str(s) for s in signs[k])}]"
        + "[i]))), 9) AS yb%d" % k
        for k in range(_JL_K)
    )
    dy2 = " + ".join(f"(ya{k} - yb{k}) * (ya{k} - yb{k})" for k in range(_JL_K))
    return f"""
    WITH s AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), pairs AS (
        SELECT a.vec_id AS ida, b.vec_id AS idb, a.e, b.e,
               ROUND(list_sum(list_transform(a.e,
                     (x, i) -> (x - b.e[i]) * (x - b.e[i]))), 9) AS dx2,
               {proj_a}, {proj_b}
        FROM s a JOIN s b ON b.vec_id = a.vec_id + 1
        WHERE a.vec_id % 50 = 0
    ), r AS (
        SELECT ROUND(({dy2}) / ({_JL_K} * dx2), 9) AS ratio
        FROM pairs WHERE dx2 > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(CAST(ratio AS DECIMAL(28,9))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_ratio,
           ROUND(MIN(ratio), 6) AS min_ratio,
           ROUND(MAX(ratio), 6) AS max_ratio
    FROM r
    """


@register("jl_projection_fidelity", _jl_oracle())
def jl_projection_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss check: map embeddings 64 -> 16 dims
    with a committed +-1 Rademacher matrix and measure the pairwise
    squared-distance distortion ratio ||ya-yb||^2 / (k * ||xa-xb||^2)
    (each +-1 component has variance ||x||^2, so 1/k is the unbiased
    scaling)
    over the deterministic (id, id+1) pair sample — E[ratio] = 1, and
    the spread tells you whether 16 dims suffice downstream.

    100 TB shape: the projection is a per-row map (16 ordered folds
    over a 64-array — codegen, no shuffle); the pair sample joins on
    an equi-key (id+1), so fidelity costs one narrow join regardless
    of corpus size.  Determinism: signs are committed literals; every
    fold is left-to-right; ratios round to 9 dp before the exact
    DECIMAL-sum mean."""
    signs = _jl_signs()
    # NOT staged: both pair sides re-read the (vec_id, embedding)
    # columns from parquet.  A lazy checkpoint here would store the full
    # 64-double embedding payload in the block manager to save a pruned
    # 2-column columnar re-scan — the §14 anti-pattern this repo
    # documented and reverted elsewhere (decontam_report,
    # sequence_packing): deserialized array blocks cost far more memory
    # pressure than the scan they save, and the r10 driver measured the
    # staged spelling 2.4-3.3x slower at 32 cores (6.98 s vs 2.15-2.87).
    emb = load_table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )

    def proj(col: str, k: int):
        lit = F.array(*[F.lit(float(s)) for s in signs[k]])
        return F.round(
            F.aggregate(
                F.zip_with(F.col(col), lit, lambda x, s: x * s),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            9,
        )

    a = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("ida"), F.col("e").alias("ea")
    )
    b = emb.select((F.col("vec_id") - 1).alias("ida"), F.col("e").alias("eb"))
    pairs = a.join(b, "ida").select(
        "ida",
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("ea"), F.col("eb"), lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            9,
        ).alias("dx2"),
        *[proj("ea", k).alias(f"ya{k}") for k in range(_JL_K)],
        *[proj("eb", k).alias(f"yb{k}") for k in range(_JL_K)],
    )
    dy2 = None
    for k in range(_JL_K):
        term = (F.col(f"ya{k}") - F.col(f"yb{k}")) * (
            F.col(f"ya{k}") - F.col(f"yb{k}")
        )
        dy2 = term if dy2 is None else dy2 + term
    r = pairs.where(F.col("dx2") > 0).select(
        F.round(dy2 / (_JL_K * F.col("dx2")), 9).alias("ratio")
    )
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(
            F.sum(F.col("ratio").cast("decimal(28,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_ratio"),
        F.round(F.min("ratio"), 6).alias("min_ratio"),
        F.round(F.max("ratio"), 6).alias("max_ratio"),
    )


# ---------------------------------------------------------------------------
# Feature-hashing collision audit
# ---------------------------------------------------------------------------

_FH_BUCKETS = 4096
_TERM_BUCKET = pmod_sql(hash_string_sql("term", "42"), _FH_BUCKETS)


@register(
    "feature_hash_collisions",
    rf"""
    WITH vocab AS (
        SELECT DISTINCT UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+'))
                   AS term
        FROM documents WHERE TRIM(text) <> ''
    ), v AS (
        SELECT term FROM vocab WHERE term <> ''
    ), b AS (
        SELECT ({_TERM_BUCKET}) AS bucket, CAST(COUNT(*) AS BIGINT) AS c
        FROM v GROUP BY 1
    ), agg AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_terms,
               CAST(COUNT(*) AS BIGINT) AS used,
               CAST(MAX(c) AS BIGINT) AS max_bucket
        FROM b
    )
    SELECT n_terms, used AS buckets_used, max_bucket,
           ROUND(CAST(n_terms AS DOUBLE) / {_FH_BUCKETS}, 6) AS load_factor,
           ROUND(1 - CAST(used AS DOUBLE) / n_terms, 6) AS collision_rate,
           ROUND({_FH_BUCKETS} * (1 - POWER(1 - 1.0 / {_FH_BUCKETS},
                                            CAST(n_terms AS DOUBLE))), 4)
               AS expected_used
    FROM agg
    """,
)
def feature_hash_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick audit: bucket the corpus vocabulary into 4096
    feature slots by xxhash64 and report load factor, collision rate
    (1 - used/terms), the largest bucket, and the Poisson-expected
    bucket usage m(1-(1-1/m)^n) — the numbers that decide whether a
    hashed feature space is big enough before anyone trains on it.

    100 TB shape: vocabulary extraction is the one shuffle (distinct
    terms); the bucket tally is 4096 rows.  Determinism: the bucket
    replays Spark's xxhash64 over UTF-8 term bytes
    (plans/xxh64_sql.hash_string_sql); counts are exact integers."""
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    terms = (
        docs.where(F.trim(F.col("text")) != "")
        .select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("term")
        )
        .where(F.col("term") != "")
        .distinct()
    )
    b = terms.groupBy(
        F.pmod(F.xxhash64("term"), F.lit(_FH_BUCKETS)).alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    agg = b.agg(
        F.sum("c").cast("long").alias("n_terms"),
        F.count(F.lit(1)).cast("long").alias("used"),
        F.max("c").cast("long").alias("max_bucket"),
    )
    n = F.col("n_terms").cast("double")
    return agg.select(
        "n_terms",
        F.col("used").alias("buckets_used"),
        "max_bucket",
        F.round(n / _FH_BUCKETS, 6).alias("load_factor"),
        F.round(1 - F.col("used").cast("double") / F.col("n_terms"), 6).alias(
            "collision_rate"
        ),
        F.round(
            _FH_BUCKETS * (1 - F.pow(1 - 1.0 / _FH_BUCKETS, n)), 4
        ).alias("expected_used"),
    )


# ---------------------------------------------------------------------------
# Encoding-hygiene (mojibake) profile
# ---------------------------------------------------------------------------

@register(
    "mojibake_stats",
    r"""
    WITH d AS (
        SELECT source, text,
               LENGTH(text) AS len,
               LENGTH(text)
                 - LENGTH(REGEXP_REPLACE(text, '[^\x00-\x7F]', '', 'g'))
                   AS n_nonascii,
               LENGTH(text)
                 - LENGTH(REGEXP_REPLACE(text, '�', '', 'g'))
                   AS n_replacement,
               LENGTH(text)
                 - LENGTH(REGEXP_REPLACE(text,
                       '[\x01-\x08\x0B\x0C\x0E-\x1F]', '', 'g'))
                   AS n_control
        FROM documents WHERE LENGTH(text) > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_nonascii > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_nonascii,
           CAST(SUM(n_replacement) AS BIGINT) AS replacement_chars,
           CAST(SUM(n_control) AS BIGINT) AS control_chars,
           ROUND(CAST(SUM(CAST(ROUND(CAST(n_nonascii AS DOUBLE) / len, 9)
                                AS DECIMAL(28,9))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_nonascii_frac
    FROM d GROUP BY source ORDER BY source
    """,
)
def mojibake_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-hygiene profile per source: documents containing
    non-ASCII characters, total U+FFFD replacement characters (the
    smoking gun of a bad decode), C0 control characters, and the mean
    non-ASCII character fraction — the first triage cut of any crawl
    before deeper quality scoring.

    100 TB shape: per-row regex counting fused into the scan (codegen,
    no shuffle) and a per-source tally.  Determinism: counts are exact
    integers via the length-difference idiom (identical RE2/Java char
    classes); per-doc fractions round to 9 dp before the exact
    DECIMAL-sum mean."""
    docs = load_table(spark, sf_dir, "documents", parallel=True).where(
        F.length("text") > 0
    )

    def nmatch(pattern: str):
        return F.length("text") - F.length(
            F.regexp_replace(F.col("text"), pattern, "")
        )

    d = docs.select(
        "source",
        F.length("text").alias("len"),
        nmatch(r"[^\x00-\x7F]").alias("n_nonascii"),
        nmatch("�").alias("n_replacement"),
        nmatch(r"[\x01-\x08\x0B\x0C\x0E-\x1F]").alias("n_control"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n_nonascii") > 0, 1).otherwise(0))
            .cast("long")
            .alias("docs_nonascii"),
            F.sum("n_replacement").cast("long").alias("replacement_chars"),
            F.sum("n_control").cast("long").alias("control_chars"),
            F.round(
                F.sum(
                    F.round(
                        F.col("n_nonascii").cast("double") / F.col("len"), 9
                    ).cast("decimal(28,9)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_nonascii_frac"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Cross-split n-gram novelty
# ---------------------------------------------------------------------------

_NOV_N = 8


@register(
    "ngram_novelty_scan",
    rf"""
    WITH toks AS (
        SELECT doc_id, source, doc_id % 10 >= 8 AS held,
               string_split_regex(LOWER(TRIM(text)), '\s+') AS t
        FROM documents WHERE TRIM(text) <> ''
    ), grams AS (
        SELECT doc_id, source, held,
               array_to_string(t[s + 1 : s + {_NOV_N}], ' ') AS gram
        FROM toks, UNNEST(range(0, len(t) - {_NOV_N} + 1)) AS u(s)
        WHERE len(t) >= {_NOV_N}
    ), train_inv AS (
        SELECT DISTINCT gram FROM grams WHERE NOT held
    ), held_doc AS (
        SELECT doc_id, source,
               CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_grams,
               CAST(COUNT(DISTINCT CASE WHEN ti.gram IS NULL
                                        THEN g.gram END) AS BIGINT) AS n_novel
        FROM grams g LEFT JOIN train_inv ti USING (gram)
        WHERE held GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_held_docs,
           CAST(SUM(n_grams) AS BIGINT) AS total_grams,
           CAST(SUM(n_novel) AS BIGINT) AS novel_grams,
           ROUND(CAST(SUM(CAST(ROUND(CAST(n_novel AS DOUBLE) / n_grams, 9)
                                AS DECIMAL(28,9))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_novelty
    FROM held_doc GROUP BY source ORDER BY source
    """,
)
def ngram_novelty_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split 8-gram novelty: hold out docs with doc_id%10 >= 8,
    and for each held doc measure the fraction of its distinct 8-gram
    shingles ABSENT from the train split's inventory — low novelty
    means the held data is already memorizable from train (the
    train/validation leak check decontam_report runs against external
    benchmarks, pointed at the corpus itself).

    100 TB shape: one shingle explode per side, a distinct-gram
    inventory (the decontam shuffle shape), and a left anti-style
    equi-join on the gram — never doc x doc.  Determinism: gram
    counts are exact integers; per-doc novelty rounds to 9 dp before
    the exact DECIMAL-sum mean."""
    from federated_gcn_spark.functions.text import word_ngrams

    docs = load_table(spark, sf_dir, "documents", parallel=True).where(
        F.trim(F.col("text")) != ""
    )
    # grams feeds the train inventory and the held side; staged once ->
    # one shingle explode instead of two
    grams = docs.select(
        "doc_id",
        "source",
        (F.col("doc_id") % 10 >= 8).alias("held"),
        F.explode(F.array_distinct(word_ngrams(F.col("text"), _NOV_N))).alias(
            "gram"
        ),
    ).localCheckpoint(eager=False)
    train_inv = grams.where(~F.col("held")).select("gram").distinct()
    held = grams.where(F.col("held"))
    j = held.join(
        train_inv.withColumn("in_train", F.lit(1)), "gram", "left"
    )
    held_doc = j.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(F.when(F.col("in_train").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_novel"),
    )
    return (
        held_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_held_docs"),
            F.sum("n_grams").cast("long").alias("total_grams"),
            F.sum("n_novel").cast("long").alias("novel_grams"),
            F.round(
                F.sum(
                    F.round(
                        F.col("n_novel").cast("double") / F.col("n_grams"), 9
                    ).cast("decimal(28,9)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_novelty"),
        )
        .orderBy("source")
    )
