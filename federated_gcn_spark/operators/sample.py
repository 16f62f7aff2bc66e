"""Deterministic row sampling: stratified, mixture, k-fold and weighted.

Training-data curation needs *reproducible* subsamples — Spark's
``DataFrame.sample`` draws from per-partition RNG streams, so its output
changes with partitioning/task layout, which breaks both cross-run
reproducibility and the DuckDB oracle. These operators instead derive the
keep/drop decision from a pure function of a key column:

    u(key) = ((key + seed) mod M · A + C mod M) / M,   M = 2³¹

a textbook LCG step — portable integer arithmetic (no overflow under
ANSI mode for any bigint key, expressible identically in any SQL
dialect), uniform enough for fraction selection, and partition-layout
independent by construction. For adversarial keys use xxhash64 upstream;
for oracle-checkable sampling this portable form is the point.

Scale shape: a narrow filter — no shuffle, fully pushed into the scan's
whole-stage codegen; stratified fractions become a CASE over the strata
column (broadcast of a tiny literal map).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LCG_A = 1_103_515_245
LCG_C = 12_345
LCG_M = 2_147_483_648  # 2^31


def uniform_fraction(key: Column | str, seed: int = 42) -> Column:
    """Deterministic pseudo-uniform double in [0, 1) from a numeric key."""
    key = F.col(key) if isinstance(key, str) else key
    k = F.pmod(key.cast("long") + F.lit(seed), F.lit(LCG_M))
    return F.pmod(k * LCG_A + LCG_C, F.lit(LCG_M)).cast("double") / F.lit(
        float(LCG_M)
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    seed: int = 42,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. boost rare languages,
    downsample boilerplate): keep u(key) < fractions[stratum].

    Strata missing from ``fractions`` get ``default_fraction``. The
    fraction lookup compiles to a literal CASE — no join, no shuffle.
    """
    for s, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for stratum {s!r} must be in [0,1], got {f}")
    frac = F.lit(float(default_fraction))
    expr = None
    for s, fr in sorted(fractions.items()):
        cond = F.col(strata_col) == s
        expr = F.when(cond, F.lit(float(fr))) if expr is None else expr.when(
            cond, F.lit(float(fr))
        )
    frac = frac if expr is None else expr.otherwise(frac)
    return df.where(uniform_fraction(key_col, seed) < frac)


def mixture_sample(
    df: DataFrame,
    domain_col: str,
    target_shares: dict[str, float],
    key_col: str,
    seed: int = 42,
) -> DataFrame:
    """Downsample to hit a target domain mixture (e.g. 50% web, 30%
    books, 20% code) — the domain-weighting step of an LLM data recipe.

    The largest corpus satisfying the exact mixture without upsampling
    keeps ``scale = min_d(count_d / share_d)`` total rows; each domain
    keeps ``scale * share_d`` of its rows via the same layout-independent
    LCG selector as :func:`stratified_sample`. Domains absent from
    ``target_shares`` are dropped.

    Scale shape: one tiny groupBy(domain).count() (categorical key —
    hundreds of rows at most, map-side combined), a scalar min folded in
    a 1-row cross join, then a broadcast join of per-domain fractions
    back onto the fact side; the keep/drop decision itself is a pure
    filter in the scan's codegen stage.
    """
    total = sum(target_shares.values())
    if total <= 0:
        raise ValueError("target_shares must sum to a positive value")
    shares = {d: s / total for d, s in target_shares.items()}
    for d, s in shares.items():
        if s <= 0:
            raise ValueError(f"share for domain {d!r} must be positive")

    share_expr = None
    for d, s in sorted(shares.items()):
        cond = F.col(domain_col) == d
        share_expr = (
            F.when(cond, F.lit(s)) if share_expr is None else share_expr.when(cond, F.lit(s))
        )
    share_expr = share_expr.otherwise(F.lit(None).cast("double"))

    counts = (
        df.groupBy(domain_col)
        .agg(F.count(F.lit(1)).cast("double").alias("_cnt"))
        .withColumn("_share", share_expr)
        .where(F.col("_share").isNotNull())
    )
    scale = counts.agg(F.min(F.col("_cnt") / F.col("_share")).alias("_scale"))
    fractions = (
        counts.crossJoin(F.broadcast(scale))
        .select(
            domain_col,
            F.least(
                F.lit(1.0), F.col("_scale") * F.col("_share") / F.col("_cnt")
            ).alias("_frac"),
        )
    )
    return (
        df.join(F.broadcast(fractions), domain_col)
        .where(uniform_fraction(key_col, seed) < F.col("_frac"))
        .drop("_frac")
    )


def kfold_assignment(
    df: DataFrame, k: int, key_col: str, seed: int = 42
) -> DataFrame:
    """Append a deterministic ``fold`` column in [0, k).

    fold = floor(u(key) · k) with the portable LCG selector — the same
    row lands in the same fold on any cluster layout, any partitioning,
    and in any SQL engine (the oracle reproduces it verbatim), which is
    what makes cross-validation splits and held-out evals reproducible
    across runs and engines. A narrow projection: no shuffle.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    fold = F.floor(uniform_fraction(key_col, seed) * k).cast("int")
    # u < 1 strictly, but guard the k boundary against float edge cases
    return df.withColumn("fold", F.least(fold, F.lit(k - 1)))


def weighted_sample(
    df: DataFrame, n: int, weight_col: str, key_col: str, seed: int = 42
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-Res): each row draws key = -ln(u)/w with u from the
    portable LCG, and the n smallest keys win — inclusion probability
    proportional to weight, layout-independent, and reproducible in any
    SQL engine (the oracle spells the identical arithmetic). The
    importance-sampling primitive for quality-weighted corpus selection.
    Selection is TakeOrdered, never a global sort."""
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    u = uniform_fraction(key_col, seed) * (1.0 - 1e-12) + 1e-12
    w = F.col(weight_col).cast("double")
    race = (-F.log(u) / w).alias("__race")
    return (
        df.where(w > 0)
        .withColumn("__race", race)
        .orderBy("__race", key_col)
        .limit(n)
        .drop("__race")
    )
