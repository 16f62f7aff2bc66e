"""Distributed matrix factorization (ALS) over an implicit-rating table.

Koren/Hu-style alternating least squares, the standard collaborative
filter at data-warehouse scale (Spark MLlib ships one on RDDs; this is
the DataFrame-native re-expression, self-contained like the rest of the
catalog).  Ratings here are implicit: r(u, i) = total quantity customer
u ordered of part i.

Scale design — factors move, ratings don't:

- Each half-step is a ratings⋈factor equi-join followed by flat
  codegen'd SUM aggregates per key (the normal-equation entries
  ``b_u = sum_i r_ui v_i`` and the upper triangle of ``sum_i v_i v_i^T``):
  one shuffle with map-side partial combine, never the vectors.
- The factor side of that join BROADCASTS by default
  (``broadcast_factors=True``): a factor table is k doubles per key, so
  the big ratings table is never re-exchanged for the join.
- Factor init is hash-derived ((pmod(xxhash64(id, dim), 2001) - 1000) /
  2000): layout-independent, seedable and replayable in a SQL oracle.

``als_rank1`` (k = 1: the solve is a scalar division) and ``als_rank2``
(closed-form 2x2 solves) are expressible entirely in fixed-order
arithmetic; their factors are ROUND()ed each half-iteration so an
engine-independent oracle re-derives them exactly (the rounding RESYNCS
both engines every iteration — accumulated FP summation-order error
~1e-12 is crushed against the 5e-5 rounding boundary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hash_factor(id_col, d: int, seed: int = 42) -> F.Column:
    """Deterministic pseudo-random init in [-0.5, 0.5]: a pure function
    of (id, dimension), identical on any layout and replayable in SQL."""
    h = F.xxhash64(F.col(id_col) if isinstance(id_col, str) else id_col, F.lit(d))
    return (F.pmod(h, F.lit(2001)) - F.lit(1000)) / F.lit(2000.0)


def als_rank1(
    ratings: DataFrame,
    user_col: str = "user",
    item_col: str = "item",
    rating_col: str = "rating",
    iterations: int = 3,
    lam: float = 0.1,
    round_to: int = 4,
    broadcast_factors: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Rank-1 ALS — the hash-replayable twin.

    The per-key solve is closed-form scalar division
    ``u = sum(r*v) / (lam + sum(v*v))``; factors are rounded to
    ``round_to`` decimals after every half-iteration, which both keeps
    the whole recursion SQL-expressible AND resynchronizes any
    engine-specific FP summation-order drift at each step (which is
    also what makes the broadcast-vs-SMJ join order irrelevant to the
    result).  Same broadcast-join + one-partial-agg-shuffle
    half-iteration shape as the rank-2 path.
    """
    r = ratings.select(
        F.col(user_col).alias("user"),
        F.col(item_col).alias("item"),
        F.col(rating_col).cast("double").alias("rating"),
    ).localCheckpoint(eager=True)  # joined 2x per iteration — never rebuilt
    item_f = r.select("item").distinct().select(
        "item", F.round(hash_factor("item", 0), round_to).alias("v")
    ).localCheckpoint(eager=True)
    def _b(f: DataFrame) -> DataFrame:
        return F.broadcast(f) if broadcast_factors else f

    # Intermediate half-steps are LAZY: each factor frame feeds exactly
    # one downstream half-step (r itself IS checkpointed), so nothing
    # recomputes without per-step checkpoints and their 2*iterations
    # eager materialization jobs (~0.1 s sequential driver latency
    # each) disappear; references stay linear — no crossJoin-style tree
    # doubling — and the per-half-step ROUND makes plan shape
    # irrelevant to the emitted factors.  Only the LAST user half-step
    # is cut: it is consumed twice (returned, and inside the final item
    # half-step), and the checkpoint stops that one chain duplication.
    user_f = None
    for it in range(iterations):
        user_f = (
            r.join(_b(item_f), "item")
            .groupBy("user")
            .agg(
                F.round(
                    F.sum(F.col("rating") * F.col("v"))
                    / (F.lit(lam) + F.sum(F.col("v") * F.col("v"))),
                    round_to,
                ).alias("u")
            )
        )
        if it == iterations - 1:
            user_f = user_f.localCheckpoint(eager=True)
        item_f = (
            r.join(_b(user_f), "user")
            .groupBy("item")
            .agg(
                F.round(
                    F.sum(F.col("rating") * F.col("u"))
                    / (F.lit(lam) + F.sum(F.col("u") * F.col("u"))),
                    round_to,
                ).alias("v")
            )
        )
    return user_f, item_f


def als_rank2(
    ratings: DataFrame,
    user_col: str = "user",
    item_col: str = "item",
    rating_col: str = "rating",
    iterations: int = 2,
    lam: float = 0.1,
    round_to: int = 4,
    broadcast_factors: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Rank-2 ALS with CLOSED-FORM 2x2 solves (Cramer's rule) as pure
    codegen aggregates — no numpy, no LAPACK — so, like the rank-1 twin,
    every half-step is fixed-order arithmetic both engines can replay
    bit-for-bit; the per-half-step ROUND resyncs summation-order drift.
    The flat normal-equation aggregates
    (b_1, b_2, and the upper triangle t11, t12, t22 — five SUMs, one
    map-side-combinable shuffle per half-step), solved by the explicit
    2x2 inverse.

    Returns (user_factors(user, u1, u2), item_factors(item, v1, v2)).
    """
    r = ratings.select(
        F.col(user_col).alias("user"),
        F.col(item_col).alias("item"),
        F.col(rating_col).cast("double").alias("rating"),
    ).localCheckpoint(eager=True)
    item_f = r.select("item").distinct().select(
        "item",
        F.round(hash_factor("item", 0), round_to).alias("v1"),
        F.round(hash_factor("item", 1), round_to).alias("v2"),
    ).localCheckpoint(eager=True)

    def half(fixed: DataFrame, fixed_key: str, solve_for: str,
             f1: str, f2: str, o1: str, o2: str) -> DataFrame:
        if broadcast_factors:
            fixed = F.broadcast(fixed)
        j = r.join(fixed, fixed_key)
        g = j.groupBy(solve_for).agg(
            F.sum(F.col("rating") * F.col(f1)).alias("b1"),
            F.sum(F.col("rating") * F.col(f2)).alias("b2"),
            F.sum(F.col(f1) * F.col(f1)).alias("t11"),
            F.sum(F.col(f1) * F.col(f2)).alias("t12"),
            F.sum(F.col(f2) * F.col(f2)).alias("t22"),
        )
        m11 = F.col("t11") + F.lit(lam)
        m22 = F.col("t22") + F.lit(lam)
        det = m11 * m22 - F.col("t12") * F.col("t12")
        return g.select(
            solve_for,
            F.round((m22 * F.col("b1") - F.col("t12") * F.col("b2")) / det,
                    round_to).alias(o1),
            F.round((m11 * F.col("b2") - F.col("t12") * F.col("b1")) / det,
                    round_to).alias(o2),
        )

    user_f = None
    for _ in range(iterations):
        user_f = half(item_f, "item", "user", "v1", "v2", "u1", "u2"
                      ).localCheckpoint(eager=True)
        item_f = half(user_f, "user", "item", "u1", "u2", "v1", "v2"
                      ).localCheckpoint(eager=True)
    return user_f, item_f
