"""Distributed matrix factorization (ALS) over an implicit-rating table.

Koren/Hu-style alternating least squares, the standard collaborative
filter at data-warehouse scale (Spark MLlib ships one on RDDs; this is
the DataFrame-native re-expression, self-contained like the rest of the
catalog).  Ratings here are implicit: r(u, i) = total quantity customer
u ordered of part i.

Scale design — factors move, ratings don't:

- The normal-equation accumulation is the expensive part: for each user
  ``A_u = sum_i v_i v_i^T + lam*I`` and ``b_u = sum_i r_ui v_i``.  It is
  expressed as a ratings⋈item-factor equi-join followed by a
  posexplode + partial-final SUM per (user, cell) — all JVM codegen; the
  exchange carries k*(k+1) doubles per user, never the vectors.
- The factor side of that join BROADCASTS by default
  (``broadcast_factors=True``): a factor table is k doubles per key —
  ~80 MB at 10M keys, rank 8 — so the big ratings table is never
  re-exchanged for the join; the only per-half-step shuffle is the
  map-side-combined normal-equation partials (k*(k+1)/2 + k doubles per
  key).  Measured at 10× data this is ~1.4× faster end-to-end than the
  sort-merge spelling, which re-shuffled + re-sorted ratings twice per
  iteration.  Past ~10⁸ keys per side, pass ``broadcast_factors=False``
  and co-locate via bucketed storage (a localCheckpoint does NOT retain
  hash partitioning — its LogicalRDD reports no outputPartitioning, so
  in-memory pre-partitioning cannot carry co-location across steps).
- The k x k solves are embarrassingly tiny; they run on Arrow batches in
  ``mapInPandas`` with ONE batched ``np.linalg.solve`` per batch
  (stacked [B, k, k] tensors), not per-row Python.
- Each half-iteration is the same two-shuffle shape with user/item roles
  swapped; lineage is cut per iteration (localCheckpoint) exactly like
  the other iterative operators (components, pagerank, Borůvka).
- Factor init is hash-derived ((pmod(xxhash64(id, dim), 2001) - 1000) /
  2000): layout-independent, seedable, and — for the rank-1 twin —
  replayable in a SQL oracle.

``als_rank1`` is the closed-form special case (k = 1: the solve is a
scalar division), expressible entirely in fixed-order arithmetic; its
factors are ROUND()ed each half-iteration so an engine-independent
oracle re-derives them exactly (the rounding RESYNCS both engines every
iteration — accumulated FP summation-order error ~1e-12 is crushed
against the 5e-5 rounding boundary).  test_als.py pins the rank-k path
against a dense numpy ALS on the same init.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hash_factor(id_col, d: int, seed: int = 42) -> F.Column:
    """Deterministic pseudo-random init in [-0.5, 0.5]: a pure function
    of (id, dimension), identical on any layout and replayable in SQL."""
    h = F.xxhash64(F.col(id_col) if isinstance(id_col, str) else id_col, F.lit(d))
    return (F.pmod(h, F.lit(2001)) - F.lit(1000)) / F.lit(2000.0)


def _init_factors(ids: DataFrame, id_col: str, rank: int) -> DataFrame:
    return ids.select(
        id_col,
        F.array(*[hash_factor(id_col, d) for d in range(rank)]).alias("vec"),
    )


def _solve_half(
    ratings: DataFrame,
    fixed: DataFrame,
    solve_for: str,
    fixed_key: str,
    rank: int,
    lam: float,
    broadcast_factors: bool = True,
) -> DataFrame:
    """One ALS half-step: given `fixed` factors keyed by fixed_key,
    return new factors for `solve_for`."""
    k = rank
    if broadcast_factors:
        fixed = F.broadcast(fixed)
    joined = ratings.join(fixed, fixed_key).select(
        solve_for,
        "rating",
        F.col("vec").alias("fv"),
    )
    # b entries (rating * v_d) and the UPPER TRIANGLE of A (v_a * v_b,
    # a <= b — A is symmetric) as k + k(k+1)/2 flat codegen'd SUM
    # aggregates: one shuffle with map-side partial combine, zero row
    # expansion.  (A first cut posexplode'd k + k^2 cells per rating row
    # — 72x row blowup at rank 8 — and went 85x slower at 10x data;
    # the flat-aggregate spelling is the scale-correct shape.)
    tri = [(a, b) for a in range(k) for b in range(a, k)]
    aggs = [
        F.sum(F.col("fv")[d] * F.col("rating")).alias(f"b_{d}") for d in range(k)
    ] + [
        F.sum(F.col("fv")[a] * F.col("fv")[b]).alias(f"t_{a}_{b}") for a, b in tri
    ]
    summed = joined.groupBy(solve_for).agg(*aggs).select(
        solve_for,
        F.array(
            *[F.col(f"b_{d}") for d in range(k)],
            *[F.col(f"t_{a}_{b}") for a, b in tri],
        ).alias("ab"),
    )
    tri_rows = np.array([a for a, _ in tri])
    tri_cols = np.array([b for _, b in tri])

    def batch_solve(batches):
        for pdf in batches:
            ab = np.stack(pdf["ab"].to_numpy()).astype(np.float64)
            b = ab[:, :k]
            A = np.zeros((ab.shape[0], k, k))
            A[:, tri_rows, tri_cols] = ab[:, k:]
            A[:, tri_cols, tri_rows] = ab[:, k:]
            A += lam * np.eye(k)[None, :, :]
            sol = np.linalg.solve(A, b)  # one batched LAPACK call
            yield pd.DataFrame({solve_for: pdf[solve_for], "vec": list(map(list, sol))})

    return summed.mapInPandas(
        batch_solve, schema=f"{solve_for} long, vec array<double>"
    )


def als_fit(
    ratings: DataFrame,
    user_col: str = "user",
    item_col: str = "item",
    rating_col: str = "rating",
    rank: int = 8,
    iterations: int = 5,
    lam: float = 0.1,
    broadcast_factors: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Alternating least squares; returns (user_factors, item_factors)
    as (key, vec array<double>) DataFrames."""
    r = ratings.select(
        F.col(user_col).alias("user"),
        F.col(item_col).alias("item"),
        F.col(rating_col).cast("double").alias("rating"),
    ).localCheckpoint(eager=True)  # joined 2x per iteration — never rebuilt
    items = r.select("item").distinct()
    item_f = _init_factors(items, "item", rank).localCheckpoint(eager=True)
    user_f = None
    for _ in range(iterations):
        user_f = _solve_half(
            r, item_f, "user", "item", rank, lam, broadcast_factors
        ).localCheckpoint(eager=True)
        item_f = _solve_half(
            r, user_f, "item", "user", rank, lam, broadcast_factors
        ).localCheckpoint(eager=True)
    return user_f, item_f


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
    half-iteration shape as the rank-k path.
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
    The same flat normal-equation aggregates as the rank-k path
    (b_1, b_2, and the upper triangle t11, t12, t22 — five SUMs, one
    map-side-combinable shuffle per half-step), with the k x k LAPACK
    batch solve replaced by the explicit 2x2 inverse.

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
