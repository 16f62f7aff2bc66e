"""Distributed PCA over an embedding column.

Whitening/dimensionality reduction is the standard pre-pass before
ANN indexing (operators/similarity.py) and embedding near-dedup: IVF
recall improves markedly on decorrelated vectors. The reference has no
embedding-analytics surface; this extends it the same way similarity.py
does.

Scale design — the d x d trick: N vectors of dimension d (N ~ 10^10 at
100 TB, d ~ 10^2-10^3) never move. Each partition folds its Arrow
batches into one local Gram matrix (numpy X^T X, BLAS), emitting a
single row of d + d^2 + 1 doubles; the cross-partition reduction is an
element-wise sum of P such rows (P = #partitions), exploded by matrix
index so the combine is a plain map-side-partial groupBy — the classic
treeAggregate shape expressed in DataFrame algebra. The eigendecomposition
runs on the driver on a d x d matrix (micro-seconds; not a distributed
concern).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _partial_gram(vec_col: str, dim: int):
    def fold(batches):
        n = 0
        s = np.zeros(dim)
        g = np.zeros((dim, dim))
        for pdf in batches:
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if x.shape[1] != dim:
                raise ValueError(
                    f"embedding dim {x.shape[1]} != declared dim {dim}"
                )
            n += x.shape[0]
            s += x.sum(axis=0)
            g += x.T @ x
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    return fold


def gram_moments(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> tuple[int, np.ndarray, np.ndarray]:
    """(count, mean vector, covariance matrix) of the embedding column.

    One pass; the only shuffle is the index-keyed element-wise sum of
    per-partition partials (P rows of d^2 doubles)."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    partials = df.select(
        F.col(vec_col).cast("array<double>").alias(vec_col)
    ).mapInPandas(
        _partial_gram(vec_col, dim),
        schema="n long, s array<double>, g array<double>",
    )
    # element-wise reduction: explode by index -> partial-aggregated sum.
    summed = (
        partials.select(
            "n", F.posexplode(F.concat(F.col("s"), F.col("g")))
        )
        .groupBy("pos")
        .agg(F.sum("col").alias("v"), F.sum(F.when(F.col("pos") == 0, F.col("n"))).alias("cnt"))
    )
    rows = summed.collect()  # d + d^2 rows — driver-small by construction
    n = int(next(r["cnt"] for r in rows if r["pos"] == 0))
    flat = np.zeros(dim + dim * dim)
    for r in rows:
        flat[r["pos"]] = r["v"]
    s, g = flat[:dim], flat[dim:].reshape(dim, dim)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    return n, mean, cov


# ---------------------------------------------------------------------------
# Cross-engine-replayable spectrum: deflated power iteration with squaring
# ---------------------------------------------------------------------------


def _round9_nanos_exact(x: float) -> int:
    """Exact replica of Spark's F.round(double, 9) as integer nano-units:
    BigDecimal.valueOf uses Double.toString (the SHORTEST round-trip
    decimal, == python repr), then HALF_UP at 9 dp.  DuckDB's
    ROUND(DOUBLE, 9) agrees on every value the proven
    power_iteration_top_pc oracle exercises (tri-SF hash-green)."""
    from decimal import ROUND_HALF_UP, Decimal

    d = Decimal(repr(x)).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)
    return int(d.scaleb(9))


def _nanos9(arr: np.ndarray) -> np.ndarray:
    """Vectorized round-half-up of arr at 9 dp, as exact int64
    nano-units.  The fast path rounds y = x*1e9 (error ≤ ~1e-6 ulp-wise);
    any element within 1e-4 of a .5 tie falls back to the exact
    shortest-repr Decimal path so float noise can never flip a rounding
    boundary (the adstock POW-drift lesson, applied preemptively)."""
    y = arr * 1e9
    ay = np.abs(y)
    base = np.floor(ay)
    n = np.floor(ay + 0.5)
    out = (np.sign(y) * n).astype(np.int64)
    amb = np.abs(ay - base - 0.5) < 1e-4
    if amb.any():
        vals = np.asarray(arr)[amb]
        out[amb] = [_round9_nanos_exact(float(v)) for v in vals]
    return out


def _matmul9(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """C[i][j] = Σ_k round9(a[i][k] * b[k][j]) with an EXACT integer
    (== DECIMAL) sum — the SQL squaring CTE's arithmetic, bit for bit."""
    t = a[:, :, None] * b[None, :, :]  # t[i, k, j], one IEEE mul each
    return _nanos9(t).sum(axis=1) / 1e9


def _norm_inf(m: np.ndarray) -> np.ndarray:
    return m / max(float(np.abs(m).max()), 1e-300)


def deflated_power_spectrum(
    cov: np.ndarray, k: int = 8, squarings: int = 10
) -> tuple[list[float], float]:
    """Top-k eigenvalue ESTIMATES of ``round(cov, 4)`` by deflated power
    iteration with matrix SQUARING, every operation following the
    cross-engine determinism contract (per-term round-to-9dp into exact
    decimal sums; IEEE elementwise ops otherwise) so an unrolled SQL
    oracle replays it hash-identically.

    Squaring is what makes this numerically honest on the embeddings
    table's nearly-flat spectrum (λ₂/λ₁ ≈ 0.987 at sf0.01): plain
    15-step iteration converges as 0.987¹⁵ ≈ 0.82 (useless), squaring
    gives 0.987^(2^10) ≈ 1.6e-6; Rayleigh quotients are second-order
    accurate in the residual eigenvector error, and mixing within
    near-degenerate pairs perturbs the estimate by at most the (tiny)
    gap itself — measured agreement with LAPACK on the same rounded
    matrix is ~1e-6.  Per component: normalize (L∞), square
    ``squarings`` times re-normalizing, v = row-sums (matvec with 1⃗),
    λ = Rayleigh against the CURRENT deflated base, deflate
    elementwise.  Returns (eigenvalue estimates, trace of the rounded
    base) — trace as an exact 4-dp decimal sum, matching the SQL twin.
    """
    from decimal import Decimal

    d = cov.shape[0]
    m0 = np.array(
        [[round(float(cov[i, j]), 4) for j in range(d)] for i in range(d)]
    )
    trace = float(sum(Decimal(repr(m0[i, i])) for i in range(d)))
    mc = m0
    lams: list[float] = []
    for _ in range(k):
        p = _norm_inf(mc)
        for _ in range(squarings):
            p = _norm_inf(_matmul9(p, p))
        vraw = _nanos9(p).sum(axis=1) / 1e9  # Σ_j round9(p[i][j])
        v = vraw / max(float(np.abs(vraw).max()), 1e-300)
        vtv = float(_nanos9(v * v).sum()) / 1e9
        if vtv == 0.0:
            if float(np.abs(mc).max()) == 0.0:
                # truly-zero deflated base (k > rank): the remaining
                # spectrum is exactly 0 — emit zeros instead of dividing
                # by the zero Rayleigh norm.  The SQL twin reaches the
                # same values through its CASE WHEN vtv = 0 guard (an
                # all-zero base stays zero through squaring, so every
                # later component also lands in this branch).
                lams.extend([0.0] * (k - len(lams)))
                break
            # vtv == 0 on a NONZERO base means vraw cancelled: the
            # dominant eigenvector of the residual has zero row-sum
            # (orthogonal to the implicit all-ones start vector), e.g.
            # [[1,-1],[-1,1]].  Zero-filling here would be silently
            # wrong (the true spectrum is nonzero); fail loudly so the
            # caller can restart with a different start vector.
            raise ValueError(
                "deflated_power_spectrum: power iterate has zero "
                "row-sums on a nonzero base (dominant eigenvector "
                "orthogonal to the all-ones start vector); restart "
                "with a perturbed start vector"
            )
        mv = _nanos9(mc * v[None, :]).sum(axis=1) / 1e9
        vmv = float(_nanos9(v * mv).sum()) / 1e9
        lam = vmv / vtv
        lams.append(lam)
        mc = mc - ((lam * v)[:, None] * v[None, :]) / vtv
    return lams, trace
