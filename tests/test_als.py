"""ALS matrix factorization: the rank-1 closed form by hand, the rank-2
Cramer solves against numpy."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from federated_gcn_spark.operators.als import als_rank1, hash_factor


@pytest.fixture(scope="module")
def ratings(spark):
    # small dense-ish implicit matrix: 12 users x 9 items
    rows = [
        (u, i, float(1 + (u * 7 + i * 3) % 5))
        for u in range(12)
        for i in range(9)
        if (u + i) % 3 != 0
    ]
    return spark.createDataFrame(rows, "user long, item long, rating double")


def test_als_rank1_closed_form_hand_check(spark):
    # 1 user, 2 items: u = (r1*v1 + r2*v2)/(lam + v1^2 + v2^2), exactly
    df = spark.createDataFrame(
        [(7, 100, 2.0), (7, 101, 4.0)], "user long, item long, rating double"
    )
    lam = 0.1
    uf, itf = als_rank1(df, iterations=1, lam=lam, round_to=6)
    v0 = {
        r["item"]: r["v"]
        for r in df.select("item").distinct()
        .select("item", F.round(hash_factor("item", 0), 6).alias("v"))
        .collect()
    }
    u_expect = round(
        (2.0 * v0[100] + 4.0 * v0[101]) / (lam + v0[100] ** 2 + v0[101] ** 2), 6
    )
    assert uf.collect()[0]["u"] == pytest.approx(u_expect, abs=1e-9)
    # item update then uses the rounded u
    u = uf.collect()[0]["u"]
    v_expect = round((2.0 * u) / (lam + u * u), 6)
    got_v = {r["item"]: r["v"] for r in itf.collect()}
    assert got_v[100] == pytest.approx(v_expect, abs=1e-9)


def test_als_rank2_matches_numpy_solve(spark, ratings):
    """Cramer 2x2 half-steps must equal numpy's LAPACK solve on the
    same flow (one full iteration, modulo the 4-dp resync rounding)."""
    from federated_gcn_spark.operators.als import als_rank2

    lam = 0.1
    uf, itf = als_rank2(ratings, iterations=1, lam=lam)
    rows = [(r["user"], r["item"], r["rating"]) for r in ratings.collect()]
    init = {
        r["item"]: (r["v1"], r["v2"])
        for r in ratings.select("item").distinct().select(
            "item",
            F.round(hash_factor("item", 0), 4).alias("v1"),
            F.round(hash_factor("item", 1), 4).alias("v2"),
        ).collect()
    }
    # numpy user half-step on the rounded init
    by_user = {}
    for u, i, r in rows:
        by_user.setdefault(u, []).append((i, r))
    u_ref = {}
    for u, lst in by_user.items():
        V = np.array([init[i] for i, _ in lst])
        r = np.array([x for _, x in lst])
        A = V.T @ V + lam * np.eye(2)
        sol = np.linalg.solve(A, V.T @ r)
        u_ref[u] = (round(sol[0], 4), round(sol[1], 4))
    got_u = {r["user"]: (r["u1"], r["u2"]) for r in uf.collect()}
    assert set(got_u) == set(u_ref)
    for u in u_ref:
        assert got_u[u][0] == pytest.approx(u_ref[u][0], abs=2e-4)
        assert got_u[u][1] == pytest.approx(u_ref[u][1], abs=2e-4)
    # item half-step consumes the ROUNDED user factors
    got_u_exact = got_u
    by_item = {}
    for u, i, r in rows:
        by_item.setdefault(i, []).append((u, r))
    for i, lst in by_item.items():
        U = np.array([got_u_exact[u] for u, _ in lst])
        r = np.array([x for _, x in lst])
        A = U.T @ U + lam * np.eye(2)
        sol = np.linalg.solve(A, U.T @ r)
        got_v = {r2["item"]: (r2["v1"], r2["v2"]) for r2 in itf.collect()}
        assert got_v[i][0] == pytest.approx(round(sol[0], 4), abs=2e-4)
        assert got_v[i][1] == pytest.approx(round(sol[1], 4), abs=2e-4)
