"""ALS matrix factorization: numpy parity, determinism, rank-1 closed
form."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from federated_gcn_spark.operators.als import (
    als_fit,
    als_rank1,
    hash_factor,
)


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


def _numpy_als(ratings_rows, init_v, rank, iters, lam):
    """Dense reference ALS with the same init and update order."""
    users = sorted({u for u, _, _ in ratings_rows})
    items = sorted({i for _, i, _ in ratings_rows})
    ui = {u: a for a, u in enumerate(users)}
    ii = {i: a for a, i in enumerate(items)}
    R = np.zeros((len(users), len(items)))
    M = np.zeros_like(R, dtype=bool)
    for u, i, r in ratings_rows:
        R[ui[u], ii[i]] = r
        M[ui[u], ii[i]] = True
    V = np.array([init_v[i] for i in items])
    U = np.zeros((len(users), rank))
    for _ in range(iters):
        for a in range(len(users)):
            m = M[a]
            A = V[m].T @ V[m] + lam * np.eye(rank)
            U[a] = np.linalg.solve(A, V[m].T @ R[a, m])
        for b in range(len(items)):
            m = M[:, b]
            A = U[m].T @ U[m] + lam * np.eye(rank)
            V[b] = np.linalg.solve(A, U[m].T @ R[m, b])
    return {u: U[ui[u]] for u in users}, {i: V[ii[i]] for i in items}


def test_als_matches_dense_numpy_reference(spark, ratings):
    rank, iters, lam = 4, 3, 0.1
    uf, itf = als_fit(ratings, rank=rank, iterations=iters, lam=lam)

    init_rows = (
        ratings.select("item").distinct()
        .select("item", F.array(*[hash_factor("item", d) for d in range(rank)]).alias("v"))
        .collect()
    )
    init_v = {r["item"]: np.array(r["v"]) for r in init_rows}
    ref_u, ref_v = _numpy_als(
        [(r["user"], r["item"], r["rating"]) for r in ratings.collect()],
        init_v, rank, iters, lam,
    )
    got_u = {r["user"]: np.array(r["vec"]) for r in uf.collect()}
    got_v = {r["item"]: np.array(r["vec"]) for r in itf.collect()}
    for u in ref_u:
        np.testing.assert_allclose(got_u[u], ref_u[u], rtol=1e-8, atol=1e-10)
    for i in ref_v:
        np.testing.assert_allclose(got_v[i], ref_v[i], rtol=1e-8, atol=1e-10)


def test_als_reduces_rmse_and_is_layout_independent(spark, ratings):
    uf1, if1 = als_fit(ratings, rank=4, iterations=3)
    u = {r["user"]: np.array(r["vec"]) for r in uf1.collect()}
    v = {r["item"]: np.array(r["vec"]) for r in if1.collect()}
    err = [
        r["rating"] - u[r["user"]] @ v[r["item"]]
        for r in ratings.select("user", "item", "rating").collect()
    ]
    rmse = float(np.sqrt(np.mean(np.square(err))))
    # mean rating ~3; a rank-4 fit on 12x9 should be well under 1.0
    assert rmse < 1.0
    uf2, if2 = als_fit(ratings.repartition(13, "item"), rank=4, iterations=3)
    a = {r["user"]: r["vec"] for r in uf1.collect()}
    b = {r["user"]: r["vec"] for r in uf2.collect()}
    for u in a:
        np.testing.assert_allclose(a[u], b[u], rtol=1e-9)


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


def test_half_step_broadcasts_factors_and_single_agg_exchange(spark, ratings):
    """The normal-equation join must be a broadcast hash join (ratings
    never re-exchanged for the join); the only Exchange in a half-step
    is the partial-agg shuffle after the map-side combine.  With
    broadcast_factors=False the SMJ fallback path is exercised."""
    from federated_gcn_spark.operators.als import _init_factors, _solve_half

    r = ratings.localCheckpoint(eager=True)
    item_f = _init_factors(r.select("item").distinct(), "item", 2)
    item_f = item_f.localCheckpoint(eager=True)  # as als_fit does

    half = _solve_half(r, item_f, "user", "item", 2, 0.1)
    plan = half._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1

    smj = _solve_half(r, item_f, "user", "item", 2, 0.1,
                      broadcast_factors=False)
    plan2 = smj._jdf.queryExecution().executedPlan().toString()
    # broadcast_factors=False must actually fall back to a sort-merge
    # join: assert both directions, otherwise a regression to broadcast
    # would slip through whenever any SMJ appears elsewhere in the plan.
    assert "SortMergeJoin" in plan2
    assert "BroadcastHashJoin" not in plan2
    got = {row["user"]: row["vec"] for row in half.collect()}
    got2 = {row["user"]: row["vec"] for row in smj.collect()}
    assert set(got) == set(got2)
    for u in got:
        np.testing.assert_allclose(got[u], got2[u], rtol=1e-9)
