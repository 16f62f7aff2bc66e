"""Sketch aggregates: HLL error bounds and mergeability, KMV, exact order statistics."""

from pyspark.sql import functions as F

from federated_gcn_spark.operators.sketch import (
    cardinality_report,
    incremental_hll,
)

SF_DIR = "/root/testdata/sf0.001"


def _events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


def test_hll_within_5pct_of_exact(spark):
    rep = cardinality_report(_events(spark), "user_id", "event_type").collect()
    assert len(rep) > 0
    for r in rep:
        assert r["rel_err"] <= 0.05, (r["event_type"], r["rel_err"])


def test_hll_merge_equals_single_sketch(spark):
    """Union of per-type sketches == the estimate a single global sketch
    gives — mergeability is the property incremental pipelines rely on."""
    ev = _events(spark)
    merged = incremental_hll(ev, "user_id", "event_type").collect()[0]
    single = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(F.col("user_id"), F.lit(12)))
    ).collect()[0][0]
    assert merged["merged_estimate"] == single
    exact = ev.select("user_id").distinct().count()
    assert abs(merged["merged_estimate"] - exact) / exact <= 0.05


def test_logistic_fit_matches_numpy_gd(spark):
    """Catalyst-expression GD == the same GD in numpy (tight tolerance;
    float sum order is the only difference), and the fit separates a
    separable synthetic."""
    import numpy as np

    from federated_gcn_spark.operators.logistic import logistic_fit

    rng = np.random.default_rng(0)
    n = 4000
    X = rng.normal(size=(n, 2))
    yv = (X[:, 0] + 2 * X[:, 1] + rng.normal(scale=0.3, size=n) > 0).astype(float)
    rows = [(float(a), float(b), float(c)) for (a, b), c in zip(X, yv)]
    df = spark.createDataFrame(rows, "f1 double, f2 double, y double")

    w, b = logistic_fit(df, ["f1", "f2"], "y", lr=0.5, iterations=30,
                        standardize=False)

    wn = np.zeros(2); bn = 0.0
    for _ in range(30):
        z = X @ wn + bn
        r = 1 / (1 + np.exp(-z)) - yv
        wn -= 0.5 * (r[:, None] * X).mean(axis=0)
        bn -= 0.5 * r.mean()
    np.testing.assert_allclose(w, wn, rtol=1e-9)
    assert abs(b - bn) < 1e-9
    acc = ((1 / (1 + np.exp(-(X @ w + b))) > 0.5) == (yv == 1)).mean()
    assert acc > 0.9
    assert w[1] > w[0] > 0  # recovers the 1:2 coefficient structure


def test_hll_replay_accuracy_and_register_bounds(spark):
    from federated_gcn_spark.operators.sketch import hll_replay

    n = 20000
    df = spark.range(n).select(
        (F.col("id") % 5000).alias("k"), F.lit("g").alias("g")
    )
    row = hll_replay(df, "k", "g", p=7).collect()[0]
    # raw-regime estimate (5000 >> 2.5*128): within 3 RSE of exact
    rse = 1.04 / (128 ** 0.5)
    assert abs(row["est_distinct"] - 5000) / 5000 < 3 * rse
    assert 1 <= row["max_reg"] <= 58
    assert 1 <= row["nonzero_regs"] <= 128


def test_hll_replay_is_layout_independent(spark):
    from federated_gcn_spark.operators.sketch import hll_replay

    df = spark.range(3000).select(
        (F.col("id") % 700).alias("k"), (F.col("id") % 2).cast("string").alias("g")
    )
    a = {r["g"]: r for r in hll_replay(df, "k", "g").collect()}
    b = {r["g"]: r for r in hll_replay(df.repartition(17, "k"), "k", "g").collect()}
    assert set(a) == set(b)
    for g in a:
        assert a[g]["est_distinct"] == b[g]["est_distinct"]
        assert a[g]["max_reg"] == b[g]["max_reg"]


def test_kmv_estimate_tracks_exact(spark):
    from federated_gcn_spark.operators.sketch import kmv_kth

    df = spark.range(50000).select((F.col("id") % 2000).alias("k"))
    row = kmv_kth(df, "k", k=256).collect()[0]
    assert row["k_actual"] == 256
    rse = 1.0 / (256 - 2) ** 0.5
    assert abs(row["est_distinct"] - 2000) / 2000 < 4 * rse


def test_kmv_exact_regime_below_k(spark):
    """Fewer than k distinct values: the sketch holds them all, so the
    estimate must be the exact count, not the inflated (k-1)*2^64/h_(k)
    formula (round-3 ADVICE fix)."""
    from federated_gcn_spark.operators.sketch import kmv_kth

    df = spark.range(1000).select((F.col("id") % 7).alias("k"))
    row = kmv_kth(df, "k", k=32).collect()[0]
    assert row["k_actual"] == 7
    assert row["est_distinct"] == 7.0


def test_exact_kth_smallest_matches_sorted(spark):
    import random

    from federated_gcn_spark.operators.stats import exact_kth_smallest_value

    rng = random.Random(7)
    vals = [rng.uniform(-100, 100) for _ in range(5000)] + [42.0] * 50
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    s = sorted(vals)
    for k in (1, 17, 2525, len(vals)):
        assert exact_kth_smallest_value(df, "x", k) == s[k - 1]


def test_exact_kth_smallest_constant_column(spark):
    from federated_gcn_spark.operators.stats import exact_kth_smallest_value

    df = spark.createDataFrame([(3.5,)] * 10, "x double")
    assert exact_kth_smallest_value(df, "x", 5) == 3.5


def test_exact_group_median_matches_sorted(spark):
    import random

    from federated_gcn_spark.operators.stats import exact_group_median

    rng = random.Random(3)
    rows = [
        (g, rng.uniform(0, 10) if g != "c" else 5.0)
        for g in ("a", "b", "c")
        for _ in range(rng.randint(51, 400))
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    got = {r["g"]: r["median"] for r in exact_group_median(df, "g", "x").collect()}
    by_g = {}
    for g, x in rows:
        by_g.setdefault(g, []).append(x)
    for g, xs in by_g.items():
        xs.sort()
        assert got[g] == xs[(len(xs) + 1) // 2 - 1], g
