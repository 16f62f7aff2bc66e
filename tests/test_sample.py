"""Deterministic stratified, k-fold and weighted sampling
(operators/sample.py)."""

import pytest

from federated_gcn_spark.operators.sample import stratified_sample


def _table(spark, n=2000):
    return spark.range(n).selectExpr(
        "id AS k", "CASE WHEN id % 10 < 7 THEN 'en' WHEN id % 10 < 9 THEN 'de' ELSE 'fr' END AS lang"
    )


def _sample(df, fraction, seed=42):
    """The same keep-fraction in every stratum."""
    return stratified_sample(
        df, "lang", {s: fraction for s in ("en", "de", "fr")}, key_col="k", seed=seed
    )


def test_sample_layout_independent(spark):
    df = _table(spark)
    a = sorted(r["k"] for r in _sample(df, 0.3, seed=7).collect())
    b = sorted(r["k"] for r in _sample(df.repartition(13, "lang"), 0.3, seed=7).collect())
    assert a == b and len(a) > 0


def test_sample_fraction_roughly_respected_and_seed_sensitive(spark):
    df = _table(spark, 5000)
    n = _sample(df, 0.3, seed=7).count()
    assert 0.25 * 5000 < n < 0.35 * 5000
    other = sorted(r["k"] for r in _sample(df, 0.3, seed=8).collect())
    assert other != sorted(r["k"] for r in _sample(df, 0.3, seed=7).collect())
    assert _sample(df, 0.0).count() == 0
    assert _sample(df, 1.0).count() == 5000


def test_stratified_fractions_per_stratum(spark):
    df = _table(spark, 5000)
    out = stratified_sample(
        df, "lang", {"en": 0.1, "de": 0.9}, key_col="k", seed=3, default_fraction=0.5
    )
    counts = {r["lang"]: r["cnt"] for r in out.groupBy("lang").count().withColumnRenamed("count", "cnt").collect()}
    totals = {r["lang"]: r["cnt"] for r in df.groupBy("lang").count().withColumnRenamed("count", "cnt").collect()}
    assert counts["en"] / totals["en"] < 0.15
    assert counts["de"] / totals["de"] > 0.8
    assert 0.4 < counts["fr"] / totals["fr"] < 0.6


def test_stratified_rejects_bad_fraction(spark):
    df = _table(spark, 10)
    with pytest.raises(ValueError):
        stratified_sample(df, "lang", {"en": 1.5}, key_col="k")


def test_sample_fractions_nest(spark):
    """u(key) < f thresholds nest: the 20% sample is a subset of the 30%
    sample — stable incremental growth, unlike per-partition RNG sampling."""
    df = _table(spark, 3000)
    small = {r["k"] for r in _sample(df, 0.2, seed=5).collect()}
    big = {r["k"] for r in _sample(df, 0.3, seed=5).collect()}
    assert small < big


def test_kfold_assignment_partitions_every_row_exactly_once(spark):
    from federated_gcn_spark.operators.sample import kfold_assignment

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    folds = kfold_assignment(df, k=5, key_col="doc_id")
    rows = folds.collect()
    assert len(rows) == 2000
    by_fold = {}
    for r in rows:
        assert 0 <= r["fold"] < 5
        by_fold[r["fold"]] = by_fold.get(r["fold"], 0) + 1
    assert set(by_fold) == {0, 1, 2, 3, 4}
    assert all(n > 250 for n in by_fold.values())  # roughly balanced
    # layout-independent: same assignment after adversarial repartition
    again = {
        r["doc_id"]: r["fold"]
        for r in kfold_assignment(df.repartition(17), k=5, key_col="doc_id").collect()
    }
    first = {r["doc_id"]: r["fold"] for r in rows}
    assert first == again


def test_weighted_sample_is_deterministic_and_biased_by_weight(spark):
    from federated_gcn_spark.operators.sample import weighted_sample

    # ids 0..199 weight 1; ids 200..219 weight 50
    rows = [(i, 1.0) for i in range(200)] + [(i, 50.0) for i in range(200, 220)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = {r["doc_id"] for r in weighted_sample(df, 40, "w", "doc_id").collect()}
    assert len(got) == 40
    heavy = sum(1 for i in got if i >= 200)
    # heavy ids are 9% of rows but 83% of total weight -> dominate the sample
    assert heavy >= 10
    again = {
        r["doc_id"]
        for r in weighted_sample(df.repartition(13), 40, "w", "doc_id").collect()
    }
    assert got == again  # layout-independent
