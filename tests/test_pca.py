"""Distributed PCA (operators/pca.py): numpy parity + layout invariance."""

import numpy as np
import pytest

from federated_gcn_spark.operators.pca import gram_moments


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(7)
    # anisotropic cloud: variance concentrated on two planted axes
    base = rng.normal(size=(300, 8)) * np.array([5, 3, 1, 1, 0.5, 0.5, 0.1, 0.1])
    rows = [(i, base[i].tolist()) for i in range(300)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _np_matrix(emb_df):
    rows = emb_df.select("vec_id", "embedding").collect()
    return np.stack([np.array(r.embedding) for r in sorted(rows, key=lambda r: r.vec_id)])


def test_gram_moments_match_numpy(spark, emb_df):
    n, mean, cov = gram_moments(emb_df)
    X = _np_matrix(emb_df)
    assert n == 300
    np.testing.assert_allclose(mean, X.mean(0), atol=1e-9)
    np.testing.assert_allclose(cov, np.cov(X.T, bias=True), atol=1e-9)


def test_pca_layout_invariant(spark, emb_df):
    n1, m1, c1 = gram_moments(emb_df)
    n2, m2, c2 = gram_moments(emb_df.repartition(13))
    assert n1 == n2
    np.testing.assert_allclose(m1, m2, atol=1e-9)
    np.testing.assert_allclose(c1, c2, atol=1e-9)


def test_pca_dim_mismatch_raises(spark, emb_df):
    with pytest.raises(Exception, match="dim"):
        gram_moments(emb_df, dim=5)


def test_deflated_power_spectrum_matches_lapack(spark):
    """The cross-engine-replayable spectrum (matrix squaring + Rayleigh)
    agrees with LAPACK eigh on the SAME 4-dp-rounded covariance — on a
    well-separated spectrum and on a nearly-flat one (the embeddings
    table's regime, where plain 15-step power iteration is useless)."""
    from federated_gcn_spark.operators.pca import deflated_power_spectrum

    rng = np.random.default_rng(3)
    for scales in (
        np.array([5, 3, 1, 1, 0.5, 0.5, 0.1, 0.1]),   # separated
        1.0 + 0.02 * np.arange(8)[::-1],               # nearly flat
    ):
        X = rng.normal(size=(400, 8)) * scales
        cov = np.cov(X.T, bias=True)
        lams, trace = deflated_power_spectrum(cov, k=5, squarings=10)
        m0 = np.round(cov, 4)
        want = np.linalg.eigvalsh(m0)[::-1][:5]
        np.testing.assert_allclose(lams, want, atol=5e-7)
        assert trace == pytest.approx(float(np.trace(m0)), abs=1e-9)


def test_pca_variance_query_matches_lapack(spark):
    """The registered query's estimates equal LAPACK on the rounded
    covariance of the real embeddings table (the flat-spectrum case)."""
    from federated_gcn_spark.operators.pca import gram_moments
    from federated_gcn_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {
        r["component"]: (r["eigenvalue"], r["explained_ratio"])
        for r in QUERIES["pca_variance"](spark, sf).collect()
    }
    from federated_gcn_spark.catalog import load_table

    _, _, cov = gram_moments(load_table(spark, sf, "embeddings"))
    m0 = np.round(cov, 4)
    ev = np.linalg.eigvalsh(m0)[::-1][:8]
    tr = float(np.trace(m0))
    for c in range(8):
        assert got[c][0] == pytest.approx(ev[c], abs=1e-5)
        assert got[c][1] == pytest.approx(ev[c] / tr, abs=1e-5)


def test_deflated_power_spectrum_degenerate_bases():
    """Zero covariance (constant embedding column) and k > rank must not
    divide by the zero Rayleigh norm — the residual spectrum is 0."""
    import numpy as np
    from federated_gcn_spark.operators.pca import deflated_power_spectrum

    lams, trace = deflated_power_spectrum(np.zeros((4, 4)), k=3)
    assert lams == [0.0, 0.0, 0.0] and trace == 0.0

    rank1 = np.outer([1.0, 2.0, 0.0], [1.0, 2.0, 0.0])  # rank 1, d=3
    lams, trace = deflated_power_spectrum(rank1, k=3)
    assert abs(lams[0] - 5.0) < 1e-6
    assert all(abs(x) < 1e-6 for x in lams[1:])
    assert abs(trace - 5.0) < 1e-12


def test_deflated_power_spectrum_row_sum_cancellation_raises():
    """vtv == 0 on a NONZERO base (dominant eigenvector orthogonal to
    the implicit all-ones start vector) must raise, not silently emit
    0.0 — [[1,-1],[-1,1]] has true spectrum [2, 0] but zero row sums."""
    import numpy as np
    import pytest
    from federated_gcn_spark.operators.pca import deflated_power_spectrum

    base = np.array([[1.0, -1.0], [-1.0, 1.0]])
    with pytest.raises(ValueError, match="zero row-sums on a nonzero"):
        deflated_power_spectrum(base, k=2)
