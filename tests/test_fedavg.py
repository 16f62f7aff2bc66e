"""FedAvg aggregation properties (FIXTURES.md §5 correctness properties)."""

import numpy as np
import pytest

from federated_gcn_spark.operators.fedavg import fedavg, rows_to_weights


def _weights_to_rows(weights, client_id="driver", num_examples=1):
    """A Keras-style list-of-ndarrays as parameter-table rows."""
    return [
        {
            "round": 0,
            "client_id": client_id,
            "layer": i,
            "shape": list(w.shape),
            "values": [float(x) for x in np.asarray(w, dtype="float64").ravel()],
            "num_examples": num_examples,
        }
        for i, w in enumerate(weights)
    ]


def _param_df(spark, clients):
    rows = []
    for cid, (tensors, n) in clients.items():
        rows += _weights_to_rows(tensors, client_id=cid, num_examples=n)
    return spark.createDataFrame(rows)


@pytest.fixture(scope="module")
def two_clients(spark):
    w1 = [np.array([[1.0, 2.0], [3.0, 4.0]]), np.array([1.0, 1.0])]
    w2 = [np.array([[5.0, 6.0], [7.0, 8.0]]), np.array([3.0, 3.0])]
    return _param_df(spark, {"c1": (w1, 1), "c2": (w2, 3)})


def test_fedavg_weighted_matches_numpy(spark, two_clients):
    out = rows_to_weights([r.asDict() for r in fedavg(two_clients).collect()])
    # Σ nᵢwᵢ / Σ nᵢ with n=(1,3)
    expected0 = (1 * np.array([[1.0, 2], [3, 4]]) + 3 * np.array([[5.0, 6], [7, 8]])) / 4
    np.testing.assert_allclose(out[0], expected0)
    np.testing.assert_allclose(out[1], (1 * 1.0 + 3 * 3.0) / 4 * np.ones(2))


def test_fedavg_unweighted_is_plain_mean(spark, two_clients):
    out = rows_to_weights(
        [r.asDict() for r in fedavg(two_clients, weighted=False).collect()]
    )
    np.testing.assert_allclose(out[0], np.array([[3.0, 4.0], [5.0, 6.0]]))


def test_fedavg_of_identical_tensors_is_identity(spark):
    w = [np.array([[1.5, -2.5]]), np.array([0.25])]
    df = _param_df(spark, {"a": (w, 5), "b": (w, 9), "c": (w, 1)})
    out = rows_to_weights([r.asDict() for r in fedavg(df).collect()])
    for got, want in zip(out, w):
        np.testing.assert_allclose(got, want)


def test_codec_roundtrip(spark):
    w = [np.arange(6, dtype="float64").reshape(2, 3), np.array([9.0])]
    back = rows_to_weights(_weights_to_rows(w))
    for x, y in zip(back, w):
        np.testing.assert_array_equal(x, y)
        assert x.shape == y.shape
