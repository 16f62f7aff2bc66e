"""Sources layer + the merge.py pipeline end-to-end on reference-format
fixture files (CORA-shaped, tiny)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from federated_gcn_spark.plans.pipelines import concat_embeddings_pipeline, merge_pipeline
from federated_gcn_spark.sources import (
    read_raw_attributes,
    read_raw_edges,
    read_weights_table,
)

F_DIM = 4  # stand-in for CORA's 1433


@pytest.fixture(scope="module")
def ref_files(tmp_path_factory):
    """Reference file formats: headerless whitespace attr/edge files
    (data/4_attributes_0, data/4_0 shapes) + header CSVs."""
    d = tmp_path_factory.mktemp("refdata")
    # local store: ids 1-3; central store replicates boundary node 3 with
    # DIFFERENT features (the case merge.py's keep-first resolves)
    (d / "g_attributes_0").write_text(
        "1 1 0 0 1 Neural_Networks\n"
        "2 0 1 0 0 Theory\n"
        "3 1 1 0 0 Case_Based\n"
    )
    (d / "g_centralstore_attributes_0").write_text(
        "3 0 0 0 0 Case_Based\n"
        "4 0 0 1 1 Genetic_Algorithms\n"
    )
    (d / "g_0").write_text("1 2\n2 3\n")
    (d / "g_centralstore_0").write_text("3 4\n2 3\n")
    return d


def test_read_raw_attributes(spark, ref_files):
    df = read_raw_attributes(spark, str(ref_files / "g_attributes_0"), F_DIM)
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["features"] == [1.0, 0.0, 0.0, 1.0]
    assert rows[1]["label"] == "Neural_Networks"
    assert len(rows) == 3


def test_read_raw_edges(spark, ref_files):
    df = read_raw_edges(spark, str(ref_files / "g_0"))
    assert sorted((r["src"], r["dst"]) for r in df.collect()) == [(1, 2), (2, 3)]


def test_merge_pipeline_end_to_end(spark, ref_files, tmp_path):
    nodes, edges = merge_pipeline(
        spark,
        localstore_edges=str(ref_files / "g_0"),
        localstore_attrs=str(ref_files / "g_attributes_0"),
        centralstore_edges=str(ref_files / "g_centralstore_0"),
        centralstore_attrs=str(ref_files / "g_centralstore_attributes_0"),
        out_nodes=str(tmp_path / "out_nodes"),
        out_edges=str(tmp_path / "out_edges"),
        feature_dim=F_DIM,
    )
    node_rows = {r["id"]: r["features"] for r in nodes.collect()}
    # local copy of boundary node 3 wins (merge.py:38-39)
    assert node_rows[3] == [1.0, 1.0, 0.0, 0.0]
    assert set(node_rows) == {1, 2, 3, 4}
    # bag union keeps the duplicated (2,3) edge (merge.py:40)
    assert edges.count() == 4
    # sinks round-trip through the reference CSV layout: header
    # ``id,0,..,F-1`` for nodes and ``source,target`` for edges
    back = spark.read.option("header", True).csv(str(tmp_path / "out_nodes"))
    assert back.columns == ["id", *map(str, range(F_DIM))]
    assert {
        int(r["id"]): [float(r[str(i)]) for i in range(F_DIM)]
        for r in back.collect()
    } == node_rows
    back_e = spark.read.option("header", True).csv(str(tmp_path / "out_edges"))
    assert back_e.columns == ["source", "target"] and back_e.count() == 4


def test_weights_table_roundtrip(spark, tmp_path):
    w = [np.array([[1.0, 2.0]]), np.array([3.0])]
    p = str(tmp_path / "param_table")

    def write(weights, round_no):
        # the layout federated_fit(weights_sink=...) appends per round
        rows = [(i, list(x.shape), x.ravel().tolist()) for i, x in enumerate(weights)]
        spark.createDataFrame(
            rows, "layer int, shape array<int>, values array<double>"
        ).withColumn("round", F.lit(round_no)).write.mode("append").partitionBy(
            "round"
        ).parquet(p)

    write(w, 0)
    w2 = [x * 2 for x in w]
    write(w2, 1)
    latest, df = read_weights_table(spark, p)  # defaults to max round
    for a, b in zip(latest, w2):
        np.testing.assert_array_equal(a, b)
    r0, _ = read_weights_table(spark, p, round_no=0)
    np.testing.assert_array_equal(r0[0], w[0])


def test_concat_embeddings_pipeline(spark, tmp_path):
    p0 = spark.createDataFrame([(1, [1.0]), (2, [2.0])], "id long, embedding array<double>")
    p1 = spark.createDataFrame([(2, [9.0]), (3, [3.0])], "id long, embedding array<double>")
    out = str(tmp_path / "emb")
    merged = concat_embeddings_pipeline([p0, p1], out_path=out)
    assert merged.count() == 3
    assert spark.read.parquet(out).count() == 3
