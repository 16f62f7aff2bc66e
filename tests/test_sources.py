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


def test_curate_corpus_end_to_end(spark, tmp_path):
    """Full curation pipeline: junk filtered, exact + near dups collapsed,
    survivors chunked with overlap, metadata joined, parquet written
    partitioned by language."""
    from federated_gcn_spark.plans.pipelines import curate_corpus

    base = (
        "the quick brown fox jumps over the lazy dog and runs into the green "
        "hills to find a quiet place for a long afternoon nap in the sun"
    )
    docs = spark.createDataFrame(
        [
            (1, base),                                   # survivor
            (2, base),                                   # exact dup of 1
            (3, base.replace("nap", "rest")),            # near dup of 1
            (4, "short junk"),                           # too few tokens
            (5, "der hund und die katze, das ist gut und der tag ist lang und die "
                "sonne ist hell und das wetter ist warm und alles ist gut heute"),
        ],
        "doc_id long, text string",
    )
    out_path = str(tmp_path / "curated")
    out = curate_corpus(
        docs, min_tokens=5, min_quality=0.3, near_dup_jaccard=0.5,
        chunk_size=16, chunk_stride=12, out_path=out_path,
    )
    rows = out.collect()
    kept_docs = {r["doc_id"] for r in rows}
    assert kept_docs == {1, 5}  # 2 exact-dup, 3 near-dup, 4 junk
    # doc 1 has 28 tokens → chunks start at 0, 12, 24 with the tail partial
    d1 = sorted(
        (r["chunk_id"], r["n_tokens"]) for r in rows if r["doc_id"] == 1
    )
    assert d1 == [(0, 16), (1, 16), (2, 4)]
    langs = {r["doc_id"]: r["pred_lang"] for r in rows}
    assert langs[1] == "en" and langs[5] == "de"
    # the sink is partitioned by language
    import os

    assert os.path.isdir(os.path.join(out_path, "pred_lang=en"))
    reread = spark.read.parquet(out_path)
    assert reread.count() == len(rows)


def test_curate_corpus_sampling_is_doc_level(spark):
    from federated_gcn_spark.plans.pipelines import curate_corpus

    text = "plain words that make a reasonably long and ordinary document " * 3
    docs = spark.createDataFrame(
        [(i, f"{text} marker {i}") for i in range(40)],
        "doc_id long, text string",
    )
    out = curate_corpus(
        docs, min_tokens=5, min_quality=0.0, near_dup_jaccard=None,
        chunk_size=8, chunk_stride=8, sample_fraction=0.4, seed=11,
    )
    rows = out.collect()
    sampled_docs = {r["doc_id"] for r in rows}
    assert 0 < len(sampled_docs) < 40
    # sampling keeps or drops whole documents: every surviving doc has its
    # complete chunk set (9 words × 3 + marker + id = 29 tokens → 4 chunks)
    from collections import Counter

    per_doc = Counter(r["doc_id"] for r in rows)
    assert all(c == 4 for c in per_doc.values())
