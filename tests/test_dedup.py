"""Near-duplicate detection operators."""

import pytest

from federated_gcn_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    with_minhash_signature,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")  # 1-word edit → high jaccard
    far = "completely different words about spark query engines and shuffles"
    return spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far), (5, "")],
        "doc_id long, text string",
    )


def test_exact_dedup_keeps_lowest_id(spark, docs):
    kept = sorted(r["doc_id"] for r in exact_dedup(docs).collect())
    assert kept == [1, 3, 4, 5]  # doc 2 is an exact dup of 1


def test_minhash_identical_docs_identical_sigs(spark, docs):
    sigs = {
        r["doc_id"]: r["sig"]
        for r in with_minhash_signature(docs, num_hashes=32).collect()
    }
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]
    assert len(sigs[1]) == 32


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(docs, num_hashes=64, bands=32).collect()
    }
    assert pairs[(1, 2)] == 1.0  # exact dup: every slot matches
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.3  # near dup caught
    assert (1, 4) not in pairs or pairs[(1, 4)] < 0.2


def test_ngram_jaccard_verification(spark, docs):
    cands = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, cands, threshold=0.0).collect()
    }
    assert out[(1, 2)] == 1.0
    assert 0.5 < out[(1, 3)] < 1.0
    assert out[(1, 4)] == 0.0


def test_simhash_hamming_properties(spark, docs):
    sigs = {
        r["doc_id"]: r["sh"]
        for r in docs.select("doc_id", simhash("text").alias("sh")).collect()
    }
    assert sigs[1] == sigs[2]
    ham13 = bin(sigs[1] ^ sigs[3]).count("1")
    ham14 = bin(sigs[1] ^ sigs[4]).count("1")
    assert ham13 < ham14  # near dup closer than unrelated doc


def test_near_dup_clusters_transitive_closure(spark):
    from federated_gcn_spark.operators.dedup import near_dup_clusters

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 7)], "doc_id long, text string"
    )
    # chain 1~2~3 (near-dup is NOT transitive; the cluster closure is),
    # pair 4~5, singleton 6
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    out = {r["doc_id"]: r["cluster_id"] for r in near_dup_clusters(docs, pairs).collect()}
    assert out[1] == out[2] == out[3]
    assert out[4] == out[5] != out[1]
    assert out[6] not in (out[1], out[4])


def test_near_dedup_keeps_one_per_cluster(spark, docs):
    from federated_gcn_spark.operators.dedup import near_dedup

    kept = near_dedup(
        docs.select("doc_id", "text"), jaccard_threshold=0.5, seed=42
    )
    ids = sorted(r["doc_id"] for r in kept.collect())
    # 1≈2 (exact) and 1≈3 (1-word edit) collapse to doc 1; 4 and 5 survive
    assert ids == [1, 4, 5]
    # survivors carry their cluster id; re-run is deterministic
    again = sorted(r["doc_id"] for r in near_dedup(
        docs.select("doc_id", "text"), jaccard_threshold=0.5, seed=42
    ).collect())
    assert again == ids
