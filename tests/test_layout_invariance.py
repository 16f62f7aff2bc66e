"""Cluster-layout invariance of every seeded/sampled operator.

SURVEY.md §7.3 risk 2: Spark's ``rand()`` depends on partitioning and row
order, so naive sampling changes results when the cluster layout changes.
Every randomized operator here derives its draws from pure hashes of row
identity instead — these tests recompute each one under a DIFFERENT
``spark.sql.shuffle.partitions`` setting and require bit-identical
output. (Same-seed determinism under a fixed layout is covered in the
per-operator test files; this is the stronger guarantee.)
"""

import pytest

from federated_gcn_spark.graph.graph import Graph
from federated_gcn_spark.graph.sampling import fanout_sample, uniform_random_walks
from federated_gcn_spark.graph.split import connectivity_preserving_split
from federated_gcn_spark.operators.dedup import minhash_lsh_pairs


@pytest.fixture()
def with_partitions(spark):
    """Run a thunk under a given shuffle-partition count, restoring after."""
    def run(n, thunk):
        before = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            return thunk()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)
    return run


def _graph(spark, n=60):
    edges = spark.range(n).selectExpr(
        "id AS src", "(id + 1) % 60 AS dst"
    ).unionAll(
        spark.range(0, n, 3).selectExpr("id AS src", "(id + 7) % 60 AS dst")
    )
    return Graph.from_edges(edges)


def test_walks_layout_invariant(spark, with_partitions):
    g = _graph(spark)
    a = with_partitions(3, lambda: sorted(
        map(tuple, uniform_random_walks(g, length=4, seed=9).collect())
    ))
    b = with_partitions(11, lambda: sorted(
        map(tuple, uniform_random_walks(g, length=4, seed=9).collect())
    ))
    assert a == b


def test_fanout_layout_invariant(spark, with_partitions):
    g = _graph(spark)
    roots = g.vertices
    a = with_partitions(3, lambda: sorted(
        map(tuple, fanout_sample(g, roots, [3, 2], seed=4).collect())
    ))
    b = with_partitions(13, lambda: sorted(
        map(tuple, fanout_sample(g, roots, [3, 2], seed=4).collect())
    ))
    assert a == b


def test_split_layout_invariant(spark, with_partitions):
    g = _graph(spark)

    def run():
        s = connectivity_preserving_split(g, p=0.2, seed=7)
        return (
            sorted(map(tuple, s.positives.collect())),
            sorted(map(tuple, s.negatives.collect())),
        )

    assert with_partitions(3, run) == with_partitions(9, run)


def test_minhash_pairs_layout_invariant(spark, with_partitions):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base.replace("today", "tomorrow")),
         (4, "completely different words about query engines")],
        "doc_id long, text string",
    )

    def run():
        return sorted(
            (r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
            for r in minhash_lsh_pairs(docs).collect()
        )

    assert with_partitions(2, run) == with_partitions(7, run)
