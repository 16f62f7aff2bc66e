"""Seeded random walks + fanout sampling: shape, validity, determinism."""

from federated_gcn_spark.graph import fanout_sample, uniform_random_walks


def _walks_as_dict(walks):
    out = {}
    for r in walks.collect():
        out.setdefault(r["walk_id"], {})[r["step"]] = r["vertex"]
    return out


def test_walk_shape_and_validity(spark, toy_graph):
    walks = uniform_random_walks(toy_graph, length=4, number_of_walks=1, seed=7)
    by_walk = _walks_as_dict(walks)
    assert len(by_walk) == 8  # one walk per vertex
    edge_set = set()
    for r in toy_graph.symmetrized_edges().collect():
        edge_set.add((r["src"], r["dst"]))
    for steps in by_walk.values():
        assert steps[0] is not None and 0 in steps
        for s in range(1, max(steps)):
            assert (steps[s], steps[s + 1]) in edge_set  # consecutive = real edge
        # toy graph has no dead ends on the symmetrized view → full length
        assert len(steps) == 4


def test_walk_determinism_and_seed_sensitivity(spark, toy_graph):
    w1 = _walks_as_dict(uniform_random_walks(toy_graph, length=5, seed=7))
    w2 = _walks_as_dict(
        uniform_random_walks(
            toy_graph.vertices.repartition(7) and toy_graph, length=5, seed=7
        )
    )
    assert w1 == w2  # same seed ⇒ identical walks, any layout
    w3 = _walks_as_dict(uniform_random_walks(toy_graph, length=5, seed=8))
    assert w1 != w3  # different seed ⇒ (overwhelmingly) different walks


def test_fanout_sample_caps_children(spark, toy_graph):
    roots = toy_graph.vertices
    out = fanout_sample(toy_graph, roots, fanouts=[2, 1], seed=3)
    hop1 = out.where("hop = 1").groupBy("root", "parent").count().collect()
    assert all(r["count"] <= 2 for r in hop1)
    hop2 = out.where("hop = 2").groupBy("root", "parent").count().collect()
    assert all(r["count"] <= 1 for r in hop2)
    # determinism
    again = fanout_sample(toy_graph, roots, fanouts=[2, 1], seed=3)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_node2vec_walks_follow_edges_and_are_deterministic(spark):
    from federated_gcn_spark.graph import Graph
    from federated_gcn_spark.graph.sampling import node2vec_walks

    edges = [(i, i + 1) for i in range(10)] + [(0, 5), (2, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(df)
    adj = set()
    for u, v in edges:
        adj.add((u, v))
        adj.add((v, u))

    walks = node2vec_walks(g, p=0.5, q=2.0, length=4, seed=7).collect()
    by_walk = {}
    for r in walks:
        by_walk.setdefault(r["walk_id"], {})[r["step"]] = r["vertex"]
    assert len(by_walk) == g.vertices.count()
    for steps in by_walk.values():
        seq = [steps[s] for s in sorted(steps)]
        for a, b in zip(seq, seq[1:]):
            assert (a, b) in adj, (seq, a, b)

    again = node2vec_walks(g, p=0.5, q=2.0, length=4, seed=7)
    r1 = sorted((r["walk_id"], r["step"], r["vertex"]) for r in walks)
    r2 = sorted(
        (r["walk_id"], r["step"], r["vertex"])
        for r in again.repartition(17).collect()
    )
    assert r1 == r2


def test_node2vec_bias_controls_return_probability(spark):
    """Star graph, walks start at leaf 1: step 1 forces the hub, step 2
    chooses between returning (weight 1/p) and 4 unexplored leaves
    (weight 1/q each). Tiny p must concentrate mass on returning; tiny q
    must push it outward."""
    from federated_gcn_spark.graph import Graph
    from federated_gcn_spark.graph.sampling import node2vec_walks

    edges = [(0, leaf) for leaf in range(1, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(df)
    start = df.sparkSession.createDataFrame([(1,)], "id long")

    def return_rate(p, q):
        walks = node2vec_walks(
            g, p=p, q=q, length=3, number_of_walks=300, seed=11,
            start_vertices=start,
        ).collect()
        step2 = {r["walk_id"]: r["vertex"] for r in walks if r["step"] == 2}
        assert len(step2) == 300
        return sum(1 for v in step2.values() if v == 1) / len(step2)

    # p=0.01: return weight 100 vs 4 explore weights of 1 -> expect ~96%
    assert return_rate(0.01, 1.0) > 0.85
    # q=0.01: explore weight 100x4 vs return weight 1 -> expect ~0%
    assert return_rate(1.0, 0.01) < 0.15
