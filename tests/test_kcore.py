"""k-core decomposition + label propagation against pure-Python references."""

import random

import pytest

from federated_gcn_spark.graph import Graph
from federated_gcn_spark.graph.kcore import core_numbers
from federated_gcn_spark.graph.labelprop import label_propagation


def _py_coreness(edges):
    """Textbook peeling: repeatedly remove the min-degree vertex."""
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    deg = {v: len(ns) for v, ns in adj.items()}
    remaining = set(adj)
    core = {}
    k = 0
    while remaining:
        v = min(remaining, key=lambda x: (deg[x], x))
        k = max(k, deg[v])
        core[v] = k
        for u in adj[v]:
            if u in remaining:
                deg[u] -= 1
        remaining.discard(v)
    return core


def _random_edges(n, m, seed):
    rng = random.Random(seed)
    es = set()
    while len(es) < m:
        u, v = rng.randrange(n), rng.randrange(n)
        if u != v:
            es.add((min(u, v), max(u, v)))
    return sorted(es)


@pytest.mark.parametrize("seed", [1, 7])
def test_core_numbers_match_peeling(spark, seed):
    edges = _random_edges(40, 120, seed)
    want = _py_coreness(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["coreness"]
        for r in core_numbers(Graph.from_edges(df)).collect()
    }
    assert got == want


def test_label_propagation_finds_two_communities(spark):
    # two 5-cliques joined by one bridge edge
    cliq_a = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    cliq_b = [(i + 10, j + 10) for i in range(5) for j in range(i + 1, 5)]
    edges = cliq_a + cliq_b + [(0, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = label_propagation(Graph.from_edges(df), max_iterations=10)
    rows = {r["id"]: r["community"] for r in out.collect()}
    comm_a = {rows[i] for i in range(5)}
    comm_b = {rows[i + 10] for i in range(5)}
    assert len(comm_a) == 1 and len(comm_b) == 1
    assert comm_a != comm_b


def test_label_propagation_deterministic_across_layouts(spark):
    edges = _random_edges(30, 60, 11)
    df1 = spark.createDataFrame(edges, "src long, dst long").repartition(1)
    df2 = spark.createDataFrame(edges, "src long, dst long").repartition(17)
    r1 = sorted(
        (r["id"], r["community"])
        for r in label_propagation(Graph.from_edges(df1)).collect()
    )
    r2 = sorted(
        (r["id"], r["community"])
        for r in label_propagation(Graph.from_edges(df2)).collect()
    )
    assert r1 == r2


def test_bfs_distances_match_python(spark):
    from collections import deque

    from federated_gcn_spark.graph.bfs import bfs_distances

    edges = _random_edges(40, 70, 9)
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    src = min(adj)
    want = {src: 0}
    dq = deque([src])
    while dq:
        v = dq.popleft()
        for u in adj[v]:
            if u not in want:
                want[u] = want[v] + 1
                dq.append(u)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["distance"]
        for r in bfs_distances(Graph.from_edges(df), source=src).collect()
    }
    assert got == want


def test_triangle_counts_match_brute_force_on_skewed_degrees(spark):
    """Regression for the wedge-ordering bug: ordering wedge pairs by id
    while edges are (degree, id)-oriented drops every triangle whose id
    order disagrees with its degree order — invisible on regular graphs
    (the old oracle's ring had uniform degree), certain on skewed ones."""
    import itertools

    from federated_gcn_spark.graph.triangles import (
        local_clustering,
        triangle_stats,
    )

    for seed in (4, 23):
        edges = _random_edges(25, 120, seed)
        adj = {}
        for u, v in edges:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        brute = sum(
            1
            for a, b, c in itertools.combinations(sorted(adj), 3)
            if b in adj[a] and c in adj[a] and c in adj[b]
        )
        per_vertex = {
            v: sum(
                1
                for a, b in itertools.combinations(sorted(adj[v]), 2)
                if b in adj[a]
            )
            for v in adj
        }
        df = spark.createDataFrame(edges, "src long, dst long")
        assert triangle_stats(df).collect()[0]["n_triangles"] == brute
        got = {
            r["node"]: r["n_triangles"] for r in local_clustering(df).collect()
        }
        assert {v: got.get(v, 0) for v in adj} == per_vertex


def test_connected_components_match_union_find_on_random_graphs(spark):
    """Differential on skewed random graphs (same rigor as the triangle
    regression): large-star/small-star must agree with a pure-Python
    union-find, component by component."""
    from federated_gcn_spark.graph.components import connected_components

    for seed in (2, 31):
        edges = _random_edges(60, 70, seed)  # sparse -> many components
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            parent[find(u)] = find(v)
        want = {}
        for u, v in edges:
            for n in (u, v):
                want.setdefault(find(n), set()).add(n)
        want_sets = sorted(sorted(s) for s in want.values())

        df = spark.createDataFrame(edges, "src long, dst long")
        got = {}
        for r in connected_components(Graph.from_edges(df)).collect():
            got.setdefault(r["component"], set()).add(r["id"])
        got_sets = sorted(sorted(s) for s in got.values())
        assert got_sets == want_sets
        # canonical labeling: every component labeled by its min member
        assert all(min(s) == c for c, s in got.items())


def _random_connected_edges(n, extra, seed):
    rng = random.Random(seed)
    nodes = list(range(n))
    rng.shuffle(nodes)
    es = set()
    for i in range(1, n):  # random spanning tree first
        a, b = nodes[rng.randrange(i)], nodes[i]
        es.add((min(a, b), max(a, b)))
    while len(es) < n - 1 + extra:
        u, v = rng.randrange(n), rng.randrange(n)
        if u != v:
            es.add((min(u, v), max(u, v)))
    return sorted(es)


def test_pagerank_numpy_parity_on_random_graph_with_dangling(spark):
    import numpy as np

    from federated_gcn_spark.graph import pagerank

    # directed edges incl. guaranteed dangling sinks (no out-edges)
    rng = random.Random(13)
    edges = sorted({(rng.randrange(30), 30 + rng.randrange(5)) for _ in range(60)}
                   | {(rng.randrange(30), rng.randrange(30)) for _ in range(40)})
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(df)
    got = {r["id"]: r["rank"] for r in pagerank(g, 0.85, 8).collect()}
    ids = sorted(got)
    pos = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    A = np.zeros((n, n))
    for u, v in set(edges):
        A[pos[v], pos[u]] = 1.0
    out = A.sum(axis=0)
    rank = np.full(n, 1.0 / n)
    for _ in range(8):
        dangling = rank[out == 0].sum()
        spread = np.where(out > 0, rank / np.maximum(out, 1), 0.0)
        rank = (1 - 0.85) / n + 0.85 * (A @ spread + dangling / n)
    for v in ids:
        assert abs(got[v] - rank[pos[v]]) < 1e-9
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_split_keeps_residual_connected_on_random_graphs(spark):
    from federated_gcn_spark.graph.split import connectivity_preserving_split

    for seed in (5, 17):
        edges = _random_connected_edges(40, 30, seed)
        df = spark.createDataFrame(edges, "src long, dst long")
        g = Graph.from_edges(df)
        res = connectivity_preserving_split(g, p=0.2, seed=seed)
        residual = {
            (r["src"], r["dst"]) for r in res.residual.collect()
        }
        removed = {(r["src"], r["dst"]) for r in res.positives.collect()}
        assert removed and residual
        assert not (removed & residual)
        # residual must still connect every original vertex
        adj = {}
        for u, v in residual:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        all_nodes = {x for e in edges for x in e}
        start = next(iter(all_nodes))
        seen = {start}
        stack = [start]
        while stack:
            x = stack.pop()
            for y in adj.get(x, ()):
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        assert seen == all_nodes
