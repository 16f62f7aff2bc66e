"""HyperANF neighborhood function vs exact BFS reachability."""

from collections import deque

from federated_gcn_spark.graph import Graph
from federated_gcn_spark.graph.anf import (
    exact_neighborhood_function,
    neighborhood_function,
)


def _exact_nf(edges, n_hops):
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    out = {}
    for h in range(n_hops + 1):
        total = 0
        for s in adj:
            seen = {s}
            frontier = deque([(s, 0)])
            while frontier:
                v, d = frontier.popleft()
                if d == h:
                    continue
                for u in adj[v]:
                    if u not in seen:
                        seen.add(u)
                        frontier.append((u, d + 1))
            total += len(seen)
        out[h] = total
    return out


def _effective_diameter(nf, quantile=0.9):
    """Smallest hop whose neighborhood function reaches ``quantile`` of
    its saturated value."""
    rows = sorted((r["hop"], r["reachable_pairs"]) for r in nf.collect())
    target = quantile * rows[-1][1]
    return next(hop for hop, n in rows if n >= target)


def test_neighborhood_function_matches_bfs_on_path(spark):
    edges = [(i, i + 1) for i in range(20)]
    df = spark.createDataFrame(edges, "src long, dst long")
    nf = neighborhood_function(Graph.from_edges(df), max_hops=5)
    got = {r["hop"]: r["reachable_pairs"] for r in nf.collect()}
    want = _exact_nf(edges, 5)
    for h in range(6):
        assert abs(got[h] - want[h]) / want[h] < 0.02, (h, got[h], want[h])
    # strictly growing until saturation on a path
    assert got[0] < got[1] < got[2]


def test_exact_nf_equals_bfs_and_bounds_hyperanf(spark):
    """exact_neighborhood_function is bit-exact vs local BFS, and the
    HLL estimate stays within 2% of it — the distributed exactness
    anchor behind the neighborhood_function oracle check."""
    edges = [(i, i + 1) for i in range(15)] + [(0, 8), (3, 12)]
    df = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(df)
    got = {
        r["hop"]: r["reachable_pairs"]
        for r in exact_neighborhood_function(g, max_hops=4).collect()
    }
    want = _exact_nf(edges, 4)
    assert got == want
    est = {
        r["hop"]: r["reachable_pairs"]
        for r in neighborhood_function(g, max_hops=4).collect()
    }
    for h in range(5):
        assert abs(est[h] - got[h]) / got[h] < 0.02, (h, est[h], got[h])


def test_effective_diameter_small_world_vs_chain(spark):
    chain = [(i, i + 1) for i in range(30)]
    hub = [(0, i) for i in range(1, 31)]  # star: everything 2 hops apart
    g_chain = Graph.from_edges(spark.createDataFrame(chain, "src long, dst long"))
    g_hub = Graph.from_edges(spark.createDataFrame(hub, "src long, dst long"))
    d_chain = _effective_diameter(neighborhood_function(g_chain, max_hops=8))
    d_hub = _effective_diameter(neighborhood_function(g_hub, max_hops=8))
    assert d_hub <= 2
    assert d_chain > d_hub  # the chain saturates much later


def test_register_anf_saturates_at_diameter(spark):
    from federated_gcn_spark.graph.anf import register_anf

    # path 0-1-2-3: diameter 3, so registers stop changing after hop 3
    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    rows = {r["hop"]: r for r in register_anf(Graph.from_edges(df), max_hops=4).collect()}
    assert rows[0]["nodes"] == 4
    # monotone growth of the register table until saturation
    assert rows[1]["reg_sum"] >= rows[0]["reg_sum"]
    assert rows[3]["reg_sum"] == rows[4]["reg_sum"]
    assert rows[3]["filled_regs"] == rows[4]["filled_regs"]
    # saturated: every vertex holds the same (full-set) sketch, so
    # filled_regs = nodes * distinct buckets of the 4 hashes
    per_vertex = rows[4]["filled_regs"] / rows[4]["nodes"]
    assert per_vertex == rows[4]["filled_regs"] // rows[4]["nodes"]
