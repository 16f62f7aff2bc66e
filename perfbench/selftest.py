"""Self-test of the benchmark's own parts; needs no Spark session.

    python3 perfbench/selftest.py      # from the root of a checkout

1. The generators are seeded: the same seed writes byte-identical
   files, another seed writes different ones.
2. Every output check passes on a correct output and fails on a
   perturbed one, so a wrong answer cannot slip through as a pass.
3. The control queries' DuckDB oracles give the same bits on permuted
   rows, so comparing the program's rows with them bit for bit is well
   posed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

import networkx as nx
import numpy as np

import checks as C
import gen

FAILURES: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(f"{'ok  ' if cond else 'FAIL'} {what}")
    if not cond:
        FAILURES.append(what)


def digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def write_inputs(root: str, seed: int) -> str:
    gen.write_fl_store(os.path.join(root, "store"), 200, 800, 4, 8, seed)
    gen.write_chung_lu(os.path.join(root, "edges.txt"), 200, 800, seed)
    gen.write_tables(os.path.join(root, "tables"), 400, seed)
    return digest(root)


def test_generators(tmp: str) -> None:
    a = write_inputs(os.path.join(tmp, "a"), 7)
    b = write_inputs(os.path.join(tmp, "b"), 7)
    c = write_inputs(os.path.join(tmp, "c"), 8)
    expect(a == b, "same seed gives byte-identical inputs")
    expect(a != c, "another seed gives different inputs")


def perturbed(d: dict, key, value) -> dict:
    out = dict(d)
    out[key] = value
    return out


def test_graph_checks() -> None:
    edges = gen.chung_lu(120, 400, 3)
    g = nx.Graph(map(tuple, edges.tolist()))
    v = int(edges[0, 0])

    cc = {u: min(c) for c in nx.connected_components(g) for u in c}
    expect(C.components_check(edges, cc, "cc").ok, "components: correct passes")
    expect(not C.components_check(edges, perturbed(cc, v, cc[v] + 1000), "cc").ok,
           "components: wrong label caught")

    core = nx.core_number(g)
    expect(C.core_numbers_check(edges, core, "kc").ok, "core numbers: correct passes")
    expect(not C.core_numbers_check(edges, perturbed(core, v, core[v] + 1), "kc").ok,
           "core numbers: off by one caught")

    dist = dict(nx.single_source_shortest_path_length(g, v))
    far = max(dist, key=dist.get)
    expect(C.bfs_check(edges, v, dist, "bfs").ok, "bfs: correct passes")
    expect(not C.bfs_check(edges, v, perturbed(dist, far, dist[far] + 1), "bfs").ok,
           "bfs: wrong distance caught")
    expect(not C.bfs_check(edges, v, {k: d for k, d in dist.items() if k != far}, "bfs").ok,
           "bfs: missing vertex caught")

    ranks = C.pagerank_reference(edges, 0.85, 10)
    expect(C.pagerank_check(edges, ranks, "pr").ok, "pagerank: correct passes")
    expect(not C.pagerank_check(edges, perturbed(ranks, v, ranks[v] * (1 + 1e-6)), "pr").ok,
           "pagerank: 1e-6 relative error caught")
    unconverged = C.pagerank_reference(edges, 0.85, 9)
    expect(not C.pagerank_check(edges, unconverged, "pr").ok,
           "pagerank: one superstep short caught")

    labels, _ = C.label_propagation_reference(edges, 5)
    expect(C.label_propagation_check(edges, labels, dict(labels), 5, "lpa").ok,
           "label propagation: correct passes")
    # another vertex of v's component: a label that looks valid but is wrong
    other = next(u for u in nx.node_connected_component(g, v) if u != labels[v])
    swapped = perturbed(labels, v, other)
    expect(not C.label_propagation_check(edges, labels, swapped, 5, "lpa").ok,
           "label propagation: differing passes caught")
    expect(not C.label_propagation_check(edges, swapped, dict(swapped), 5, "lpa").ok,
           "label propagation: wrong label caught")
    foreign = perturbed(labels, v, -1)
    expect(not C.label_propagation_check(edges, foreign, dict(foreign), 5, "lpa").ok,
           "label propagation: label from outside the component caught")
    early, _ = C.label_propagation_reference(edges, 1)
    if early != labels:
        expect(not C.label_propagation_check(edges, early, dict(early), 5, "lpa").ok,
               "label propagation: answer stopped at an early round caught")


def test_oracle_check() -> None:
    cols = ["n_name", "revenue", "n_items"]
    want = [("NATION_1", 1234.5, 3), ("NATION_2", 0.1 + 0.2, 7)]
    # the other engine's row order and column case
    got = [(7, 0.1 + 0.2, "NATION_2"), (3, 1234.5, "NATION_1")]
    got_cols = ["N_ITEMS", "revenue", "n_name"]
    expect(C.oracle_check(got, got_cols, want, cols, "q").ok, "oracle: same rows pass")
    ulp = [(7, np.nextafter(0.1 + 0.2, 1.0), "NATION_2"), got[1]]
    expect(not C.oracle_check(ulp, got_cols, want, cols, "q").ok,
           "oracle: one-ulp difference caught")
    expect(not C.oracle_check(got[:1], got_cols, want, cols, "q").ok,
           "oracle: missing row caught")
    expect(not C.oracle_check(got, ["n_items", "revenue", "nation"], want, cols, "q").ok,
           "oracle: renamed column caught")
    expect(not C.oracle_check([], cols, [], cols, "q").ok, "oracle: empty result caught")


def oracle_rows(tables: dict, query: str, permute_seed: int | None):
    """The query's DuckDB oracle over in-memory tables, rows optionally
    stored in a permuted order."""
    import duckdb
    import pyarrow as pa

    from federated_gcn_spark.plans import ORACLE

    con = duckdb.connect()
    con.execute("SET threads=1")
    for name, cols in tables.items():
        t = pa.table({c: pa.array(v, type=pa.timestamp("us") if c in gen.TIMESTAMP_COLUMNS
                                  else pa.string() if v.dtype == object else None)
                      for c, v in cols.items()})
        if permute_seed is not None:
            t = t.take(np.random.default_rng(permute_seed).permutation(t.num_rows))
        con.register(name, t)
    res = con.execute(ORACLE[query])
    return res.fetchall(), [d[0] for d in res.description]


def test_query_mix_order_free() -> None:
    """The mix's queries give the same bits whatever order the rows are
    summed in, so a bit-exact oracle comparison is well posed."""
    import workloads

    for seed in range(3):
        tables = gen.tables(3000, seed)
        for q in workloads.QUERIES:
            a, b = oracle_rows(tables, q, None), oracle_rows(tables, q, seed + 100)
            expect(C.oracle_check(*a, *b, q).ok, f"{q}: oracle order-free on seed {seed}")


def valid_split(edges: np.ndarray, k: int) -> dict:
    g = nx.Graph(map(tuple, edges.tolist()))
    tree = {tuple(sorted(e)) for e in nx.minimum_spanning_edges(g, data=False)}
    spare = [tuple(e) for e in edges.tolist() if tuple(e) not in tree]
    test_pos, train_pos = spare[:k], spare[k:2 * k]
    edge_set = set(map(tuple, edges.tolist()))
    nodes = sorted(g)
    non_edges = [(u, w) for u in nodes for w in nodes
                 if u < w and (u, w) not in edge_set][:2 * k]
    residual = [e for e in map(tuple, edges.tolist())
                if e not in set(test_pos) | set(train_pos)]
    arr = lambda xs: np.array(xs, dtype=np.int64).reshape(-1, 2)  # noqa: E731
    return {"test_pos": arr(test_pos), "test_neg": arr(non_edges[:k]),
            "train_pos": arr(train_pos), "train_neg": arr(non_edges[k:]),
            "residual": arr(residual)}


def test_fl_checks() -> None:
    edges, *_ = gen.fl_graph(200, 800, 4, 8, 5)
    vertices = np.arange(200, dtype=np.int64)
    split = valid_split(edges, 10)
    expect(C.split_check(edges, vertices, split, "split").ok, "split: valid split passes")
    expect(not C.split_check(edges, vertices,
                             perturbed(split, "test_neg", split["test_neg"][1:]), "split").ok,
           "split: negative count mismatch caught")
    overlap = perturbed(split, "train_pos",
                        np.vstack([split["train_pos"][1:], split["test_pos"][:1]]))
    expect(not C.split_check(edges, vertices, overlap, "split").ok,
           "split: positive in both stages caught")
    g = nx.Graph(map(tuple, split["residual"].tolist()))
    bridge = next(tuple(e) for e in nx.bridges(g))
    cut = np.array([e for e in split["residual"].tolist() if tuple(e) != bridge])
    expect(not C.split_check(edges, vertices, perturbed(split, "residual", cut), "split").ok,
           "split: disconnected residual caught")
    edge_neg = perturbed(split, "test_neg", np.vstack([split["test_neg"][1:], edges[:1]]))
    expect(not C.split_check(edges, vertices, edge_neg, "split").ok,
           "split: negative that is an edge caught")

    w = [np.linspace(0, 1, 6).reshape(2, 3), np.array([0.25, -1.5])]
    expect(C.weights_identical_check([w, [a.copy() for a in w]], "fit").ok,
           "weights: identical passes pass")
    bumped = [w[0].copy(), w[1].copy()]
    bumped[1][0] = np.nextafter(bumped[1][0], 1.0)
    expect(not C.weights_identical_check([w, bumped], "fit").ok,
           "weights: one-ulp difference caught")
    sink = {0: w, 1: w, 2: w}
    expect(C.weights_sink_check(sink, w, 3, "fit").ok, "sink: complete sink passes")
    expect(not C.weights_sink_check({0: w, 2: w}, w, 3, "fit").ok, "sink: missing round caught")
    expect(not C.weights_sink_check(sink, bumped, 3, "fit").ok,
           "sink: last round not the model caught")

    emb = {int(i): np.full(4, 0.5) for i in vertices}
    expect(C.embeddings_check(emb, vertices, 4, "emb").ok, "embeddings: full coverage passes")
    expect(not C.embeddings_check({k: x for k, x in emb.items() if k}, vertices, 4, "emb").ok,
           "embeddings: missing vertex caught")
    expect(not C.embeddings_check(perturbed(emb, 3, np.array([0.5, np.nan, 0.5, 0.5])),
                                  vertices, 4, "emb").ok, "embeddings: NaN caught")

    want = [{"nodes": 10, "edges": 20}]
    have = {"nodes": 10, "edges": 20, "csv_nodes": 10, "csv_edges": 20}
    expect(C.merge_check(want, [have], "merge").ok, "merge: right counts pass")
    expect(not C.merge_check(want, [perturbed(have, "csv_edges", 19)], "merge").ok,
           "merge: short CSV sink caught")


def main() -> int:
    sys.path.insert(0, os.getcwd())  # the package's registered oracle SQL
    tmp = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_work", "selftest")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        test_generators(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    test_graph_checks()
    test_fl_checks()
    test_oracle_check()
    test_query_mix_order_free()
    print(f"{'FAILED' if FAILURES else 'passed'}: {len(FAILURES)} failures")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
