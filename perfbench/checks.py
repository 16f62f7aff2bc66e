"""Output checks, as pure functions over collected results.

Each returns a ``Check``; a failed check marks its layer's calls as
failed operations instead of aborting the run. The references are
independent of the program: networkx for components, cores and BFS, a
numpy power iteration for PageRank, and a pandas replay of synchronous
label propagation. ``selftest.py`` shows that each check catches a
perturbed output.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import networkx as nx
import numpy as np
import pandas as pd


@dataclass
class Check:
    name: str
    layer: str
    ok: bool
    detail: str = ""


def _graph(edges: np.ndarray) -> nx.Graph:
    g = nx.Graph()
    g.add_edges_from(map(tuple, edges.tolist()))
    return g


def _first_diff(want: dict, got: dict) -> str:
    if set(want) != set(got):
        missing, extra = set(want) - set(got), set(got) - set(want)
        return f"vertex sets differ: {len(missing)} missing, {len(extra)} extra"
    for k in sorted(want):
        if want[k] != got[k]:
            return f"vertex {k}: want {want[k]}, got {got[k]}"
    return ""


def _exact(name: str, layer: str, want: dict, got: dict) -> Check:
    diff = _first_diff(want, got)
    return Check(name, layer, not diff, diff)


# -- graph fixpoints -----------------------------------------------------------


def components_check(edges: np.ndarray, got: dict[int, int], layer: str) -> Check:
    """Every vertex labelled with the minimum id of its component."""
    want = {v: min(c) for c in nx.connected_components(_graph(edges)) for v in c}
    return _exact("components_min_id", layer, want, got)


def core_numbers_check(edges: np.ndarray, got: dict[int, int], layer: str) -> Check:
    return _exact("core_number", layer, nx.core_number(_graph(edges)), got)


def bfs_check(edges: np.ndarray, source: int, got: dict[int, int], layer: str) -> Check:
    want = nx.single_source_shortest_path_length(_graph(edges), source)
    return _exact("bfs_exact", layer, dict(want), got)


def pagerank_reference(
    edges: np.ndarray, damping: float, iterations: int
) -> dict[int, float]:
    """Synchronous power iteration over the stored (directed) edges, with
    dangling mass spread uniformly: the definition in graph/pagerank.py."""
    ids = np.unique(edges)
    n = len(ids)
    src = np.searchsorted(ids, edges[:, 0])
    dst = np.searchsorted(ids, edges[:, 1])
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        dangling = rank[out_deg == 0].sum()
        contrib = np.bincount(dst, weights=rank[src] / out_deg[src], minlength=n)
        rank = (1.0 - damping) / n + damping * dangling / n + damping * contrib
    return dict(zip(ids.tolist(), rank.tolist()))


def pagerank_check(
    edges: np.ndarray, got: dict[int, float], layer: str,
    damping: float = 0.85, iterations: int = 10, rtol: float = 1e-9,
) -> Check:
    want = pagerank_reference(edges, damping, iterations)
    if set(want) != set(got):
        return Check("pagerank_power_iteration", layer, False, _first_diff(want, got))
    keys = sorted(want)
    w = np.array([want[k] for k in keys])
    g = np.array([got[k] for k in keys])
    err = np.abs(g - w) / w
    worst = int(np.argmax(err))
    ok = bool(err[worst] <= rtol)
    return Check("pagerank_power_iteration", layer, ok,
                 "" if ok else f"vertex {keys[worst]}: want {w[worst]!r}, got {g[worst]!r}")


def label_propagation_reference(
    edges: np.ndarray, max_iterations: int
) -> tuple[dict[int, int], int]:
    """(labels, rounds run): each round every vertex takes the most
    frequent label among its neighbours plus one vote for its own label,
    ties to the smallest label; stop after a round that changes nothing."""
    sym = pd.DataFrame(np.vstack([edges, edges[:, ::-1]]), columns=["src", "dst"])
    sym = sym.drop_duplicates()
    ids = np.unique(sym["src"].to_numpy())
    labels = pd.Series(ids, index=ids)
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        votes = pd.concat([
            pd.DataFrame({"id": sym["dst"].to_numpy(),
                          "label": labels.loc[sym["src"]].to_numpy()}),
            pd.DataFrame({"id": ids, "label": labels.to_numpy()}),
        ])
        tally = votes.groupby(["id", "label"]).size().rename("n").reset_index()
        best = tally.sort_values(["id", "n", "label"], ascending=[True, False, True])
        nxt = best.drop_duplicates("id").set_index("id")["label"].reindex(ids)
        changed = int((nxt.to_numpy() != labels.to_numpy()).sum())
        labels = nxt
        if changed == 0:
            break
    return dict(zip(ids.tolist(), labels.tolist())), rounds


def label_propagation_check(
    edges: np.ndarray, first: dict[int, int], again: dict[int, int],
    max_iterations: int, layer: str,
) -> Check:
    """Deterministic across passes, a valid labelling (every vertex gets
    the id of a vertex in its own component), and equal to the replay."""
    name = "label_propagation"
    if first != again:
        return Check(name, layer, False, "labels differ between passes: "
                     + _first_diff(first, again))
    comp = {v: i for i, c in enumerate(nx.connected_components(_graph(edges))) for v in c}
    if set(first) != set(comp):
        return Check(name, layer, False, _first_diff(comp, first))
    bad = [v for v, lab in first.items() if comp.get(lab) != comp[v]]
    if bad:
        return Check(name, layer, False,
                     f"vertex {bad[0]} has label {first[bad[0]]} from another component")
    want, _ = label_propagation_reference(edges, max_iterations)
    return _exact(name, layer, want, first)


# -- registered queries ------------------------------------------------------------


def _normalized(rows, columns) -> tuple[list[str], list[tuple[str, ...]]]:
    """Columns sorted by lower-cased name, cells stringified, rows sorted.
    Floats go through ``repr``, the shortest round-trip form, so two
    doubles that differ in any bit normalize differently (the comparison
    of ``tools/check_oracle.py``)."""
    names = [c.lower() for c in columns]
    idx = sorted(range(len(names)), key=lambda i: names[i])
    out = []
    for row in rows:
        cells = []
        for i in idx:
            v = row[i]
            if isinstance(v, float):
                cells.append("nan" if math.isnan(v) else repr(v))
            else:
                cells.append("NULL" if v is None else str(v))
        out.append(tuple(cells))
    out.sort()
    return [names[i] for i in idx], out


def oracle_check(
    got_rows, got_columns, want_rows, want_columns, layer: str
) -> Check:
    """A query's rows equal its DuckDB oracle's: same row count, same
    column names, same values, in any row order."""
    name = "duckdb_oracle"
    if len(got_rows) != len(want_rows):
        return Check(name, layer, False, f"{len(got_rows)} rows, oracle {len(want_rows)}")
    g_cols, g = _normalized(got_rows, got_columns)
    w_cols, w = _normalized(want_rows, want_columns)
    if g_cols != w_cols:
        return Check(name, layer, False, f"columns {g_cols}, oracle {w_cols}")
    if not g:
        return Check(name, layer, False, "no rows: nothing to compare")
    diff = next(((a, b) for a, b in zip(g, w) if a != b), None)
    return Check(name, layer, diff is None, "" if diff is None else f"row {diff[0]}, oracle {diff[1]}")


# -- federated pipeline ----------------------------------------------------------


def merge_check(expected: list[dict], got: list[dict], layer: str) -> Check:
    """Per partition: keep-first node count, bag-union edge count, and the
    CSV sinks hold the same rows."""
    for p, (want, have) in enumerate(zip(expected, got)):
        for key in ("nodes", "edges"):
            if have[key] != want[key] or have[f"csv_{key}"] != want[key]:
                return Check("merge_counts", layer, False,
                             f"partition {p} {key}: want {want[key]}, got "
                             f"{have[key]} (csv {have[f'csv_{key}']})")
    return Check("merge_counts", layer, True)


def _pairs(a: np.ndarray) -> set[tuple[int, int]]:
    return set(map(tuple, np.asarray(a, dtype=np.int64).reshape(-1, 2).tolist()))


def split_check(edges: np.ndarray, vertices: np.ndarray, split: dict, layer: str) -> Check:
    """``split`` holds (k, 2) arrays test_pos, test_neg, train_pos,
    train_neg and residual. Invariants of the two-stage EdgeSplitter."""
    name = "split_invariants"
    e = _pairs(edges)
    test_pos, train_pos = _pairs(split["test_pos"]), _pairs(split["train_pos"])
    problems = []
    # each stage splits its own input: the train stage sees the edges
    # minus the test positives, so those may come back as its negatives
    for stage, stage_edges in (("test", e), ("train", e - test_pos)):
        n_pos, n_neg = len(split[f"{stage}_pos"]), len(split[f"{stage}_neg"])
        if n_pos != n_neg or n_pos == 0:
            problems.append(f"{stage}: {n_pos} positives vs {n_neg} negatives")
        if not _pairs(split[f"{stage}_pos"]) <= stage_edges:
            problems.append(f"{stage}: a positive is not an edge")
        sym = stage_edges | {(v, u) for u, v in stage_edges}
        if _pairs(split[f"{stage}_neg"]) & sym:
            problems.append(f"{stage}: a negative is an edge")
    if test_pos & train_pos:
        problems.append(f"{len(test_pos & train_pos)} positives in both stages")
    if _pairs(split["residual"]) != e - test_pos - train_pos:
        problems.append("residual is not the edges minus both positive sets")

    def n_components(pairs: np.ndarray) -> int:
        g = _graph(np.asarray(pairs, dtype=np.int64).reshape(-1, 2))
        g.add_nodes_from(vertices.tolist())
        return nx.number_connected_components(g)

    before, after = n_components(edges), n_components(split["residual"])
    if before != after:
        problems.append(f"components {before} -> {after}")
    return Check(name, layer, not problems, "; ".join(problems))


def weights_identical_check(passes: list[list[np.ndarray]], layer: str) -> Check:
    """Bit-identical global weights from every pass."""
    name = "weights_bit_identical"
    if len(passes) < 2:
        return Check(name, layer, False, f"{len(passes)} passes, need 2")
    first = passes[0]
    for i, w in enumerate(passes[1:], 1):
        same = len(w) == len(first) and all(
            a.dtype == b.dtype and a.shape == b.shape and a.tobytes() == b.tobytes()
            for a, b in zip(first, w)
        )
        if not same:
            return Check(name, layer, False, f"pass {i} weights differ from pass 0")
    return Check(name, layer, True)


def weights_sink_check(
    sink: dict[int, list[np.ndarray]], final: list[np.ndarray], rounds: int, layer: str
) -> Check:
    """The sink holds one row set per round and its last round is the
    returned model."""
    name = "weights_sink_readable"
    if sorted(sink) != list(range(rounds)):
        return Check(name, layer, False, f"rounds in sink {sorted(sink)}")
    last = sink[rounds - 1]
    same = len(last) == len(final) and all(
        a.shape == b.shape and np.array_equal(a, b) for a, b in zip(last, final)
    )
    return Check(name, layer, same, "" if same else "last round differs from the model")


def embeddings_check(
    got: dict[int, np.ndarray], vertices: np.ndarray, dim: int, layer: str
) -> Check:
    """One finite ``dim``-vector per vertex, no more, no fewer."""
    name = "embedding_coverage"
    want = set(vertices.tolist())
    if set(got) != want:
        return Check(name, layer, False, f"{len(want - set(got))} vertices without an "
                     f"embedding, {len(set(got) - want)} unknown ids")
    bad = [k for k, v in got.items() if len(v) != dim or not np.all(np.isfinite(v))]
    return Check(name, layer, not bad, f"vertex {bad[0]}: bad embedding" if bad else "")
