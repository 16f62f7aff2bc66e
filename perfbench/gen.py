"""Seeded input generators for the benchmark's workloads.

Everything here is numpy on the driver, not Spark, so the program under
test receives only finished files. The same seed gives byte-identical
files; ``selftest.py`` pins that.

Each workload draws its graph once, from a fixed seed, and the run's
seed relabels the vertices with a random permutation (and reorders the
edge file). Round counts such as k-core's depend on the graph's shape,
and one draw can need twice the rounds of another; holding the shape
fixed keeps that out of the run-to-run spread, while ids, hash orders,
file order and placement still change with every seed.

- ``write_fl_store``: a power-law graph cut into partitions, written in
  the reference's store layout (headerless whitespace local-store and
  central-store edge and attribute files, attributes = id, F binary
  features, class label).
- ``write_chung_lu``: the Chung-Lu draw of ``tools/bench_graph.py``
  (ids by inverse CDF ``floor(n * u**beta)``, self-loops dropped,
  multi-edges deduped), as a headerless whitespace edge file. Copied
  rather than imported: that tool computes the same shape with Spark
  hashes, and this one must stay outside the program.
- ``write_tables``: the star-schema parquet tables the registered
  queries read, drawn afresh from the seed (no round counts hang on
  their shape).
"""

from __future__ import annotations

import os

import numpy as np

BETA = 2.5  # inverse-CDF shape -> degree tail exponent ~ 2.67
SHAPE_SEED = 2026  # the one draw every run relabels


def _powerlaw_ids(rng: np.random.Generator, n: int, size: int) -> np.ndarray:
    u = rng.random(size)
    return np.minimum(np.floor(n * u**BETA), n - 1).astype(np.int64)


def _dedup_undirected(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """(m, 2) array of distinct undirected edges, u < v, sorted."""
    keep = src != dst
    pairs = np.stack([np.minimum(src, dst), np.maximum(src, dst)], axis=1)[keep]
    return np.unique(pairs, axis=0)


def _relabel(n: int, seed: int) -> np.ndarray:
    """new id of each vertex of the fixed draw"""
    return np.random.default_rng([seed, 9]).permutation(n).astype(np.int64)


def _shuffled(edges: np.ndarray, seed: int) -> np.ndarray:
    return edges[np.random.default_rng([seed, 10]).permutation(len(edges))]


def chung_lu(n: int, draws: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng([SHAPE_SEED, 1])
    edges = _dedup_undirected(_powerlaw_ids(rng, n, draws), _powerlaw_ids(rng, n, draws))
    new = _relabel(n, seed)
    return _shuffled(_dedup_undirected(new[edges[:, 0]], new[edges[:, 1]]), seed)


def _write_lines(path: str, rows: list[str]) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(rows))
        fh.write("\n")


def write_chung_lu(path: str, n: int, draws: int, seed: int) -> np.ndarray:
    edges = chung_lu(n, draws, seed)
    _write_lines(path, [f"{u} {v}" for u, v in edges.tolist()])
    return edges


def fl_graph(n: int, draws: int, parts: int, feature_dim: int, seed: int):
    """(edges (m,2), features (n,F) uint8, labels (n,), part (n,)), the
    arrays indexed by vertex id.

    Before relabelling, vertex ``i`` lives in partition ``i % parts`` and
    has a random class label; each label lights up its own band of
    features. Four draws in five stay inside the partition and join two
    vertices of the same label (a power-law pick among them), the rest
    cross partitions, so the central store holds about a fifth of the
    edges, as a METIS-style cut would, and links follow features: the
    held-out link predictor has something to learn.
    """
    rng = np.random.default_rng([SHAPE_SEED, 2])
    n_labels = 3
    part = np.arange(n) % parts
    labels = rng.integers(0, n_labels, n)
    group = part * n_labels + labels
    members = np.argsort(group, kind="stable")
    start = np.searchsorted(group[members], np.arange(parts * n_labels))
    size = np.bincount(group, minlength=parts * n_labels)
    src = _powerlaw_ids(rng, n, draws)
    pick = np.minimum(np.floor(size[group[src]] * rng.random(draws) ** BETA),
                      size[group[src]] - 1).astype(np.int64)
    local = members[start[group[src]] + pick]
    dst = np.where(rng.random(draws) < 0.8, local, _powerlaw_ids(rng, n, draws))
    edges = _dedup_undirected(src, dst)
    band = (np.arange(feature_dim) % n_labels)[None, :] == labels[:, None]
    features = (rng.random((n, feature_dim)) < np.where(band, 0.6, 0.1)).astype(np.uint8)
    new = _relabel(n, seed)
    order = np.argsort(new)  # old vertex at each new id
    edges = _shuffled(_dedup_undirected(new[edges[:, 0]], new[edges[:, 1]]), seed)
    return edges, features[order], labels[order], part[order]


def store_paths(root: str, p: int) -> dict[str, str]:
    """The reference's per-partition file names (merge.py)."""
    return {
        "localstore_edges": os.path.join(root, f"g_{p}"),
        "localstore_attrs": os.path.join(root, f"g_attributes_{p}"),
        "centralstore_edges": os.path.join(root, f"g_centralstore_{p}"),
        "centralstore_attrs": os.path.join(root, f"g_centralstore_attributes_{p}"),
    }


NATIONS, REGIONS = 25, ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
DAY_US = 86_400_000_000
EPOCH_1992_US = 694_224_000_000_000  # 1992-01-01T00:00:00
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def _names(prefix: str, ids: np.ndarray) -> np.ndarray:
    return np.array([f"{prefix}#{i:09d}" for i in ids.tolist()], dtype=object)


def _money(rng: np.random.Generator, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def tables(orders: int, seed: int) -> dict[str, dict[str, np.ndarray]]:
    """Column arrays of the star-schema tables the registered queries
    read (region, nation, customer, supplier, part, orders, lineitem,
    events), with the column names, types and value shapes of the test
    data in ``TESTDATA.md``: dense keys from 0, prices in cents, dates
    from 1992 to 2001, events over January 2024."""
    rng = np.random.default_rng([seed, 20])
    n_cust, n_supp, n_part = orders // 10, max(orders // 150, 10), orders // 8
    pick = lambda options, size: np.array(options, dtype=object)[  # noqa: E731
        rng.integers(0, len(options), size)]
    region = {"r_regionkey": np.arange(len(REGIONS), dtype=np.int32),
              "r_name": np.array(REGIONS, dtype=object)}
    nation = {"n_nationkey": np.arange(NATIONS, dtype=np.int32),
              "n_name": np.array([f"NATION_{i}" for i in range(NATIONS)], dtype=object),
              "n_regionkey": (np.arange(NATIONS) % len(REGIONS)).astype(np.int32)}
    cust_ids = np.arange(n_cust, dtype=np.int64)
    customer = {"c_custkey": cust_ids, "c_name": _names("Customer", cust_ids),
                "c_nationkey": rng.integers(0, NATIONS, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                      "MACHINERY"], n_cust)}
    supp_ids = np.arange(n_supp, dtype=np.int64)
    supplier = {"s_suppkey": supp_ids, "s_name": _names("Supplier", supp_ids),
                "s_nationkey": rng.integers(0, NATIONS, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}
    part_ids = np.arange(n_part, dtype=np.int64)
    adjectives, nouns = pick(["small", "red", "blue", "hot", "old", "large"], n_part), \
        pick(["ring", "widget", "bolt", "gear", "gizmo", "plate"], n_part)
    part = {"p_partkey": part_ids,
            "p_name": np.array([f"{a} {b}" for a, b in zip(adjectives, nouns)], dtype=object),
            "p_brand": np.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()],
                                dtype=object),
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + part_ids / 10.0, 2)}
    order_ids = np.arange(orders, dtype=np.int64)
    order_day = rng.integers(0, 3500, orders)
    orders_t = {"o_orderkey": order_ids,
                "o_custkey": rng.integers(0, n_cust, orders).astype(np.int64),
                "o_orderstatus": pick(["F", "O", "P"], orders),
                "o_totalprice": _money(rng, 900.0, 500000.0, orders),
                "o_orderdate": EPOCH_1992_US + order_day * DAY_US,
                "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                         "5-LOW"], orders)}
    lines = rng.integers(1, 8, orders)
    l_order = np.repeat(order_ids, lines)
    n_lines = len(l_order)
    shuffle = rng.permutation(n_lines)  # stored in no key order, as in TESTDATA.md
    l_part = rng.integers(0, n_part, n_lines).astype(np.int64)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    lineitem = {"l_orderkey": l_order, "l_partkey": l_part,
                "l_suppkey": rng.integers(0, n_supp, n_lines).astype(np.int64),
                "l_linenumber": (np.arange(n_lines) - np.repeat(np.cumsum(lines) - lines, lines)
                                 + 1).astype(np.int32),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * part["p_retailprice"][l_part], 2),
                "l_discount": rng.integers(0, 11, n_lines) / 100.0,
                "l_tax": rng.integers(0, 9, n_lines) / 100.0,
                "l_returnflag": pick(["A", "N", "R"], n_lines),
                "l_linestatus": pick(["F", "O"], n_lines),
                "l_shipdate": EPOCH_1992_US + (np.repeat(order_day, lines)
                                               + rng.integers(1, 122, n_lines)) * DAY_US}
    lineitem = {c: v[shuffle] for c, v in lineitem.items()}
    n_events = orders // 2
    event_ids = np.arange(n_events, dtype=np.int64)
    events = {"event_id": event_ids,
              "ts": EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, n_events)),
              "user_id": rng.integers(0, max(n_events // 60, 1), n_events).astype(np.int64),
              "event_type": pick(["view", "click", "cart", "purchase", "error"], n_events),
              "value": _money(rng, 0.0, 100.0, n_events),
              "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
                                dtype=object)}
    return {"region": region, "nation": nation, "customer": customer, "supplier": supplier,
            "part": part, "orders": orders_t, "lineitem": lineitem, "events": events}


TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
TIMESTAMP_COLUMNS = {"o_orderdate", "l_shipdate", "ts"}


def write_tables(root: str, orders: int, seed: int) -> None:
    """One ``<table>.parquet`` file per table under ``root``, timestamps
    as microsecond parquet TIMESTAMP without time zone."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root, exist_ok=True)
    for name, cols in tables(orders, seed).items():
        arrays = {
            c: pa.array(v, type=pa.timestamp("us")) if c in TIMESTAMP_COLUMNS
            else pa.array(v, type=pa.string() if v.dtype == object else None)
            for c, v in cols.items()
        }
        pq.write_table(pa.table(arrays), os.path.join(root, f"{name}.parquet"))


def write_fl_store(
    root: str, n: int, draws: int, parts: int, feature_dim: int, seed: int
) -> dict:
    """Write the partitioned store; returns the ground truth the checks
    need: all edges, all vertex ids, and per partition the merged node
    and edge counts."""
    edges, features, labels, part = fl_graph(n, draws, parts, feature_dim, seed)
    os.makedirs(root, exist_ok=True)
    attr_rows = [
        f"{i} {' '.join(map(str, row))} c{lab}"
        for i, (row, lab) in enumerate(zip(features.tolist(), labels.tolist()))
    ]
    pu, pv = part[edges[:, 0]], part[edges[:, 1]]
    counts = []
    for p in range(parts):
        paths = store_paths(root, p)
        local = edges[(pu == p) & (pv == p)]
        central = edges[(pu == p) & (pv != p)]
        own = np.flatnonzero(part == p)
        # a boundary replica: both endpoints of every central edge (the
        # owned endpoint duplicates a local row, so keep-first matters)
        replicas = np.unique(central.ravel())
        _write_lines(paths["localstore_edges"], [f"{u} {v}" for u, v in local.tolist()])
        _write_lines(paths["centralstore_edges"], [f"{u} {v}" for u, v in central.tolist()])
        _write_lines(paths["localstore_attrs"], [attr_rows[i] for i in own.tolist()])
        _write_lines(paths["centralstore_attrs"], [attr_rows[i] for i in replicas.tolist()])
        counts.append({"nodes": len(np.union1d(own, replicas)),
                       "edges": len(local) + len(central)})
    return {"edges": edges, "vertices": np.arange(n, dtype=np.int64), "partitions": counts}
