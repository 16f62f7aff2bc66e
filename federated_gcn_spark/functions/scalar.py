"""Scalar + array expression library (SURVEY.md §2.7, §2.6 G5).

Everything here is a *Column expression builder*: pure Catalyst expressions
(higher-order functions over ARRAY columns, arithmetic, conditionals) that
stay inside whole-stage codegen — no Python UDFs. These are the building
blocks for FedAvg tensor math, link scoring (inner product + sigmoid), and
cosine similarity search.

Reference semantics pinned:
- F1 with zero-division guard → "undefined"  (fl_client.py:132-137)
- memory cost model RAM_GB = 3.6*graph_GB + 2 (mem.py:1-8)
- link score sigma(<h_u, h_v>)               (models/supervised.py:94-96)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double_array(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.transform(a, lambda x: x.cast("double"))


def array_dot(a: Column | str, b: Column | str) -> Column:
    """<a, b> over two ARRAY<numeric> columns, computed JVM-side.

    ``zip_with`` multiplies elementwise, ``aggregate`` folds the sum in
    array order (deterministic — important for float reproducibility,
    SURVEY.md §7.3 risk 5).
    """
    prod = F.zip_with(_as_double_array(a), _as_double_array(b), lambda x, y: x * y)
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def array_l2_norm(a: Column | str) -> Column:
    return F.sqrt(array_dot(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """cos(a,b) with a 0-norm guard (returns NULL for zero vectors)."""
    denom = array_l2_norm(a) * array_l2_norm(b)
    return F.when(denom != 0, array_dot(a, b) / denom)


def sigmoid(x: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-x))


def link_score(h_u: Column | str, h_v: Column | str) -> Column:
    """GraphSAGE link scorer: sigma(<h_u, h_v>) (edge_embedding_method="ip",
    models/supervised.py:94-96) as a pure SQL expression."""
    return sigmoid(array_dot(h_u, h_v))


def f1_score(precision: Column, recall: Column) -> Column:
    """2PR/(P+R); NULL when P+R == 0 (the reference logs "undefined",
    fl_client.py:132-137 — NULL is the relational spelling of that)."""
    return F.when(
        (precision + recall) != 0,
        (F.lit(2.0) * precision * recall) / (precision + recall),
    )


def mem_cost_gb(
    n_nodes: Column,
    n_edges: Column,
    feature_dim: Column | int,
    edge_bits: Column | int = 64,
    feature_bits: Column | int = 64,
) -> Column:
    """Reference's fitted memory model (mem.py:1-8):

    graph_GB = (2*E*edge_bits/8 + N*F*feature_bits/8) / 2**30
    RAM_GB   = 3.6 * graph_GB + 2
    """
    feature_dim = F.lit(feature_dim) if isinstance(feature_dim, int) else feature_dim
    edge_bits = F.lit(edge_bits) if isinstance(edge_bits, int) else edge_bits
    feature_bits = F.lit(feature_bits) if isinstance(feature_bits, int) else feature_bits
    graph_gb = (
        F.lit(2.0) * n_edges * edge_bits / F.lit(8.0)
        + n_nodes.cast("double") * feature_dim * feature_bits / F.lit(8.0)
    ) / F.lit(float(2**30))
    return F.lit(3.6) * graph_gb + F.lit(2.0)
