"""Weighted single-source shortest paths (distributed Bellman-Ford).

The weighted complement of graph/bfs.py: distance = minimum edge-weight
sum, not hop count.  Each superstep relaxes every edge once — candidate
distances (dist[u] + w(u, v)) from the current estimates, then a
partial-final MIN per vertex over (candidates ∪ current).  Distances
are monotone non-increasing and reach the true value after at most
|V|-1 supersteps (or ``max_iters``, whichever is smaller); an early
exit fires when a superstep changes nothing, which cannot diverge from
the fixed-iteration unroll because relaxation is idempotent after
convergence — exactly the property the unrolled DuckDB oracle relies
on (plans/queries_mining._sssp_oracle).

Scale shape: per superstep, one equi-join of the distance table against
the edge list (shuffle keyed on vertex id, reusable across supersteps
since both sides keep the same key) and one map-side-combined MIN
aggregate.  State is O(|reached V|) rows; lineage is cut per superstep
by the barrier like every other fixpoint in graph/.  Unlike BFS,
vertices can re-enter the frontier when a cheaper path arrives — the
cost of weights; with non-negative weights a delta-stepping refinement
would shrink re-expansions, noted as the scale-up lever.

Weights are LONG: integer weights make every distance exact cross-
engine (no FP summation anywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from federated_gcn_spark.barrier import barrier, rounds


def sssp(
    edges: DataFrame,
    source: int,
    max_iters: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """(id, dist) for every vertex reachable from ``source`` within
    ``max_iters`` edge relaxations.  ``edges`` must already have the
    desired orientation (pass a symmetrized list for undirected);
    ``max_iters`` is part of the answer (bounded loop)."""
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("long").alias("w"),
    ).localCheckpoint(eager=True)

    spark = edges.sparkSession
    dist = spark.createDataFrame([(int(source), 0)], "id long, dist long")
    dist = barrier(dist)  # lazy: the first relaxation's job materializes it
    for _ in rounds("graph.sssp.sssp", max_iters, bounded=True):
        cand = e.join(dist, e.src == dist.id).select(
            F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist")
        )
        nxt = (
            cand.unionByName(dist)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
        )
        # converged iff nothing improved and nothing new was reached;
        # the previous distance rides the new state so the convergence
        # count is an aggregate of the SAME job that materializes the
        # relaxation (1 driver action per iteration, not 2)
        nxt2, (changed,) = barrier(
            nxt.join(
                dist.withColumnRenamed("dist", "old"), "id", "left"
            ),
            F.sum(
                (
                    F.col("old").isNull() | (F.col("dist") < F.col("old"))
                ).cast("long")
            ),
        )
        dist = nxt2.select("id", "dist")
        if not changed:
            break
    return dist
