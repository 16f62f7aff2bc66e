"""Single-source BFS distances as a frontier fixpoint.

The remaining classic graph primitive: hop distance from a source to
every reachable vertex. Frontier expansion — join the current frontier
with edges, keep only vertices not yet labeled (left_anti against the
settled set), repeat until the frontier empties. Each round shuffles
only the frontier (≤ |V| rows total across ALL rounds — every vertex
enters a frontier exactly once), making this the cheapest of the
engine's fixpoints; rounds = eccentricity of the source. Deterministic,
and — unusually for the iterative ops — exactly expressible as a
recursive SQL CTE, so the declared query gets a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from federated_gcn_spark.barrier import barrier, rounds
from federated_gcn_spark.graph.graph import DST, ID, SRC, Graph


def bfs_distances(
    graph: Graph, source: int, max_hops: int = 50, undirected: bool = True
) -> DataFrame:
    """(id, distance) for every vertex reachable from ``source``;
    ``NotConverged`` if the frontier is non-empty after ``max_hops``."""
    edges = (
        graph.symmetrized_edges() if undirected else graph.edges.select(SRC, DST)
    ).distinct().localCheckpoint(eager=True)

    settled = graph.vertices.sparkSession.createDataFrame(
        [(int(source), 0)], f"{ID} long, distance int"
    )
    # lazy: the first hop's probed barrier job materializes it
    settled = barrier(settled)
    frontier = settled
    for hop in rounds("graph.bfs.bfs_distances", max_hops):
        nxt = (
            frontier.join(edges, frontier[ID] == edges[SRC])
            .select(F.col(DST).alias(ID))
            .distinct()
            .join(settled.select(ID), ID, "left_anti")
            .withColumn("distance", F.lit(hop))
        )
        # ONE driver action per hop: the frontier-emptiness probe rides
        # the barrier materialization, and `settled` accumulates as a
        # lazy union of the already-materialized frontier frames (each a
        # flat checkpoint RDD — no recompute risk, no stats growth)
        nxt, (n,) = barrier(nxt, F.count(F.lit(1)))
        if n == 0:
            break
        settled = settled.unionByName(nxt)
        frontier = nxt
    return settled


def multi_source_bfs(
    graph: Graph,
    sources: DataFrame,
    max_hops: int = 6,
    undirected: bool = True,
) -> DataFrame:
    """(origin, id, distance) for every vertex within ``max_hops`` of
    each origin in ``sources`` (a one-column DataFrame of vertex ids).

    Same frontier fixpoint as :func:`bfs_distances`, with the state
    keyed by (origin, id) — every (origin, vertex) pair enters a
    frontier at most once, so total shuffled rows are bounded by
    |sources| * |V| regardless of round count.  Intended for small
    source panels (centrality probes); for all-sources reachability use
    graph/anf.py.  ``max_hops`` is part of the answer (bounded loop).
    """
    edges = (
        graph.symmetrized_edges() if undirected else graph.edges.select(SRC, DST)
    ).distinct().localCheckpoint(eager=True)

    settled = sources.select(
        F.col(sources.columns[0]).cast("long").alias("origin")
    ).withColumn(ID, F.col("origin")).withColumn("distance", F.lit(0))
    settled = barrier(settled)  # lazy, as in bfs_distances
    frontier = settled
    for hop in rounds("graph.bfs.multi_source_bfs", max_hops, bounded=True):
        nxt = (
            frontier.join(edges, frontier[ID] == edges[SRC])
            .select("origin", F.col(DST).alias(ID))
            .distinct()
            .join(settled.select("origin", ID), ["origin", ID], "left_anti")
            .withColumn("distance", F.lit(hop))
        )
        nxt, (n,) = barrier(nxt, F.count(F.lit(1)))
        if n == 0:
            break
        settled = settled.unionByName(nxt)
        frontier = nxt
    return settled
