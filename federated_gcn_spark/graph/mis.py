"""Maximal independent set (distributed Luby's algorithm).

The classic symmetry-breaking primitive — MIS drives distributed
scheduling (which training partitions may run simultaneously without
sharing a vertex), graph coloring, and correlation-clustering pivots.
Luby (1986): give every vertex a random priority; in each round, every
ACTIVE vertex whose priority beats all its active neighbors joins the
set, and it and its neighbors deactivate.  Expected O(log n) rounds.

Spark shape per round: one semi-join to restrict the edge list to
active endpoints, one anti-join to find the undominated vertices, one
more anti-join to deactivate winners' neighborhoods — all equi-joins on
vertex id with map-side combine, the PageRank shuffle shape; lineage
cut per round.  Priorities are xxhash64(id) with (hash, id) lexicographic
tie-break: layout-independent, seedable, and — being a pure function of
the vertex id — replayable in an unrolled SQL oracle
(plans/queries_mining._mis_oracle).  Running past convergence is a
no-op (no active vertices → empty winner set), so a fixed-round unroll
and the early-exiting loop agree by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from federated_gcn_spark.barrier import barrier, rounds
from federated_gcn_spark.graph.graph import DST, ID, SRC, Graph


def luby_mis(graph: Graph, max_rounds: int = 8, seed: int = 42) -> DataFrame:
    """(id,) — the members of a maximal independent set of the
    UNDIRECTED graph (edges are symmetrized); ``max_rounds`` bounded."""
    edges = graph.symmetrized_edges().select(SRC, DST).distinct()
    edges = edges.localCheckpoint(eager=True)

    def pri(col):
        return F.struct(
            F.xxhash64(F.col(col), F.lit(seed)).alias("h"),
            F.col(col).alias("i"),
        )

    count = F.count(F.lit(1))
    active, (n_active,) = barrier(graph.vertices.select(ID), count)
    # ONE driver action per round (the luby_coloring r11 shape): only
    # `active` is barriered, its counted materialization steers the
    # early exit, and the round's shared intermediates — `dominated`
    # (consumed by the winners anti-join AND the new-active semi-join)
    # and `winners` (consumed by the losers expansion AND the MIS
    # accumulator) — are lazy checkpoints materialized inside that job.
    # The dup-insensitive semi/anti-join inputs skip their distinct
    # (per-round cost is scheduling latency, ~flat in data).
    round_winners: list[DataFrame] = []
    for _ in rounds("graph.mis.luby_mis", max_rounds, bounded=True):
        if n_active == 0:
            break
        act_e = (
            edges.join(active.withColumnRenamed(ID, SRC), SRC, "left_semi")
            .join(active.withColumnRenamed(ID, DST), DST, "left_semi")
        )
        # a vertex is dominated if some ACTIVE neighbor has a higher
        # (hash, id); winners = active minus dominated
        dominated = (
            act_e.where(pri(SRC) > pri(DST))
            .select(F.col(DST).alias(ID))
            .localCheckpoint(eager=False)
        )
        winners = active.join(dominated, ID, "left_anti").localCheckpoint(
            eager=False
        )
        round_winners.append(winners)
        # deactivate winners and their whole neighborhoods; the next
        # state re-reads the staged `dominated` with a semi-join
        # (active minus winners == active intersect dominated)
        losers = edges.join(
            winners.withColumnRenamed(ID, SRC), SRC, "left_semi"
        ).select(F.col(DST).alias(ID))
        active, (n_active,) = barrier(
            active.join(dominated, ID, "left_semi").join(
                losers, ID, "left_anti"
            ),
            count,
        )
    if not round_winners:  # empty graph: no rounds ran
        return graph.vertices.sparkSession.createDataFrame(
            [], f"{ID} long"
        )
    mis = round_winners[0]
    for w in round_winners[1:]:
        mis = mis.unionByName(w)
    return mis
