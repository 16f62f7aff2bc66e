"""Community detection by label propagation (LPA), relationally.

Raghavan et al. 2007, made deterministic for an engine: every vertex
starts with its own id as label; each superstep it adopts the most
frequent label among its neighbors PLUS its own current label (the
self-vote breaks the 2-coloring oscillation of synchronous LPA on
bipartite-ish structures), ties broken by the smaller label id. No
randomness anywhere, so results are reproducible across runs and
cluster layouts.

Each superstep is one join (edges ⋈ labels) + one two-level aggregate:
count per (vertex, candidate label) — map-side combinable — then
max_by((count, -label)) per vertex. A hub's cost is its distinct
neighbor-label count, never an in-memory neighbor array. Lineage is cut
per superstep with one agg-probed barrier: the previous label rides the
new-state frame, so the changed-vertex convergence count is an
aggregate of the SAME job that materializes the superstep — no separate
probe join/count per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from federated_gcn_spark.barrier import barrier, rounds
from federated_gcn_spark.graph.graph import DST, ID, SRC, Graph


def label_propagation(
    graph: Graph, max_iterations: int = 10, stats: dict | None = None
) -> DataFrame:
    """(id, community) — community = converged label (min label of the
    community under the deterministic tie-break). A bounded loop: a
    capped run returns the labelling after ``max_iterations`` supersteps,
    and ``stats`` (when passed) gets ``iterations`` and ``converged``."""
    edges = graph.symmetrized_edges().select(SRC, DST).distinct()
    edges = edges.localCheckpoint(eager=True)  # reused every superstep

    labels = edges.select(F.col(SRC).alias(ID)).distinct().withColumn(
        "label", F.col(ID)
    )
    # lazy: the first superstep's probed barrier job materializes it
    labels = barrier(labels)

    for _ in rounds("graph.labelprop.label_propagation", max_iterations,
                    bounded=True, stats=stats):
        neighbor_votes = edges.join(
            labels.withColumnRenamed(ID, SRC), SRC
        ).select(F.col(DST).alias(ID), "label")
        # self-vote: one ballot for the vertex's current label
        votes = neighbor_votes.unionAll(labels.select(ID, "label"))
        tally = votes.groupBy(ID, "label").agg(F.count(F.lit(1)).alias("n"))
        nxt = tally.groupBy(ID).agg(
            F.max_by("label", F.struct(F.col("n"), (-F.col("label")))).alias(
                "label"
            )
        )
        # carry the previous label on the new state so the convergence
        # count is an aggregate of the materializing job itself (the
        # join replaces the old separate changed-probe join+count)
        nxt2, (changed,) = barrier(
            nxt.join(labels.select(ID, F.col("label").alias("prev")), ID),
            F.sum((F.col("label") != F.col("prev")).cast("long")),
        )
        labels = nxt2.select(ID, "label")
        if not changed:
            break
    return labels.select(ID, F.col("label").alias("community"))
