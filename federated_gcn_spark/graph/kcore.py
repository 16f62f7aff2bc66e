"""k-core decomposition: the coreness number of every vertex.

The reference never computes cores, but a training-data graph pipeline
needs them constantly (junk-vertex pruning before sampling, community
seeding, "dense enough to train on" filters) — so the engine ships them
as first-class distributed fixpoints, like components.py / pagerank.py.

``core_numbers`` is the distributed h-index algorithm (Montresor,
De Pellegrini, Miorandi, "Distributed k-core decomposition", IEEE
TPDS 2013): start from c(v) = deg(v) and repeatedly set

    c(v) <- H({ min(c(u), deg(v)) : u in N(v) })

where H is the h-index (the largest h with at least h neighbors of
value >= h). The sequence is monotonically non-increasing and converges
exactly to the coreness. The h-index is computed RELATIONALLY — a
per-(vertex, clamped-value) histogram, a suffix-sum window over the at
most deg(v) distinct values, then max(min(value, count_ge)) — never a
collect_list of neighbor values, so a hub vertex costs rows proportional
to its distinct neighbor-value count, not an in-memory array of degree
length. Two shuffles per round (message join + histogram agg); lineage
and carried stats cut per round by the barrier, whose materializing
job also computes the convergence probe sum(c): unchanged means done
(the sum strictly decreases until the fixpoint — no driver-side vertex
collection). The loop raises ``NotConverged`` at its round cap. The
k-core subgraph is the edges whose two ends both have coreness >= k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from federated_gcn_spark.barrier import barrier, rounds
from federated_gcn_spark.graph.graph import DST, ID, SRC, Graph


def core_numbers(
    graph: Graph, max_iterations: int = 50, stats: dict | None = None
) -> DataFrame:
    """(id, coreness) for every vertex that has at least one edge.
    ``stats``, when passed, gets ``stats["iterations"]`` — the number of
    h-index rounds run until the coreness sum stabilized."""
    edges = graph.symmetrized_edges().select(SRC, DST).distinct()
    edges = edges.localCheckpoint(eager=True)  # reused every round

    deg = edges.groupBy(F.col(SRC).alias(ID)).agg(
        F.count(F.lit(1)).alias("deg")
    )
    cur = deg.select(ID, F.col("deg").cast("long").alias("c"))
    # the coreness-sum convergence probe rides each round's barrier
    # materialization job instead of a separate collect per round
    cur, (prev_sum,) = barrier(cur, F.sum("c"))

    for _ in rounds("graph.kcore.core_numbers", max_iterations, stats=stats):
        # neighbor messages: to v, each u contributes c(u). (Clamping by
        # deg(v) as in the paper is a no-op here: values >= h count the
        # same either way and h <= deg(v) always — so skip that join.)
        msgs = (
            edges.join(
                cur.withColumnRenamed(ID, SRC).withColumnRenamed("c", "val"), SRC
            )
            .select(F.col(DST).alias(ID), "val")
        )
        hist = msgs.groupBy(ID, "val").agg(F.count(F.lit(1)).alias("n"))
        w = (
            Window.partitionBy(ID)
            .orderBy(F.col("val").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        nxt = (
            hist.withColumn("n_ge", F.sum("n").over(w))
            .groupBy(ID)
            .agg(F.max(F.least(F.col("val"), F.col("n_ge"))).alias("c"))
        )
        cur, (cur_sum,) = barrier(nxt, F.sum("c"))
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return cur.select(ID, F.col("c").alias("coreness"))

