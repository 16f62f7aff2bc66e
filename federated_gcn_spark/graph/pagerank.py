"""PageRank as iterative DataFrame joins (the GraphX/Pregel pattern).

Not part of the reference's surface — added because the engine's graph
layer should stand on its own for distributed graph analytics (the same
superstep machinery as connected components and the BFS spanning
forest). Dangling vertices (no out-edges) redistribute their mass
uniformly, the standard correction, so Σ rank = 1 at every iteration.

Each superstep: one shuffle (contributions groupBy dst) + one tiny
driver scalar (the dangling mass). Deterministic — no sampling, and the
fixpoint is partitioning-independent; lineage cut per superstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from federated_gcn_spark.barrier import barrier, rounds
from federated_gcn_spark.graph.graph import DST, ID, SRC, Graph


def _dangling_probe():
    """The dangling-mass reduction, as an aggregate probe that rides
    each superstep's barrier materialization job instead of a separate
    collect per superstep — 2 driver actions per superstep fold into 1.
    Built lazily: Columns need a session."""
    return F.sum(F.when(F.col("out_degree") == 0, F.col("rank")))


def pagerank(
    graph: Graph,
    damping: float = 0.85,
    max_iterations: int = 10,
) -> DataFrame:
    """Return (id, rank) after ``max_iterations`` synchronous supersteps
    (a bounded loop: the superstep count is part of the answer).

    rank_v = (1-d)/N + d·(Σ_{u→v} rank_u/outdeg_u + dangling_mass/N)
    """
    n = graph.num_vertices()
    if n == 0:
        return graph.vertices.select(ID, F.lit(0.0).alias("rank")).limit(0)

    edges = graph.edges.select(SRC, DST).where(F.col(SRC) != F.col(DST)).distinct()
    out_deg = edges.groupBy(F.col(SRC).alias(ID)).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    # (id, out_degree) for every vertex; 0 marks dangling
    degrees = (
        graph.vertices.select(ID)
        .join(out_deg, ID, "left")
        .select(ID, F.coalesce("out_degree", F.lit(0)).alias("out_degree"))
        .localCheckpoint(eager=True)
    )
    edges = edges.localCheckpoint(eager=True)

    ranks, (dm,) = barrier(
        degrees.select(ID, F.lit(1.0 / n).alias("rank"), "out_degree"),
        _dangling_probe(),
    )
    for _ in rounds("graph.pagerank.pagerank", max_iterations, bounded=True):
        dangling_mass = float(dm or 0.0)
        contribs = (
            ranks.where(F.col("out_degree") > 0)
            .join(edges, ranks[ID] == edges[SRC])
            .select(
                F.col(DST).alias(ID),
                (F.col("rank") / F.col("out_degree")).alias("contrib"),
            )
            .groupBy(ID)
            .agg(F.sum("contrib").alias("contrib"))
        )
        base = (1.0 - damping) / n + damping * dangling_mass / n
        # barrier: ranks feeds next superstep's join — carried stats
        # would compound across supersteps (see barrier.py)
        ranks, (dm,) = barrier(
            degrees.join(contribs, ID, "left")
            .select(
                ID,
                (
                    F.lit(base) + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                ).alias("rank"),
                "out_degree",
            ),
            _dangling_probe(),
        )
    return ranks.select(ID, "rank")


def personalized_pagerank(
    graph: Graph,
    seeds: list[int],
    damping: float = 0.85,
    max_iterations: int = 10,
) -> DataFrame:
    """Random-walk-with-restart scores relative to a seed set.

    rank_v = (1-d)·tele(v) + d·(Σ_{u→v} rank_u/outdeg_u + dangling·tele(v))

    with tele uniform over ``seeds`` and zero elsewhere — both the
    restart and the dangling redistribution return to the seeds, so mass
    stays conserved and scores measure proximity TO the seed set (the
    similar-items / who-to-follow primitive). Same superstep structure
    and cost as pagerank; the teleport vector rides as a column of the
    staged degree table, never a driver-side map.
    """
    if not seeds:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    n_seeds = len(seeds)
    edges = graph.edges.select(SRC, DST).where(F.col(SRC) != F.col(DST)).distinct()
    out_deg = edges.groupBy(F.col(SRC).alias(ID)).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    seed_col = F.when(
        F.col(ID).isin([int(s) for s in seeds]), F.lit(1.0 / n_seeds)
    ).otherwise(F.lit(0.0))
    degrees = (
        graph.vertices.select(ID)
        .join(out_deg, ID, "left")
        .select(
            ID,
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            seed_col.alias("tele"),
        )
        .localCheckpoint(eager=True)
    )
    edges = edges.localCheckpoint(eager=True)

    ranks, (dm,) = barrier(
        degrees.select(
            ID, F.col("tele").alias("rank"), "out_degree", "tele"
        ),
        _dangling_probe(),
    )
    for _ in rounds("graph.pagerank.personalized_pagerank", max_iterations,
                    bounded=True):
        dangling_mass = float(dm or 0.0)
        contribs = (
            ranks.where(F.col("out_degree") > 0)
            .join(edges, ranks[ID] == edges[SRC])
            .select(
                F.col(DST).alias(ID),
                (F.col("rank") / F.col("out_degree")).alias("contrib"),
            )
            .groupBy(ID)
            .agg(F.sum("contrib").alias("contrib"))
        )
        ranks, (dm,) = barrier(
            degrees.join(contribs, ID, "left")
            .select(
                ID,
                (
                    (F.lit(1.0 - damping) + F.lit(damping) * F.lit(dangling_mass))
                    * F.col("tele")
                    + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                ).alias("rank"),
                "out_degree",
                "tele",
            ),
            _dangling_probe(),
        )
    return ranks.select(ID, "rank")
