"""Seeded neighbor sampling: uniform random walks (G2) and fixed-fanout
k-hop sampling (G3).

Reference semantics:
- ``UniformRandomWalk``/``UnsupervisedSampler(graph, nodes, length=5,
  number_of_walks=1)`` (models/unsupervised.py:54-56) — per start node,
  walk by picking a uniform random neighbor each step; walks shorter if a
  dead end is hit.
- ``GraphSAGE{Link,Node}Generator(..., num_samples=[20,10])``
  (models/supervised.py:80-85) — per frontier node sample ≤k₁ neighbors,
  then ≤k₂ of theirs.

Determinism under Spark (SURVEY.md §7.3 risk 2): ``F.rand(seed)`` depends
on partitioning and row order, so instead every random draw is a pure
function of (walk identity, step, candidate edge, seed) via ``xxhash64``
— same inputs ⇒ same walks on any cluster layout. Each step is one join
+ one window (top-1 per walk), i.e. the same shuffle shape as any
groupBy; lineage is cut with localCheckpoint between supersteps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from federated_gcn_spark.barrier import barrier
from federated_gcn_spark.graph.graph import DST, ID, SRC, Graph


def _pseudo_rand(*cols) -> F.Column:
    """Deterministic pseudo-uniform in [0,1): xxhash64 → positive fraction."""
    h = F.xxhash64(*cols)
    return (F.pmod(h, F.lit(1_000_000_007)).cast("double")) / F.lit(1_000_000_007.0)


def uniform_random_walks(
    graph: Graph,
    length: int = 5,
    number_of_walks: int = 1,
    seed: int = 42,
    start_vertices: DataFrame | None = None,
    undirected: bool = True,
) -> DataFrame:
    """Walks as (walk_id, start, step, vertex) — step 0 is the start node.

    One row per visited vertex; a walk stops early at a dead end
    (directed graphs) exactly like UniformRandomWalk does.
    """
    starts = (start_vertices or graph.vertices).select(ID)
    edges = (
        graph.symmetrized_edges() if undirected else graph.edges.select(SRC, DST)
    ).localCheckpoint(eager=True)

    # number_of_walks copies per start vertex, each with its own walk_id
    walk_ids = F.explode(F.sequence(F.lit(0), F.lit(number_of_walks - 1))).alias("walk_no")
    frontier = starts.select(F.col(ID).alias("start"), walk_ids).select(
        "start",
        F.concat_ws("_", F.col("start"), F.col("walk_no")).alias("walk_id"),
        F.col("start").alias("vertex"),
    )
    out = frontier.select("walk_id", "start", F.lit(0).alias("step"), "vertex")
    current = frontier.select("walk_id", "start", "vertex")

    for step in range(1, length):
        cand = current.join(edges, current["vertex"] == edges[SRC]).select(
            "walk_id", "start", F.col(DST).alias("next_vertex")
        )
        w = Window.partitionBy("walk_id").orderBy(
            _pseudo_rand(F.col("walk_id"), F.lit(step), F.col("next_vertex"), F.lit(seed)),
            F.col("next_vertex"),
        )
        # lazy stats-cut barrier: picked feeds the next step's join with
        # edges — carried stats would compound across steps (barrier.py)
        # — but these loops run a FIXED number of steps with no driver
        # probe, so materialization defers to the caller's one action
        # (each step caches on first computation, shared by the walk
        # accumulator and the next step's join)
        picked = barrier(
            cand.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("walk_id", "start", F.col("next_vertex").alias("vertex"))
        )
        out = out.unionByName(
            picked.select("walk_id", "start", F.lit(step).alias("step"), "vertex")
        )
        current = picked
    return out


def fanout_sample(
    graph: Graph,
    roots: DataFrame,
    fanouts: list[int],
    seed: int = 42,
    undirected: bool = True,
    group_col: str | None = None,
) -> DataFrame:
    """Fixed-fanout k-hop sampled neighborhood (G3).

    Returns (root, hop, parent, vertex): hop h rows are the ≤fanouts[h-1]
    sampled neighbors of each hop-(h-1) vertex. Sampling without
    replacement (StellarGraph samples WITH replacement; without is the
    standard relational spelling and keeps rows distinct — parity of
    *shape*, ≤k per parent, is what downstream layers rely on).

    ``group_col``: when set (e.g. ``"partition_id"``), edges and roots
    must both carry that column and the walk never crosses group
    boundaries — per-subgraph sampling in ONE distributed job instead of
    a driver loop over groups. That is how federated_fit samples every
    FL partition's neighborhoods per round (fl_client.py trains per
    client; GraphSAGELinkGenerator(..., num_samples=[20,10]) samples
    within the client's own graph, models/supervised.py:79-85).
    """
    gcols = [group_col] if group_col else []
    if group_col:
        e = graph.edges.select(SRC, DST, group_col)
        edges = (
            e.unionByName(
                e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST), group_col)
            )
            if undirected
            else e
        ).localCheckpoint(eager=True)
        frontier = roots.select(
            F.col(ID).alias("root"), F.col(ID).alias("vertex"), group_col
        )
    else:
        edges = (
            graph.symmetrized_edges() if undirected else graph.edges.select(SRC, DST)
        ).localCheckpoint(eager=True)
        frontier = roots.select(F.col(ID).alias("root"), F.col(ID).alias("vertex"))
    out = frontier.select(
        "root", F.lit(0).alias("hop"), F.lit(None).cast(frontier.schema["vertex"].dataType).alias("parent"), "vertex", *gcols
    )
    for hop, k in enumerate(fanouts, start=1):
        join_cond = frontier["vertex"] == edges[SRC]
        if group_col:
            join_cond = join_cond & (frontier[group_col] == edges[group_col])
        cand = frontier.join(edges, join_cond).select(
            "root",
            F.col("vertex").alias("parent"),
            F.col(DST).alias("child"),
            *[frontier[c] for c in gcols],
        )
        w = Window.partitionBy("root", "parent", *gcols).orderBy(
            _pseudo_rand(
                F.col("root"), F.col("parent"), F.col("child"), F.lit(hop), F.lit(seed)
            ),
            F.col("child"),
        )
        picked = barrier(
            cand.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .select("root", "parent", F.col("child").alias("vertex"), *gcols)
        )
        out = out.unionByName(
            picked.select("root", F.lit(hop).alias("hop"), "parent", "vertex", *gcols)
        )
        frontier = picked.select("root", "vertex", *gcols)
    return out


def node2vec_walks(
    graph: Graph,
    p: float = 1.0,
    q: float = 1.0,
    length: int = 5,
    number_of_walks: int = 1,
    seed: int = 42,
    start_vertices: DataFrame | None = None,
    undirected: bool = True,
) -> DataFrame:
    """Second-order biased random walks (node2vec; Grover & Leskovec,
    KDD'16) as (walk_id, start, step, vertex).

    From edge (prev → cur), candidate x gets the standard search bias
        1/p  if x == prev            (return)
        1    if edge(prev, x) exists (stay in the BFS ring)
        1/q  otherwise               (explore outward),
    so p < 1 keeps walks local and q < 1 pushes them outward.

    Weighted choice stays relational AND deterministic via an
    exponential race: each candidate draws key = -ln(u)/w with u a pure
    hash of (walk_id, step, candidate, seed); the min key wins with
    probability w/Σw — no collect, no per-vertex alias tables, one
    row_number window per step exactly like the uniform walk. The
    ring-membership test is a broadcast-able left-semi-style marker join
    against the edge set keyed on (prev, candidate); at 100 TB both
    joins hash on vertex keys and the frontier is |walks| rows, never
    the graph.
    """
    starts = (start_vertices or graph.vertices).select(ID)
    edges = (
        graph.symmetrized_edges() if undirected else graph.edges.select(SRC, DST)
    ).distinct().localCheckpoint(eager=True)

    walk_ids = F.explode(
        F.sequence(F.lit(0), F.lit(number_of_walks - 1))
    ).alias("walk_no")
    frontier = starts.select(F.col(ID).alias("start"), walk_ids).select(
        "start",
        F.concat_ws("_", F.col("start"), F.col("walk_no")).alias("walk_id"),
        F.lit(None).cast(starts.schema[ID].dataType).alias("prev"),
        F.col("start").alias("vertex"),
    )
    out = frontier.select("walk_id", "start", F.lit(0).alias("step"), "vertex")

    # u in (0,1]: shift the hash fraction off exact zero so -ln(u) is finite
    def _u(step):
        return (
            _pseudo_rand(
                F.col("walk_id"), F.lit(step), F.col("next_vertex"), F.lit(seed)
            )
            * F.lit(1.0 - 1e-12)
            + F.lit(1e-12)
        )

    ring = edges.select(
        F.col(SRC).alias("prev"), F.col(DST).alias("next_vertex"), F.lit(1).alias("__ring")
    )
    for step in range(1, length):
        cand = frontier.join(edges, frontier["vertex"] == edges[SRC]).select(
            "walk_id", "start", "prev", "vertex", F.col(DST).alias("next_vertex")
        )
        if step == 1:
            weight = F.lit(1.0)  # first hop is first-order (uniform)
            weighted = cand.withColumn("__w", weight)
        else:
            weighted = cand.join(ring, ["prev", "next_vertex"], "left").withColumn(
                "__w",
                F.when(F.col("next_vertex") == F.col("prev"), F.lit(1.0 / p))
                .when(F.col("__ring").isNotNull(), F.lit(1.0))
                .otherwise(F.lit(1.0 / q)),
            )
        w = Window.partitionBy("walk_id").orderBy(
            (-F.log(_u(step)) / F.col("__w")).asc(), F.col("next_vertex")
        )
        picked = barrier(
            weighted.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(
                "walk_id",
                "start",
                F.col("vertex").alias("prev"),
                F.col("next_vertex").alias("vertex"),
            )
        )
        out = out.unionByName(
            picked.select("walk_id", "start", F.lit(step).alias("step"), "vertex")
        )
        frontier = picked
    return out
