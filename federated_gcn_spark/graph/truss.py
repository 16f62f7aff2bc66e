"""k-truss decomposition: iterative triangle-support peeling, with
incremental (delta) support maintenance between rounds.

The k-truss of a graph is the maximal subgraph in which every edge
participates in at least ``k - 2`` triangles — the standard
cohesive-subgraph refinement one notch above k-core (every k-truss is
inside the (k-1)-core, but the converse fails: a star survives coring
and dies instantly under trussing). Extends the graph-health plane
(graph/kcore.py h-index fixpoint, graph/triangles.py clustering) that
fronts GNN training data checks (reference's graph preconditions,
models/unsupervised.py:49-56 neighborhood assumptions).

Algorithm (Cohen 2008, "Trusses: cohesive subgraphs for social network
analysis"), with the delta-peeling refinement standard in truss
*maintenance* literature (e.g. Huang et al., SIGMOD'14 truss
decomposition updates): triangles are enumerated ONCE (degree-oriented
wedge join, round 1); every later round touches only the triangles that
DIED, i.e. those containing an edge deleted in the round before:

    support(e) = #triangles containing e      (full enumeration, once)
    repeat:  D = {e : support(e) < k - 2};  delete D
             for every triangle T ∋ some d ∈ D (found by expanding each
             deleted edge from its lower-degree endpoint and closing
             against the pre-peel edge set): support(e) -= 1 for T's
             surviving edges — counted once per triangle even when two
             or three of its edges died together (distinct on the node
             triple)
    until no edge is deleted.

Scale shape: round 1 reuses the degree-oriented wedge join from
graph/triangles.py — max oriented out-degree O(sqrt m), so a hub cannot
explode the wedge pair count.  Every later round costs
Θ(Σ_{e∈D} min-degree(e)) candidate wedges — the work shrinks with the
frontier instead of re-paying the full enumeration (the round-5 profile:
at sf1 the full re-enumeration dominated 9 rounds at ~8 s each).  The
per-round state is one (a, b, support, alo) table — ``alo`` is the
round-1 (degree, id) expansion orientation, carried so delta rounds
never re-join a degree table — checkpointed so the iteration REPLACES
lineage rather than stacking it (the components/split lesson); no
triangle table is materialized.
Everything is equi-join/aggregate — shuffle-partitioned and
AQE-skew-splittable, nothing driver-side except the per-round count.

``ktruss_trace`` runs a FIXED number of rounds (filling the tail once
converged — peeling a fixpoint is the identity, so the fill is exact,
not an approximation) to stay replayable by an unrolled SQL oracle; once
converged, its last ``n_edges`` is the size of the k-truss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from federated_gcn_spark.graph.triangles import (
    _oriented_wedge_triangles,
    oriented_by_degree,
    undirected_edges,
)


def _edge_structs(t):
    """The 3 canonical (a, b) edge structs of a SORTED node triple ``t``."""
    return F.array(
        F.struct(t[0].alias("a"), t[1].alias("b")),
        F.struct(t[0].alias("a"), t[2].alias("b")),
        F.struct(t[1].alias("a"), t[2].alias("b")),
    )


def _dec_from_killed(killed: DataFrame) -> DataFrame:
    """(a, b, ndec): per-edge count of dead triangles, from distinct
    sorted node triples ``killed(t)`` — one decrement per triangle per
    edge, exact even when 2 or 3 edges of a triangle died together."""
    return (
        killed.select(F.explode(_edge_structs(F.col("t"))).alias("e"))
        .select("e.a", "e.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("ndec"))
    )


def _apply_dec(state: DataFrame, dec: DataFrame, k: int) -> DataFrame:
    """Survivors of ``state`` with supports decremented by ``dec``."""
    return (
        state.where(F.col("s") >= k - 2)
        .join(dec, ["a", "b"], "left")
        .select(
            "a",
            "b",
            (F.col("s") - F.coalesce("ndec", F.lit(0))).alias("s"),
            "alo",
        )
    )


def _first_round(cur: DataFrame, k: int) -> DataFrame:
    """Full enumeration + FUSED first peel: one triangle pass yields
    both the initial supports and the round-1 decrements.

    The sorted triples are checkpointed ONCE, unexploded (1 row × 3
    longs per triangle, vs 3 exploded (a, b, t) rows — ~5× less
    checkpoint traffic measured at sf0.1: query input bytes 1136 →
    322 MB), and consumed twice through a re-explode that costs CPU
    only, no extra shuffle: the groupBy gives support₀; the semi join
    against the (broadcastable) round-1 dead edge set finds the killed
    triangles WITHOUT re-enumerating — the round that kills the most
    triangles is exactly the round where re-discovery by frontier
    expansion would cost as much as the enumeration itself (measured:
    13.9 s vs 13.6 s at sf1).  The checkpoint is lazy: state₀'s eager
    checkpoint job materializes it (one fewer driver job).
    Θ(triangles) transient state, dropped as soon as the round-1
    survivors are materialized.
    """
    ori = oriented_by_degree(cur).localCheckpoint(eager=False)
    tri = (
        _oriented_wedge_triangles(ori)
        .select(F.array_sort(F.array("u", "x", "y")).alias("t"))
        .localCheckpoint(eager=False)
    )
    tri_edges = tri.select(
        F.explode(_edge_structs(F.col("t"))).alias("e"), "t"
    ).select("e.a", "e.b", "t")
    supp = tri_edges.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
    # ``alo`` ("a is the low-(degree, id) endpoint") is the SAME
    # orientation the wedge enumeration just computed: carrying it in
    # the state lets every delta round pick its expansion endpoint with
    # a column expression instead of re-joining a degree table twice
    # (2 fewer joins — i.e. 2 fewer AQE stage materializations — per
    # peel round, for one boolean per edge of checkpoint width).
    state0 = (
        ori.select(
            F.least("u", "v").alias("a"),
            F.greatest("u", "v").alias("b"),
            (F.col("u") < F.col("v")).alias("alo"),
        )
        .join(supp, ["a", "b"], "left")
        .select(
            "a", "b", F.coalesce("support", F.lit(0)).alias("s"), "alo"
        )
        .localCheckpoint(eager=False)
    )
    dead = state0.where(F.col("s") < k - 2).select("a", "b")
    killed = (
        tri_edges.join(dead, ["a", "b"], "left_semi").select("t").distinct()
    )
    return _apply_dec(state0, _dec_from_killed(killed), k)


def _decrement_round(state: DataFrame, k: int) -> DataFrame:
    """One delta peel round over ``state`` = (a, b, s, alo)
    (checkpointed).

    Deletes the weak edges, enumerates ONLY the triangles that
    contained one — expanding each deleted edge from one endpoint into
    the pre-peel adjacency and closing against the pre-peel edge set —
    and returns the surviving (a, b, s, alo) with supports decremented
    once per dead triangle (distinct on the sorted node triple, so a
    triangle whose 2 or 3 edges died together decrements its other
    edges exactly once).

    ``alo`` is the ORIGINAL-graph (degree, id) orientation, computed
    once in round 1.  It only chooses which endpoint expands
    (Σ min-degree candidates, the hub-skew guard); stale upper bounds
    are correctness-neutral — both endpoints enumerate the same
    common-neighbor triangles.
    """
    dead = state.where(F.col("s") < k - 2)
    # adjacency over the PRE-peel edge set: a dead triangle's other two
    # edges may themselves be dead this same round
    adj = state.select(
        F.col("a").alias("p"), F.col("b").alias("q")
    ).unionAll(state.select(F.col("b").alias("p"), F.col("a").alias("q")))
    frontier = dead.select(
        F.when(F.col("alo"), F.col("a")).otherwise(F.col("b")).alias("p"),
        F.when(F.col("alo"), F.col("b")).otherwise(F.col("a")).alias("o"),
    )
    # (p, q) is an edge by construction; (o, q) ∈ edges closes the
    # triangle {p, o, q} which contains the deleted edge (p, o).  The
    # frontier and candidate sets shrink with the peel, so AQE turns
    # both joins into broadcasts in the (typical) small-delta rounds.
    cand = (
        frontier.join(adj, "p")
        .where(F.col("q") != F.col("o"))
        .select(
            "p",
            "o",
            "q",
            F.least("o", "q").alias("a"),
            F.greatest("o", "q").alias("b"),
        )
    )
    killed = (
        cand.join(state.select("a", "b"), ["a", "b"], "left_semi")
        .select(F.array_sort(F.array("p", "o", "q")).alias("t"))
        .distinct()
    )
    return _apply_dec(state, _dec_from_killed(killed), k)


def ktruss_trace(
    spark: SparkSession, edges: DataFrame, k: int, rounds: int
) -> DataFrame:
    """Fixed-round peel trace: (round, n_edges) for rounds 0..rounds.

    Once the dead set is empty the remaining rows are filled with the
    fixpoint size instead of running further delta rounds — identical
    output (peel of a fixpoint is the identity), no wasted jobs.
    """
    if k < 3:
        raise ValueError(f"k-truss needs k >= 3, got {k}")
    # Lazy checkpoints throughout the trace, TWO peel rounds batched per
    # driver action: round r+1 is built on round r's lazy checkpoint and
    # both are counted in one union-aggregate job — the round-r
    # checkpoint materializes inside that job, shared by its own count
    # branch and round r+1's plan, so the per-round job-submit barrier
    # is paid once per pair.  The same aggregate also counts each
    # round's weak (s < k-2) edges: a round with zero weak edges is a
    # fixpoint (empty dead set -> empty decrement), so convergence is
    # known WITHOUT the one-round lag of comparing consecutive n_edges,
    # and the remaining rows are filled with the fixpoint size.
    cur = undirected_edges(edges).localCheckpoint(eager=False)
    counts = [cur.count()]
    state = None
    converged = rounds < 1
    r = 1
    while r <= rounds:
        if converged:
            counts.append(counts[-1])
            r += 1
            continue
        state = (
            _first_round(cur, k) if r == 1 else _decrement_round(state, k)
        ).localCheckpoint(eager=False)
        if r == rounds:
            counts.append(state.count())
            r += 1
            continue
        nxt = _decrement_round(state, k).localCheckpoint(eager=False)

        def _probe(frame: DataFrame, tag: int) -> DataFrame:
            return frame.agg(
                F.lit(tag).alias("tag"),
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("s") < F.lit(k - 2)).cast("long")).alias("w"),
            )

        # the literal tag, not the union's row order, tells rounds apart
        rows = {r["tag"]: r for r in _probe(state, 0).unionAll(_probe(nxt, 1)).collect()}
        counts.append(int(rows[0]["n"]))
        counts.append(int(rows[1]["n"]))
        converged = int(rows[1]["w"] or 0) == 0
        state = nxt
        r += 2
    return spark.createDataFrame(
        [(i, int(c)) for i, c in enumerate(counts)],
        "round int, n_edges bigint",
    )
