"""Greedy distributed graph coloring via iterated Luby MIS layers.

Color class c = a maximal independent set of the graph induced on the
still-uncolored vertices (Luby 1986 composed layer-wise — the textbook
distributed (Δ+1)-ish coloring).  Each layer reuses
:func:`federated_gcn_spark.graph.mis.luby_mis`'s update rule with a
layer-specific hash seed, so the whole coloring is a pure function of
the vertex ids: layout-independent, and replayable in an unrolled SQL
oracle (plans/queries_wave26._coloring_oracle).

Spark shape: per layer, the induced subgraph is two semi-joins on the
(checkpointed) edge list; per MIS round inside the layer, the same
anti-join dominance step as ``luby_mis`` — all equi-joins on vertex id,
lineage cut by a count-probed barrier each round.  At 100 TB the edge
list shuffles once per (layer, round) on vertex id with map-side
combine; no vertex-pair blowup anywhere.

Reference anchor: SURVEY.md §2.7 graph-algorithm layer (scheduling /
conflict-freedom primitives around fl_client_shed.py's partition
scheduling); composes graph/mis.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from federated_gcn_spark.barrier import barrier, rounds
from federated_gcn_spark.graph.graph import DST, ID, SRC, Graph


def luby_coloring(
    graph: Graph,
    n_colors: int = 4,
    rounds_per_color: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(id, color) — greedy MIS-layer coloring of the UNDIRECTED graph.

    Colors are 0-based; vertices still uncolored after ``n_colors``
    layers (possible when the fixed round budget leaves an MIS
    non-maximal) come back with color = -1, so callers can assert
    coverage.  Each layer runs ``rounds_per_color`` Luby rounds with
    priority xxhash64(id, seed + color): running a round past
    convergence is a no-op, so a fixed unroll and an early-exit loop
    agree — the invariant the SQL oracle replay depends on.  Both
    budgets are part of the answer (bounded loops).
    """
    edges = graph.symmetrized_edges().select(SRC, DST).distinct()
    edges = edges.localCheckpoint(eager=True)

    count = F.count(F.lit(1))
    remaining, (n_remaining,) = barrier(graph.vertices.select(ID), count)
    colored_layers: list[DataFrame] = []

    for layer in rounds("graph.coloring.luby_coloring", n_colors, bounded=True):
        if n_remaining == 0:
            break  # nothing left to color: later layers are no-ops
        color = layer - 1
        layer_seed = seed + color

        def pri(col):
            return F.struct(
                F.xxhash64(F.col(col), F.lit(layer_seed)).alias("h"),
                F.col(col).alias("i"),
            )

        active, n_active = remaining, n_remaining
        # ONE driver action per round: only `active` is barriered (its
        # counted materialization also steers the early exit, so there
        # is no separate emptiness-probe job), and the round's shared
        # intermediates — `dominated` (consumed by the winners anti-join
        # AND the new-active semi-join) and `winners` (consumed by the
        # losers expansion AND the taken/colored accumulators) — are
        # lazy checkpoints that materialize inside that same job.  The
        # measured cost of this operator is scheduling latency, ~flat in
        # data, so jobs-per-round is the whole game.
        round_winners: list[DataFrame] = []
        # Early exit: once `active` empties, every further round is a
        # pure no-op (empty dominated → empty winners → unchanged
        # state), so breaking is output-identical to the fixed unroll —
        # the same invariant the SQL oracle replay depends on.
        for rnd in rounds("graph.coloring.luby_coloring.mis", rounds_per_color,
                          bounded=True):
            # round 1's emptiness is covered by the layer-start check
            # (active is exactly `remaining` there).
            if rnd > 1 and n_active == 0:
                break
            act_e = edges.join(
                active.withColumnRenamed(ID, SRC), SRC, "left_semi"
            ).join(active.withColumnRenamed(ID, DST), DST, "left_semi")
            # no .distinct() on dominated/losers: left_semi/left_anti
            # are dup-insensitive, and the dedup would cost an extra
            # shuffle-agg stage per round ahead of a join that shuffles
            # the rows regardless (degree here is bounded, so the dup
            # factor the distinct would remove is a small constant)
            dominated = (
                act_e.where(pri(SRC) > pri(DST))
                .select(F.col(DST).alias(ID))
                .localCheckpoint(eager=False)
            )
            winners = active.join(dominated, ID, "left_anti").localCheckpoint(
                eager=False
            )
            round_winners.append(winners)
            losers = edges.join(
                winners.withColumnRenamed(ID, SRC), SRC, "left_semi"
            ).select(F.col(DST).alias(ID))
            # active ∖ winners == active ∩ dominated (winners is exactly
            # the undominated actives), so the next state re-reads the
            # staged `dominated` with a semi-join instead of re-joining
            # against winners — same sets, and the whole round chains
            # into the single counted barrier below.
            active, (n_active,) = barrier(
                active.join(dominated, ID, "left_semi").join(
                    losers, ID, "left_anti"
                ),
                count,
            )
        if not round_winners:  # rounds_per_color=0: layer colors nothing
            continue
        taken = round_winners[0]
        for w in round_winners[1:]:
            taken = taken.unionByName(w)
        colored_layers.append(taken.withColumn("color", F.lit(color)))
        if color == n_colors - 1:
            # last layer: the updated remaining feeds only the lazy
            # leftover projection below — consumed once, so the eager
            # barrier job would materialize a frame nobody loops on.
            # The lazy checkpoint keeps that job saving while cutting
            # the anti-join out of the caller's STATIC plan (it would
            # otherwise compile as a stats-blind SortMergeJoin there;
            # inside the checkpoint RDD, AQE plans it at run time).
            remaining = remaining.join(taken, ID, "left_anti").localCheckpoint(
                eager=False
            )
        else:
            remaining, (n_remaining,) = barrier(
                remaining.join(taken, ID, "left_anti"), count
            )

    leftover = remaining.withColumn("color", F.lit(-1))
    if not colored_layers:  # n_colors=0 or rounds_per_color=0
        return leftover  # everything uncolored, same (id, color) schema
    colored = colored_layers[0]
    for layer in colored_layers[1:]:
        colored = colored.unionByName(layer)
    return colored.unionByName(leftover)
