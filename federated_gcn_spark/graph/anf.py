"""Approximate neighborhood function / effective diameter (HyperANF).

Boldi, Rosa, Vigna, "HyperANF: approximating the neighbourhood function
of very large graphs on a budget" (WWW'11): give every vertex an HLL
sketch of {itself}; each superstep, union each vertex's sketch with its
neighbors' sketches. After h rounds vertex v's sketch estimates
|B(v, h)| — the ball of radius h — and Σ_v |B(v, h)| is the
neighborhood function N(h), whose saturation point gives the effective
diameter. Exact reachability needs O(n²) pair state; sketches make it
O(n · sketch_size) with bounded error, which is the only way the
computation exists at 100 TB.

Spark-native: the sketch column is Spark's built-in DataSketches HLL
binary (``hll_sketch_agg`` to build, ``hll_union_agg`` to merge,
``hll_sketch_estimate`` to read) — union-by-neighbor is one
join + groupBy per superstep, the same shuffle shape as PageRank, and
sketches in sparse mode are exact for small balls, so small-graph tests
can pin near-exact equality with BFS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from federated_gcn_spark.barrier import barrier, rounds
from federated_gcn_spark.graph.graph import DST, ID, SRC, Graph


def neighborhood_function(
    graph: Graph, max_hops: int = 6, lg_k: int = 12
) -> DataFrame:
    """(hop, reachable_pairs) for hop = 0..max_hops.

    reachable_pairs(h) = Σ_v estimate|B(v, h)| — ordered pairs within
    distance h (including v itself). Effective diameter at quantile q is
    the smallest h with N(h) >= q * N(max_hops).
    """
    spark = graph.vertices.sparkSession
    edges = graph.symmetrized_edges().select(SRC, DST).distinct()
    edges = edges.localCheckpoint(eager=True)

    cur = (
        graph.vertices.select(ID)
        .groupBy(ID)
        .agg(F.hll_sketch_agg(F.col(ID), F.lit(lg_k)).alias("sketch"))
    )
    # the per-hop N(h) total rides each probed barrier's materialization
    # job: one driver action per hop, not two
    probe = F.sum(F.hll_sketch_estimate(F.col("sketch")))
    cur, (t,) = barrier(cur, probe)

    rows = [(0, float(t))]
    for hop in rounds("graph.anf.neighborhood_function", max_hops, bounded=True):
        msgs = edges.join(cur.withColumnRenamed(ID, SRC), SRC).select(
            F.col(DST).alias(ID), "sketch"
        )
        nxt = (
            msgs.unionByName(cur)
            .groupBy(ID)
            .agg(F.hll_union_agg(F.col("sketch")).alias("sketch"))
        )
        cur, (t,) = barrier(nxt, probe)
        rows.append((hop, float(t)))
    return spark.createDataFrame(rows, "hop int, reachable_pairs double")


def exact_neighborhood_function(graph: Graph, max_hops: int = 6) -> DataFrame:
    """(hop, reachable_pairs) for hop = 0..max_hops — EXACT.

    Materializes the full reachability relation: per hop, the distinct
    (source, reached) pair set grows by one frontier expansion (join on
    the symmetrized edge list + distinct). State is O(Σ_v |B(v, h)|)
    rows — quadratic on dense graphs — so this is the small/medium-graph
    exactness anchor (it hash-checks the superstep machinery against a
    recursive-CTE SQL oracle and pins HyperANF's error bound in tests);
    ``neighborhood_function`` (HLL sketches, O(n · sketch) state) is the
    100 TB path. Same superstep shape either way: one equi-join + one
    distinct/groupBy shuffle per hop, lineage cut per hop.
    """
    spark = graph.vertices.sparkSession
    edges = graph.symmetrized_edges().select(SRC, DST).distinct()
    edges = edges.localCheckpoint(eager=True)

    reach = graph.vertices.select(
        F.col(ID).alias("origin"), F.col(ID).alias("reached")
    )
    # the per-hop pair count IS the barrier's materializing action
    count = F.count(F.lit(1))
    reach, (n,) = barrier(reach, count)
    rows = [(0, n)]
    for hop in rounds("graph.anf.exact_neighborhood_function", max_hops,
                      bounded=True):
        step = reach.join(
            edges.withColumnRenamed(SRC, "reached"), "reached"
        ).select("origin", F.col(DST).alias("reached"))
        reach, (n,) = barrier(reach.unionByName(step).distinct(), count)
        rows.append((hop, n))
    return spark.createDataFrame(rows, "hop int, reachable_pairs bigint")


def register_anf(
    graph: Graph, max_hops: int = 4, p: int = 7
) -> DataFrame:
    """HyperANF supersteps over INTEGER xxhash64 registers — the
    hash-replayable twin of :func:`neighborhood_function`.

    Same Boldi-Rosa-Vigna iteration, but the per-vertex sketch is the
    explicit register table (vertex, bucket, max-rho) built exactly like
    operators/sketch.hll_replay: bucket = low p bits of the unsigned
    hash, rho = bit-position of the remaining 64-p bits, branch-free
    integer comparisons only.  Each superstep max-merges every vertex's
    registers with its in-neighbors' — one equi-join + one partial-final
    max aggregate per hop, the PageRank shuffle shape, lineage cut per
    hop.  Returns the per-hop register-table summary

        (hop, nodes, filled_regs, reg_sum, max_reg)

    — all exact BIGINTs, so a DuckDB oracle replays the full iterative
    sketch evolution bit-for-bit (the estimate-emission arithmetic is
    separately value-checked by ``hll_replay_cardinality``, and the
    estimates' accuracy by test_anf.py; summing per-vertex double
    estimates is deliberately NOT in this query — that sum is
    FP-order-dependent and belongs to the rows-only sketch path).

    State is O(n * 2**p) rows max — the 100 TB-viable footprint.
    """
    m = 1 << p
    wbits = 64 - p
    edges = graph.symmetrized_edges().select(SRC, DST).distinct()
    edges = edges.localCheckpoint(eager=True)

    h = F.xxhash64(F.col(ID))
    w = F.shiftrightunsigned(h, p)
    bitlen = None
    for k in range(wbits):
        c = (w >= F.lit(1 << k)).cast("int")
        bitlen = c if bitlen is None else bitlen + c
    state = graph.vertices.select(
        ID,
        h.bitwiseAND(F.lit(m - 1)).alias("bucket"),
        (F.lit(wbits + 1) - bitlen).alias("mr"),
    )
    # Fixed-hop loop with no driver-side probe: every superstep sits
    # behind a LAZY stats-cut barrier, so the caller's single action
    # materializes the whole chain — each hop's checkpoint caches on
    # first computation and is shared by its two consumers (the per-hop
    # summary and the next hop's merge), with zero per-hop driver jobs.
    state = barrier(state)

    def summary(df: DataFrame, hop: int) -> DataFrame:
        return df.agg(
            F.countDistinct(ID).cast("long").alias("nodes"),
            F.count(F.lit(1)).cast("long").alias("filled_regs"),
            F.sum("mr").cast("long").alias("reg_sum"),
            F.max("mr").cast("int").alias("max_reg"),
        ).select(F.lit(hop).cast("int").alias("hop"), "*")

    out = summary(state, 0)
    for hop in range(1, max_hops + 1):
        msgs = edges.join(state.withColumnRenamed(ID, SRC), SRC).select(
            F.col(DST).alias(ID), "bucket", "mr"
        )
        state = barrier(
            msgs.unionByName(state).groupBy(ID, "bucket").agg(
                F.max("mr").alias("mr")
            )
        )
        out = out.unionByName(summary(state, hop))
    return out
