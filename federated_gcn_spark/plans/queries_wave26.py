"""Round-4 wave 26: the second tier of the graph-algorithm layer —
spectral centrality, distributed coloring, bipartite motifs, and a
null-model check for the clustering coefficient.

- ``eigenvector_centrality``: 6 supersteps of the power iteration on
  the symmetrized order-supplier graph, run in EXACT integer
  arithmetic (x_t(i) = sum of neighbors' x_{t-1}; x_0 = 1 — i.e. x_t
  counts length-t walks ending at i), normalized only at emit.  The
  DuckDB oracle replays all 6 unrolled supersteps, so the distributed
  message-passing machinery itself is hash-checked.
- ``greedy_coloring_stats``: distributed greedy coloring as iterated
  Luby-MIS layers (graph/coloring.py) — color class c is an
  independent set chosen by xxhash64(id, seed+c) priorities; the
  oracle replays every (layer, round) pair.
- ``butterfly_count``: the bipartite 4-cycle (butterfly) census of the
  order-supplier graph — THE motif for bipartite cohesion (Sanei-Mehri
  et al.); counted per co-occurrence pair, never per 4-tuple.
- ``clustering_null_model``: global clustering of the supplier
  co-purchase projection vs the configuration-model expectation
  E[C] = (<k^2> - <k>)^2 / (n <k>^3) — is the observed clustering
  structure, or just degree heterogeneity?

Cross-engine determinism: every count and walk tally is an exact
integer (walk counts accumulate in DECIMAL(38,0) — no float sums in
any iteration); MIS priorities are pure hash functions of vertex ids;
the few emitted ratios are fixed IEEE expressions of exact integers.

Reference anchor: SURVEY.md §2.7 graph-algorithm layer; extends
pagerank_top (plans/queries.py), mis_members (queries_mining.py),
triangle_stats (plans/queries.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from federated_gcn_spark.catalog import load_table
from federated_gcn_spark.plans.queries import register

_EDGES_MOD10_SQL = """
        SELECT DISTINCT l_orderkey AS src, l_suppkey + 10000000 AS dst
        FROM lineitem WHERE l_orderkey % 10 = 0
"""


def _edges_mod10(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem", parallel=True)
    return (
        lineitem.where(F.col("l_orderkey") % 10 == 0)
        .select(
            F.col("l_orderkey").alias("src"),
            (F.col("l_suppkey") + 10_000_000).alias("dst"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Eigenvector centrality via exact-integer power iteration
# ---------------------------------------------------------------------------

def _eigen_oracle(iterations: int = 6) -> str:
    """Unrolled integer power iteration: x_t = A x_{t-1} with x_0 = 1
    over the symmetrized graph — every superstep is one join-agg CTE in
    exact DECIMAL(38,0), the same update graph/graph.aggregate_messages
    executes."""
    parts = [
        f"""
    WITH ed AS ({_EDGES_MOD10_SQL}),
    sym AS (
        SELECT src, dst FROM ed UNION SELECT dst AS src, src AS dst FROM ed
    ),
    x0 AS (
        SELECT DISTINCT src AS id, CAST(1 AS DECIMAL(38,0)) AS v FROM sym
    )"""
    ]
    for t in range(1, iterations + 1):
        parts.append(
            f""", x{t} AS (
        SELECT e.dst AS id, CAST(SUM(x.v) AS DECIMAL(38,0)) AS v
        FROM x{t - 1} x JOIN sym e ON e.src = x.id
        GROUP BY e.dst
    )"""
        )
    k, p = iterations, iterations - 1
    parts.append(
        f""", norm AS (
        SELECT MAX(v) AS mx FROM x{k}
    ), rq AS (
        SELECT CAST(SUM(a.v * b.v) AS DOUBLE)
               / CAST(SUM(a.v * a.v) AS DOUBLE) AS lam
        FROM x{p} a JOIN x{k} b ON b.id = a.id
    )
    SELECT id,
           CAST(v AS DOUBLE) AS walks,
           ROUND(CAST(v AS DOUBLE) / CAST(mx AS DOUBLE), 9) AS score,
           ROUND(lam, 6) AS rayleigh_lambda
    FROM x{k} CROSS JOIN norm CROSS JOIN rq
    ORDER BY v DESC, id LIMIT 20
    """
    )
    return "".join(parts)


@register("eigenvector_centrality", _eigen_oracle())
def eigenvector_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality by power iteration on the symmetrized
    order-supplier graph, 6 supersteps in EXACT integer arithmetic:
    x_0 = 1, x_t(i) = sum over neighbors j of x_{t-1}(j) (so x_t
    counts length-t walks ending at i — the un-normalized power
    iterate), normalized by the max only at emit, plus the Rayleigh
    quotient <x_5, x_6>/<x_5, x_5> as the dominant-eigenvalue estimate.

    100 TB shape: per superstep one equi-join edge->state and one
    sum-by-dst with map-side combine (the PageRank shuffle shape);
    lineage cut per superstep.  Integer state sidesteps float-sum
    order entirely: walk counts are exact DECIMAL(38,0) in both
    engines (bounded by n * Delta^6 — at Delta ~ 10^4 that is ~10^28,
    inside DECIMAL(38) with 10 digits to spare).  Determinism: the
    emit divides two exact integers; top-20 ties break by id.

    Reference anchor: SURVEY §2.7 (graph/pagerank.py's superstep
    machinery with the damping replaced by pure A-multiplication)."""
    from federated_gcn_spark.barrier import barrier
    from federated_gcn_spark.graph import Graph

    edges = _edges_mod10(spark, sf_dir)
    sym = (
        Graph.from_edges(edges)
        .symmetrized_edges()
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    x = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("v", F.lit(1).cast("decimal(38,0)"))
    )
    # fixed 6 supersteps, no driver probe anywhere: lazy stats-cut
    # barriers let the query's single final action materialize the whole
    # chain (each superstep caches on first computation and is shared by
    # its consumers — the next superstep, the norm, and the Rayleigh
    # quotient) with zero per-step driver jobs
    x = barrier(x)
    prev = x
    for _ in range(6):
        prev = x
        x = (
            sym.join(x, sym.src == x.id)
            .groupBy(F.col("dst").alias("id2"))
            .agg(F.sum("v").cast("decimal(38,0)").alias("v"))
            .select(F.col("id2").alias("id"), "v")
        )
        x = barrier(x)
    norm = x.agg(F.max("v").alias("mx"))
    rq = (
        prev.alias("a")
        .join(x.alias("b"), F.col("a.id") == F.col("b.id"))
        .agg(
            (
                F.sum(F.col("a.v") * F.col("b.v")).cast("double")
                / F.sum(F.col("a.v") * F.col("a.v")).cast("double")
            ).alias("lam")
        )
    )
    return (
        x.crossJoin(F.broadcast(norm))
        .crossJoin(F.broadcast(rq))
        .select(
            "id",
            F.col("v").cast("double").alias("walks"),
            F.round(
                F.col("v").cast("double") / F.col("mx").cast("double"), 9
            ).alias("score"),
            F.round(F.col("lam"), 6).alias("rayleigh_lambda"),
        )
        .orderBy(F.col("walks").desc(), "id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Greedy coloring via iterated Luby-MIS layers
# ---------------------------------------------------------------------------

def _coloring_oracle(
    n_colors: int = 4, rounds: int = 5, seed: int = 42
) -> str:
    """Unrolled replay of graph/coloring.luby_coloring on the mod-50
    order-supplier graph: per layer c, `rounds` Luby rounds with
    priority xxhash64(id, seed + c); the layer's winners take color c
    and leave the remaining set."""
    from federated_gcn_spark.plans.xxh64_sql import (
        hash_int_sql,
        hash_long_sql,
        to_signed64,
    )

    sql = """
    WITH ed AS (
        SELECT DISTINCT l_orderkey AS src, l_suppkey + 10000000 AS dst
        FROM lineitem WHERE l_orderkey % 50 = 0
    ), sym AS (
        SELECT src, dst FROM ed UNION SELECT dst AS src, src AS dst FROM ed
    ), rem0 AS (
        SELECT DISTINCT src AS id FROM sym
    )"""
    taken_names = []
    for c in range(n_colors):
        h = to_signed64(
            hash_int_sql(str(seed + c), hash_long_sql("id", "42"))
        )
        sql += f""", pr{c} AS MATERIALIZED (
        SELECT id, ({h}) AS h FROM rem{c}
    ), a{c}_0 AS (SELECT id FROM rem{c})"""
        for t in range(1, rounds + 1):
            sql += f""", w{c}_{t} AS MATERIALIZED (
        SELECT a.id FROM a{c}_{t - 1} a JOIN pr{c} p ON p.id = a.id
        WHERE NOT EXISTS (
            SELECT 1 FROM sym e
            JOIN a{c}_{t - 1} n ON n.id = e.src
            JOIN pr{c} pn ON pn.id = e.src
            WHERE e.dst = a.id AND (pn.h, pn.id) > (p.h, p.id)
        )
    ), a{c}_{t} AS MATERIALIZED (
        SELECT a.id FROM a{c}_{t - 1} a
        WHERE NOT EXISTS (SELECT 1 FROM w{c}_{t} w WHERE w.id = a.id)
          AND NOT EXISTS (
            SELECT 1 FROM sym e JOIN w{c}_{t} w ON w.id = e.src
            WHERE e.dst = a.id
          )
    )"""
        union = "\n        UNION ALL ".join(
            f"SELECT id FROM w{c}_{t}" for t in range(1, rounds + 1)
        )
        sql += f""", taken{c} AS MATERIALIZED (
        {union}
    ), rem{c + 1} AS MATERIALIZED (
        SELECT r.id FROM rem{c} r
        WHERE NOT EXISTS (SELECT 1 FROM taken{c} t WHERE t.id = r.id)
    )"""
        taken_names.append(f"SELECT {c} AS color, id FROM taken{c}")
    taken_names.append(f"SELECT -1 AS color, id FROM rem{n_colors}")
    allu = "\n        UNION ALL ".join(taken_names)
    return sql + f"""
    SELECT CAST(color AS BIGINT) AS color,
           CAST(COUNT(*) AS BIGINT) AS n_vertices
    FROM ({allu}) GROUP BY color ORDER BY color
    """


@register("greedy_coloring_stats", _coloring_oracle())
def greedy_coloring_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed greedy coloring (graph/coloring.py — iterated Luby
    MIS layers, 4 colors x 5 rounds) of the mod-50 order-supplier
    graph; emits the color histogram.  Color -1 would flag vertices
    the round budget failed to color (none on this graph — asserted by
    the no-monochrome-edge unit test).  The oracle replays all 20
    (layer, round) pairs from the same xxhash64(id, seed+color)
    priorities.

    100 TB shape: per (layer, round) two semi-joins + one anti-join on
    vertex id — Luby's O(log n) rounds, no vertex-pair blowup;
    everything reduces to a <= 5-row histogram."""
    from federated_gcn_spark.graph import Graph
    from federated_gcn_spark.graph.coloring import luby_coloring
    from federated_gcn_spark.plans.queries import _edges_mod50

    edges = _edges_mod50(spark, sf_dir)
    colored = luby_coloring(
        Graph.from_edges(edges), n_colors=4, rounds_per_color=5, seed=42
    )
    return (
        colored.groupBy(F.col("color").cast("long").alias("color"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
        .orderBy("color")
    )


# ---------------------------------------------------------------------------
# Butterfly (bipartite 4-cycle) census
# ---------------------------------------------------------------------------

@register(
    "butterfly_count",
    f"""
    WITH ed AS ({_EDGES_MOD10_SQL}),
    odeg AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM ed GROUP BY src
    ), pairs AS (
        SELECT a.dst AS s1, b.dst AS s2, CAST(COUNT(*) AS BIGINT) AS m
        FROM ed a JOIN ed b ON a.src = b.src AND a.dst < b.dst
        GROUP BY a.dst, b.dst
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ed) AS n_edges,
           (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM odeg)
               AS n_wedges,
           CAST(COUNT(*) AS BIGINT) AS n_copairs,
           CAST(SUM(m * (m - 1) / 2) AS BIGINT) AS n_butterflies
    FROM pairs
    """,
)
def butterfly_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Butterfly (2x2 biclique / bipartite 4-cycle) census of the
    order-supplier graph: for every supplier pair, m = co-occurring
    orders; butterflies = sum of C(m, 2) — counted from the
    co-occurrence tally, never by enumerating 4-tuples.  The bipartite
    analogue of the triangle census (butterflies are what bipartite
    clustering coefficients are built from).

    100 TB shape: the wedge self-join is keyed on the ORDER side,
    whose degree is bounded by items-per-order (~7), so wedges are
    O(|E| * 7), and the pair tally aggregates with map-side combine;
    the supplier-side hub degree never enters a join fan-out.
    Determinism: pure integer counts."""
    ed = _edges_mod10(spark, sf_dir).localCheckpoint(eager=True)
    odeg = ed.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("d"))
    wedges = odeg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges")
    )
    nedges = ed.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    b = ed.select(F.col("src").alias("src2"), F.col("dst").alias("s2"))
    pairs = (
        ed.join(b, (F.col("src") == F.col("src2")) & (F.col("dst") < F.col("s2")))
        .groupBy(F.col("dst").alias("s1"), "s2")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_copairs"),
        F.sum(F.col("m") * (F.col("m") - 1) / 2)
        .cast("long")
        .alias("n_butterflies"),
    )
    return (
        nedges.crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(agg))
        .select("n_edges", "n_wedges", "n_copairs", "n_butterflies")
    )


# ---------------------------------------------------------------------------
# Clustering coefficient vs configuration-model null
# ---------------------------------------------------------------------------

@register(
    "clustering_null_model",
    f"""
    WITH ed AS ({_EDGES_MOD10_SQL}),
    und AS (
        SELECT DISTINCT x.dst AS a, y.dst AS b
        FROM ed x JOIN ed y ON x.src = y.src AND x.dst < y.dst
    ), deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
        GROUP BY node
    ), tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS t
        FROM und e1
        JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(d) AS BIGINT) AS sd,
               CAST(SUM(d * d) AS BIGINT) AS sd2,
               CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS wedges
        FROM deg
    )
    SELECT n AS n_nodes, CAST(sd // 2 AS BIGINT) AS n_edges,
           wedges AS n_wedges, t AS n_triangles,
           ROUND(3.0 * t / wedges, 6) AS c_actual,
           ROUND(POWER(CAST(sd2 AS DOUBLE) / n - CAST(sd AS DOUBLE) / n, 2)
                 / (n * POWER(CAST(sd AS DOUBLE) / n, 3)), 6) AS c_null,
           ROUND((3.0 * t / wedges)
                 / (POWER(CAST(sd2 AS DOUBLE) / n - CAST(sd AS DOUBLE) / n, 2)
                    / (n * POWER(CAST(sd AS DOUBLE) / n, 3))), 4)
               AS clustering_ratio
    FROM mom CROSS JOIN tri
    """,
)
def clustering_null_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering of the supplier co-purchase projection versus
    the configuration-model expectation E[C] = (<k^2> - <k>)^2 /
    (n <k>^3) (Newman): a clustering_ratio >> 1 means real triadic
    structure beyond what the degree sequence forces.

    100 TB shape: the projection is built through the order side
    (degree bounded by items-per-order), its triangle census runs on
    the degree-oriented node-iterator (graph/triangles.py, O(sqrt m)
    fan-out), and the null model needs only degree moments — one
    5-number reduce.  The projection itself is dense in the supplier
    dimension (suppliers^2 worst case) — acceptable because the
    supplier DIMENSION, not the fact table, bounds it; documented
    contract as with part_entity_matches.  Determinism: exact integer
    counts, two fixed POWER expressions at emit."""
    from federated_gcn_spark.graph.triangles import triangle_stats

    ed = _edges_mod10(spark, sf_dir)
    b = ed.select(F.col("src").alias("src2"), F.col("dst").alias("s2"))
    # the projection feeds the triangle census (3 self-join arms) and
    # the degree-moment reduce — materialize it once
    proj = (
        ed.join(b, (F.col("src") == F.col("src2")) & (F.col("dst") < F.col("s2")))
        .select(F.col("dst").alias("src"), F.col("s2").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    stats = triangle_stats(proj)
    # recover degree moments for the null model from the projection
    und = proj
    deg = (
        und.select(F.col("src").alias("node"))
        .unionAll(und.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    mom = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sd"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sd2"),
    )
    j = stats.crossJoin(F.broadcast(mom))
    k1 = F.col("sd").cast("double") / F.col("n")
    k2 = F.col("sd2").cast("double") / F.col("n")
    c_null = F.pow(k2 - k1, 2) / (F.col("n") * F.pow(k1, 3))
    c_act = 3.0 * F.col("n_triangles") / F.col("n_wedges")
    return j.select(
        F.col("n").alias("n_nodes"),
        (F.col("sd") / 2).cast("long").alias("n_edges"),
        F.col("n_wedges"),
        F.col("n_triangles"),
        F.round(c_act, 6).alias("c_actual"),
        F.round(c_null, 6).alias("c_null"),
        F.round(c_act / c_null, 4).alias("clustering_ratio"),
    )
