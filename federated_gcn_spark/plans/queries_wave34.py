"""Round-4 wave 34: relational-surface completeness — UNPIVOT,
nested-array reshaping, robust two-way decomposition, and sketch set
algebra.

- ``unpivot_metrics``: the wide-to-long UNPIVOT (Spark
  ``DataFrame.unpivot`` / DuckDB ``UNPIVOT``) of a per-nation metrics
  table — the missing half of pivot_status_counts.
- ``order_lines_nested``: per-order line reassembly — collect the
  lines into an array of structs, sort by line number, and emit
  ordered CSV encodings (the orders_array_agg hashability lesson) —
  the nested-type shaping every export/feed pipeline does.
- ``median_polish_weekday_month``: two sweeps of Tukey's median polish
  on the weekday x month revenue table — the robust two-way
  decomposition (overall + row + column effects) that ANOVA does with
  means, done with exact selected medians.
- ``kmv_set_algebra``: distinct-user set algebra from mergeable KMV
  sketches — union and intersection estimates between the 'purchase'
  and 'click' audiences (union = k smallest of the merged hash sets;
  intersection via the Jaccard fraction of shared members in the
  union sketch), next to the exact truth for error accounting.

Cross-engine determinism: UNPIVOT emits exact aggregates; nested CSV
encodings order by an explicit integer key; median polish subtracts
SELECTED (lower-median) exact integers; KMV member sets are exact
signed xxhash64 integers and the estimates are fixed expressions.

Reference anchor: SURVEY.md §2.5 aggregation surface + §2.12
sketches; extends pivot_status_counts, orders_array_agg, kmv_distinct
(operators/sketch.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from federated_gcn_spark.catalog import load_table
from federated_gcn_spark.plans.queries import register

# ---------------------------------------------------------------------------
# UNPIVOT of a per-nation metrics table
# ---------------------------------------------------------------------------

@register(
    "unpivot_metrics",
    """
    WITH wide AS (
        SELECT n.n_name,
               CAST(COUNT(*) AS DOUBLE) AS n_orders,
               ROUND(SUM(o.o_totalprice), 2) AS revenue,
               ROUND(AVG(o.o_totalprice), 2) AS avg_price,
               CAST(COUNT(DISTINCT o.o_custkey) AS DOUBLE) AS n_customers
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name
    )
    SELECT n_name, metric, value
    FROM wide
    UNPIVOT (value FOR metric IN (n_orders, revenue, avg_price, n_customers))
    ORDER BY n_name, metric
    """,
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long UNPIVOT of the per-nation metrics table: 25 rows x
    4 metric columns become 100 (nation, metric, value) rows — the
    inverse of pivot_status_counts, and the shape every metrics store
    and charting layer ingests.

    100 TB shape: the UNPIVOT itself is a zero-shuffle per-row expand
    of an already-reduced 25-row aggregate (Spark compiles
    DataFrame.unpivot to Expand — no join, no explode shuffle).
    Determinism: aggregates are exact / 2-dp rounded before the
    reshape."""
    orders = load_table(spark, sf_dir, "orders", parallel=True)
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    wide = (
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
            F.countDistinct("o_custkey").cast("double").alias("n_customers"),
        )
    )
    return wide.unpivot(
        ["n_name"],
        ["n_orders", "revenue", "avg_price", "n_customers"],
        "metric",
        "value",
    ).orderBy("n_name", "metric")


# ---------------------------------------------------------------------------
# Nested array-of-struct reassembly per order
# ---------------------------------------------------------------------------

@register(
    "order_lines_nested",
    """
    SELECT l_orderkey AS orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           STRING_AGG(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR), ','
                      ORDER BY l_linenumber, CAST(l_quantity AS BIGINT),
                               l_partkey) AS qty_csv,
           STRING_AGG(CAST(l_partkey AS VARCHAR), ','
                      ORDER BY l_linenumber, CAST(l_quantity AS BIGINT),
                               l_partkey) AS parts_csv,
           ROUND(SUM(l_extendedprice), 2) AS order_value
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def order_lines_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order line reassembly: collect each order's lines as an
    array of structs, sort by line number, and emit the line-ordered
    quantity/part CSV encodings plus the order value — the nested
    shaping behind every order-feed export, spelled with
    collect_list + sort_array instead of a per-order window sort
    (one aggregate, map-side combine; struct sort keys make the order
    explicit), and string-encoded so the result is hashable
    (the orders_array_agg canonicalizer lesson).

    Determinism: sort key is the exact integer line number; CSVs and
    sums are exact / 2-dp."""
    lineitem = load_table(spark, sf_dir, "lineitem", parallel=True)
    lines = lineitem.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("ln"),
                    F.col("l_quantity").cast("long").alias("qty"),
                    F.col("l_partkey").alias("part"),
                )
            )
        ).alias("arr"),
        F.round(F.sum("l_extendedprice"), 2).alias("order_value"),
    )
    return lines.select(
        "orderkey",
        "n_lines",
        F.concat_ws(
            ",", F.transform(F.col("arr"), lambda s: s["qty"].cast("string"))
        ).alias("qty_csv"),
        F.concat_ws(
            ",", F.transform(F.col("arr"), lambda s: s["part"].cast("string"))
        ).alias("parts_csv"),
        "order_value",
    )


# ---------------------------------------------------------------------------
# Tukey median polish on the weekday x month revenue table
# ---------------------------------------------------------------------------

def _polish_oracle(sweeps: int = 2) -> str:
    sql = """
    WITH cells0 AS MATERIALIZED (
        SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   % 7 AS dow,
               CAST(strftime(o_orderdate, '%m') AS BIGINT) AS month,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS v
        FROM orders GROUP BY 1, 2
    ), re0 AS (SELECT DISTINCT dow, CAST(0 AS BIGINT) AS e FROM cells0),
    ce0 AS (SELECT DISTINCT month, CAST(0 AS BIGINT) AS e FROM cells0)
"""
    cur = "cells0"
    for s in range(1, sweeps + 1):
        sql += f""", rmed{s} AS MATERIALIZED (
        SELECT dow, v AS med FROM (
            SELECT dow, v, ROW_NUMBER() OVER (PARTITION BY dow ORDER BY v)
                       AS rn,
                   COUNT(*) OVER (PARTITION BY dow) AS n
            FROM {cur}
        ) WHERE rn = (n + 1) // 2
    ), rsub{s} AS MATERIALIZED (
        SELECT c.dow, c.month, c.v - m.med AS v
        FROM {cur} c JOIN rmed{s} m ON m.dow = c.dow
    ), re{s} AS (
        SELECT r.dow, r.e + m.med AS e
        FROM re{s - 1} r JOIN rmed{s} m ON m.dow = r.dow
    ), cmed{s} AS MATERIALIZED (
        SELECT month, v AS med FROM (
            SELECT month, v, ROW_NUMBER() OVER (PARTITION BY month ORDER BY v)
                       AS rn,
                   COUNT(*) OVER (PARTITION BY month) AS n
            FROM rsub{s}
        ) WHERE rn = (n + 1) // 2
    ), cells{s} AS MATERIALIZED (
        SELECT c.dow, c.month, c.v - m.med AS v
        FROM rsub{s} c JOIN cmed{s} m ON m.month = c.month
    ), ce{s} AS (
        SELECT r.month, r.e + m.med AS e
        FROM ce{s - 1} r JOIN cmed{s} m ON m.month = r.month
    )"""
        cur = f"cells{s}"
    sql += f"""
    SELECT kind, CAST(key AS BIGINT) AS key, CAST(effect AS BIGINT)
               AS effect_cents,
           ROUND(CAST(effect AS DOUBLE) / 100, 2) AS effect_eur
    FROM (
        SELECT 'row_dow' AS kind, dow AS key, e AS effect FROM re{sweeps}
        UNION ALL
        SELECT 'col_month', month, e FROM ce{sweeps}
        UNION ALL
        SELECT 'residual_max_abs', -1,
               (SELECT MAX(ABS(v)) FROM cells{sweeps})
    ) ORDER BY kind, key
    """
    return sql


@register("median_polish_weekday_month", _polish_oracle())
def median_polish_weekday_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey's median polish (2 sweeps) on the weekday x month revenue
    table: alternately subtract row (weekday) and column (month)
    medians, accumulating the effects — the outlier-robust two-way
    decomposition (means-ANOVA's robust sibling).  Emits the row and
    column effects plus the max |residual| as the lack-of-fit
    certificate.

    100 TB shape: the fact reduces once to the 7 x 12 cell table;
    every sweep is a window + join over 84 rows.  Determinism: cells
    are exact integer cents; medians are SELECTED (lower-median)
    values, so every subtraction stays an exact integer."""
    orders = load_table(spark, sf_dir, "orders", parallel=True)
    cells = (
        orders.groupBy(
            (F.unix_date(F.to_date("o_orderdate")) % 7).cast("long").alias(
                "dow"
            ),
            F.month("o_orderdate").cast("long").alias("month"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "v"
            )
        )
        .localCheckpoint(eager=True)
    )
    re = cells.select("dow").distinct().withColumn("e", F.lit(0).cast("long"))
    ce = (
        cells.select("month").distinct().withColumn("e", F.lit(0).cast("long"))
    )

    def lower_median(df: DataFrame, key: str) -> DataFrame:
        w = Window.partitionBy(key).orderBy("v")
        wn = Window.partitionBy(key)
        return (
            df.withColumn("rn", F.row_number().over(w))
            .withColumn("n", F.count(F.lit(1)).over(wn))
            .where(F.col("rn") == F.floor((F.col("n") + 1) / 2))
            .select(key, F.col("v").alias("med"))
        )

    for _ in range(2):
        rmed = lower_median(cells, "dow")
        cells = cells.join(F.broadcast(rmed), "dow").select(
            "dow", "month", (F.col("v") - F.col("med")).alias("v")
        )
        re = re.join(F.broadcast(rmed), "dow").select(
            "dow", (F.col("e") + F.col("med")).alias("e")
        )
        cmed = lower_median(cells, "month")
        cells = cells.join(F.broadcast(cmed), "month").select(
            "dow", "month", (F.col("v") - F.col("med")).alias("v")
        )
        ce = ce.join(F.broadcast(cmed), "month").select(
            "month", (F.col("e") + F.col("med")).alias("e")
        )
        cells = cells.localCheckpoint(eager=True)
    resid = cells.agg(F.max(F.abs(F.col("v"))).alias("effect"))
    out = (
        re.select(
            F.lit("row_dow").alias("kind"),
            F.col("dow").alias("key"),
            F.col("e").alias("effect"),
        )
        .unionByName(
            ce.select(
                F.lit("col_month").alias("kind"),
                F.col("month").alias("key"),
                F.col("e").alias("effect"),
            )
        )
        .unionByName(
            resid.select(
                F.lit("residual_max_abs").alias("kind"),
                F.lit(-1).cast("long").alias("key"),
                F.col("effect"),
            )
        )
    )
    return out.select(
        "kind",
        F.col("key").cast("long").alias("key"),
        F.col("effect").cast("long").alias("effect_cents"),
        F.round(F.col("effect").cast("double") / 100, 2).alias("effect_eur"),
    ).orderBy("kind", "key")


# ---------------------------------------------------------------------------
# KMV sketch set algebra between two audiences
# ---------------------------------------------------------------------------

_KMV_K = 64


def _kmv_algebra_oracle(k: int = _KMV_K) -> str:
    from federated_gcn_spark.plans.xxh64_sql import to_signed64, xxhash64_sql

    h = to_signed64(xxhash64_sql(("user_id", "long")))
    num = float((k - 1) * (1 << 64))
    shift = float(1 << 63)
    return f"""
    WITH ha AS MATERIALIZED (
        SELECT DISTINCT ({h}) AS h FROM events WHERE event_type = 'purchase'
    ), hb AS MATERIALIZED (
        SELECT DISTINCT ({h}) AS h FROM events WHERE event_type = 'click'
    ), ka AS MATERIALIZED (SELECT h FROM ha ORDER BY h LIMIT {k}),
    kb AS MATERIALIZED (SELECT h FROM hb ORDER BY h LIMIT {k}),
    ku AS MATERIALIZED (
        SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
        ORDER BY h LIMIT {k}
    ), stats AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ku) AS k_actual,
               (SELECT MAX(h) FROM ku) AS kth,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ku
                WHERE h IN (SELECT h FROM ka)
                  AND h IN (SELECT h FROM kb)) AS shared
    ), est AS (
        SELECT k_actual, shared,
               CASE WHEN k_actual < {k}
                    THEN CAST(k_actual AS DOUBLE)
                    ELSE {num!r} / (CAST(kth AS DOUBLE) + {shift!r})
               END AS est_union
        FROM stats
    ), exact AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM
                   (SELECT h FROM ha UNION SELECT h FROM hb)) AS true_union,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ha
                WHERE h IN (SELECT h FROM hb)) AS true_intersection
    )
    SELECT e.k_actual, e.shared,
           ROUND(e.est_union, 2) AS est_union,
           ROUND(CAST(e.shared AS DOUBLE) / e.k_actual * e.est_union, 2)
               AS est_intersection,
           x.true_union, x.true_intersection
    FROM est e CROSS JOIN exact x
    """


@register("kmv_set_algebra", _kmv_algebra_oracle())
def kmv_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set algebra on KMV sketches: the 'purchase' and
    'click' audiences each keep their 64 smallest distinct user
    hashes; the UNION estimate comes from the merged sketch's k-th
    value and the INTERSECTION estimate from the Jaccard fraction of
    merged-sketch members present in both sides (Beyer et al.) —
    audience-overlap arithmetic without ever joining the raw sets.
    True union/intersection ride along for error accounting.

    100 TB shape: each audience reduces to a distinct-hash shuffle +
    TakeOrdered(k); all algebra happens on 64-value sets.
    Determinism: member sets are exact signed xxhash64 integers; the
    two estimates are fixed expressions (the kmv_kth spelling)."""
    k = _KMV_K
    # ONE distinct pass over the (pruned) event stream feeds both
    # audiences' sketches AND the exact union/intersection accounting:
    # the per-consumer spelling re-scanned and re-hashed the full event
    # table six times (measured ~67 CPU-s at sf0.1 -> ~15).  Projecting
    # (event_type, h) before the distinct keeps the exchange at 16
    # bytes/row and lets the type predicate push into the parquet scan.
    both = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click"))
        .select("event_type", F.xxhash64("user_id").alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def ksmall(event_type: str) -> DataFrame:
        return (
            both.where(F.col("event_type") == event_type)
            .select("h")
            .orderBy("h")
            .limit(k)
            .localCheckpoint(eager=True)
        )

    ka, kb = ksmall("purchase"), ksmall("click")
    ku = (
        ka.unionByName(kb)
        .distinct()
        .orderBy("h")
        .limit(k)
        .localCheckpoint(eager=True)
    )
    shared = (
        ku.join(ka, "h", "left_semi")
        .join(kb, "h", "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    stats = ku.agg(
        F.count(F.lit(1)).cast("long").alias("k_actual"),
        F.max("h").alias("kth"),
    )
    ha = both.where(F.col("event_type") == "purchase").select("h")
    hb = both.where(F.col("event_type") == "click").select("h")
    exact = (
        ha.unionByName(hb)
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("true_union"))
        .crossJoin(
            ha.join(hb, "h", "left_semi").agg(
                F.count(F.lit(1)).cast("long").alias("true_intersection")
            )
        )
    )
    num = float((k - 1) * (1 << 64))
    shift = float(1 << 63)
    est_union = F.when(
        F.col("k_actual") < k, F.col("k_actual").cast("double")
    ).otherwise(F.lit(num) / (F.col("kth").cast("double") + F.lit(shift)))
    return (
        stats.crossJoin(F.broadcast(shared))
        .crossJoin(F.broadcast(exact))
        .select(
            "k_actual",
            "shared",
            F.round(est_union, 2).alias("est_union"),
            F.round(
                F.col("shared").cast("double") / F.col("k_actual") * est_union,
                2,
            ).alias("est_intersection"),
            "true_union",
            "true_intersection",
        )
    )
