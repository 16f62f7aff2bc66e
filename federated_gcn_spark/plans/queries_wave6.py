"""Round-4 wave 6: graph quality, marketing attribution, privacy audit,
experimentation guard-rails, forecasting, and weighted sampling.

- ``community_modularity``: Newman modularity Q of the deterministic
  label-propagation communities — the standard "are these communities
  real" score every community-detection deployment reports.  Embeds the
  ``label_communities`` unrolled-LPA oracle so both engines score the
  SAME partition; Q itself is a ratio of exact integer edge/degree
  moments.
- ``attribution_credit_split``: position-based (U-shaped) multi-touch
  attribution — first and last touch get 40% each, middles split the
  remaining 20% — the credit model behind marketing-mix dashboards.
  Credit is integer BASIS POINTS with the division remainder assigned
  to the earliest middle touches, so every user's journey sums to
  exactly 10000 and the whole report is integer-exact.
- ``k_anonymity_report``: k-anonymity privacy audit over the customer
  quasi-identifier pair (nation, market segment) — minimum equivalence-
  class size, rows in classes below k=10, and the re-identification
  risk fraction.  The data-governance gate a training-data pipeline
  runs before shipping user-derived tables.
- ``srm_assignment_check``: sample-ratio-mismatch chi-square guard for
  the hash-parity experiment assignment used by ``cuped_adjusted_lift``
  — the first sanity gate of any A/B readout (a biased split invalidates
  everything downstream).
- ``double_smoothing_forecast``: Brown's double exponential smoothing
  (level + trend) over daily revenue, re-expressed scale-free: the two
  coupled recursions become ONE calendar-bounded window join with two
  weight columns (w1 = d^lag, w2 = (lag+1)·d^lag — the closed form of
  smoothing-of-smoothing), then level/trend/one-step forecast are fixed
  double expressions.
- ``systematic_weighted_sample``: deterministic probability-
  proportional-to-size (PPS) systematic sampling of orders by order
  value — the coordination-free weighted sampler (Madow 1949): one
  exclusive prefix sum, selection points at fixed multiples of
  total/n, multiplicity by integer floor-division — no RNG, no
  rejection loop, exactly n draws.

Cross-engine determinism: modularity/attribution/k-anonymity/SRM/PPS
are integer-exact until a final fixed division; the smoother rounds
each decayed term to 6 dp and sums as DECIMAL (the EWMA pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from federated_gcn_spark.catalog import load_table
from federated_gcn_spark.plans.queries import register


# ---------------------------------------------------------------------------
# Newman modularity of the LPA communities
# ---------------------------------------------------------------------------

def _modularity_oracle(rounds: int = 5) -> str:
    """Unrolled-LPA label assignment (same chain as label_communities'
    oracle, plans/queries.py:_labelprop_oracle) + exact modularity:
    Q = sum_c (e_c/m - (d_c/2m)^2) = sum_c (4*m*e_c - d_c^2) / (4*m^2),
    kept integral until one final division."""
    parts = [
        """
    WITH ed AS (
        SELECT DISTINCT l_orderkey AS src, l_suppkey + 10000000 AS dst
        FROM lineitem WHERE l_orderkey % 20 = 0
    ), sym AS (
        SELECT src, dst FROM ed UNION SELECT dst AS src, src AS dst FROM ed
    ), r0 AS (
        SELECT DISTINCT src AS id, src AS label FROM sym
    )"""
    ]
    for t in range(1, rounds + 1):
        p = t - 1
        parts.append(
            f""", m{t} AS (
        SELECT s.dst AS id, r.label FROM sym s JOIN r{p} r ON r.id = s.src
        UNION ALL SELECT id, label FROM r{p}
    ), t{t} AS (
        SELECT id, label, COUNT(*) AS n FROM m{t} GROUP BY id, label
    ), r{t} AS (
        SELECT id, label FROM (
            SELECT id, label,
                   ROW_NUMBER() OVER (
                       PARTITION BY id ORDER BY n DESC, label ASC
                   ) AS rk
            FROM t{t}
        ) w WHERE rk = 1
    )"""
        )
    parts.append(
        f""", lab AS (
        SELECT id, label FROM r{rounds}
    ), mm AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM ed
    ), deg AS (
        SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY src
    ), intra AS (
        SELECT la.label, CAST(COUNT(*) AS BIGINT) AS e_c
        FROM ed
        JOIN lab la ON la.id = ed.src
        JOIN lab lb ON lb.id = ed.dst
        WHERE la.label = lb.label
        GROUP BY la.label
    ), dsum AS (
        SELECT l.label, CAST(SUM(deg.d) AS BIGINT) AS d_c
        FROM lab l JOIN deg ON deg.id = l.id GROUP BY l.label
    ), terms AS (
        SELECT ds.label, COALESCE(i.e_c, 0) AS e_c, ds.d_c
        FROM dsum ds LEFT JOIN intra i ON i.label = ds.label
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
           mm.m_edges,
           CAST(SUM(CAST(4 * mm.m_edges * terms.e_c
                         - terms.d_c * terms.d_c AS DECIMAL(38,0)))
                AS DOUBLE)
               / CAST(4 * mm.m_edges * mm.m_edges AS DOUBLE) AS modularity
    FROM terms, mm GROUP BY mm.m_edges
    """
    )
    return "".join(parts)


@register("community_modularity", _modularity_oracle(rounds=5))
def community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the deterministic-LPA partition on the
    order→supplier bipartite sample (same graph + label assignment as
    ``label_communities``; reference community surface per SURVEY §2.7).

    100 TB shape: degrees and intra-community edge counts are ONE
    groupBy each over the (already linear) edge list; labels join in by
    vertex id — the same key-partitioned joins LPA itself runs, nothing
    all-pairs.  Determinism: e_c, d_c, m are exact integers; Q is one
    double division of DECIMAL(38,0)-summed integer terms (values stay
    < 2^53 so the doubles are exact)."""
    from federated_gcn_spark.graph import Graph
    from federated_gcn_spark.graph.labelprop import label_propagation

    lineitem = load_table(spark, sf_dir, "lineitem")
    ed = (
        lineitem.where(F.col("l_orderkey") % 20 == 0)
        .select(
            F.col("l_orderkey").alias("src"),
            (F.col("l_suppkey") + 10_000_000).alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # reused: LPA rounds + deg + intra
    )
    sym = ed.union(
        ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    lab = label_propagation(Graph.from_edges(ed), max_iterations=5)
    mm = ed.agg(F.count(F.lit(1)).cast("long").alias("m_edges"))
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    la = lab.select(F.col("id").alias("src"), F.col("community").alias("cla"))
    lb = lab.select(F.col("id").alias("dst"), F.col("community").alias("clb"))
    intra = (
        ed.join(la, "src")
        .join(lb, "dst")
        .where(F.col("cla") == F.col("clb"))
        .groupBy(F.col("cla").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_c"))
    )
    dsum = (
        lab.join(deg, "id")
        .groupBy(F.col("community").alias("label"))
        .agg(F.sum("d").cast("long").alias("d_c"))
    )
    terms = dsum.join(intra, "label", "left").na.fill({"e_c": 0})
    num = F.sum(
        (
            4 * F.col("m_edges") * F.col("e_c")
            - F.col("d_c") * F.col("d_c")
        ).cast("decimal(38,0)")
    )
    return (
        terms.crossJoin(F.broadcast(mm))
        .groupBy("m_edges")
        .agg(
            F.count(F.lit(1)).alias("n_communities"),
            (
                num.cast("double")
                / (4 * F.col("m_edges") * F.col("m_edges")).cast("double")
            ).alias("modularity"),
        )
        .select("n_communities", "m_edges", "modularity")
    )


# ---------------------------------------------------------------------------
# Position-based multi-touch attribution
# ---------------------------------------------------------------------------

@register(
    "attribution_credit_split",
    """
    WITH t AS (
        SELECT user_id, event_type, event_id,
               epoch_ns(ts) // 1000000000 AS sec
        FROM events
    ), p AS (
        SELECT user_id, MIN(sec) AS tp FROM t
        WHERE event_type = 'purchase' GROUP BY user_id
    ), touch AS (
        SELECT t.user_id, t.event_type, t.sec, t.event_id
        FROM t JOIN p USING (user_id)
        WHERE t.event_type IN ('view', 'click', 'signup') AND t.sec < p.tp
    ), ranked AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY sec, event_id
               ) AS pos,
               COUNT(*) OVER (PARTITION BY user_id) AS k
        FROM touch
    ), credit AS (
        SELECT event_type,
               CASE WHEN k = 1 THEN 10000
                    WHEN k = 2 THEN 5000
                    WHEN pos = 1 OR pos = k THEN 4000
                    ELSE 2000 // (k - 2)
                         + CASE WHEN pos - 1 <= 2000 % (k - 2)
                                THEN 1 ELSE 0 END
               END AS bp
        FROM ranked
    )
    SELECT event_type AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(bp) AS BIGINT) AS credit_bp,
           CAST(SUM(bp) AS DOUBLE) / CAST(SUM(SUM(bp)) OVER () AS DOUBLE)
               AS credit_share
    FROM credit GROUP BY event_type
    """,
)
def attribution_credit_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: for every user
    who purchases, credit the touches (view/click/signup) strictly
    before the FIRST purchase — 40% first touch, 40% last, middles split
    the remaining 20% — then roll credit up by channel.  The credit
    model every marketing-mix dashboard starts from.

    100 TB shape: one user_id exchange carries everything — the first-
    purchase time, the journey ranking, and the journey length all ride
    the SAME window partitioning, then the channel rollup is a 3-row
    aggregate.  Determinism: credit is integer basis points; each
    journey sums to exactly 10000 (floor-division remainder goes to the
    earliest middles); ties in touch order break on the unique
    event_id."""
    from federated_gcn_spark.plans.queries import _event_epoch_sec

    events = load_table(spark, sf_dir, "events", parallel=True)
    t = events.select(
        "user_id", "event_type", "event_id",
        _event_epoch_sec(events).alias("sec"),
    )
    w_u = Window.partitionBy("user_id")
    tp = F.min(
        F.when(F.col("event_type") == "purchase", F.col("sec"))
    ).over(w_u)
    touch = (
        t.withColumn("tp", tp)
        .where(
            F.col("tp").isNotNull()
            & F.col("event_type").isin("view", "click", "signup")
            & (F.col("sec") < F.col("tp"))
        )
    )
    w_rank = w_u.orderBy("sec", "event_id")
    ranked = touch.select(
        "event_type",
        F.row_number().over(w_rank).alias("pos"),
        F.count(F.lit(1)).over(w_u).alias("k"),
    )
    mid_base = F.expr("2000 div (k - 2)")
    mid_rem = F.when(F.col("pos") - 1 <= F.expr("2000 % (k - 2)"), 1).otherwise(0)
    bp = (
        F.when(F.col("k") == 1, 10000)
        .when(F.col("k") == 2, 5000)
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("k")), 4000)
        .otherwise(mid_base + mid_rem)
    )
    per_channel = ranked.select(
        F.col("event_type").alias("channel"), bp.alias("bp")
    ).groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("bp").cast("long").alias("credit_bp"),
    )
    w_all = Window.partitionBy()
    return per_channel.select(
        "channel",
        "n_touches",
        "credit_bp",
        (
            F.col("credit_bp").cast("double")
            / F.sum("credit_bp").over(w_all).cast("double")
        ).alias("credit_share"),
    )


# ---------------------------------------------------------------------------
# k-anonymity privacy audit
# ---------------------------------------------------------------------------

@register(
    "k_anonymity_report",
    """
    WITH cls AS (
        SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS sz
        FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(sz) AS BIGINT) AS n_rows,
           CAST(MIN(sz) AS BIGINT) AS k_anonymity,
           CAST(SUM(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT)
               AS rows_at_risk,
           CAST(SUM(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS DOUBLE)
               / CAST(SUM(sz) AS DOUBLE) AS risk_fraction
    FROM cls
    """,
)
def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over the quasi-identifier pair
    (nation, market segment): the dataset is k-anonymous for k = the
    smallest equivalence-class size; rows in classes of size < 10 are
    the re-identification-risk surface.  The privacy gate a training-
    data pipeline runs before releasing user-derived tables.

    100 TB shape: ONE groupBy on the QI columns (map-side combinable —
    class count is bounded by the QI domain, 125 here) then a singleton
    aggregate.  Integer-exact; the risk fraction is one division."""
    customer = load_table(spark, sf_dir, "customer", parallel=True)
    cls = customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    at_risk = F.sum(F.when(F.col("sz") < 10, F.col("sz")).otherwise(0))
    return cls.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("sz").cast("long").alias("n_rows"),
        F.min("sz").alias("k_anonymity"),
        at_risk.cast("long").alias("rows_at_risk"),
        (at_risk.cast("double") / F.sum("sz").cast("double")).alias(
            "risk_fraction"
        ),
    )


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch guard
# ---------------------------------------------------------------------------

@register(
    "srm_assignment_check",
    """
    WITH g AS (
        SELECT c_custkey % 2 AS t, CAST(COUNT(*) AS BIGINT) AS n
        FROM customer GROUP BY c_custkey % 2
    ), w AS (
        SELECT MAX(CASE WHEN t = 0 THEN n END) AS n0,
               MAX(CASE WHEN t = 1 THEN n END) AS n1
        FROM g
    )
    SELECT n0 AS n_control,
           n1 AS n_treatment,
           CAST((n1 - n0) * (n1 - n0) AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)
               AS chi2_stat,
           CAST(CASE WHEN CAST((n1 - n0) * (n1 - n0) AS DOUBLE)
                          / CAST(n0 + n1 AS DOUBLE)
                          > CAST(3.841458820694124 AS DOUBLE)
                     THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
    FROM w
    """,
)
def srm_assignment_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guard for the hash-parity assignment that
    ``cuped_adjusted_lift`` reads out: chi-square of the observed 50/50
    split (for two equal-probability cells the statistic closes to
    (n1-n0)^2/(n1+n0)); flag fires above the 95th percentile of
    chi2(1) = 3.84.  An SRM invalidates the experiment before any lift
    is read — this is gate #1 of every A/B platform.

    100 TB shape: a two-cell conditional count — one map-side-combined
    aggregate, no shuffle beyond the two-row tally.  Integer counts,
    one fixed double expression."""
    customer = load_table(spark, sf_dir, "customer", parallel=True)
    g = customer.groupBy((F.col("c_custkey") % 2).alias("t")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = g.agg(
        F.max(F.when(F.col("t") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("t") == 1, F.col("n"))).alias("n1"),
    )
    chi2 = ((F.col("n1") - F.col("n0")) * (F.col("n1") - F.col("n0"))).cast(
        "double"
    ) / (F.col("n0") + F.col("n1")).cast("double")
    return w.select(
        F.col("n0").alias("n_control"),
        F.col("n1").alias("n_treatment"),
        chi2.alias("chi2_stat"),
        F.when(chi2 > F.lit(3.841458820694124), 1)
        .otherwise(0)
        .cast("long")
        .alias("srm_flag"),
    )


# ---------------------------------------------------------------------------
# Brown's double exponential smoothing (level + trend forecast)
# ---------------------------------------------------------------------------

@register(
    "double_smoothing_forecast",
    """
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_c
        FROM orders GROUP BY 1
    ), win AS (
        SELECT d.day, d.day - w.day AS lag, w.rev_c
        FROM daily d JOIN daily w
          ON w.day BETWEEN d.day - 19 AND d.day
    ), terms AS (
        SELECT day,
               CAST(ROUND(rev_c * POWER(CAST(0.7 AS DOUBLE), lag), 6)
                    AS DECIMAL(28,6)) AS n1,
               CAST(ROUND(POWER(CAST(0.7 AS DOUBLE), lag), 6)
                    AS DECIMAL(28,6)) AS d1,
               CAST(ROUND(rev_c * (lag + 1) * POWER(CAST(0.7 AS DOUBLE), lag),
                          6) AS DECIMAL(28,6)) AS n2,
               CAST(ROUND((lag + 1) * POWER(CAST(0.7 AS DOUBLE), lag), 6)
                    AS DECIMAL(28,6)) AS d2
        FROM win
    ), sm AS (
        SELECT day,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(n1) AS DOUBLE) / CAST(SUM(d1) AS DOUBLE) AS s1,
               CAST(SUM(n2) AS DOUBLE) / CAST(SUM(d2) AS DOUBLE) AS s2
        FROM terms GROUP BY day
    )
    SELECT day, n_members,
           ROUND(s1 / 100, 2) AS s1_revenue,
           ROUND(s2 / 100, 2) AS s2_revenue,
           ROUND((2 * s1 - s2) / 100, 2) AS level_revenue,
           ROUND(((2 * s1 - s2)
                  + (CAST(0.3 AS DOUBLE) / CAST(0.7 AS DOUBLE)) * (s1 - s2))
                 / 100, 2) AS forecast_next
    FROM sm
    """,
)
def double_smoothing_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown's double exponential smoothing of daily revenue (decay
    d=0.7, i.e. alpha=0.3; 20-day effective window): level = 2s'-s'',
    trend = (alpha/(1-alpha))(s'-s''), one-step forecast = level+trend —
    the classic short-range forecaster one rung above EWMA.

    The two coupled recursions (smoothing of a smoothing) close to
    weighted sums with weights d^lag and (lag+1)*d^lag, so the whole
    fit is the SAME calendar-bounded self-join as ewma_smoothed_revenue
    with two weight columns — fully parallel, no sequential state.
    Determinism: each decayed term is rounded to 6 dp and summed as
    DECIMAL(28,6) (exact, order-independent); s1/s2/level/forecast are
    fixed double expressions of those exact sums."""
    orders = load_table(spark, sf_dir, "orders", parallel=True)
    # daily self-joins for the trailing window; staged once -> one fact
    # aggregate instead of two
    daily = orders.groupBy(
        F.unix_date(F.to_date("o_orderdate")).cast("long").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c")
    ).localCheckpoint(eager=False)
    w = daily.select(
        F.col("day").alias("wday"), F.col("rev_c").alias("member_rev")
    )
    win = daily.join(
        w,
        (F.col("wday") >= F.col("day") - 19) & (F.col("wday") <= F.col("day")),
    ).select(
        "day",
        (F.col("day") - F.col("wday")).alias("lag"),
        F.col("member_rev").alias("rev_c"),
    )
    decay = F.pow(F.lit(0.7), F.col("lag"))
    dec6 = lambda c: F.round(c, 6).cast("decimal(28,6)")  # noqa: E731
    terms = win.select(
        "day",
        dec6(F.col("rev_c") * decay).alias("n1"),
        dec6(decay).alias("d1"),
        dec6(F.col("rev_c") * (F.col("lag") + 1) * decay).alias("n2"),
        dec6((F.col("lag") + 1) * decay).alias("d2"),
    )
    sm = terms.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_members"),
        (F.sum("n1").cast("double") / F.sum("d1").cast("double")).alias("s1"),
        (F.sum("n2").cast("double") / F.sum("d2").cast("double")).alias("s2"),
    )
    level = 2 * F.col("s1") - F.col("s2")
    trend = (F.lit(0.3) / F.lit(0.7)) * (F.col("s1") - F.col("s2"))
    return sm.select(
        "day",
        "n_members",
        F.round(F.col("s1") / 100, 2).alias("s1_revenue"),
        F.round(F.col("s2") / 100, 2).alias("s2_revenue"),
        F.round(level / 100, 2).alias("level_revenue"),
        F.round((level + trend) / 100, 2).alias("forecast_next"),
    )


# ---------------------------------------------------------------------------
# Deterministic PPS systematic sampling
# ---------------------------------------------------------------------------

@register(
    "systematic_weighted_sample",
    """
    WITH w AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS wt
        FROM orders
    ), cum AS (
        SELECT o_orderkey, wt,
               CAST(COALESCE(SUM(wt) OVER (
                   ORDER BY o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS r_before,
               CAST(SUM(wt) OVER () AS BIGINT) AS total
        FROM w
    ), sel AS (
        SELECT o_orderkey, wt,
               (r_before + wt) // (total // 100)
                   - r_before // (total // 100) AS multiplicity
        FROM cum
    )
    SELECT o_orderkey, wt AS weight_cents,
           CAST(multiplicity AS BIGINT) AS multiplicity
    FROM sel WHERE multiplicity > 0
    """,
)
def systematic_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PPS systematic sample of 100 orders weighted by
    order value (Madow 1949): selection points at every multiple of
    total/100 along the orderkey-ordered cumulative weight axis; a row
    is drawn once per selection point inside its weight interval, so
    heavy orders can be drawn multiply and exactly 100 draws are made
    in total — no RNG, no rejection, reproducible across engines.

    100 TB shape: the cumulative axis comes from the distributed
    two-pass prefix sum (operators/stats.py:partitioned_prefix_sum — a
    range shuffle plus a num_partitions-row driver reduction, never a
    global single-task window); the grand total rides the same pass;
    selection is then a stateless per-row filter.  Integer arithmetic
    end-to-end."""
    from federated_gcn_spark.operators.stats import partitioned_prefix_sum

    orders = load_table(spark, sf_dir, "orders", parallel=True)
    w = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("wt"),
    )
    cum = partitioned_prefix_sum(w, "o_orderkey", "wt", "r_before")
    tot = cum.agg(F.sum("wt").cast("long").alias("total"))
    step = F.expr("total div 100")
    sel = cum.crossJoin(F.broadcast(tot)).select(
        "o_orderkey",
        F.col("wt").alias("weight_cents"),
        (
            F.expr("(r_before + wt) div (total div 100)")
            - F.expr("r_before div (total div 100)")
        ).alias("multiplicity"),
    )
    return sel.where(F.col("multiplicity") > 0).select(
        "o_orderkey",
        "weight_cents",
        F.col("multiplicity").cast("long").alias("multiplicity"),
    )
