"""Round-4 wave 16: rank concordance, behavioral entropy, smoothing
model selection, and degree inequality.

- ``kendall_tau_daily``: Kendall tau-b between daily revenue and
  daily order count — the concordance-based correlation (complements
  ``spearman_qty_price``), exact from pair counts over the
  calendar-bounded daily table.
- ``session_entropy_distribution``: per-user event-type entropy,
  bucketed into 0.25-nat bins plus the corpus mean — the behavioral
  diversity profile (bot screens look exactly like this).
- ``ses_gridsearch``: simple-exponential-smoothing model selection —
  one-step-ahead RMSE of the 20-day EWMA forecast at alpha in
  {0.2, 0.4, 0.6, 0.8}, best alpha chosen by EXACT decimal SSE
  comparison.
- ``graph_degree_gini``: Gini coefficient of the degree distribution
  of the order<->supplier graph, computed from the degree-value
  histogram (sum of |a-b| over histogram cells — never a node-pair
  join).

Cross-engine determinism: pair counts, histogram products and SSE
decimals are exact; transcendental entropy terms are 9-dp-rounded
DECIMAL sums; emitted ratios are single divisions or fixed
expressions.

Reference anchor: SURVEY.md §2.7 graph stats + §2.11 metrics
(fl_client.py:139-160); degree Gini extends degree_counts /
degree_powerlaw_fit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from federated_gcn_spark.catalog import load_table
from federated_gcn_spark.plans.queries import register


# ---------------------------------------------------------------------------
# Kendall tau-b between daily revenue and daily order count
# ---------------------------------------------------------------------------

@register(
    "kendall_tau_daily",
    """
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS x,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ), pairs AS (
        SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
        FROM daily a JOIN daily b ON a.day < b.day
    ), tally AS (
        SELECT CAST(SUM(CASE WHEN (xa - xb) * (ya - yb) > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN (xa - xb) * (ya - yb) < 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS d,
               CAST(SUM(CASE WHEN xa = xb THEN 1 ELSE 0 END) AS BIGINT) AS tx,
               CAST(SUM(CASE WHEN ya = yb THEN 1 ELSE 0 END) AS BIGINT) AS ty,
               CAST(COUNT(*) AS BIGINT) AS t
        FROM pairs
    )
    SELECT c AS concordant, d AS discordant, tx AS ties_x, ty AS ties_y, t
               AS n_pairs,
           ROUND(CAST(c - d AS DOUBLE)
                 / SQRT(CAST(t - tx AS DOUBLE) * CAST(t - ty AS DOUBLE)), 6)
               AS tau_b
    FROM tally
    """,
)
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b concordance between daily revenue and daily order
    volume: tau_b = (C - D) / sqrt((T - tx)(T - ty)) over all day
    pairs — the robust rank correlation whose pair semantics (unlike
    Spearman's) survive heavy ties.

    100 TB shape: the corpus reduces to the daily aggregate once; the
    O(days^2) pair join is calendar-bounded (~3M pairs regardless of
    data size), never a fact-table self-join.  Determinism: all five
    tallies are exact integer pair counts; tau is one fixed double
    expression."""
    orders = load_table(spark, sf_dir, "orders", parallel=True)
    daily = orders.groupBy(
        F.unix_date(F.to_date("o_orderdate")).cast("long").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x"),
        F.count(F.lit(1)).cast("long").alias("y"),
    ).localCheckpoint(eager=False)
    b = daily.select(
        F.col("day").alias("bday"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    pairs = daily.join(b, F.col("day") < F.col("bday")).select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), "xb", "yb"
    )
    sgn = (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb"))
    tally = pairs.agg(
        F.sum(F.when(sgn > 0, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(sgn < 0, 1).otherwise(0)).cast("long").alias("d"),
        F.sum(F.when(F.col("xa") == F.col("xb"), 1).otherwise(0))
        .cast("long")
        .alias("tx"),
        F.sum(F.when(F.col("ya") == F.col("yb"), 1).otherwise(0))
        .cast("long")
        .alias("ty"),
        F.count(F.lit(1)).cast("long").alias("t"),
    )
    return tally.select(
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.col("tx").alias("ties_x"),
        F.col("ty").alias("ties_y"),
        F.col("t").alias("n_pairs"),
        F.round(
            (F.col("c") - F.col("d")).cast("double")
            / F.sqrt(
                (F.col("t") - F.col("tx")).cast("double")
                * (F.col("t") - F.col("ty")).cast("double")
            ),
            6,
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Per-user event-type entropy distribution
# ---------------------------------------------------------------------------

@register(
    "session_entropy_distribution",
    """
    WITH cnt AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY user_id, event_type
    ), per_user AS (
        SELECT user_id,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(c * LN(CAST(c AS DOUBLE)), 9)
                             AS DECIMAL(28,9))) AS DOUBLE) AS sclnc
        FROM cnt GROUP BY user_id
    ), ent AS (
        SELECT user_id, n,
               ROUND(LN(CAST(n AS DOUBLE)) - sclnc / CAST(n AS DOUBLE), 9)
                   AS h
        FROM per_user
    )
    SELECT CAST(FLOOR(h / 0.25) AS BIGINT) AS h_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(CAST(SUM(CAST(h AS DECIMAL(28,9))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS mean_entropy,
           CAST(SUM(n) AS BIGINT) AS n_events
    FROM ent
    GROUP BY h_bucket
    ORDER BY h_bucket
    """,
)
def session_entropy_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distribution of per-user event-type entropy H = ln(n) -
    (1/n) sum c ln c, bucketed into 0.25-nat bins — the behavioral
    diversity profile: bots pin to one event type (H ~ 0), organic
    users spread toward ln(5).

    100 TB shape: one (user, type) aggregate then a per-user
    reduction — both map-side combinable, keyed shuffles only; the
    bucket tally is 8 rows.  Determinism: c*ln(c) terms are
    9-dp-rounded DECIMAL sums; H itself is rounded to 9 dp BEFORE
    bucketing so the floor cannot straddle an engine ulp; bucket means
    are DECIMAL sums with one division."""
    events = load_table(spark, sf_dir, "events", parallel=True)
    cnt = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_user = cnt.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(
            F.round(
                F.col("c") * F.log(F.col("c").cast("double")), 9
            ).cast("decimal(28,9)")
        )
        .cast("double")
        .alias("sclnc"),
    )
    ent = per_user.select(
        "user_id",
        "n",
        F.round(
            F.log(F.col("n").cast("double"))
            - F.col("sclnc") / F.col("n").cast("double"),
            9,
        ).alias("h"),
    )
    return (
        ent.groupBy(
            F.floor(F.col("h") / 0.25).cast("long").alias("h_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.round(
                F.sum(F.col("h").cast("decimal(28,9)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_entropy"),
            F.sum("n").cast("long").alias("n_events"),
        )
        .orderBy("h_bucket")
    )


# ---------------------------------------------------------------------------
# SES one-step-ahead RMSE grid search over alpha
# ---------------------------------------------------------------------------

def _ses_sql(alphas=(0.2, 0.4, 0.6, 0.8)) -> str:
    cols = []
    for a in alphas:
        d = round(1 - a, 1)
        tag = f"a{int(a*10):02d}"
        # decay weights as a shared literal list computed ONCE here:
        # POWER() drifts by ulps between engines (the adstock lesson),
        # a literal table cannot; lists are 1-based in DuckDB
        pw = "[" + ", ".join(repr(d ** k) for k in range(20)) + "]"
        cols.append(
            f"""ROUND(CAST(SUM(CAST(ROUND(rev_c
                        * ({pw})[lag + 1], 6)
                        AS DECIMAL(28,6))) AS DOUBLE)
                 / CAST(SUM(CAST(ROUND(({pw})[lag + 1], 6)
                        AS DECIMAL(28,6))) AS DOUBLE), 4) AS {tag}"""
        )
    fits = ",\n               ".join(cols)
    sse = ", ".join(
        f"""SUM(CAST(ROUND((CAST(nxt_c AS DOUBLE) - CAST(a{int(a*10):02d}
                    AS DOUBLE)) * (CAST(nxt_c AS DOUBLE)
                    - CAST(a{int(a*10):02d} AS DOUBLE)), 0)
             AS DECIMAL(38,0))) AS sse{int(a*10):02d}"""
        for a in alphas
    )
    return f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_c
        FROM orders GROUP BY 1
    ), tgt AS (
        SELECT a.day, b.rev_c AS nxt_c
        FROM daily a JOIN daily b ON b.day = a.day + 1
    ), win AS (
        SELECT t.day, t.nxt_c, t.day - w.day AS lag, w.rev_c
        FROM tgt t JOIN daily w ON w.day BETWEEN t.day - 19 AND t.day
    ), fit AS (
        SELECT day, CAST(MAX(nxt_c) AS BIGINT) AS nxt_c,
               {fits}
        FROM win GROUP BY day
    ), err AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_forecasts, {sse}
        FROM fit
    )
    SELECT n_forecasts,
           ROUND(SQRT(CAST(sse02 AS DOUBLE) / n_forecasts) / 100, 4)
               AS rmse_a02,
           ROUND(SQRT(CAST(sse04 AS DOUBLE) / n_forecasts) / 100, 4)
               AS rmse_a04,
           ROUND(SQRT(CAST(sse06 AS DOUBLE) / n_forecasts) / 100, 4)
               AS rmse_a06,
           ROUND(SQRT(CAST(sse08 AS DOUBLE) / n_forecasts) / 100, 4)
               AS rmse_a08,
           CAST(CASE WHEN sse02 <= sse04 AND sse02 <= sse06
                          AND sse02 <= sse08 THEN 0.2
                     WHEN sse04 <= sse06 AND sse04 <= sse08 THEN 0.4
                     WHEN sse06 <= sse08 THEN 0.6
                     ELSE 0.8 END AS DOUBLE) AS best_alpha
    FROM err
    """


@register("ses_gridsearch", _ses_sql())
def ses_gridsearch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple-exponential-smoothing model selection: the 20-day
    truncated EWMA level at alpha in {0.2, 0.4, 0.6, 0.8} forecasts
    the NEXT day's revenue; alpha is chosen by one-step-ahead SSE —
    time-series cross-validation as one declarative query.

    100 TB shape: the same calendar-bounded self-join as
    ewma_smoothed_revenue, with four weight columns ridden in one
    pass — adding grid points adds columns, not scans.  Determinism:
    decayed terms are 6-dp DECIMAL sums; each fitted level is rounded
    to 4 dp; squared errors round to integer cents^2 DECIMALs, so the
    argmin comparison is EXACT (ties break to the smaller alpha)."""
    orders = load_table(spark, sf_dir, "orders", parallel=True)
    daily = orders.groupBy(
        F.unix_date(F.to_date("o_orderdate")).cast("long").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c")
    ).localCheckpoint(eager=False)  # 3 consumers — scan+aggregate once
    nxt = daily.select(
        (F.col("day") - 1).alias("tday"), F.col("rev_c").alias("nxt_c")
    )
    tgt = daily.join(nxt, F.col("day") == F.col("tday")).select("day", "nxt_c")
    w = daily.select(
        F.col("day").alias("wday"), F.col("rev_c").alias("member_c")
    )
    win = tgt.join(
        w,
        (F.col("wday") >= F.col("day") - 19) & (F.col("wday") <= F.col("day")),
    ).select(
        "day", "nxt_c", (F.col("day") - F.col("wday")).alias("lag"), "member_c"
    )
    dec6 = lambda c: F.round(c, 6).cast("decimal(28,6)")  # noqa: E731
    aggs = [
        F.max("nxt_c").alias("nxt_c"),
    ]
    for a in (0.2, 0.4, 0.6, 0.8):
        d = round(1 - a, 1)
        # same literal weight table as the oracle (never engine POWER)
        decay = F.element_at(
            F.lit([d ** k for k in range(20)]),
            (F.col("lag") + 1).cast("int"),
        )
        tag = f"a{int(a*10):02d}"
        aggs.append(
            F.round(
                F.sum(dec6(F.col("member_c") * decay)).cast("double")
                / F.sum(dec6(decay)).cast("double"),
                4,
            ).alias(tag)
        )
    fit = win.groupBy("day").agg(*aggs)
    sses = [F.count(F.lit(1)).cast("long").alias("n_forecasts")]
    for a in (0.2, 0.4, 0.6, 0.8):
        tag = f"a{int(a*10):02d}"
        e = F.col("nxt_c").cast("double") - F.col(tag).cast("double")
        sses.append(
            F.sum(F.round(e * e, 0).cast("decimal(38,0)")).alias(
                f"sse{int(a*10):02d}"
            )
        )
    err = fit.agg(*sses)

    def rmse(tag: str):
        return F.round(
            F.sqrt(
                F.col(f"sse{tag}").cast("double") / F.col("n_forecasts")
            )
            / 100,
            4,
        ).alias(f"rmse_a{tag}")

    best = (
        F.when(
            (F.col("sse02") <= F.col("sse04"))
            & (F.col("sse02") <= F.col("sse06"))
            & (F.col("sse02") <= F.col("sse08")),
            0.2,
        )
        .when(
            (F.col("sse04") <= F.col("sse06"))
            & (F.col("sse04") <= F.col("sse08")),
            0.4,
        )
        .when(F.col("sse06") <= F.col("sse08"), 0.6)
        .otherwise(0.8)
    )
    return err.select(
        "n_forecasts",
        rmse("02"),
        rmse("04"),
        rmse("06"),
        rmse("08"),
        best.alias("best_alpha"),
    )


# ---------------------------------------------------------------------------
# Gini coefficient of the graph degree distribution
# ---------------------------------------------------------------------------

@register(
    "graph_degree_gini",
    """
    WITH ed AS (
        SELECT DISTINCT l_orderkey AS src, l_suppkey + 10000000 AS dst
        FROM lineitem WHERE l_orderkey % 50 = 0
    ), sym AS (
        SELECT src, dst FROM ed UNION SELECT dst AS src, src AS dst FROM ed
    ), deg AS (
        SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY src
    ), hist AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM deg GROUP BY d
    ), cross_h AS (
        SELECT CAST(SUM(a.c * b.c * ABS(a.d - b.d)) AS DECIMAL(38,0))
                   AS sum_absdiff
        FROM hist a CROSS JOIN hist b
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * d) AS BIGINT) AS sd
        FROM hist
    )
    SELECT n AS n_nodes,
           CAST(sd // n AS BIGINT) AS mean_degree_floor,
           ROUND(CAST(sum_absdiff AS DOUBLE)
                 / (2.0 * CAST(n AS DOUBLE) * CAST(sd AS DOUBLE)), 6)
               AS degree_gini
    FROM cross_h CROSS JOIN tot
    """,
)
def graph_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the order<->supplier graph's degree
    distribution: G = sum_{v,w} |d_v - d_w| / (2 n sum_d) — 0 for a
    regular graph, ->1 for hub-dominated ones; the one-number
    inequality summary behind degree_powerlaw_fit.

    100 TB shape: degrees are one edge aggregate; the |a-b| double sum
    runs over the DEGREE-VALUE HISTOGRAM (distinct degree values, not
    nodes), so the cross join is tiny at any graph size.
    Determinism: histogram products are exact DECIMAL; one division at
    emit."""
    lineitem = load_table(spark, sf_dir, "lineitem", parallel=True)
    # ed feeds both union arms and hist feeds three consumers (self
    # cross join sides + totals); unstaged, the final plan re-ran the
    # lineitem scan + distinct six times.  Two lazy checkpoints (ed is
    # the sampled edge list, hist is bounded by distinct degree
    # values) -> one scan.
    ed = (
        lineitem.where(F.col("l_orderkey") % 50 == 0)
        .select(
            F.col("l_orderkey").alias("src"),
            (F.col("l_suppkey") + 10_000_000).alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    sym = ed.union(
        ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("d"))
    hist = (
        deg.groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    hb = hist.select(F.col("d").alias("d2"), F.col("c").alias("c2"))
    cross_h = hist.crossJoin(F.broadcast(hb)).agg(
        F.sum(
            (F.col("c") * F.col("c2")).cast("decimal(38,0)")
            * F.abs(F.col("d") - F.col("d2"))
        ).alias("sum_absdiff")
    )
    tot = hist.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("d")).cast("long").alias("sd"),
    )
    return cross_h.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_nodes"),
        F.floor(F.col("sd") / F.col("n")).cast("long").alias(
            "mean_degree_floor"
        ),
        F.round(
            F.col("sum_absdiff").cast("double")
            / (F.lit(2.0) * F.col("n").cast("double") * F.col("sd").cast("double")),
            6,
        ).alias("degree_gini"),
    )
