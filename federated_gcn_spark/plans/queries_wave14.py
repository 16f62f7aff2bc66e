"""Round-4 wave 14: outlier testing, balanced-accuracy metrics,
mixture reweighting, and seasonal decomposition.

- ``grubbs_outlier_test``: Grubbs' maximum studentized deviate over
  daily revenue — argmax runs on the EXACT integer |n*x - S| so the
  outlier day can never flip on float noise.
- ``mcc_score``: Matthews correlation coefficient for the threshold
  rule quantity > 25 predicting returnflag R — the balanced
  single-number classifier summary (complements confusion_matrix /
  f1_metrics).
- ``temperature_mixture_weights``: temperature-scaled domain sampling
  weights w_i ~ p_i^tau for tau in {0.5, 0.7, 1.0} over document
  sources — the standard pretraining mixture-flattening knob.
- ``seasonal_decompose``: classical additive decomposition of daily
  revenue (centered 7-day moving-average trend, weekday seasonal
  means centered to zero) — the seasonality complement of
  weekday_seasonal_profile, which profiles raw levels.

Cross-engine determinism: tallies and argmax keys are exact integers;
per-term transcendentals (p^tau) and detrended residuals are rounded
to 12/6 dp into DECIMAL sums; emits are single divisions or fixed
double expressions.

Reference anchor: SURVEY.md §2.11 metrics family + §2.10 curation
(mixture weighting is the sampling-side twin of domain_mixture_sample).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from federated_gcn_spark.catalog import load_table
from federated_gcn_spark.plans.queries import register


# ---------------------------------------------------------------------------
# Grubbs' max studentized deviate on daily revenue
# ---------------------------------------------------------------------------

@register(
    "grubbs_outlier_test",
    """
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS x
        FROM orders GROUP BY 1
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s,
               SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS q
        FROM daily
    ), dev AS (
        SELECT d.day, d.x,
               ABS(CAST(t.n AS DECIMAL(38,0)) * d.x - t.s) AS dev_n,
               t.n, t.s, t.q
        FROM daily d CROSS JOIN tot t
    ), mx AS (
        SELECT MAX(dev_n) AS max_dev FROM dev
    )
    SELECT CAST(ANY_VALUE(d.n) AS BIGINT) AS n_days,
           CAST(MIN(CASE WHEN d.dev_n = m.max_dev THEN d.day END) AS BIGINT)
               AS outlier_day,
           ROUND(CAST(MIN(CASE WHEN d.dev_n = m.max_dev THEN d.x END)
                      AS DOUBLE) / 100, 2) AS outlier_revenue,
           ROUND((CAST(ANY_VALUE(m.max_dev) AS DOUBLE)
                  / CAST(ANY_VALUE(d.n) AS DOUBLE))
                 / SQRT(CAST(ANY_VALUE(d.n) * ANY_VALUE(d.q)
                             - CAST(ANY_VALUE(d.s) AS DECIMAL(38,0))
                               * CAST(ANY_VALUE(d.s) AS DECIMAL(38,0))
                        AS DOUBLE)
                        / (CAST(ANY_VALUE(d.n) AS DOUBLE)
                           * CAST(ANY_VALUE(d.n) AS DOUBLE))), 6) AS g_stat
    FROM dev d CROSS JOIN mx m
    """,
)
def grubbs_outlier_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' test statistic G = max|x - mean| / sd over daily
    revenue, with the offending day — the classic single-outlier
    screen.

    100 TB shape: one daily aggregate, one 3-number moment reduction,
    one scan for the argmax — nothing beyond the calendar-bounded
    series shuffles.  Determinism: the argmax key is the exact integer
    |n*x - S| (DECIMAL against overflow), so ties break on the exact
    value + smallest day; variance comes from exact power sums; G is
    one fixed double expression."""
    orders = load_table(spark, sf_dir, "orders", parallel=True)
    daily = orders.groupBy(
        F.unix_date(F.to_date("o_orderdate")).cast("long").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x")
    ).localCheckpoint(eager=False)
    xd = F.col("x").cast("decimal(38,0)")
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("s"),
        F.sum(xd * xd).alias("q"),
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "x",
        F.abs(
            F.col("n").cast("decimal(38,0)") * F.col("x") - F.col("s")
        ).alias("dev_n"),
        "n",
        "s",
        "q",
    )
    mx = dev.agg(F.max("dev_n").alias("max_dev"))
    j = dev.crossJoin(F.broadcast(mx))
    n = F.any_value(F.col("n"))
    var = (
        (
            n * F.any_value(F.col("q"))
            - F.any_value(F.col("s")).cast("decimal(38,0)")
            * F.any_value(F.col("s")).cast("decimal(38,0)")
        ).cast("double")
        / (n.cast("double") * n.cast("double"))
    )
    return j.agg(
        n.cast("long").alias("n_days"),
        F.min(
            F.when(F.col("dev_n") == F.col("max_dev"), F.col("day"))
        )
        .cast("long")
        .alias("outlier_day"),
        F.round(
            F.min(
                F.when(F.col("dev_n") == F.col("max_dev"), F.col("x"))
            ).cast("double")
            / 100,
            2,
        ).alias("outlier_revenue"),
        F.round(
            (F.any_value(F.col("max_dev")).cast("double") / n.cast("double"))
            / F.sqrt(var),
            6,
        ).alias("g_stat"),
    )


# ---------------------------------------------------------------------------
# Matthews correlation coefficient
# ---------------------------------------------------------------------------

@register(
    "mcc_score",
    """
    WITH s AS (
        SELECT CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS yhat,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    ), cm AS (
        SELECT CAST(SUM(y * yhat) AS BIGINT) AS tp,
               CAST(SUM((1 - y) * yhat) AS BIGINT) AS fp,
               CAST(SUM((1 - y) * (1 - yhat)) AS BIGINT) AS tn,
               CAST(SUM(y * (1 - yhat)) AS BIGINT) AS fn
        FROM s
    )
    SELECT tp, fp, tn, fn,
           ROUND(CAST(CAST(tp AS DECIMAL(38,0)) * tn
                      - CAST(fp AS DECIMAL(38,0)) * fn AS DOUBLE)
                 / SQRT(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
                        * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)),
                 6) AS mcc
    FROM cm
    """,
)
def mcc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient of the rule quantity > 25
    predicting returnflag R: MCC = (tp*tn - fp*fn) /
    sqrt((tp+fp)(tp+fn)(tn+fp)(tn+fn)) — the class-imbalance-robust
    single-number classifier summary (complements f1_metrics, which
    ignores true negatives).

    100 TB shape: one map-side-combined four-cell tally.
    Determinism: the numerator is an exact DECIMAL product; the
    denominator is a fixed double product + IEEE-exact SQRT."""
    lineitem = load_table(spark, sf_dir, "lineitem", parallel=True)
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    yhat = F.when(F.col("l_quantity") > 25, 1).otherwise(0)
    s = lineitem.select(y.alias("y"), yhat.alias("yhat"))
    cm = s.agg(
        F.sum(F.col("y") * F.col("yhat")).cast("long").alias("tp"),
        F.sum((1 - F.col("y")) * F.col("yhat")).cast("long").alias("fp"),
        F.sum((1 - F.col("y")) * (1 - F.col("yhat"))).cast("long").alias("tn"),
        F.sum(F.col("y") * (1 - F.col("yhat"))).cast("long").alias("fn"),
    )
    num = (
        F.col("tp").cast("decimal(38,0)") * F.col("tn")
        - F.col("fp").cast("decimal(38,0)") * F.col("fn")
    ).cast("double")
    den = F.sqrt(
        (F.col("tp") + F.col("fp")).cast("double")
        * (F.col("tp") + F.col("fn")).cast("double")
        * (F.col("tn") + F.col("fp")).cast("double")
        * (F.col("tn") + F.col("fn")).cast("double")
    )
    return cm.select(
        "tp", "fp", "tn", "fn", F.round(num / den, 6).alias("mcc")
    )


# ---------------------------------------------------------------------------
# Temperature-scaled domain mixture weights
# ---------------------------------------------------------------------------

@register(
    "temperature_mixture_weights",
    """
    WITH src AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    ), tot AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM src
    ), t AS (
        SELECT source, n_docs,
               CAST(ROUND(EXP(0.5 * LN(CAST(n_docs AS DOUBLE)
                                       / CAST(n AS DOUBLE))), 12)
                    AS DECIMAL(24,12)) AS t05,
               CAST(ROUND(EXP(0.7 * LN(CAST(n_docs AS DOUBLE)
                                       / CAST(n AS DOUBLE))), 12)
                    AS DECIMAL(24,12)) AS t07,
               CAST(ROUND(CAST(n_docs AS DOUBLE) / CAST(n AS DOUBLE), 12)
                    AS DECIMAL(24,12)) AS t10
        FROM src CROSS JOIN tot
    ), z AS (
        SELECT SUM(t05) AS z05, SUM(t07) AS z07, SUM(t10) AS z10 FROM t
    )
    SELECT source, n_docs,
           ROUND(CAST(t05 AS DOUBLE) / CAST(z05 AS DOUBLE), 8) AS w_tau05,
           ROUND(CAST(t07 AS DOUBLE) / CAST(z07 AS DOUBLE), 8) AS w_tau07,
           ROUND(CAST(t10 AS DOUBLE) / CAST(z10 AS DOUBLE), 8) AS w_tau10
    FROM t CROSS JOIN z
    ORDER BY source
    """,
)
def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per document source:
    w_i(tau) ~ p_i^tau renormalized, at tau = 0.5 / 0.7 / 1.0 — the
    standard knob for flattening a pretraining mixture toward rare
    domains (tau < 1 upweights the tail).

    100 TB shape: one source tally (a handful of rows), then scalar
    math — the corpus is scanned once for counts.  Determinism: each
    p^tau term is rounded to 12 dp into DECIMAL before the
    normalization sum (exact), and each weight is one single
    division."""
    documents = load_table(spark, sf_dir, "documents", parallel=True)
    # src (the one corpus-sized tally, a handful of rows) feeds the
    # total and the weight table; t feeds the normalizer and the emit —
    # unstaged, the corpus was counted four times.  Two lazy
    # checkpoints -> one scan.
    src = documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).localCheckpoint(eager=False)
    tot = src.agg(F.sum("n_docs").cast("long").alias("n"))
    p = F.col("n_docs").cast("double") / F.col("n").cast("double")

    def temp(tau: float):
        return F.round(F.exp(F.lit(tau) * F.log(p)), 12).cast(
            "decimal(24,12)"
        )

    t = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        temp(0.5).alias("t05"),
        temp(0.7).alias("t07"),
        F.round(p, 12).cast("decimal(24,12)").alias("t10"),
    ).localCheckpoint(eager=False)
    z = t.agg(
        F.sum("t05").alias("z05"),
        F.sum("t07").alias("z07"),
        F.sum("t10").alias("z10"),
    )
    return (
        t.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            F.round(
                F.col("t05").cast("double") / F.col("z05").cast("double"), 8
            ).alias("w_tau05"),
            F.round(
                F.col("t07").cast("double") / F.col("z07").cast("double"), 8
            ).alias("w_tau07"),
            F.round(
                F.col("t10").cast("double") / F.col("z10").cast("double"), 8
            ).alias("w_tau10"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Classical additive seasonal decomposition of daily revenue
# ---------------------------------------------------------------------------

@register(
    "seasonal_decompose",
    """
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_c
        FROM orders GROUP BY 1
    ), win AS (
        SELECT d.day, d.rev_c,
               CAST(COUNT(*) AS BIGINT) AS n_win,
               CAST(SUM(w.rev_c) AS BIGINT) AS s_win
        FROM daily d JOIN daily w ON w.day BETWEEN d.day - 3 AND d.day + 3
        GROUP BY d.day, d.rev_c
    ), detr AS (
        SELECT (day + 4) % 7 AS weekday,
               CAST(ROUND(CAST(rev_c AS DOUBLE)
                          - CAST(s_win AS DOUBLE) / 7.0, 6)
                    AS DECIMAL(38,6)) AS resid
        FROM win WHERE n_win = 7
    ), sea AS (
        SELECT weekday,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(resid) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS raw_s
        FROM detr GROUP BY weekday
    ), ctr AS (
        SELECT CAST(SUM(CAST(ROUND(raw_s, 6) AS DECIMAL(38,6))) AS DOUBLE)
                   / 7.0 AS grand
        FROM sea
    )
    SELECT weekday, n_days,
           ROUND((raw_s - grand) / 100, 4) AS seasonal,
           ROUND(raw_s / 100, 4) AS raw_weekday_effect
    FROM sea CROSS JOIN ctr
    ORDER BY weekday
    """,
)
def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of daily revenue:
    trend = centered 7-day moving average (full windows only),
    seasonal = per-weekday mean of the detrended series, centered so
    the seven components sum to zero.  weekday 0 = Monday (epoch day
    + 4 mod 7).

    100 TB shape: the corpus collapses to the daily aggregate; the MA
    is the calendar-bounded self-join (ewma precedent), and the
    seasonal means are a 7-row tally.  Determinism: residuals are
    rounded to 6 dp into DECIMAL sums; trend is an exact integer sum
    over exactly 7 members divided once; emits are fixed
    expressions."""
    orders = load_table(spark, sf_dir, "orders", parallel=True)
    daily = orders.groupBy(
        F.unix_date(F.to_date("o_orderdate")).cast("long").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c")
    ).localCheckpoint(eager=False)
    w = daily.select(
        F.col("day").alias("wday"), F.col("rev_c").alias("wrev")
    )
    win = (
        daily.join(
            w,
            (F.col("wday") >= F.col("day") - 3)
            & (F.col("wday") <= F.col("day") + 3),
        )
        .groupBy("day", "rev_c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_win"),
            F.sum("wrev").alias("s_win"),
        )
    )
    detr = win.filter(F.col("n_win") == 7).select(
        ((F.col("day") + 4) % 7).alias("weekday"),
        F.round(
            F.col("rev_c").cast("double")
            - F.col("s_win").cast("double") / 7.0,
            6,
        )
        .cast("decimal(38,6)")
        .alias("resid"),
    )
    sea = detr.groupBy("weekday").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        (
            F.sum("resid").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("raw_s"),
    )
    ctr = sea.agg(
        (
            F.sum(F.round(F.col("raw_s"), 6).cast("decimal(38,6)")).cast(
                "double"
            )
            / 7.0
        ).alias("grand")
    )
    return (
        sea.crossJoin(F.broadcast(ctr))
        .select(
            "weekday",
            "n_days",
            F.round((F.col("raw_s") - F.col("grand")) / 100, 4).alias(
                "seasonal"
            ),
            F.round(F.col("raw_s") / 100, 4).alias("raw_weekday_effect"),
        )
        .orderBy("weekday")
    )
