"""Round-4 wave 35: omnibus normality, iterative outlier rounds,
clustering agreement, and quantile-quantile drift.

- ``dagostino_k2``: the D'Agostino-Pearson K^2 omnibus normality test
  on order prices — the finite-sample-corrected skewness and kurtosis
  z-transforms (Z1, Z2) and K^2 = Z1^2 + Z2^2; the refined sibling of
  jarque_bera_price.
- ``esd_outlier_rounds``: 5 rounds of the generalized extreme
  studentized deviate (ESD) procedure on daily revenue — each round
  removes the most extreme day and reports its R statistic; the
  multi-outlier-safe version of grubbs_outlier_test.
- ``nmi_lang_source``: mutual information and normalized MI between
  the documents' lang and source labels — the agreement score used to
  grade any clustering against a reference partition.
- ``qq_deciles_halves``: the decile Q-Q table between the two order
  halves (exact order statistics per half) — the quantile-level drift
  view that PSI/KS/CvM summarize away.

Cross-engine determinism: raw power sums are per-term 2-dp-rounded
DECIMAL sums of identical doubles (x^4 included); ESD argmax compares
exact integers |n*x - S| with day tie-breaks; MI terms round to 12 dp
per bounded cell; decile ranks select exact values.

Reference anchor: SURVEY.md §2.11 metrics family; extends
jarque_bera_price (wave10), grubbs_outlier_test (wave14),
contingency_association, ks_two_sample_price.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from federated_gcn_spark.catalog import load_table
from federated_gcn_spark.plans.queries import register

# ---------------------------------------------------------------------------
# D'Agostino-Pearson K^2 omnibus test
# ---------------------------------------------------------------------------

_DAG_MOMENTS_SQL = """
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(38,2))) AS s1,
               SUM(CAST(ROUND(o_totalprice * o_totalprice, 2)
                        AS DECIMAL(38,2))) AS s2,
               SUM(CAST(ROUND(o_totalprice * o_totalprice * o_totalprice, 2)
                        AS DECIMAL(38,2))) AS s3,
               SUM(CAST(ROUND(o_totalprice * o_totalprice * o_totalprice
                              * o_totalprice, 2) AS DECIMAL(38,2))) AS s4
        FROM orders
"""

_DAG_BODY_SQL = """
        SELECT n,
               CAST(s1 AS DOUBLE) / n AS mu,
               CAST(s2 AS DOUBLE) / n
                 - POWER(CAST(s1 AS DOUBLE) / n, 2) AS m2,
               CAST(s3 AS DOUBLE) / n
                 - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
                 + 2 * POWER(CAST(s1 AS DOUBLE) / n, 3) AS m3,
               CAST(s4 AS DOUBLE) / n
                 - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
                 + 6 * POWER(CAST(s1 AS DOUBLE) / n, 2)
                     * (CAST(s2 AS DOUBLE) / n)
                 - 3 * POWER(CAST(s1 AS DOUBLE) / n, 4) AS m4
        FROM mom
"""


@register(
    "dagostino_k2",
    f"""
    WITH mom AS ({_DAG_MOMENTS_SQL}),
    cm AS ({_DAG_BODY_SQL}),
    g AS (
        SELECT n, m3 / POWER(m2, 1.5) AS g1, m4 / (m2 * m2) - 3 AS g2
        FROM cm
    ), skew AS (
        SELECT n, g1, g2,
               g1 * SQRT((CAST(n AS DOUBLE) + 1) * (n + 3)
                         / (6.0 * (n - 2))) AS y,
               3.0 * (CAST(n AS DOUBLE) * n + 27 * n - 70) * (n + 1) * (n + 3)
               / ((CAST(n AS DOUBLE) - 2) * (n + 5) * (n + 7) * (n + 9))
                   AS b2
        FROM g
    ), z1c AS (
        SELECT n, g1, g2, y,
               SQRT(2 * (b2 - 1)) - 1 AS w2
        FROM skew
    ), z1 AS (
        SELECT n, g1, g2,
               LN(y / SQRT(2 / (w2 - 1))
                  + SQRT(POWER(y / SQRT(2 / (w2 - 1)), 2) + 1))
               / SQRT(LN(SQRT(w2))) AS z1
        FROM z1c
    ), kurt AS (
        SELECT n, g1, g2, z1,
               (g2 - (-6.0 + 3.0 * (n + 1)) / (n + 1) * 1.0) AS unused,
               (g2 - 3.0 * (CAST(n AS DOUBLE) - 1) / (n + 1) + 3 - 3)
               / SQRT(24.0 * n * (n - 2) * (n - 3)
                      / (POWER(CAST(n AS DOUBLE) + 1, 2) * (n + 3) * (n + 5)))
                   AS x,
               6.0 * (CAST(n AS DOUBLE) * n - 5 * n + 2) / ((n + 7) * (n + 9))
               * SQRT(6.0 * (n + 3) * (n + 5)
                      / (CAST(n AS DOUBLE) * (n - 2) * (n - 3))) AS b1
        FROM z1
    ), aa AS (
        SELECT n, g1, g2, z1, x,
               6.0 + 8.0 / b1 * (2.0 / b1 + SQRT(1 + 4.0 / (b1 * b1))) AS a
        FROM kurt
    ), z2 AS (
        SELECT n, g1, g2, z1,
               ((1 - 2.0 / (9 * a))
                - SIGN((1 - 2.0 / a) / (1 + x * SQRT(2.0 / (a - 4))))
                  * POWER(ABS((1 - 2.0 / a)
                              / (1 + x * SQRT(2.0 / (a - 4)))),
                          1.0 / 3)) / SQRT(2.0 / (9 * a)) AS z2
        FROM aa
    )
    SELECT n AS n_rows,
           ROUND(g1, 6) AS skewness,
           ROUND(g2, 6) AS excess_kurtosis,
           ROUND(z1, 4) AS z_skew,
           ROUND(z2, 4) AS z_kurt,
           ROUND(z1 * z1 + z2 * z2, 4) AS k2_stat
    FROM z2
    """,
)
def dagostino_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Agostino-Pearson K^2 omnibus normality test on order prices:
    the finite-sample skewness transform Z1 (Johnson SU) and kurtosis
    transform Z2 (Anscombe-Glynn), combined as K^2 = Z1^2 + Z2^2 —
    the refined, n-corrected sibling of jarque_bera_price (which uses
    the asymptotic chi-square form).

    100 TB shape: one 5-number moment reduce (x^4 rides the same
    pass), then scalar algebra.  Determinism: raw power sums are
    2-dp-rounded DECIMAL sums of identical doubles; everything after
    is one fixed IEEE expression chain."""
    orders = load_table(spark, sf_dir, "orders", parallel=True)
    x = F.col("o_totalprice")

    def dsum(expr):
        return F.sum(F.round(expr, 2).cast("decimal(38,2)"))

    mom = orders.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum(x).alias("s1"),
        dsum(x * x).alias("s2"),
        dsum(x * x * x).alias("s3"),
        dsum(x * x * x * x).alias("s4"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / nd
    r2 = F.col("s2").cast("double") / nd
    r3 = F.col("s3").cast("double") / nd
    r4 = F.col("s4").cast("double") / nd
    m2 = r2 - mu * mu
    m3 = r3 - 3 * mu * r2 + 2 * mu * mu * mu
    m4 = r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu * mu * mu * mu
    g1 = m3 / F.pow(m2, 1.5)
    g2 = m4 / (m2 * m2) - 3
    y = g1 * F.sqrt((nd + 1) * (nd + 3) / (6.0 * (nd - 2)))
    b2 = (
        3.0
        * (nd * nd + 27 * nd - 70)
        * (nd + 1)
        * (nd + 3)
        / ((nd - 2) * (nd + 5) * (nd + 7) * (nd + 9))
    )
    w2 = F.sqrt(2 * (b2 - 1)) - 1
    alpha = F.sqrt(2 / (w2 - 1))
    z1 = F.log(y / alpha + F.sqrt(F.pow(y / alpha, 2) + 1)) / F.sqrt(
        F.log(F.sqrt(w2))
    )
    xk = (g2 - 3.0 * (nd - 1) / (nd + 1) + 3 - 3) / F.sqrt(
        24.0 * nd * (nd - 2) * (nd - 3) / (F.pow(nd + 1, 2) * (nd + 3) * (nd + 5))
    )
    b1 = (
        6.0
        * (nd * nd - 5 * nd + 2)
        / ((nd + 7) * (nd + 9))
        * F.sqrt(6.0 * (nd + 3) * (nd + 5) / (nd * (nd - 2) * (nd - 3)))
    )
    a = 6.0 + 8.0 / b1 * (2.0 / b1 + F.sqrt(1 + 4.0 / (b1 * b1)))
    base = (1 - 2.0 / a) / (1 + xk * F.sqrt(2.0 / (a - 4)))
    # signed cube root (scipy's kurtosistest convention) — a plain
    # POWER(negative, 1/3) is NaN in both engines
    z2 = ((1 - 2.0 / (9 * a)) - F.signum(base) * F.pow(F.abs(base), 1.0 / 3)) / F.sqrt(
        2.0 / (9 * a)
    )
    return mom.select(
        F.col("n").alias("n_rows"),
        F.round(g1, 6).alias("skewness"),
        F.round(g2, 6).alias("excess_kurtosis"),
        F.round(z1, 4).alias("z_skew"),
        F.round(z2, 4).alias("z_kurt"),
        F.round(z1 * z1 + z2 * z2, 4).alias("k2_stat"),
    )


# ---------------------------------------------------------------------------
# Generalized ESD outlier rounds
# ---------------------------------------------------------------------------

_ESD_ROUNDS = 5

_ESD_DAILY_SQL = """
        SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS y
        FROM orders GROUP BY 1
"""


def _esd_oracle(rounds: int = _ESD_ROUNDS) -> str:
    sql = f"""
    WITH rem0 AS MATERIALIZED ({_ESD_DAILY_SQL})"""
    picks = []
    for i in range(1, rounds + 1):
        p = i - 1
        sql += f""", st{i} AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               SUM(CAST(y AS DECIMAL(38,0)) * y) AS q
        FROM rem{p}
    ), pick{i} AS MATERIALIZED (
        SELECT day, y,
               ABS(CAST(st{i}.n AS DECIMAL(38,0)) * y - st{i}.s) AS dev,
               st{i}.n, st{i}.s, st{i}.q
        FROM rem{p}, st{i}
        ORDER BY ABS(CAST(st{i}.n AS DECIMAL(38,0)) * y - st{i}.s) DESC, day
        LIMIT 1
    ), rem{i} AS MATERIALIZED (
        SELECT r.day, r.y FROM rem{p} r
        WHERE r.day <> (SELECT day FROM pick{i})
    )"""
        picks.append(
            f"""SELECT {i} AS round, day AS removed_day,
               ROUND(CAST(y AS DOUBLE) / 100, 2) AS value_eur,
               ROUND((CAST(dev AS DOUBLE) / n)
                     / SQRT((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                            / (CAST(n AS DOUBLE) * (n - 1))) / 100 * 100, 4)
                   AS r_stat
        FROM pick{i}"""
        )
    allp = "\n        UNION ALL ".join(picks)
    return sql + f"""
    SELECT CAST(round AS BIGINT) AS round, CAST(removed_day AS BIGINT)
               AS removed_day, value_eur, r_stat
    FROM ({allp}) ORDER BY round
    """


@register("esd_outlier_rounds", _esd_oracle())
def esd_outlier_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized ESD outlier procedure on daily revenue: 5 rounds,
    each removing the day with the largest |x - mean| of the REMAINING
    set and reporting R_i = |x - mean| / sd — the multi-outlier-safe
    extension of grubbs_outlier_test (which a second outlier can
    mask).

    100 TB shape: runs on the calendar-bounded daily aggregate; each
    round is a 3-number moment reduce plus a TakeOrdered(1) by the
    exact integer deviation |n*x - S| (day tie-break) — never a sort.
    Determinism: argmax compares exact DECIMAL integers; R_i is one
    fixed expression per round."""
    from federated_gcn_spark.barrier import barrier

    orders = load_table(spark, sf_dir, "orders", parallel=True)
    rem = orders.groupBy(
        F.unix_date(F.to_date("o_orderdate")).cast("long").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y")
    )
    # Fixed round count, no driver probe: the whole peel chain is lazy
    # (stats-cut barriers + lazy argmax checkpoints), materialized by
    # the query's single final action — each round's rem/pick caches on
    # first computation and is shared by its 2-3 consumers.  Zero
    # per-round driver jobs.
    rem = barrier(rem)
    out = None
    for i in range(1, _ESD_ROUNDS + 1):
        st = rem.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("s"),
            F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("q"),
        )
        dev = F.abs(
            F.col("n").cast("decimal(38,0)") * F.col("y") - F.col("s")
        )
        pick = (
            rem.crossJoin(F.broadcast(st))
            .withColumn("dev", dev)
            .orderBy(F.col("dev").desc(), "day")
            .limit(1)
            .localCheckpoint(eager=False)
        )
        nd = F.col("n").cast("double")
        sd = F.sqrt(
            (nd * F.col("q").cast("double") - F.col("s").cast("double")
             * F.col("s").cast("double"))
            / (nd * (F.col("n") - 1))
        )
        row = pick.select(
            F.lit(i).cast("long").alias("round"),
            F.col("day").cast("long").alias("removed_day"),
            F.round(F.col("y").cast("double") / 100, 2).alias("value_eur"),
            F.round(
                (F.col("dev").cast("double") / F.col("n")) / sd / 100 * 100, 4
            ).alias("r_stat"),
        )
        out = row if out is None else out.unionByName(row)
        rem = barrier(
            rem.join(pick.select("day"), "day", "left_anti")
        )
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# Normalized mutual information between lang and source
# ---------------------------------------------------------------------------

@register(
    "nmi_lang_source",
    """
    WITH cell AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY lang, source
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n FROM cell
    ), marg_l AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS cl FROM cell GROUP BY lang
    ), marg_s AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS cs FROM cell GROUP BY source
    ), mi AS (
        SELECT SUM(CAST(ROUND((CAST(c.c AS DOUBLE) / t.n)
                   * LN(CAST(c.c AS DOUBLE) * t.n
                        / (CAST(l.cl AS DOUBLE) * s.cs)), 12)
                   AS DECIMAL(24,12))) AS mi_nats
        FROM cell c
        JOIN marg_l l USING (lang)
        JOIN marg_s s USING (source)
        CROSS JOIN tot t
    ), hl AS (
        SELECT SUM(CAST(ROUND(-(CAST(cl AS DOUBLE) / t.n)
                              * LN(CAST(cl AS DOUBLE) / t.n), 12)
                        AS DECIMAL(24,12))) AS h
        FROM marg_l CROSS JOIN tot t
    ), hs AS (
        SELECT SUM(CAST(ROUND(-(CAST(cs AS DOUBLE) / t.n)
                              * LN(CAST(cs AS DOUBLE) / t.n), 12)
                        AS DECIMAL(24,12))) AS h
        FROM marg_s CROSS JOIN tot t
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cell) AS n_cells,
           ROUND(CAST(mi.mi_nats AS DOUBLE), 6) AS mi_nats,
           ROUND(CAST(hl.h AS DOUBLE), 6) AS h_lang,
           ROUND(CAST(hs.h AS DOUBLE), 6) AS h_source,
           ROUND(CAST(mi.mi_nats AS DOUBLE)
                 / SQRT(CAST(hl.h AS DOUBLE) * CAST(hs.h AS DOUBLE)), 6)
               AS nmi
    FROM mi CROSS JOIN hl CROSS JOIN hs
    """,
)
def nmi_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information and normalized MI (geometric-mean
    normalization) between the documents' lang and source labels —
    the partition-agreement score used to grade clusterings against a
    reference labeling (here: how much does knowing the source tell
    you about the language?).

    100 TB shape: one bounded contingency tally (|langs| x |sources|),
    marginals derived from it, transcendentals per CELL.
    Determinism: counts exact; MI/entropy terms round to 12 dp into
    exact DECIMAL sums; NMI is one fixed expression."""
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    cell = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=True)
    tot = cell.agg(F.sum("c").cast("long").alias("n"))
    ml = cell.groupBy("lang").agg(F.sum("c").cast("long").alias("cl"))
    ms = cell.groupBy("source").agg(F.sum("c").cast("long").alias("cs"))
    j = (
        cell.join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .crossJoin(F.broadcast(tot))
    )
    nd = F.col("n").cast("double")
    mi_term = F.round(
        (F.col("c").cast("double") / nd)
        * F.log(
            F.col("c").cast("double")
            * nd
            / (F.col("cl").cast("double") * F.col("cs"))
        ),
        12,
    ).cast("decimal(24,12)")
    mi = j.agg(F.sum(mi_term).cast("double").alias("mi_nats"))

    def entropy(marg: DataFrame, cnt: str):
        jj = marg.crossJoin(F.broadcast(tot))
        t = F.round(
            -(F.col(cnt).cast("double") / nd)
            * F.log(F.col(cnt).cast("double") / nd),
            12,
        ).cast("decimal(24,12)")
        return jj.agg(F.sum(t).cast("double").alias("h"))

    hl = entropy(ml, "cl").select(F.col("h").alias("h_lang"))
    hs = entropy(ms, "cs").select(F.col("h").alias("h_source"))
    ncells = cell.agg(F.count(F.lit(1)).cast("long").alias("n_cells"))
    out = (
        ncells.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hs))
    )
    return out.select(
        "n_cells",
        F.round(F.col("mi_nats"), 6).alias("mi_nats"),
        F.round(F.col("h_lang"), 6).alias("h_lang"),
        F.round(F.col("h_source"), 6).alias("h_source"),
        F.round(
            F.col("mi_nats") / F.sqrt(F.col("h_lang") * F.col("h_source")), 6
        ).alias("nmi"),
    )


# ---------------------------------------------------------------------------
# Decile Q-Q table between the order halves
# ---------------------------------------------------------------------------

@register(
    "qq_deciles_halves",
    """
    WITH o AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey % 2 AS half
        FROM orders
    ), ranked AS (
        SELECT half, cents,
               ROW_NUMBER() OVER (PARTITION BY half ORDER BY cents) AS rn,
               COUNT(*) OVER (PARTITION BY half) AS n
        FROM o
    ), q AS (
        SELECT r.half, d.d / 10.0 AS q, r.cents
        FROM (SELECT UNNEST(range(1, 10)) AS d) d
        JOIN ranked r ON r.rn = CAST(CEIL(d.d / 10.0 * r.n) AS BIGINT)
    )
    SELECT a.q AS quantile,
           ROUND(CAST(a.cents AS DOUBLE) / 100, 2) AS even_value,
           ROUND(CAST(b.cents AS DOUBLE) / 100, 2) AS odd_value,
           ROUND(CAST(b.cents - a.cents AS DOUBLE) / 100, 2) AS qq_gap
    FROM q a JOIN q b ON b.q = a.q AND a.half = 0 AND b.half = 1
    ORDER BY quantile
    """,
)
def qq_deciles_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile Q-Q table between the even/odd order halves: the exact
    decile values (rank = ceil(q*n) order statistics) of each half
    side by side with their gap — the quantile-resolved drift view
    that a single KS/CvM/PSI number summarizes away.

    100 TB shape: per-half deciles; the oracle's window spelling sorts
    each half fully, while the Spark side selects each decile through
    the two-pass bounded histogram (operators/stats machinery) — the
    VALUES are identical, the plan scales.  Determinism: deciles are
    SELECTED exact integers."""
    from federated_gcn_spark.operators.stats import (
        exact_quantile_values_by_group,
    )

    orders = load_table(spark, sf_dir, "orders", parallel=True).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderkey") % 2).alias("half"),
    ).localCheckpoint(eager=True)
    # both halves in ONE shared three-job selection (the per-half loop
    # paid ~4 sequential driver jobs per half for identical values)
    ks_by_half: dict = {}

    def _deciles(h, n):
        ks_by_half[h] = [-(-d * n // 10) for d in range(1, 10)]  # ceil
        return ks_by_half[h]

    got = exact_quantile_values_by_group(orders, "half", "cents", _deciles)
    halves = {}
    for h in (0, 1):
        halves[h] = [
            (d / 10.0, float(got[h][k]))
            for d, k in zip(range(1, 10), ks_by_half[h])
        ]
    rows = [
        (q, ev / 100.0, ov / 100.0, round((ov - ev) / 100.0, 2))
        for (q, ev), (_, ov) in zip(halves[0], halves[1])
    ]
    return spark.createDataFrame(
        [(q, round(ev, 2), round(ov, 2), gap) for q, ev, ov, gap in rows],
        "quantile double, even_value double, odd_value double, qq_gap double",
    ).orderBy("quantile")
