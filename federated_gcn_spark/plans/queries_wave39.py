"""Round-4 wave 39: distributed matching, dummy-variable inference,
product engagement ratios, and queueing what-ifs.

- ``handshake_matching_stats``: distributed maximal matching on the
  order-supplier graph via Israeli-Itai handshake rounds — every free
  vertex proposes to its min-hash free neighbor; mutual proposals
  marry; 6 rounds.  The symmetry-breaking sibling of Luby MIS
  (graph/matching.py), with every round replayed by the oracle.
- ``december_effect_regression``: OLS of daily revenue on (trend,
  December dummy) with the dummy coefficient's t-statistic from
  closed-form moments — the seasonality-lift inference query.
- ``dau_wau_stickiness``: DAU/WAU per ISO-ish week (mean daily
  actives over weekly actives) — the engagement ratio product teams
  track, from two tallies of the event stream.
- ``queueing_mmc_whatif``: M/M/c steady-state what-if — from the
  measured order arrival rate and a literal service rate, Erlang-C
  wait probability, Lq and Wq for c = 1..5 servers (bounded factorial
  sums, exact closed forms).

Cross-engine determinism: matching proposals are pure xxhash64
min-arguments with id tie-breaks; regression moments are exact
DECIMAL(38) with means cleared by n; stickiness is exact counts;
Erlang sums are <= 5 fixed terms.

Reference anchor: SURVEY.md §2.7 graph layer + §2.11 metrics; extends
mis_members / greedy_coloring_stats, linear_fit, new_vs_returning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from federated_gcn_spark.catalog import load_table
from federated_gcn_spark.plans.queries import _event_epoch_sec, register

_MATCH_ROUNDS = 6
_MMC_MU = 40.0  # literal service rate (orders/day per server)


# ---------------------------------------------------------------------------
# Handshake (Israeli-Itai) maximal matching
# ---------------------------------------------------------------------------

def _matching_oracle(rounds: int = _MATCH_ROUNDS) -> str:
    from federated_gcn_spark.plans.xxh64_sql import (
        hash_long_sql,
        to_signed64,
    )

    # proposal priority of an EDGE from u's perspective: hash of the
    # neighbor id (seed 42) with neighbor-id tie-break
    hn = to_signed64(hash_long_sql("e.dst", "42"))
    sql = """
    WITH ed AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS src, l_suppkey + 10000000 AS dst
        FROM lineitem WHERE l_orderkey % 50 = 0
    ), sym AS MATERIALIZED (
        SELECT src, dst FROM ed UNION SELECT dst AS src, src AS dst FROM ed
    ), free0 AS (
        SELECT DISTINCT src AS id FROM sym
    ), matched0 AS (
        SELECT CAST(NULL AS BIGINT) AS a, CAST(NULL AS BIGINT) AS b
        WHERE FALSE
    )"""
    for t in range(1, rounds + 1):
        p = t - 1
        sql += f""", prop{t} AS MATERIALIZED (
        SELECT e.src AS id, e.dst AS target
        FROM (
            SELECT e.src, e.dst,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.src ORDER BY ({hn}), e.dst
                   ) AS rk
            FROM sym e
            JOIN free{p} fa ON fa.id = e.src
            JOIN free{p} fb ON fb.id = e.dst
        ) e WHERE rk = 1
    ), marry{t} AS MATERIALIZED (
        SELECT a.id AS a, a.target AS b
        FROM prop{t} a JOIN prop{t} b
          ON b.id = a.target AND b.target = a.id AND a.id < a.target
    ), matched{t} AS MATERIALIZED (
        SELECT a, b FROM matched{p}
        UNION ALL SELECT a, b FROM marry{t}
    ), free{t} AS MATERIALIZED (
        SELECT f.id FROM free{p} f
        WHERE NOT EXISTS (SELECT 1 FROM marry{t} m
                          WHERE m.a = f.id OR m.b = f.id)
    )"""
    per_round = "\n        UNION ALL ".join(
        f"SELECT {t} AS round, CAST(COUNT(*) AS BIGINT) AS n_married "
        f"FROM marry{t}"
        for t in range(1, rounds + 1)
    )
    return sql + f"""
    SELECT CAST(round AS BIGINT) AS round, n_married,
           CAST(SUM(n_married) OVER (ORDER BY round) AS BIGINT)
               AS total_matched_pairs
    FROM ({per_round}) ORDER BY round
    """


@register("handshake_matching_stats", _matching_oracle())
def handshake_matching_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed maximal matching via Israeli-Itai handshake rounds
    on the mod-50 order-supplier graph: every FREE vertex proposes to
    its minimum-hash free neighbor; mutual proposals marry and leave;
    6 rounds.  Emits per-round marriages and the cumulative matching
    size — the conflict-free pairing primitive (device-to-aggregator
    assignment, co-scheduling) next to Luby MIS.

    100 TB shape: per round, one semi-join restriction of the edge
    list to free endpoints, one per-vertex min (window over each
    vertex's edges), one self-equi-join for mutuality — all vertex-id
    keyed with map-side combine; lineage cut per round.
    Determinism: proposals order by (xxhash64(neighbor), neighbor);
    the oracle replays every round."""
    from federated_gcn_spark.barrier import barrier
    from federated_gcn_spark.graph import Graph
    from federated_gcn_spark.plans.queries import _edges_mod50
    from pyspark.sql import Window

    edges = _edges_mod50(spark, sf_dir)
    sym = (
        Graph.from_edges(edges)
        .symmetrized_edges()
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # eager barriers (the count is unused): each round's lazy
    # checkpoints materialize inside its `free` job, below
    count = F.count(F.lit(1))
    free, _ = barrier(sym.select(F.col("src").alias("id")).distinct(), count)
    out = None
    total = 0  # driver-side running count is NOT used; kept distributed
    cum = None
    for t in range(1, _MATCH_ROUNDS + 1):
        act = sym.join(
            free.withColumnRenamed("id", "src"), "src", "left_semi"
        ).join(free.withColumnRenamed("id", "dst"), "dst", "left_semi")
        w = Window.partitionBy("src").orderBy(F.xxhash64("dst"), "dst")
        # prop (consumed by both sides of the mutuality self-join) and
        # marry (consumed by the per-round row AND the gone expansion)
        # are lazy checkpoints that materialize inside the round's one
        # eager barrier job (free, below) — 3 driver actions per round
        # collapse to 1; the loop's cost is scheduling latency, ~flat
        # in data, so jobs-per-round is the whole game.
        prop = (
            act.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select(F.col("src").alias("id"), F.col("dst").alias("target"))
        ).localCheckpoint(eager=False)
        b = prop.select(
            F.col("id").alias("bid"), F.col("target").alias("btarget")
        )
        marry = (
            prop.join(
                b,
                (F.col("bid") == F.col("target"))
                & (F.col("btarget") == F.col("id"))
                & (F.col("id") < F.col("target")),
            )
            .select(F.col("id").alias("a"), F.col("target").alias("bb"))
        ).localCheckpoint(eager=False)
        row = marry.agg(
            F.lit(t).cast("long").alias("round"),
            F.count(F.lit(1)).cast("long").alias("n_married"),
        ).select("round", "n_married")
        out = row if out is None else out.unionByName(row)
        if t == _MATCH_ROUNDS:
            break  # the final round's free set feeds nothing — skip it
        gone = (
            marry.select(F.col("a").alias("id"))
            .unionByName(marry.select(F.col("bb").alias("id")))
            .distinct()
        )
        free, _ = barrier(free.join(gone, "id", "left_anti"), count)
    from pyspark.sql import Window as W2

    wc = W2.orderBy("round")
    return out.select(
        "round",
        "n_married",
        F.sum("n_married").over(wc).cast("long").alias(
            "total_matched_pairs"
        ),
    ).orderBy("round")


# ---------------------------------------------------------------------------
# December-effect dummy regression with t-statistic
# ---------------------------------------------------------------------------

@register(
    "december_effect_regression",
    """
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS t,
               CASE WHEN CAST(strftime(o_orderdate, '%m') AS BIGINT) = 12
                    THEN 1 ELSE 0 END AS dec_flag,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS y
        FROM orders GROUP BY 1, 2
    ), m AS (
        SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
               SUM(CAST(t AS DECIMAL(38,0))) AS st,
               SUM(CAST(dec_flag AS DECIMAL(38,0))) AS sd,
               SUM(CAST(y AS DECIMAL(38,0))) AS sy,
               SUM(CAST(t AS DECIMAL(38,0)) * t) AS stt,
               SUM(CAST(dec_flag AS DECIMAL(38,0)) * dec_flag) AS sdd,
               SUM(CAST(t AS DECIMAL(38,0)) * dec_flag) AS std,
               SUM(CAST(t AS DECIMAL(38,0)) * y) AS sty,
               SUM(CAST(dec_flag AS DECIMAL(38,0)) * y) AS sdy,
               SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
        FROM daily
    ), c AS (
        SELECT CAST(n AS BIGINT) AS n,
               CAST(n * stt - st * st AS DOUBLE) AS ctt,
               CAST(n * sdd - sd * sd AS DOUBLE) AS cdd,
               CAST(n * std - st * sd AS DOUBLE) AS ctd,
               CAST(n * sty - st * sy AS DOUBLE) AS cty,
               CAST(n * sdy - sd * sy AS DOUBLE) AS cdy,
               CAST(n * syy - sy * sy AS DOUBLE) AS cyy
        FROM m
    ), fit AS (
        SELECT n, ctt, cdd, ctd, cyy,
               (cdd * cty - ctd * cdy) / (ctt * cdd - ctd * ctd) AS bt,
               (ctt * cdy - ctd * cty) / (ctt * cdd - ctd * ctd) AS bd,
               (cyy - (cdd * cty - ctd * cdy) / (ctt * cdd - ctd * ctd) * cty
                    - (ctt * cdy - ctd * cty) / (ctt * cdd - ctd * ctd) * cdy)
                   / n AS rss_n
        FROM c
    )
    SELECT n AS n_days,
           ROUND(bd / 100, 2) AS december_lift_eur,
           ROUND(bt / 100, 6) AS trend_eur_per_day,
           ROUND(bd / SQRT((rss_n / (n - 3)) * n * ctt
                           / (ctt * cdd - ctd * ctd)), 4) AS t_stat_december
    FROM fit
    """,
)
def december_effect_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dummy-variable OLS: daily revenue on (trend, is-December), with
    the December coefficient's t-statistic from the closed-form
    variance Var(bd) = sigma^2 * Ctt / (Ctt*Cdd - Ctd^2) — 'is there a
    December lift, and is it significant?' as one moment reduce.

    100 TB shape: one daily aggregate, one 10-number moment reduce,
    scalar algebra.  Determinism: moments exact DECIMAL(38) with
    means cleared by n; the solve and t-stat are fixed expressions."""
    orders = load_table(spark, sf_dir, "orders", parallel=True)
    daily = orders.groupBy(
        F.unix_date(F.to_date("o_orderdate")).cast("long").alias("t"),
        F.when(F.month("o_orderdate") == 12, 1).otherwise(0).alias(
            "dec_flag"
        ),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y")
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = daily.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(d("t")).alias("st"),
        F.sum(d("dec_flag")).alias("sd"),
        F.sum(d("y")).alias("sy"),
        F.sum(d("t") * F.col("t")).alias("stt"),
        F.sum(d("dec_flag") * F.col("dec_flag")).alias("sdd"),
        F.sum(d("t") * F.col("dec_flag")).alias("std"),
        F.sum(d("t") * F.col("y")).alias("sty"),
        F.sum(d("dec_flag") * F.col("y")).alias("sdy"),
        F.sum(d("y") * F.col("y")).alias("syy"),
    )
    cc = lambda ab, a, b: (  # noqa: E731
        (F.col("n") * F.col(ab) - F.col(a) * F.col(b)).cast("double")
    )
    c = m.select(
        F.col("n").cast("long").alias("n"),
        cc("stt", "st", "st").alias("ctt"),
        cc("sdd", "sd", "sd").alias("cdd"),
        cc("std", "st", "sd").alias("ctd"),
        cc("sty", "st", "sy").alias("cty"),
        cc("sdy", "sd", "sy").alias("cdy"),
        cc("syy", "sy", "sy").alias("cyy"),
    )
    det = F.col("ctt") * F.col("cdd") - F.col("ctd") * F.col("ctd")
    bt = (F.col("cdd") * F.col("cty") - F.col("ctd") * F.col("cdy")) / det
    bd = (F.col("ctt") * F.col("cdy") - F.col("ctd") * F.col("cty")) / det
    rss_n = (F.col("cyy") - bt * F.col("cty") - bd * F.col("cdy")) / F.col("n")
    tstat = bd / F.sqrt(
        (rss_n / (F.col("n") - 3)) * F.col("n") * F.col("ctt") / det
    )
    return c.select(
        F.col("n").alias("n_days"),
        F.round(bd / 100, 2).alias("december_lift_eur"),
        F.round(bt / 100, 6).alias("trend_eur_per_day"),
        F.round(tstat, 4).alias("t_stat_december"),
    )


# ---------------------------------------------------------------------------
# DAU / WAU stickiness per week
# ---------------------------------------------------------------------------

@register(
    "dau_wau_stickiness",
    """
    WITH ev AS (
        SELECT user_id, epoch_ns(ts) // 1000000000 // 86400 AS day
        FROM events
    ), daily AS (
        SELECT day // 7 AS week, day,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
        FROM ev GROUP BY day // 7, day
    ), weekly AS (
        SELECT day // 7 AS week,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        FROM ev GROUP BY day // 7
    ), per AS (
        SELECT d.week, CAST(COUNT(*) AS BIGINT) AS n_active_days,
               CAST(SUM(d.dau) AS BIGINT) AS dau_sum, MAX(w.wau) AS wau
        FROM daily d JOIN weekly w ON w.week = d.week
        GROUP BY d.week
    )
    SELECT CAST(week AS BIGINT) AS week, n_active_days, dau_sum, wau,
           ROUND(CAST(dau_sum AS DOUBLE) / n_active_days / wau, 6)
               AS stickiness
    FROM per ORDER BY week
    """,
)
def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per (epoch) week: mean daily active users
    over weekly active users — the engagement ratio (how many of this
    week's users show up on an average day?); 1/7 means one-visit
    users, 1.0 means everyone active daily.

    100 TB shape: two distinct-user tallies keyed by (week[, day]) —
    the events shuffle once per granularity; the ratio is scalar per
    week.  Determinism: exact distinct counts, one fixed emit."""
    events = load_table(spark, sf_dir, "events", parallel=True)
    day = (_event_epoch_sec(events) / 86400).cast("long")
    ev = events.select("user_id", day.alias("day")).withColumn(
        "week", F.floor(F.col("day") / 7).cast("long")
    )
    # one corpus-sized distinct serves both granularities: DAU is a
    # count over the (week, day, user) distinct set, WAU a distinct-user
    # count over the same set (a user active in a week is active on at
    # least one of its days) — instead of two independent fact shuffles
    wdu = ev.select("week", "day", "user_id").distinct().localCheckpoint(
        eager=False
    )
    daily = wdu.groupBy("week", "day").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    weekly = wdu.groupBy("week").agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    per = daily.join(weekly, "week").groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("n_active_days"),
        F.sum("dau").cast("long").alias("dau_sum"),
        F.max("wau").alias("wau"),
    )
    return per.select(
        F.col("week").cast("long").alias("week"),
        "n_active_days",
        "dau_sum",
        "wau",
        F.round(
            F.col("dau_sum").cast("double")
            / F.col("n_active_days")
            / F.col("wau"),
            6,
        ).alias("stickiness"),
    ).orderBy("week")


# ---------------------------------------------------------------------------
# M/M/c queueing what-if from the measured arrival rate
# ---------------------------------------------------------------------------

def _erlang_sql() -> str:
    # sum_{k=0..c-1} (a)^k / k!  for c up to 5, a = lambda/mu
    terms = []
    fact = 1
    for k in range(5):
        if k > 0:
            fact *= k
        terms.append(f"CASE WHEN {k} < c THEN POWER(a, {k}) / {fact} ELSE 0 END")
    return " + ".join(terms)


@register(
    "queueing_mmc_whatif",
    f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS t, CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ), rate AS (
        SELECT CAST(SUM(x) AS DOUBLE) / COUNT(*) AS lam FROM daily
    ), grid AS (
        SELECT c, lam, lam / {_MMC_MU} AS a, lam / (c * {_MMC_MU}) AS rho
        FROM rate CROSS JOIN (SELECT UNNEST(range(1, 6)) AS c)
    ), erl AS (
        SELECT c, lam, a, rho,
               CASE WHEN rho < 1 THEN
                   (POWER(a, c)
                    / CASE c WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 6
                             WHEN 4 THEN 24 ELSE 120 END
                    / (1 - rho))
                   / (({_erlang_sql()})
                      + POWER(a, c)
                        / CASE c WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 6
                                 WHEN 4 THEN 24 ELSE 120 END
                        / (1 - rho))
               END AS p_wait
        FROM grid
    )
    SELECT CAST(c AS BIGINT) AS servers,
           ROUND(lam, 4) AS arrival_per_day,
           ROUND(rho, 6) AS utilization,
           ROUND(p_wait, 6) AS erlang_c_wait_prob,
           ROUND(p_wait * rho / (1 - rho), 6) AS lq,
           ROUND(p_wait * rho / (1 - rho) / lam, 8) AS wq_days
    FROM erl WHERE rho < 1
    ORDER BY servers
    """,
)
def queueing_mmc_whatif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M/M/c steady-state what-if: with the measured order arrival
    rate (orders/day) and a literal per-server service rate of 40/day,
    the Erlang-C wait probability, queue length Lq and wait Wq for
    c = 1..5 servers (unstable rows rho >= 1 dropped) — capacity
    planning as one declarative query.

    100 TB shape: one scalar arrival-rate reduce; the grid is 5 fixed
    rows of closed-form algebra (factorials are literals).
    Determinism: every emit is a fixed expression of one measured
    double and literals."""
    orders = load_table(spark, sf_dir, "orders", parallel=True)
    daily = orders.groupBy(
        F.unix_date(F.to_date("o_orderdate")).cast("long").alias("t")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    rate = daily.agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("lam")
    )
    grid = rate.crossJoin(
        F.broadcast(spark.range(1, 6).select(F.col("id").alias("c")))
    ).select(
        "c",
        "lam",
        (F.col("lam") / _MMC_MU).alias("a"),
        (F.col("lam") / (F.col("c") * _MMC_MU)).alias("rho"),
    )
    fact = F.when(F.col("c") == 1, 1).when(F.col("c") == 2, 2).when(
        F.col("c") == 3, 6
    ).when(F.col("c") == 4, 24).otherwise(120)
    ssum = None
    f = 1
    for k in range(5):
        if k > 0:
            f *= k
        term = F.when(
            F.lit(k) < F.col("c"), F.pow(F.col("a"), float(k)) / float(f)
        ).otherwise(F.lit(0.0))
        ssum = term if ssum is None else ssum + term
    tail = F.pow(F.col("a"), F.col("c").cast("double")) / fact.cast(
        "double"
    ) / (1 - F.col("rho"))
    p_wait = tail / (ssum + tail)
    lq = p_wait * F.col("rho") / (1 - F.col("rho"))
    return (
        grid.where(F.col("rho") < 1)
        .select(
            F.col("c").cast("long").alias("servers"),
            F.round(F.col("lam"), 4).alias("arrival_per_day"),
            F.round(F.col("rho"), 6).alias("utilization"),
            F.round(p_wait, 6).alias("erlang_c_wait_prob"),
            F.round(lq, 6).alias("lq"),
            F.round(lq / F.col("lam"), 8).alias("wq_days"),
        )
        .orderBy("servers")
    )
