"""Round-4 wave 38: revenue decomposition, media decay, inventory
decisions, and a declarative spectral step.

- ``revenue_bridge_decomposition``: the FP&A price/volume/mix bridge —
  the revenue change between the two calendar halves decomposed per
  part type into price effect (Δprice x old volume), volume effect
  (Δvolume x old price) and the joint term, tying exactly to the
  total delta.
- ``adstock_grid_fit``: geometric ad-stock (carryover) transform of
  daily order COUNT at decay in {0.3, 0.5, 0.7, 0.9} (20-day
  truncated convolution — the ses_gridsearch window trick), graded by
  Pearson correlation with next-day revenue; best decay by exact
  argmax.
- ``newsvendor_stock_levels``: the newsvendor quantile rule — per
  part-type daily-demand distribution, stock at the critical ratio
  cu/(cu+co) quantile (exact order statistics); emits the optimal
  stock and its empirical service level.
- ``power_iteration_top_pc``: the top principal component of the
  embedding covariance matrix via 15 power-iteration supersteps run
  as single-row array expressions after the one Gram pass — the
  SQL-expressible spectral twin of the LAPACK-backed pca_variance
  (rows-only), so the dominant eigenpair is hash-checked cross-engine.

Cross-engine determinism: bridge terms are exact integer cents
tallies; ad-stock weights are shared 1e12-scaled integer literals
(POWER() drifts by ulps between engines) with exact DECIMAL moments;
newsvendor quantiles are SELECTED values;
power-iteration terms round to 9 dp per (i,j) entry with L-infinity
normalization (argmax |v| ties by index).

Reference anchor: SURVEY.md §2.11; extends laspeyres_paasche_index,
ses_gridsearch, pinball_quantile_eval, covariance_matrix/pca_variance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from federated_gcn_spark.catalog import load_table
from federated_gcn_spark.plans.queries import register

_ADSTOCK_DECAYS = (0.3, 0.5, 0.7, 0.9)
_ADSTOCK_TERMS = 20
_NV_CU, _NV_CO = 4.0, 1.0  # underage vs overage cost -> q* = 0.8
_PI_STEPS = 15
_PI_DIM = 64


# ---------------------------------------------------------------------------
# Price / volume / mix revenue bridge
# ---------------------------------------------------------------------------

@register(
    "revenue_bridge_decomposition",
    """
    WITH li AS (
        SELECT p.p_type AS ptype,
               CASE WHEN date_diff('day', DATE '1970-01-01',
                                   CAST(l.l_shipdate AS DATE))
                         <= (SELECT (MIN(x) + MAX(x)) // 2 FROM (
                                SELECT date_diff('day', DATE '1970-01-01',
                                       CAST(l_shipdate AS DATE)) AS x
                                FROM lineitem))
                    THEN 0 ELSE 1 END AS half,
               CAST(l.l_quantity AS BIGINT) AS qty,
               CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), per AS (
        SELECT ptype, half, CAST(SUM(qty) AS BIGINT) AS q,
               CAST(SUM(cents) AS BIGINT) AS r
        FROM li GROUP BY ptype, half
    ), wide AS (
        SELECT ptype,
               COALESCE(MAX(CASE WHEN half = 0 THEN q END), 0) AS q0,
               COALESCE(MAX(CASE WHEN half = 0 THEN r END), 0) AS r0,
               COALESCE(MAX(CASE WHEN half = 1 THEN q END), 0) AS q1,
               COALESCE(MAX(CASE WHEN half = 1 THEN r END), 0) AS r1
        FROM per GROUP BY ptype
    )
    SELECT ptype,
           ROUND(CAST(r1 - r0 AS DOUBLE) / 100, 2) AS delta_revenue,
           ROUND(CASE WHEN q0 > 0 AND q1 > 0
                 THEN (CAST(r1 AS DOUBLE) / q1 - CAST(r0 AS DOUBLE) / q0)
                      * q0 / 100 ELSE 0 END, 2) AS price_effect,
           ROUND(CASE WHEN q0 > 0
                 THEN CAST(q1 - q0 AS DOUBLE)
                      * (CAST(r0 AS DOUBLE) / q0) / 100
                 ELSE CAST(r1 AS DOUBLE) / 100 END, 2) AS volume_effect,
           ROUND(CASE WHEN q0 > 0 AND q1 > 0
                 THEN (CAST(r1 AS DOUBLE) / q1 - CAST(r0 AS DOUBLE) / q0)
                      * (q1 - q0) / 100 ELSE 0 END, 2) AS joint_effect
    FROM wide
    ORDER BY ptype
    """,
)
def revenue_bridge_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Price/volume/mix revenue bridge per part type between the two
    calendar halves: delta = price effect + volume effect + joint term
    (the Laspeyres-decomposition identity holds exactly by
    construction) — the FP&A 'why did revenue move?' query.

    100 TB shape: one (type, half) tally off a broadcast part dim;
    the decomposition is scalar per type.  Determinism: quantities
    and cents are exact integers; unit prices are single divisions
    inside fixed emit expressions."""
    lineitem = load_table(spark, sf_dir, "lineitem", parallel=True)
    part = load_table(spark, sf_dir, "part")
    day = F.unix_date(F.to_date("l_shipdate")).cast("long")
    bounds = lineitem.agg(
        F.floor((F.min(day) + F.max(day)) / 2).cast("long").alias("mid")
    )
    li = (
        lineitem.crossJoin(F.broadcast(bounds))
        .join(
            F.broadcast(part.select("p_partkey", "p_type")),
            lineitem.l_partkey == F.col("p_partkey"),
        )
        .select(
            F.col("p_type").alias("ptype"),
            F.when(day <= F.col("mid"), 0).otherwise(1).alias("half"),
            F.col("l_quantity").cast("long").alias("qty"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias(
                "cents"
            ),
        )
    )
    per = li.groupBy("ptype", "half").agg(
        F.sum("qty").cast("long").alias("q"),
        F.sum("cents").cast("long").alias("r"),
    )
    wide = per.groupBy("ptype").agg(
        F.coalesce(F.max(F.when(F.col("half") == 0, F.col("q"))), F.lit(0)).alias("q0"),
        F.coalesce(F.max(F.when(F.col("half") == 0, F.col("r"))), F.lit(0)).alias("r0"),
        F.coalesce(F.max(F.when(F.col("half") == 1, F.col("q"))), F.lit(0)).alias("q1"),
        F.coalesce(F.max(F.when(F.col("half") == 1, F.col("r"))), F.lit(0)).alias("r1"),
    )
    p0 = F.col("r0").cast("double") / F.col("q0")
    p1 = F.col("r1").cast("double") / F.col("q1")
    both = (F.col("q0") > 0) & (F.col("q1") > 0)
    return wide.select(
        "ptype",
        F.round((F.col("r1") - F.col("r0")).cast("double") / 100, 2).alias(
            "delta_revenue"
        ),
        F.round(
            F.when(both, (p1 - p0) * F.col("q0") / 100).otherwise(0.0), 2
        ).alias("price_effect"),
        F.round(
            F.when(
                F.col("q0") > 0,
                (F.col("q1") - F.col("q0")).cast("double") * p0 / 100,
            ).otherwise(F.col("r1").cast("double") / 100),
            2,
        ).alias("volume_effect"),
        F.round(
            F.when(both, (p1 - p0) * (F.col("q1") - F.col("q0")) / 100)
            .otherwise(0.0),
            2,
        ).alias("joint_effect"),
    ).orderBy("ptype")


# ---------------------------------------------------------------------------
# Geometric ad-stock grid fit
# ---------------------------------------------------------------------------

def _adstock_pw_rows():
    """(decay, lag, scaled weight) — the 80 geometric weights
    round(decay^lag * 1e9), computed ONCE driver-side and injected as
    integer literals into BOTH engines: POWER() is a transcendental the
    two engines evaluate with different ulp error (observed: a 1-ulp
    pow drift crossing a 6-dp rounding boundary at sf0.001), while a
    shared integer literal table cannot drift.

    Scale choice (round-6 overflow fix): at 1e12 the DECIMAL(18,0)
    stock accumulator silently nulled (Spark non-ANSI cast) once the
    21-day weighted daily order count passed ~1.1e5 (≈ sf 150), and
    the exact second moments capped stock at DECIMAL(19,0) anyway
    (DuckDB requires product widths w1+w2 ≤ 38).  At 1e9 with a
    DECIMAL(19,0) stock, stock holds to ~1e9 orders/day and
    sxx = Σ stock² stays under DECIMAL(38,0) to ~2e8 orders/day
    (≈ sf 3×10⁵ ≈ 300 TB).  Cost: weights below 0.5e-9 (d=0.3,
    lag ≥ 18) round to 0 — a ≤1e-9 relative perturbation of stock,
    identical in both engines, far below the 6-dp output rounding."""
    return [
        (d, k, int(round(d ** k * 10 ** 9)))
        for d in _ADSTOCK_DECAYS
        for k in range(_ADSTOCK_TERMS)
    ]


def _adstock_oracle() -> str:
    pw_vals = ", ".join(
        f"({d}, {k}, {w})" for d, k, w in _adstock_pw_rows()
    )
    return f"""
    WITH daily AS MATERIALIZED (
        SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS t,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS y
        FROM orders GROUP BY 1
    ), pw AS (
        SELECT * FROM (VALUES {pw_vals}) w(decay, lag, pw)
    ), ad AS (
        SELECT w.decay, cur.t,
               CAST(SUM(CAST(w.pw AS DECIMAL(18,0)) * past.x)
                    AS DECIMAL(19,0)) AS stock
        FROM daily cur
        JOIN daily past
          ON past.t BETWEEN cur.t - {_ADSTOCK_TERMS - 1} AND cur.t
        JOIN pw w ON w.lag = cur.t - past.t
        GROUP BY w.decay, cur.t
    ), scored AS (
        SELECT a.decay,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a.stock) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(CAST(a.stock AS DECIMAL(19,0)) * a.stock)
                    AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(nxt.y AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS sy,
               CAST(SUM(CAST(nxt.y AS DECIMAL(19,0)) * nxt.y)
                    AS DECIMAL(38,0)) AS syy,
               CAST(SUM(a.stock * CAST(nxt.y AS DECIMAL(19,0)))
                    AS DECIMAL(38,0)) AS sxy
        FROM ad a JOIN daily nxt ON nxt.t = a.t + 1
        GROUP BY a.decay
    ), corr AS (
        SELECT CAST(decay AS DOUBLE) AS decay, n,
               (n * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (SQRT(n * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * SQRT(n * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r
        FROM scored
    )
    SELECT decay, n AS n_days, ROUND(r, 6) AS corr_next_day_revenue,
           CAST(CASE WHEN r = (SELECT MAX(r) FROM corr)
                     THEN 1 ELSE 0 END AS BIGINT) AS is_best
    FROM corr ORDER BY decay
    """


@register("adstock_grid_fit", _adstock_oracle())
def adstock_grid_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric ad-stock (carryover) model selection: transform daily
    order count with a 20-day truncated geometric convolution at decay
    in {0.3, 0.5, 0.7, 0.9} and grade each by Pearson correlation with
    NEXT-day revenue — the marketing-mix preprocessing step, chosen by
    exact argmax.

    100 TB shape: the ses_gridsearch window trick — one calendar-
    bounded banded self-join; the 80 geometric weights join in as a
    broadcast literal table, so adding a grid point adds rows to a
    constant dim, not a pass.  Determinism (the round-5 sf0.001 fix):
    weights are 1e9-scaled INTEGER literals computed once driver-side
    (POWER() drifts by ulps between engines — observed crossing a
    rounding boundary), every moment is an exact integer DECIMAL sum,
    and r is the only float op chain (IEEE mul/sub/sqrt/div over
    identical decimals — bit-identical cross-engine); the argmax
    compares those raw doubles.  The 1e9 weight scale cancels in r;
    with the DECIMAL(19,0) stock it keeps every moment inside
    DECIMAL(38,0) up to ~2e8 orders/day (≈ sf 3×10⁵) — see
    ``_adstock_pw_rows`` for the overflow analysis.
    """
    orders = load_table(spark, sf_dir, "orders", parallel=True)
    daily = (
        orders.groupBy(
            F.unix_date(F.to_date("o_orderdate")).cast("long").alias("t")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "y"
            ),
        )
        .localCheckpoint(eager=True)
    )
    pw = spark.createDataFrame(
        _adstock_pw_rows(), "decay double, lag long, pw long"
    )
    past = daily.select(F.col("t").alias("pt"), F.col("x").alias("px"))
    ad = (
        daily.join(
            past,
            (F.col("pt") >= F.col("t") - (_ADSTOCK_TERMS - 1))
            & (F.col("pt") <= F.col("t")),
        )
        .withColumn("lag", F.col("t") - F.col("pt"))
        .join(F.broadcast(pw), "lag")
        .groupBy("decay", "t")
        .agg(
            F.sum(F.col("pw").cast("decimal(18,0)") * F.col("px"))
            .cast("decimal(19,0)")
            .alias("stock")
        )
    )
    nxt = daily.select((F.col("t") - 1).alias("t"), F.col("y").alias("ny"))
    j = ad.join(nxt, "t")
    scored = j.groupBy("decay").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("stock").cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("stock") * F.col("stock"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("ny").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sy"),
        F.sum(F.col("ny").cast("decimal(19,0)") * F.col("ny"))
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum(F.col("stock") * F.col("ny").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    r = (
        F.col("n") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        F.sqrt(
            F.col("n") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * F.sqrt(
            F.col("n") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    corr = scored.select(
        F.col("decay").cast("double").alias("decay"),
        F.col("n"),
        r.alias("r"),
    ).localCheckpoint(eager=True)
    best = corr.agg(F.max(F.col("r")).alias("best_r"))
    return (
        corr.crossJoin(F.broadcast(best))
        .select(
            "decay",
            F.col("n").alias("n_days"),
            F.round(F.col("r"), 6).alias("corr_next_day_revenue"),
            F.when(F.col("r") == F.col("best_r"), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_best"),
        )
        .orderBy("decay")
    )


# ---------------------------------------------------------------------------
# Newsvendor stocking levels
# ---------------------------------------------------------------------------

@register(
    "newsvendor_stock_levels",
    f"""
    WITH demand AS (
        SELECT p.p_type AS ptype,
               date_diff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))
                   AS day,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS d
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ), ranked AS (
        SELECT ptype, d,
               ROW_NUMBER() OVER (PARTITION BY ptype ORDER BY d) AS rn,
               COUNT(*) OVER (PARTITION BY ptype) AS n
        FROM demand
    ), pick AS (
        SELECT ptype, n, d AS stock
        FROM ranked
        WHERE rn = CAST(CEIL({_NV_CU} / ({_NV_CU} + {_NV_CO}) * n) AS BIGINT)
    ), service AS (
        SELECT p.ptype, p.n, p.stock,
               CAST(SUM(CASE WHEN dm.d <= p.stock THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_covered
        FROM pick p JOIN demand dm ON dm.ptype = p.ptype
        GROUP BY p.ptype, p.n, p.stock
    )
    SELECT ptype, CAST(n AS BIGINT) AS n_days, stock AS optimal_stock,
           ROUND(CAST(n_covered AS DOUBLE) / n, 4) AS service_level
    FROM service ORDER BY ptype
    """,
)
def newsvendor_stock_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor stocking rule per part type: with underage cost 4
    and overage cost 1 the optimal stock is the 0.8-quantile of daily
    demand (critical ratio cu/(cu+co)); emits the exact quantile
    (rank = ceil(q*n) order statistic) and the achieved empirical
    service level — inventory optimization as one declarative query.

    100 TB shape: a (type, day) demand tally, a per-type window over
    the calendar-bounded demand series, one join back for coverage.
    Determinism: stock levels are SELECTED exact integers; service
    levels are exact counts."""
    lineitem = load_table(spark, sf_dir, "lineitem", parallel=True)
    part = load_table(spark, sf_dir, "part")
    demand = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_type")),
            lineitem.l_partkey == F.col("p_partkey"),
        )
        .groupBy(
            F.col("p_type").alias("ptype"),
            F.unix_date(F.to_date("l_shipdate")).cast("long").alias("day"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("d"))
        .localCheckpoint(eager=True)
    )
    q = _NV_CU / (_NV_CU + _NV_CO)
    w = Window.partitionBy("ptype").orderBy("d")
    wn = Window.partitionBy("ptype")
    pick = (
        demand.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .where(F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("long"))
        .select("ptype", "n", F.col("d").alias("stock"))
    )
    service = (
        pick.join(
            demand.select("ptype", F.col("d").alias("dm")), "ptype"
        )
        .groupBy("ptype", "n", "stock")
        .agg(
            F.sum(F.when(F.col("dm") <= F.col("stock"), 1).otherwise(0))
            .cast("long")
            .alias("n_covered")
        )
    )
    return service.select(
        "ptype",
        F.col("n").cast("long").alias("n_days"),
        F.col("stock").alias("optimal_stock"),
        F.round(F.col("n_covered").cast("double") / F.col("n"), 4).alias(
            "service_level"
        ),
    ).orderBy("ptype")


# ---------------------------------------------------------------------------
# Declarative power iteration over the covariance table
# ---------------------------------------------------------------------------

_COV_SQL = f"""
        SELECT CAST(a.k - 1 AS BIGINT) AS i, CAST(b.k - 1 AS BIGINT) AS j,
               ROUND(COVAR_POP(e.embedding[a.k]::DOUBLE,
                               e.embedding[b.k]::DOUBLE), 4) AS cov
        FROM embeddings e
        CROSS JOIN (SELECT UNNEST(range(1, {_PI_DIM + 1})) AS k) a
        CROSS JOIN (SELECT UNNEST(range(1, {_PI_DIM + 1})) AS k) b
        GROUP BY a.k, b.k
"""


def _power_iter_oracle(steps: int = _PI_STEPS) -> str:
    parts = [
        f"""
    WITH cov AS MATERIALIZED ({_COV_SQL}),
    v0 AS (
        SELECT DISTINCT i AS j, 1.0 AS v FROM cov
    )"""
    ]
    for t in range(1, steps + 1):
        parts.append(
            f""", u{t} AS MATERIALIZED (
        SELECT c.i AS j,
               CAST(SUM(CAST(ROUND(c.cov * x.v, 9) AS DECIMAL(28,9)))
                    AS DOUBLE) AS v
        FROM cov c JOIN v{t - 1} x ON x.j = c.j
        GROUP BY c.i
    ), v{t} AS MATERIALIZED (
        SELECT j, v / (SELECT MAX(ABS(v)) FROM u{t}) AS v FROM u{t}
    )"""
        )
    k = steps
    parts.append(
        f""", rq AS (
        SELECT CAST(SUM(CAST(ROUND(a.v * b.v, 9) AS DECIMAL(28,9)))
                    AS DOUBLE)
               / CAST(SUM(CAST(ROUND(a.v * a.v, 9) AS DECIMAL(28,9)))
                      AS DOUBLE) AS lam
        FROM v{k - 1} a JOIN u{k} b ON b.j = a.j
    )
    SELECT j AS component,
           ROUND(v, 6) AS loading,
           ROUND(lam, 4) AS top_eigenvalue
    FROM v{k} CROSS JOIN rq
    ORDER BY ABS(v) DESC, component LIMIT 8
    """
    )
    return "".join(parts)


@register("power_iteration_top_pc", _power_iter_oracle())
def power_iteration_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding covariance matrix by
    15 DECLARATIVE power-iteration supersteps over the (i, j, cov)
    table (L-infinity normalized), with the Rayleigh quotient as the
    dominant eigenvalue — the SQL-expressible spectral twin of
    pca_variance (whose full eigendecomposition is LAPACK and
    therefore rows-only): the dominant eigenpair itself is
    hash-checked cross-engine.

    100 TB shape: the covariance reduce is the one corpus pass
    (pca_variance's shape).  The iteration state after that pass is a
    64-vector against a 64x64 matrix — cluster-invisible — so the 15
    supersteps are chained NARROW array-expression projections over a
    single-row frame (zip_with / aggregate higher-order functions): one
    task, zero shuffles, zero per-step driver roundtrips, where the
    round-3 join-agg spelling paid 45 jobs of pure scheduling latency
    (measured 12.2 s at sf0.1, ~flat in data — all driver overhead).
    Catalyst keeps the stacked Projects un-collapsed because the
    aggregate expressions are non-cheap, so the expression tree stays
    linear in step count.  Determinism: covariances round to 4 dp at
    construction; every matrix-vector term rounds to 9 dp into exact
    DECIMAL(28,9) sums (array-order addition of exact decimals equals
    the oracle's group-order addition); the max-|v| normalizer is a
    scalar of identical doubles; top-8 ties break by component index.
    """
    from federated_gcn_spark.operators.pca import gram_moments

    # one distributed Gram pass (covariance_matrix's machinery); the
    # 4-dp rounding is the cross-engine resync point shared with the
    # oracle's COVAR_POP
    emb = load_table(spark, sf_dir, "embeddings", parallel=True)
    _, _, cov_np = gram_moments(emb, "embedding")
    dim = cov_np.shape[0]
    m = [
        [round(float(cov_np[i, j]), 4) for j in range(dim)]
        for i in range(dim)
    ]
    zero = F.lit(0).cast("decimal(28,9)")

    def _dot9(a, b):
        # sum_j round(a[j]*b[j], 9) as exact DECIMAL — the oracle's
        # per-term resync, order-free because decimal addition is exact
        return F.aggregate(
            F.zip_with(
                a, b, lambda x, y: F.round(x * y, 9).cast("decimal(28,9)")
            ),
            zero,
            lambda acc, x: (acc + x).cast("decimal(28,9)"),
        ).cast("double")

    state = spark.createDataFrame(
        [(m,)], "m array<array<double>>"
    ).withColumn("v", F.array_repeat(F.lit(1.0), dim))
    for step in range(_PI_STEPS):
        if step % 3 == 0 and step:
            # cap expression-tree depth: optimizer rules (alias
            # substitution across stacked Projects) go super-linear past
            # a few chained matvec steps; a 1-row checkpoint is ~free
            state = state.localCheckpoint(eager=True)
        # two Projects per step: u once, then (mx, v) by column REFERENCE
        # so u's aggregate expression is never duplicated
        state = state.select(
            "m",
            F.col("v").alias("prev"),
            F.transform("m", lambda row: _dot9(row, F.col("v"))).alias("u"),
        )
        state = state.select(
            "m",
            "prev",
            "u",
            F.array_max(F.transform("u", F.abs)).alias("mx"),
        )
        state = state.select(
            "m",
            "prev",
            "u",
            F.transform("u", lambda x: x / F.col("mx")).alias("v"),
        )
    # checkpoint before Generate: posexplode over the chained matvec plan
    # sends the optimizer's Project-substitution super-linear (measured
    # hang); over the materialized 1-row state it is instant
    state = state.localCheckpoint(eager=True)
    final = state.select(
        "v", (_dot9(F.col("prev"), F.col("u"))
              / _dot9(F.col("prev"), F.col("prev"))).alias("lam")
    )
    return (
        final.select(F.posexplode("v").alias("component", "vraw"), "lam")
        .orderBy(F.abs(F.col("vraw")).desc(), "component")
        .limit(8)
        .select(
            F.col("component").cast("long").alias("component"),
            F.round(F.col("vraw"), 6).alias("loading"),
            F.round(F.col("lam"), 4).alias("top_eigenvalue"),
        )
    )
