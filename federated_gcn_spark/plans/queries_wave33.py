"""Round-4 wave 33: Markov-chain analytics on the event stream — the
behavioral-model layer over event_transition_matrix.

- ``markov_stationary_distribution``: the stationary distribution of
  the event-type transition chain via 12 unrolled power-iteration
  steps from uniform (plus the last-step total-variation delta as the
  convergence certificate) — where does a user's session spend its
  time in the long run?
- ``markov_absorption_probabilities``: make 'purchase' and 'error'
  absorbing; the probability of absorbing in each, per transient
  start state, via a 20-term Neumann series B = sum Q^k R — the
  funnel-outcome model (conversion vs failure odds from every state).
- ``markov_entropy_rate``: per-state row entropy and the chain's
  entropy rate H = -sum_i pi_i sum_j P_ij log2 P_ij — how predictable
  is the next event?
- ``markov_mixing_curve``: total-variation distance to the stationary
  distribution after t = 1..8 steps starting from 'signup' — the
  mixing-time profile.

All four share one machinery: the 5-state transition matrix is a
bounded table (event-type vocabulary), every iteration is a 5x5
join-agg, and every per-term product rounds to 12 dp into exact
DECIMAL sums — so the unrolled DuckDB oracles replay the distributed
supersteps bit-for-bit.  Output is DEFINED as the fixed-step iterate
(truncation is part of the contract), so convergence speed cannot
cause cross-engine drift.

100 TB shape: the event stream reduces ONCE to the per-user LEAD
sequence shuffle (the event_transition_matrix shape); everything
after runs on a vocabulary-bounded matrix.

Reference anchor: SURVEY.md §2.8 streaming/events analytics; extends
event_transition_matrix (queries_wave3), funnel_conversion,
event_path_trigrams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from federated_gcn_spark.catalog import load_table
from federated_gcn_spark.plans.queries import _event_epoch_sec, register

_STAT_STEPS = 12
_ABS_TERMS = 20
_MIX_STEPS = 8
_ABSORBING = ("error", "purchase")

_TRANS_SQL = """
    e AS (
        SELECT user_id, event_id, event_type,
               (epoch_ns(ts) // 1000000000) AS sec
        FROM events
    ), seq AS (
        SELECT event_type AS from_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY sec, event_id
               ) AS to_type
        FROM e
    ) , pairs AS MATERIALIZED (
        SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    ), tot AS (
        SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
        FROM pairs GROUP BY from_type
    ), p AS MATERIALIZED (
        SELECT p.from_type, p.to_type,
               CAST(p.n AS DOUBLE) / t.n_from AS prob
        FROM pairs p JOIN tot t USING (from_type)
    ), states AS MATERIALIZED (
        SELECT from_type AS s FROM tot
    )
"""


def _transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(from_type, to_type, prob) — bounded transition matrix,
    materialized once (the event_transition_matrix reduction)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events", parallel=True)
    e = events.select(
        "user_id", "event_id", "event_type",
        _event_epoch_sec(events).alias("sec"),
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    pairs = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = pairs.groupBy("from_type").agg(F.sum("n").cast("long").alias("n_from"))
    return (
        pairs.join(tot, "from_type")
        .select(
            "from_type",
            "to_type",
            (F.col("n").cast("double") / F.col("n_from")).alias("prob"),
        )
        .localCheckpoint(eager=True)
    )


# ---------------------------------------------------------------------------
# Dense-array chain machinery
#
# After the one LEAD shuffle the chain is a vocabulary-bounded matrix, so
# (power_iteration_top_pc's lesson) the supersteps run as chained narrow
# array expressions over a SINGLE-ROW frame — zero shuffles, zero per-step
# driver jobs — instead of per-step join-aggs + per-step barriers (measured:
# the barriered spelling costs ~0.25 s/step of pure scheduling at ANY data
# size; the whole 20-step recursion below executes in one task).
#
# Exactness vs the sparse join-agg semantics the oracles replay:
# * VALUES: every per-term op (round(x*y, 12) -> DECIMAL(24,12) -> exact
#   sum -> double) is the same Spark expression; dense zero entries add
#   round(0*y, 12) = 0E-12 terms, which exact decimal addition ignores, so
#   a dense cell equals the sparse group's sum wherever the group exists
#   and is exactly 0.0 where it does not.
# * ROW PRESENCE: a sparse group exists iff some join path produced a
#   term.  That is purely STRUCTURAL (prob > 0 iff the transition row
#   exists), so the presence masks are computed exactly on the driver by
#   the same recursion over the adjacency pattern, and the final explode
#   filters / NULL-fills by mask — bit-identical row sets and values.
#
# Collecting the transition matrix crosses the driver: bounded model
# parameters, the gram_moments precedent (event-type vocabulary ~5).
# ---------------------------------------------------------------------------


def _dense_chain(trans: DataFrame):
    """Collect the bounded (from, to, prob) table into dense row-major
    matrix + exact structural metadata: (states, idx, m, exists,
    from_set)."""
    rows = trans.collect()
    sts = sorted(
        {r["from_type"] for r in rows} | {r["to_type"] for r in rows}
    )
    idx = {s: i for i, s in enumerate(sts)}
    k = len(sts)
    m = [[0.0] * k for _ in range(k)]
    ex = [[False] * k for _ in range(k)]
    for r in rows:
        i, j = idx[r["from_type"]], idx[r["to_type"]]
        m[i][j] = float(r["prob"])
        ex[i][j] = True
    return sts, idx, m, ex, {r["from_type"] for r in rows}


def _dot12(a, b):
    """sum_j round(a[j]*b[j], 12) as exact DECIMAL(24,12) -> double —
    the array form of the sparse join-agg group sum (order-free)."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: F.round(x * y, 12).cast("decimal(24,12)")
        ),
        F.lit(0).cast("decimal(24,12)"),
        lambda acc, x: (acc + x).cast("decimal(24,12)"),
    ).cast("double")


def _pi_steps_dense(state: DataFrame, mt_col: str, pi_col: str, steps: int,
                    keep_prev: bool = False) -> DataFrame:
    """pi_{t+1} = pi_t P over the TRANSPOSED dense matrix column, as
    chained single-row projections (checkpoint every 5 to cap plan
    depth — the optimizer lesson from power_iteration_top_pc)."""
    for t in range(steps):
        if t % 5 == 0 and t:
            state = state.localCheckpoint(eager=True)
        cols = [F.col(c) for c in state.columns if c != pi_col]
        if keep_prev:
            cols = [
                F.col(c) for c in state.columns
                if c not in (pi_col, "__prev")
            ] + [F.col(pi_col).alias("__prev")]
        state = state.select(
            *cols,
            F.transform(
                mt_col, lambda row: _dot12(row, F.col(pi_col))
            ).alias(pi_col),
        )
    return state


def _reach_step(pres: list, ex: list) -> list:
    """presence mask recursion: next[j] = any(pres[i] and ex[i][j])."""
    k = len(ex)
    return [
        any(pres[i] and ex[i][j] for i in range(k)) for j in range(k)
    ]


def _stationary_oracle(steps: int) -> str:
    parts = [
        f"""
    WITH {_TRANS_SQL},
    pi0 AS (
        SELECT s, 1.0 / (SELECT COUNT(*) FROM states) AS pi FROM states
    )"""
    ]
    for t in range(1, steps + 1):
        parts.append(
            f""", pi{t} AS MATERIALIZED (
        SELECT p.to_type AS s,
               CAST(SUM(CAST(ROUND(x.pi * p.prob, 12) AS DECIMAL(24,12)))
                    AS DOUBLE) AS pi
        FROM pi{t - 1} x JOIN p ON p.from_type = x.s
        GROUP BY p.to_type
    )"""
        )
    parts.append(
        f"""
    SELECT a.s AS event_type,
           ROUND(a.pi, 9) AS stationary_prob,
           ROUND(ABS(a.pi - b.pi), 9) AS last_step_delta
    FROM pi{steps} a JOIN pi{steps - 1} b ON b.s = a.s
    ORDER BY event_type
    """
    )
    return "".join(parts)


@register("markov_stationary_distribution", _stationary_oracle(_STAT_STEPS))
def markov_stationary_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stationary distribution of the event-type Markov chain — 12
    power-iteration steps from uniform over the bounded transition
    matrix, with |pi_12 - pi_11| per state as the convergence
    certificate.  The long-run session-attention profile behind any
    'which surface do users end up on?' question.

    100 TB shape: the event stream reduces once to the per-user LEAD
    shuffle; all 12 supersteps run on the vocabulary-bounded matrix as
    single-row array expressions (see _dense_chain — one task, no
    per-step jobs).  Determinism: each term rounds to 12 dp into exact
    DECIMAL sums (float-sum order never matters); the oracle replays
    every superstep."""
    trans = _transitions(spark, sf_dir)
    sts, idx, m, ex, from_set = _dense_chain(trans)
    k = len(sts)
    mt = [[m[i][j] for i in range(k)] for j in range(k)]  # transposed
    nfrom = len(from_set)
    pi0 = [(1.0 / nfrom) if s in from_set else 0.0 for s in sts]
    state = spark.createDataFrame(
        [(mt, pi0)], "mt array<array<double>>, pi array<double>"
    )
    state = _pi_steps_dense(state, "mt", "pi", _STAT_STEPS, keep_prev=True)
    # presence masks (structural, exact): sparse pi_t keeps a state iff
    # some term reached it; output rows = pres(last) AND pres(prev)
    pres = [s in from_set for s in sts]
    for _ in range(_STAT_STEPS - 1):
        pres = _reach_step(pres, ex)
    prev_pres = pres
    pres = _reach_step(pres, ex)
    mask = [bool(a and b) for a, b in zip(pres, prev_pres)]
    state = state.localCheckpoint(eager=True)  # depth cap pre-explode
    out = state.select(
        F.posexplode(
            F.arrays_zip(
                F.lit(sts).alias("s"),
                F.col("pi").alias("pi"),
                F.col("__prev").alias("prev"),
                F.lit(mask).alias("keep"),
            )
        ).alias("i", "z")
    )
    return (
        out.where(F.col("z.keep"))
        .select(
            F.col("z.s").alias("event_type"),
            F.round(F.col("z.pi"), 9).alias("stationary_prob"),
            F.round(F.abs(F.col("z.pi") - F.col("z.prev")), 9).alias(
                "last_step_delta"
            ),
        )
        .orderBy("event_type")
    )


def _absorption_oracle(terms: int) -> str:
    a0, a1 = _ABSORBING
    parts = [
        f"""
    WITH {_TRANS_SQL},
    q AS MATERIALIZED (
        SELECT from_type, to_type, prob FROM p
        WHERE from_type NOT IN ('{a0}', '{a1}')
          AND to_type NOT IN ('{a0}', '{a1}')
    ), r AS MATERIALIZED (
        SELECT from_type, to_type, prob FROM p
        WHERE from_type NOT IN ('{a0}', '{a1}')
          AND to_type IN ('{a0}', '{a1}')
    ), bb0 AS (
        SELECT from_type AS s, to_type AS a, prob AS b FROM r
    )"""
    ]
    for t in range(1, terms + 1):
        parts.append(
            f""", b{t} AS MATERIALIZED (
        SELECT r.from_type AS s, r.to_type AS a, r.prob AS b
        FROM r
        UNION ALL
        SELECT q.from_type AS s, x.a,
               CAST(SUM(CAST(ROUND(q.prob * x.b, 12) AS DECIMAL(24,12)))
                    AS DOUBLE) AS b
        FROM q JOIN bb{t - 1} x ON x.s = q.to_type
        GROUP BY q.from_type, x.a
    ), bb{t} AS MATERIALIZED (
        SELECT s, a, CAST(SUM(CAST(ROUND(b, 12) AS DECIMAL(24,12)))
                          AS DOUBLE) AS b
        FROM b{t} GROUP BY s, a
    )"""
        )
    parts.append(
        f"""
    SELECT s AS start_state,
           ROUND(MAX(CASE WHEN a = '{a1}' THEN b END), 6) AS p_purchase,
           ROUND(MAX(CASE WHEN a = '{a0}' THEN b END), 6) AS p_error,
           ROUND(MAX(CASE WHEN a = '{a1}' THEN b END)
                 + MAX(CASE WHEN a = '{a0}' THEN b END), 6) AS p_total
    FROM bb{terms} GROUP BY s ORDER BY start_state
    """
    )
    return "".join(parts)


@register("markov_absorption_probabilities", _absorption_oracle(_ABS_TERMS))
def markov_absorption_probabilities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Funnel-outcome model: with 'purchase' and 'error' absorbing,
    the probability of eventually absorbing in each, per transient
    start state — B = (I-Q)^(-1) R computed as the 20-term Neumann
    series B_t = R + Q B_{t-1} (truncation is part of the contract;
    p_total < 1 exposes the truncated tail).

    100 TB shape: everything after the one LEAD shuffle is a bounded
    matrix recursion, run as single-row array expressions (see
    _dense_chain — one task for all 20 terms).  Determinism:
    12-dp-rounded DECIMAL sums per term; the oracle replays all 20
    unrolled steps; row presence (a start state that cannot reach an
    absorber within 20 terms yields NULL, exactly as the sparse union
    does) is reproduced by the driver-side structural masks."""
    trans = _transitions(spark, sf_dir)
    a0, a1 = _ABSORBING
    sts, idx, m, ex, from_set = _dense_chain(trans)
    tr = sorted(s for s in from_set if s not in _ABSORBING)
    tidx = {s: i for i, s in enumerate(tr)}
    kt = len(tr)
    # Q over transient x transient, R over transient x (a0, a1)
    qm = [[m[idx[s]][idx[t]] for t in tr] for s in tr]
    qex = [[ex[idx[s]][idx[t]] for t in tr] for s in tr]
    rm = {a: [m[idx[s]][idx[a]] if idx.get(a) is not None else 0.0
              for s in tr] for a in (a0, a1)}
    rex = {a: [ex[idx[s]][idx[a]] if idx.get(a) is not None else False
               for s in tr] for a in (a0, a1)}
    state = spark.createDataFrame(
        [(qm, rm[a0], rm[a1], rm[a0], rm[a1])],
        "q array<array<double>>, r0 array<double>, r1 array<double>, "
        "b0 array<double>, b1 array<double>",
    )
    add12 = lambda rv, sv: (
        F.round(rv, 12).cast("decimal(24,12)")
        + F.round(sv, 12).cast("decimal(24,12)")
    ).cast("double")
    for t in range(_ABS_TERMS):
        if t % 5 == 0 and t:
            state = state.localCheckpoint(eager=True)
        # stepped_a[s] = sum_t' round(q[s][t'] * b_a[t'], 12) exactly as
        # the sparse join-agg; then b_a = round(r,12) + round(stepped,12)
        # summed as decimals (the sparse union's two-term group sum)
        state = state.select(
            "q", "r0", "r1",
            F.transform(
                "q", lambda row: _dot12(row, F.col("b0"))
            ).alias("s0"),
            F.transform(
                "q", lambda row: _dot12(row, F.col("b1"))
            ).alias("s1"),
        )
        state = state.select(
            "q", "r0", "r1",
            F.zip_with("r0", "s0", add12).alias("b0"),
            F.zip_with("r1", "s1", add12).alias("b1"),
        )
    # structural presence of bb_t rows: (s, a) exists iff r has it or a
    # q-path reaches an r row of a within t more steps
    pres = {a: list(rex[a]) for a in (a0, a1)}
    for _ in range(_ABS_TERMS):
        pres = {
            a: [
                rex[a][i]
                or any(qex[i][j] and pres[a][j] for j in range(kt))
                for i in range(kt)
            ]
            for a in (a0, a1)
        }
    state = state.localCheckpoint(eager=True)  # depth cap pre-explode
    out = state.select(
        F.posexplode(
            F.arrays_zip(
                F.lit(tr).alias("s"),
                F.col("b0").alias("b0"),
                F.col("b1").alias("b1"),
                F.lit(pres[a0]).alias("k0"),
                F.lit(pres[a1]).alias("k1"),
            )
        ).alias("i", "z")
    )
    return (
        out.where(F.col("z.k0") | F.col("z.k1"))
        .select(
            F.col("z.s").alias("start_state"),
            F.round(
                F.when(F.col("z.k1"), F.col("z.b1")), 6
            ).alias("p_purchase"),
            F.round(
                F.when(F.col("z.k0"), F.col("z.b0")), 6
            ).alias("p_error"),
            F.round(
                F.when(F.col("z.k1"), F.col("z.b1"))
                + F.when(F.col("z.k0"), F.col("z.b0")),
                6,
            ).alias("p_total"),
        )
        .orderBy("start_state")
    )


@register(
    "markov_entropy_rate",
    _stationary_oracle(_STAT_STEPS).replace(
        f"""
    SELECT a.s AS event_type,
           ROUND(a.pi, 9) AS stationary_prob,
           ROUND(ABS(a.pi - b.pi), 9) AS last_step_delta
    FROM pi{_STAT_STEPS} a JOIN pi{_STAT_STEPS - 1} b ON b.s = a.s
    ORDER BY event_type
    """,
        f""", rowent AS (
        SELECT from_type AS s,
               CAST(SUM(CAST(ROUND(-prob * LN(prob) / LN(2), 12)
                             AS DECIMAL(24,12))) AS DOUBLE) AS h_row
        FROM p GROUP BY from_type
    )
    SELECT r.s AS event_type,
           ROUND(a.pi, 9) AS stationary_prob,
           ROUND(r.h_row, 6) AS row_entropy_bits,
           ROUND(CAST(ROUND(a.pi * r.h_row, 12) AS DOUBLE), 6)
               AS contribution_bits
    FROM rowent r JOIN pi{_STAT_STEPS} a ON a.s = r.s
    ORDER BY event_type
    """,
    ),
)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate decomposition of the event chain: per-state
    next-event entropy (bits) and its stationary-weighted contribution
    — sum(contribution_bits) is the chain's entropy rate, the
    'how predictable is the next event?' number that caps any
    next-action model's accuracy.

    Shares the stationary machinery (12 rounded-decimal supersteps, now
    single-row array expressions — see _dense_chain); row entropies are
    per-BUCKET transcendentals rounded to 12 dp, summed over EXISTING
    transitions only (the dense zeros are filtered out — 0*ln(0) must
    never enter the sum)."""
    trans = _transitions(spark, sf_dir)
    sts, idx, m, ex, from_set = _dense_chain(trans)
    k = len(sts)
    mt = [[m[i][j] for i in range(k)] for j in range(k)]
    nfrom = len(from_set)
    pi0 = [(1.0 / nfrom) if s in from_set else 0.0 for s in sts]
    state = spark.createDataFrame(
        [(m, mt, pi0)],
        "m array<array<double>>, mt array<array<double>>, pi array<double>",
    )
    state = _pi_steps_dense(state, "mt", "pi", _STAT_STEPS)
    ln2 = 0.6931471805599453
    hrow = F.transform(
        "m",
        lambda row: F.aggregate(
            F.transform(
                F.filter(row, lambda x: x > 0),
                lambda p: F.round(
                    -p * F.log(p) / F.lit(ln2), 12
                ).cast("decimal(24,12)"),
            ),
            F.lit(0).cast("decimal(24,12)"),
            lambda acc, x: (acc + x).cast("decimal(24,12)"),
        ).cast("double"),
    )
    pres = [s in from_set for s in sts]
    for _ in range(_STAT_STEPS):
        pres = _reach_step(pres, ex)
    mask = [bool(p and s in from_set) for p, s in zip(pres, sts)]
    state = state.localCheckpoint(eager=True).select(
        "pi", hrow.alias("h")
    )
    out = state.select(
        F.posexplode(
            F.arrays_zip(
                F.lit(sts).alias("s"),
                F.col("pi").alias("pi"),
                F.col("h").alias("h"),
                F.lit(mask).alias("keep"),
            )
        ).alias("i", "z")
    )
    return (
        out.where(F.col("z.keep"))
        .select(
            F.col("z.s").alias("event_type"),
            F.round(F.col("z.pi"), 9).alias("stationary_prob"),
            F.round(F.col("z.h"), 6).alias("row_entropy_bits"),
            F.round(
                F.round(F.col("z.pi") * F.col("z.h"), 12).cast("double"), 6
            ).alias("contribution_bits"),
        )
        .orderBy("event_type")
    )


def _mixing_oracle(steps: int, stat_steps: int) -> str:
    parts = [
        f"""
    WITH {_TRANS_SQL},
    pi0 AS (
        SELECT s, 1.0 / (SELECT COUNT(*) FROM states) AS pi FROM states
    )"""
    ]
    for t in range(1, stat_steps + 1):
        parts.append(
            f""", pi{t} AS MATERIALIZED (
        SELECT p.to_type AS s,
               CAST(SUM(CAST(ROUND(x.pi * p.prob, 12) AS DECIMAL(24,12)))
                    AS DOUBLE) AS pi
        FROM pi{t - 1} x JOIN p ON p.from_type = x.s
        GROUP BY p.to_type
    )"""
        )
    parts.append(
        """, m0 AS (
        SELECT s, CASE WHEN s = 'signup' THEN 1.0 ELSE 0.0 END AS pi
        FROM states
    )"""
    )
    for t in range(1, steps + 1):
        parts.append(
            f""", m{t} AS MATERIALIZED (
        SELECT p.to_type AS s,
               CAST(SUM(CAST(ROUND(x.pi * p.prob, 12) AS DECIMAL(24,12)))
                    AS DOUBLE) AS pi
        FROM m{t - 1} x JOIN p ON p.from_type = x.s
        GROUP BY p.to_type
    )"""
        )
    tv = "\n    UNION ALL ".join(
        f"""SELECT {t} AS step,
               ROUND(0.5 * SUM(CAST(ROUND(ABS(m.pi - st.pi), 12)
                                    AS DECIMAL(24,12))), 9) AS tv_distance
        FROM m{t} m JOIN pi{stat_steps} st ON st.s = m.s"""
        for t in range(1, steps + 1)
    )
    parts.append(
        f"""
    SELECT CAST(step AS BIGINT) AS step, CAST(tv_distance AS DOUBLE)
               AS tv_distance
    FROM ({tv}) ORDER BY step
    """
    )
    return "".join(parts)


@register("markov_mixing_curve", _mixing_oracle(_MIX_STEPS, _STAT_STEPS))
def markov_mixing_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixing profile of the event chain: total-variation distance to
    the (12-step) stationary distribution after t = 1..8 steps from a
    point mass at 'signup' — how many events until a new user's
    behavior is indistinguishable from the steady state?

    Shares the stationary machinery (single-row array supersteps — see
    _dense_chain); each curve point is a bounded 5-term TV sum of
    12-dp-rounded DECIMALs over the states BOTH iterates reach (the
    sparse join's intersection, reproduced by structural masks)."""
    trans = _transitions(spark, sf_dir)
    sts, idx, m, ex, from_set = _dense_chain(trans)
    k = len(sts)
    mt = [[m[i][j] for i in range(k)] for j in range(k)]
    nfrom = len(from_set)
    pi0 = [(1.0 / nfrom) if s in from_set else 0.0 for s in sts]
    m0 = [
        (1.0 if s == "signup" else 0.0) if s in from_set else 0.0
        for s in sts
    ]
    state = spark.createDataFrame(
        [(mt, pi0, m0)],
        "mt array<array<double>>, pi array<double>, mv array<double>",
    )
    state = _pi_steps_dense(state, "mt", "pi", _STAT_STEPS)
    state = state.localCheckpoint(eager=True)
    # stationary presence after 12 steps; walk presence after t steps
    stat_pres = [s in from_set for s in sts]
    for _ in range(_STAT_STEPS):
        stat_pres = _reach_step(stat_pres, ex)
    walk_pres = [s in from_set for s in sts]  # m0 support: states rows
    tv_cols = []
    for t in range(1, _MIX_STEPS + 1):
        state = state.select(
            "mt", "pi", *[f"tv{u}" for u in range(1, t)],
            F.transform(
                "mt", lambda row: _dot12(row, F.col("mv"))
            ).alias("mv"),
        )
        walk_pres = _reach_step(walk_pres, ex)
        both = [bool(a and b) for a, b in zip(walk_pres, stat_pres)]
        # TV over the intersection only: a masked-out term is EXCLUDED
        # (replaced by an exact decimal zero), matching the sparse join
        tv = F.round(
            0.5
            * F.aggregate(
                F.zip_with(
                    F.zip_with(
                        "mv", "pi",
                        lambda x, y: F.round(F.abs(x - y), 12).cast(
                            "decimal(24,12)"
                        ),
                    ),
                    F.lit(both),
                    lambda term, keep: F.when(keep, term).otherwise(
                        F.lit(0).cast("decimal(24,12)")
                    ),
                ),
                F.lit(0).cast("decimal(24,12)"),
                lambda acc, x: (acc + x).cast("decimal(24,12)"),
            ),
            9,
        ).cast("double")
        state = state.select(
            "mt", "pi", "mv",
            *[f"tv{u}" for u in range(1, t)],
            tv.alias(f"tv{t}"),
        )
        tv_cols.append(f"tv{t}")
        if t % 4 == 0:
            state = state.localCheckpoint(eager=True)
    out = state.select(
        F.posexplode(F.array(*[F.col(c) for c in tv_cols])).alias(
            "i", "tv_distance"
        )
    )
    return out.select(
        (F.col("i") + 1).cast("long").alias("step"), "tv_distance"
    ).orderBy("step")
