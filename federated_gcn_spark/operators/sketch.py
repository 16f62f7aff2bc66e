"""Approximate, mergeable aggregates: HLL and KMV cardinality sketches.

At 100 TB, exact COUNT(DISTINCT) is a full shuffle of every distinct
key — the first thing a real pipeline trades for a sketch. Spark ships
Apache DataSketches HLL (``hll_sketch_agg``/``hll_union_agg``, Spark
3.5+) whose killer property is MERGEABILITY: per-partition/per-day
sketches union in O(1) to the global sketch, so cardinalities maintain
incrementally (new day arrives → union one sketch) instead of
rescanning history.

Error bounds are pinned by tests (test_sketch.py) against exact
answers: HLL at lgK=12 is ~1.6% RSE; the tests assert 5%.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cardinality_report(
    df: DataFrame, key_col: str, group_col: str, lg_k: int = 12
) -> DataFrame:
    """Per-group exact vs HLL-approx distinct count + relative error.

    The exact side exists for auditability (and the tests); production
    callers drop it and keep the one-pass sketch path.
    """
    return df.groupBy(group_col).agg(
        F.countDistinct(key_col).alias("exact_distinct"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col(key_col), F.lit(lg_k))
        ).alias("approx_distinct"),
    ).withColumn(
        "rel_err",
        F.round(
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ),
    )


def incremental_hll(
    df: DataFrame, key_col: str, batch_col: str, lg_k: int = 12
) -> DataFrame:
    """The incremental-maintenance shape: one HLL sketch per batch
    (day, shard, snapshot), then a union-merge to the global estimate.

    Returns a 1-row frame (n_batches, merged_estimate). The per-batch
    sketch table is what a pipeline would persist; re-estimating after
    a new batch costs one sketch + one union, never a rescan.
    """
    per_batch = df.groupBy(batch_col).agg(
        F.hll_sketch_agg(F.col(key_col), F.lit(lg_k)).alias("sketch")
    )
    return per_batch.agg(
        F.count(F.lit(1)).alias("n_batches"),
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch"))).alias(
            "merged_estimate"
        ),
    )


# ---------------------------------------------------------------------------
# Hash-replayable sketches: the estimates above use Apache DataSketches,
# whose serialized form is library-specific.  The two below are built from
# first principles on F.xxhash64 with ONLY order-fixed integer arithmetic
# (plus one final double division), so a DuckDB oracle replays them
# bit-for-bit — the full distributed sketch construction is value-checked,
# not just bounded by error tests.
# ---------------------------------------------------------------------------


def hll_replay(
    df: DataFrame, key_col: str, group_col: str, p: int = 7, cap: int = 55
) -> DataFrame:
    """From-scratch HyperLogLog per group, integer-exact cross-engine.

    Flajolet et al.'s estimator with m = 2**p registers: bucket = low p
    bits of the unsigned xxhash64, rho = leading-zero count of the
    remaining ``64-p`` bits + 1.  Register max is the mergeable state.
    The harmonic sum is kept in INTEGER space — SUM(2**(cap - M[j])) as
    BIGINT (cap=55 keeps m * 2**cap < 2**63) — so no FP summation-order
    divergence is possible; the single double division at the end is
    IEEE-identical on any engine.  rho is computed branch-free as
    ``(64-p+1) - popcount-style bit-length`` via 64-p integer
    comparisons (no log2 — libm rounding differs across engines).

    No small-range (linear-counting) correction: the raw estimator keeps
    the expression replayable; accuracy bounds for production use are
    pinned on the DataSketches path (test_sketch.py).

    Scale shape: one partial-final aggregate to (group x m) register
    rows — map-side combine reduces each task to <= m rows per group
    before the only shuffle — then an m-row-per-group rollup.  The
    register table is the persistable, mergeable sketch state.
    """
    m = 1 << p
    wbits = 64 - p
    h = F.xxhash64(F.col(key_col))
    w = F.shiftrightunsigned(h, p)
    bitlen = None
    for k in range(wbits):
        c = (w >= F.lit(1 << k)).cast("int")
        bitlen = c if bitlen is None else bitlen + c
    rho = F.lit(wbits + 1) - bitlen

    regs = (
        df.select(
            F.col(group_col).alias("g"),
            h.bitwiseAND(F.lit(m - 1)).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("g", "bucket")
        .agg(F.max("rho").alias("mr"))
    )
    per = regs.groupBy("g").agg(
        F.count(F.lit(1)).alias("present"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {cap} - least(mr, {cap}))")
        ).alias("filled_sum"),
        F.max("mr").cast("long").alias("max_reg"),
    )
    alpha = 0.7213 / (1 + 1.079 / m)
    c_num = alpha * m * m * float(1 << cap)
    sum_int = F.col("filled_sum") + (F.lit(m) - F.col("present")) * F.lit(1 << cap)
    return per.select(
        F.col("g").alias(group_col),
        F.col("present").cast("long").alias("nonzero_regs"),
        "max_reg",
        F.round(F.lit(c_num) / sum_int.cast("double"), 2).alias("est_distinct"),
    )


def kmv_kth(df: DataFrame, key_col: str, k: int = 32) -> DataFrame:
    """K-Minimum-Values distinct-count estimate, integer-exact.

    Keep the k smallest distinct signed xxhash64 values; with the hash
    uniform on [-2**63, 2**63), est = (k-1) * 2**64 / (h_(k) + 2**63).
    Every step before the final division is integer (distinct + ordered
    limit + max), and the division's operands are built with a fixed op
    order, so the oracle replays it exactly.

    Scale shape: distinct shuffles once on the hash; the k-smallest is
    ``TakeOrderedAndProject`` (per-partition heads, driver merge of
    k x partitions values) — never a global sort.  The k-value set is
    the mergeable state: union two sets, keep the k smallest.
    """
    dh = df.select(F.xxhash64(F.col(key_col)).alias("h")).distinct()
    sm = dh.orderBy("h").limit(k)
    num = float((k - 1) * (1 << 64))
    shift = float(1 << 63)
    agg = sm.agg(
        F.count(F.lit(1)).cast("long").alias("k_actual"),
        F.max("h").alias("kth_hash"),
        F.round(
            F.lit(num) / (F.max("h").cast("double") + F.lit(shift)), 2
        ).alias("est_kmv"),
    )
    # Exact regime: fewer than k distinct values means the sketch holds
    # ALL of them — report the exact count, not the inflated formula
    # estimate (the KMV convention when k_actual < k).
    return agg.select(
        "k_actual",
        "kth_hash",
        F.when(F.col("k_actual") < k, F.col("k_actual").cast("double"))
        .otherwise(F.col("est_kmv"))
        .alias("est_distinct"),
    )


def hll_rolling_estimate(
    df: DataFrame,
    key_col: str,
    day_col: str,
    window_days: int = 7,
    p: int = 7,
    cap: int = 55,
) -> DataFrame:
    """Sliding-window distinct estimate from mergeable daily HLL state —
    the pattern that makes "rolling 7-day unique users" tractable at
    100 TB, where an exact sliding distinct would re-scan the window's
    raw rows every day.

    Stage 1 builds the per-(day, bucket) register table — the same
    integer-exact registers as :func:`hll_replay` (xxhash64 bucket/rho,
    branch-free bit-length) — ONE corpus-sized aggregation whose output
    is calendar x m rows.  Stage 2 max-merges each day's registers into
    the ``window_days`` trailing windows it participates in: every
    register row is expanded to (day+0 .. day+w-1) targets (a
    calendar-bounded explode, never corpus-sized), targets are
    restricted to days that exist, and a second max-aggregation yields
    the merged register state per window end.  The emit is
    :func:`hll_replay`'s integer harmonic sum — no FP order dependence,
    one double division.  Register MERGE equals sketch-of-union by the
    max semilattice, which is the property the whole scheme rests on.
    """
    m = 1 << p
    wbits = 64 - p
    h = F.xxhash64(F.col(key_col))
    w = F.shiftrightunsigned(h, p)
    bitlen = None
    for k in range(wbits):
        c = (w >= F.lit(1 << k)).cast("int")
        bitlen = c if bitlen is None else bitlen + c
    rho = F.lit(wbits + 1) - bitlen

    daily = (
        df.select(
            F.col(day_col).alias("day"),
            h.bitwiseAND(F.lit(m - 1)).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("mr"))
        # daily feeds both the existing-day probe and the window
        # expansion; staged once -> one corpus-sized register build
        .localCheckpoint(eager=False)
    )
    days = daily.select("day").distinct()
    expanded = daily.select(
        "day", "bucket", "mr", F.explode(F.sequence(F.lit(0), F.lit(window_days - 1))).alias("off")
    ).select((F.col("day") + F.col("off")).alias("wday"), "bucket", "mr")
    merged = (
        expanded.join(
            days.select(F.col("day").alias("wday")), "wday", "left_semi"
        )
        .groupBy("wday", "bucket")
        .agg(F.max("mr").alias("mr"))
    )
    per = merged.groupBy("wday").agg(
        F.count(F.lit(1)).alias("present"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {cap} - least(mr, {cap}))")
        ).alias("filled_sum"),
        F.max("mr").cast("long").alias("max_reg"),
    )
    alpha = 0.7213 / (1 + 1.079 / m)
    c_num = alpha * m * m * float(1 << cap)
    sum_int = F.col("filled_sum") + (F.lit(m) - F.col("present")) * F.lit(1 << cap)
    return per.select(
        F.col("wday").alias("day"),
        F.col("present").cast("long").alias("nonzero_regs"),
        F.col("max_reg"),
        F.round(F.lit(c_num) / sum_int.cast("double"), 2).alias("est_distinct"),
    )
