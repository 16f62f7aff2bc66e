"""Incremental aggregate maintenance (merge-of-split == full recompute)
and MERGE INTO upserts."""

import pytest
from pyspark.sql import functions as F

from federated_gcn_spark.operators.incremental import agg_state, merge_states

SPECS = {
    "cnt": ("count", "v"),
    "s": ("sum", "v"),
    "lo": ("min", "v"),
    "hi": ("max", "v"),
}


@pytest.fixture(scope="module")
def batches(spark):
    df = spark.range(0, 3000).select(
        F.pmod(F.col("id"), F.lit(37)).alias("k"),
        (F.xxhash64("id") % 1000).cast("double").alias("v"),
    )
    return [
        df.where(F.pmod(F.xxhash64("id", F.lit(9)), F.lit(3)) == i)
        for i in range(3)
    ], df


def _as_map(state_df):
    return {
        r["k"]: (r["cnt"], round(r["s"], 6), r["lo"], r["hi"])
        for r in state_df.collect()
    }


def test_merge_of_split_equals_full_aggregate(spark, batches):
    parts, full = batches
    merged = agg_state(parts[0], ["k"], SPECS)
    for p in parts[1:]:
        merged = merge_states(merged, agg_state(p, ["k"], SPECS), ["k"], SPECS)
    assert _as_map(merged) == _as_map(agg_state(full, ["k"], SPECS))


def test_merge_is_order_insensitive(spark, batches):
    parts, _ = batches
    states = [agg_state(p, ["k"], SPECS) for p in parts]
    a = merge_states(merge_states(states[0], states[1], ["k"], SPECS),
                     states[2], ["k"], SPECS)
    b = merge_states(merge_states(states[2], states[0], ["k"], SPECS),
                     states[1], ["k"], SPECS)
    assert _as_map(a) == _as_map(b)


def test_merge_handles_keys_on_one_side_only(spark):
    left = spark.createDataFrame([(1, 2.0), (2, 3.0)], "k int, v double")
    right = spark.createDataFrame([(2, 5.0), (9, 7.0)], "k int, v double")
    merged = _as_map(
        merge_states(
            agg_state(left, ["k"], SPECS),
            agg_state(right, ["k"], SPECS),
            ["k"],
            SPECS,
        )
    )
    assert merged[1] == (1, 2.0, 2.0, 2.0)  # left-only key survives
    assert merged[9] == (1, 7.0, 7.0, 7.0)  # right-only key survives
    assert merged[2] == (2, 8.0, 3.0, 5.0)  # merged key combines


def test_merge_upsert_applies_deletes(spark):
    from federated_gcn_spark.operators.upsert import merge_upsert

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    updates = spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string")
    deletes = spark.createDataFrame([(3,), (4,)], "k long")
    got = {
        (r["k"], r["v"])
        for r in merge_upsert(base, updates, ["k"], deletes=deletes).collect()
    }
    # 1 carried, 2 updated, 3 deleted, 4 deleted-before-insert
    assert got == {(1, "a"), (2, "B")}


def test_merge_upsert_dedupes_update_batch(spark):
    """Duplicate merge keys inside one updates batch collapse to one row
    (last-writer-wins): order_col picks the winner when given, otherwise
    the lexicographically greatest value row — and the merged snapshot
    is always key-unique (round-3 ADVICE fix)."""
    from federated_gcn_spark.operators.upsert import merge_upsert

    base = spark.createDataFrame([(1, "a", 0), (2, "b", 0)], "k long, v string, t long")
    updates = spark.createDataFrame(
        [(2, "z", 5), (2, "y", 9), (3, "c", 1), (3, "d", 1)],
        "k long, v string, t long",
    )
    with_order = {
        (r["k"], r["v"], r["t"])
        for r in merge_upsert(base, updates, ["k"], order_col="t").collect()
    }
    # k=2: t=9 wins; k=3: tied t -> greater value row ("d") wins
    assert with_order == {(1, "a", 0), (2, "y", 9), (3, "d", 1)}
    without = merge_upsert(base, updates, ["k"]).collect()
    assert len(without) == len({r["k"] for r in without}) == 3
    # deterministic winner: greatest (v, t) struct
    m = {r["k"]: (r["v"], r["t"]) for r in without}
    assert m[2] == ("z", 5) and m[3] == ("d", 1)
