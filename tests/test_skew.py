"""Salted-join equivalence under heavy key skew."""

import pytest
from pyspark.sql import functions as F

from federated_gcn_spark.operators.skew import salted_join


@pytest.fixture(scope="module")
def skewed_df(spark):
    # 5000 rows on key 0 (heavy hitter), 50 rows spread over keys 1..50
    heavy = spark.range(5000).select(F.lit(0).alias("k"), F.col("id").alias("v"))
    light = spark.range(1, 51).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    return heavy.unionByName(light)


def test_salted_join_matches_plain(spark, skewed_df):
    dim = spark.range(0, 51).select(F.col("id").alias("k"), (F.col("id") + 100).alias("d"))
    plain = skewed_df.join(dim, ["k"]).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("d").alias("sd")
    )
    salted = salted_join(skewed_df, dim, ["k"], buckets=8).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("d").alias("sd")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_outer(spark, skewed_df):
    dim = spark.range(0, 40).select(F.col("id").alias("k"), (F.col("id") + 100).alias("d"))
    plain = skewed_df.join(dim, ["k"], "left").where(F.col("d").isNull())
    salted = salted_join(skewed_df, dim, ["k"], buckets=4, how="left").where(
        F.col("d").isNull()
    )
    assert plain.count() == salted.count() == 11  # keys 40..50
