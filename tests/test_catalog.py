"""Catalog-layer behaviors: partition pruning in the graph store and
Exchange-free joins on bucketed tables."""

from pyspark.sql import functions as F

from federated_gcn_spark.catalog import write_bucketed, write_graph


def _explain(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    write_bucketed(left, "t_bucket_l", str(tmp_path / "l"), ["k"], 4, ["k"])
    write_bucketed(right, "t_bucket_r", str(tmp_path / "r"), ["k"], 4, ["k"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_bucket_l").join(spark.table("t_bucket_r"), "k")
        plan = _explain(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
        # sanity: the same join on plain parquet DOES shuffle
        left.write.mode("overwrite").parquet(str(tmp_path / "pl"))
        right.write.mode("overwrite").parquet(str(tmp_path / "pr"))
        plain = spark.read.parquet(str(tmp_path / "pl")).join(
            spark.read.parquet(str(tmp_path / "pr")), "k"
        )
        assert "Exchange" in _explain(plain)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bucket_l")
        spark.sql("DROP TABLE IF EXISTS t_bucket_r")


def test_graph_store_partition_pruning(spark, tmp_path):
    nodes = spark.createDataFrame(
        [(i, i % 2, [float(i)]) for i in range(20)],
        "id long, partition_id int, features array<double>",
    )
    edges = spark.createDataFrame(
        [(i, (i + 1) % 20, i % 2) for i in range(20)],
        "src long, dst long, partition_id int",
    )
    write_graph(nodes, edges, str(tmp_path / "g"))
    n1 = spark.read.parquet(str(tmp_path / "g" / "nodes")).where("partition_id = 1")
    e1 = spark.read.parquet(str(tmp_path / "g" / "edges")).where("partition_id = 1")
    assert n1.count() == 10 and e1.count() == 10
    # the equality filter becomes a PartitionFilter on the scan (pruned at
    # file-listing time, not evaluated per row)
    plan = n1._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan and "partition_id" in plan.split(
        "PartitionFilters", 1
    )[1].split("\n", 1)[0], plan


def test_compact_parquet_preserves_rows_and_reduces_files(spark, tmp_path):
    import os

    from federated_gcn_spark.catalog import compact_parquet

    src = str(tmp_path / "shards")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.repartition(40).write.parquet(src)  # pathological small files
    n_before = sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
    assert n_before >= 40

    want = {r["doc_id"] for r in docs.collect()}
    compact_parquet(spark, src, target_file_mb=128, sort_within_by=["doc_id"])
    n_after = sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
    back = spark.read.parquet(src)
    assert {r["doc_id"] for r in back.collect()} == want
    assert n_after < n_before


def test_ivf_partitioned_layout_probe_is_partition_pruned(spark, tmp_path):
    """The IVF scale story made concrete: persist the assigned table
    partitioned by centroid_id, probe with a filter, and assert the scan
    reads only the probed partitions."""
    import numpy as np

    from federated_gcn_spark.operators.similarity import IVFIndex

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    emb = emb.localCheckpoint(eager=True)
    idx = IVFIndex(emb, k=4, seed=1, train_iters=1)
    path = str(tmp_path / "ivf")
    idx.assign(emb).write.partitionBy("centroid_id").parquet(path)

    assigned = spark.read.parquet(path)
    probe = assigned.where(assigned.centroid_id.isin([0, 1]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    # partition filter present, and the non-probed dirs aren't listed
    assert "centroid_id" in plan
    got_parts = {
        r["centroid_id"] for r in probe.select("centroid_id").distinct().collect()
    }
    assert got_parts <= {0, 1}
    topk = idx.topk(assigned, rows[7][1], k=5, nprobe=2)
    assert topk.count() == 5
