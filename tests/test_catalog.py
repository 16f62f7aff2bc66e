"""Layout behaviors: a partitioned layout turns an IVF probe into
partition pruning."""


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
