"""Z-order layout: key correctness + the data-skipping effect it buys."""

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from federated_gcn_spark.operators.zorder import zorder_key


def _morton(x: int, y: int, bits: int = 8) -> int:
    z = 0
    for b in range(bits):
        z |= ((x >> b) & 1) << (2 * b)
        z |= ((y >> b) & 1) << (2 * b + 1)
    return z


def test_zorder_key_matches_reference_interleave(spark):
    rows = [(x, y) for x in (0, 1, 5, 127, 255) for y in (0, 3, 64, 255)]
    df = spark.createDataFrame(rows, "x int, y int")
    got = df.select(
        "x", "y", zorder_key([F.col("x"), F.col("y")], bits=8).alias("z")
    ).collect()
    for r in got:
        assert r["z"] == _morton(r["x"], r["y"])


def _files_touched(path: str, lo: int, hi: int) -> int:
    """Files whose parquet stats intersect [lo,hi] on BOTH x and y."""
    touched = 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        xmin = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        xmax = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        ymin = min(md.row_group(i).column(1).statistics.min for i in range(md.num_row_groups))
        ymax = max(md.row_group(i).column(1).statistics.max for i in range(md.num_row_groups))
        if xmax >= lo and xmin <= hi and ymax >= lo and ymin <= hi:
            touched += 1
    return touched


def test_zorder_layout_prunes_box_queries(spark, tmp_path):
    # 2-d uniform keys; box predicate on a 32x32 corner
    df = (
        spark.range(0, 60000)
        .select(
            F.pmod(F.xxhash64("id"), F.lit(256)).cast("int").alias("x"),
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(256)).cast("int").alias("y"),
        )
    )
    zpath, npath = str(tmp_path / "zord"), str(tmp_path / "nat")
    # range-partitioning on the Morton key gives each file a contiguous
    # curve segment, so per-file min/max of x and y stay tight
    (
        df.withColumn("_z", zorder_key([F.col("x"), F.col("y")], bits=8))
        .repartitionByRange(16, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(zpath)
    )
    df.repartition(16).write.mode("overwrite").parquet(npath)
    z_touch = _files_touched(zpath, 0, 31)
    n_touch = _files_touched(npath, 0, 31)
    # natural layout: every file spans the full space -> touches all 16.
    # z-order: the box lives in a contiguous curve segment -> few files.
    assert n_touch >= 14
    assert z_touch <= n_touch // 2
