"""Table catalog over the driver testdata + the engine's graph-store layout.

The reference's "catalog" is a filename template —
``{path}{graph_id}_nodes_{partition_id}.csv`` (fl_server.py:202,
fl_client.py:194). Here that becomes (a) a plain loader for the driver's
parquet tables and (b) a Hive-partitioned parquet graph store
(``.../graph_id=G/partition_id=P/``) so partition pruning replaces string
formatting (SURVEY.md §1.3).
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


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: list[str],
    num_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed parquet table (external, at ``path``).

    Bucketing pre-shuffles the data once at write time: any join or
    aggregation keyed on ``bucket_cols`` between tables sharing the
    layout runs Exchange-free — at 100 TB that turns the repeated
    fact⋈fact join (the one shuffle Catalyst can't avoid in
    flagship_revenue-shaped queries) into a co-located merge. ``sort_cols``
    additionally pre-sorts within buckets so sort-merge joins skip their
    sort. Verified by tests/test_catalog.py asserting the joined plan
    contains no Exchange.
    """
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .option("path", path)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    sort_within_by: list[str] | None = None,
) -> int:
    """Rewrite a parquet directory into ~target-sized files; returns the
    new file count.

    Streaming sinks and fine-grained incremental writes accrete small
    files; at scale the scan cost becomes file-open-bound (every file is
    a footer read + task schedule) long before it is byte-bound.
    Sizing uses the actual on-disk bytes, and ``sort_within_by``
    re-sorts within output files so min/max row-group statistics stay
    selective for downstream predicate skipping. The rewrite goes
    through a temp dir then a rename-aside swap (old dir moved aside
    before the new one moves in), so a crash at any point leaves a fully
    intact copy of the data on disk; callers must still quiesce readers
    across the swap.
    """
    import shutil

    size_b = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _dn, fns in os.walk(path)
        for f in fns
        if not f.startswith(("_", "."))
    )
    n_files = max(1, round(size_b / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    out = df.repartition(n_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    base = path.rstrip("/")
    tmp = base + "__compact_tmp"
    out.write.mode("overwrite").parquet(tmp)
    # Swap via rename-aside: at no point is the live path missing its data.
    # A crash after the first rename leaves the dataset at `__old` (fully
    # intact, recoverable); a crash after the second leaves the new data
    # live plus a stale `__old` to garbage-collect. Concurrent readers must
    # still quiesce across the swap (renames are atomic per-path, not as a
    # pair).
    old = base + "__compact_old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_files


# ---------------------------------------------------------------------------
# Partitioned graph store (nodes/edges as Hive-partitioned parquet)
# ---------------------------------------------------------------------------

def write_graph(
    nodes: DataFrame,
    edges: DataFrame,
    path: str,
    mode: str = "overwrite",
) -> None:
    """Persist a (possibly multi-graph, multi-partition) graph.

    Layout: ``{path}/nodes/graph_id=G/partition_id=P/*.parquet`` — the Spark
    equivalent of the reference's per-partition CSV files. Reading one
    partition is partition *pruning*, not a filename lookup, and a scan over
    all partitions is a single parquet read.
    """
    part_cols = [c for c in ("graph_id", "partition_id") if c in nodes.columns]
    w = nodes.write.mode(mode)
    if part_cols:
        w = w.partitionBy(*part_cols)
    w.parquet(os.path.join(path, "nodes"))

    part_cols = [c for c in ("graph_id", "partition_id") if c in edges.columns]
    w = edges.write.mode(mode)
    if part_cols:
        w = w.partitionBy(*part_cols)
    w.parquet(os.path.join(path, "edges"))
