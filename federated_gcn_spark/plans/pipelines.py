"""End-to-end reference pipelines as single declarative plans.

These are the reference's *programs* (SURVEY.md §3) re-expressed so that
one Catalyst plan covers what the reference does with imperative pandas:

- ``merge_pipeline``  = merge.py §3.3: scan 4 store files → select/cast
  → union → keep-first dedup → write 2 outputs.
- ``concat_embeddings_pipeline`` = concat_embeddings.py: N per-partition
  embedding tables → first-wins merge.
- ``distributed_nograd`` (in ml.federated) = distributed_nograd.py: train
  every partition independently (no communication), embed, merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from federated_gcn_spark.operators.merge import concat_embeddings, merge_partition
from federated_gcn_spark.sources.csv import (
    read_raw_attributes,
    read_raw_edges,
    write_edges_csv,
    write_nodes_csv,
)


def merge_pipeline(
    spark: SparkSession,
    localstore_edges: str,
    localstore_attrs: str,
    centralstore_edges: str,
    centralstore_attrs: str,
    out_nodes: str | None = None,
    out_edges: str | None = None,
    feature_dim: int = 1433,
) -> tuple[DataFrame, DataFrame]:
    """merge.py:14-47 as one plan per output.

    scan (S3, headerless whitespace) → drop label via column pruning (P1)
    → float casts (P6) → nodes: union + keep-first, local wins (SET1/SET3)
    → edges: bag union (SET2) → optional CSV sinks (S5).
    """
    nodes_local = read_raw_attributes(spark, localstore_attrs, feature_dim).select(
        "id", "features"  # label projected away == merge.py:15 .loc[:, 0:1433]
    )
    nodes_central = read_raw_attributes(spark, centralstore_attrs, feature_dim).select(
        "id", "features"
    )
    edges_local = read_raw_edges(spark, localstore_edges)
    edges_central = read_raw_edges(spark, centralstore_edges)
    nodes, edges = merge_partition(nodes_local, nodes_central, edges_local, edges_central)
    if out_nodes:
        write_nodes_csv(nodes, out_nodes)
    if out_edges:
        write_edges_csv(edges, out_edges)
    return nodes, edges


def concat_embeddings_pipeline(
    parts: list[DataFrame], out_path: str | None = None
) -> DataFrame:
    """concat_embeddings.py:12-28: N-way first-wins merge (SET4/J3/S6)."""
    merged = concat_embeddings(parts, id_col="id")
    if out_path:
        merged.write.mode("overwrite").parquet(out_path)
    return merged

