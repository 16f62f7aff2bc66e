"""CSV / whitespace-delimited scans and sinks (SURVEY.md §2.1 S1-S6).

Reference file formats reproduced:

- node CSV (S1): header ``,0,1,...,F-1`` — id column + F feature columns,
  read with ``pd.read_csv(path, index_col=0)`` (fl_client.py:194-195).
  Here the F scalar columns are collapsed into one ``features
  ARRAY<FLOAT>`` column (SURVEY.md §1.3: width is data, not schema — at
  F=1433 a scalar-per-feature schema defeats columnar pruning and blows
  up Catalyst's attribute bookkeeping).
- edge CSV (S2): header ``source,target`` (fl_client.py:198-199) →
  (src BIGINT, dst BIGINT).
- raw attribute file (S3): whitespace-separated, headerless, 1+F+1
  fields: id, F binary features, class-label string (merge.py:15,
  data/4_attributes_0). The reference slices the label away; we keep it
  as a real column (label STRING) and let projection pruning drop it.
- raw edge file (S3): headerless whitespace pairs (merge.py:19-20).

Scans use ``spark.read.text`` + one ``split()`` — not inferSchema — so
the files parse identically at any scale, with explicit output types.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _split_ws(df: DataFrame) -> DataFrame:
    return df.select(F.split(F.trim(F.col("value")), r"\s+").alias("f")).where(
        F.size("f") > 0
    )


def read_raw_attributes(
    spark: SparkSession, path: str, feature_dim: int, with_label: bool = True
) -> DataFrame:
    """(id, features ARRAY<FLOAT>[, label STRING]) from a headerless
    whitespace file (S3; merge.py:15 reads then projects the label away —
    here the label is a column and Catalyst prunes it when unused)."""
    f = _split_ws(spark.read.text(path))
    cols = [
        F.element_at("f", 1).cast("long").alias("id"),
        F.transform(
            F.slice("f", 2, feature_dim), lambda x: x.cast("float")
        ).alias("features"),
    ]
    if with_label:
        cols.append(F.element_at("f", feature_dim + 2).alias("label"))
    return f.select(*cols)


def read_raw_edges(spark: SparkSession, path: str) -> DataFrame:
    """(src, dst) from headerless whitespace pairs (S3; merge.py:19-20)."""
    f = _split_ws(spark.read.text(path))
    return f.select(
        F.element_at("f", 1).cast("long").alias("src"),
        F.element_at("f", 2).cast("long").alias("dst"),
    )


def write_nodes_csv(nodes: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Node sink (S5; merge.py:46): features re-widened to scalar columns
    for CSV compatibility with the reference layout."""
    n = len(nodes.select("features").first()["features"])
    wide = nodes.select(
        "id", *[F.element_at("features", i + 1).alias(str(i)) for i in range(n)]
    )
    wide.write.mode(mode).option("header", True).csv(path)


def write_edges_csv(edges: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Edge sink (S5; merge.py:47 ``to_csv(index=False)``)."""
    edges.select(
        F.col("src").alias("source"), F.col("dst").alias("target")
    ).write.mode(mode).option("header", True).csv(path)
