"""Model-weight readback (S7).

The reference persists the global weights once per round as a versioned
``.npy``: ``weights_graphID:{g}_V{cycle}.npy`` (fl_server.py:78-80).
Here ``ml.federated.federated_fit(weights_sink=...)`` writes a parameter
table partitioned by ``round`` (versioning = partition value), and any
round is one pruned read back into the layer list.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from federated_gcn_spark.operators.fedavg import rows_to_weights


def read_weights_table(
    spark: SparkSession, path: str, round_no: int | None = None
) -> tuple[list[np.ndarray], DataFrame]:
    df = spark.read.parquet(path)
    if round_no is None:
        round_no = df.agg({"round": "max"}).first()[0]
    rows = [r.asDict() for r in df.where(df["round"] == round_no).collect()]
    return rows_to_weights(rows), df
