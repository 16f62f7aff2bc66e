"""FedAvg tensor aggregation over a parameter table (A1-A3).

Reference semantics:
- weighted:   global = Σᵢ nᵢ·Wᵢ / Σᵢ nᵢ   (fl_server.py:60-74, nᵢ =
  NUM_EXAMPLES from fl_client.py:77)
- unweighted: np.mean(weights, axis=0)    (fl_server_unsupervised.py:58-67)
- scheduled:  clients submit lists of per-partition tensors, flattened
  then weighted (fl_server_shed.py:61-93) — in the relational model that
  flattening is just more rows in the same table.

Parameter-table schema (FIXTURES.md §5):
    round INT, client_id STRING, layer INT, shape ARRAY<INT>,
    values ARRAY<DOUBLE>, num_examples BIGINT

``fedavg``: posexplode → groupBy(layer, idx) → weighted avg → re-assemble
with sort_array(collect_list(struct)). All JVM-side, partial (map-side)
aggregation, scales to arbitrarily wide layers because the shuffle key
space is (layer × element), never a whole tensor in one row.

Element order inside a layer is the array index → aggregation order is
fixed → float results are reproducible (SURVEY.md §7.3 risk 5).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fedavg(params: DataFrame, weighted: bool = True, group_cols: list[str] | None = None) -> DataFrame:
    """→ (group_cols..., layer, shape, values) with values = FedAvg'd array."""
    group_cols = group_cols or []
    n = F.col("num_examples").cast("double") if weighted else F.lit(1.0)
    ex = params.select(
        *group_cols,
        "layer",
        "shape",
        n.alias("__n"),
        F.posexplode("values").alias("idx", "v"),
    )
    # zero total weight (every client reported 0 examples) degrades to the
    # unweighted mean instead of dividing by zero / NaN-poisoning the model
    agg = ex.groupBy(*group_cols, "layer", "idx").agg(
        F.when(
            F.sum("__n") != 0.0, F.sum(F.col("v") * F.col("__n")) / F.sum("__n")
        )
        .otherwise(F.avg("v"))
        .alias("v"),
        F.first("shape").alias("shape"),
    )
    return (
        agg.groupBy(*group_cols, "layer")
        .agg(
            F.first("shape").alias("shape"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "v"))), lambda s: s["v"]
            ).alias("values"),
        )
    )


# ---------------------------------------------------------------------------
# parameter-table → list-of-ndarray decoder (G8 weight get contract)
# ---------------------------------------------------------------------------

def rows_to_weights(rows) -> list[np.ndarray]:
    """Parameter-table rows (any order) → list-of-ndarrays by layer."""
    by_layer = sorted(rows, key=lambda r: r["layer"])
    return [
        np.asarray(r["values"], dtype="float64").reshape(r["shape"]) for r in by_layer
    ]
