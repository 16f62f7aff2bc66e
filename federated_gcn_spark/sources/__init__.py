from federated_gcn_spark.sources.csv import (  # noqa: F401
    read_raw_attributes,
    read_raw_edges,
    write_edges_csv,
    write_nodes_csv,
)
from federated_gcn_spark.sources.weights import read_weights_table  # noqa: F401
