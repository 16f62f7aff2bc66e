from federated_gcn_spark.graph.graph import Graph  # noqa: F401
from federated_gcn_spark.graph.components import connected_components  # noqa: F401
from federated_gcn_spark.graph.sampling import fanout_sample, uniform_random_walks  # noqa: F401
from federated_gcn_spark.graph.split import (  # noqa: F401
    connectivity_preserving_split,
    double_split,
)
from federated_gcn_spark.graph.pagerank import (  # noqa: F401
    pagerank,
    personalized_pagerank,
)
from federated_gcn_spark.graph.anf import neighborhood_function  # noqa: F401
from federated_gcn_spark.graph.bfs import bfs_distances  # noqa: F401
from federated_gcn_spark.graph.kcore import core_numbers  # noqa: F401
from federated_gcn_spark.graph.labelprop import label_propagation  # noqa: F401
from federated_gcn_spark.graph.sampling import node2vec_walks  # noqa: F401
