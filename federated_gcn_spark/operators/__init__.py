from federated_gcn_spark.operators.chunk import chunk_documents  # noqa: F401
from federated_gcn_spark.operators.merge import (  # noqa: F401
    concat_embeddings,
    merge_partition,
    union_all,
    union_keep_first,
)
from federated_gcn_spark.operators.sample import stratified_sample  # noqa: F401
from federated_gcn_spark.operators.schedule import (  # noqa: F401
    partition_stats,
    plan_training_waves,
)
from federated_gcn_spark.operators.logistic import logistic_fit  # noqa: F401
from federated_gcn_spark.operators.robust import (  # noqa: F401
    trimmed_mean_centroids,
)
from federated_gcn_spark.operators.similarity import knn_join  # noqa: F401
from federated_gcn_spark.operators.sketch import (  # noqa: F401
    cardinality_report,
    incremental_hll,
)
