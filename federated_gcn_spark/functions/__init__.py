from federated_gcn_spark.functions.scalar import (  # noqa: F401
    array_dot,
    array_l2_norm,
    cosine_similarity,
    f1_score,
    mem_cost_gb,
    sigmoid,
)
from federated_gcn_spark.functions.text import (  # noqa: F401
    doc_fingerprint,
    lang_id,
    quality_score,
    shingles,
    token_count,
)
