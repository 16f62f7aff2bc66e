"""Query/oracle registry: importing the query modules registers every
query in ``plans.queries.QUERIES`` (registration order) and its DuckDB
twin, if it has one, in ``plans.queries.ORACLE``.

``tools/check_oracle.py`` runs the whole registry against its oracles.
"""

from federated_gcn_spark.plans import queries_analytics  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_decision  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_engine  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_mining  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave3  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave4  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave5  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave6  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave7  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave8  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave9  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave10  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave11  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave12  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave13  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave14  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave15  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave16  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave17  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave18  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave19  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave20  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave21  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave22  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave23  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave24  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave25  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave26  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave27  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave28  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave29  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave30  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave31  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave32  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave33  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave34  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave35  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave36  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave37  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave38  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave39  # noqa: F401  (registers)
from federated_gcn_spark.plans import queries_wave40  # noqa: F401  (registers)
from federated_gcn_spark.plans.queries import ORACLE as _ORACLE
from federated_gcn_spark.plans.queries import QUERIES as _QUERIES

QUERIES = _QUERIES
ORACLE = {n: _ORACLE[n] for n in QUERIES if n in _ORACLE}
