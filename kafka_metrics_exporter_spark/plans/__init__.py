"""Query registry assembly.

Imports execute the ``@query`` decorators in each module, filling
``QUERIES`` / ``ORACLE_SQL`` in definition order.  The driver contract
(``__spark_entry__.queries()``) re-orders the registry stalest-first
from the committed ``CORRECTNESS_r*.json`` files; the registry itself
keeps no ordering state.
"""

from kafka_metrics_exporter_spark.plans.queries import (  # noqa: F401
    ORACLE_SQL,
    QUERIES,
)
from kafka_metrics_exporter_spark.plans import llm_queries  # noqa: E402,F401  (registers)
from kafka_metrics_exporter_spark.plans import promql_queries  # noqa: E402,F401  (registers)
from kafka_metrics_exporter_spark.plans import kibana_queries  # noqa: E402,F401  (registers)
