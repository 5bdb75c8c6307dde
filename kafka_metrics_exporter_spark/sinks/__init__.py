from kafka_metrics_exporter_spark.sinks.es_bulk import (  # noqa: F401
    es_bulk_foreach_batch,
)
from kafka_metrics_exporter_spark.sinks.kafka_sink import (  # noqa: F401
    kafka_sink_options,
    to_kafka_records,
)
