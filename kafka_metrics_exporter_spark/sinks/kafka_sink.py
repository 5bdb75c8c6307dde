"""Kafka sink (SURVEY §2.1 S5).

The reference produces one JSON message per metric record with the
message timestamp set to the scrape time, snappy compression,
retries=10, linger.ms=50, default topic ``jmx_data_ingestion_pipeline``
(reference Code/KafkaAppender.py:4,20-26,37-54; README.md:224-227).

Spark's built-in Kafka sink replaces the hand-rolled producer loop:
batching/flushing (the reference's flush-per-500, KafkaAppender.py:47-48)
is the producer's own linger/batch machinery, and at-least-once delivery
comes from Structured Streaming checkpointing instead of fire-and-forget:
each micro-batch is one batch write, and a failed write fails the batch,
which is then retried.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_metrics_exporter_spark.operators.normalize import flat_json_column

DEFAULT_TOPIC = "jmx_data_ingestion_pipeline"


def kafka_sink_options(
    bootstrap_servers: str,
    topic: str = DEFAULT_TOPIC,
    compression: str = "snappy",
    retries: int = 10,
    linger_ms: int = 50,
    extra: dict[str, str] | None = None,
) -> dict[str, str]:
    """format("kafka") writer options mirroring the reference's
    producer tuning (Code/KafkaAppender.py:23-25).  ``extra`` carries
    arbitrary producer properties (the reference's --kafka-conn-props,
    Code/main.py:177-178), prefixed ``kafka.`` for the Spark
    connector."""
    out = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "kafka.compression.type": compression,
        "kafka.retries": str(retries),
        "kafka.linger.ms": str(linger_ms),
    }
    for k, v in (extra or {}).items():
        key = k if k.startswith("kafka.") or k == "topic" else f"kafka.{k}"
        out[key] = str(v)
    return out


def to_kafka_records(metrics: DataFrame) -> DataFrame:
    """metrics rows → (value, timestamp) records for the Kafka sink.

    The record value is the reference-shaped flat JSON document (P3);
    the message timestamp carries the scrape time exactly like the
    reference's producer.send(timestamp_ms=...) (Code/KafkaAppender.py:46).
    """
    return metrics.select(
        flat_json_column().alias("value"),
        F.col("created_ts").alias("timestamp"),
    )


def write_kafka(records: DataFrame, options: dict[str, str]) -> None:
    """Batch-write ``to_kafka_records`` rows with Spark's Kafka
    connector — the daemon's Kafka writer inside its one
    ``foreachBatch`` (``streaming.pipeline.fan_out``)."""
    records.write.format("kafka").options(**options).save()
