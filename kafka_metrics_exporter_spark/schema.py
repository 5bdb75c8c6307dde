"""Canonical schemas (SURVEY.md §1.2-1.3).

The reference emits schema-dynamic JSON metric records (one per MBean
sample per server per poll; reference ``Code/JMXScraper.py:91-117``).
Spark is fixed-schema, so the engine's core ``metrics`` table keeps the
dynamic parts in maps — lossless ``attributes`` plus a numeric
projection ``num_attributes`` for aggregation — and derives typed views
by selection.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Raw scrape envelope: what a Jolokia poll returns, one row per
# (target_url, poll).  Mirrors internal_prepare_jmx_data_for_url's
# result dict (reference Code/JMXScraper.py:120-146) with the HTTP
# body kept verbatim for the normalizer to parse.
RAW_SCRAPE_SCHEMA = T.StructType(
    [
        T.StructField("target_url", T.StringType(), False),
        T.StructField("server_type", T.StringType(), True),
        T.StructField("execution_ts", T.LongType(), False),  # epoch millis
        T.StructField("http_status", T.IntegerType(), True),
        T.StructField("body", T.StringType(), True),  # Jolokia JSON response
    ]
)

# Canonical normalized metric record (SURVEY §1.3).
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("mbean_name", T.StringType(), True),
        T.StructField("bean_domain", T.StringType(), True),   # injectedBeanName
        T.StructField("server_type", T.StringType(), True),   # injectedServerType
        T.StructField("host_name", T.StringType(), True),     # injectedHostName
        T.StructField("created_ts", T.TimestampType(), True),  # createdDateTime
        T.StructField("created_ms", T.LongType(), True),       # epoch-millis twin
        T.StructField(
            "bean_props", T.MapType(T.StringType(), T.StringType()), True
        ),
        T.StructField(
            "attributes", T.MapType(T.StringType(), T.StringType()), True
        ),
        T.StructField(
            "num_attributes", T.MapType(T.StringType(), T.DoubleType()), True
        ),
    ]
)

# Rewritten (rule-engine output) metric record (SURVEY §2.7): the
# JMX-exporter YAML rules turn a raw sample into a named, labeled,
# typed, scaled sample.
REWRITTEN_SCHEMA = T.StructType(
    [
        T.StructField("metric_name", T.StringType(), True),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("metric_type", T.StringType(), True),  # GAUGE/COUNTER/UNTYPED
    ]
)
