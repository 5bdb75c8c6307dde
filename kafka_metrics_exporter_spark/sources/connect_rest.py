"""Kafka Connect REST status source (SURVEY §2.1 S3, §2.3 J4/J5).

Two-phase dependent scan, exactly the reference's shape
(reference Code/ConnectRESTMetrics.py:172-190):

1. GET ``/connectors`` per endpoint → connector name list (catalog-
   sized, fetched driver-side like the reference's first phase);
2. GET ``/connectors/{name}/status`` fanned out as Spark tasks
   (mapInPandas over the rendered URI list — the reference's thread
   pool, Code/ConnectRESTMetrics.py:76-93, becomes task parallelism);
3. one row per task with parent connector fields copied
   (explode(tasks); connector-only row when tasks is empty —
   reference Code/ConnectRESTMetrics.py:121-140);
4. re-keyed to the synthetic JMX ObjectName
   ``kafka.connect.api.rest:type=rest-api-metrics,connector=<n>,
   connector-type=<t>[,task-id=<i>]`` so one downstream pipeline
   handles both sources (reference Code/ConnectRESTMetrics.py:143-169;
   constants :16-24).
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_metrics_exporter_spark.sources.fetchers import resolve_fetcher

if TYPE_CHECKING:
    import pandas as pd

BEAN_NAME = "kafka.connect.api.rest"
BEAN_TYPE = "rest-api-metrics"

def _auth_opts(
    user: str | None, password: str | None, tls_verify: bool
) -> dict:
    """Connection options dict passed to the fetcher as kwargs; empty
    when auth is off so plain ``f(url, timeout)`` fetchers keep
    working."""
    opts: dict = {}
    if user is not None:
        opts["user"] = user
        opts["password"] = password
    if tls_verify:
        opts["tls_verify"] = True
    return opts


_STATUS_SCHEMA = (
    "endpoint string, name string, connector_type string, "
    "connector_state string, connector_worker_id string, "
    "tasks array<struct<id:long,state:string,worker_id:string>>"
)


def list_connectors(
    endpoints: list[str],
    fetcher_ref: str,
    timeout: float = 10.0,
    fetcher_opts: dict | None = None,
) -> list[tuple[str, str]]:
    """Phase 1: (endpoint, connector_name) pairs."""
    fetcher = resolve_fetcher(fetcher_ref)
    opts = fetcher_opts or {}
    out: list[tuple[str, str]] = []
    for ep in endpoints:
        body = fetcher(ep.rstrip("/") + "/connectors", timeout, **opts)
        if body is None:
            continue
        for name in json.loads(body):
            out.append((ep, name))
    return out


def fetch_connector_status(
    spark: SparkSession,
    pairs: list[tuple[str, str]],
    fetcher_ref: str,
    timeout: float = 10.0,
    fetcher_opts: dict | None = None,
) -> DataFrame:
    """Phase 2: distributed status fetch → typed status rows."""
    pairs_df = spark.createDataFrame(pairs, "endpoint string, name string")
    opts = fetcher_opts or {}

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # imported here, not at module top: every Jolokia source task
        # imports this module, and pandas costs ~0.5 s per new worker
        import pandas as pd

        fetcher = resolve_fetcher(fetcher_ref)
        for pdf in batches:
            rows = []
            for ep, name in zip(pdf["endpoint"], pdf["name"]):
                body = fetcher(
                    f"{ep.rstrip('/')}/connectors/{name}/status", timeout, **opts
                )
                if body is None:
                    continue
                doc = json.loads(body)
                rows.append(
                    {
                        "endpoint": ep,
                        "name": doc.get("name", name),
                        "connector_type": doc.get("type"),
                        "connector_state": (doc.get("connector") or {}).get("state"),
                        "connector_worker_id": (doc.get("connector") or {}).get(
                            "worker_id"
                        ),
                        "tasks": [
                            (t.get("id"), t.get("state"), t.get("worker_id"))
                            for t in doc.get("tasks") or []
                        ],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "endpoint",
                    "name",
                    "connector_type",
                    "connector_state",
                    "connector_worker_id",
                    "tasks",
                ],
            )

    return pairs_df.repartition(max(1, min(len(pairs), 64))).mapInPandas(
        fetch, _STATUS_SCHEMA
    )


def status_to_jmx_records(status: DataFrame) -> DataFrame:
    """Status rows → (mbean_name, attributes) records.

    explode_outer keeps the connector-only row when ``tasks`` is empty
    (reference Code/ConnectRESTMetrics.py:138-139); parent fields ride
    along with the exploded task rows (J5).
    """
    ex = status.select(
        "endpoint",
        "name",
        "connector_type",
        "connector_state",
        F.explode_outer("tasks").alias("task"),
    )
    has_task = F.col("task").isNotNull()
    mbean = F.when(
        has_task,
        F.format_string(
            BEAN_NAME + ":type=" + BEAN_TYPE + ",connector=%s,connector-type=%s,task-id=%s",
            F.col("name"),
            F.col("connector_type"),
            F.col("task.id").cast("string"),
        ),
    ).otherwise(
        F.format_string(
            BEAN_NAME + ":type=" + BEAN_TYPE + ",connector=%s,connector-type=%s",
            F.col("name"),
            F.col("connector_type"),
        )
    )
    attrs = F.when(
        has_task,
        F.map_from_arrays(
            F.array(
                F.lit("connector-status"),
                F.lit("task-status"),
                F.lit("task-worker-id"),
            ),
            F.array(
                F.col("connector_state"),
                F.col("task.state"),
                F.col("task.worker_id"),
            ),
        ),
    ).otherwise(
        F.map_from_arrays(
            F.array(F.lit("connector-status")), F.array(F.col("connector_state"))
        )
    )
    return ex.select(
        F.col("endpoint"),
        mbean.alias("mbean_name"),
        attrs.alias("attributes"),
    )


def connect_snapshot_body(
    endpoint: str,
    fetcher_ref: str,
    timeout: float = 10.0,
    fetcher_opts: dict | None = None,
) -> str | None:
    """One endpoint's full status snapshot as a SYNTHETIC Jolokia
    wildcard-read body: ``{"request": {"mbean": "kafka.connect.api.
    rest:*"}, "value": {objectname: attrs, ...}}``.

    This is the reference's trick inverted at the source: REST rows are
    re-keyed to JMX ObjectNames so ONE downstream pipeline handles both
    sources (reference Code/ConnectRESTMetrics.py:143-169 feeding
    Code/JMXScraper.py:166-183) — here normalize_scrapes consumes the
    envelope with zero special-casing.  Runs inside a source task: each
    Connect endpoint is one target of the polling DataSource, fetched on
    the thread pool of whichever partition's slice holds it.
    """
    fetcher = resolve_fetcher(fetcher_ref)
    opts = fetcher_opts or {}
    listing = fetcher(endpoint.rstrip("/") + "/connectors", timeout, **opts)
    if listing is None:
        return None
    value: dict[str, dict] = {}
    for name in json.loads(listing):
        body = fetcher(
            f"{endpoint.rstrip('/')}/connectors/{name}/status", timeout, **opts
        )
        if body is None:
            continue
        doc = json.loads(body)
        conn_state = (doc.get("connector") or {}).get("state")
        ctype = doc.get("type")
        tasks = doc.get("tasks") or []
        if tasks:
            for t in tasks:
                key = (
                    f"{BEAN_NAME}:type={BEAN_TYPE},connector={doc.get('name', name)},"
                    f"connector-type={ctype},task-id={t.get('id')}"
                )
                value[key] = {
                    "connector-status": conn_state,
                    "task-status": t.get("state"),
                    "task-worker-id": t.get("worker_id"),
                }
        else:
            key = (
                f"{BEAN_NAME}:type={BEAN_TYPE},connector={doc.get('name', name)},"
                f"connector-type={ctype}"
            )
            value[key] = {"connector-status": conn_state}
    return json.dumps(
        {
            "request": {"mbean": f"{BEAN_NAME}:*", "type": "read"},
            "status": 200,
            "value": value,
        }
    )


def connect_rest_scan(
    spark: SparkSession,
    endpoints: list[str],
    fetcher: str = "kafka_metrics_exporter_spark.sources.fetchers:http_fetcher",
    timeout: float = 10.0,
    execution_ts: int | None = None,
    user: str | None = None,
    password: str | None = None,
    tls_verify: bool = False,
) -> DataFrame:
    """Full S3 scan → normalized-metrics-shaped rows (METRICS_SCHEMA),
    ready to unionByName into the Jolokia stream (J3).

    ``user``/``password``/``tls_verify`` reach every HTTP call in both
    phases (reference Code/ConnectRESTMetrics.py:99-111: HTTPBasicAuth
    when auth is enabled, ``session.verify`` defaulting to False) —
    without them a secured Connect cluster is unreachable.
    """
    import time as _time

    opts = _auth_opts(user, password, tls_verify)
    ts = execution_ts if execution_ts is not None else int(_time.time() * 1000)
    pairs = list_connectors(endpoints, fetcher, timeout, fetcher_opts=opts)
    if not pairs:
        return spark.createDataFrame([], _STATUS_SCHEMA).limit(0).select()
    status = fetch_connector_status(spark, pairs, fetcher, timeout, fetcher_opts=opts)
    records = status_to_jmx_records(status)
    host = F.regexp_extract(
        "endpoint", r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/?#]+)", 1
    )
    return records.select(
        "mbean_name",
        F.substring_index("mbean_name", ":", 1).alias("bean_domain"),
        F.lit("KafkaConnect").alias("server_type"),
        host.alias("host_name"),
        F.timestamp_millis(F.lit(ts)).alias("created_ts"),
        F.lit(ts).alias("created_ms"),
        F.str_to_map(
            F.substring_index("mbean_name", ":", -1), F.lit(","), F.lit("=")
        ).alias("bean_props"),
        F.col("attributes"),
        F.map_filter(
            F.transform_values("attributes", lambda _, v: v.try_cast("double")),
            lambda _, v: v.isNotNull(),
        ).alias("num_attributes"),
    )
