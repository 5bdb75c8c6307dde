"""Kafka Connect REST status source (SURVEY §2.1 S3, §2.3 J4/J5).

Each Connect endpoint is one target of the Jolokia polling source
(``sources/jolokia.py``): the source task that holds it calls
``connect_snapshot_body``, which runs the reference's two-phase
dependent scan (reference Code/ConnectRESTMetrics.py:172-190):

1. GET ``/connectors`` → connector name list;
2. GET ``/connectors/{name}/status`` per connector;
3. one entry per task with the parent connector's state copied, or one
   connector-only entry when the connector has no tasks (reference
   Code/ConnectRESTMetrics.py:121-140);
4. each entry keyed by the synthetic JMX ObjectName
   ``kafka.connect.api.rest:type=rest-api-metrics,connector=<n>,
   connector-type=<t>[,task-id=<i>]`` (reference
   Code/ConnectRESTMetrics.py:143-169; constants :16-24).

The result is a synthetic Jolokia wildcard-read envelope, so
``operators.normalize_scrapes`` derives host, bean domain, properties
and numeric attributes for Connect rows exactly as for JMX rows.
"""

from __future__ import annotations

import json
from urllib.parse import quote

BEAN_NAME = "kafka.connect.api.rest"
BEAN_TYPE = "rest-api-metrics"


def _json(body: str | None):
    """``body`` parsed, or None when it is absent or not valid JSON."""
    if body is None:
        return None
    try:
        return json.loads(body)
    except ValueError:
        return None


def connect_snapshot_body(endpoint: str, get) -> str | None:
    """One endpoint's full status snapshot as a SYNTHETIC Jolokia
    wildcard-read body: ``{"request": {"mbean": "kafka.connect.api.
    rest:*"}, "value": {objectname: attrs, ...}}``.

    This is the reference's trick inverted at the source: REST rows are
    re-keyed to JMX ObjectNames so ONE downstream pipeline handles both
    sources (reference Code/ConnectRESTMetrics.py:143-169 feeding
    Code/JMXScraper.py:166-183) — here normalize_scrapes consumes the
    envelope with zero special-casing.

    ``get(url) -> body | None`` is the source's fetcher with this
    target's timeout and Connect options bound.  Each connector name is
    URL-quoted into its status path, so ``my sink`` is fetched as
    ``/connectors/my%20sink/status``.

    A listing that fails or is not a JSON list fails the whole endpoint
    (None: the source emits its 599 row).  A status body that fails or
    is not a JSON object skips that connector only, as the reference
    skips a failed scrape (Code/JMXScraper.py:163-165).
    """
    base = endpoint.rstrip("/")
    names = _json(get(base + "/connectors"))
    if not isinstance(names, list):
        return None
    value: dict[str, dict] = {}
    for name in names:
        doc = _json(get(f"{base}/connectors/{quote(str(name), safe='')}/status"))
        if not isinstance(doc, dict):
            continue
        key = (
            f"{BEAN_NAME}:type={BEAN_TYPE},connector={doc.get('name', name)},"
            f"connector-type={doc.get('type')}"
        )
        conn_state = (doc.get("connector") or {}).get("state")
        tasks = doc.get("tasks") or []
        for t in tasks:
            value[f"{key},task-id={t.get('id')}"] = {
                "connector-status": conn_state,
                "task-status": t.get("state"),
                "task-worker-id": t.get("worker_id"),
            }
        if not tasks:
            value[key] = {"connector-status": conn_state}
    return json.dumps(
        {
            "request": {"mbean": f"{BEAN_NAME}:*", "type": "read"},
            "status": 200,
            "value": value,
        }
    )
