"""Deterministic fake Kafka Connect REST endpoint for tests
(FIXTURES.md §3 shapes)."""

from __future__ import annotations

import json

_STATUS = {
    "s3-sink": {
        "name": "s3-sink",
        "type": "sink",
        "connector": {"state": "RUNNING", "worker_id": "w1:8083"},
        "tasks": [
            {"id": 0, "state": "RUNNING", "worker_id": "w1:8083"},
            {"id": 1, "state": "RUNNING", "worker_id": "w2:8083"},
        ],
    },
    "jdbc-source": {
        "name": "jdbc-source",
        "type": "source",
        "connector": {"state": "PAUSED", "worker_id": "w1:8083"},
        "tasks": [],
    },
}


# one connector whose two tasks differ in state and worker
_MIXED = {
    "conn-a": {
        "name": "conn-a",
        "type": "sink",
        "connector": {"state": "RUNNING", "worker_id": "w1:8083"},
        "tasks": [
            {"id": 0, "state": "RUNNING", "worker_id": "w1:8083"},
            {"id": 1, "state": "FAILED", "worker_id": "w2:8083"},
        ],
    },
}


def _serve(statuses: dict[str, dict], url: str) -> str | None:
    if url.endswith("/connectors"):
        return json.dumps(sorted(statuses))
    for name, doc in statuses.items():
        if url.endswith(f"/connectors/{name}/status"):
            return json.dumps(doc)
    return None


def fetch(url: str, timeout: float = 10.0) -> str | None:
    return _serve(_STATUS, url)


def fetch_mixed_tasks(url: str, timeout: float = 10.0) -> str | None:
    return _serve(_MIXED, url)


def fetch_truncated_listing(url: str, timeout: float = 10.0) -> str | None:
    """``fetch``, except that the connector listing is cut off mid-JSON."""
    if url.endswith("/connectors"):
        return fetch(url, timeout)[:-5]
    return fetch(url, timeout)


def fetch_bad_status(url: str, timeout: float = 10.0) -> str | None:
    """``fetch``, except that s3-sink's status is cut off mid-JSON and a
    third listed connector's status is a JSON array, not an object."""
    if url.endswith("/connectors"):
        return json.dumps([*sorted(_STATUS), "odd"])
    if url.endswith("/connectors/s3-sink/status"):
        return fetch(url, timeout)[:-5]
    if url.endswith("/connectors/odd/status"):
        return "[]"
    return fetch(url, timeout)
