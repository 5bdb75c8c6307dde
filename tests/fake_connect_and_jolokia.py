"""Combined fake fetcher: Jolokia reads + Connect REST endpoints."""

from __future__ import annotations

from kafka_metrics_exporter_spark.sources.fetchers import fake_jolokia_fetcher
from tests import fake_connect


def fetch(url: str, timeout: float = 10.0) -> str | None:
    if "/jolokia/" in url:
        return fake_jolokia_fetcher(url, timeout)
    return fake_connect.fetch(url, timeout)


def fetch_truncated_listing(url: str, timeout: float = 10.0) -> str | None:
    """``fetch``, except that every Connect listing is cut off mid-JSON."""
    if "/jolokia/" in url:
        return fake_jolokia_fetcher(url, timeout)
    return fake_connect.fetch_truncated_listing(url, timeout)
