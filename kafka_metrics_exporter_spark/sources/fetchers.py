"""Pluggable HTTP fetchers for the polling sources.

A fetcher is ``f(url: str, timeout: float, **opts) -> str | None``
returning the response body (None on failure — a failed scrape is
skipped, not retried in-cycle, like the reference
Code/JMXScraper.py:163-165).  ``opts`` carries the connection options
the Jolokia source binds per target kind: ``tls_verify`` on every
request, ``user``/``password`` basic auth on Connect REST requests only
— the reference's HTTPBasicAuth + ``session.verify`` on its Connect
session (Code/ConnectRESTMetrics.py:99-111).  An option that is not set
is not passed, so a fetcher that takes only ``(url, timeout)`` serves a
source with neither auth nor TLS verification.

Fetchers are referenced by ``"module.path:attr"`` strings in source
options so they survive pickling to executors.  The default is a
stdlib-urllib fetcher; ``fake_jolokia_fetcher`` synthesizes a
deterministic Jolokia body from the URL itself for tests/demos (this
container has no live JMX endpoints).
"""

from __future__ import annotations

import importlib
import json
import re
import zlib


def resolve_fetcher(ref: str):
    mod, _, attr = ref.partition(":")
    return getattr(importlib.import_module(mod), attr)


def http_fetcher(
    url: str,
    timeout: float = 10.0,
    user: str | None = None,
    password: str | None = None,
    tls_verify: bool = False,
) -> str | None:
    """GET one Jolokia/REST URL (reference Code/JMXScraper.py:120-146;
    call timeout default 10 s per Code/main.py:117-118).

    ``user``/``password`` send an ``Authorization: Basic`` header
    (reference Code/ConnectRESTMetrics.py:104-109 HTTPBasicAuth when
    AUTH_TYPE == "basic").  ``tls_verify`` defaults to False like the
    reference's ``session.verify = kwargs.get('verify', False)``
    (Code/ConnectRESTMetrics.py:99-106) — self-signed certs on internal
    JMX/REST endpoints are the common case.
    """
    import base64
    import ssl
    import urllib.request

    req = urllib.request.Request(url)  # noqa: S310
    if user is not None:
        token = base64.b64encode(
            f"{user}:{password or ''}".encode()
        ).decode("ascii")
        req.add_header("Authorization", f"Basic {token}")
    ctx = None
    if url.lower().startswith("https"):
        ctx = ssl.create_default_context()
        if not tls_verify:
            ctx.check_hostname = False
            ctx.verify_mode = ssl.CERT_NONE
    try:
        with urllib.request.urlopen(  # noqa: S310
            req, timeout=timeout, context=ctx
        ) as resp:
            return resp.read().decode("utf-8")
    except Exception:  # noqa: BLE001  (skip-and-continue semantics)
        return None


def fake_jolokia_fetcher(url: str, timeout: float = 10.0, **_opts) -> str | None:
    """Deterministic synthetic Jolokia response derived from the URL.

    Shape mirrors FIXTURES.md §1: wildcard reads return a map of
    mbean → attrs; exact reads return the bare attr object.  Values are
    seeded by crc32(url) so repeated polls are stable and distinct
    hosts differ.
    """
    m = re.search(r"/jolokia/read/(.+)$", url)
    if not m:
        return None
    mbean = m.group(1)
    seed = zlib.crc32(url.encode()) % 1000
    if "*" in mbean:
        raw_domain = mbean.split(":", 1)[0]
        domain = (
            raw_domain[: -len(".*")] + ".server"
            if raw_domain.endswith(".*")
            else raw_domain
        )
        value = {
            f"{domain}:type=BrokerTopicMetrics,name=MessagesInPerSec,topic=t{seed % 7}": {
                "Count": 1000 + seed,
                "MeanRate": round(seed / 13.0, 3),
                "OneMinuteRate": round(seed / 17.0, 3),
            },
            f"{domain}:type=ReplicaManager,name=UnderReplicatedPartitions": {
                "Value": seed % 3
            },
            "java.lang:type=Memory": {
                "HeapMemoryUsage": {
                    "init": 512,
                    "used": 100 + seed,
                    "committed": 1024,
                    "max": 2048,
                }
            },
        }
    else:
        value = {"Value": seed}
    return json.dumps(
        {
            "request": {"mbean": mbean, "type": "read"},
            "status": 200,
            "value": value,
        }
    )
