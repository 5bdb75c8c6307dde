"""Jolokia polling source (SURVEY §2.1 S1/S2) as a PySpark DataSource.

The reference scatters one HTTP GET per scrape URL over a thread pool
and gathers results into an in-memory snapshot
(reference Code/JMXScraper.py:120-183).  Here the scrape catalog
becomes input partitions of a custom Python DataSource (Spark 4 public
API): the targets (Jolokia URLs, then Connect REST endpoints) are cut
into ``min(#targets, parallelism)`` contiguous slices, one partition
each, and every partition fetches its slice on a thread pool of up to
``POLL_THREADS`` threads.  One poll cycle is therefore one wave of
tasks on the cluster's cores, and a dead host costs one timeout per
slice, not one per task; on a 1000-executor cluster the same code polls
100k endpoints per trigger with no driver bottleneck.

``read_jolokia`` is the one way in: its keyword arguments are the
source's settings, serialized once into the source's options and loaded
back by the reader.  ``read_jolokia(..., streaming=True)`` polls once
per micro-batch (the reference's poll gate, Code/JMXScraper.py:186-197,
maps to trigger(processingTime=...)).  Fetch options are bound by target
kind: ``tls_verify`` goes on every request, the basic-auth
``user``/``password`` only on Connect REST requests, as the reference
sets auth on its Connect session alone (Code/ConnectRESTMetrics.py:
99-111).

Rows use schema.RAW_SCRAPE_SCHEMA; pipe into operators.normalize_scrapes.
"""

from __future__ import annotations

import itertools
import json
import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from kafka_metrics_exporter_spark.schema import RAW_SCRAPE_SCHEMA

DEFAULT_MBEANS: dict[str, list[str]] = {
    # per-server-type poll patterns (reference Code/main.py:144-153)
    "ZooKeeper": ["org.apache.ZooKeeperService:*"],
    "KafkaBroker": ["kafka.*:*"],
    "KafkaConnect": ["kafka.*:*"],
    "KSQL": ["kafka.*:*", "io.confluent.*:*"],
}
# appended for every unique host (reference Code/main.py:152-153,
# Code/JMXScraper.py:21 default_JMX_fetch)
DEFAULT_COMMON_MBEANS = ["java.lang:type=Memory"]


def build_url_catalog(
    servers: dict[str, list[str]],
    mbeans: dict[str, list[str]] | None = None,
    common_mbeans: list[str] | None = None,
) -> list[tuple[str, str]]:
    """servers × mbean-patterns → deduped scrape URL catalog.

    Reproduces return_url_set's cross product (reference
    Code/main.py:197-202, J1), the default-bean append per unique host
    (Code/JMXScraper.py:57-67), unknown-server-type defaulting
    (Code/main.py:65-69, O3) and the final dedupe (O1).

    Returns ordered (server_type, url) pairs — catalog-sized data, built
    driver-side exactly like the reference, then broadcast by the source.
    """
    mbeans = {**DEFAULT_MBEANS, **(mbeans or {})}
    common = common_mbeans if common_mbeans is not None else DEFAULT_COMMON_MBEANS
    out: list[tuple[str, str]] = []
    for server_type, hosts in servers.items():
        patterns = mbeans.get(server_type, ["kafka.*:*"])  # Discovered default
        for host, pattern in itertools.product(hosts, patterns + common):
            base = host if "://" in host else f"http://{host}"
            out.append((server_type, f"{base.rstrip('/')}/jolokia/read/{pattern}"))
    seen: set[tuple[str, str]] = set()
    deduped = []
    for pair in out:
        if pair not in seen:
            seen.add(pair)
            deduped.append(pair)
    return deduped


# threads per partition, the reference's default poll-thread count
# (reference Code/JMXScraper.py:149-183)
POLL_THREADS = 25


class _SlicePartition(InputPartition):
    def __init__(self, targets: list[tuple[str, str, str]], execution_ts: int):
        # (kind, server_type, url); kind is "jolokia" (HTTP GET) or
        # "connect" (two-phase REST)
        self.targets = targets
        self.execution_ts = execution_ts


def _slices(items: list, n: int) -> list[list]:
    """``items`` cut into ``n`` contiguous, near-equal, non-empty runs."""
    size, extra = divmod(len(items), n)
    bounds = [i * size + min(i, extra) for i in range(n + 1)]
    return [items[a:b] for a, b in zip(bounds, bounds[1:])]


def _read_partition(part: _SlicePartition, settings: dict):
    from concurrent.futures import ThreadPoolExecutor

    # two-phase REST scan collapsed into a synthetic Jolokia body
    # (S3/J4; reference Code/ConnectRESTMetrics.py:143-169)
    from kafka_metrics_exporter_spark.sources.connect_rest import (
        connect_snapshot_body,
    )
    from kafka_metrics_exporter_spark.sources.fetchers import resolve_fetcher

    fetcher, timeout = resolve_fetcher(settings["fetcher"]), settings["timeout"]
    # fetch options per target kind: TLS verification on every request,
    # basic auth on Connect REST only, like the reference's Connect
    # session (Code/ConnectRESTMetrics.py:99-111); an unset option is
    # not passed at all
    jolokia_opts = {"tls_verify": True} if settings["tls_verify"] else {}
    connect_opts = dict(jolokia_opts)
    if settings["user"] is not None:
        connect_opts.update(user=settings["user"], password=settings["password"])

    def fetch(target: tuple[str, str, str]) -> str | None:
        kind, _, url = target
        if kind == "connect":
            return connect_snapshot_body(
                url, lambda u: fetcher(u, timeout, **connect_opts)
            )
        return fetcher(url, timeout, **jolokia_opts)

    with ThreadPoolExecutor(min(len(part.targets), POLL_THREADS)) as pool:
        bodies = list(pool.map(fetch, part.targets))
    for (_, server_type, url), body in zip(part.targets, bodies):
        status = 200 if body is not None else 599
        # RAW_SCRAPE_SCHEMA order: target_url, server_type, execution_ts, status, body
        yield (url, server_type, part.execution_ts, status, body)


class _JolokiaReaderMixin:
    def __init__(self, options: dict):
        # read_jolokia's keyword arguments, as it serialized them
        self.settings = {
            **json.loads(options["settings"]),
            "password": json.loads(options["password"]),
        }
        self.catalog = [(t, u) for t, u in self.settings["catalog"]]

    def _discovered_catalog(self) -> list[tuple[str, str]]:
        # K8s pod discovery (S4, reference Code/main.py:120-133): called
        # from _partitions, i.e. ON EVERY TRIGGER, reproducing the
        # reference's per-cycle pod-list refresh (Code/main.py:274-282):
        # a pod added mid-stream joins the next micro-batch's scrape
        # set.  Catalog-sized, driver-side work, like the reference.
        from kafka_metrics_exporter_spark.sources.fetchers import resolve_fetcher
        from kafka_metrics_exporter_spark.sources.k8s_catalog import (
            pods_to_catalog,
        )

        s = self.settings
        pods = resolve_fetcher(s["discovery"])(**(s["discovery_kwargs"] or {}))
        discovered = pods_to_catalog(pods, **(s["discovery_annotations"] or {}))
        return build_url_catalog(
            discovered, mbeans=s["mbeans"], common_mbeans=s["common_mbeans"]
        )

    def _partitions(self, execution_ts: int):
        catalog = self.catalog
        if self.settings["discovery"]:
            # CLI-provided ∪ freshly-discovered, deduped in order
            # (merge_server_lists semantics at URL granularity)
            catalog = list(
                dict.fromkeys([*catalog, *self._discovered_catalog()])
            )
        targets = [("jolokia", t, u) for t, u in catalog]
        targets += [
            ("connect", "KafkaConnect", ep)
            for ep in self.settings["connect_endpoints"]
        ]
        if not targets:
            return []
        n = min(len(targets), self.settings["parallelism"])
        return [_SlicePartition(s, execution_ts) for s in _slices(targets, n)]

    def read(self, partition: _SlicePartition):
        yield from _read_partition(partition, self.settings)


class JolokiaBatchReader(_JolokiaReaderMixin, DataSourceReader):
    def partitions(self):
        return self._partitions(int(time.time() * 1000))


class JolokiaStreamReader(_JolokiaReaderMixin, DataSourceStreamReader):
    """One poll cycle per micro-batch.  The offset is the poll counter;
    each trigger stamps a fresh execution timestamp (the reference's
    wall-clock stamping, Code/JMXScraper.py:96, isolated to the source
    boundary so everything downstream is deterministic)."""

    def initialOffset(self):
        return {"poll": 0, "ts": int(time.time() * 1000)}

    def latestOffset(self):
        return {"poll": int(time.time() * 1000), "ts": int(time.time() * 1000)}

    def partitions(self, start: dict, end: dict):
        return self._partitions(int(end["ts"]))

    def commit(self, end: dict):
        pass


class JolokiaDataSource(DataSource):
    """spark.read/readStream.format("jolokia"), configured by
    ``read_jolokia``, which also documents the settings.

    Options (internal; ``read_jolokia`` sets both):
      settings — JSON object of read_jolokia's keyword arguments except
                 ``password``, plus ``parallelism``: the partition count
                 cap, the cluster's defaultParallelism.  The targets are
                 cut into min(#targets, parallelism) contiguous slices,
                 each fetched on up to POLL_THREADS threads.
      password — JSON Connect REST password, an option of its own so
                 that ``spark.redaction.regex`` masks it.

    Each Jolokia GET carries ``tls_verify``; each Connect REST GET
    carries ``tls_verify`` and the ``user``/``password`` basic auth.
    """

    @classmethod
    def name(cls) -> str:
        return "jolokia"

    def schema(self) -> str:
        return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in RAW_SCRAPE_SCHEMA)

    def reader(self, schema) -> JolokiaBatchReader:
        return JolokiaBatchReader(self.options)

    def streamReader(self, schema) -> JolokiaStreamReader:
        return JolokiaStreamReader(self.options)


def register_jolokia_source(spark: SparkSession) -> None:
    spark.dataSource.register(JolokiaDataSource)


def read_jolokia(
    spark: SparkSession,
    catalog: list[tuple[str, str]],
    fetcher: str = "kafka_metrics_exporter_spark.sources.fetchers:http_fetcher",
    timeout: float = 10.0,
    streaming: bool = False,
    connect_endpoints: Sequence[str] = (),
    user: str | None = None,
    password: str | None = None,
    tls_verify: bool = False,
    discovery: str | None = None,
    discovery_kwargs: dict | None = None,
    discovery_annotations: dict | None = None,
    mbeans: dict | None = None,
    common_mbeans: list | None = None,
) -> DataFrame:
    """Raw scrape rows (RAW_SCRAPE_SCHEMA) of one poll cycle, or a stream
    of one poll cycle per micro-batch with ``streaming``.

    catalog           — [(server_type, url), ...] (build_url_catalog)
    fetcher           — "module:attr" fetcher ref (default stdlib urllib GET)
    timeout           — per-call seconds (reference Code/main.py:117)
    connect_endpoints — Kafka Connect REST base URLs, one target each
    user, password    — basic auth for Connect REST requests only
                        (reference ConnectRESTMetrics.py:104-109)
    tls_verify        — verify TLS certs on every request (default off,
                        like the reference's session.verify)
    discovery         — "module:attr" pod-lister ref; resolved EVERY
                        trigger so the scrape set follows the cluster
                        (reference Code/main.py:274-282 per-cycle refresh)
    discovery_kwargs  — kwargs for the lister (label/field selectors,
                        kube context)
    discovery_annotations — kwargs for pods_to_catalog (annotation name
                        overrides, Code/main.py:124-129)
    mbeans, common_mbeans — build_url_catalog's patterns for DISCOVERED
                        servers (--jmx-*-poll-mbean, Code/main.py:144-151)
    """
    settings = {
        "catalog": list(catalog),
        "fetcher": fetcher,
        "timeout": timeout,
        "connect_endpoints": list(connect_endpoints),
        "user": user,
        "tls_verify": tls_verify,
        "discovery": discovery,
        "discovery_kwargs": discovery_kwargs,
        "discovery_annotations": discovery_annotations,
        "mbeans": mbeans,
        "common_mbeans": common_mbeans,
        "parallelism": spark.sparkContext.defaultParallelism,
    }
    register_jolokia_source(spark)
    reader = spark.readStream if streaming else spark.read
    return (
        reader.format("jolokia")
        .option("settings", json.dumps(settings))
        .option("password", json.dumps(password))
        .load()
    )
