"""A seeded stand-in for a Kafka cluster's Jolokia agents and Kafka
Connect REST workers.

Every response is a pure function of ``(seed, url, tick)``: the seed
rides in the host names (``s<seed>-broker-03``), so the engine's source
tasks, which only see URLs, can call :func:`fetch` by its
``perfbench.cluster:fetch`` reference in any worker process and get the
same bodies the driver-side generator predicts.  Nothing here touches
the network.

Shape: 12 brokers and 3 Connect workers answer wildcard ``kafka.*:*``
reads with 100-300 MBeans each; 3 ZooKeeper nodes answer one exact read
(the bare-attribute form the engine rewraps); 2 Connect REST endpoints
list 10 connectors with 0-3 tasks each.  Exactly three brokers fail, one
of each kind: no response (``None``), a Jolokia ``status: 404``
envelope, and a body cut off mid-JSON.

The seed decides which target gets which size, which brokers fail and
every value, but not the sizes themselves: every seed delivers the same
number of records per cycle, so run-to-run differences are the
program's, not the input's.
"""

from __future__ import annotations

import functools
import hashlib
import json
import random
import re

N_BROKERS, N_ZK, N_CONNECT, N_REST = 12, 3, 3, 2
SCRAPE_INTERVAL_S = 15
FAIL_KINDS = ("http", "jolokia_404", "truncated")
LE_BOUNDS = ("0.005", "0.01", "0.05", "0.1", "0.5", "1", "5", "+Inf")
ZK_BEAN = "org.apache.ZooKeeperService:name0=ReplicatedServer_id1"
REQUESTS = ("Produce", "FetchConsumer", "FetchFollower", "Metadata", "OffsetCommit")
# MBeans per wildcard target: fixed multisets the seed permutes; the
# failing brokers always hold the sizes at FAILING_SLOTS
BROKER_BEANS = tuple(100 + round(200 * i / (N_BROKERS - 1)) for i in range(N_BROKERS))
CONNECT_BEANS = (150, 200, 250)
FAILING_SLOTS = (0, 5, 11)
# tasks per connector on each REST endpoint, permuted by the seed
CONNECTOR_TASKS = (0, 1, 1, 2, 2, 2, 3, 3, 1, 2)

_HOST_RE = re.compile(r"^https?://s(\d+)-([a-z]+)-(\d+)[:/]")


def _h(*parts) -> int:
    """Stable 64-bit hash (Python's ``hash`` is salted per process)."""
    d = hashlib.blake2b("|".join(map(str, parts)).encode(), digest_size=8)
    return int.from_bytes(d.digest(), "big")


def servers(seed: int) -> dict[str, list[str]]:
    """The cluster's Jolokia agents per server type (engine CLI shape)."""
    return {
        "KafkaBroker": [f"s{seed}-broker-{i:02d}:8778" for i in range(N_BROKERS)],
        "ZooKeeper": [f"s{seed}-zk-{i}:8778" for i in range(N_ZK)],
        "KafkaConnect": [f"s{seed}-connect-{i}:8778" for i in range(N_CONNECT)],
    }


# per-type poll patterns: ZooKeeper takes the exact-read path
MBEANS = {"ZooKeeper": [ZK_BEAN]}


def rest_endpoints(seed: int) -> list[str]:
    return [f"http://s{seed}-rest-{i}:8083" for i in range(N_REST)]


@functools.lru_cache(maxsize=4)
def _layout(seed: int) -> tuple[dict[str, int], dict[str, str]]:
    """(url → MBean count, url → failure kind) for the wildcard targets."""
    rng = random.Random(seed)
    cat = catalog(seed)
    brokers = [u for t, u in cat if t == "KafkaBroker"]
    connect = [u for t, u in cat if t == "KafkaConnect"]
    rng.shuffle(brokers)
    failing, healthy = brokers[:len(FAIL_KINDS)], brokers[len(FAIL_KINDS):]
    sizes = {u: BROKER_BEANS[i] for u, i in zip(failing, FAILING_SLOTS)}
    rest = [b for i, b in enumerate(BROKER_BEANS) if i not in FAILING_SLOTS]
    rng.shuffle(rest)
    sizes.update(zip(healthy, rest))
    sized = list(CONNECT_BEANS)
    rng.shuffle(sized)
    sizes.update(zip(connect, sized))
    return sizes, dict(zip(failing, FAIL_KINDS))


def failures(seed: int) -> dict[str, str]:
    """url → failure kind for the three failing brokers."""
    return _layout(seed)[1]


def n_beans(seed: int, url: str) -> int:
    return _layout(seed)[0][url]


def _broker_beans(seed: int, url: str, tick: int) -> dict[str, dict]:
    """Broker-shaped wildcard body: latency buckets and two gauges, then
    per-topic counters and per-request percentiles until ``n_beans``."""
    base = _h(seed, "base", url) % 10_000
    rate = 1 + _h(seed, "rate", url) % 50
    t = tick * SCRAPE_INTERVAL_S
    beans: dict[str, dict] = {}
    for j, le in enumerate(LE_BOUNDS):
        frac = (j + 1) / len(LE_BOUNDS)
        beans[
            f"kafka.network:type=RequestMetrics,name=LatencyBucket,le={le}"
        ] = {"Value": round(base * frac + rate * t * frac, 3)}
    beans["kafka.server:type=ReplicaManager,name=UnderReplicatedPartitions"] = {
        "Value": _h(seed, "urp", url, tick) % 3
    }
    beans["kafka.controller:type=KafkaController,name=ActiveControllerCount"] = {
        "Value": int(url.endswith("00:8778/jolokia/read/kafka.*:*"))
    }
    i = 0
    target = n_beans(seed, url)
    while len(beans) < target:
        family, k = i % 4, i // 4
        if family == 0:
            beans[
                f"kafka.server:type=BrokerTopicMetrics,name=MessagesInPerSec,topic=t{k}"
            ] = {
                "Count": base + k + rate * (k % 7 + 1) * t,
                "MeanRate": round(rate * (k % 7 + 1) * 0.97, 3),
                "OneMinuteRate": round(rate * (k % 7 + 1) * 1.01, 3),
            }
        elif family == 1:
            beans[
                f"kafka.server:type=BrokerTopicMetrics,name=BytesInPerSec,topic=t{k}"
            ] = {
                "Count": (base + k) * 100 + rate * 512 * (k % 5 + 1) * t,
                "OneMinuteRate": round(rate * 512.0 * (k % 5 + 1), 3),
            }
        elif family == 2:
            req = REQUESTS[k % len(REQUESTS)]
            beans[
                f"kafka.network:type=RequestMetrics,name=TotalTimeMs,request={req}{k}"
            ] = {
                "50thPercentile": round(1 + (base + k + tick) % 17 * 0.5, 3),
                "99thPercentile": round(20 + (base + k + tick) % 31 * 1.5, 3),
                "Count": base + rate * t,
                "Mean": round(3 + (base + k) % 11 * 0.25, 3),
            }
        else:
            beans[f"kafka.log:type=Log,name=Size,partition=p{k}"] = {
                "Value": (base + k) * 1024 + rate * t
            }
        i += 1
    return beans


def _connect_beans(seed: int, url: str, tick: int) -> dict[str, dict]:
    beans: dict[str, dict] = {}
    i = 0
    target = n_beans(seed, url)
    rate = 1 + _h(seed, "rate", url) % 20
    while len(beans) < target:
        c, task = i // 4, i % 4
        beans[
            f"kafka.connect:type=connector-task-metrics,connector=c{c},task={task}"
        ] = {
            "batch-size-avg": round(10 + (c + task) % 9 * 1.5, 3),
            "offset-commit-success-percentage": 100.0,
            "running-ratio": round(0.5 + (c * 7 + task) % 50 / 100, 3),
            "records-total": rate * tick * SCRAPE_INTERVAL_S + c,
        }
        i += 1
    return beans


def jolokia_value(seed: int, url: str, tick: int) -> tuple[str, object]:
    """(request mbean, value) for one successful Jolokia read."""
    mbean = url.split("/jolokia/read/", 1)[1]
    if mbean == ZK_BEAN:
        return mbean, {
            "AvgRequestLatency": _h(seed, "zk", url, tick) % 9,
            "OutstandingRequests": _h(seed, "zko", url, tick) % 4,
            "NumAliveConnections": 10 + _h(seed, "zkc", url) % 40,
        }
    if "-connect-" in url:
        return mbean, _connect_beans(seed, url, tick)
    return mbean, _broker_beans(seed, url, tick)


def jolokia_body(seed: int, url: str, tick: int, fail: str | None) -> str | None:
    if fail == "http":
        return None
    mbean, value = jolokia_value(seed, url, tick)
    if fail == "jolokia_404":
        return json.dumps(
            {
                "request": {"mbean": mbean, "type": "read"},
                "error_type": "javax.management.InstanceNotFoundException",
                "error": f"javax.management.InstanceNotFoundException : {mbean}",
                "status": 404,
            }
        )
    body = json.dumps(
        {"request": {"mbean": mbean, "type": "read"}, "status": 200, "value": value}
    )
    if fail == "truncated":
        return body[: len(body) // 2]
    return body


def records_per_body(seed: int, url: str) -> int:
    """Normalized records one successful read yields (one per MBean)."""
    return 1 if url.endswith(ZK_BEAN) else n_beans(seed, url)


def connectors(seed: int, endpoint: str) -> list[str]:
    return [f"conn-{k}" for k in range(len(CONNECTOR_TASKS))]


@functools.lru_cache(maxsize=8)
def _tasks(seed: int, endpoint: str) -> tuple[int, ...]:
    tasks = list(CONNECTOR_TASKS)
    random.Random(f"{seed}|{endpoint}").shuffle(tasks)
    return tuple(tasks)


def connector_status(seed: int, endpoint: str, name: str) -> dict:
    n_tasks = _tasks(seed, endpoint)[int(name.rsplit("-", 1)[1])]
    workers = [f"w{w}:8083" for w in range(3)]
    return {
        "name": name,
        "type": "sink" if _h(seed, "type", name) % 2 else "source",
        "connector": {"state": "RUNNING", "worker_id": workers[0]},
        "tasks": [
            {"id": t, "state": "RUNNING" if t % 3 else "PAUSED",
             "worker_id": workers[t % 3]}
            for t in range(n_tasks)
        ],
    }


def connect_records(seed: int, endpoint: str) -> int:
    """Normalized records one Connect REST snapshot yields (one per task,
    or one per connector without tasks)."""
    return sum(
        max(1, len(connector_status(seed, endpoint, n)["tasks"]))
        for n in connectors(seed, endpoint)
    )


def fetch(url: str, timeout: float = 10.0, **_opts) -> str | None:
    """The engine's fetcher contract: ``f(url, timeout) -> body | None``.
    Serves the live cluster at tick 0 (the streaming exporter re-reads
    the same snapshot every cycle)."""
    m = _HOST_RE.match(url)
    if m is None:
        return None
    seed, kind = int(m.group(1)), m.group(2)
    if kind == "rest":
        endpoint = url.split("/connectors", 1)[0]
        if url.endswith("/connectors"):
            return json.dumps(connectors(seed, endpoint))
        name = url.rsplit("/", 2)[-2]
        return json.dumps(connector_status(seed, endpoint, name))
    return jolokia_body(seed, url, 0, failures(seed).get(url))


def catalog(seed: int) -> list[tuple[str, str]]:
    from kafka_metrics_exporter_spark.sources.jolokia import build_url_catalog

    return build_url_catalog(servers(seed), mbeans=MBEANS, common_mbeans=[])


def expected_cycle(seed: int) -> dict[str, int]:
    """What one poll cycle over the whole catalog must deliver."""
    cat = catalog(seed)
    fails = failures(seed)
    jolokia = sum(records_per_body(seed, u) for _, u in cat if u not in fails)
    rest = sum(connect_records(seed, ep) for ep in rest_endpoints(seed))
    return {
        "targets": len(cat) + N_REST,
        "failed_targets": len(fails),
        "records": jolokia + rest,
        "fetch_calls": len(cat) + sum(
            1 + len(connectors(seed, ep)) for ep in rest_endpoints(seed)),
    }


def fetch_logged(url: str, timeout: float = 10.0, **opts) -> str | None:
    """:func:`fetch` that also appends ``<outcome> <bytes>`` per call to a
    per-process file under ``$PERFBENCH_FETCH_LOG`` (the traced run's
    source probe; the timed stream uses plain :func:`fetch`)."""
    import os

    body = fetch(url, timeout, **opts)
    m = _HOST_RE.match(url)
    outcome = "ok"
    if m and m.group(2) != "rest":
        outcome = failures(int(m.group(1))).get(url, "ok")
    elif body is None:
        outcome = "http"
    path = os.path.join(os.environ["PERFBENCH_FETCH_LOG"], str(os.getpid()))
    with open(path, "a") as fh:
        fh.write(f"{outcome} {len(body.encode()) if body else 0}\n")
    return body
