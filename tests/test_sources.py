"""Source tests: catalog build (J1/O1/O3), Jolokia DataSource (S1/S2),
Connect REST two-phase scan through that source (S3/J4/J5), K8s catalog
provider (S4/P6/P7)."""

from __future__ import annotations

import json

import pytest
from conftest import run_fresh_python

from kafka_metrics_exporter_spark.operators import normalize_scrapes
from kafka_metrics_exporter_spark.sources.connect_rest import connect_snapshot_body
from kafka_metrics_exporter_spark.sources.jolokia import (
    build_url_catalog,
    read_jolokia,
)
from kafka_metrics_exporter_spark.sources.k8s_catalog import (
    build_selectors,
    merge_server_lists,
    pods_to_catalog,
)

FAKE = "kafka_metrics_exporter_spark.sources.fetchers:fake_jolokia_fetcher"


# --- catalog build ---------------------------------------------------------
def test_build_url_catalog_cross_product_and_default_beans():
    cat = build_url_catalog({"KafkaBroker": ["kafka1:49901", "kafka2:49901"]})
    urls = [u for _, u in cat]
    # 2 hosts × (1 broker pattern + 1 common default) = 4, deduped
    assert len(urls) == 4
    assert "http://kafka1:49901/jolokia/read/kafka.*:*" in urls
    assert "http://kafka1:49901/jolokia/read/java.lang:type=Memory" in urls


def test_build_url_catalog_unknown_type_gets_default_pattern():
    cat = build_url_catalog({"Discovered": ["10.0.0.5:8778"]}, common_mbeans=[])
    assert cat == [("Discovered", "http://10.0.0.5:8778/jolokia/read/kafka.*:*")]


def test_build_url_catalog_dedupes():
    cat = build_url_catalog(
        {"KafkaBroker": ["kafka1:49901", "kafka1:49901"]}, common_mbeans=[]
    )
    assert len(cat) == 1


# --- Jolokia DataSource ----------------------------------------------------
@pytest.fixture(scope="module")
def jolokia_batch(spark):
    cat = build_url_catalog(
        {"KafkaBroker": ["kafka1:49901"], "ZooKeeper": ["zk1:8778"]}
    )
    return read_jolokia(spark, cat, fetcher=FAKE).cache()


def test_jolokia_source_scans_every_url(jolokia_batch):
    rows = jolokia_batch.collect()
    assert len(rows) == 4  # one row per catalog URL
    assert all(r["http_status"] == 200 for r in rows)
    assert {r["server_type"] for r in rows} == {"KafkaBroker", "ZooKeeper"}


def test_jolokia_source_normalizes_end_to_end(jolokia_batch):
    m = normalize_scrapes(jolokia_batch)
    rows = m.collect()
    assert len(rows) > 4  # wildcard reads expand to multiple mbeans
    by_domain = {r["bean_domain"] for r in rows}
    assert "kafka.server" in by_domain and "java.lang" in by_domain
    assert all(r["host_name"] in ("kafka1:49901", "zk1:8778") for r in rows)


def test_jolokia_source_streaming_microbatch(spark, tmp_path):
    cat = build_url_catalog({"KafkaBroker": ["kafka1:49901"]}, common_mbeans=[])
    stream = read_jolokia(spark, cat, fetcher=FAKE, streaming=True)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("jolokia_smoke")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql("SELECT * FROM jolokia_smoke").collect()
    assert len(out) == 1 and out[0]["http_status"] == 200


# --- Jolokia DataSource: one slice of targets per partition ---------------
FAKE_BOTH = "tests.fake_connect_and_jolokia:fetch"
ENDPOINTS = ["http://connect1:8083", "http://connect2:8083"]


def _brokers(hosts: list[str]) -> list[tuple[str, str]]:
    return build_url_catalog({"KafkaBroker": hosts}, common_mbeans=[])


def test_jolokia_source_one_partition_per_core(spark):
    p = spark.sparkContext.defaultParallelism
    for n_hosts in (1, 2 * p):
        cat = _brokers([f"kafka{i}:49901" for i in range(n_hosts)])
        raw = read_jolokia(spark, cat, fetcher=FAKE_BOTH, connect_endpoints=ENDPOINTS)
        assert raw.rdd.getNumPartitions() == min(n_hosts + len(ENDPOINTS), p)


def test_jolokia_source_rows_in_catalog_order(spark):
    p = spark.sparkContext.defaultParallelism
    cat = build_url_catalog(
        {
            "KafkaBroker": [f"kafka{i}:49901" for i in range(2 * p)],
            "ZooKeeper": ["zk1:8778"],
        }
    )
    rows = read_jolokia(
        spark, cat, fetcher=FAKE_BOTH, connect_endpoints=ENDPOINTS
    ).collect()
    assert [(r["server_type"], r["target_url"]) for r in rows] == [
        *cat,
        *(("KafkaConnect", ep) for ep in ENDPOINTS),
    ]
    assert all(r["http_status"] == 200 for r in rows)


def test_jolokia_source_failed_fetch_fails_only_its_target(spark):
    from pyspark.sql import functions as F

    p = spark.sparkContext.defaultParallelism
    hosts = [f"kafka{i}:49901" for i in range(3 * p)]
    hosts[1] = "dead-kafka1:49901"
    cat = _brokers(hosts)
    rows = (
        read_jolokia(
            spark,
            cat,
            fetcher="tests.fake_slice_fetchers:fetch_failing_host",
            connect_endpoints=ENDPOINTS,
        )
        .withColumn("part", F.spark_partition_id())
        .collect()
    )
    dead = [r for r in rows if r["target_url"].startswith("http://dead-")]
    assert len(dead) == 1
    assert dead[0]["http_status"] == 599 and dead[0]["body"] is None
    mates = [r for r in rows if r["part"] == dead[0]["part"]]
    assert len(mates) > 1  # the dead target shares its slice
    assert all(r["http_status"] == 200 for r in rows if r is not dead[0])
    assert len(rows) == len(cat) + len(ENDPOINTS)


def test_jolokia_source_fetches_a_slice_concurrently(spark):
    """Every slice's targets meet at a barrier that a sequential fetch
    of the slice cannot pass before its timeout."""
    import uuid

    p = spark.sparkContext.defaultParallelism
    run, size = uuid.uuid4().hex[:8], 3
    cat = _brokers(
        [f"r{run}-s{s}-n{size}-{i}:8778" for s in range(p) for i in range(size)]
    )
    rows = read_jolokia(
        spark, cat, fetcher="tests.fake_slice_fetchers:barrier_fetch"
    ).collect()
    assert len(rows) == p * size
    assert all(r["http_status"] == 200 for r in rows)


# --- Connect REST ----------------------------------------------------------
def test_connect_rest_import_leaves_pandas_unloaded():
    """Every Jolokia source task imports connect_rest, so importing it
    must not pay for pandas (~0.5 s per new worker)."""
    assert run_fresh_python(
        "import sys\n"
        "import kafka_metrics_exporter_spark.sources.connect_rest\n"
        "print('pandas' in sys.modules)\n"
    ) == "False"


REST = "kafka.connect.api.rest:type=rest-api-metrics"


def _connect_metrics(spark, endpoints, **kw):
    """Connect endpoints read by the Jolokia source, then normalized:
    the daemon's path from Connect REST to metric rows."""
    return normalize_scrapes(
        read_jolokia(spark, [], connect_endpoints=endpoints, **kw)
    )


def test_connect_rest_endpoint_two_phase(spark):
    rows = {
        r["mbean_name"]: r
        for r in _connect_metrics(
            spark, ["http://connect1:8083"], fetcher="tests.fake_connect:fetch"
        ).collect()
    }
    # s3-sink has 2 tasks → 2 task rows; jdbc-source has none → 1 row
    assert len(rows) == 3
    task0 = rows[f"{REST},connector=s3-sink,connector-type=sink,task-id=0"]
    assert task0["attributes"]["connector-status"] == "RUNNING"
    assert task0["attributes"]["task-status"] == "RUNNING"
    assert task0["bean_domain"] == "kafka.connect.api.rest"
    assert task0["bean_props"]["connector"] == "s3-sink"
    assert task0["server_type"] == "KafkaConnect"
    assert task0["host_name"] == "connect1:8083"
    assert task0["num_attributes"] == {}
    conn_only = rows[f"{REST},connector=jdbc-source,connector-type=source"]
    assert conn_only["attributes"] == {"connector-status": "PAUSED"}


def test_connect_rest_task_rows_keep_parent_fields(spark):
    rows = _connect_metrics(
        spark, ["http://c:8083"], fetcher="tests.fake_connect:fetch_mixed_tasks"
    ).collect()
    assert len(rows) == 2
    assert all("connector=conn-a" in r["mbean_name"] for r in rows)
    assert all(r["attributes"]["connector-status"] == "RUNNING" for r in rows)
    tasks = {
        r["bean_props"]["task-id"]: (
            r["attributes"]["task-status"], r["attributes"]["task-worker-id"]
        )
        for r in rows
    }
    assert tasks == {"0": ("RUNNING", "w1:8083"), "1": ("FAILED", "w2:8083")}


def test_connect_rest_truncated_listing_fails_only_its_endpoint(spark):
    """A cut-off ``/connectors`` body is a failed fetch of that endpoint
    (a 599 row), not an error that fails the poll for every target."""
    cat = _brokers(["kafka1:49901"])
    raw = read_jolokia(
        spark,
        cat,
        fetcher="tests.fake_connect_and_jolokia:fetch_truncated_listing",
        connect_endpoints=["http://connect1:8083"],
    ).collect()
    assert [(r["target_url"], r["http_status"]) for r in raw] == [
        (cat[0][1], 200),
        ("http://connect1:8083", 599),
    ]
    assert raw[1]["body"] is None


def test_connect_snapshot_skips_unreadable_status():
    """A status body that is not valid JSON, or not a JSON object,
    skips its connector; the endpoint's other connectors stay."""
    from tests.fake_connect import fetch_bad_status

    body = connect_snapshot_body("http://c:8083", fetch_bad_status)
    assert list(json.loads(body)["value"]) == [
        f"{REST},connector=jdbc-source,connector-type=source"
    ]


# --- Basic auth + TLS options (S3 auth; reference
# Code/ConnectRESTMetrics.py:99-111 HTTPBasicAuth + session.verify) --------
@pytest.fixture(scope="module")
def auth_server():
    """Local HTTP server that 401s unless Authorization matches
    Basic base64('scott:tiger'); serves a minimal Connect REST API."""
    import base64
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    expected = "Basic " + base64.b64encode(b"scott:tiger").decode()

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            if self.headers.get("Authorization") != expected:
                self.send_response(401)
                self.end_headers()
                return
            if self.path == "/connectors":
                body = json.dumps(["s3-sink"])
            elif self.path == "/connectors/s3-sink/status":
                body = json.dumps(
                    {
                        "name": "s3-sink",
                        "type": "sink",
                        "connector": {"state": "RUNNING", "worker_id": "w1:8083"},
                        "tasks": [
                            {"id": 0, "state": "RUNNING", "worker_id": "w1:8083"}
                        ],
                    }
                )
            else:
                body = json.dumps({"status": 200, "value": 1.0})
            data = body.encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *a):  # quiet
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_http_fetcher_sends_basic_auth(auth_server):
    from kafka_metrics_exporter_spark.sources.fetchers import http_fetcher

    # no creds → 401 → skip-and-continue None
    assert http_fetcher(auth_server + "/connectors", 5.0) is None
    body = http_fetcher(
        auth_server + "/connectors", 5.0, user="scott", password="tiger"
    )
    assert json.loads(body) == ["s3-sink"]
    # wrong password → None, not an exception
    assert (
        http_fetcher(auth_server + "/connectors", 5.0, user="scott", password="x")
        is None
    )


def test_connect_rest_endpoint_with_auth(spark, auth_server):
    """Basic auth reaches both phases of the Connect scan."""
    rows = _connect_metrics(
        spark, [auth_server], user="scott", password="tiger"
    ).collect()
    assert len(rows) == 1
    assert rows[0]["attributes"]["task-status"] == "RUNNING"
    # without creds the listing 401s: the endpoint's 599 row, no metrics
    raw = read_jolokia(spark, [], connect_endpoints=[auth_server])
    assert [r["http_status"] for r in raw.collect()] == [599]
    assert normalize_scrapes(raw).count() == 0


def test_jolokia_targets_get_no_connect_credentials(spark, auth_server):
    """``user``/``password`` are Connect REST credentials: a Jolokia
    target on the same server is fetched without them (and so 401s),
    while the Connect endpoint in the same read is authorized."""
    cat = [("KafkaBroker", auth_server + "/jolokia/read/java.lang:type=Memory")]
    rows = read_jolokia(
        spark, cat, connect_endpoints=[auth_server], user="scott", password="tiger"
    ).collect()
    assert [(r["target_url"], r["http_status"]) for r in rows] == [
        (cat[0][1], 599),
        (auth_server, 200),
    ]


@pytest.fixture
def spaced_connect():
    """Local Connect REST server listing one connector named ``my
    sink``; it percent-decodes request paths, as Connect's server does."""
    import threading
    import urllib.parse
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    bodies = {
        "/connectors": ["my sink"],
        "/connectors/my sink/status": {
            "name": "my sink",
            "type": "sink",
            "connector": {"state": "RUNNING", "worker_id": "w1:8083"},
            "tasks": [{"id": 0, "state": "RUNNING", "worker_id": "w1:8083"}],
        },
    }

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            body = bodies.get(urllib.parse.unquote(self.path))
            if body is None:
                self.send_response(404)
                self.end_headers()
                return
            data = json.dumps(body).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *a):  # quiet
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    srv.server_close()


def test_connect_name_with_space_is_url_quoted(spark, spaced_connect):
    """A connector named ``my sink`` is fetched as ``my%20sink`` and
    yields its rows; the raw name would make an invalid URL and the
    connector would be skipped."""
    rows = _connect_metrics(spark, [spaced_connect]).collect()
    assert [(r["bean_props"]["connector"], r["attributes"]["task-status"])
            for r in rows] == [("my sink", "RUNNING")]


# --- K8s catalog -----------------------------------------------------------
def test_pods_to_catalog_annotation_gating():
    pods = [
        {"pod_ip": "10.0.0.1", "phase": "Running",
         "annotations": {"jolokia/is_enabled": "true", "jolokia/port": "8778"}},
        {"pod_ip": "10.0.0.2", "phase": "Running",
         "annotations": {"jolokia/is_enabled": "true", "jolokia/port": "8778",
                         "jolokia/server_type": "KafkaBroker"}},
        {"pod_ip": "10.0.0.3", "phase": "Running", "annotations": {}},  # not enabled
        {"pod_ip": "10.0.0.4", "phase": "Pending",
         "annotations": {"jolokia/is_enabled": "true", "jolokia/port": "8778"}},
        {"pod_ip": "10.0.0.5", "phase": "Running",
         "annotations": {"jolokia/is_enabled": "true"}},  # no port
    ]
    cat = pods_to_catalog(pods)
    assert cat == {
        "Discovered": ["http://10.0.0.1:8778"],
        "KafkaBroker": ["http://10.0.0.2:8778"],
    }


def test_selectors_force_running_phase():
    labels, fields = build_selectors({"app": "kafka"}, {"spec.nodeName": "n1"})
    assert labels == "app=kafka"
    assert "status.phase=Running" in fields and "spec.nodeName=n1" in fields


def test_merge_server_lists_union_and_new_types():
    merged = merge_server_lists(
        {"KafkaBroker": ["http://k1:1", "http://k2:1"]},
        {"KafkaBroker": ["http://k2:1", "http://k3:1"], "KSQL": ["http://q1:1"]},
    )
    assert merged["KafkaBroker"] == ["http://k1:1", "http://k2:1", "http://k3:1"]
    assert merged["KSQL"] == ["http://q1:1"]


def test_connect_endpoints_ride_the_datasource(spark):
    """Connect REST endpoints become extra source targets emitting a
    synthetic Jolokia envelope that the stock normalizer consumes."""
    from kafka_metrics_exporter_spark.sources.jolokia import read_jolokia

    cat = build_url_catalog({"KafkaBroker": ["kafka1:49901"]}, common_mbeans=[])
    raw = read_jolokia(
        spark,
        cat,
        fetcher="tests.fake_connect_and_jolokia:fetch",
        connect_endpoints=["http://connect1:8083"],
    )
    rows = raw.collect()
    assert len(rows) == 2  # 1 jolokia URL + 1 connect endpoint
    m = normalize_scrapes(raw)
    by_domain = {}
    for r in m.collect():
        by_domain.setdefault(r["bean_domain"], []).append(r)
    assert "kafka.connect.api.rest" in by_domain
    connect_rows = by_domain["kafka.connect.api.rest"]
    assert len(connect_rows) == 3  # 2 task rows + 1 connector-only row
    assert all(r["server_type"] == "KafkaConnect" for r in connect_rows)
    assert any(
        r["bean_props"].get("task-id") == "0"
        and r["attributes"]["task-status"] == "RUNNING"
        for r in connect_rows
    )
