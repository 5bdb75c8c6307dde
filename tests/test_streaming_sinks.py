"""Streaming smoke (SURVEY §5 item 4) + sink shaping tests:
micro-batch through normalize → watermarked window agg → memory sink;
ES bulk payloads; Kafka record shaping; daily-parquet stand-in."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from kafka_metrics_exporter_spark.sinks import es_bulk
from kafka_metrics_exporter_spark.sinks.es_bulk import (
    es_bulk_foreach_batch,
    write_daily_parquet,
)
from kafka_metrics_exporter_spark.sinks.kafka_sink import (
    kafka_sink_options,
    to_kafka_records,
)
from kafka_metrics_exporter_spark.sources.jolokia import build_url_catalog
from kafka_metrics_exporter_spark.streaming.pipeline import (
    streaming_metrics,
    windowed_rollup,
)

FAKE = "kafka_metrics_exporter_spark.sources.fetchers:fake_jolokia_fetcher"


@pytest.fixture(scope="module")
def metrics_batch(spark):
    """Two-poll static metrics batch (deterministic timestamps)."""
    rows = []
    for poll, ts in enumerate([1700000000000, 1700000045000]):
        for host in ["b1:8778", "b2:8778"]:
            rows.append(
                (
                    "kafka.server:type=BrokerTopicMetrics,name=MessagesInPerSec",
                    "kafka.server",
                    "KafkaBroker",
                    host,
                    ts,
                    [("type", "BrokerTopicMetrics"), ("name", "MessagesInPerSec")],
                    [("Count", str(100 * (poll + 1)))],
                )
            )
    df = spark.createDataFrame(
        rows,
        "mbean_name string, bean_domain string, server_type string, host_name string,"
        "created_ms long, props array<struct<key:string,value:string>>,"
        "attrs array<struct<key:string,value:string>>",
    )
    return df.select(
        "mbean_name",
        "bean_domain",
        "server_type",
        "host_name",
        F.timestamp_millis("created_ms").alias("created_ts"),
        F.col("created_ms"),
        F.map_from_entries("props").alias("bean_props"),
        F.map_from_entries("attrs").alias("attributes"),
        F.map_from_entries("attrs").alias("_a"),
    ).withColumn(
        "num_attributes",
        F.map_filter(
            F.transform_values("_a", lambda _, v: v.try_cast("double")),
            lambda _, v: v.isNotNull(),
        ),
    ).drop("_a")


def test_streaming_pipeline_windowed_rollup(spark, tmp_path):
    cat = build_url_catalog({"KafkaBroker": ["kafka1:49901", "kafka2:49901"]})
    metrics = streaming_metrics(spark, cat, fetcher=FAKE)
    assert metrics.isStreaming
    rollup = windowed_rollup(metrics, "1 minute", "2 minutes")
    q = (
        rollup.writeStream.format("memory")
        .queryName("rollup_smoke")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows; with a single
    # poll nothing is final yet — the state machinery ran end-to-end
    spark.sql("SELECT * FROM rollup_smoke").collect()


def test_windowed_rollup_batch_semantics(metrics_batch):
    """Same logical plan on a static frame: values are checkable."""
    out = {
        (r["host_name"], str(r["window_start"])): r
        for r in windowed_rollup(metrics_batch, "1 minute", "2 minutes").collect()
    }
    assert len(out) == 4  # 2 hosts × 2 one-minute windows
    for (_, _), r in out.items():
        assert r["n_samples"] == 1
    sums = sorted(r["sum_value"] for r in out.values())
    assert sums == [100.0, 100.0, 200.0, 200.0]


def _dir_capture_poster(capture_dir):
    """File-based capturing poster: es_bulk_foreach_batch POSTs from
    executor worker processes, so a driver-side list can't observe the
    calls — a shared directory can (local mode and tests only)."""

    def post(index_name: str, payload: str) -> bool:
        import os
        import uuid

        fname = os.path.join(capture_dir, f"{index_name}__{uuid.uuid4().hex}.ndjson")
        with open(fname, "w", encoding="utf-8") as fh:
            fh.write(payload)
        return True

    return post


def _posted(batch_df, tmp_path) -> dict[str, str]:
    """Run the ES sink over ``batch_df``; {file name: payload} posted."""
    cap = tmp_path / "posted"
    cap.mkdir(parents=True)
    es_bulk_foreach_batch(_dir_capture_poster(str(cap)))(batch_df, 0)
    return {f.name: f.read_text(encoding="utf-8") for f in cap.glob("*.ndjson")}


def _docs(payload: str) -> list[dict]:
    """The docs of one payload, checking its action/doc line pairs."""
    lines = payload.split("\n")
    assert len(lines) % 2 == 0
    assert all(line == '{"index":{"_type":"doc"}}' for line in lines[::2])
    return [json.loads(line) for line in lines[1::2]]


def test_to_bulk_ndjson_daily_index_and_action_lines(metrics_batch, tmp_path):
    """One partition under the default bound: the whole day goes out as
    one payload to the daily index, in action/doc line pairs."""
    posted = _posted(metrics_batch.coalesce(1), tmp_path)
    assert len(posted) == 1
    ((name, payload),) = posted.items()
    assert name.startswith("kafka-jmx-logs-2023-11-14__")
    lines = payload.split("\n")
    assert len(lines) == 8  # 4 docs × (action + doc)
    assert lines[0] == '{"index":{"_type":"doc"}}'
    doc = json.loads(lines[1])
    assert doc["mbeanName"].startswith("kafka.server:")
    assert doc["injectedServerType"] == "KafkaBroker"


def test_es_bulk_foreach_batch_posts_executor_side(metrics_batch, tmp_path):
    """Every doc arrives once, in action/doc line pairs, posted to the
    daily index from the executors."""
    posted = _posted(metrics_batch, tmp_path)
    assert posted
    assert all(n.startswith("kafka-jmx-logs-2023-11-14__") for n in posted)
    docs = [d for payload in posted.values() for d in _docs(payload)]
    # every metric row delivered exactly once
    assert sorted((d["injectedHostName"], d["createdDateTime"]) for d in docs) == sorted(
        (r["host_name"], str(r["created_ms"]))
        for r in metrics_batch.select("host_name", "created_ms").collect()
    )
    assert all(d["injectedServerType"] == "KafkaBroker" for d in docs)
    assert all(d["mbeanName"].startswith("kafka.server:") for d in docs)


def test_es_bulk_failed_post_fails_the_batch(metrics_batch):
    """A poster that gives up (returns False, as http_bulk_poster does
    once its retries are spent) makes the foreachBatch writer raise,
    naming the index, so the micro-batch is retried instead of being
    committed without its docs."""

    def down(index_name: str, payload: str) -> bool:
        return False

    with pytest.raises(Exception, match="kafka-jmx-logs-2023-11-14"):
        es_bulk_foreach_batch(down)(metrics_batch.coalesce(1), 0)


def test_es_bulk_payloads_stay_within_the_byte_bound(
    metrics_batch, tmp_path, monkeypatch
):
    """One partition: one payload under the default bound; under a bound
    of two docs, several payloads, none past the bound, docs conserved."""
    one = metrics_batch.coalesce(1)
    (whole,) = _posted(one, tmp_path / "default").values()
    assert len(_docs(whole)) == 4
    lines = whole.split("\n")
    bound = 2 * max(len(f"{lines[0]}\n{d}\n".encode()) for d in lines[1::2])
    monkeypatch.setattr(es_bulk, "MAX_BULK_BYTES", bound)
    posted = _posted(one, tmp_path / "bounded")
    assert len(posted) >= 2
    assert all(len(p.encode("utf-8")) + 1 <= bound for p in posted.values())
    docs = sorted(json.dumps(d, sort_keys=True) for p in posted.values() for d in _docs(p))
    assert docs == sorted(json.dumps(d, sort_keys=True) for d in _docs(whole))


def test_bulk_payloads_count_utf8_bytes():
    """The bound counts UTF-8 bytes of the POST body, not characters."""
    doc = '{"v":"' + "é" * 10 + '"}'  # 18 characters, 28 bytes
    entry = len(f'{{"index":{{"_type":"doc"}}}}\n{doc}\n'.encode())
    out = list(es_bulk._bulk_payloads([("i", doc)] * 5, 2 * entry))
    assert [len(_docs(p)) for _, p in out] == [2, 2, 1]
    assert all(len(p.encode()) + 1 <= 2 * entry for _, p in out)
    # a doc larger than the bound alone still goes out, on its own
    out = list(es_bulk._bulk_payloads([("i", doc), ("j", doc), ("i", doc)], 10))
    assert [(i, len(_docs(p))) for i, p in out] == [("i", 1), ("i", 1), ("j", 1)]


def test_write_daily_parquet_partitions(metrics_batch, spark, tmp_path):
    path = str(tmp_path / "daily")
    write_daily_parquet(metrics_batch, path)
    back = spark.read.parquet(path)
    assert back.count() == 4
    # partition values are type-inferred on read-back (string → date)
    got = {
        str(v) for v in back.select("event_date").distinct().toPandas()["event_date"]
    }
    assert got == {"2023-11-14"}


def test_kafka_record_shape(metrics_batch):
    recs = to_kafka_records(metrics_batch).collect()
    assert len(recs) == 4
    doc = json.loads(recs[0]["value"])
    assert {"mbeanName", "injectedHostName", "createdDateTime"} <= set(doc)
    assert recs[0]["timestamp"] is not None


def test_kafka_sink_options_match_reference_tuning():
    opts = kafka_sink_options("k1:9092")
    assert opts["topic"] == "jmx_data_ingestion_pipeline"
    assert opts["kafka.compression.type"] == "snappy"
    assert opts["kafka.retries"] == "10"
    assert opts["kafka.linger.ms"] == "50"


def test_daily_parquet_partition_pruning(spark, tmp_path):
    """The daily-parquet stand-in must give date-filtered queries real
    partition pruning: a one-day filter's scan shows a PartitionFilters
    entry and reads only that partition's files — the lake-layout twin
    of querying a single daily ES index."""
    import contextlib
    import datetime as dt
    import io

    from pyspark.sql import functions as F

    from kafka_metrics_exporter_spark.sinks.es_bulk import write_daily_parquet

    path = str(tmp_path / "daily_pq")
    rows = [
        ("kafka.server:type=T,name=N", dt.datetime(2024, 1, d, 12, 0), float(d))
        for d in (1, 2, 3)
        for _ in range(10)
    ]
    df = spark.createDataFrame(
        rows, "mbean_name string, created_ts timestamp, value double"
    )
    write_daily_parquet(df, path)

    lake = spark.read.parquet(path)
    q = lake.filter(F.col("event_date") == "2024-01-02")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    p = buf.getvalue()
    assert "PartitionFilters" in p
    pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln][0]
    assert "event_date" in pf
    assert q.count() == 10


def test_full_lifecycle_reference_loop(spark, tmp_path):
    """VERDICT r4 item 3 (carried from r3): the reference's §3.1 poll
    loop (Code/main.py:262-287 — scrape, normalize, rewrite, aggregate
    for the dashboards, fan out to Kafka + ES) driven END-TO-END in one
    streaming micro-batch: jolokia DataSource → normalize_scrapes →
    compiled YAML-style rule rewrite → compiled PromQL panel agg →
    Kafka-shaped records AND ES bulk NDJSON, with sink payloads and the
    panel values asserted against the fake fetcher's arithmetic."""
    import json as _json
    import re as _re

    from kafka_metrics_exporter_spark.promql import compile_promql
    from kafka_metrics_exporter_spark.rules.compiler import (
        RewriteRule,
        build_match_string,
        compile_rules,
    )
    from kafka_metrics_exporter_spark.sources.fetchers import fake_jolokia_fetcher

    cat = build_url_catalog({"KafkaBroker": ["kafka1:49901", "kafka2:49901"]})
    metrics = streaming_metrics(spark, cat, fetcher=FAKE)
    assert metrics.isStreaming

    # the shipped-YAML shape: counter rule over the PerSec beans
    rules = [
        RewriteRule(
            pattern=(
                r"kafka.server<type=(\w+), name=(\w+)PerSec"
                r"(?:, topic=(\w+))?><>Count: (.*)"
            ),
            name_tmpl="kafka_brokers_$1_$2_total",
            labels_tmpl={"topic": "$3"},
            metric_type="COUNTER",
        ),
    ]
    apply_rules = compile_rules(rules, lowercase=True)

    kafka_dir = tmp_path / "kafka_records"
    panel_dir = tmp_path / "panel"
    es_cap = tmp_path / "posted"
    es_cap.mkdir()
    es_write = es_bulk_foreach_batch(_dir_capture_poster(str(es_cap)))

    def batch_fn(batch_df, epoch_id):
        batch_df.persist()
        # S5: Kafka-shaped records (key/value/timestamp)
        to_kafka_records(batch_df).write.mode("overwrite").parquet(str(kafka_dir))
        # S6: ES bulk NDJSON POSTs (executor-side)
        es_write(batch_df, epoch_id)
        # rules rewrite over (bean, attribute) pairs → metric series
        exploded = batch_df.select(
            "bean_domain",
            "bean_props",
            "host_name",
            "created_ts",
            F.explode("attributes").alias("attr", "sval"),
            F.col("num_attributes"),
        )
        ms = build_match_string(
            F.col("bean_domain"), F.col("bean_props"), F.col("attr"), F.col("sval")
        )
        rw = exploded.select(
            "host_name",
            "created_ts",
            apply_rules(ms, F.element_at("num_attributes", F.col("attr"))).alias(
                "_rw"
            ),
        ).filter(F.col("_rw").isNotNull())
        series = rw.select(
            F.col("_rw.metric_name").alias("name"),
            F.col("created_ts").alias("ts"),
            F.col("_rw.value").alias("value"),
            F.col("host_name").alias("instance"),
            F.element_at(F.col("_rw.labels"), "topic").alias("topic"),
        )
        # the dashboard panel: per-broker message-in total
        panel = compile_promql(
            "sum by (instance) (kafka_brokers_brokertopicmetrics_messagesin_total)"
        ).evaluate(series)
        panel.write.mode("overwrite").parquet(str(panel_dir))
        batch_df.unpersist()

    q = (
        metrics.writeStream.foreachBatch(batch_fn)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(180)

    # --- Kafka sink payloads -------------------------------------------
    recs = spark.read.parquet(str(kafka_dir)).collect()
    assert len(recs) > 0
    docs = [_json.loads(r["value"]) for r in recs]
    assert all(
        {"mbeanName", "injectedHostName", "createdDateTime"} <= set(d) for d in docs
    )
    assert {d["injectedHostName"] for d in docs} == {"kafka1:49901", "kafka2:49901"}

    # --- ES sink payloads ----------------------------------------------
    files = sorted(es_cap.glob("*.ndjson"))
    assert files and all(f.name.startswith("kafka-jmx-logs-") for f in files)
    es_docs = []
    for f in files:
        lines = f.read_text(encoding="utf-8").split("\n")
        assert all(line == '{"index":{"_type":"doc"}}' for line in lines[::2])
        es_docs.extend(_json.loads(line) for line in lines[1::2])
    # every normalized metric row reaches BOTH sinks exactly once
    assert len(es_docs) == len(recs)

    # --- compiled panel values vs the fake fetcher's arithmetic --------
    expected: dict[str, float] = {}
    for _stype, url in cat:
        env = _json.loads(fake_jolokia_fetcher(url))
        value = env["value"]
        if not isinstance(value, dict):
            continue
        host = _re.search(r"//([^/]+)/", url).group(1)
        for mbean, attrs in value.items():
            if isinstance(attrs, dict) and "MessagesInPerSec" in mbean:
                expected[host] = expected.get(host, 0.0) + float(attrs["Count"])
    got = {
        r["instance"]: r["value"]
        for r in spark.read.parquet(str(panel_dir)).collect()
    }
    assert got == expected and len(got) == 2
