"""Daemon CLI (SURVEY §3.1 entry): arg validation and a full --once
cycle through catalog → stream → daily-parquet sink."""

from __future__ import annotations

import pytest
from conftest import reference_path

from kafka_metrics_exporter_spark.app import build_catalog, build_parser, main

FAKE = "kafka_metrics_exporter_spark.sources.fetchers:fake_jolokia_fetcher"


def test_requires_a_source():
    with pytest.raises(SystemExit):
        main(["--sink-parquet", "/tmp/never-used"])


def test_requires_a_sink():
    with pytest.raises(SystemExit):
        main(["--jmx-kafka-server", "k1:1"])


def test_catalog_from_args():
    args = build_parser().parse_args(
        ["--jmx-kafka-server", "k1:49901", "--jmx-zk-server", "z1:8778",
         "--sink-parquet", "/tmp/x"]
    )
    cat = build_catalog(args)
    types = {t for t, _ in cat}
    assert types == {"KafkaBroker", "ZooKeeper"}
    assert any(u.endswith("java.lang:type=Memory") for _, u in cat)


def test_once_cycle_to_parquet(spark, tmp_path):
    rc = main(
        [
            "--jmx-kafka-server", "kafka1:49901",
            "--fetcher", FAKE,
            "--sink-parquet", str(tmp_path / "out"),
            "--checkpoint", str(tmp_path / "ckpt"),
            "--once",
        ],
        spark=spark,
    )
    assert rc == 0
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() > 0
    assert {r["bean_domain"] for r in back.select("bean_domain").distinct().collect()} == {
        "kafka.server",
        "java.lang",
    }


def test_query_mode_requires_metrics_path():
    with pytest.raises(SystemExit):
        main(["--query-promql", "sum(up)"])


def test_query_mode_promql_instant_and_range(spark, tmp_path, capsys):
    rows = [
        ("click", "2024-01-01 00:00:00", 0.0, "u1"),
        ("click", "2024-01-01 00:01:00", 60.0, "u1"),
        ("click", "2024-01-01 00:02:00", 120.0, "u1"),
    ]
    df = spark.createDataFrame(rows, "name string, ts string, value double, user_id string")
    df = df.withColumn("ts", df["ts"].cast("timestamp"))
    path = str(tmp_path / "metrics")
    df.write.parquet(path)

    rc = main(
        ["--query-metrics", path, "--query-promql",
         'sum by (user_id) (rate(click[5m]))'],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "u1" in out and "1.0" in out  # 60/min counter -> 1.0/s

    rc = main(
        ["--query-metrics", path, "--query-promql",
         'sum by (user_id) (rate(click[2m]))', "--query-step", "60"],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "u1" in out

    # round 12: opt-in instant-mode extrapolation — at t=2m the (0,2m]
    # window holds samples 1m/2m only (0m is excluded by the half-open
    # window), rawDelta=60 over 60 s sampled with a zero-capped start
    # extension -> 120/120 = 1.0; the flag must not error and must
    # emit points
    rc = main(
        ["--query-metrics", path, "--query-promql",
         "rate(click[2m])", "--query-extrapolated-rate"],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "u1" in out and "1.0" in out


def test_query_mode_kibana_vis(spark, tmp_path, capsys):
    import json as _json

    rows = [("h1", 10.0), ("h1", 30.0), ("h2", 5.0)]
    df = spark.createDataFrame(rows, "host string, v double")
    path = str(tmp_path / "docs")
    df.write.parquet(path)
    vis = {"_type": "visualization", "_source": {"title": "t", "visState": _json.dumps({
        "type": "table",
        "aggs": [
            {"id": "1", "type": "avg", "schema": "metric", "params": {"field": "v"}},
            {"id": "2", "type": "terms", "schema": "bucket",
             "params": {"field": "host.keyword", "size": 5,
                        "order": "asc", "orderBy": "_term"}},
        ]})}}
    vis_path = tmp_path / "vis.json"
    vis_path.write_text(_json.dumps([vis]))
    rc = main(
        ["--query-metrics", path, "--query-kibana-vis", str(vis_path)],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "h1" in out and "20.0" in out


def test_query_mode_range_with_request_window(spark, tmp_path, capsys):
    import datetime as dt

    rows = [
        ("click", f"2024-01-01 00:0{i}:00", float(i), "u1") for i in range(6)
    ]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows, "name string, ts string, value double, user_id string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "metrics_rw")
    df.write.parquet(path)
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    rc = main(
        [
            "--query-metrics", path,
            "--query-promql", "click",
            "--query-step", "60",
            "--query-start", str(base + 120),
            "--query-end", str(base + 180),
        ],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    # only the two requested instants appear
    assert "00:02:00" in out and "00:03:00" in out
    assert "00:01:00" not in out and "00:04:00" not in out


def test_query_mode_kibana_auto_interval(spark, tmp_path, capsys):
    """--query-auto-interval opts an interval:auto panel into real ES
    auto-interval semantics; with --query-start/--query-end the grid
    derives from the request range (1 day @ 50 buckets -> 30m)."""
    import datetime as dt
    import json as _json

    rows = [
        ("2024-04-01 10:00:00", 10.0),
        ("2024-04-01 10:40:00", 30.0),
        ("2024-04-01 12:10:00", 5.0),
    ]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "ts string, v double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    path = str(tmp_path / "docs")
    df.write.parquet(path)
    vis = {"_type": "visualization", "_source": {"title": "t", "visState": _json.dumps({
        "type": "line",
        "aggs": [
            {"id": "2", "type": "date_histogram", "schema": "segment",
             "params": {"field": "ts", "interval": "auto",
                         "customInterval": "2h", "customLabel": "When"}},
            {"id": "1", "type": "sum", "schema": "metric",
             "params": {"field": "v", "customLabel": "Total"}},
        ]})}}
    vis_path = tmp_path / "vis.json"
    vis_path.write_text(_json.dumps([vis]))
    base = dt.datetime(2024, 4, 1, tzinfo=dt.timezone.utc).timestamp()
    rc = main(
        [
            "--query-metrics", path,
            "--query-kibana-vis", str(vis_path),
            "--query-auto-interval", "50",
            "--query-start", str(base),
            "--query-end", str(base + 86400),
        ],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    # 30m buckets: 10:00 (10), 10:30 (30), 12:00 (5) — NOT the 2h pin
    assert "2024-04-01 10:30:00" in out
    assert "2024-04-01 12:00:00" in out


def test_query_mode_time_macros(spark, tmp_path, capsys):
    """--query-start/--query-end/--query-step bind the Grafana built-in
    time macros (round 8): $__rate_interval resolves via
    max(step + scrape, 4 x scrape) before parse."""
    import json as _json

    from pyspark.sql import functions as F

    rows = [
        ("click", "2024-01-01 00:%02d:00" % m, float(m * 60), "u1")
        for m in range(0, 10)
    ]
    df = spark.createDataFrame(
        rows, "name string, ts string, value double, user_id string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "metrics")
    df.write.parquet(path)
    start = df.agg(F.min("ts")).collect()[0][0].timestamp()

    rc = main(
        ["--query-metrics", path,
         "--query-promql", 'sum by (user_id) (rate(click[$__rate_interval]))',
         "--query-step", "60", "--query-start", str(start),
         "--query-end", str(start + 540), "--query-scrape-interval", "60"],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "u1" in out and "1.0" in out  # 60/min counter -> 1.0/s

    # dashboard path binds the same macros
    dash = {"title": "d", "panels": [
        {"title": "p", "type": "timeseries",
         "targets": [{"expr": "rate(click[$__rate_interval])", "refId": "A"}]},
    ]}
    dpath = str(tmp_path / "dash.json")
    with open(dpath, "w") as fh:
        _json.dump(dash, fh)
    rc = main(
        ["--query-metrics", path, "--query-dashboard", dpath,
         "--query-step", "60", "--query-start", str(start),
         "--query-end", str(start + 540), "--query-scrape-interval", "60"],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "rate(click[4m])" in out  # max(60+60, 240) = 4m, shown in == line


# ---------------------------------------------------------------- round 13:
# K8s discovery wired into the daemon + CLI parity pack.

import json
import os
import re
import time


def test_k8s_discovery_refreshes_per_trigger(spark, tmp_path):
    """The reference re-discovers pods EVERY poll cycle
    (Code/main.py:274-282): a pod added mid-stream must appear in the
    NEXT micro-batch's scrape set, without restarting the query."""
    from kafka_metrics_exporter_spark.sources.jolokia import build_url_catalog
    from kafka_metrics_exporter_spark.streaming.pipeline import streaming_metrics

    state = tmp_path / "pods.json"
    state.write_text("[]")
    cat = build_url_catalog({"KafkaBroker": ["kafka1:49901"]}, common_mbeans=[])
    stream = streaming_metrics(
        spark, cat, fetcher=FAKE,
        discovery="tests.fake_k8s:list_pods",
        discovery_kwargs={"state_path": str(state)},
        common_mbeans=[],
    )
    batches: list[set[str]] = []

    def batch_fn(df, bid):
        batches.append({r["host_name"] for r in df.select("host_name").collect()})
        if bid == 0:
            state.write_text(json.dumps([{
                "pod_ip": "10.9.9.9", "phase": "Running",
                "annotations": {"jolokia/is_enabled": "true",
                                "jolokia/port": "8778"},
            }]))

    q = (
        stream.writeStream.foreachBatch(batch_fn)
        .trigger(processingTime="1 seconds")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if len(batches) >= 2 and any("10.9.9.9:8778" in b for b in batches[1:]):
            break
        time.sleep(0.5)
    q.stop()
    assert batches, "no micro-batch completed"
    assert "10.9.9.9:8778" not in batches[0]
    assert any("10.9.9.9:8778" in b for b in batches[1:]), (
        f"discovered pod never joined a later micro-batch: {batches}"
    )
    # the static CLI-provided server kept scraping throughout
    assert all("kafka1:49901" in b for b in batches)


def test_k8s_discovery_counts_as_a_source(tmp_path):
    """--jmx-enable-k8s-discovery alone satisfies the at-least-one-
    source check (the reference's K8s-only deployment mode)."""
    args = build_parser().parse_args(
        ["--jmx-enable-k8s-discovery", "--sink-parquet", "/tmp/x"]
    )
    assert build_catalog(args) == []


def test_discovery_options_wiring():
    """CLI flags land in the streaming_metrics kwargs: selectors
    parsed, annotations forwarded, auth gated by its enable switch."""
    from kafka_metrics_exporter_spark.app import discovery_options

    args = build_parser().parse_args([
        "--jmx-enable-k8s-discovery",
        "--jmx-k8s-context", "ctx1",
        "--jmx-k8s-label-filter", "app=kafka, tier=broker",
        "--jmx-k8s-field-filter", "spec.nodeName=n1",
        "--jmx-k8s-jolokia-enabled-annotation", "custom/enabled",
        "--jmx-k8s-jolokia-port-annotation", "custom/port",
        "--jmx-k8s-jolokia-server-type-annotation", "custom/type",
        "--enable-connect-rest-auth",
        "--connect-rest-auth-user", "u1",
        "--connect-rest-auth-pass", "p1",
        "--jmx-kafka-poll-mbean", "kafka.server:*",
        "--sink-parquet", "/tmp/x",
    ])
    opts = discovery_options(args)
    assert opts["discovery"].endswith(":discover_pods_k8s")
    assert opts["discovery_kwargs"] == {
        "label_selectors": {"app": "kafka", "tier": "broker"},
        "field_selectors": {"spec.nodeName": "n1"},
        "context": "ctx1",
    }
    assert opts["discovery_annotations"] == {
        "enabled_annotation": "custom/enabled",
        "port_annotation": "custom/port",
        "server_type_annotation": "custom/type",
    }
    assert opts["user"] == "u1" and opts["password"] == "p1"
    assert opts["mbeans"] == {"KafkaBroker": ["kafka.server:*"]}
    # auth flags are inert without the enable switch (reference
    # requires --enable-connect-rest-auth, Code/main.py:159-163)
    args2 = build_parser().parse_args(
        ["--connect-rest-auth-user", "u1", "--sink-parquet", "/tmp/x",
         "--jmx-kafka-server", "k:1"]
    )
    opts2 = discovery_options(args2)
    assert opts2["user"] is None and "discovery" not in opts2


def test_mbean_override_reaches_catalog():
    args = build_parser().parse_args([
        "--jmx-zk-server", "z1:8778",
        "--jmx-zk-poll-mbean", "org.apache.ZooKeeperService:name0=*",
        "--jmx-default-bean", "java.lang:type=Threading",
        "--sink-parquet", "/tmp/x",
    ])
    cat = build_catalog(args)
    urls = [u for _, u in cat]
    assert any(u.endswith("org.apache.ZooKeeperService:name0=*") for u in urls)
    assert any(u.endswith("java.lang:type=Threading") for u in urls)
    # the override REPLACES the default pattern for that type
    assert not any(u.endswith("org.apache.ZooKeeperService:*") for u in urls)


def test_selector_filter_parse_errors():
    from kafka_metrics_exporter_spark.app import parse_selector_filters

    assert parse_selector_filters(["a=1, b=2", "c=3"]) == {
        "a": "1", "b": "2", "c": "3"
    }
    with pytest.raises(SystemExit):
        parse_selector_filters(["not-a-pair"])


@pytest.mark.reference
def test_cli_arg_parity_with_reference():
    """Walk every --flag in the reference's argparse setup
    (Code/main.py) and require each to be either accepted by our
    parser verbatim or explicitly mapped/diverged below — so a
    reference flag can never silently fall off the surface."""
    ref = open(reference_path("Code", "main.py")).read()
    ref_flags = set(re.findall(r"add_argument\('(--[a-z0-9-]+)'", ref))
    assert len(ref_flags) >= 25, "reference flag extraction broke"

    parser = build_parser()
    ours = {s for a in parser._actions for s in a.option_strings}

    # reference flag -> our equivalent (None = intentionally absent,
    # with the reason)
    mapped = {
        # thread pools: Spark's scheduler owns parallelism (the source
        # cuts its targets into min(#targets, defaultParallelism)
        # slices, each fetched on up to POLL_THREADS threads; sinks are
        # connector-managed)
        "--thread-count": None,
        "--jmx-poll-thread-count": None,
        "--connect-thread-count": None,
        # poll cadence: one knob (--poll-interval) + the same 15 s
        # floor the reference enforces on --jmx-poll-wait-sec
        "--jmx-poll-wait-sec": "--poll-interval",
        # sink enable switches are implied by the sink URLs
        "--enable-elastic-sink": "--es-url",
        "--enable-kafka-sink": "--kafka-bootstrap-servers",
        "--enable-connect-rest-source": "--connect-rest-endpoint",
        # port NAME matcher -> port annotation (pod spec not in the
        # catalog shape; documented in pods_to_catalog)
        "--jmx-k8s-jolokia-port-name-matcher":
            "--jmx-k8s-jolokia-port-annotation",
        "--kafka-topic-name": "--kafka-topic",
        "--kafka-conn-props": "--kafka-conn-props",
    }
    missing = []
    for flag in sorted(ref_flags):
        if flag in ours:
            continue
        if flag in mapped:
            tgt = mapped[flag]
            assert tgt is None or tgt in ours, (
                f"mapping target {tgt} for {flag} missing from parser"
            )
            continue
        missing.append(flag)
    assert not missing, f"reference CLI flags unaccounted for: {missing}"


@pytest.mark.reference
def test_kibana_url_runs_bootstrap(spark, tmp_path, monkeypatch):
    """--kibana-url + --es-url runs the sink DDL bootstrap before the
    stream starts (reference Code/ElasticSearchAppender.py:43-79)."""
    puts: list[str] = []

    def fake_put_factory(es_url, timeout=30.0):
        assert es_url == "http://es:9200"
        return lambda path, body: puts.append(path) or True

    import kafka_metrics_exporter_spark.sinks.es_setup as es_setup

    monkeypatch.setattr(es_setup, "http_put", fake_put_factory)

    def fake_poster(es_url, timeout=30.0):
        return lambda index, payload: True

    import kafka_metrics_exporter_spark.sinks.es_bulk as es_bulk

    monkeypatch.setattr(es_bulk, "http_bulk_poster", fake_poster)
    rc = main(
        ["--jmx-kafka-server", "kafka1:49901", "--fetcher", FAKE,
         "--es-url", "http://es:9200", "--kibana-url", "http://kib:5601",
         "--kibana-dashboards", reference_path("ELK", "jmx_dashboard.json"),
         "--checkpoint", str(tmp_path / "ckpt"), "--once"],
        spark=spark,
    )
    assert rc == 0
    assert any(p.startswith("_template/") for p in puts)
    assert any("index-pattern" in p for p in puts)
    # the reference's 32 saved objects imported under their export _ids
    import json as _json

    objs = _json.load(open(reference_path("ELK", "jmx_dashboard.json")))
    assert sum(1 for p in puts if p.startswith(".kibana/_doc/")) >= len(objs)
    assert any(o["_id"] in p for o in objs for p in puts)


def test_curate_cli_reproduces_library_composition(spark, sf_dir, tmp_path, capsys):
    """--curate drives the full curation pipeline from the CLI and
    reproduces the library composition's deterministic selection
    (VERDICT r12 item 8)."""
    out_dir = tmp_path / "curated"
    rc = main(
        ["--curate", sf_dir, "--curate-output", str(out_dir),
         "--curate-budget", "en=500", "--curate-report"],
        spark=spark,
    )
    assert rc == 0
    counts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (counts["input"] >= counts["gated"] >= counts["deduped"]
            >= counts["decontaminated"] >= counts["dsir_selected"]
            >= counts["mixed"] > 0)
    shards = spark.read.format("json").load(str(out_dir / "shards"))
    assert shards.count() == counts["mixed"]
    assert set(shards.columns) >= {"doc_id", "lang", "split", "n_tokens"}
    chunks = spark.read.parquet(str(out_dir / "chunks"))
    assert chunks.count() == counts["chunks"] > 0

    # the CLI's selection == the library composition's (deterministic,
    # content-addressed end-to-end)
    from kafka_metrics_exporter_spark.llmdata.dedup import exact_dedup
    from kafka_metrics_exporter_spark.llmdata.pipeline import (
        decontaminate,
        domain_mix,
        dsir_importance,
    )
    from kafka_metrics_exporter_spark.llmdata.text import quality_gate
    from kafka_metrics_exporter_spark.plans.queries import _t
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents")
    gated = docs.filter(quality_gate(F.col("text"))["keep"])
    surv = exact_dedup(gated).select(F.col("survivor_id").alias("doc_id"))
    kept = gated.join(surv, "doc_id", "left_semi")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    flags = decontaminate(kept, bench, n=8)
    clean = kept.join(
        flags.filter(~F.col("is_contaminated")), "doc_id", "left_semi"
    )
    picked = dsir_importance(
        clean.filter(F.col("source") != "src0"),
        clean.filter(F.col("source") == "src0"),
        n_buckets=512,
        k=min(100, clean.count()),
    )
    sel = clean.join(picked.select("doc_id"), "doc_id", "left_semi")
    langs = [r["lang"] for r in sel.select("lang").distinct().collect()]
    mixed = domain_mix(sel, budgets={
        lang: (500 if lang == "en" else 10**18) for lang in langs
    })
    expected = {r["doc_id"] for r in mixed.select("doc_id").collect()}
    assert {r["doc_id"] for r in shards.collect()} == expected

    # default ONE-PASS mode (round 16, VERDICT r15 item 6): no stage
    # materialization — only the metadata-derived input/chunks counts
    # ride the report, and the written selection is identical
    out2 = tmp_path / "curated_onepass"
    rc2 = main(
        ["--curate", sf_dir, "--curate-output", str(out2),
         "--curate-budget", "en=500"],
        spark=spark,
    )
    assert rc2 == 0
    counts2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(counts2) == {"input", "chunks"}
    assert counts2["input"] == counts["input"]
    assert counts2["chunks"] == counts["chunks"]
    shards2 = spark.read.format("json").load(str(out2 / "shards"))
    assert {r["doc_id"] for r in shards2.collect()} == expected


def test_curate_cli_validation():
    with pytest.raises(SystemExit):
        main(["--curate", "/tmp/x"], spark="unused")
    with pytest.raises(SystemExit):
        main(["--curate", "/tmp/x", "--curate-output", "/tmp/y",
              "--curate-budget", "notapair"], spark="unused")


def test_kafka_conn_props_validation():
    """ADVICE r13: a --kafka-conn-props value without '=' exits with a
    clean key=value message (the other CLI parsers' contract), not an
    opaque dict-constructor ValueError at stream-start time."""
    with pytest.raises(SystemExit, match="key=value"):
        main(["--kafka-bootstrap-servers", "k:9092",
              "--jmx-kafka-server", "h:9999",
              "--kafka-conn-props", "notapair"], spark="unused")
