"""dashboard_refresh: the read path.

One op is one full refresh of a generated Grafana dashboard (PromQL
panels compiled with ``compile_dashboard``, run with ``evaluate_range``
over a fixed start/end/step) and a generated Kibana saved-objects
export (visualizations compiled with ``compile_export``, run with
``evaluate``).  The series table is the seeded cluster's scrapes over
three minutes, normalized and rewritten by ``rules.rewrite_metrics`` with
the repository's broker rule fixture; the Kibana documents are the same
normalized records, flattened.  Every refresh must return the same
value hash as the first one, which is also checked against facts the
generator fixes (one active controller, one table row per broker).
"""

from __future__ import annotations

import json
import os
import time

from perfbench import cluster
from perfbench.common import Run, op_schedule
from perfbench.results import value_hash

TICKS = 12  # scrapes per target: three minutes at the 15 s interval
T0_MS = 1_700_000_000_000
STEP_S = 15.0
START_S = T0_MS / 1000 + 60
END_S = T0_MS / 1000 + (TICKS - 1) * cluster.SCRAPE_INTERVAL_S
RULES = os.path.join("tests", "fixtures", "kafka_rules.yml")

_MSGS = "kafka_brokers_server_brokertopicmetrics_messagesin_total"
_BYTES = "kafka_brokers_server_brokertopicmetrics_bytesin_total"
_BUCKET = "kafka_brokers_network_requestmetrics_latencybucket"
PANELS = {
    "Messages in by broker":
        f"sum by (instance) (rate({_MSGS}[$__rate_interval]))",
    "Top topics": f"topk(5, sum by (topic) (rate({_MSGS}[5m])))",
    "Request latency p99":
        f"histogram_quantile(0.99, sum by (le) (rate({_BUCKET}[5m])))",
    "Produce time p99":
        'max by (instance) (kafka_brokers_network_requestmetrics_totaltimems'
        '{quantile="0.99"})',
    "Bytes per message":
        f"sum by (instance) (rate({_BYTES}[5m])) / on (instance) "
        f"sum by (instance) (rate({_MSGS}[5m]))",
    "Active controllers":
        "count(kafka_brokers_controller_kafkacontroller_activecontrollercount == 1)",
}


def _agg(aid, typ, schema, **params):
    return {"id": str(aid), "type": typ, "schema": schema, "params": params}


VISUALIZATIONS = {
    "Busiest brokers": ("table", [
        _agg(2, "terms", "bucket", field="injectedHostName.keyword", size=5,
             order="desc", orderBy="1"),
        _agg(1, "max", "metric", field="Count"),
        _agg(3, "avg", "metric", field="OneMinuteRate"),
        _agg(4, "cardinality", "metric", field="topic.keyword"),
    ]),
    "Messages over time": ("line", [
        _agg(2, "date_histogram", "segment", field="createdDateTime",
             interval="1m", min_doc_count=1),
        _agg(1, "sum", "metric", field="Count"),
    ]),
    "Latest under-replicated": ("table", [
        _agg(2, "terms", "bucket", field="injectedHostName.keyword", size=50,
             order="asc", orderBy="_term"),
        _agg(1, "top_hits", "metric", field="Value", aggregate="concat", size=1,
             sortField="createdDateTime", sortOrder="desc"),
    ]),
}


def grafana_dashboard() -> dict:
    return {
        "title": "Kafka brokers",
        "panels": [
            {"title": title, "type": "timeseries",
             "targets": [{"refId": "A", "expr": expr}]}
            for title, expr in PANELS.items()
        ],
        "templating": {"list": []},
    }


def kibana_export() -> list[dict]:
    objs = [
        {"_id": f"vis-{i}", "_type": "visualization",
         "_source": {"title": title, "visState": json.dumps(
             {"title": title, "type": kind, "aggs": aggs})}}
        for i, (title, (kind, aggs)) in enumerate(VISUALIZATIONS.items())
    ]
    objs.append({
        "_id": "dash-0", "_type": "dashboard",
        "_source": {"title": "Kafka brokers", "panelsJSON": json.dumps(
            [{"id": o["_id"]} for o in objs])},
    })
    return objs


def raw_scrapes(spark, seed: int):
    """Input generation: every broker's scrape over ``TICKS`` intervals."""
    from kafka_metrics_exporter_spark.schema import RAW_SCRAPE_SCHEMA

    urls = [u for t, u in cluster.catalog(seed) if t == "KafkaBroker"]
    rows = [
        (url, "KafkaBroker", T0_MS + tick * cluster.SCRAPE_INTERVAL_S * 1000, 200,
         cluster.jolokia_body(seed, url, tick, None))
        for tick in range(TICKS) for url in urls
    ]
    raw = spark.createDataFrame(rows, RAW_SCRAPE_SCHEMA).persist()
    raw.count()
    return raw


class Dashboard:
    """The program set-up: series and documents built and cached, both
    dashboards compiled."""

    def __init__(self, ctx, raw):
        from pyspark.sql import functions as F

        from kafka_metrics_exporter_spark.kibana import compile_export
        from kafka_metrics_exporter_spark.operators.normalize import normalize_scrapes
        from kafka_metrics_exporter_spark.promql import compile_dashboard
        from kafka_metrics_exporter_spark.rules import load_rules_file, rewrite_metrics

        tr = ctx.tracer
        self.metrics = metrics = normalize_scrapes(raw)
        rules, lower = load_rules_file(RULES)
        with tr.span("rules.rewrite"):
            label = lambda k: F.coalesce(F.element_at("labels", k), F.lit(""))  # noqa: E731
            self.series = rewrite_metrics(metrics, rules, lowercase=lower).select(
                F.col("metric_name").alias("name"),
                F.col("created_ts").alias("ts"),
                "value",
                *[label(k).alias(k) for k in ("topic", "le", "quantile", "request",
                                               "partition")],
                F.col("host_name").alias("instance"),
                F.col("server_type").alias("job"),
            ).persist()
            self.n_series = self.series.count()
        attrs = F.col("attributes")
        self.docs = metrics.select(
            F.col("host_name").alias("injectedHostName"),
            F.col("server_type").alias("injectedServerType"),
            F.col("bean_props")["type"].alias("beanType"),
            F.col("bean_props")["name"].alias("beanName"),
            F.col("bean_props")["topic"].alias("topic"),
            F.col("created_ts").alias("createdDateTime"),
            *[attrs[a].try_cast("double").alias(a)
              for a in ("Count", "OneMinuteRate", "Value")],
            F.col("mbean_name").alias("__id"),
        ).persist()
        self.n_docs = self.docs.count()
        with tr.span("promql.compile"):
            self.panels = compile_dashboard(
                grafana_dashboard(), time_range=(START_S, END_S, STEP_S)
            )
        with tr.span("kibana.compile"):
            self.vis = compile_export(kibana_export(), dashboard="Kafka brokers")

    def refresh(self, ctx, op: int, traced: bool) -> dict[str, list]:
        """One refresh; panel key → collected rows."""
        tr = ctx.tracer if traced else None
        sc = ctx.spark.sparkContext
        out: dict[str, list] = {}
        for layer, plans, call in (
            ("promql", self.panels, lambda p: p.evaluate_range(
                self.series, STEP_S, start=START_S, end=END_S)),
            ("kibana", self.vis, lambda p: p.evaluate(self.docs, tiebreak="__id")),
        ):
            for key, plan in plans.items():
                if tr is None:
                    out[key] = call(plan).collect()
                    continue
                sc.setJobGroup(f"{layer}.build", key)
                with tr.span(f"{layer}.build", op):
                    df = call(plan)
                sc.setJobGroup(f"{layer}.exec", key)
                with tr.span(f"{layer}.exec", op):
                    out[key] = df.collect()
                sc.setLocalProperty("spark.jobGroup.id", None)
        return out


def check_refresh(run: Run, rows: dict[str, list]) -> None:
    """Facts the generator fixes, checked on the first refresh."""
    for key, got in rows.items():
        run.check(len(got) > 0, f"panel {key!r} returned no rows")
    ctl = rows.get("Active controllers", [])
    run.check(all(r["value"] == 1.0 for r in ctl),
              f"active controllers != 1 at some step: {ctl[:3]}")
    latest = rows.get("Latest under-replicated", [])
    run.check(len(latest) == cluster.N_BROKERS,
              f"{len(latest)} brokers in the Kibana table, not {cluster.N_BROKERS}")


def run(ctx) -> Run:
    run = Run()
    spark = ctx.spark
    t_input = time.perf_counter()
    raw = raw_scrapes(spark, ctx.seed)  # input generation: not set-up
    run.notes.append(f"input generation seconds: {time.perf_counter() - t_input:.1f}")

    t0 = time.perf_counter()
    dash = Dashboard(ctx, raw)
    first = dash.refresh(ctx, -1, traced=False)  # warm-up op
    setup_s = ctx.session_start_s + time.perf_counter() - t0
    check_refresh(run, first)
    want = value_hash(first)
    if ctx.self_check:
        want = "0" * len(want)
    records = dash.n_series + dash.n_docs

    plain_windows: list[tuple[float, float]] = []  # epoch seconds

    def op(i: int, traced: bool) -> float:
        w0, t = time.time(), time.perf_counter()
        got = dash.refresh(ctx, i, traced)
        dt = time.perf_counter() - t
        if not traced:
            plain_windows.append((w0, time.time()))
        ok = value_hash(got) == want
        run.check(ok, f"refresh {i}: value hash differs from the first refresh")
        run.failed += not ok
        run.attempted += 1
        return dt

    traced_s: list[float] = []
    t_start = time.perf_counter()
    for i in op_schedule(ctx, t_start):
        traced = ctx.trace and i % 2 == 1
        (traced_s if traced else run.op_seconds).append(op(i, traced))
    if not ctx.trace:
        run.end_to_end(setup_s, records * len(run.op_seconds), sum(run.op_seconds))
        return run

    run.layer = dashboard_layers(ctx, dash, traced_s, run.op_seconds, first)
    run.layer.update({f"session.{k}": v / len(run.op_seconds)
                      for k, v in ctx.counters.within(plain_windows).items()})
    return run


def dashboard_layers(ctx, dash, traced_s, plain_s, rows) -> dict[str, float]:
    import statistics

    from pyspark.sql import functions as F

    n = len(traced_s)
    tracker = ctx.spark.sparkContext.statusTracker()
    self_s = ctx.tracer.self_seconds()
    layer: dict[str, float] = {}
    for lay, plans in (("promql", dash.panels), ("kibana", dash.vis)):
        build = len(tracker.getJobIdsForGroup(f"{lay}.build"))
        exe = len(tracker.getJobIdsForGroup(f"{lay}.exec"))
        layer[f"{lay}.compile_s"] = self_s.get(f"{lay}.compile", 0.0)
        layer[f"{lay}.build_s"] = self_s.get(f"{lay}.build", 0.0) / n
        layer[f"{lay}.exec_s"] = self_s.get(f"{lay}.exec", 0.0) / n
        layer[f"{lay}.jobs"] = (build + exe) / n
        layer[f"{lay}.eager_jobs"] = build / n
        layer[f"{lay}.result_rows"] = sum(len(rows[k]) for k in plans)
    layer["rules.rewrite_s"] = self_s.get("rules.rewrite", 0.0)
    layer["rules.series_out"] = dash.n_series
    n_attrs = dash.metrics.agg(F.sum(F.size("attributes"))).first()[0]
    layer["rules.match_ratio"] = dash.n_series / n_attrs
    layer["bench.trace_overhead_ratio"] = (
        statistics.median(traced_s) / statistics.median(plain_s)
    )
    return layer
