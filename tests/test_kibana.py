"""Kibana front end: corpus conformance (every visualization in the
reference's ELK export parses, compiles, and RUNS against a metrics-
shaped documents table) plus semantics units for each agg type.
"""

from __future__ import annotations

import json

import pytest
from conftest import HAVE_REFERENCE, reference_cases, reference_path, run_fresh_python
from pyspark.sql import functions as F

from kafka_metrics_exporter_spark.kibana import (
    compile_visualization,
    parse_vis_state,
)
from kafka_metrics_exporter_spark.kibana.compiler import (
    _KINDS,
    DateHistogramBucket,
    FiltersBucket,
    TermsBucket,
)

_DASH = reference_path("ELK", "jmx_dashboard.json")

_VISES = [
    o
    for o in (json.load(open(_DASH)) if HAVE_REFERENCE else [])
    if o.get("_type") == "visualization"
]
_VIS_CASES = reference_cases(
    [pytest.param(v, id=v["_source"]["title"][:40]) for v in _VISES]
)


def _fields_of(state) -> set[str]:
    fields = set()
    for b in state.buckets:
        if isinstance(b, (TermsBucket, DateHistogramBucket)):
            fields.add(b.field)
        if isinstance(b, TermsBucket) and b.order_metric:
            fields.add(b.order_metric[1])
    for m in state.metrics:
        fields.add(m.field)
        if hasattr(m, "sort_field"):
            fields.add(m.sort_field)
    return fields


@pytest.mark.reference
def test_corpus_is_the_documented_size():
    assert len(_VISES) == 27


def _synth_frame(spark, state):
    """A 2-row documents table carrying the visualization's fields
    (strings for .keyword/terms fields, doubles for metric fields,
    timestamps for sort/histogram fields)."""
    fields = _fields_of(state)
    ts_fields = {b.field for b in state.buckets if isinstance(b, DateHistogramBucket)}
    ts_fields |= {m.sort_field for m in state.metrics if hasattr(m, "sort_field")}
    cols, row0, row1 = [], {}, {}
    for f_name in sorted(fields):
        base = f_name[: -len(".keyword")] if f_name.endswith(".keyword") else f_name
        if base in row0:
            continue
        if f_name in ts_fields:
            row0[base], row1[base] = "2024-04-01 10:00:00", "2024-04-01 12:30:00"
            cols.append((base, "timestamp"))
        elif f_name.endswith(".keyword"):
            row0[base], row1[base] = "alpha", "beta"
            cols.append((base, "string"))
        else:
            row0[base], row1[base] = 1.5, 2.5
            cols.append((base, "double"))
    have = {n for n, _ in cols}
    for extra, val0, val1 in (
        ("__id", "r0", "r1"),
        ("injectedServerType", "KafkaBroker", "KafkaBroker"),
        ("mbean_path", "/controller", "/controller"),
    ):
        if extra not in have:
            row0[extra], row1[extra] = val0, val1
            cols.append((extra, "string"))
    schema = ", ".join(
        f"`{n}` {'double' if t == 'double' else 'string'}" for n, t in cols
    )
    data = [tuple(r.get(n) for n, _ in cols) for r in (row0, row1)]
    df = spark.createDataFrame(data, schema)
    for n, t in cols:
        if t == "timestamp":
            df = df.withColumn(n, F.col(f"`{n}`").cast("timestamp"))
    return df


@pytest.mark.reference
@pytest.mark.parametrize("vis", _VIS_CASES)
def test_corpus_vis_parses_compiles_runs(vis, spark):
    """Every corpus visualization must compile and execute end-to-end
    on a documents table carrying its fields."""
    plan = compile_visualization(vis)
    state = plan.state
    if state.vis_type == "markdown":
        # navigation panel: no aggs, nothing to query
        assert not state.buckets and not state.metrics
        return
    assert state.buckets or state.metrics
    df = _synth_frame(spark, state)
    out = plan.evaluate(
        df, tiebreak="__id", default_search_field="mbean_path"
    )
    rows = out.collect()
    assert rows  # at least one bucket row
    # shape: bucket labels then metric labels (implicit doc-count when
    # the vis declares no metric agg)
    expected_metrics = [m.label for m in state.metrics] or ["count"]
    assert list(out.columns) == [b.label for b in state.buckets] + expected_metrics


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # host, component, status, v, ts, id
        ("h1", "broker", "RUNNING", 10.0, "2024-04-01 10:00:00", "a"),
        ("h1", "broker", "PAUSED", 30.0, "2024-04-01 11:00:00", "b"),
        ("h1", "connect", "RUNNING", 20.0, "2024-04-01 11:30:00", "c"),
        ("h2", "broker", "RUNNING", 40.0, "2024-04-01 10:30:00", "d"),
        ("h2", "zk", "RUNNING", 5.0, "2024-04-01 12:10:00", "e"),
        ("h2", "zk", "FAILED", 7.0, "2024-04-01 12:10:00", "f"),  # ts tie
    ]
    df = spark.createDataFrame(
        rows, "host string, component string, status string, v double, ts string, id string"
    )
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def test_terms_metrics_semantics(docs):
    plan = compile_visualization(
        {
            "visState": json.dumps(
                {
                    "title": "t",
                    "type": "table",
                    "aggs": [
                        {"id": "2", "type": "terms", "schema": "bucket",
                         "params": {"field": "component.keyword", "size": 2,
                                     "order": "desc", "orderBy": "1",
                                     "customLabel": "Component"}},
                        {"id": "1", "type": "avg", "schema": "metric",
                         "params": {"field": "v", "customLabel": "Avg V"}},
                        {"id": "3", "type": "cardinality", "schema": "metric",
                         "params": {"field": "host.keyword", "customLabel": "Hosts"}},
                    ],
                }
            )
        }
    )
    got = {r.component: r for r in plan.evaluate(docs).collect()}
    # top-2 components by avg(v) desc: broker avg=26.67, connect avg=20
    assert set(got) == {"broker", "connect"}
    assert got["broker"].avg_v == pytest.approx(80 / 3)
    assert got["broker"].hosts == 2
    assert got["connect"].hosts == 1


def test_date_histogram_2h_buckets(docs):
    plan = compile_visualization(
        {
            "visState": json.dumps(
                {
                    "title": "t", "type": "line",
                    "aggs": [
                        {"id": "2", "type": "date_histogram", "schema": "segment",
                         "params": {"field": "ts", "interval": "auto",
                                     "customInterval": "2h", "min_doc_count": 1,
                                     "customLabel": "When"}},
                        {"id": "1", "type": "sum", "schema": "metric",
                         "params": {"field": "v", "customLabel": "Total"}},
                    ],
                }
            )
        }
    )
    # legacy customInterval pin (explicit opt-out of real auto since r7)
    got = {str(r.when): r.total
           for r in plan.evaluate(docs, auto_interval_buckets=None).collect()}
    assert got == {
        "2024-04-01 10:00:00": 100.0,  # 10+30+20+40 (10:00-12:00)
        "2024-04-01 12:00:00": 12.0,  # 5+7
    }


def test_top_hits_latest_with_tiebreak(docs):
    plan = compile_visualization(
        {
            "visState": json.dumps(
                {
                    "title": "t", "type": "table",
                    "aggs": [
                        {"id": "2", "type": "terms", "schema": "bucket",
                         "params": {"field": "host.keyword", "size": 10,
                                     "order": "asc", "orderBy": "_term",
                                     "customLabel": "Host"}},
                        {"id": "1", "type": "top_hits", "schema": "metric",
                         "params": {"field": "status.keyword", "aggregate": "concat",
                                     "size": 1, "sortField": "ts",
                                     "sortOrder": "desc",
                                     "customLabel": "Last Status"}},
                    ],
                }
            )
        }
    )
    got = {r.host: r.last_status for r in plan.evaluate(docs, tiebreak="id").collect()}
    # h2's latest two docs tie on ts 12:10 — tiebreak id desc-side picks 'f'
    assert got == {"h1": "RUNNING", "h2": "FAILED"}


def test_filters_bucket_membership(docs):
    plan = compile_visualization(
        {
            "visState": json.dumps(
                {
                    "title": "t", "type": "metric",
                    "aggs": [
                        {"id": "2", "type": "filters", "schema": "group",
                         "params": {"filters": [
                             {"input": {"query": {"query_string": {"query": "component: broker"}}},
                              "label": "Brokers"},
                             {"input": {"query": {"query_string": {"query": '"RUNNING"'}}},
                              "label": "Running"},
                             {"input": {"query": {"query_string": {"query": '"RUN"'}}},
                              "label": "Running-ish"},
                         ]}},
                        {"id": "1", "type": "sum", "schema": "metric",
                         "params": {"field": "v", "customLabel": "Total"}},
                    ],
                }
            )
        }
    )
    got = {
        r[0]: r.total
        for r in plan.evaluate(docs, default_search_field="status").collect()
    }
    assert got["brokers"] == 80.0  # broker docs: 10+30+40
    assert got["running"] == 75.0  # whole-token phrase: 10+20+40+5
    # round 11 (ADVICE r10): phrases match whole tokens, not raw
    # substrings — '"RUN"' no longer matches 'RUNNING', so its bucket
    # is empty and emits no row
    assert "running_ish" not in got


def test_terms_order_by_term_asc_size_limit(docs):
    state = parse_vis_state(
        json.dumps(
            {
                "title": "t", "type": "table",
                "aggs": [
                    {"id": "2", "type": "terms", "schema": "bucket",
                     "params": {"field": "component.keyword", "size": 2,
                                 "order": "asc", "orderBy": "_term"}},
                ],
            }
        )
    )
    from kafka_metrics_exporter_spark.kibana import KibanaPlan

    out = KibanaPlan(state).evaluate(docs).collect()
    assert len(out) == 2
    assert {r[0] for r in out} == {"broker", "connect"}  # first 2 asc


def test_nested_terms_size_keeps_whole_terms(spark):
    """ES terms size keeps the top-N TERMS with ALL their child
    buckets; a tuple-level row_number would truncate the children
    (regression: outer size=1 must keep every inner component row of
    the winning host)."""
    import json as _json

    rows = [
        ("h1", "a", 50.0), ("h1", "b", 40.0), ("h1", "c", 30.0),
        ("h2", "a", 10.0), ("h3", "a", 5.0),
    ]
    df = spark.createDataFrame(rows, "host string, component string, v double")
    vis = {"_source": {"title": "t", "visState": _json.dumps({
        "type": "table",
        "aggs": [
            {"id": "1", "type": "sum", "schema": "metric",
             "params": {"field": "v"}},
            {"id": "2", "type": "terms", "schema": "bucket",
             "params": {"field": "host.keyword", "size": 1,
                        "order": "desc", "orderBy": "1"}},
            {"id": "3", "type": "terms", "schema": "bucket",
             "params": {"field": "component.keyword", "size": 10,
                        "order": "asc", "orderBy": "_term"}},
        ]})}}
    out = compile_visualization(vis).evaluate(df)
    got = sorted((r[0], r[1], r[2]) for r in out.collect())
    assert got == [("h1", "a", 50.0), ("h1", "b", 40.0), ("h1", "c", 30.0)]


def test_cardinality_approx_mode_matches_exact_small(docs):
    """VERDICT r4 item 7: `evaluate(..., approx_cardinality=True)` maps
    every cardinality agg (metric AND terms ordering) to the HLL
    approx_count_distinct ES itself computes — on small cardinalities
    the estimate is exact, and at scale it is the one-pass fixed-memory
    form (tolerance-pinned like a5_approx)."""
    plan = compile_visualization(
        {
            "visState": json.dumps(
                {
                    "title": "t",
                    "type": "table",
                    "aggs": [
                        {"id": "2", "type": "terms", "schema": "bucket",
                         "params": {"field": "component.keyword", "size": 3,
                                     "order": "desc", "orderBy": "1",
                                     "customLabel": "Component"}},
                        {"id": "1", "type": "cardinality", "schema": "metric",
                         "params": {"field": "host.keyword",
                                    "customLabel": "Hosts"}},
                    ],
                }
            )
        }
    )
    exact = {r.component: r.hosts for r in plan.evaluate(docs).collect()}
    approx = {
        r.component: r.hosts
        for r in plan.evaluate(docs, approx_cardinality=True).collect()
    }
    assert set(exact) == set(approx) == {"broker", "connect", "zk"}
    # HLL is exact at these cardinalities (1-2 distinct hosts)
    assert approx == exact
    # and the approx plan really is the sketch, not a rename: its
    # physical plan has no expensive exact distinct expansion
    explained = (
        plan.evaluate(docs, approx_cardinality=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "approx_count_distinct" in explained


def test_percentiles_metric_agg(docs, spark):
    """ES `percentiles` metric: one `<label>_p<percent>` column per
    requested percent, exact interpolated percentiles (numpy twin)."""
    import numpy as np

    plan = compile_visualization(
        {
            "visState": json.dumps(
                {
                    "title": "t",
                    "type": "table",
                    "aggs": [
                        {"id": "2", "type": "terms", "schema": "bucket",
                         "params": {"field": "component.keyword", "size": 5,
                                     "order": "asc", "orderBy": "_term",
                                     "customLabel": "Component"}},
                        {"id": "1", "type": "percentiles", "schema": "metric",
                         "params": {"field": "v", "percents": [50, 95],
                                    "customLabel": "V"}},
                    ],
                }
            )
        }
    )
    out = plan.evaluate(docs)
    assert set(out.columns) == {"component", "v_p50", "v_p95"}
    got = {r["component"]: (r["v_p50"], r["v_p95"]) for r in out.collect()}
    broker = [10.0, 30.0, 40.0]
    assert got["broker"][0] == pytest.approx(float(np.percentile(broker, 50)))
    assert got["broker"][1] == pytest.approx(float(np.percentile(broker, 95)))
    assert got["zk"] == (pytest.approx(6.0), pytest.approx(6.9))  # {5, 7}


# the one source of truth for the empty-partition-window heuristic —
# imported so this corpus pin and the suite-wide plan-invariants test
# can never drift apart
from kafka_metrics_exporter_spark.plans.fingerprint import (  # noqa: E402
    _UNPARTITIONED_WINDOW,
)


@pytest.mark.reference
@pytest.mark.parametrize("vis", _VIS_CASES)
def test_corpus_plans_have_no_single_partition_window(vis, spark):
    """VERDICT r5 item 1: a top-level ordered-terms bucket must rank
    the one-row-per-term aggregate with orderBy().limit() + broadcast
    semi-join, NEVER a window over an empty partition spec (the
    constant-folded `partitionBy(lit(1))` WindowExec that serialized
    every top-level terms visualization onto one task)."""
    plan = compile_visualization(vis)
    state = plan.state
    if state.vis_type == "markdown":
        return
    df = _synth_frame(spark, state)
    out = plan.evaluate(df, tiebreak="__id", default_search_field="mbean_path")
    p = out._jdf.queryExecution().executedPlan().toString()
    assert not _UNPARTITIONED_WINDOW.search(p), p[:3000]


def test_auto_interval_semantics(docs):
    """`interval: "auto"` resolves to ES's REAL auto-interval by
    default since round 7 (the smallest "nice" interval fitting the
    time range into at most ~50 buckets, range = data span unless an
    explicit auto_range is passed); auto_interval_buckets=None opts
    back into the legacy customInterval pin."""
    import datetime as dt

    from kafka_metrics_exporter_spark.kibana.compiler import auto_interval_us

    # ladder chooser units
    assert auto_interval_us(0, 50) == 1_000  # degenerate span -> 1ms
    assert auto_interval_us(7_800_000_000, 50) == 5 * 60_000_000  # 2h10m -> 5m
    assert auto_interval_us(86_400_000_000, 50) == 30 * 60_000_000  # 1d -> 30m
    assert auto_interval_us(365 * 86_400_000_000, 50) == 7 * 86_400_000_000
    with pytest.raises(ValueError):
        auto_interval_us(1, 0)

    vis = {
        "visState": json.dumps(
            {
                "title": "t", "type": "line",
                "aggs": [
                    {"id": "2", "type": "date_histogram", "schema": "segment",
                     "params": {"field": "ts", "interval": "auto",
                                 "customInterval": "2h",
                                 "customLabel": "When"}},
                    {"id": "1", "type": "sum", "schema": "metric",
                     "params": {"field": "v", "customLabel": "Total"}},
                ],
            }
        )
    }
    plan = compile_visualization(vis)
    assert plan.state.buckets[0].auto is True

    # explicit opt-out: the legacy customInterval pin
    pinned = {str(r.when): r.total for r in plan.evaluate(
        docs, auto_interval_buckets=None
    ).collect()}
    assert pinned == {
        "2024-04-01 10:00:00": 100.0,
        "2024-04-01 12:00:00": 12.0,
    }

    # DEFAULT, range from the data: span 10:00..12:10 = 2h10m -> 5m grid
    auto = {str(r.when): r.total for r in plan.evaluate(docs).collect()}
    assert auto == {
        "2024-04-01 10:00:00": 10.0,
        "2024-04-01 10:30:00": 40.0,
        "2024-04-01 11:00:00": 30.0,
        "2024-04-01 11:30:00": 20.0,
        "2024-04-01 12:10:00": 12.0,
    }

    # opt-in with the dashboard's explicit request range: 1 day -> 30m
    auto2 = {str(r.when): r.total for r in plan.evaluate(
        docs,
        auto_interval_buckets=50,
        auto_range=(
            dt.datetime(2024, 4, 1, tzinfo=dt.timezone.utc),
            dt.datetime(2024, 4, 2, tzinfo=dt.timezone.utc),
        ),
    ).collect()}
    assert auto2 == {
        "2024-04-01 10:00:00": 10.0,
        "2024-04-01 10:30:00": 40.0,
        "2024-04-01 11:00:00": 30.0,
        "2024-04-01 11:30:00": 20.0,
        "2024-04-01 12:00:00": 12.0,
    }


def test_min_and_median_metric_aggs(docs):
    """Round-6 metric-agg additions: ES `min` and `median` (ES models
    median as percentiles([50]) — one `<label>_p50` column)."""
    plan = compile_visualization(
        {
            "visState": json.dumps(
                {
                    "title": "t", "type": "table",
                    "aggs": [
                        {"id": "2", "type": "terms", "schema": "bucket",
                         "params": {"field": "component.keyword", "size": 5,
                                     "order": "asc", "orderBy": "_term",
                                     "customLabel": "Component"}},
                        {"id": "1", "type": "min", "schema": "metric",
                         "params": {"field": "v", "customLabel": "Min V"}},
                        {"id": "3", "type": "median", "schema": "metric",
                         "params": {"field": "v", "customLabel": "Med V"}},
                    ],
                }
            )
        }
    )
    got = {r.component: r for r in plan.evaluate(docs).collect()}
    assert got["broker"].min_v == 10.0
    assert got["broker"].med_v_p50 == 30.0  # median of {10, 30, 40}
    assert got["zk"].min_v == 5.0
    assert got["zk"].med_v_p50 == 6.0  # interpolated median of {5, 7}


def test_terms_ordered_by_min(docs):
    plan = compile_visualization(
        {
            "visState": json.dumps(
                {
                    "title": "t", "type": "table",
                    "aggs": [
                        {"id": "2", "type": "terms", "schema": "bucket",
                         "params": {"field": "component.keyword", "size": 2,
                                     "order": "asc", "orderBy": "1",
                                     "customLabel": "Component"}},
                        {"id": "1", "type": "min", "schema": "metric",
                         "params": {"field": "v", "customLabel": "Min V"}},
                    ],
                }
            )
        }
    )
    out = plan.evaluate(docs)
    # bottom-2 components by min(v) asc: zk (5), broker (10)
    assert {r.component for r in out.collect()} == {"zk", "broker"}
    # ordering by a median/percentiles agg is rejected, not silently wrong
    with pytest.raises(ValueError, match="orderBy"):
        compile_visualization(
            {
                "visState": json.dumps(
                    {
                        "title": "t", "type": "table",
                        "aggs": [
                            {"id": "2", "type": "terms", "schema": "bucket",
                             "params": {"field": "component.keyword", "size": 2,
                                         "order": "asc", "orderBy": "1"}},
                            {"id": "1", "type": "median", "schema": "metric",
                             "params": {"field": "v"}},
                        ],
                    }
                )
            }
        )


@pytest.mark.reference
def test_compile_export_whole_dashboards():
    """Round-7 whole-export replay (the ES twin of
    promql.compile_dashboard): every aggs-bearing visualization of the
    reference export compiles under a unique title key, and the
    ``dashboard=`` filter narrows to each dashboard's panelsJSON
    membership."""
    from kafka_metrics_exporter_spark.kibana import compile_export

    objs = json.load(open(_DASH))
    plans = compile_export(objs)
    # 27 visualizations minus the markdown navigation panel
    assert len(plans) == 26
    assert all(p.state.buckets or p.state.metrics for p in plans.values())

    per_dash = {
        "Confluent Platform Kafka Consumer Dashboard": 1,
        "Confluent Platform Overall Dashboard": 6,
        "Confluent Platform ZooKeeper Dashboard": 6,
        "Confluent Platform Kafka Broker Dashboard": 9,
        "Confluent Platform Kafka Connect Dashboard": 4,
    }
    for title, n in per_dash.items():
        sub = compile_export(objs, dashboard=title)
        assert len(sub) == n, (title, len(sub))
        assert set(sub) <= set(plans)
    with pytest.raises(ValueError):
        compile_export(objs, dashboard="No Such Dashboard")


def test_compile_export_panel_ref_name_resolution():
    """Code-review r7 hardening: newer exports reference panels via
    panelRefName + an object-level references list; unresolvable
    panelsJSON raises instead of silently compiling nothing."""
    from kafka_metrics_exporter_spark.kibana import compile_export

    vis = {
        "_id": "vis-1", "_type": "visualization",
        "_source": {"title": "Terms", "visState": json.dumps({
            "title": "Terms", "type": "table",
            "aggs": [{"id": "1", "type": "count", "schema": "metric",
                       "params": {"customLabel": "n"}}],
        })},
    }
    dash = {
        "_id": "dash-1", "_type": "dashboard",
        "_source": {"title": "D",
                    "panelsJSON": json.dumps([{"panelRefName": "panel_0"}])},
        "references": [{"name": "panel_0", "type": "visualization",
                         "id": "vis-1"}],
    }
    plans = compile_export([vis, dash], dashboard="D")
    assert list(plans) == ["Terms"]

    bad_dash = {
        "_id": "dash-2", "_type": "dashboard",
        "_source": {"title": "Bad",
                    "panelsJSON": json.dumps([{"panelRefName": "panel_9"}])},
    }
    with pytest.raises(ValueError):
        compile_export([vis, bad_dash], dashboard="Bad")


# ---------------------------------------------------------------- round 8:
# histogram / range buckets, stats / extended_stats metrics, parent
# pipeline aggs (derivative, cumulative_sum, moving_avg).


def _vis8(aggs):
    return {"visState": json.dumps({"title": "t", "type": "table", "aggs": aggs})}


def test_histogram_bucket_floors_negatives(spark):
    """ES histogram key = floor(v/interval)*interval — a negative value
    must bucket DOWNWARD (-3 with interval 5 → -5, not 0)."""
    df = spark.createDataFrame(
        [(-3.0,), (-0.1,), (0.0,), (4.9,), (5.0,), (12.0,)], "v double"
    )
    plan = compile_visualization(
        _vis8([
            {"id": "1", "type": "histogram", "schema": "bucket",
             "params": {"field": "v", "interval": 5, "customLabel": "b"}},
        ])
    )
    got = {r.b: r["count"] for r in plan.evaluate(df).collect()}
    assert got == {-5.0: 2, 0.0: 2, 5.0: 1, 10.0: 1}


def test_range_bucket_overlap_open_ends_and_keys(spark):
    """[from, to) half-open; overlapping ranges duplicate the doc into
    every matching bucket; missing ends are open; explicit `key` wins
    over the `from-to` name."""
    df = spark.createDataFrame([(5.0,), (10.0,), (25.0,), (40.0,)], "v double")
    plan = compile_visualization(
        _vis8([
            {"id": "1", "type": "range", "schema": "bucket",
             "params": {"field": "v",
                         "ranges": [
                             {"to": 10},
                             {"from": 10, "to": 26},
                             {"from": 25, "key": "big"},
                         ],
                         "customLabel": "r"}},
        ])
    )
    got = {r.r: r["count"] for r in plan.evaluate(df).collect()}
    # 5 → *-10 only; 10 → 10-26 (half-open excludes it from *-10);
    # 25 → BOTH 10-26 and big (overlap); 40 → big
    assert got == {"*-10": 1, "10-26": 2, "big": 2}


def test_stats_and_extended_stats_columns(docs):
    plan = compile_visualization(
        _vis8([
            {"id": "1", "type": "terms", "schema": "bucket",
             "params": {"field": "component.keyword", "size": 10,
                         "order": "asc", "orderBy": "_term",
                         "customLabel": "c"}},
            {"id": "2", "type": "stats", "schema": "metric",
             "params": {"field": "v", "customLabel": "s"}},
            {"id": "3", "type": "extended_stats", "schema": "metric",
             "params": {"field": "v", "customLabel": "x"}},
        ])
    )
    out = plan.evaluate(docs)
    assert out.columns == [
        "c",
        "s_count", "s_min", "s_max", "s_avg", "s_sum",
        "x_count", "x_min", "x_max", "x_avg", "x_sum",
        "x_sum_of_squares", "x_variance", "x_std_deviation",
    ]
    got = {r.c: r for r in out.collect()}
    b = got["broker"]  # v = 10, 30, 40
    assert (b.s_count, b.s_min, b.s_max, b.s_sum) == (3, 10.0, 40.0, 80.0)
    assert b.s_avg == pytest.approx(80 / 3)
    assert b.x_sum_of_squares == pytest.approx(100 + 900 + 1600)
    # ES population variance: ss/n - mean^2
    assert b.x_variance == pytest.approx(2600 / 3 - (80 / 3) ** 2)
    assert b.x_std_deviation == pytest.approx((2600 / 3 - (80 / 3) ** 2) ** 0.5)


def test_pipeline_aggs_semantics(spark):
    """derivative = lag diff (first bucket null); cumulative_sum =
    running total; moving_avg = mean of the `window` buckets BEFORE the
    current one, exclusive (ES moving_fn shift=0)."""
    rows = [
        ("a", "2024-04-01 00:30:00"),
        ("a", "2024-04-02 00:30:00"), ("a", "2024-04-02 01:00:00"),
        ("a", "2024-04-03 00:30:00"), ("a", "2024-04-03 01:00:00"),
        ("a", "2024-04-03 02:00:00"),
        ("b", "2024-04-01 00:30:00"),
    ]
    df = spark.createDataFrame(rows, "k string, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    plan = compile_visualization(
        _vis8([
            {"id": "1", "type": "terms", "schema": "bucket",
             "params": {"field": "k", "size": 10, "order": "asc",
                         "orderBy": "_term", "customLabel": "k"}},
            {"id": "2", "type": "date_histogram", "schema": "bucket",
             "params": {"field": "ts", "interval": "1d", "customLabel": "d"}},
            {"id": "3", "type": "derivative", "schema": "metric",
             "params": {"metricAgg": "_count", "customLabel": "deriv"}},
            {"id": "4", "type": "cumulative_sum", "schema": "metric",
             "params": {"metricAgg": "_count", "customLabel": "cum"}},
            {"id": "5", "type": "moving_avg", "schema": "metric",
             "params": {"metricAgg": "_count", "window": 2,
                         "customLabel": "mov"}},
        ])
    )
    out = plan.evaluate(df)
    a = sorted((r for r in out.collect() if r.k == "a"), key=lambda r: r.d)
    assert [r["count"] for r in a] == [1, 2, 3]
    assert [r.deriv for r in a] == [None, 1.0, 1.0]
    assert [r.cum for r in a] == [1.0, 3.0, 6.0]
    # moving window=2, exclusive: [None, avg(1), avg(1,2)]
    assert [r.mov for r in a] == [None, 1.0, 1.5]
    b = [r for r in out.collect() if r.k == "b"]
    assert len(b) == 1 and b[0].deriv is None and b[0].cum == 1.0


def test_pipeline_buckets_path_resolves_metric_id(docs):
    """buckets_path can name a sibling metric by agg id, not just
    _count."""
    plan = compile_visualization(
        _vis8([
            {"id": "2", "type": "date_histogram", "schema": "bucket",
             "params": {"field": "ts", "interval": "1h", "customLabel": "h"}},
            {"id": "1", "type": "sum", "schema": "metric",
             "params": {"field": "v", "customLabel": "sv"}},
            {"id": "3", "type": "cumulative_sum", "schema": "metric",
             "params": {"metricAgg": "1", "customLabel": "run"}},
        ])
    )
    out = plan.evaluate(docs)
    rows = sorted(out.collect(), key=lambda r: r.h)
    # hourly sums: 10:00→10+40=50, 11:00→30+20=50, 12:00→5+7=12
    assert [r.sv for r in rows] == [50.0, 50.0, 12.0]
    assert [r.run for r in rows] == [50.0, 100.0, 112.0]


def test_pipeline_validation_errors(docs):
    with pytest.raises(ValueError, match="histogram"):
        compile_visualization(
            _vis8([
                {"id": "1", "type": "terms", "schema": "bucket",
                 "params": {"field": "component.keyword", "size": 5,
                             "order": "asc", "orderBy": "_term"}},
                {"id": "2", "type": "derivative", "schema": "metric",
                 "params": {"metricAgg": "_count"}},
            ])
        ).evaluate(docs)
    with pytest.raises(ValueError, match="buckets_path"):
        parse_vis_state(
            _vis8([
                {"id": "1", "type": "date_histogram", "schema": "bucket",
                 "params": {"field": "ts", "interval": "1h"}},
                {"id": "2", "type": "derivative", "schema": "metric",
                 "params": {"metricAgg": "99"}},
            ])["visState"]
        )
    with pytest.raises(ValueError, match="interval"):
        parse_vis_state(
            _vis8([
                {"id": "1", "type": "histogram", "schema": "bucket",
                 "params": {"field": "v", "interval": 0}},
            ])["visState"]
        )
    with pytest.raises(ValueError, match="range"):
        parse_vis_state(
            _vis8([
                {"id": "1", "type": "range", "schema": "bucket",
                 "params": {"field": "v", "ranges": []}},
            ])["visState"]
        )


def test_sibling_bucket_aggs(docs):
    """avg/max_bucket: one value per OUTER bucket computed across the
    inner buckets, repeated on each inner row."""
    plan = compile_visualization(
        _vis8([
            {"id": "1", "type": "terms", "schema": "bucket",
             "params": {"field": "component.keyword", "size": 10,
                         "order": "asc", "orderBy": "_term",
                         "customLabel": "c"}},
            {"id": "2", "type": "date_histogram", "schema": "bucket",
             "params": {"field": "ts", "interval": "1h", "customLabel": "h"}},
            {"id": "3", "type": "sum", "schema": "metric",
             "params": {"field": "v", "customLabel": "sv"}},
            {"id": "4", "type": "avg_bucket", "schema": "metric",
             "params": {"metricAgg": "3", "customLabel": "avg_sv"}},
            {"id": "5", "type": "max_bucket", "schema": "metric",
             "params": {"metricAgg": "_count", "customLabel": "max_n"}},
        ])
    )
    out = plan.evaluate(docs)
    rows = [r for r in out.collect() if r.c == "broker"]
    # broker hours: 10:00 sum=50 (10+40, n=2), 11:00 sum=30 (n=1)
    assert len(rows) == 2
    for r in rows:
        assert r.avg_sv == pytest.approx(40.0)  # avg(50, 30)
        assert r.max_n == 2.0
    zk = [r for r in out.collect() if r.c == "zk"]
    assert all(r.avg_sv == pytest.approx(12.0) for r in zk)  # single hour 5+7


def test_sibling_global_one_row_broadcast(docs):
    """With a single bucket level the sibling agg is a global
    aggregate cross-joined back — never a single-task window."""
    plan = compile_visualization(
        _vis8([
            {"id": "1", "type": "terms", "schema": "bucket",
             "params": {"field": "component.keyword", "size": 10,
                         "order": "asc", "orderBy": "_term",
                         "customLabel": "c"}},
            {"id": "2", "type": "sum", "schema": "metric",
             "params": {"field": "v", "customLabel": "sv"}},
            {"id": "3", "type": "sum_bucket", "schema": "metric",
             "params": {"metricAgg": "2", "customLabel": "total"}},
        ])
    )
    out = plan.evaluate(docs)
    # fingerprint BEFORE execution: the invariant suite pins the
    # planned shape; AQE's final plan renders materialized stages with
    # duplicated subtrees
    from kafka_metrics_exporter_spark.plans.fingerprint import plan_fingerprint
    fp = plan_fingerprint(out)
    assert fp["unpartitioned_window"] == 0
    assert fp["bnl_join"] == fp["bnl_join_onerow"]
    got = {r.c: r for r in out.collect()}
    assert got["broker"].sv == 80.0 and got["broker"].total == 112.0
    assert got["zk"].total == 112.0
    # share-of-total is THE use case: sv/total must be consistent
    assert sum(r.sv / r.total for r in got.values()) == pytest.approx(1.0)


def test_bucket_sort_nested_and_top_level(docs):
    nested = compile_visualization(
        _vis8([
            {"id": "1", "type": "terms", "schema": "bucket",
             "params": {"field": "host.keyword", "size": 10,
                         "order": "asc", "orderBy": "_term",
                         "customLabel": "hst"}},
            {"id": "2", "type": "terms", "schema": "bucket",
             "params": {"field": "component.keyword", "size": 10,
                         "order": "asc", "orderBy": "_term",
                         "customLabel": "c"}},
            {"id": "3", "type": "sum", "schema": "metric",
             "params": {"field": "v", "customLabel": "sv"}},
            {"id": "4", "type": "bucket_sort", "schema": "metric",
             "params": {"sortField": "3", "order": "desc", "size": 1}},
        ])
    )
    got = {(r.hst, r.c): r.sv for r in nested.evaluate(docs).collect()}
    # per host keep the single top component by sum(v)
    assert got == {("h1", "broker"): 40.0, ("h2", "broker"): 40.0}

    top = compile_visualization(
        _vis8([
            {"id": "1", "type": "terms", "schema": "bucket",
             "params": {"field": "component.keyword", "size": 10,
                         "order": "asc", "orderBy": "_term",
                         "customLabel": "c"}},
            {"id": "2", "type": "bucket_sort", "schema": "metric",
             "params": {"sortField": "_count", "order": "desc",
                         "size": 2, "from": 1}},
        ])
    )
    rows = top.evaluate(docs).collect()
    # counts: broker 3, zk 2, connect 1 -> from=1 size=2 keeps zk, connect
    assert {(r.c, r["count"]) for r in rows} == {("zk", 2), ("connect", 1)}


def test_bucket_sort_by_key(docs):
    plan = compile_visualization(
        _vis8([
            {"id": "1", "type": "terms", "schema": "bucket",
             "params": {"field": "component.keyword", "size": 10,
                         "order": "asc", "orderBy": "_term",
                         "customLabel": "c"}},
            {"id": "2", "type": "bucket_sort", "schema": "metric",
             "params": {"order": "desc", "size": 1}},
        ])
    )
    rows = plan.evaluate(docs).collect()
    assert [r.c for r in rows] == ["zk"]


def test_sibling_and_sort_validation(docs):
    with pytest.raises(ValueError, match="bucket_sort"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "terms", "schema": "bucket",
             "params": {"field": "c", "size": 5, "order": "asc",
                         "orderBy": "_term"}},
            {"id": "2", "type": "bucket_sort", "schema": "metric",
             "params": {"size": 0}},
        ])["visState"])
    with pytest.raises(ValueError, match="sortField"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "terms", "schema": "bucket",
             "params": {"field": "c", "size": 5, "order": "asc",
                         "orderBy": "_term"}},
            {"id": "2", "type": "bucket_sort", "schema": "metric",
             "params": {"sortField": "99", "size": 1}},
        ])["visState"])
    with pytest.raises(ValueError, match="sibling"):
        compile_visualization(_vis8([
            {"id": "1", "type": "avg_bucket", "schema": "metric",
             "params": {"metricAgg": "_count"}},
        ])).evaluate(docs)


def test_date_range_bucket(docs):
    """date_range: half-open [from, to) over timestamps, overlap
    duplication, open ends, key override, null ts dropped."""
    plan = compile_visualization(
        _vis8([
            {"id": "1", "type": "date_range", "schema": "bucket",
             "params": {"field": "ts",
                         "ranges": [
                             {"to": "2024-04-01 11:00:00"},
                             {"from": "2024-04-01 10:30:00",
                              "to": "2024-04-01 12:00:00", "key": "mid"},
                             {"from": "2024-04-01 12:00:00"},
                         ],
                         "customLabel": "r"}},
        ])
    )
    got = {r.r: r["count"] for r in plan.evaluate(docs).collect()}
    # docs ts: 10:00(a) 11:00(b) 11:30(c) 10:30(d) 12:10(e,f)
    # *-11:00 -> a, d ; mid [10:30,12:00) -> b, c, d ; 12:00-* -> e, f
    assert got == {"*-2024-04-01 11:00:00": 2, "mid": 3,
                   "2024-04-01 12:00:00-*": 2}
    with pytest.raises(ValueError, match="date_range"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "date_range", "schema": "bucket",
             "params": {"field": "ts", "ranges": []}},
        ])["visState"])


def test_multi_terms_and_rare_terms(docs):
    """ES multi_terms (round 11.5): a terms bucket over a field TUPLE,
    keyed by the '|'-joined key_as_string, doc-count-ordered with a
    size cut; rare_terms: the long-tail complement — keys whose doc
    count is ≤ max_doc_count."""
    mt = [
        {"id": "1", "type": "multi_terms", "schema": "bucket",
         "params": {"terms": [{"field": "host"}, {"field": "status"}],
                    "size": 2, "customLabel": "hs"}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ]
    got = {r["hs"]: r["n"] for r in
           compile_visualization(_vis8(mt)).evaluate(docs).collect()}
    # tuples: h1|RUNNING 2, h2|RUNNING 2, h1|PAUSED 1, h2|FAILED 1 —
    # size 2 keeps the two count-2 tuples (key tiebreak ascending)
    assert got == {"h1|RUNNING": 2, "h2|RUNNING": 2}
    with pytest.raises(ValueError, match="two fields"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "multi_terms", "schema": "bucket",
             "params": {"terms": [{"field": "host"}]}},
        ])["visState"])

    rt = [
        {"id": "1", "type": "rare_terms", "schema": "bucket",
         "params": {"field": "component", "max_doc_count": 2,
                    "customLabel": "comp"}},
        {"id": "2", "type": "sum", "schema": "metric",
         "params": {"field": "v", "customLabel": "total"}},
    ]
    got_rt = {r["comp"]: r["total"] for r in
              compile_visualization(_vis8(rt)).evaluate(docs).collect()}
    # component counts: broker 3, connect 1, zk 2 — rare(≤2) drops broker
    assert got_rt == {"connect": 20.0, "zk": 12.0}
    with pytest.raises(ValueError, match=r"\[1, 100\]"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "rare_terms", "schema": "bucket",
             "params": {"field": "component", "max_doc_count": 500}},
        ])["visState"])
    # round 12: metric-ordered multi_terms — ES orders the tuple
    # buckets by a sub-aggregation exactly like terms.  sums: h2|RUNNING
    # 45, h1|RUNNING 30, h1|PAUSED 30, h2|FAILED 7 — size 2 by sum desc
    # keeps h2|RUNNING then the 30-tie broken by key asc → h1|PAUSED,
    # a genuinely different cut than doc-count order (which keeps the
    # two count-2 tuples)
    mt_metric = [
        {"id": "1", "type": "multi_terms", "schema": "bucket",
         "params": {"terms": [{"field": "host"}, {"field": "status"}],
                    "size": 2, "orderBy": "2", "order": "desc",
                    "customLabel": "hs"}},
        {"id": "2", "type": "sum", "schema": "metric",
         "params": {"field": "v", "customLabel": "total"}},
    ]
    got_m = {r["hs"]: r["total"] for r in
             compile_visualization(_vis8(mt_metric)).evaluate(docs).collect()}
    assert got_m == {"h2|RUNNING": 45.0, "h1|PAUSED": 30.0}
    # _key ordering: the joined key, ascending
    mt_key = [
        {"id": "1", "type": "multi_terms", "schema": "bucket",
         "params": {"terms": [{"field": "host"}, {"field": "status"}],
                    "size": 2, "orderBy": "_key", "order": "asc",
                    "customLabel": "hs"}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ]
    got_k = {r["hs"]: r["n"] for r in
             compile_visualization(_vis8(mt_key)).evaluate(docs).collect()}
    assert got_k == {"h1|PAUSED": 1, "h1|RUNNING": 2}
    # an orderBy pointing at nothing still raises loudly
    with pytest.raises(ValueError, match="multi_terms orderBy"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "multi_terms", "schema": "bucket",
             "params": {"terms": [{"field": "host"}, {"field": "status"}],
                        "orderBy": "99"}},
        ])["visState"])


def test_multi_terms_separator_in_values(spark):
    """Code-review 11.5: ES multi_terms keys on the value TUPLE —
    ('a|b','c') and ('a','b|c') are DISTINCT buckets even though their
    plain '|'-joins collide.  The engine escapes embedded separators
    so the joined key stays a bijection of the tuple."""
    df = spark.createDataFrame(
        [("a|b", "c"), ("a", "b|c"), ("a", "b|c"), (r"x\y", "z")],
        "f1 string, f2 string",
    )
    aggs = [
        {"id": "1", "type": "multi_terms", "schema": "bucket",
         "params": {"terms": [{"field": "f1"}, {"field": "f2"}],
                    "size": 10, "customLabel": "k"}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ]
    got = {r["k"]: r["n"] for r in
           compile_visualization(_vis8(aggs)).evaluate(df).collect()}
    assert got == {r"a\|b|c": 1, r"a|b\|c": 2, "x\\\\y|z": 1}


def test_rare_terms_count_at_its_own_level(spark):
    """Code-review 11.5: rare_terms doc counts are taken AT the rare
    bucket's level — an inner bucket that EXPLODES rows (overlapping
    ranges) or DROPS them (null-key filter) must not distort rare
    membership."""
    df = spark.createDataFrame(
        [("a", 5.0), ("a", 7.0), ("b", 5.0), ("b", 6.0), ("b", 7.0),
         ("c", None)],
        "g string, v double",
    )
    aggs = [
        {"id": "1", "type": "rare_terms", "schema": "bucket",
         "params": {"field": "g", "max_doc_count": 2,
                    "customLabel": "g"}},
        # overlapping ranges: every non-null doc explodes into 2 rows
        {"id": "2", "type": "range", "schema": "bucket",
         "params": {"field": "v",
                    "ranges": [{"from": 0, "to": 10},
                               {"from": 3, "to": 10}]}},
        {"id": "3", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(df).collect()
    keys = {r["g"] for r in out}
    # 'a' has TRUE doc count 2 (qualifies) even though it explodes to
    # 4 rows; 'b' (3 docs) stays out even though the null-dropping
    # inner bucket could deflate a post-transform count; 'c' has a
    # null range key (dropped rows) but its rare count is its own
    assert "a" in keys and "b" not in keys
    # and the exploded inner buckets are still per-range rows for 'a'
    assert sum(1 for r in out if r["g"] == "a") == 2  # two range buckets


def test_filters_other_bucket(docs):
    """ES filters other_bucket (round 11.5): documents matching NO
    filter land in the other bucket instead of dropping; a doc
    matching any filter never lands there; the key is configurable and
    defaults to '_other_' (slugged)."""
    aggs = [
        {"id": "1", "type": "filters", "schema": "bucket",
         "params": {"customLabel": "b", "other_bucket": True,
                    "other_bucket_key": "rest",
                    "filters": [
                        {"label": "running",
                         "input": {"query": {"query_string":
                                   {"query": "status: RUNNING"}}}},
                        {"label": "broker",
                         "input": {"query": {"query_string":
                                   {"query": "component: broker"}}}},
                    ]}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ]
    got = {r["b"]: r["n"] for r in
           compile_visualization(_vis8(aggs)).evaluate(docs).collect()}
    # RUNNING: a,c,d,e (4); broker: a,b,d (3); neither: f (FAILED zk)
    assert got == {"running": 4, "broker": 3, "rest": 1}
    # without other_bucket the non-matching doc drops (ES default)
    aggs[0]["params"].pop("other_bucket")
    aggs[0]["params"].pop("other_bucket_key")
    got2 = {r["b"]: r["n"] for r in
            compile_visualization(_vis8(aggs)).evaluate(docs).collect()}
    assert got2 == {"running": 4, "broker": 3}
    # default key: ES's '_other_', slugged to 'other' like every
    # bucket label in this engine
    aggs[0]["params"]["other_bucket"] = True
    got3 = {r["b"]: r["n"] for r in
            compile_visualization(_vis8(aggs)).evaluate(docs).collect()}
    assert got3.get("other") == 1
    # ES: other_bucket_key alone implicitly enables other_bucket
    aggs[0]["params"].pop("other_bucket")
    aggs[0]["params"]["other_bucket_key"] = "rest"
    got4 = {r["b"]: r["n"] for r in
            compile_visualization(_vis8(aggs)).evaluate(docs).collect()}
    assert got4.get("rest") == 1
    # a key colliding with a slugged filter label would silently merge
    # buckets — rejected loudly
    aggs[0]["params"]["other_bucket_key"] = "Running"
    with pytest.raises(ValueError, match="collides"):
        compile_visualization(_vis8(aggs))


def test_pipeline_request_order_reduction(docs):
    """Round 11.5 (removes the ADVICE-r9 documented divergence): ES
    reduces same-level pipeline aggs in REQUEST order — a
    bucket_selector declared before a sibling agg filters that
    sibling's input, one declared after does not, and a selector
    before a derivative leaves gaps its lag then skips over."""
    # terms over v-buckets: sums per host are h1=60, h2=52
    base = [
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "host", "size": 10, "orderBy": "_term",
                    "customLabel": "host"}},
        {"id": "2", "type": "sum", "schema": "metric",
         "params": {"field": "v", "customLabel": "total"}},
    ]
    sel = {"id": "3", "type": "bucket_selector", "schema": "metric",
           "params": {"buckets_path": {"t": "2"}, "script": "params.t > 55"}}
    avg = {"id": "4", "type": "avg_bucket", "schema": "metric",
           "params": {"metricAgg": "2", "customLabel": "ab"}}

    # selector BEFORE the sibling: avg over surviving buckets only
    out = compile_visualization(_vis8(base + [sel, avg])).evaluate(docs).collect()
    assert [r["host"] for r in out] == ["h1"]
    assert out[0]["ab"] == pytest.approx(60.0)

    # selector AFTER the sibling: avg over ALL buckets, then filter
    out2 = compile_visualization(_vis8(base + [avg, sel])).evaluate(docs).collect()
    assert [r["host"] for r in out2] == ["h1"]
    assert out2[0]["ab"] == pytest.approx(56.0)  # (60 + 52) / 2

    # selector before a derivative: the dropped bucket leaves a gap
    # the lag window skips over (h1 11:00 bucket removed → the 11:30
    # derivative is 20 − 10, not 20 − 30)
    hist = [
        {"id": "1", "type": "date_histogram", "schema": "bucket",
         "params": {"field": "ts", "interval": "30m", "customLabel": "slot"}},
        {"id": "2", "type": "sum", "schema": "metric",
         "params": {"field": "v", "customLabel": "total"}},
        {"id": "3", "type": "bucket_selector", "schema": "metric",
         "params": {"buckets_path": {"t": "2"},
                    "script": "params.t != 30"}},
        {"id": "4", "type": "derivative", "schema": "metric",
         "params": {"metricAgg": "2", "customLabel": "dv"}},
    ]
    h1 = docs.filter(F.col("host") == "h1")
    out3 = compile_visualization(_vis8(hist)).evaluate(h1).collect()
    by_slot = {str(r["slot"]): r["dv"] for r in out3}
    assert by_slot["2024-04-01 11:30:00"] == pytest.approx(10.0)  # 20 − 10
    # ...whereas declared the other way round the derivative computes
    # over the full sequence first (20 − 30), then the bucket drops
    hist2 = [hist[0], hist[1], hist[3], hist[2]]
    out4 = compile_visualization(_vis8(hist2)).evaluate(h1).collect()
    by_slot2 = {str(r["slot"]): r["dv"] for r in out4}
    assert by_slot2["2024-04-01 11:30:00"] == pytest.approx(-10.0)  # 20 − 30


def test_bucket_script_and_selector(docs):
    """ES bucket_script adds a painless-computed column per bucket;
    bucket_selector drops buckets whose script is false (round 9)."""
    aggs = [
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "host", "size": 10, "orderBy": "_term",
                    "customLabel": "host"}},
        {"id": "2", "type": "sum", "schema": "metric",
         "params": {"field": "v", "customLabel": "total"}},
        {"id": "3", "type": "bucket_script", "schema": "metric",
         "params": {"buckets_path": {"t": "2", "c": "_count"},
                    "script": {"source": "params.t / params.c"},
                    "customLabel": "per_doc"}},
        {"id": "4", "type": "bucket_selector", "schema": "metric",
         "params": {"buckets_path": {"c": "_count"},
                    "script": "params.c >= 3"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(docs).collect()
    got = {r["host"]: (r["total"], r["per_doc"]) for r in out}
    # h1: 60/3 docs = 20; h2: 52/3... both have 3 docs -> both kept
    assert got == {"h1": (60.0, 20.0), "h2": (52.0, 52.0 / 3.0)}

    # selector drops h2 when thresholding on the sum
    aggs[3]["params"] = {"buckets_path": {"t": "2"},
                         "script": "params.t > 55 && !(params.t == 52)"}
    out2 = compile_visualization(_vis8(aggs)).evaluate(docs).collect()
    assert [r["host"] for r in out2] == ["h1"]

    # precedence: * binds over +, % works, unary minus
    aggs[2]["params"] = {"buckets_path": {"t": "2"},
                         "script": "-(params.t + 2 * 10) % 7",
                         "customLabel": "mix"}
    aggs[3]["params"] = {"buckets_path": {"t": "2"}, "script": "1 < 2"}
    out3 = compile_visualization(_vis8(aggs)).evaluate(docs).collect()
    got3 = {r["host"]: r["mix"] for r in out3}
    # Spark % keeps the dividend sign (like painless/Java, unlike
    # Python): -80 % 7 = -3, -72 % 7 = -2
    assert got3 == {"h1": -3.0, "h2": -2.0}


def test_bucket_script_errors():
    base = [
        {"id": "1", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
        {"id": "2", "type": "terms", "schema": "bucket",
         "params": {"field": "host", "size": 5, "orderBy": "_term"}},
    ]
    with pytest.raises(ValueError, match="buckets_path map"):
        compile_visualization(_vis8(base + [
            {"id": "3", "type": "bucket_script", "schema": "metric",
             "params": {"script": "params.x"}}]))
    with pytest.raises(ValueError, match="does not resolve"):
        compile_visualization(_vis8(base + [
            {"id": "3", "type": "bucket_script", "schema": "metric",
             "params": {"buckets_path": {"x": "99"},
                        "script": "params.x"}}]))
    with pytest.raises(ValueError, match="no buckets_path entry"):
        compile_visualization(_vis8(base + [
            {"id": "3", "type": "bucket_script", "schema": "metric",
             "params": {"buckets_path": {"x": "1"},
                        "script": "params.y + 1"}}]))
    with pytest.raises(ValueError, match="unsupported bucket script"):
        compile_visualization(_vis8(base + [
            {"id": "3", "type": "bucket_script", "schema": "metric",
             "params": {"buckets_path": {"x": "1"},
                        "script": "doc['f'].value"}}]))
    with pytest.raises(ValueError, match="needs a script"):
        compile_visualization(_vis8(base + [
            {"id": "3", "type": "bucket_selector", "schema": "metric",
             "params": {"buckets_path": {"x": "1"}}}]))


def test_bucket_script_parses_without_spark():
    """bucket_script/bucket_selector visStates compile with no Spark
    session, and a bad script still fails at parse time.  Runs in a
    fresh interpreter: the suite's session would otherwise be active."""
    import textwrap

    code = textwrap.dedent("""
        import json
        from pyspark import SparkContext
        from kafka_metrics_exporter_spark.kibana import compile_visualization

        def vis(script):
            return {"visState": json.dumps({"title": "t", "type": "table",
                    "aggs": [
                {"id": "1", "type": "count", "schema": "metric"},
                {"id": "2", "type": "terms", "schema": "bucket",
                 "params": {"field": "host", "size": 5}},
                {"id": "3", "type": "bucket_script", "schema": "metric",
                 "params": {"buckets_path": {"c": "_count"},
                            "script": script, "customLabel": "s"}},
                {"id": "4", "type": "bucket_selector", "schema": "metric",
                 "params": {"buckets_path": {"c": "1"},
                            "script": "!(params.c < 2) && params.c % 2 == 0"}},
            ]})}

        compile_visualization(vis("-(params.c + 2) * 10 / params.c"))
        for bad in ("params.c +", "params.c )", "(params.c", "params.d"):
            try:
                compile_visualization(vis(bad))
            except ValueError:
                continue
            raise SystemExit(f"accepted {bad!r}")
        assert SparkContext._active_spark_context is None
        print("ok")
    """)
    assert run_fresh_python(code) == "ok"


def test_serial_diff_stats_and_percentiles_bucket(spark):
    """ES serial_diff (lag-N parent pipeline) + stats_bucket /
    percentiles_bucket (multi-column siblings) — round 9."""
    import datetime as dt

    rows = []
    t0 = dt.datetime(2024, 1, 1)
    for i in range(60):
        rows.append((f"t{i % 2}", t0 + dt.timedelta(days=i % 5), float(i % 7), i))
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double, event_id long"
    )
    aggs = [
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "event_type", "size": 10, "orderBy": "_term",
                    "customLabel": "et"}},
        {"id": "2", "type": "date_histogram", "schema": "bucket",
         "params": {"field": "ts", "interval": "1d", "customLabel": "day"}},
        {"id": "3", "type": "sum", "schema": "metric",
         "params": {"field": "value", "customLabel": "total"}},
        {"id": "4", "type": "serial_diff", "schema": "metric",
         "params": {"metricAgg": "3", "lag": 2, "customLabel": "sd2"}},
        {"id": "5", "type": "stats_bucket", "schema": "metric",
         "params": {"metricAgg": "3", "customLabel": "st"}},
        {"id": "6", "type": "percentiles_bucket", "schema": "metric",
         "params": {"metricAgg": "3", "percents": [50, 95],
                    "customLabel": "pb"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(df)
    rows_out = sorted(out.collect(), key=lambda r: (r["et"], r["day"]))
    t0rows = [r for r in rows_out if r["et"] == "t0"]
    # totals per day for t0: [17, 18, 15, 16, 20]
    assert [r["total"] for r in t0rows] == [17.0, 18.0, 15.0, 16.0, 20.0]
    # serial_diff lag=2: first two NULL, then total[i] - total[i-2]
    assert [r["sd2"] for r in t0rows] == [None, None, -2.0, -2.0, 5.0]
    # stats_bucket across the 5 day-buckets, repeated per row
    r = t0rows[0]
    assert (r["st_count"], r["st_min"], r["st_max"], r["st_sum"]) == (
        5, 15.0, 20.0, 86.0
    )
    assert r["st_avg"] == pytest.approx(17.2)
    # percentiles_bucket: ES returns the NEAREST sorted input value
    # (no interpolation): over [15,16,17,18,20] the index is
    # round(p/100*(n-1)) → p50 = idx 2 = 17, p95 = idx 4 = 20 (a
    # linear interpolation would fabricate 19.6 — ADVICE r9)
    assert r["pb_p50"] == 17.0 and r["pb_p95"] == 20.0

    with pytest.raises(ValueError, match="lag must be >= 1"):
        compile_visualization(_vis8(aggs[:3] + [
            {"id": "7", "type": "serial_diff", "schema": "metric",
             "params": {"metricAgg": "3", "lag": 0}}]))
    with pytest.raises(ValueError, match="percents must be"):
        compile_visualization(_vis8(aggs[:3] + [
            {"id": "7", "type": "percentiles_bucket", "schema": "metric",
             "params": {"metricAgg": "3", "percents": [150]}}]))


def test_bucket_script_property_matches_python_eval(spark):
    """Property: for random well-formed arithmetic scripts, the
    compiled Column agrees with a reference Python evaluation of the
    same expression tree (Java-sign %, NaN/Inf on zero divisors).
    Catches precedence/associativity drift in the precedence-climbing
    parser."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kafka_metrics_exporter_spark.kibana.compiler import (
        compile_bucket_script,
    )

    leaf = st.sampled_from(["params.a", "params.b", "2", "3.5", "7"])
    ops = st.sampled_from(["+", "-", "*", "/", "%"])
    trees = st.recursive(
        leaf, lambda kids: st.tuples(ops, kids, kids), max_leaves=10
    )

    def render(tree):
        if isinstance(tree, str):
            return tree
        op, l_, r_ = tree
        return f"({render(l_)} {op} {render(r_)})"

    def py_eval(tree, a, b):
        if isinstance(tree, str):
            if tree == "params.a":
                return a
            if tree == "params.b":
                return b
            return float(tree)
        op, l_, r_ = tree
        x, y = py_eval(l_, a, b), py_eval(r_, a, b)
        if op == "+":
            return x + y
        if op == "-":
            return x - y
        if op == "*":
            return x * y
        if not math.isfinite(x) or not math.isfinite(y) or (
            op in "/%" and y == 0
        ):
            return float("nan")  # Spark double math yields NaN/Inf chains
        if op == "/":
            return x / y
        # Java % keeps the dividend sign (math.fmod does too)
        return math.fmod(x, y)

    @settings(max_examples=30, deadline=None)
    @given(trees, st.floats(1.0, 9.0), st.floats(1.0, 9.0))
    def check(tree, a, b):
        script = render(tree)
        col = compile_bucket_script(script, {"a": "a", "b": "b"})
        df = spark.createDataFrame([(a, b)], "a double, b double")
        got = df.select(col.alias("v")).first()["v"]
        want = py_eval(tree, a, b)
        if got is None or not math.isfinite(want):
            assert got is None or not math.isfinite(got)
            return
        assert got == pytest.approx(want, rel=1e-12)

    check()


def test_significant_terms_jlh_and_errors(spark):
    """ES significant_terms: JLH scoring against the background,
    min_doc_count gate, foreground-scoped metrics, error shapes."""
    rows = []
    i = 0
    for term, n_ok, n_failed in (("disk", 40, 20), ("net", 40, 2), ("cpu", 40, 2)):
        for _ in range(n_ok):
            rows.append((i, term, "OK", float(i % 5))); i += 1
        for _ in range(n_failed):
            rows.append((i, term, "FAILED", float(i % 5))); i += 1
    df = spark.createDataFrame(
        rows, "id long, component string, status string, v double"
    )
    aggs = [
        {"id": "1", "type": "significant_terms", "schema": "bucket",
         "params": {"field": "component", "size": 5,
                    "foreground": "status: FAILED", "customLabel": "comp"}},
        {"id": "2", "type": "avg", "schema": "metric",
         "params": {"field": "v", "customLabel": "avg_v"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(df).collect()
    # only disk is significant: fg 20/24 vs bg 60/144; net/cpu fail
    # min_doc_count=3 (2 fg docs each)
    assert [r["comp"] for r in out] == ["disk"]
    r = out[0]
    fgp, bgp = 20 / 24, 60 / 144
    assert r["doc_count"] == 20 and r["bg_count"] == 60
    assert r["score"] == pytest.approx((fgp - bgp) * (fgp / bgp))
    # avg over the FOREGROUND disk rows only
    fg_vals = [row[3] for row in rows if row[1] == "disk" and row[2] == "FAILED"]
    assert r["avg_v"] == pytest.approx(sum(fg_vals) / len(fg_vals))

    with pytest.raises(ValueError, match="explicit 'foreground'"):
        compile_visualization(_vis8([
            {"id": "1", "type": "significant_terms", "schema": "bucket",
             "params": {"field": "component", "size": 5}}]))
    with pytest.raises(ValueError, match="only bucket agg"):
        compile_visualization(_vis8([
            {"id": "1", "type": "significant_terms", "schema": "bucket",
             "params": {"field": "component", "foreground": "status: OK"}},
            {"id": "2", "type": "terms", "schema": "bucket",
             "params": {"field": "status", "size": 3, "orderBy": "_term"}},
        ])).evaluate(df)
    with pytest.raises(ValueError, match="simple metric"):
        compile_visualization(_vis8([
            {"id": "1", "type": "significant_terms", "schema": "bucket",
             "params": {"field": "component", "foreground": "status: OK"}},
            {"id": "2", "type": "median", "schema": "metric",
             "params": {"field": "v"}},
        ])).evaluate(df)


def test_significant_terms_drops_null_field_docs_but_counts_them(spark):
    """ADVICE r9: docs missing the term field never form a bucket in
    ES, but they DO count toward the subset/superset set sizes.  A
    NULL-keyed group that passes min_doc_count must not be emitted,
    and the kept terms' scores must reflect totals that include the
    missing-field docs."""
    rows = []
    i = 0
    for term, n_failed, n_ok in (("disk", 10, 10), (None, 5, 5), ("net", 2, 18)):
        for _ in range(n_failed):
            rows.append((i, term, "FAILED")); i += 1
        for _ in range(n_ok):
            rows.append((i, term, "OK")); i += 1
    df = spark.createDataFrame(rows, "id long, component string, status string")
    aggs = [
        {"id": "1", "type": "significant_terms", "schema": "bucket",
         "params": {"field": "component", "size": 5,
                    "foreground": "status: FAILED", "customLabel": "comp"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(df).collect()
    # the NULL group (5 fg docs ≥ min_doc_count=3) is dropped; net
    # fails min_doc_count (2 fg docs); only disk is emitted
    assert [r["comp"] for r in out] == ["disk"]
    # subset=17 FAILED docs and superset=50 docs INCLUDE the 10
    # missing-field docs — ES set sizes, not bucket-only totals
    fgp, bgp = 10 / 17, 20 / 50
    assert out[0]["doc_count"] == 10 and out[0]["bg_count"] == 20
    assert out[0]["score"] == pytest.approx((fgp - bgp) * (fgp / bgp))


def test_composite_pagination_covers_all_buckets(spark):
    """ES composite: successive after-cursors walk EVERY bucket exactly
    once in lexicographic key order — the lossless-export contract that
    distinguishes composite from a size-capped terms agg."""
    import datetime as dt

    rows = []
    t0 = dt.datetime(2024, 1, 1)
    for i in range(50):
        rows.append((f"t{i % 4}", t0 + dt.timedelta(minutes=37 * i), float(i), i))
    rows.append((None, t0, 99.0, 99))  # null key doc drops (missing_bucket=false)
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double, event_id long"
    )

    def page(after):
        aggs = [
            {"id": "1", "type": "composite", "schema": "bucket", "params": {
                "sources": [
                    {"etype": {"terms": {"field": "event_type"}}},
                    {"slot": {"date_histogram": {"field": "ts",
                                                 "interval": "6h"}}},
                ],
                "size": 7,
                **({"after": after} if after else {}),
            }},
            {"id": "2", "type": "sum", "schema": "metric",
             "params": {"field": "value", "customLabel": "total"}},
        ]
        return compile_visualization(_vis8(aggs)).evaluate(df).collect()

    seen, after, pages = [], None, 0
    while True:
        rows_out = page(after)
        if not rows_out:
            break
        seen += [(r["etype"], r["slot"], r["total"]) for r in rows_out]
        after = [rows_out[-1]["etype"], str(rows_out[-1]["slot"])]
        pages += 1
        assert pages < 20  # terminates
    # exhaustive, ordered, no dup, no null-key bucket
    assert len(seen) == len(set(seen)) and len(seen) >= 8
    assert seen == sorted(seen, key=lambda x: (x[0], x[1]))
    assert all(k[0] is not None for k in seen)
    # equals the unpaginated groupBy
    direct = df.filter(F.col("event_type").isNotNull()).groupBy(
        "event_type",
        F.timestamp_micros(
            F.unix_micros("ts") - F.pmod(F.unix_micros("ts"), 21600000000)
        ).alias("slot"),
    ).agg(F.sum("value").alias("total")).collect()
    assert {(r["event_type"], r["slot"], r["total"]) for r in direct} == set(seen)

    with pytest.raises(ValueError, match="one value per source"):
        page(["t0"])
    with pytest.raises(ValueError, match="only bucket agg"):
        compile_visualization(_vis8([
            {"id": "1", "type": "composite", "schema": "bucket", "params": {
                "sources": [{"e": {"terms": {"field": "event_type"}}}]}},
            {"id": "2", "type": "terms", "schema": "bucket",
             "params": {"field": "event_type", "size": 3,
                        "orderBy": "_term"}},
        ])).evaluate(df)


def test_bucket_script_null_inputs_follow_gap_policy_skip(spark):
    """Code-review r9: a bucket whose script input is null must yield a
    null script value (and be DROPPED by a selector), not ±Inf/NaN from
    the zero-divisor guards' fall-through branches."""
    rows = [("a", 1.0), ("a", None), ("b", None)]  # b: all-null metric
    df = spark.createDataFrame(rows, "k string, v double")
    aggs = [
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "k", "size": 5, "orderBy": "_term",
                    "customLabel": "k"}},
        {"id": "2", "type": "avg", "schema": "metric",
         "params": {"field": "v", "customLabel": "a"}},
        {"id": "3", "type": "bucket_script", "schema": "metric",
         "params": {"buckets_path": {"x": "2", "c": "_count"},
                    "script": "params.c / params.x",
                    "customLabel": "per"}},
    ]
    got = {r["k"]: r["per"]
           for r in compile_visualization(_vis8(aggs)).evaluate(df).collect()}
    assert got["a"] == 2.0 and got["b"] is None
    # selector drops the null-input bucket instead of keeping an Inf
    aggs[2] = {"id": "3", "type": "bucket_selector", "schema": "metric",
               "params": {"buckets_path": {"x": "2"},
                          "script": "params.x / params.x >= 0"}}
    kept = [r["k"] for r in
            compile_visualization(_vis8(aggs)).evaluate(df).collect()]
    assert kept == ["a"]


def test_composite_numeric_after_key_for_date_histogram(spark):
    """Code-review r9: ES returns date_histogram after-keys as
    epoch-millis numbers — they must compare against the timestamp key
    instead of raising DATATYPE_MISMATCH."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [("a", t0 + dt.timedelta(hours=6 * i), float(i)) for i in range(4)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    after_ms = int((t0 + dt.timedelta(hours=6)).timestamp() * 1000)
    aggs = [
        {"id": "1", "type": "composite", "schema": "bucket", "params": {
            "sources": [
                {"k": {"terms": {"field": "k"}}},
                {"slot": {"date_histogram": {"field": "ts",
                                             "interval": "6h"}}},
            ],
            "size": 10, "after": ["a", after_ms],
        }},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(df).collect()
    assert [r["slot"].hour for r in out] == [12, 18]


def test_bucket_script_path_to_stats_metric_rejects_at_parse(spark):
    """Code-review r9: a buckets_path naming a multi-column metric
    (stats/percentiles) must fail at parse time, not UNRESOLVED_COLUMN
    mid-evaluation."""
    aggs = [
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "k", "size": 5, "orderBy": "_term"}},
        {"id": "2", "type": "extended_stats", "schema": "metric",
         "params": {"field": "v", "customLabel": "st"}},
        {"id": "3", "type": "bucket_script", "schema": "metric",
         "params": {"buckets_path": {"x": "2"}, "script": "params.x"}},
    ]
    with pytest.raises(ValueError, match="single-column sibling"):
        compile_visualization(_vis8(aggs))
    # same guard on the window pipelines
    aggs[2] = {"id": "3", "type": "derivative", "schema": "metric",
               "params": {"metricAgg": "2"}}
    with pytest.raises(ValueError, match="single-column sibling"):
        compile_visualization(_vis8(aggs))


def test_moving_fn_scripts_and_histogram_null_docs(spark):
    """Code-review r9 (round-8 surface): MovingFunctions scripts must
    be honored (max/min/sum — a max panel silently replayed as a
    mean), unsupported scripts must raise, and histogram buckets drop
    docs missing the field like the range buckets do."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [("a", t0 + dt.timedelta(days=i), v)
            for i, v in enumerate([1.0, 5.0, 2.0, 8.0])]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")

    def mk(script):
        return _vis8([
            {"id": "1", "type": "date_histogram", "schema": "bucket",
             "params": {"field": "ts", "interval": "1d",
                        "customLabel": "day"}},
            {"id": "2", "type": "sum", "schema": "metric",
             "params": {"field": "v", "customLabel": "s"}},
            {"id": "3", "type": "moving_fn", "schema": "metric",
             "params": {"metricAgg": "2", "window": 2,
                        "script": script, "customLabel": "m"}},
        ])

    got = [r["m"] for r in compile_visualization(
        mk("MovingFunctions.max(values)")).evaluate(df)
        .orderBy("day").collect()]
    # trailing-2 exclusive max over [1,5,2,8]
    assert got == [None, 1.0, 5.0, 5.0]
    got_sum = [r["m"] for r in compile_visualization(
        mk({"source": "MovingFunctions.sum(values)"})).evaluate(df)
        .orderBy("day").collect()]
    assert got_sum == [None, 1.0, 6.0, 7.0]
    with pytest.raises(ValueError, match="unsupported moving_fn script"):
        compile_visualization(mk("MovingFunctions.holt(values, 0.3, 0.1)"))

    # histogram bucket: a doc with a NULL field must not create a
    # null-key bucket row
    hdf = spark.createDataFrame(
        [(1.0,), (3.0,), (None,)], "x double"
    )
    hv = _vis8([
        {"id": "1", "type": "histogram", "schema": "bucket",
         "params": {"field": "x", "interval": 2,
                    "customLabel": "bin"}},
    ])
    bins = [r["bin"] for r in compile_visualization(hv).evaluate(hdf).collect()]
    assert None not in bins and sorted(bins) == [0.0, 2.0]


def test_implicit_count_label_collision_uniquified(spark):
    """Code-review r9 (round-8 surface): a metric customLabel'd 'count'
    plus a _count buckets_path used to alias two columns 'count' and
    crash with AMBIGUOUS_REFERENCE."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [("a", t0 + dt.timedelta(days=i), float(i)) for i in range(3)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    aggs = [
        {"id": "1", "type": "date_histogram", "schema": "bucket",
         "params": {"field": "ts", "interval": "1d", "customLabel": "day"}},
        {"id": "2", "type": "avg", "schema": "metric",
         "params": {"field": "v", "customLabel": "count"}},  # collides
        {"id": "3", "type": "cumulative_sum", "schema": "metric",
         "params": {"metricAgg": "_count", "customLabel": "running"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(df).orderBy("day")
    got = out.collect()
    assert [r["running"] for r in got] == [1.0, 2.0, 3.0]  # doc counts
    assert [r["count"] for r in got] == [0.0, 1.0, 2.0]  # the avg metric


def test_compile_export_with_round9_aggs(spark):
    """A saved-objects export whose panels use the round-9 agg
    vocabulary (bucket_script/selector, serial_diff, stats_bucket,
    significant_terms, composite) compiles and runs through the
    whole-export replay path end-to-end."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [(f"t{i % 2}", t0 + dt.timedelta(days=i % 4), float(i % 7), i)
            for i in range(40)]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double, event_id long"
    )

    def vis_obj(vid, title, aggs):
        return {
            "_id": vid, "_type": "visualization",
            "_source": {
                "title": title,
                "visState": json.dumps(
                    {"title": title, "type": "table", "aggs": aggs}
                ),
            },
        }

    export = [
        vis_obj("v1", "ratio panel", [
            {"id": "1", "type": "terms", "schema": "bucket",
             "params": {"field": "event_type", "size": 5,
                        "orderBy": "_term", "customLabel": "et"}},
            {"id": "2", "type": "sum", "schema": "metric",
             "params": {"field": "value", "customLabel": "total"}},
            {"id": "3", "type": "bucket_script", "schema": "metric",
             "params": {"buckets_path": {"t": "2", "c": "_count"},
                        "script": "params.t / params.c",
                        "customLabel": "ratio"}},
        ]),
        vis_obj("v2", "sig panel", [
            {"id": "1", "type": "significant_terms", "schema": "bucket",
             "params": {"field": "event_type", "size": 5,
                        "min_doc_count": 1,
                        "foreground": "event_type: t0",
                        "customLabel": "term"}},
        ]),
        vis_obj("v3", "composite panel", [
            {"id": "1", "type": "composite", "schema": "bucket",
             "params": {"sources": [
                 {"et": {"terms": {"field": "event_type"}}},
                 {"day": {"date_histogram": {"field": "ts",
                                             "interval": "1d"}}},
             ], "size": 4}},
        ]),
    ]
    from kafka_metrics_exporter_spark.kibana.compiler import compile_export

    plans = compile_export(export)
    assert set(plans) == {"ratio panel", "sig panel", "composite panel"}
    ratio = {r["et"]: r["ratio"]
             for r in plans["ratio panel"].evaluate(df).collect()}
    assert set(ratio) == {"t0", "t1"} and all(v > 0 for v in ratio.values())
    sig = plans["sig panel"].evaluate(df).collect()
    assert [r["term"] for r in sig] == ["t0"]  # fg == t0 docs only
    comp = plans["composite panel"].evaluate(df).collect()
    assert len(comp) == 4  # one page
    # lexicographic walk: t0 (even i) spans days 0/2, t1 days 1/3
    assert [(r["et"], r["day"].day) for r in comp] == [
        ("t0", 1), ("t0", 3), ("t1", 2), ("t1", 4)
    ]


def test_query_string_boolean_grammar(spark):
    """Round 9: the Lucene query_string subset grows
    AND/OR/NOT/parens, exact phrases, prefix wildcards, existence,
    numeric comparisons and [a TO b] ranges — driven through the
    filters bucket and a significant_terms foreground; the two legacy
    forms (multi-word unquoted value, bare phrase) stay verbatim."""
    rows = [
        ("h1", "broker", "RUNNING", 10.0, "a"),
        ("h1", "connect", "FAILED", 30.0, "b"),
        ("h2", "broker", "FAILED", 40.0, "c"),
        ("h2", "zk", None, 5.0, "d"),
    ]
    df = spark.createDataFrame(
        rows, "host string, comp string, status string, v double, id string"
    )

    def filt(queries):
        aggs = [
            {"id": "1", "type": "filters", "schema": "bucket",
             "params": {"filters": [
                 {"label": f"f{i}",
                  "input": {"query": {"query_string": {"query": qq}}}}
                 for i, qq in enumerate(queries)
             ]}},
        ]
        out = compile_visualization(_vis8(aggs)).evaluate(
            df, default_search_field="comp"
        )
        return {r["filters_1"]: r["count"] for r in out.collect()}

    got = filt([
        "status: FAILED AND host: h1",
        "comp: broker OR comp: zk",
        "NOT status: RUNNING AND v: >=30",
        "(host: h1 OR host: h2) AND comp: brok*",
        "v: [10 TO 40]",
        "status: *",
    ])
    assert got["f0"] == 1  # only the h1 FAILED row
    assert got["f1"] == 3
    assert got["f2"] == 2  # two FAILED rows >= 30 (NULL status drops)
    assert got["f3"] == 2  # prefix wildcard
    assert got["f4"] == 3  # inclusive numeric range
    assert got["f5"] == 3  # existence drops the NULL status row

    # errors stay loud
    with pytest.raises(ValueError, match="unbalanced parens"):
        filt(["(status: FAILED"])
    with pytest.raises(ValueError, match="unexpected"):
        filt(["AND status: FAILED"])

    # legacy single-term form keeps end-of-string value semantics
    aggs = [
        {"id": "1", "type": "significant_terms", "schema": "bucket",
         "params": {"field": "host", "size": 5, "min_doc_count": 1,
                    "foreground": "status: FAILED AND comp: broker",
                    "customLabel": "host"}},
    ]
    sig = compile_visualization(_vis8(aggs)).evaluate(df).collect()
    assert [r["host"] for r in sig] == ["h2"]


def test_query_string_fuzz_never_crashes(spark):
    """The query_string grammar takes UNTRUSTED search-bar input: any
    string must either compile to a Column or raise ValueError (the
    parser's loud contract) — never an IndexError / RecursionError /
    KeyError / regex-compile crash.  Exercises the tokenizer, the
    precedence climber, the fuzzy/proximity/wildcard/range branches,
    and the expansion bounds with structured-noise inputs (round 11.5;
    the compile path is driver-side, so no Spark jobs run)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kafka_metrics_exporter_spark.kibana.compiler import (
        _default_resolver, _query_string_pred,
    )

    df = spark.createDataFrame(
        [(1, "a b c", "x")], "id int, msg string, lang string"
    )
    resolver = _default_resolver(df)

    atoms = st.sampled_from([
        "msg:", "lang:", "AND", "OR", "NOT", "(", ")", '"a b"', '"a b c"~2',
        "a*c", "fo?o", "ab~1", "x~", "zz~9", "[1 TO 5]", "[* TO 3]",
        ">=2", "<7", "term", '"', "~", "^2", "msg:\"\"", '"a b c d e"~3',
        "msg: [5 TO 1]", "🦆", "msg:*", "a\\b", "{", "}", "msg: a~1e8",
        '"w1 w2 w3 w4 w5 w6"~40',
    ])
    queries = st.lists(atoms, min_size=0, max_size=8).map(" ".join)

    @settings(max_examples=200, deadline=None)
    @given(queries)
    def check(q):
        try:
            col = _query_string_pred(q, resolver, df, "msg")
            assert col is not None
        except ValueError:
            pass  # the loud contract

    check()


def test_query_string_fuzzy_proximity_boost_wildcards(spark):
    """Round 10 completes the Lucene term syntax: fuzzy ``~N``,
    proximity ``"a b"~N``, boost ``^N`` (dropped — filters score
    nothing), and wildcards anywhere in the value.  A non-trailing
    ``*`` used to silently compile to literal equality (ADVICE r9) —
    now it matches like Lucene."""
    rows = [
        ("broker", "/tmp/a/log", "error while reading disk", 1),
        ("brokers", "/tmp/a/logs", "disk error", 2),
        ("brokre", "/var/b/log", "all good here", 3),
        ("zk", "/tmp/deep/x/log", "error without the d word", 4),
    ]
    df = spark.createDataFrame(rows, "name string, path string, msg string, id int")

    def filt(queries):
        aggs = [
            {"id": "1", "type": "filters", "schema": "bucket",
             "params": {"filters": [
                 {"label": f"f{i}",
                  "input": {"query": {"query_string": {"query": qq}}}}
                 for i, qq in enumerate(queries)
             ]}},
        ]
        out = compile_visualization(_vis8(aggs)).evaluate(
            df, default_search_field="msg"
        )
        return {r["filters_1"]: r["count"] for r in out.collect()}

    got = filt([
        "name: broker~1",     # broker, brokers (1 edit), brokre
                              # (adjacent transposition = 1 edit in
                              # restricted Damerau-Levenshtein, r11)
        "name: broker~",      # bare ~ = 2 edits: same three here
        "name: broker~0",     # exact only
        "path: /tmp/*/log",   # interior wildcard, anchored both ends
        "path: /tmp/?/log",   # ? = exactly one char
        "path: *log",         # leading wildcard (allow_leading_wildcard)
        'msg: "error disk"~2',  # ≤2 intervening words, in order
        'msg: "error disk"~1',  # 'while reading' = 2 intervening: no
        'msg: "disk error"~0',  # adjacent, ordered
        'msg: "error disk"~2 OR name: zk',  # reversal costs 2 slop
        "name: broker^2",     # boost is scoring-only: plain equality
        'name: broker~1^3',   # boost composes after fuzzy
    ])
    assert got["f0"] == 3
    assert got["f1"] == 3
    assert got["f2"] == 1
    # Lucene * spans ANY characters (including '/'): /tmp/a/log and
    # /tmp/deep/x/log both match; /tmp/a/logs fails the end anchor
    assert got["f3"] == 2
    assert got["f4"] == 1
    assert got["f5"] == 3   # both /tmp logs + /var/b/log
    # 'error while reading disk' (ordered, 2 intervening) AND
    # 'disk error' — a transposition costs exactly 2 slop in Lucene,
    # handled by the reversed-order branch
    assert got["f6"] == 2
    assert got.get("f7", 0) == 0  # empty buckets emit no row
    assert got["f8"] == 1   # 'disk error'
    assert got["f9"] == 3   # the two f6 rows + the zk row
    assert got["f10"] == 1
    assert got["f11"] == 3  # same set as f0 (boost dropped)

    # fuzzy in a significant_terms FOREGROUND (VERDICT r9 item 5): the
    # ~1 matches FAILED and FAILeD but not FINE, so the foreground set
    # is exactly the failure rows
    sig_rows = []
    for i, (comp, status) in enumerate(
        [("disk", "FAILED")] * 5 + [("disk", "FAILeD")] * 2
        + [("net", "FINE")] * 10 + [("disk", "FINE")] * 2
    ):
        sig_rows.append((i, comp, status))
    sdf = spark.createDataFrame(sig_rows, "id long, comp string, status string")
    aggs = [
        {"id": "1", "type": "significant_terms", "schema": "bucket",
         "params": {"field": "comp", "size": 5, "min_doc_count": 1,
                    "foreground": "status: FAILED~1", "customLabel": "c"}},
    ]
    sig = compile_visualization(_vis8(aggs)).evaluate(sdf).collect()
    assert [(r["c"], r["doc_count"]) for r in sig] == [("disk", 7)]

    with pytest.raises(ValueError, match="caps fuzzy"):
        filt(["name: broker~3"])
    with pytest.raises(ValueError, match="wildcard inside fuzzy"):
        filt(["name: brok*r~1"])
    with pytest.raises(ValueError, match="placement"):
        filt(["name: a~b"])


def test_percentile_ranks_exact_cdf(spark):
    """ES percentile_ranks: per probe value, the percentage of
    observations ≤ that value — exact empirical CDF here (t-digest
    divergence documented on the dataclass), missing-field docs
    excluded, per terms bucket."""
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
            ("b", 10.0), ("b", 20.0), ("b", None)]
    df = spark.createDataFrame(rows, "grp string, v double")
    aggs = [
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "grp", "size": 5, "orderBy": "_term",
                    "customLabel": "grp"}},
        {"id": "2", "type": "percentile_ranks", "schema": "metric",
         "params": {"field": "v", "values": [2, 15],
                    "customLabel": "pr"}},
    ]
    out = {r["grp"]: r for r in
           compile_visualization(_vis8(aggs)).evaluate(df).collect()}
    assert out["a"]["pr_r2"] == pytest.approx(50.0)    # 2 of 4 <= 2
    assert out["a"]["pr_r15"] == pytest.approx(100.0)
    assert out["b"]["pr_r2"] == pytest.approx(0.0)
    # the NULL v doc drops from the denominator: 1 of 2 <= 15
    assert out["b"]["pr_r15"] == pytest.approx(50.0)

    with pytest.raises(ValueError, match="needs 'values'"):
        compile_visualization(_vis8([
            {"id": "2", "type": "percentile_ranks", "schema": "metric",
             "params": {"field": "v"}}]))
    with pytest.raises(ValueError, match="cannot be a bucket agg"):
        compile_visualization(_vis8([
            {"id": "2", "type": "percentile_ranks", "schema": "bucket",
             "params": {"field": "v", "values": [1]}}]))


def test_percentile_ranks_all_null_bucket(spark):
    """Code-review r10: a bucket whose docs all miss the field must
    emit NULL ranks, not throw DIVIDE_BY_ZERO under ANSI."""
    df = spark.createDataFrame(
        [("a", 1.0), ("b", None)], "grp string, v double"
    )
    aggs = [
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "grp", "size": 5, "orderBy": "_term",
                    "customLabel": "grp"}},
        {"id": "2", "type": "percentile_ranks", "schema": "metric",
         "params": {"field": "v", "values": [5], "customLabel": "pr"}},
    ]
    out = {r["grp"]: r["pr_r5"] for r in
           compile_visualization(_vis8(aggs)).evaluate(df).collect()}
    assert out["a"] == pytest.approx(100.0)
    assert out["b"] is None


def test_proximity_total_slop_budget(spark):
    """Code-review r10: Lucene slop is ONE phrase-wide budget — 'a b
    c'~1 must not match 'a x b y c' (2 intervening total), and
    field-scoped bare ~ means slop 0 like the default-field form."""
    rows = [(1, "a x b y c"), (2, "a x b c"), (3, "a b c"), (4, "c b a")]
    df = spark.createDataFrame(rows, "id int, msg string")

    def n(q):
        from kafka_metrics_exporter_spark.kibana.compiler import (
            _query_string_pred, _default_resolver,
        )
        return df.filter(
            _query_string_pred(q, _default_resolver(df), df, "msg")
        ).count()

    assert n('msg: "a b c"~0') == 1   # only the adjacent phrase
    assert n('msg: "a b c"~1') == 2   # one budgeted gap, either side
    assert n('msg: "a b c"~2') == 3   # both gaps spent
    assert n('msg: "a c"~1') == 1     # only 'a b c' has <= 1 between
    # slop 3 covers every ordered row AND 'c b a' reversed (cost 2,
    # one word of budget left)
    assert n('msg: "a c"~3') == 4
    # field-scoped bare ~ parses as slop 0 (only 'a b c' has adjacent
    # 'a b') instead of raising like it did pre-fix
    assert n('msg: "a b"~') == 1


def test_proximity_slop_bound_and_duplicate_rank_values(spark):
    """Code-review r10: hostile slop values are rejected arithmetically
    BEFORE regex expansion, and duplicate percentile_ranks probe values
    dedupe like ES response keys instead of producing ambiguous
    columns."""
    df = spark.createDataFrame([(1, "a b c", 2.0)], "id int, msg string, v double")
    from kafka_metrics_exporter_spark.kibana.compiler import (
        _default_resolver, _query_string_pred,
    )
    with pytest.raises(ValueError, match="expands past"):
        _query_string_pred(
            'msg: "a b c"~100000000', _default_resolver(df), df, "msg"
        )
    # two-word phrases stay O(1) regardless of slop
    pred = _query_string_pred('msg: "a c"~100000000', _default_resolver(df), df, "msg")
    assert df.filter(pred).count() == 1

    aggs = [
        {"id": "1", "type": "percentile_ranks", "schema": "metric",
         "params": {"field": "v", "values": [2, 2.0, 3], "customLabel": "pr"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(df).collect()[0]
    assert out["pr_r2"] == pytest.approx(100.0)
    assert out["pr_r3"] == pytest.approx(100.0)


def test_fuzzy_damerau_transpositions(spark):
    """Round 11 (VERDICT r10 item 3): fuzzy ``~N`` is restricted
    Damerau-Levenshtein — an adjacent transposition costs 1 edit, like
    Lucene's fuzzy automata, and unlike both plain Levenshtein (cost
    2) and UNRESTRICTED Damerau-Levenshtein (which lets another edit
    land inside the transposed pair)."""
    rows = [("ba",), ("abc",), ("ab",), ("ca",), ("acb",), ("bca",)]
    df = spark.createDataFrame(rows, "name string")
    from kafka_metrics_exporter_spark.kibana.compiler import (
        _default_resolver, _query_string_pred,
    )

    def names(q):
        pred = _query_string_pred(q, _default_resolver(df), df, None)
        return {r["name"] for r in df.filter(pred).collect()}

    # one transposition
    assert names("name: ab~1") == {"ab", "ba", "abc", "acb"}
    #   ab~1: 'abc' insert (1), 'ba' transpose (1), 'acb' insert 'c'
    #   between? a_b -> acb is one insertion (1) — yes; 'ca' is 2+
    # the restricted corner: OSA('ca','abc') = 3, unrestricted DL = 2 —
    # Lucene (and this engine) must NOT match at ~2
    assert "abc" not in names("name: ca~2")
    # two disjoint transpositions cost 2
    df2 = spark.createDataFrame([("badc",), ("abcd",)], "name string")
    pred = _query_string_pred(
        "name: abcd~2", _default_resolver(df2), df2, None
    )
    assert {r["name"] for r in df2.filter(pred).collect()} == {"abcd", "badc"}


def test_proximity_token_boundaries(spark):
    """ADVICE r10: phrase and proximity words must match whole tokens —
    'msg: "error disk"~1' must not match 'terror disk', and plain
    phrases must not match inside longer words."""
    rows = [
        (1, "terror disk"),
        (2, "error disk"),
        (3, "error on disk"),
        (4, "diskerror"),
        (5, "the error disks"),
    ]
    df = spark.createDataFrame(rows, "id int, msg string")
    from kafka_metrics_exporter_spark.kibana.compiler import (
        _default_resolver, _query_string_pred,
    )

    def ids(q):
        pred = _query_string_pred(q, _default_resolver(df), df, "msg")
        return {r["id"] for r in df.filter(pred).collect()}

    assert ids('msg: "error disk"~1') == {2, 3}
    assert ids('"error disk"') == {2}        # bare phrase, slop 0
    assert ids('"disk"') == {1, 2, 3}        # not diskerror / disks


def test_proximity_unordered_permutations(spark):
    """Round 11 (VERDICT r10 item 4): Lucene slop permits reordering —
    a permutation costs its total displacement (adjacent transposition
    = 2, Lucene's documented cost) and spends the rest on gaps."""
    rows = [
        (1, "a b c"),
        (2, "b a c"),    # one adjacent swap: cost 2
        (3, "c b a"),    # full reversal: cost 4
        (4, "b x a c"),  # swap (2) + one intervening word (1)
        (5, "c a b"),    # rotation: displacement |2-0|+|0-1|+|1-2| = 4
        (6, "a c x b"),  # swap of b,c (2) + gap before b (1)
    ]
    df = spark.createDataFrame(rows, "id int, msg string")
    from kafka_metrics_exporter_spark.kibana.compiler import (
        _default_resolver, _query_string_pred,
    )

    def ids(q):
        pred = _query_string_pred(q, _default_resolver(df), df, "msg")
        return {r["id"] for r in df.filter(pred).collect()}

    assert ids('msg: "a b c"~0') == {1}
    assert ids('msg: "a b c"~2') == {1, 2}
    assert ids('msg: "a b c"~3') == {1, 2, 4, 6}
    assert ids('msg: "a b c"~4') == {1, 2, 3, 4, 5, 6}
    # 5+-word phrases enumerate too (round 11.5 removed the 4-word
    # permutation cap): an adjacent swap inside a 5-word phrase costs
    # 2, a full 5-word reversal costs 12 and stays out of budget
    df5 = spark.createDataFrame(
        [
            (1, "e d c b a"),      # reversal: cost 12
            (2, "a b c d e"),      # declared order
            (3, "a x b c d e"),    # ordered + 1 intervening
            (4, "b a c d e"),      # adjacent swap: cost 2
            (5, "a b c x d e"),    # ordered + 1 intervening, later gap
            (6, "b a c x d e"),    # swap (2) + intervening (1)
        ],
        "id int, msg string",
    )

    def ids5(q):
        pred = _query_string_pred(q, _default_resolver(df5), df5, "msg")
        return {r["id"] for r in df5.filter(pred).collect()}

    assert ids5('msg: "a b c d e"~0') == {2}
    assert ids5('msg: "a b c d e"~1') == {2, 3, 5}
    assert ids5('msg: "a b c d e"~2') == {2, 3, 4, 5}
    assert ids5('msg: "a b c d e"~3') == {2, 3, 4, 5, 6}


def test_proximity_long_phrase_bounds(spark):
    """Round 11.5: the displacement-bounded permutation walk keeps
    long phrases with small slops cheap (the old code either capped at
    4 words or, ordered-only, raised on the composition bound), while
    word-count × slop combos past the 500-branch total still raise
    arithmetically before any regex is built."""
    from kafka_metrics_exporter_spark.kibana.compiler import (
        _default_resolver, _query_string_pred,
    )
    words = [f"w{k}" for k in range(12)]
    text = " ".join(words)
    swapped = " ".join(
        words[:5] + [words[6], words[5]] + words[7:]
    )
    df = spark.createDataFrame(
        [(1, text), (2, swapped), (3, " ".join(reversed(words)))],
        "id int, msg string",
    )
    pred = _query_string_pred(
        f'msg: "{text}"~2', _default_resolver(df), df, "msg"
    )
    assert {r["id"] for r in df.filter(pred).collect()} == {1, 2}
    # slop 0 on a long phrase = exact adjacency, a single branch
    pred0 = _query_string_pred(
        f'msg: "{text}"~0', _default_resolver(df), df, "msg"
    )
    assert {r["id"] for r in df.filter(pred0).collect()} == {1}
    # hostile expansion: 12 words × slop 40 blows the branch total
    with pytest.raises(ValueError, match="expands past"):
        _query_string_pred(
            f'msg: "{text}"~40', _default_resolver(df), df, "msg"
        )


def test_proximity_enumerator_properties():
    """The displacement-bounded permutation enumerator, pinned without
    Spark: (1) differential vs brute force for every (n ≤ 6, slop ≤ 7);
    (2) identity-first lexicographic order (the oracle-replay branch
    order contract); (3) an explicit stack, so a pasted 2000-word
    phrase at slop 0 enumerates instead of hitting Python's recursion
    limit (code-review 11.5); (4) 4-word phrases keep compiling at the
    slops the ordered r11 engine accepted (total-bound regression,
    code-review 11.5)."""
    from itertools import permutations as _perms

    from kafka_metrics_exporter_spark.kibana.compiler import (
        _qs_displacement_orders, _qs_ordered_slop_regex,
    )

    for n in range(1, 7):
        for slop in range(0, 8):
            got = [p for p, _ in _qs_displacement_orders(n, slop)]
            want = [
                p for p in _perms(range(n))
                if sum(abs(s - k) for k, s in enumerate(p)) <= slop
            ]
            assert got == want, (n, slop)
    assert list(_qs_displacement_orders(2000, 0)) == [
        (tuple(range(2000)), 0)
    ]
    # slop-21 four-word phrase: 24 orders, ~3k branches — compiled by
    # the ordered r11 engine, must still compile
    words = ["aa", "bb", "cc", "dd"]
    orders = list(_qs_displacement_orders(4, 21))
    assert len(orders) == 24
    pats = [
        _qs_ordered_slop_regex([words[i] for i in p], 21 - c)
        for p, c in orders
    ]
    assert all(pats)


def test_proximity_unicode_token_boundaries(spark):
    """Round 11.5: token boundaries are the Unicode word class (both
    engines evaluate \\b and \\w ASCII-only, so r11 matched
    non-ASCII-edged words leniently — 'dätä' used to match inside
    'xdätä').  Also: a non-ASCII intervening word counts as ONE word
    of slop, not two."""
    rows = [
        (1, "big dätä here"),
        (2, "xdätä here"),          # glued left: not a token match
        (3, "dätäx here"),          # glued right
        (4, "ädätä here"),          # glued Unicode letter
        (5, "dätä"),                # whole string
        (6, "naïve dätä"),
        (7, "big wörld dätä"),      # one Unicode intervening word
        (8, "big xx yy dätä"),      # two intervening words
    ]
    df = spark.createDataFrame(rows, "id int, msg string")
    from kafka_metrics_exporter_spark.kibana.compiler import (
        _default_resolver, _query_string_pred,
    )

    def ids(q):
        pred = _query_string_pred(q, _default_resolver(df), df, "msg")
        return {r["id"] for r in df.filter(pred).collect()}

    assert ids('"dätä"') == {1, 5, 6, 7, 8}
    assert ids('msg: "big dätä"~0') == {1}
    assert ids('msg: "big dätä"~1') == {1, 7}
    assert ids('msg: "big dätä"~2') == {1, 7, 8}


def test_top_hits_size_n(docs):
    """Round 12 (VERDICT r11 item 7): top_hits size > 1 — the top-N
    docs by sort order fold into one cell with the chosen aggregate;
    concat joins in sort order; ties break by the caller-named
    tiebreak, which INHERITS the sort direction like the size-1
    max_by struct comparison (e/f share ts 12:10; ts desc + id desc
    puts f first)."""
    aggs = [
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "host", "size": 10, "order": "asc",
                    "orderBy": "_term", "customLabel": "host"}},
        {"id": "2", "type": "top_hits", "schema": "metric",
         "params": {"field": "v", "aggregate": "average", "size": 3,
                    "sortField": "ts", "sortOrder": "desc",
                    "customLabel": "avg3"}},
        {"id": "3", "type": "top_hits", "schema": "metric",
         "params": {"field": "id", "aggregate": "concat", "size": 2,
                    "sortField": "ts", "sortOrder": "desc",
                    "customLabel": "last2"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(docs, tiebreak="id")
    got = {r["host"]: (r["avg3"], r["last2"]) for r in out.collect()}
    # h1 by ts desc: c(20), b(30), a(10) -> avg 20, concat "c, b"
    assert got["h1"][0] == pytest.approx(20.0) and got["h1"][1] == "c, b"
    # h2 by ts desc, id-desc tiebreak: f(7), e(5), d(40) -> avg 52/3
    assert got["h2"][0] == pytest.approx(52 / 3) and got["h2"][1] == "f, e"


def test_top_hits_size_n_bucketless(docs):
    """A bucketless multi-hit panel takes TakeOrdered(limit size), not
    an unpartitioned window over the corpus."""
    aggs = [
        {"id": "1", "type": "top_hits", "schema": "metric",
         "params": {"field": "id", "aggregate": "concat", "size": 2,
                    "sortField": "ts", "sortOrder": "desc",
                    "customLabel": "latest"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(docs, tiebreak="id")
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["latest"] == "f, e"
    assert out.columns == ["latest"]


def test_top_hits_size_validation():
    with pytest.raises(ValueError, match="size must be >= 1"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "top_hits", "schema": "metric",
             "params": {"field": "v", "size": 0}},
        ])["visState"])
    with pytest.raises(ValueError, match="aggregate"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "top_hits", "schema": "metric",
             "params": {"field": "v", "aggregate": "median", "size": 2}},
        ])["visState"])


def test_multi_terms_metric_order_parity_with_terms(spark):
    """Parity pin (VERDICT r11 item 4 'ordering parity pinned against
    the terms implementation'): a metric-ordered multi_terms over
    (f1, f2) must select and rank EXACTLY the buckets a metric-ordered
    terms over the pre-joined key column selects — both flow through
    the shared ranking loop, so any drift between the two paths fails
    here.  Seeded random frame: 60 docs over a 4x3 tuple space with
    skewed sums, size cut 5 by sum desc."""
    import random

    rng = random.Random(12)
    rows = [
        (f"a{rng.randint(0, 3)}", f"b{rng.randint(0, 2)}",
         float(rng.randint(1, 100)))
        for _ in range(60)
    ]
    df = spark.createDataFrame(rows, "f1 string, f2 string, v double")
    mt = [
        {"id": "1", "type": "multi_terms", "schema": "bucket",
         "params": {"terms": [{"field": "f1"}, {"field": "f2"}],
                    "size": 5, "orderBy": "2", "order": "desc",
                    "customLabel": "k"}},
        {"id": "2", "type": "sum", "schema": "metric",
         "params": {"field": "v", "customLabel": "total"}},
    ]
    got_mt = {(r["k"], r["total"]) for r in
              compile_visualization(_vis8(mt)).evaluate(df).collect()}
    # the same cut through the TERMS path over the pre-joined key
    joined = df.withColumn("k", F.concat_ws("|", "f1", "f2"))
    t = [
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "k", "size": 5, "orderBy": "2",
                    "order": "desc", "customLabel": "k"}},
        {"id": "2", "type": "sum", "schema": "metric",
         "params": {"field": "v", "customLabel": "total"}},
    ]
    got_t = {(r["k"], r["total"]) for r in
             compile_visualization(_vis8(t)).evaluate(joined).collect()}
    assert got_mt == got_t and len(got_mt) == 5


def test_top_hits_size_n_reference_property(spark):
    """Randomized reference check: multi-hit top_hits folds must equal
    a pandas groupby/sort reference on a seeded frame with sort-value
    ties (ts collisions resolved by the tiebreak, which inherits the
    sort direction)."""
    import random

    rng = random.Random(34)
    rows = [
        (f"g{rng.randint(0, 4)}", rng.randint(0, 9),  # ts with ties
         float(rng.randint(-50, 50)), f"id{i:03d}")
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "g string, t long, v double, id string")
    for size, order in ((3, "desc"), (2, "asc")):
        aggs = [
            {"id": "1", "type": "terms", "schema": "bucket",
             "params": {"field": "g", "size": 100, "order": "asc",
                        "orderBy": "_term", "customLabel": "g"}},
            {"id": "2", "type": "top_hits", "schema": "metric",
             "params": {"field": "v", "aggregate": "sum", "size": size,
                        "sortField": "t", "sortOrder": order,
                        "customLabel": "s"}},
            {"id": "3", "type": "top_hits", "schema": "metric",
             "params": {"field": "id", "aggregate": "concat", "size": size,
                        "sortField": "t", "sortOrder": order,
                        "customLabel": "c"}},
        ]
        out = compile_visualization(_vis8(aggs)).evaluate(df, tiebreak="id")
        got = {r["g"]: (r["s"], r["c"]) for r in out.collect()}
        expect = {}
        for g in {r[0] for r in rows}:
            # the tiebreak inherits the sort direction: asc -> (t, id)
            # asc; desc -> stable two-pass (id desc, then t desc)
            grp = [r for r in rows if r[0] == g]
            if order == "asc":
                docs = sorted(grp, key=lambda r: (r[1], r[3]))
            else:
                docs = sorted(grp, key=lambda r: r[3], reverse=True)
                docs = sorted(docs, key=lambda r: r[1], reverse=True)
            top = docs[:size]
            expect[g] = (
                sum(r[2] for r in top),
                ", ".join(r[3] for r in top),
            )
        for g, (s_sum, s_cat) in expect.items():
            assert got[g][0] == pytest.approx(s_sum), (g, order)
            assert got[g][1] == s_cat, (g, order)


def test_terms_missing_param_and_null_drop(spark):
    """Round 12: ES terms drops docs missing the field (it never emits
    a null-keyed bucket); with `missing` set they land in that bucket
    instead."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), (None, 7.0), ("b", 3.0)],
        "g string, v double",
    )
    base = [
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "g", "size": 10, "order": "asc",
                    "orderBy": "_term", "customLabel": "g"}},
        {"id": "2", "type": "sum", "schema": "metric",
         "params": {"field": "v", "customLabel": "total"}},
    ]
    got = {r["g"]: r["total"] for r in
           compile_visualization(_vis8(base)).evaluate(df).collect()}
    assert got == {"a": 3.0, "b": 3.0}  # null-keyed doc dropped
    withm = [dict(base[0], params=dict(base[0]["params"], missing="N/A")),
             base[1]]
    got_m = {r["g"]: r["total"] for r in
             compile_visualization(_vis8(withm)).evaluate(df).collect()}
    assert got_m == {"a": 3.0, "b": 3.0, "N/A": 7.0}


def test_date_histogram_zero_fill(spark):
    """Round 12: min_doc_count=0 zero-fills the innermost
    date_histogram between each parent's first and last populated
    bucket — count 0, sum 0, avg null on the filled rows (ES's
    empty-bucket values)."""
    rows = [
        ("x", "2024-01-01 00:05:00", 10.0),
        ("x", "2024-01-01 03:10:00", 30.0),   # gap: hours 1, 2 empty
        ("y", "2024-01-01 01:00:00", 5.0),
        ("y", "2024-01-01 02:30:00", 7.0),    # no gap
    ]
    df = spark.createDataFrame(rows, "g string, ts string, v double")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    aggs = [
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "g", "size": 10, "order": "asc",
                    "orderBy": "_term", "customLabel": "g"}},
        {"id": "2", "type": "date_histogram", "schema": "bucket",
         "params": {"field": "ts", "customInterval": "1h",
                    "min_doc_count": 0, "customLabel": "h"}},
        {"id": "3", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
        {"id": "4", "type": "sum", "schema": "metric",
         "params": {"field": "v", "customLabel": "total"}},
        {"id": "5", "type": "avg", "schema": "metric",
         "params": {"field": "v", "customLabel": "mean"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(
        df, auto_interval_buckets=None
    )
    got = {(r["g"], str(r["h"])): (r["n"], r["total"], r["mean"])
           for r in out.collect()}
    assert got[("x", "2024-01-01 00:00:00")] == (1, 10.0, 10.0)
    assert got[("x", "2024-01-01 01:00:00")] == (0, 0.0, None)  # filled
    assert got[("x", "2024-01-01 02:00:00")] == (0, 0.0, None)  # filled
    assert got[("x", "2024-01-01 03:00:00")] == (1, 30.0, 30.0)
    # y spans 01..02 with both populated: nothing filled
    assert len([k for k in got if k[0] == "y"]) == 2


def test_histogram_zero_fill_and_pipeline_over_grid(spark):
    """Numeric histogram zero-fill reconstructs keys with the same
    ordinal-times-interval double op as the bucketing formula, and a
    derivative pipeline runs over the FILLED grid (lag sees the empty
    bucket, like ES)."""
    df = spark.createDataFrame(
        [(0.05,), (0.05,), (0.35,)], "v double"
    )
    aggs = [
        {"id": "1", "type": "histogram", "schema": "bucket",
         "params": {"field": "v", "interval": 0.1, "min_doc_count": 0,
                    "customLabel": "b"}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
        {"id": "3", "type": "derivative", "schema": "metric",
         "params": {"metricAgg": "2", "customLabel": "dn"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(df)
    got = {round(r["b"], 6): (r["n"], r["dn"]) for r in out.collect()}
    # buckets 0.0(2), 0.1(0), 0.2(0), 0.3(1); derivative over the grid
    assert got[0.0] == (2, None)
    assert got[0.1] == (0, -2)
    assert got[0.2] == (0, 0)
    assert got[0.3] == (1, 1)


def test_min_doc_count_filter_at_level(spark):
    """min_doc_count >= 2 on an OUTER date_histogram filters by the
    histogram's OWN-LEVEL doc count (summed across the inner terms),
    not the leaf count."""
    rows = [
        ("2024-01-01 00:10:00", "a"), ("2024-01-01 00:20:00", "b"),
        ("2024-01-01 01:10:00", "a"),  # hour 01 has only 1 doc
    ]
    df = spark.createDataFrame(rows, "ts string, g string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    aggs = [
        {"id": "1", "type": "date_histogram", "schema": "bucket",
         "params": {"field": "ts", "customInterval": "1h",
                    "min_doc_count": 2, "customLabel": "h"}},
        {"id": "2", "type": "terms", "schema": "bucket",
         "params": {"field": "g", "size": 10, "order": "asc",
                    "orderBy": "_term", "customLabel": "g"}},
        {"id": "3", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(
        df, auto_interval_buckets=None
    )
    got = {(str(r["h"]), r["g"]): r["n"] for r in out.collect()}
    # hour 00 (2 docs across terms a,b) survives with BOTH term rows
    # at leaf count 1; hour 01 (1 doc) drops entirely
    assert got == {("2024-01-01 00:00:00", "a"): 1,
                   ("2024-01-01 00:00:00", "b"): 1}


def test_min_doc_count_validation(spark):
    df = spark.createDataFrame([(1.0, "2024-01-01 00:00:00")],
                               "v double, ts string")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    # zero-fill needs the histogram innermost (terms inner here, so
    # the explode check cannot mask the innermost one)
    with pytest.raises(ValueError, match="innermost"):
        compile_visualization(_vis8([
            {"id": "1", "type": "date_histogram", "schema": "bucket",
             "params": {"field": "ts", "customInterval": "1h",
                        "min_doc_count": 0, "customLabel": "h"}},
            {"id": "2", "type": "terms", "schema": "bucket",
             "params": {"field": "v", "size": 5, "order": "asc",
                        "orderBy": "_term", "customLabel": "g"}},
        ])).evaluate(df, auto_interval_buckets=None)
    # a row-exploding bucket below inflates the level count
    with pytest.raises(ValueError, match="exploding"):
        compile_visualization(_vis8([
            {"id": "1", "type": "date_histogram", "schema": "bucket",
             "params": {"field": "ts", "customInterval": "1h",
                        "min_doc_count": 2, "customLabel": "h"}},
            {"id": "2", "type": "range", "schema": "bucket",
             "params": {"field": "v",
                        "ranges": [{"from": 0, "to": 100}],
                        "customLabel": "r"}},
        ])).evaluate(df, auto_interval_buckets=None)
    with pytest.raises(ValueError, match=">= 0"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "date_histogram", "schema": "bucket",
             "params": {"field": "ts", "min_doc_count": -1}},
        ])["visState"])


def test_extended_bounds_widen_fill(spark):
    """Round 12: extended_bounds + min_doc_count=0 — the fill grid
    covers the union of the populated span and the interval-floored
    bounds, exactly ES's chart-range pinning."""
    df = spark.createDataFrame(
        [("2024-01-01 02:30:00", 5.0)], "ts string, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    base_ms = 1704067200000  # 2024-01-01T00:00:00Z epoch millis
    aggs = [
        {"id": "1", "type": "date_histogram", "schema": "bucket",
         "params": {"field": "ts", "customInterval": "1h",
                    "min_doc_count": 0, "customLabel": "h",
                    "extended_bounds": {"min": base_ms + 3_600_000,
                                        "max": base_ms + 4 * 3_600_000}}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(
        df, auto_interval_buckets=None
    )
    got = {str(r["h"]): r["n"] for r in out.collect()}
    # buckets 01..04 (bounds) ∪ 02 (populated): 01,02,03,04
    assert len(got) == 4
    assert got["2024-01-01 02:00:00"] == 1
    assert got["2024-01-01 01:00:00"] == 0
    assert got["2024-01-01 04:00:00"] == 0
    # numeric histogram: bounds floor to bucket ordinals
    aggs_n = [
        {"id": "1", "type": "histogram", "schema": "bucket",
         "params": {"field": "v", "interval": 2.0, "min_doc_count": 0,
                    "customLabel": "b",
                    "extended_bounds": {"min": 0, "max": 9}}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ]
    out_n = compile_visualization(_vis8(aggs_n)).evaluate(df)
    got_n = {r["b"]: r["n"] for r in out_n.collect()}
    # v=5 -> bucket 4; bounds 0..9 -> ordinals 0..4 -> keys 0,2,4,6,8
    assert got_n == {0.0: 0, 2.0: 0, 4.0: 1, 6.0: 0, 8.0: 0}
    # without zero-fill the param is inert -> loud error
    with pytest.raises(ValueError, match="extended_bounds"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "date_histogram", "schema": "bucket",
             "params": {"field": "ts", "customInterval": "1h",
                        "extended_bounds": {"min": 0, "max": 1}}},
        ])["visState"])


def test_value_count_and_weighted_avg(spark):
    """Round 12: ES value_count counts non-null field VALUES (not
    docs); weighted_avg = sum(v*w)/sum(w) over docs carrying BOTH
    fields, null when no doc qualifies (never a divide error)."""
    df = spark.createDataFrame(
        [("a", 10.0, 1.0), ("a", 20.0, 3.0), ("a", None, 5.0),
         ("a", 7.0, None), ("b", None, 2.0)],
        "g string, v double, w double",
    )
    aggs = [
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "g", "size": 10, "order": "asc",
                    "orderBy": "_term", "customLabel": "g"}},
        {"id": "2", "type": "value_count", "schema": "metric",
         "params": {"field": "v", "customLabel": "nv"}},
        {"id": "3", "type": "count", "schema": "metric",
         "params": {"customLabel": "nd"}},
        {"id": "4", "type": "weighted_avg", "schema": "metric",
         "params": {"value": {"field": "v"}, "weight": {"field": "w"},
                    "customLabel": "wavg"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(df)
    got = {r["g"]: (r["nv"], r["nd"], r["wavg"]) for r in out.collect()}
    # a: 3 non-null v of 4 docs; weighted pairs (10,1),(20,3) -> 70/4
    assert got["a"] == (3, 4, pytest.approx(17.5))
    # b: no doc carries both fields -> null, not a division error
    assert got["b"] == (0, 1, None)
    with pytest.raises(ValueError, match="value_count needs a field"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "value_count", "schema": "metric",
             "params": {}},
        ])["visState"])
    with pytest.raises(ValueError, match="weighted_avg needs"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "weighted_avg", "schema": "metric",
             "params": {"value": {"field": "v"}}},
        ])["visState"])
    with pytest.raises(ValueError, match="missing-defaults"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "weighted_avg", "schema": "metric",
             "params": {"value": {"field": "v", "missing": 0},
                        "weight": {"field": "w"}}},
        ])["visState"])


def test_median_absolute_deviation(spark):
    """Round 12: ES median_absolute_deviation = median(|v - median|),
    exact interpolated percentiles here (ES t-digests — the documented
    exact-vs-approx stance).  [1,2,4,9]: median 3, deviations
    [2,1,1,6] -> MAD 1.5."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 4.0), ("a", 9.0), ("b", 5.0)],
        "g string, v double",
    )
    aggs = [
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "g", "size": 10, "order": "asc",
                    "orderBy": "_term", "customLabel": "g"}},
        {"id": "2", "type": "median_absolute_deviation", "schema": "metric",
         "params": {"field": "v", "customLabel": "mad"}},
        {"id": "3", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(df)
    got = {r["g"]: (r["mad"], r["n"]) for r in out.collect()}
    assert got["a"] == (1.5, 4)
    assert got["b"] == (0.0, 1)  # single value: MAD 0
    # bucketless: one row, global MAD
    out2 = compile_visualization(_vis8([aggs[1]])).evaluate(df)
    rows = out2.collect()
    # all values [1,2,4,5,9]: median 4, deviations [3,2,0,1,5] -> 2
    assert len(rows) == 1 and rows[0]["mad"] == 2.0
    with pytest.raises(ValueError, match="needs a field"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "median_absolute_deviation",
             "schema": "metric", "params": {}},
        ])["visState"])


def test_boxplot(spark):
    """Round 12: ES boxplot — min/q1/q2/q3/max in one aggregation
    pass, exact interpolated quartiles (ES t-digests)."""
    df = spark.createDataFrame(
        [("a", float(v)) for v in (1, 2, 3, 4, 5)] + [("b", 10.0)],
        "g string, v double",
    )
    aggs = [
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "g", "size": 10, "order": "asc",
                    "orderBy": "_term", "customLabel": "g"}},
        {"id": "2", "type": "boxplot", "schema": "metric",
         "params": {"field": "v", "customLabel": "box"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(df)
    got = {r["g"]: (r["box_min"], r["box_q1"], r["box_q2"],
                    r["box_q3"], r["box_max"]) for r in out.collect()}
    assert got["a"] == (1.0, 2.0, 3.0, 4.0, 5.0)
    assert got["b"] == (10.0, 10.0, 10.0, 10.0, 10.0)
    assert out.columns == ["g", "box_min", "box_q1", "box_q2",
                           "box_q3", "box_max"]
    with pytest.raises(ValueError, match="boxplot needs a field"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "boxplot", "schema": "metric",
             "params": {}},
        ])["visState"])


# ---------------------------------------------------------------- round 13:
# ADVICE r12 fixes — pre-cut min_doc_count level counts, UTC
# extended-bounds date strings, value_count zero-fill, orderBy
# allowlist guard.


def test_min_doc_count_precut_survives_inner_terms_cut(spark):
    """ADVICE r12: a date_histogram(min_doc_count=2) above
    terms(size=1) must filter by the histogram's FULL own-level doc
    count — an inner size cut (or null-key drop) must not shrink it.
    ES computes the histogram's doc_count before nested terms prune."""
    rows = [
        # hour 00: 2 docs across 2 terms — terms size=1 keeps only one
        # term, but the HOUR has 2 docs and must survive
        ("2024-01-01 00:10:00", "a"), ("2024-01-01 00:20:00", "b"),
        # hour 01: 2 docs, one with a NULL term key (dropped from the
        # terms buckets but still counted by the histogram)
        ("2024-01-01 01:10:00", "a"), ("2024-01-01 01:20:00", None),
        # hour 02: 1 doc — genuinely below the threshold, drops
        ("2024-01-01 02:10:00", "a"),
    ]
    df = spark.createDataFrame(rows, "ts string, g string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    aggs = [
        {"id": "1", "type": "date_histogram", "schema": "bucket",
         "params": {"field": "ts", "customInterval": "1h",
                    "min_doc_count": 2, "customLabel": "h"}},
        {"id": "2", "type": "terms", "schema": "bucket",
         "params": {"field": "g", "size": 1, "order": "asc",
                    "orderBy": "_term", "customLabel": "g"}},
        {"id": "3", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(
        df, auto_interval_buckets=None
    )
    got = {(str(r["h"]), r["g"]): r["n"] for r in out.collect()}
    # hours 00 and 01 survive (full counts 2); terms size=1 then keeps
    # the first term by key within each hour; hour 02 drops
    assert got == {("2024-01-01 00:00:00", "a"): 1,
                   ("2024-01-01 01:00:00", "a"): 1}


def test_min_doc_count_precut_survives_inner_rare_terms(spark):
    """Same pre-cut rule for a rare_terms long-tail filter below the
    histogram: a common term's docs leave the flattened relation but
    still count toward the histogram's own doc count."""
    rows = (
        [("2024-01-01 00:%02d:00" % i, "common") for i in range(5)]
        + [("2024-01-01 00:55:00", "rare")]
        + [("2024-01-01 01:30:00", "common2"),
           ("2024-01-01 01:40:00", "common2")]
    )
    df = spark.createDataFrame(rows, "ts string, g string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    aggs = [
        {"id": "1", "type": "date_histogram", "schema": "bucket",
         "params": {"field": "ts", "customInterval": "1h",
                    "min_doc_count": 3, "customLabel": "h"}},
        {"id": "2", "type": "rare_terms", "schema": "bucket",
         "params": {"field": "g", "max_doc_count": 1,
                    "customLabel": "g"}},
        {"id": "3", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(
        df, auto_interval_buckets=None
    )
    got = {(str(r["h"]), r["g"]): r["n"] for r in out.collect()}
    # hour 00 has 6 docs (>= 3) so it survives; within it only the
    # rare term remains.  hour 01 has 2 docs (< 3): dropped even
    # though nothing inside it was cut.
    assert got == {("2024-01-01 00:00:00", "rare"): 1}


def test_min_doc_count_window_sum_path_still_used_when_exact(spark):
    """The cheap window-sum path must remain for histogram-only
    nests (nothing below can drop rows) — pinned by plan shape: no
    extra join on the level keys."""
    df = spark.createDataFrame(
        [("2024-01-01 00:10:00",), ("2024-01-01 00:20:00",),
         ("2024-01-01 01:10:00",)], "ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    aggs = [
        {"id": "1", "type": "date_histogram", "schema": "bucket",
         "params": {"field": "ts", "customInterval": "1h",
                    "min_doc_count": 2, "customLabel": "h"}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(
        df, auto_interval_buckets=None
    )
    assert [(str(r["h"]), r["n"]) for r in out.collect()] == [
        ("2024-01-01 00:00:00", 2)
    ]
    # one aggregation, no level-count join in the plan
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan


def test_extended_bounds_date_string_is_utc(monkeypatch):
    """ADVICE r12: a tz-naive ISO date string in extended_bounds is
    UTC (like ES and _to_us), never the host's local timezone."""
    import time as _time

    from kafka_metrics_exporter_spark.kibana.compiler import _bound_us

    monkeypatch.setenv("TZ", "America/New_York")
    _time.tzset()
    try:
        assert _bound_us("2024-01-01T00:00:00") == 1704067200_000_000
        # explicit offsets are honored as given
        assert _bound_us("2024-01-01T00:00:00+01:00") == (
            1704067200_000_000 - 3600_000_000
        )
        # epoch millis pass through
        assert _bound_us(1704067200000) == 1704067200_000_000
    finally:
        monkeypatch.setenv("TZ", "UTC")
        _time.tzset()


def test_value_count_zero_filled_in_empty_buckets(spark):
    """ADVICE r12: value_count is a count-family agg — ES returns 0,
    not null, for an empty zero-filled bucket."""
    rows = [("2024-01-01 00:05:00", 1.0),
            ("2024-01-01 02:05:00", None),  # hour 1 empty; null value
            ]
    df = spark.createDataFrame(rows, "ts string, v double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    aggs = [
        {"id": "1", "type": "date_histogram", "schema": "bucket",
         "params": {"field": "ts", "customInterval": "1h",
                    "min_doc_count": 0, "customLabel": "h"}},
        {"id": "2", "type": "value_count", "schema": "metric",
         "params": {"field": "v", "customLabel": "vc"}},
        {"id": "3", "type": "avg", "schema": "metric",
         "params": {"field": "v", "customLabel": "mean"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(
        df, auto_interval_buckets=None
    )
    got = {str(r["h"]): (r["vc"], r["mean"]) for r in out.collect()}
    assert got["2024-01-01 00:00:00"] == (1, 1.0)
    assert got["2024-01-01 01:00:00"] == (0, None)   # filled: vc 0
    assert got["2024-01-01 02:00:00"] == (0, None)   # null value: vc 0


def test_order_by_guard_is_an_allowlist():
    """ADVICE r12: terms/multi_terms orderBy referencing a
    non-orderable metric (boxplot, weighted_avg, value_count, ...)
    fails at parse time with a clean ValueError — never a KeyError in
    the ranking loop — and a custom orderAgg missing its field fails
    the same way."""
    box = {"id": "9", "type": "boxplot", "schema": "metric",
           "params": {"field": "v", "customLabel": "box"}}
    for bucket_type, extra in (("terms", {"field": "g"}),
                               ("multi_terms", {"fields": ["g", "h"]})):
        with pytest.raises(ValueError, match="simple metric agg"):
            parse_vis_state(_vis8([
                {"id": "1", "type": bucket_type, "schema": "bucket",
                 "params": {**extra, "size": 3, "orderBy": "9"}},
                box,
            ])["visState"])
        with pytest.raises(ValueError, match="simple metric agg"):
            parse_vis_state(_vis8([
                {"id": "1", "type": bucket_type, "schema": "bucket",
                 "params": {**extra, "size": 3, "orderBy": "custom",
                            "orderAgg": {"type": "weighted_avg",
                                         "params": {"field": "v"}}}},
            ])["visState"])
        with pytest.raises(ValueError, match="needs a field"):
            parse_vis_state(_vis8([
                {"id": "1", "type": bucket_type, "schema": "bucket",
                 "params": {**extra, "size": 3, "orderBy": "custom",
                            "orderAgg": {"type": "avg", "params": {}}}},
            ])["visState"])


# ---------------------------------------------------------------- round 13:
# new ES vocabulary tier — single filter bucket, missing bucket,
# auto_date_histogram, rate agg, top_metrics.


@pytest.fixture(scope="module")
def vocab_df(spark):
    rows = [
        ("2024-01-01 00:05:00", "a", 10.0, "web"),
        ("2024-01-01 00:25:00", "a", 20.0, None),
        ("2024-01-01 01:05:00", "b", 30.0, "db"),
        ("2024-01-01 02:05:00", "b", None, "db"),
    ]
    return spark.createDataFrame(
        rows, "ts string, g string, v double, src string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_filter_bucket(vocab_df):
    """ES single `filter` agg: one named bucket of query-matching
    docs; the flattened relation keys it with a constant label
    column.  Accepts both the flat `query` param and the ES-request
    {"filter": {"query": ...}} shape."""
    out = compile_visualization(_vis8([
        {"id": "1", "type": "filter", "schema": "bucket",
         "params": {"query": "g:a", "customLabel": "fa"}},
        {"id": "2", "type": "sum", "schema": "metric",
         "params": {"field": "v", "customLabel": "s"}},
    ])).evaluate(vocab_df)
    assert [(r["fa"], r["s"]) for r in out.collect()] == [("fa", 30.0)]
    out2 = compile_visualization(_vis8([
        {"id": "1", "type": "filter", "schema": "bucket",
         "params": {"filter": {"query": "v:>15", "language": "lucene"},
                    "customLabel": "big"}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ])).evaluate(vocab_df)
    assert [(r["big"], r["n"]) for r in out2.collect()] == [("big", 2)]
    with pytest.raises(ValueError, match="query string"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "filter", "schema": "bucket", "params": {}},
        ])["visState"])


def test_missing_bucket(vocab_df):
    """ES `missing` bucket: docs LACKING the field — the complement
    of the terms null-drop — under an outer terms bucket too."""
    out = compile_visualization(_vis8([
        {"id": "1", "type": "missing", "schema": "bucket",
         "params": {"field": "src", "customLabel": "nosrc"}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ])).evaluate(vocab_df)
    assert [(r["nosrc"], r["n"]) for r in out.collect()] == [("nosrc", 1)]
    # nested under a KEY-ordered terms bucket (count-ordered rejects)
    out2 = compile_visualization(_vis8([
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "g", "size": 5, "order": "asc",
                    "orderBy": "_term", "customLabel": "g"}},
        {"id": "2", "type": "missing", "schema": "bucket",
         "params": {"field": "src", "customLabel": "nosrc"}},
        {"id": "3", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ])).evaluate(vocab_df)
    assert [(r["g"], r["n"]) for r in out2.collect()] == [("a", 1)]
    with pytest.raises(ValueError, match="needs a field"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "missing", "schema": "bucket", "params": {}},
        ])["visState"])


def test_filter_below_count_ordered_terms_rejected(vocab_df):
    """A filter/missing bucket below a count- or metric-ordered terms
    bucket would distort the ranking doc counts vs ES — loud error."""
    with pytest.raises(ValueError, match="distort its ranking"):
        compile_visualization(_vis8([
            {"id": "1", "type": "terms", "schema": "bucket",
             "params": {"field": "g", "size": 5, "orderBy": "2",
                        "customLabel": "g"}},
            {"id": "3", "type": "filter", "schema": "bucket",
             "params": {"query": "g:a", "customLabel": "f"}},
            {"id": "2", "type": "sum", "schema": "metric",
             "params": {"field": "v", "customLabel": "s"}},
        ])).evaluate(vocab_df)


def test_auto_date_histogram(vocab_df):
    """ES auto_date_histogram picks from ES's OWN rounding ladder so
    the populated span fits the target bucket count (inclusive)."""
    out = compile_visualization(_vis8([
        {"id": "1", "type": "auto_date_histogram", "schema": "bucket",
         "params": {"field": "ts", "buckets": 3, "customLabel": "h"}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ])).evaluate(vocab_df)
    # span 2h / buckets 3 -> 1h intervals (3 buckets, inclusive)
    assert sorted((str(r["h"]), r["n"]) for r in out.collect()) == [
        ("2024-01-01 00:00:00", 2), ("2024-01-01 01:00:00", 1),
        ("2024-01-01 02:00:00", 1),
    ]
    # buckets=2 cannot fit 1h (3 buckets); next ladder step = 3h
    out2 = compile_visualization(_vis8([
        {"id": "1", "type": "auto_date_histogram", "schema": "bucket",
         "params": {"field": "ts", "buckets": 2, "customLabel": "h"}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ])).evaluate(vocab_df)
    assert sorted((str(r["h"]), r["n"]) for r in out2.collect()) == [
        ("2024-01-01 00:00:00", 4),
    ]


def test_es_auto_ladder_function():
    from kafka_metrics_exporter_spark.kibana.compiler import (
        es_auto_date_interval_us,
    )
    hour = 3_600_000_000
    assert es_auto_date_interval_us(0, 2 * hour, 3) == hour
    assert es_auto_date_interval_us(0, 2 * hour, 2) == 3 * hour
    assert es_auto_date_interval_us(0, 0, 1) == 1_000_000
    # 30 days / 10 buckets -> 7d (ES "week" rounding)
    assert es_auto_date_interval_us(0, 30 * 24 * hour, 10) == 7 * 24 * hour
    # ADVICE r13: the count comes from FLOORED endpoints — a 1.7h raw
    # span from 00:30 to 02:12 straddles THREE hour keys (00,01,02),
    # so 2 target buckets must skip the hour rung even though
    # span//hour + 1 == 2
    assert es_auto_date_interval_us(
        hour // 2, 2 * hour + 12 * 60_000_000, 2
    ) == 3 * hour
    with pytest.raises(ValueError, match="calendar intervals"):
        es_auto_date_interval_us(0, 100 * 365 * 24 * hour, 10)


def test_rate_agg(vocab_df):
    """ES rate agg: bucket value x unit / interval — sum mode,
    value_count mode, and doc-count (no field) mode; all-null buckets
    rate 0 (sum-family)."""
    out = compile_visualization(_vis8([
        {"id": "1", "type": "date_histogram", "schema": "bucket",
         "params": {"field": "ts", "customInterval": "1h",
                    "customLabel": "h"}},
        {"id": "2", "type": "rate", "schema": "metric",
         "params": {"field": "v", "unit": "minute", "customLabel": "r"}},
        {"id": "3", "type": "rate", "schema": "metric",
         "params": {"unit": "hour", "customLabel": "dr"}},
        {"id": "4", "type": "rate", "schema": "metric",
         "params": {"field": "v", "mode": "value_count",
                    "unit": "hour", "customLabel": "vr"}},
    ])).evaluate(vocab_df, auto_interval_buckets=None)
    got = {str(r["h"]): (r["r"], r["dr"], r["vr"]) for r in out.collect()}
    assert got["2024-01-01 00:00:00"] == (0.5, 2.0, 2.0)   # 30/60
    assert got["2024-01-01 01:00:00"] == (0.5, 1.0, 1.0)
    assert got["2024-01-01 02:00:00"] == (0.0, 1.0, 0.0)   # null v
    # rate scales by the RESOLVED interval under auto_date_histogram
    out2 = compile_visualization(_vis8([
        {"id": "1", "type": "auto_date_histogram", "schema": "bucket",
         "params": {"field": "ts", "buckets": 2, "customLabel": "h"}},
        {"id": "2", "type": "rate", "schema": "metric",
         "params": {"field": "v", "unit": "hour", "customLabel": "r"}},
    ])).evaluate(vocab_df)
    # one 3h bucket, sum 60 -> 20/hour
    assert [r["r"] for r in out2.collect()] == [20.0]
    # zero-fill: an empty bucket rates 0, not null
    out3 = compile_visualization(_vis8([
        {"id": "1", "type": "date_histogram", "schema": "bucket",
         "params": {"field": "ts", "customInterval": "1h",
                    "min_doc_count": 0, "customLabel": "h"}},
        {"id": "2", "type": "rate", "schema": "metric",
         "params": {"field": "v", "unit": "minute", "customLabel": "r"}},
    ])).evaluate(
        vocab_df.filter("ts < '2024-01-01 00:30:00' "
                        "or ts > '2024-01-01 01:30:00'"),
        auto_interval_buckets=None,
    )
    got3 = {str(r["h"]): r["r"] for r in out3.collect()}
    assert got3["2024-01-01 01:00:00"] == 0.0  # filled bucket
    # validation: rate outside a date_histogram
    with pytest.raises(ValueError, match="date_histogram"):
        compile_visualization(_vis8([
            {"id": "1", "type": "terms", "schema": "bucket",
             "params": {"field": "g", "size": 5, "order": "asc",
                        "orderBy": "_term", "customLabel": "g"}},
            {"id": "2", "type": "rate", "schema": "metric",
             "params": {"field": "v", "unit": "minute",
                        "customLabel": "r"}},
        ])).evaluate(vocab_df)
    with pytest.raises(ValueError, match="unit"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "rate", "schema": "metric",
             "params": {"field": "v", "unit": "month"}},
        ])["visState"])
    with pytest.raises(ValueError, match="needs a field"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "rate", "schema": "metric",
             "params": {"mode": "value_count"}},
        ])["visState"])


def test_top_metrics(vocab_df):
    """ES top_metrics: metric field values of the top-N docs by sort.
    size 1 -> scalar columns via max_by/min_by; size > 1 -> one
    sort-ordered array column per field."""
    out = compile_visualization(_vis8([
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "g", "size": 5, "order": "asc",
                    "orderBy": "_term", "customLabel": "g"}},
        {"id": "2", "type": "top_metrics", "schema": "metric",
         "params": {"fields": ["v"], "sortField": "ts",
                    "sortOrder": "desc", "customLabel": "last"}},
        {"id": "3", "type": "top_metrics", "schema": "metric",
         "params": {"fields": ["v", "src"], "sortField": "ts",
                    "sortOrder": "desc", "size": 2,
                    "customLabel": "top2"}},
    ])).evaluate(vocab_df)
    got = {r["g"]: (r["last_v"], r["top2_v"], r["top2_src"])
           for r in out.collect()}
    assert got["a"] == (20.0, [20.0, 10.0], [None, "web"])
    assert got["b"] == (None, [None, 30.0], ["db", "db"])
    assert out.columns == ["g", "last_v", "top2_v", "top2_src"]
    # ES-request sort shape {"sort": {"ts": "asc"}}; bucketless panel
    out2 = compile_visualization(_vis8([
        {"id": "1", "type": "top_metrics", "schema": "metric",
         "params": {"fields": [{"field": "v"}], "sort": {"ts": "asc"},
                    "customLabel": "first"}},
    ])).evaluate(vocab_df)
    assert [r["first_v"] for r in out2.collect()] == [10.0]
    with pytest.raises(ValueError, match="metric fields"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "top_metrics", "schema": "metric",
             "params": {"sortField": "ts"}},
        ])["visState"])
    with pytest.raises(ValueError, match="size"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "top_metrics", "schema": "metric",
             "params": {"fields": ["v"], "size": 0}},
        ])["visState"])
    # ADVICE r13: ES requires an explicit sort — no silent default
    with pytest.raises(ValueError, match="explicit sort"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "top_metrics", "schema": "metric",
             "params": {"fields": ["v"]}},
        ])["visState"])


def test_top_metrics_null_sort_skipped(spark):
    """ADVICE r13: documents whose sort field is NULL are skipped by
    ES (missing sort value), not ranked first by Spark's
    nulls-first-on-asc — both the size-1 min_by/max_by path and the
    size>1 rank-window path."""
    d = spark.createDataFrame(
        [("a", None, 99.0), ("a", 2.0, 20.0), ("a", 1.0, 10.0),
         ("b", None, 77.0)],
        "g string, ord double, v double")
    out = compile_visualization(_vis8([
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "g", "size": 5, "order": "asc",
                    "orderBy": "_term", "customLabel": "g"}},
        {"id": "2", "type": "top_metrics", "schema": "metric",
         "params": {"fields": ["v"], "sortField": "ord",
                    "sortOrder": "asc", "customLabel": "first"}},
        {"id": "3", "type": "top_metrics", "schema": "metric",
         "params": {"fields": ["v"], "sortField": "ord",
                    "sortOrder": "asc", "size": 2,
                    "customLabel": "top2"}},
    ])).evaluate(d)
    got = {r["g"]: (r["first_v"], r["top2_v"]) for r in out.collect()}
    # the ord=NULL doc (v=99) never wins; group b has NO sortable doc
    assert got["a"] == (10.0, [10.0, 20.0])
    assert got["b"] == (None, None)


def test_normalize_pipeline_agg(spark):
    """ES normalize pipeline agg (round 13): the six documented
    methods rescale a sibling metric across the innermost bucket
    level per outer bucket; degenerate denominators emit null."""
    d = spark.createDataFrame(
        [("g1", 1.0), ("g1", 3.0), ("g2", 2.0), ("g2", 2.0),
         ("g2", 8.0)], "g string, v double"
    )
    aggs = [
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "g", "size": 5, "order": "asc",
                    "orderBy": "_term", "customLabel": "g"}},
        {"id": "2", "type": "histogram", "schema": "bucket",
         "params": {"field": "v", "interval": 1.0, "customLabel": "b"}},
        {"id": "3", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ] + [
        {"id": str(i + 4), "type": "normalize", "schema": "metric",
         "params": {"metricAgg": "3", "method": m, "customLabel": lbl}}
        for i, (m, lbl) in enumerate([
            ("percent_of_sum", "pct"), ("rescale_0_1", "r01"),
            ("rescale_0_100", "r100"), ("mean", "mn"),
            ("z-score", "z"), ("softmax", "sm"),
        ])
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(d)
    got = {(r["g"], r["b"]): (r["pct"], r["r01"], r["r100"], r["mn"],
                              r["z"], r["sm"]) for r in out.collect()}
    import math
    e = math.e
    # g2 counts: bucket 2.0 -> 2 docs, bucket 8.0 -> 1 doc
    assert got[("g2", 2.0)] == (
        2 / 3, 1.0, 100.0, 0.5, 1.0, e**2 / (e**2 + e))
    assert got[("g2", 8.0)] == (
        1 / 3, 0.0, 0.0, -0.5, -1.0, e / (e**2 + e))
    # g1: both buckets count 1 -> rescale family degenerate (null),
    # ratio family well-defined
    assert got[("g1", 1.0)] == (0.5, None, None, None, None, 0.5)
    with pytest.raises(ValueError, match="method"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "normalize", "schema": "metric",
             "params": {"metricAgg": "3", "method": "nope"}},
        ])["visState"])
    # bare histogram: global stats via one-row broadcast, not an
    # unpartitioned window
    out2 = compile_visualization(_vis8([
        {"id": "2", "type": "histogram", "schema": "bucket",
         "params": {"field": "v", "interval": 1.0, "customLabel": "b"}},
        {"id": "3", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
        {"id": "4", "type": "normalize", "schema": "metric",
         "params": {"metricAgg": "3", "method": "percent_of_sum",
                    "customLabel": "pct"}},
    ])).evaluate(d)
    got2 = {r["b"]: r["pct"] for r in out2.collect()}
    assert got2 == {1.0: 0.2, 2.0: 0.4, 3.0: 0.2, 8.0: 0.2}
    plan = out2._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_normalize_respects_request_order_with_selector(spark):
    """A bucket_selector BEFORE the normalize shrinks the level the
    statistics see (request-order reduction, like the other pipeline
    kinds)."""
    d = spark.createDataFrame(
        [("a", 1.0), ("a", 1.5), ("b", 2.0), ("c", 3.0)],
        "g string, v double")
    aggs = [
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "g", "size": 5, "order": "asc",
                    "orderBy": "_term", "customLabel": "g"}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
        {"id": "3", "type": "bucket_selector", "schema": "metric",
         "params": {"buckets_path": {"c": "2"}, "customLabel": "keep",
                    "script": "params.c < 2"}},
        {"id": "4", "type": "normalize", "schema": "metric",
         "params": {"metricAgg": "2", "method": "percent_of_sum",
                    "customLabel": "pct"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(d)
    got = {r["g"]: r["pct"] for r in out.collect()}
    # 'a' (count 2) dropped by the selector FIRST; pct over b,c only
    assert got == {"b": 0.5, "c": 0.5}


def test_cumulative_cardinality(spark):
    """ES cumulative_cardinality (round 13): running distinct count of
    a field across date_histogram buckets, exact via first-seen
    buckets (ES merges HLL sketches; documented exact-vs-approx
    stance).  Nested under an outer terms bucket the running count
    restarts per term."""
    rows = [
        ("g1", "2024-01-01 00:10:00", "u1"),
        ("g1", "2024-01-01 00:20:00", "u2"),
        ("g1", "2024-01-01 01:10:00", "u1"),   # u1 already seen
        ("g1", "2024-01-01 02:10:00", "u3"),
        ("g2", "2024-01-01 00:10:00", "u1"),   # separate outer group
        ("g2", "2024-01-01 01:10:00", None),   # null value: no count
    ]
    df = spark.createDataFrame(rows, "g string, ts string, u string")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    aggs = [
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "g", "size": 5, "order": "asc",
                    "orderBy": "_term", "customLabel": "g"}},
        {"id": "2", "type": "date_histogram", "schema": "bucket",
         "params": {"field": "ts", "customInterval": "1h",
                    "customLabel": "h"}},
        {"id": "3", "type": "cardinality", "schema": "metric",
         "params": {"field": "u", "customLabel": "card"}},
        {"id": "4", "type": "cumulative_cardinality", "schema": "metric",
         "params": {"metricAgg": "3", "customLabel": "cc"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(
        df, auto_interval_buckets=None
    )
    got = {(r["g"], str(r["h"])): (r["card"], r["cc"])
           for r in out.collect()}
    assert got[("g1", "2024-01-01 00:00:00")] == (2, 2)
    assert got[("g1", "2024-01-01 01:00:00")] == (1, 2)   # u1 not new
    assert got[("g1", "2024-01-01 02:00:00")] == (1, 3)
    assert got[("g2", "2024-01-01 00:00:00")] == (1, 1)
    assert got[("g2", "2024-01-01 01:00:00")] == (0, 1)   # null only
    # validation: path must be a cardinality agg
    with pytest.raises(ValueError, match="cardinality agg"):
        parse_vis_state(_vis8([
            {"id": "2", "type": "date_histogram", "schema": "bucket",
             "params": {"field": "ts", "customInterval": "1h"}},
            {"id": "3", "type": "count", "schema": "metric",
             "params": {}},
            {"id": "4", "type": "cumulative_cardinality",
             "schema": "metric", "params": {"metricAgg": "3"}},
        ])["visState"])
    # innermost must be a histogram
    with pytest.raises(ValueError, match="innermost"):
        compile_visualization(_vis8([
            {"id": "1", "type": "terms", "schema": "bucket",
             "params": {"field": "g", "size": 5, "order": "asc",
                        "orderBy": "_term", "customLabel": "g"}},
            {"id": "3", "type": "cardinality", "schema": "metric",
             "params": {"field": "u", "customLabel": "card"}},
            {"id": "4", "type": "cumulative_cardinality",
             "schema": "metric", "params": {"metricAgg": "3"}},
        ])).evaluate(df)
    # a selector BEFORE it is rejected loudly
    with pytest.raises(ValueError, match="bucket_selector"):
        compile_visualization(_vis8([
            {"id": "2", "type": "date_histogram", "schema": "bucket",
             "params": {"field": "ts", "customInterval": "1h",
                        "customLabel": "h"}},
            {"id": "3", "type": "cardinality", "schema": "metric",
             "params": {"field": "u", "customLabel": "card"}},
            {"id": "5", "type": "bucket_selector", "schema": "metric",
             "params": {"buckets_path": {"c": "3"},
                        "script": "params.c > 0"}},
            {"id": "4", "type": "cumulative_cardinality",
             "schema": "metric", "params": {"metricAgg": "3"}},
        ])).evaluate(df, auto_interval_buckets=None)


def test_matrix_stats(spark):
    """ES matrix_stats (round 14): per-field mean/variance/skewness/
    kurtosis + pairwise covariance/correlation with ES's
    MatrixStatsResults formulas, hand-computed.  x=(1,2,3), y=(2,4,7);
    the row with a null x is excluded from the WHOLE matrix (listwise
    deletion); a single-doc group nulls every (n-1)/M2-normalized
    stat."""
    d = spark.createDataFrame(
        [("g1", 1.0, 2.0), ("g1", 2.0, 4.0), ("g1", 3.0, 7.0),
         ("g1", None, 9.0), ("g2", 5.0, 5.0)],
        "g string, x double, y double")
    out = compile_visualization(_vis8([
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "g", "size": 5, "order": "asc",
                    "orderBy": "_term", "customLabel": "g"}},
        {"id": "2", "type": "matrix_stats", "schema": "metric",
         "params": {"fields": ["x", "y"], "customLabel": "mx"}},
    ])).evaluate(d)
    rows = {r["g"]: r for r in out.collect()}
    g1 = rows["g1"]
    assert g1["mx_doc_count"] == 3              # null-x row excluded
    assert g1["mx_x_mean"] == 2.0
    assert g1["mx_x_variance"] == 1.0           # M2=2, /(n-1)
    assert g1["mx_x_skewness"] == 0.0           # symmetric
    assert g1["mx_x_kurtosis"] == 1.5           # n*M4/M2^2 = 3*2/4
    # y moments from the same formulas, computed independently here
    import math
    n, ys = 3.0, [2.0, 4.0, 7.0]
    m = sum(ys) / n
    m2 = sum(y * y for y in ys) - n * m * m
    m3 = sum(y ** 3 for y in ys) - 3 * m * sum(y * y for y in ys) \
        + 2 * n * m ** 3
    assert abs(g1["mx_y_variance"] - m2 / (n - 1)) < 1e-9
    assert abs(
        g1["mx_y_skewness"] - math.sqrt(n) * m3 / m2 ** 1.5
    ) < 1e-9
    c2 = (1 * 2 + 2 * 4 + 3 * 7) - n * 2.0 * m
    assert abs(g1["mx_x_y_covariance"] - c2 / (n - 1)) < 1e-9
    assert abs(
        g1["mx_x_y_correlation"] - c2 / math.sqrt(2.0 * m2)
    ) < 1e-9
    g2 = rows["g2"]
    assert g2["mx_doc_count"] == 1 and g2["mx_x_mean"] == 5.0
    assert g2["mx_x_variance"] is None          # n < 2
    assert g2["mx_x_skewness"] is None          # M2 = 0
    assert g2["mx_x_y_correlation"] is None
    # validation: >= 2 distinct fields, no bucket schema, no missing
    with pytest.raises(ValueError, match="two fields"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "matrix_stats", "schema": "metric",
             "params": {"fields": ["x"]}}])["visState"])
    with pytest.raises(ValueError, match="distinct"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "matrix_stats", "schema": "metric",
             "params": {"fields": ["x", "x"]}}])["visState"])
    with pytest.raises(ValueError, match="missing"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "matrix_stats", "schema": "metric",
             "params": {"fields": ["x", "y"],
                        "missing": {"x": 0}}}])["visState"])


def test_t_test(spark):
    """ES t_test (round 14): Welch (ES default), pooled and paired t
    against hand-derived formula values; the engine emits the exact
    (t, df) pair ES's p-value CDF consumes (documented divergence).
    Degenerate sides null."""
    import math

    d = spark.createDataFrame(
        [("x", 1.0), ("x", 2.0), ("x", 3.0), ("x", 4.0),
         ("y", 2.0), ("y", 4.0), ("y", 6.0), ("z", 9.0)],
        "tag string, v double")
    out = compile_visualization(_vis8([
        {"id": "1", "type": "t_test", "schema": "metric",
         "params": {"a": {"field": "v", "filter": "tag:x"},
                    "b": {"field": "v", "filter": "tag:y"},
                    "customLabel": "welch"}},
        {"id": "2", "type": "t_test", "schema": "metric",
         "params": {"a": {"field": "v", "filter": "tag:x"},
                    "b": {"field": "v", "filter": "tag:y"},
                    "type": "homoscedastic", "customLabel": "pooled"}},
        {"id": "3", "type": "t_test", "schema": "metric",
         "params": {"a": {"field": "v", "filter": "tag:x"},
                    "b": {"field": "v", "filter": "tag:z"},
                    "customLabel": "degen"}},
    ])).evaluate(d)
    (r,) = out.collect()
    na, ma, va = 4, 2.5, 5 / 3          # x: 1,2,3,4
    nb, mb, vb = 3, 4.0, 4.0            # y: 2,4,6
    se2 = va / na + vb / nb
    assert abs(r["welch_t"] - (ma - mb) / math.sqrt(se2)) < 1e-12
    assert abs(
        r["welch_df"]
        - se2 ** 2 / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
    ) < 1e-12
    sp2 = ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)
    assert abs(
        r["pooled_t"] - (ma - mb) / math.sqrt(sp2 * (1 / na + 1 / nb))
    ) < 1e-12
    assert r["pooled_df"] == 5.0
    # round 15: the agg emits ES's actual returned value — the
    # two-sided p (Student-t CDF of the (t, df) pair).  Pins are
    # adaptive-Simpson references (tests/test_kibana_stats_math.py
    # derivation), independent of the Lanczos/CF implementation.
    assert abs(r["welch_p"] - 0.33382370007749784) < 1e-10
    assert abs(r["pooled_p"] - 0.2775605199635167) < 1e-10
    assert r["degen_t"] is None          # z has a single doc: n<2
    assert r["degen_p"] is None
    # paired: per-doc differences (3,5,4) - (1,2,4) = [2,3,0]
    d2 = spark.createDataFrame(
        [(3.0, 1.0), (5.0, 2.0), (4.0, 4.0)], "a double, b double")
    out2 = compile_visualization(_vis8([
        {"id": "1", "type": "t_test", "schema": "metric",
         "params": {"a": {"field": "a"}, "b": {"field": "b"},
                    "type": "paired", "customLabel": "pr"}},
    ])).evaluate(d2)
    (r2,) = out2.collect()
    md, vd = 5 / 3, ((4 + 9 + 0) - 3 * (5 / 3) ** 2) / 2
    assert abs(r2["pr_t"] - md / math.sqrt(vd / 3)) < 1e-12
    assert r2["pr_df"] == 2.0
    assert abs(r2["pr_p"] - 0.1993592309745523) < 1e-10
    with pytest.raises(ValueError, match="must not have filters"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "t_test", "schema": "metric",
             "params": {"a": {"field": "a", "filter": "tag:x"},
                        "b": {"field": "b"}, "type": "paired"}},
        ])["visState"])
    with pytest.raises(ValueError, match="a.field and b.field"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "t_test", "schema": "metric",
             "params": {"a": {"field": "a"}}}])["visState"])


def test_t_test_randomized_cross_check(spark):
    """t_test differential pin: six seeded random populations, engine
    (t, df) for all three modes compared per terms bucket against an
    independent pure-Python computation of the same formulas — one
    evaluation, deterministic data."""
    import math
    import random

    rows = []
    pops = {}
    for g in range(6):
        rng = random.Random(1000 + g)
        na, nb = rng.randint(3, 30), rng.randint(3, 30)
        a = [round(rng.uniform(-50, 50), 3) for _ in range(na)]
        bvals = [round(rng.uniform(-50, 50), 3) for _ in range(nb)]
        pops[f"g{g}"] = (a, bvals)
        rows += [(f"g{g}", "x", v) for v in a]
        rows += [(f"g{g}", "y", v) for v in bvals]
    d = spark.createDataFrame(rows, "g string, tag string, v double")
    out = compile_visualization(_vis8([
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "g", "size": 10, "order": "asc",
                    "orderBy": "_term", "customLabel": "g"}},
        {"id": "2", "type": "t_test", "schema": "metric",
         "params": {"a": {"field": "v", "filter": "tag:x"},
                    "b": {"field": "v", "filter": "tag:y"},
                    "customLabel": "w"}},
        {"id": "3", "type": "t_test", "schema": "metric",
         "params": {"a": {"field": "v", "filter": "tag:x"},
                    "b": {"field": "v", "filter": "tag:y"},
                    "type": "homoscedastic", "customLabel": "p"}},
    ])).evaluate(d)
    got = {r["g"]: r for r in out.collect()}

    def moments(vals):
        n = len(vals)
        m = sum(vals) / n
        var = sum((v - m) ** 2 for v in vals) / (n - 1)
        return n, m, var

    for g, (a, bvals) in pops.items():
        na, ma, va = moments(a)
        nb, mb, vb = moments(bvals)
        se2 = va / na + vb / nb
        wt = (ma - mb) / math.sqrt(se2)
        wdf = se2 ** 2 / (
            (va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
        sp2 = ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)
        pt = (ma - mb) / math.sqrt(sp2 * (1 / na + 1 / nb))
        r = got[g]
        assert abs(r["w_t"] - wt) < 1e-9, g
        assert abs(r["w_df"] - wdf) < 1e-9, g
        assert abs(r["p_t"] - pt) < 1e-9, g
        assert r["p_df"] == na + nb - 2


def test_random_sampler(spark):
    """ES random_sampler (round 14), the deterministic twin: the
    md5(id ':' seed) residue keep-set reproduces bit-for-bit against a
    Python replay; sub-aggregations run over the sample; ES's
    probability contract ((0, 0.5] or 1) and the explicit-seed /
    explicit-id determinism requirements are enforced."""
    import hashlib

    d = spark.range(0, 500).withColumn("v", F.col("id").cast("double"))
    out = compile_visualization(_vis8([
        {"id": "1", "type": "random_sampler", "schema": "bucket",
         "params": {"probability": 0.25, "seed": 42, "id_field": "id",
                    "customLabel": "s"}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
        {"id": "3", "type": "avg", "schema": "metric",
         "params": {"field": "v", "customLabel": "av"}},
    ])).evaluate(d)
    (r,) = out.collect()
    keep = [
        i for i in range(500)
        if int(hashlib.md5(f"{i}:42".encode()).hexdigest()[:15], 16)
        % 1_000_000 < 250_000
    ]
    assert r["n"] == len(keep)
    assert abs(r["av"] - sum(keep) / len(keep)) < 1e-9
    # probability 1 keeps everything
    out2 = compile_visualization(_vis8([
        {"id": "1", "type": "random_sampler", "schema": "bucket",
         "params": {"probability": 1, "seed": 7, "id_field": "id"}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ])).evaluate(d)
    assert out2.collect()[0]["n"] == 500
    for bad in (
        {"probability": 0.6, "seed": 1, "id_field": "id"},
        {"probability": 0.25, "id_field": "id"},
        {"probability": 0.25, "seed": 1},
    ):
        with pytest.raises(ValueError):
            parse_vis_state(_vis8([
                {"id": "1", "type": "random_sampler", "schema": "bucket",
                 "params": bad}])["visState"])
    with pytest.raises(ValueError, match="first"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "terms", "schema": "bucket",
             "params": {"field": "id", "size": 5, "order": "asc",
                        "orderBy": "_term"}},
            {"id": "2", "type": "random_sampler", "schema": "bucket",
             "params": {"probability": 0.25, "seed": 1,
                        "id_field": "id"}}])["visState"])


def test_diversified_sampler(spark):
    """ES diversified_sampler (round 14), deterministic twin: at most
    max_docs_per_value docs per de-dup key survive, chosen as the
    lowest md5(id ':' seed) residues — pinned bit-equal against a
    Python replay; sub-aggregations run over the sample."""
    import hashlib

    rows = [("u1", i) for i in range(4)] + [("u2", 10), ("u2", 11),
                                            ("u3", 20)]
    d = spark.createDataFrame(rows, "user string, id long").withColumn(
        "v", F.col("id").cast("double"))
    out = compile_visualization(_vis8([
        {"id": "1", "type": "diversified_sampler", "schema": "bucket",
         "params": {"field": "user", "max_docs_per_value": 2,
                    "seed": 7, "id_field": "id", "customLabel": "ds"}},
        {"id": "2", "type": "terms", "schema": "bucket",
         "params": {"field": "user", "size": 10, "order": "asc",
                    "orderBy": "_term", "customLabel": "user"}},
        {"id": "3", "type": "sum", "schema": "metric",
         "params": {"field": "v", "customLabel": "sv"}},
    ])).evaluate(d)
    got = {r["user"]: r["sv"] for r in out.collect()}

    def res(i):
        return int(hashlib.md5(f"{i}:7".encode()).hexdigest()[:15], 16) \
            % (1 << 60)

    u1_kept = sorted(range(4), key=lambda i: (res(i), str(i)))[:2]
    assert got == {"u1": float(sum(u1_kept)), "u2": 21.0, "u3": 20.0}
    with pytest.raises(ValueError, match="max_docs_per_value"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "diversified_sampler", "schema": "bucket",
             "params": {"field": "user", "max_docs_per_value": 0,
                        "seed": 1, "id_field": "id"}}])["visState"])
    with pytest.raises(ValueError, match="first"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "terms", "schema": "bucket",
             "params": {"field": "user", "size": 5, "order": "asc",
                        "orderBy": "_term"}},
            {"id": "2", "type": "diversified_sampler", "schema": "bucket",
             "params": {"field": "user", "seed": 1,
                        "id_field": "id"}}])["visState"])


def test_frequent_item_sets(spark):
    """ES frequent_item_sets (round 14): exact apriori over per-doc
    field=value items, CLOSED sets only (a set drops when a superset
    has the same doc count), support = count/total, ordered
    doc_count desc / key asc.  Hand-computed: etype=error (2 docs) is
    NOT closed because {error, big} also has 2 docs."""
    rows = [("click", "big"), ("click", "big"), ("click", "big"),
            ("click", "small"), ("error", "big"), ("error", "big"),
            ("view", "small"), ("view", None)]
    d = spark.createDataFrame(rows, "etype string, sz string")
    out = compile_visualization(_vis8([
        {"id": "1", "type": "frequent_item_sets", "schema": "bucket",
         "params": {"fields": ["etype", "sz"], "minimum_support": 0.25,
                    "customLabel": "set"}},
    ])).evaluate(d)
    got = [(r["set"], r["set_size"], r["doc_count"], r["support"])
           for r in out.collect()]
    assert got == [
        ("sz=big", 1, 5, 0.625),
        ("etype=click", 1, 4, 0.5),
        ("etype=click, sz=big", 2, 3, 0.375),
        ("etype=error, sz=big", 2, 2, 0.25),
        ("etype=view", 1, 2, 0.25),      # closed: its supersets have 1
        ("sz=small", 1, 2, 0.25),
    ]
    # minimum_set_size=2 keeps pairs only
    out2 = compile_visualization(_vis8([
        {"id": "1", "type": "frequent_item_sets", "schema": "bucket",
         "params": {"fields": ["etype", "sz"], "minimum_support": 0.25,
                    "minimum_set_size": 2, "customLabel": "set"}},
    ])).evaluate(d)
    assert [r["set"] for r in out2.collect()] == [
        "etype=click, sz=big", "etype=error, sz=big"]
    # triples close their member pairs: three fields, one combination
    d3 = spark.createDataFrame(
        [("a", "x", "p")] * 3 + [("b", "y", "q")],
        "f1 string, f2 string, f3 string")
    out3 = compile_visualization(_vis8([
        {"id": "1", "type": "frequent_item_sets", "schema": "bucket",
         "params": {"fields": ["f1", "f2", "f3"],
                    "minimum_support": 0.5, "customLabel": "set"}},
    ])).evaluate(d3)
    assert [(r["set"], r["set_size"], r["doc_count"])
            for r in out3.collect()] == [
        ("f1=a, f2=x, f3=p", 3, 3)]      # all subsets closed away
    for bad, msg in (
        ({"fields": ["x"]}, "two fields"),
        ({"fields": ["x", "x"]}, "distinct"),
        ({"fields": ["x", "y"], "minimum_support": 0}, "minimum_support"),
        ({"fields": ["x", "y"], "minimum_set_size": 4}, "minimum_set_size"),
    ):
        with pytest.raises(ValueError, match=msg):
            parse_vis_state(_vis8([
                {"id": "1", "type": "frequent_item_sets",
                 "schema": "bucket", "params": bad}])["visState"])


def test_moving_percentiles(spark):
    """ES moving_percentiles (round 14): percentiles of the sliding
    bucket window, exact over the window's raw doc values.  shift=0
    excludes the current bucket (moving_fn semantics); shift=window
    includes it.  Hand-computed on 3 hourly buckets."""
    rows = [("2024-01-01 00:10:00", 1.0), ("2024-01-01 00:20:00", 3.0),
            ("2024-01-01 01:10:00", 10.0), ("2024-01-01 02:10:00", 5.0),
            ("2024-01-01 02:20:00", 7.0)]
    d = spark.createDataFrame(rows, "ts string, v double").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    out = compile_visualization(_vis8([
        {"id": "1", "type": "date_histogram", "schema": "bucket",
         "params": {"field": "ts", "customInterval": "1h",
                    "customLabel": "h"}},
        {"id": "2", "type": "percentiles", "schema": "metric",
         "params": {"field": "v", "percents": [25, 50],
                    "customLabel": "p"}},
        {"id": "3", "type": "moving_percentiles", "schema": "metric",
         "params": {"metricAgg": "2", "window": 2, "customLabel": "mp"}},
        {"id": "4", "type": "moving_percentiles", "schema": "metric",
         "params": {"metricAgg": "2", "window": 2, "shift": 1,
                    "customLabel": "mpi"}},
    ])).evaluate(d, auto_interval_buckets=None)
    got = {str(r["h"]): (r["mp_p50"], r["mpi_p50"]) for r in out.collect()}
    assert got == {
        # shift=0: [t-2, t-1]; shift=1: [t-1, t]
        "2024-01-01 00:00:00": (None, 2.0),   # incl-current: {1,3}
        "2024-01-01 01:00:00": (2.0, 3.0),    # {1,3} / {1,3,10}
        "2024-01-01 02:00:00": (3.0, 7.0),    # {1,3,10} / {10,5,7}
    }
    assert "mp_p25" in out.columns            # source percents mirrored
    with pytest.raises(ValueError, match="explicit"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "date_histogram", "schema": "bucket",
             "params": {"field": "ts", "customInterval": "1h"}},
            {"id": "2", "type": "percentiles", "schema": "metric",
             "params": {"field": "v", "percents": [50]}},
            {"id": "3", "type": "moving_percentiles", "schema": "metric",
             "params": {"metricAgg": "2"}}])["visState"])
    with pytest.raises(ValueError, match="percentiles agg"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "date_histogram", "schema": "bucket",
             "params": {"field": "ts", "customInterval": "1h"}},
            {"id": "2", "type": "avg", "schema": "metric",
             "params": {"field": "v"}},
            {"id": "3", "type": "moving_percentiles", "schema": "metric",
             "params": {"metricAgg": "2", "window": 2}}])["visState"])
    with pytest.raises(ValueError, match="innermost"):
        compile_visualization(_vis8([
            {"id": "1", "type": "terms", "schema": "bucket",
             "params": {"field": "ts", "size": 5, "order": "asc",
                        "orderBy": "_term"}},
            {"id": "2", "type": "percentiles", "schema": "metric",
             "params": {"field": "v", "percents": [50],
                        "customLabel": "p"}},
            {"id": "3", "type": "moving_percentiles", "schema": "metric",
             "params": {"metricAgg": "2", "window": 2,
                        "customLabel": "mp"}},
        ])).evaluate(d)


def test_categorize_text(spark):
    """ES categorize_text (round 14), the deterministic core: category
    key = lowercased tokens with digit-bearing tokens dropped; ordered
    by doc_count desc then key asc, size-cut.  The drain-style
    similarity merge is a documented divergence and similarity_
    threshold != 100 rejects loudly."""
    d = spark.createDataFrame(
        [("User 123 failed to connect",),
         ("User 456 failed to connect",),
         ("Disk 9 full",), ("12345",), (None,)],
        "msg string")
    out = compile_visualization(_vis8([
        {"id": "1", "type": "categorize_text", "schema": "bucket",
         "params": {"field": "msg", "size": 10, "customLabel": "cat"}},
    ])).evaluate(d)
    assert [(r["cat"], r["doc_count"]) for r in out.collect()] == [
        ("user failed to connect", 2), ("disk full", 1),
    ]
    # size cut keeps the top pattern only
    out2 = compile_visualization(_vis8([
        {"id": "1", "type": "categorize_text", "schema": "bucket",
         "params": {"field": "msg", "size": 1, "customLabel": "cat"}},
    ])).evaluate(d)
    assert [r["cat"] for r in out2.collect()] == ["user failed to connect"]
    # round 15: similarity_threshold < 100 now compiles (the
    # deterministic merge — see test_categorize_text_similarity_merge)
    parse_vis_state(_vis8([
        {"id": "1", "type": "categorize_text", "schema": "bucket",
         "params": {"field": "msg",
                    "similarity_threshold": 70}}])["visState"])
    with pytest.raises(ValueError, match="needs a field"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "categorize_text", "schema": "bucket",
             "params": {}}])["visState"])


def test_cumulative_cardinality_min_doc_count(spark):
    """ADVICE r13: a value whose FIRST bucket is dropped by the
    histogram's min_doc_count>=2 cut must still be counted — in its
    first SURVIVING bucket, exactly as ES's per-returned-bucket HLL
    merge would count it.  u3 first appears in the 01:00 bucket
    (1 doc, dropped); its +1 lands on the 02:00 bucket."""
    rows = [
        ("2024-01-01 00:10:00", "u1"),
        ("2024-01-01 00:20:00", "u2"),
        ("2024-01-01 01:10:00", "u3"),   # lone doc: bucket dropped
        ("2024-01-01 02:10:00", "u3"),
        ("2024-01-01 02:20:00", "u4"),
    ]
    df = spark.createDataFrame(rows, "ts string, u string")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    out = compile_visualization(_vis8([
        {"id": "2", "type": "date_histogram", "schema": "bucket",
         "params": {"field": "ts", "customInterval": "1h",
                    "min_doc_count": 2, "customLabel": "h"}},
        {"id": "3", "type": "cardinality", "schema": "metric",
         "params": {"field": "u", "customLabel": "card"}},
        {"id": "4", "type": "cumulative_cardinality", "schema": "metric",
         "params": {"metricAgg": "3", "customLabel": "cc"}},
    ])).evaluate(df, auto_interval_buckets=None)
    got = {str(r["h"]): (r["card"], r["cc"]) for r in out.collect()}
    assert got == {
        "2024-01-01 00:00:00": (2, 2),
        "2024-01-01 02:00:00": (2, 4),   # u3 counts HERE, not never
    }


def test_significant_text(spark):
    """ES significant_text (round 13): JLH-scored tokens of a free-text
    field, distinct per document (doc frequency), DOC-count set sizes.
    Hand-computed on a crafted corpus where 'crash' dominates the
    error foreground."""
    rows = [
        (1, "error", "server crash crash dump written"),
        (2, "error", "server crash on startup"),
        (3, "error", "disk full on server"),
        (4, "info", "server started ok"),
        (5, "info", "server running fine today"),
        (6, "info", "backup finished ok"),
    ]
    df = spark.createDataFrame(rows, "id long, level string, text string")
    aggs = [
        {"id": "1", "type": "significant_text", "schema": "bucket",
         "params": {"field": "text", "size": 3, "min_doc_count": 2,
                    "foreground": "level:error", "customLabel": "tok"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(df)
    got = {r["tok"]: (r["doc_count"], r["bg_count"], r["score"])
           for r in out.collect()}
    # 'crash' appears in 2 error docs (distinct per doc: doc 1 counts
    # once despite two occurrences), 0 info docs: fg% = 2/3, bg% = 2/6
    # -> score (2/3 - 1/3) * (2/3 / 1/3) = 2/3
    assert got["crash"][0] == 2 and got["crash"][1] == 2
    assert abs(got["crash"][2] - 2 / 3) < 1e-12
    # 'server' is everywhere -> fg% 1.0 vs bg% 5/6: positive but small;
    # 'on' in 2 error docs like crash... 'on' appears docs 2,3 (error)
    assert set(got) <= {"crash", "on", "server"}
    assert got["crash"][2] == max(s for _, _, s in got.values())
    # no sub-aggregations, like ES
    with pytest.raises(ValueError, match="no sub-aggregations"):
        compile_visualization(_vis8([
            aggs[0],
            {"id": "2", "type": "avg", "schema": "metric",
             "params": {"field": "id", "customLabel": "a"}},
        ])).evaluate(df)
    with pytest.raises(ValueError, match="filter_duplicate_text"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "significant_text", "schema": "bucket",
             "params": {"field": "text", "foreground": "level:error",
                        "filter_duplicate_text": True}},
        ])["visState"])
    with pytest.raises(ValueError, match="foreground"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "significant_text", "schema": "bucket",
             "params": {"field": "text"}},
        ])["visState"])


def test_extended_stats_bucket(spark):
    """ES extended_stats_bucket sibling (round 13): the five stats
    columns plus sum_of_squares / variance / std_deviation (POPULATION,
    exact partials) across the innermost bucket level."""
    df = spark.createDataFrame(
        [("g1", "a"), ("g1", "a"), ("g1", "b"), ("g2", "c")],
        "g string, b string")
    aggs = [
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "g", "size": 5, "order": "asc",
                    "orderBy": "_term", "customLabel": "g"}},
        {"id": "2", "type": "terms", "schema": "bucket",
         "params": {"field": "b", "size": 5, "order": "asc",
                    "orderBy": "_term", "customLabel": "b"}},
        {"id": "3", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
        {"id": "4", "type": "extended_stats_bucket", "schema": "metric",
         "params": {"metricAgg": "3", "customLabel": "es"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(df)
    r = {(x["g"], x["b"]): x for x in out.collect()}
    # g1 inner counts [2, 1]: avg 1.5, ssq 5, var 5/2 - 2.25 = 0.25
    row = r[("g1", "a")]
    assert (row["es_count"], row["es_min"], row["es_max"], row["es_avg"],
            row["es_sum"]) == (2, 1.0, 2.0, 1.5, 3.0)
    assert row["es_sum_of_squares"] == 5.0
    assert abs(row["es_variance"] - 0.25) < 1e-12
    assert abs(row["es_std_deviation"] - 0.5) < 1e-12


def test_adjacency_matrix(spark):
    """ES adjacency_matrix (round 13): singleton buckets per matching
    filter plus 'a&b' pair buckets with names in LEXICOGRAPHIC order —
    ES sorts the keyed filters before building intersection keys
    (ADVICE r13: 'big' sorts before 'hasA'/'hasB' even though it was
    declared last)."""
    d = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "ab", 5.0)],
        "id long, tag string, v double")
    aggs = [
        {"id": "1", "type": "adjacency_matrix", "schema": "bucket",
         "params": {"filters": {"hasA": "tag:a OR tag:ab",
                                "hasB": "tag:b OR tag:ab",
                                "big": "v:>=10"},
                    "customLabel": "cell"}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(d)
    got = {r["cell"]: r["n"] for r in out.collect()}
    assert got == {"hasA": 2, "hasB": 2, "big": 2,
                   "big&hasA": 1, "big&hasB": 1, "hasA&hasB": 1}
    # custom separator + validation
    out2 = compile_visualization(_vis8([
        {"id": "1", "type": "adjacency_matrix", "schema": "bucket",
         "params": {"filters": {"x": "tag:a", "y": "v:>=5"},
                    "separator": "|", "customLabel": "cell"}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ])).evaluate(d)
    assert {r["cell"] for r in out2.collect()} == {"x", "y", "x|y"}
    with pytest.raises(ValueError, match="at least one filter"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "adjacency_matrix", "schema": "bucket",
             "params": {}}])["visState"])
    with pytest.raises(ValueError, match="unique"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "adjacency_matrix", "schema": "bucket",
             "params": {"filters": [
                 {"label": "x", "query": "tag:a"},
                 {"label": "x", "query": "tag:b"}]}}])["visState"])


def test_string_stats(spark):
    """ES string_stats (round 13): non-null count, length min/max/avg,
    Shannon entropy (log2) over the bucket's character distribution —
    hand-computed."""
    import math

    d = spark.createDataFrame(
        [("g1", "ab"), ("g1", "abb"), ("g2", "aaaa"), ("g2", None)],
        "g string, t string")
    out = compile_visualization(_vis8([
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "g", "size": 5, "order": "asc",
                    "orderBy": "_term", "customLabel": "g"}},
        {"id": "2", "type": "string_stats", "schema": "metric",
         "params": {"field": "t", "customLabel": "ss"}},
    ])).evaluate(d)
    got = {r["g"]: (r["ss_count"], r["ss_min_length"], r["ss_max_length"],
                    r["ss_avg_length"], r["ss_entropy"])
           for r in out.collect()}
    exp = math.log2(5) - (2 * math.log2(2) + 3 * math.log2(3)) / 5
    assert got["g1"][:4] == (2, 2, 3, 2.5)
    assert abs(got["g1"][4] - exp) < 1e-12
    assert got["g2"] == (1, 4, 4, 4.0, 0.0)   # single repeated char
    with pytest.raises(ValueError, match="show_distribution"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "string_stats", "schema": "metric",
             "params": {"field": "t", "show_distribution": True}},
        ])["visState"])


def test_adjacency_below_mdc_histogram_rejected(spark):
    """adjacency_matrix explodes rows like filters/range — below a
    min_doc_count histogram it would inflate the level count (round-13
    self-review)."""
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", "a")], "ts string, g string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="exploding"):
        compile_visualization(_vis8([
            {"id": "1", "type": "date_histogram", "schema": "bucket",
             "params": {"field": "ts", "customInterval": "1h",
                        "min_doc_count": 2, "customLabel": "h"}},
            {"id": "2", "type": "adjacency_matrix", "schema": "bucket",
             "params": {"filters": {"x": "g:a"}, "customLabel": "cell"}},
        ])).evaluate(df, auto_interval_buckets=None)


def test_round13_agg_invariants_property(spark):
    """Structural invariants of the round-13 aggs on a generated
    corpus: percent_of_sum sums to 1 per outer bucket, rescale_0_1
    stays in [0,1] with both endpoints hit, softmax sums to 1,
    cumulative_cardinality is monotone per group and ends at the
    group's total distinct count."""
    import random

    rnd = random.Random(13)
    rows = [
        ("g%d" % rnd.randrange(3),
         "2024-01-01 %02d:%02d:00" % (rnd.randrange(6), rnd.randrange(60)),
         "u%d" % rnd.randrange(12),
         float(rnd.randrange(1, 50)))
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "g string, ts string, u string, v double")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))

    out = compile_visualization(_vis8([
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "g", "size": 10, "order": "asc",
                    "orderBy": "_term", "customLabel": "g"}},
        {"id": "2", "type": "date_histogram", "schema": "bucket",
         "params": {"field": "ts", "customInterval": "1h",
                    "customLabel": "h"}},
        {"id": "3", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
        {"id": "4", "type": "cardinality", "schema": "metric",
         "params": {"field": "u", "customLabel": "card"}},
        {"id": "5", "type": "normalize", "schema": "metric",
         "params": {"metricAgg": "3", "method": "percent_of_sum",
                    "customLabel": "pct"}},
        {"id": "6", "type": "normalize", "schema": "metric",
         "params": {"metricAgg": "3", "method": "rescale_0_1",
                    "customLabel": "r01"}},
        {"id": "7", "type": "normalize", "schema": "metric",
         "params": {"metricAgg": "3", "method": "softmax",
                    "customLabel": "sm"}},
        {"id": "8", "type": "cumulative_cardinality", "schema": "metric",
         "params": {"metricAgg": "4", "customLabel": "cc"}},
    ])).evaluate(df, auto_interval_buckets=None)
    data = out.collect()
    by_g: dict = {}
    for r in data:
        by_g.setdefault(r["g"], []).append(r)
    truth = {}
    for g, ts, u, v in rows:
        truth.setdefault(g, set()).add(u)
    for g, rs in by_g.items():
        rs.sort(key=lambda r: r["h"])
        assert abs(sum(r["pct"] for r in rs) - 1.0) < 1e-9
        assert abs(sum(r["sm"] for r in rs) - 1.0) < 1e-9
        r01 = [r["r01"] for r in rs]
        if any(x is not None for x in r01):
            vals = [x for x in r01 if x is not None]
            assert min(vals) == 0.0 and max(vals) == 1.0
            assert all(0.0 <= x <= 1.0 for x in vals)
        ccs = [r["cc"] for r in rs]
        assert ccs == sorted(ccs)                 # monotone
        assert ccs[-1] == len(truth[g])           # ends at total distinct
        assert all(r["cc"] >= r["card"] for r in rs)


def test_variable_width_histogram(spark):
    """ES variable_width_histogram (round 13): deterministic
    quantile-seeded Lloyd clustering in place of ES's shard-order-
    dependent streaming merge — two well-separated value groups land
    in two clusters with exact centroids; nested metrics aggregate per
    cluster; re-evaluation reproduces the identical clustering."""
    d = spark.createDataFrame(
        [(float(x),) for x in (8, 9, 10, 11, 12, 98, 99, 100, 101, 102)],
        "v double")
    aggs = [
        {"id": "1", "type": "variable_width_histogram", "schema": "bucket",
         "params": {"field": "v", "buckets": 2, "customLabel": "c"}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
        {"id": "3", "type": "min", "schema": "metric",
         "params": {"field": "v", "customLabel": "lo"}},
        {"id": "4", "type": "max", "schema": "metric",
         "params": {"field": "v", "customLabel": "hi"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(d)
    got = {r["c"]: (r["n"], r["lo"], r["hi"]) for r in out.collect()}
    assert got == {10.0: (5, 8.0, 12.0), 100.0: (5, 98.0, 102.0)}
    # deterministic replay
    again = compile_visualization(_vis8(aggs)).evaluate(d)
    assert {tuple(r) for r in again.collect()} == {tuple(r) for r in out.collect()}
    # must be outermost
    with pytest.raises(ValueError, match="outermost"):
        compile_visualization(_vis8([
            {"id": "0", "type": "terms", "schema": "bucket",
             "params": {"field": "v", "size": 5, "order": "asc",
                        "orderBy": "_term", "customLabel": "g"}},
            aggs[0], aggs[1],
        ])).evaluate(d)
    with pytest.raises(ValueError, match=r"\[1, 100\]"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "variable_width_histogram",
             "schema": "bucket", "params": {"field": "v", "buckets": 0}},
        ])["visState"])


def test_variable_width_histogram_approx_seed(spark):
    """vwh_approx_seed=True seeds the clustering with
    percentile_approx — the 100 TB path; on a small well-separated
    corpus it converges to the same clusters as the exact seed."""
    d = spark.createDataFrame(
        [(float(x),) for x in (8, 9, 10, 11, 12, 98, 99, 100, 101, 102)],
        "v double")
    aggs = [
        {"id": "1", "type": "variable_width_histogram", "schema": "bucket",
         "params": {"field": "v", "buckets": 2, "customLabel": "c"}},
        {"id": "2", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ]
    out = compile_visualization(_vis8(aggs)).evaluate(
        d, vwh_approx_seed=True
    )
    assert {r["c"]: r["n"] for r in out.collect()} == {10.0: 5, 100.0: 5}


def test_bucket_correlation(spark):
    """ES x-pack bucket_correlation / count_correlation (round 15):
    per outer term, the membership-Pearson between the indicator and
    the inner histogram doc counts — engine values against a plain-
    Python replay of the documented formula; misaligned bucket counts
    emit null; indicator validation rejects loudly."""
    import math

    # g=a: counts per v-bucket [2, 3, 5]; g=b: [4, 2, 4]; g=c only
    # has two populated buckets -> misaligned -> null
    rows = []
    for g, counts in (("a", [2, 3, 5]), ("b", [4, 2, 4]),
                      ("c", [1, 0, 2])):
        for i, c in enumerate(counts):
            rows += [(g, float(i * 10))] * c
    d = spark.createDataFrame(rows, "g string, v double")
    exps = [1.0, 2.0, 4.0]
    n_total = 30
    out = compile_visualization(_vis8([
        {"id": "1", "type": "terms", "schema": "bucket",
         "params": {"field": "g", "size": 10, "order": "asc",
                    "orderBy": "_term", "customLabel": "g"}},
        {"id": "2", "type": "histogram", "schema": "bucket",
         "params": {"field": "v", "interval": 10, "customLabel": "vb"}},
        {"id": "3", "type": "bucket_correlation", "schema": "metric",
         "params": {"buckets_path": "_count",
                    "function": {"count_correlation": {"indicator": {
                        "expectations": exps,
                        "doc_count": n_total}}},
                    "customLabel": "corr"}},
    ])).evaluate(d)
    got = {r["g"]: r["corr"] for r in out.collect()}

    def ref(counts):
        m = len(exps)
        fs = [1.0 / m] * m
        xmean = sum(f * e for f, e in zip(fs, exps))
        xvar = sum(f * e * e for f, e in zip(fs, exps)) - xmean ** 2
        nt = sum(counts)
        ymean = nt / n_total
        cov = sum(e * y for e, y in zip(exps, counts)) / n_total \
            - xmean * ymean
        return cov / math.sqrt(xvar * ymean * (1 - ymean))

    assert got["a"] == pytest.approx(ref([2, 3, 5]), rel=1e-12)
    assert got["b"] == pytest.approx(ref([4, 2, 4]), rel=1e-12)
    assert got["c"] is None  # 2 returned buckets vs 3 expectations
    with pytest.raises(ValueError, match="count_correlation"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "bucket_correlation", "schema": "metric",
             "params": {"buckets_path": "_count",
                        "function": {"other": {}}}},
        ])["visState"])
    with pytest.raises(ValueError, match="doc_count"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "bucket_correlation", "schema": "metric",
             "params": {"buckets_path": "_count",
                        "function": {"count_correlation": {"indicator": {
                            "expectations": [1, 2]}}}}},
        ])["visState"])
    with pytest.raises(ValueError, match="fractions"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "bucket_correlation", "schema": "metric",
             "params": {"buckets_path": "_count",
                        "function": {"count_correlation": {"indicator": {
                            "expectations": [1, 2, 3],
                            "fractions": [0.5, 0.5],
                            "doc_count": 10}}}}},
        ])["visState"])


def test_bucket_count_ks_test(spark):
    """ES x-pack bucket_count_ks_test (round 15): one-sample KS of the
    inner-bucket doc-count ECDF against cumulative fractions (uniform
    default) — D+/D-/Kolmogorov p against a plain-Python replay;
    non-uniform sampling_method rejects loudly (ES's upper_tail
    reweighting is not modelled)."""
    import math

    counts = [10, 2, 3, 1]  # mass shifted toward LOW keys
    rows = [(float(i * 10),) for i, c in enumerate(counts) for _ in
            range(c)]
    d = spark.createDataFrame(rows, "v double")
    out = compile_visualization(_vis8([
        {"id": "1", "type": "histogram", "schema": "bucket",
         "params": {"field": "v", "interval": 10, "customLabel": "vb"}},
        {"id": "2", "type": "bucket_count_ks_test", "schema": "metric",
         "params": {"buckets_path": "_count",
                    "sampling_method": "uniform",
                    "customLabel": "ks"}},
    ])).evaluate(d)
    r = out.collect()[0]

    n = sum(counts)
    ecdf, cum = [], 0
    for c in counts:
        cum += c
        ecdf.append(cum / n)
    tcdf = [(i + 1) / len(counts) for i in range(len(counts))]
    dp = max(e - t for e, t in zip(ecdf, tcdf))
    dm = max(t - e for e, t in zip(ecdf, tcdf))
    lam = math.sqrt(n) * max(dp, dm)
    p_two = 2.0 * sum(
        (-1) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
        for k in range(1, 200)
    )
    assert r["ks_greater"] == pytest.approx(
        min(1.0, math.exp(-2 * n * dp * dp)), rel=1e-12)
    assert r["ks_less"] == pytest.approx(
        min(1.0, math.exp(-2 * n * dm * dm)), rel=1e-12)
    assert r["ks_two_sided"] == pytest.approx(p_two, rel=1e-9)
    # mass at low keys => ECDF above reference => "greater" small
    assert r["ks_greater"] < r["ks_less"]

    # explicit fractions: reference CDF from the literal array
    out2 = compile_visualization(_vis8([
        {"id": "1", "type": "histogram", "schema": "bucket",
         "params": {"field": "v", "interval": 10, "customLabel": "vb"}},
        {"id": "2", "type": "bucket_count_ks_test", "schema": "metric",
         "params": {"buckets_path": "_count",
                    "sampling_method": "uniform",
                    "fractions": [0.7, 0.1, 0.1, 0.1],
                    "alternative": ["two_sided"],
                    "customLabel": "ks"}},
    ])).evaluate(d)
    r2 = out2.collect()[0]
    tcdf2, cum = [], 0.0
    for f in [0.7, 0.1, 0.1, 0.1]:
        cum += f
        tcdf2.append(cum)
    d2 = max(abs(e - t) for e, t in zip(ecdf, tcdf2))
    lam2 = math.sqrt(n) * d2
    want2 = 2.0 * sum(
        (-1) ** (k - 1) * math.exp(-2.0 * k * k * lam2 * lam2)
        for k in range(1, 200)
    ) if lam2 >= 1.18 else None
    if want2 is not None:
        assert r2["ks_two_sided"] == pytest.approx(want2, rel=1e-9)
    assert "ks_less" not in out2.columns  # only requested alternatives
    with pytest.raises(ValueError, match="upper_tail"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "bucket_count_ks_test",
             "schema": "metric",
             "params": {"buckets_path": "_count"}},
        ])["visState"])
    with pytest.raises(ValueError, match="alternative"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "bucket_count_ks_test",
             "schema": "metric",
             "params": {"buckets_path": "_count",
                        "sampling_method": "uniform",
                        "alternative": ["sideways"]}},
        ])["visState"])


def test_categorize_text_similarity_merge(spark):
    """categorize_text similarity_threshold < 100 (round 15): the
    deterministic frequency-seeded merge — same-length positional
    similarity, pointer-jump chain closure, unanimity-wildcard keys —
    against a hand-traced corpus; threshold=100 path unchanged."""
    rows = (
        [("error connecting 1 to host",)] * 5
        + [("error connecting 2 to server",)] * 3
        + [("error talking 3 to server",)] * 2
        + [("warning disk 44 full",)] * 4
        + [("error connecting 5",)] * 1
    )
    d = spark.createDataFrame(rows, "msg string")
    out = compile_visualization(_vis8([
        {"id": "1", "type": "categorize_text", "schema": "bucket",
         "params": {"field": "msg", "size": 10,
                    "similarity_threshold": 70, "customLabel": "cat"}},
    ])).evaluate(d)
    got = {r["cat"]: r["doc_count"] for r in out.collect()}
    # chain: 'error talking to server' -> 'error connecting to server'
    # -> 'error connecting to host' (rank-decreasing, jump-closed);
    # unanimity key wildcards positions 1 and 3
    assert got == {
        "error * to *": 10,
        "warning disk full": 4,
        "error connecting": 1,  # length 2: never merges with length 4
    }
    # threshold 100 (default): exact patterns, unchanged
    out2 = compile_visualization(_vis8([
        {"id": "1", "type": "categorize_text", "schema": "bucket",
         "params": {"field": "msg", "size": 10, "customLabel": "cat"}},
    ])).evaluate(d)
    got2 = {r["cat"]: r["doc_count"] for r in out2.collect()}
    assert got2["error connecting to host"] == 5
    assert got2["error connecting to server"] == 3
    assert len(got2) == 5
    with pytest.raises(ValueError, match=r"\[1, 100\]"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "categorize_text", "schema": "bucket",
             "params": {"field": "msg", "similarity_threshold": 0}},
        ])["visState"])


def test_categorize_text_metric_subaggs(spark):
    """categorize_text metric sub-aggs (round 16, VERDICT r15 item 4):
    avg/sum/min/max/count nest under pattern buckets in BOTH threshold
    paths (exact: one hash agg; merged: decomposable partials through
    the rep closure), cardinality in the exact path only — all values
    hand-computed.  A null metric value exercises the non-null avg
    count partial."""
    rows = (
        [("error connecting 1 to host", v, u) for v, u in
         [(1.0, "a"), (2.0, "a"), (3.0, "b"), (4.0, "b"), (5.0, "c")]]
        + [("error connecting 2 to server", v, u) for v, u in
           [(10.0, "a"), (20.0, "d"), (30.0, "d")]]
        + [("error talking 3 to server", v, u) for v, u in
           [(100.0, "e"), (200.0, "e")]]
        + [("warning disk 44 full", v, u) for v, u in
           [(6.0, "a"), (7.0, "b"), (8.0, "a"), (None, "b")]]
        + [("error connecting 5", 1000.0, "z")]
    )
    d = spark.createDataFrame(rows, "msg string, v double, u string")
    # exact path (threshold 100): finalize in the one aggregation
    out = compile_visualization(_vis8([
        {"id": "1", "type": "categorize_text", "schema": "bucket",
         "params": {"field": "msg", "size": 10, "customLabel": "cat"}},
        {"id": "2", "type": "avg", "schema": "metric",
         "params": {"field": "v", "customLabel": "av"}},
        {"id": "3", "type": "cardinality", "schema": "metric",
         "params": {"field": "u", "customLabel": "nu"}},
        {"id": "4", "type": "sum", "schema": "metric",
         "params": {"field": "v", "customLabel": "sv"}},
    ])).evaluate(d)
    got = {r["cat"]: (r["doc_count"], r["av"], r["nu"], r["sv"])
           for r in out.collect()}
    assert got["error connecting to host"] == (5, 3.0, 3, 15.0)
    assert got["error connecting to server"] == (3, 20.0, 2, 60.0)
    assert got["error talking to server"] == (2, 150.0, 1, 300.0)
    assert got["warning disk full"] == (4, 7.0, 2, 21.0)  # null v skipped
    assert got["error connecting"] == (1, 1000.0, 1, 1000.0)
    # merged path (threshold 70): partials combine through the closure
    out2 = compile_visualization(_vis8([
        {"id": "1", "type": "categorize_text", "schema": "bucket",
         "params": {"field": "msg", "size": 10,
                    "similarity_threshold": 70, "customLabel": "cat"}},
        {"id": "2", "type": "avg", "schema": "metric",
         "params": {"field": "v", "customLabel": "av"}},
        {"id": "3", "type": "min", "schema": "metric",
         "params": {"field": "v", "customLabel": "lo"}},
        {"id": "4", "type": "max", "schema": "metric",
         "params": {"field": "v", "customLabel": "hi"}},
        {"id": "5", "type": "count", "schema": "metric",
         "params": {"customLabel": "n"}},
    ])).evaluate(d)
    got2 = {r["cat"]: (r["doc_count"], r["av"], r["lo"], r["hi"], r["n"])
            for r in out2.collect()}
    assert got2["error * to *"] == (10, 37.5, 1.0, 200.0, 10)
    assert got2["warning disk full"] == (4, 7.0, 6.0, 8.0, 4)
    assert got2["error connecting"] == (1, 1000.0, 1000.0, 1000.0, 1)
    # cardinality is not a decomposable partial: loud under merge
    with pytest.raises(ValueError, match="not decomposable"):
        compile_visualization(_vis8([
            {"id": "1", "type": "categorize_text", "schema": "bucket",
             "params": {"field": "msg", "similarity_threshold": 70}},
            {"id": "2", "type": "cardinality", "schema": "metric",
             "params": {"field": "u", "customLabel": "nu"}},
        ])).evaluate(d)
    # pipeline aggs still reject
    with pytest.raises(ValueError, match="simple metric sub-aggs"):
        compile_visualization(_vis8([
            {"id": "1", "type": "categorize_text", "schema": "bucket",
             "params": {"field": "msg"}},
            {"id": "2", "type": "avg", "schema": "metric",
             "params": {"field": "v", "customLabel": "av"}},
            {"id": "3", "type": "cumulative_sum", "schema": "metric",
             "params": {"metricAgg": "2", "customLabel": "cs"}},
        ])).evaluate(d)


def test_sampler_deterministic_topk(spark):
    """ES plain sampler (round 15), the deterministic twin: the
    shard_size lowest md5(id ':' seed) residues survive — verified
    bit-for-bit against a Python replay; explicit seed/id contract
    enforced; must be the first bucket agg."""
    import hashlib

    d = spark.range(0, 300).withColumn(
        "v", F.col("id").cast("double")
    ).withColumn("tag", (F.col("id") % 3).cast("string"))
    out = compile_visualization(_vis8([
        {"id": "1", "type": "sampler", "schema": "bucket",
         "params": {"shard_size": 40, "seed": 9, "id_field": "id",
                    "customLabel": "s"}},
        {"id": "2", "type": "terms", "schema": "bucket",
         "params": {"field": "tag", "size": 10, "order": "asc",
                    "orderBy": "_term", "customLabel": "tag"}},
        {"id": "3", "type": "sum", "schema": "metric",
         "params": {"field": "v", "customLabel": "sv"}},
    ])).evaluate(d)
    got = {r["tag"]: r["sv"] for r in out.collect()}

    def res(i):
        return int(hashlib.md5(f"{i}:9".encode()).hexdigest()[:15], 16)

    keep = sorted(range(300), key=lambda i: (res(i), str(i)))[:40]
    want = {}
    for i in keep:
        want[str(i % 3)] = want.get(str(i % 3), 0.0) + float(i)
    assert got == want
    with pytest.raises(ValueError, match="explicit seed"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "sampler", "schema": "bucket",
             "params": {"shard_size": 10}}])["visState"])
    with pytest.raises(ValueError, match="first"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "terms", "schema": "bucket",
             "params": {"field": "tag", "size": 5}},
            {"id": "2", "type": "sampler", "schema": "bucket",
             "params": {"shard_size": 10, "seed": 1, "id_field": "id"}},
        ])["visState"])


def test_terms_below_a_sampler_keeps_its_size_cut(spark):
    """A sampler adds no key column, so the terms bucket below it ranks
    among the keyed buckets above it (none): its size cut applies to the
    whole sample and 2 of the 5 tags survive."""
    d = spark.range(0, 300).withColumn("tag", (F.col("id") % 5).cast("string"))
    out = compile_visualization(_vis8([
        {"id": "1", "type": "sampler", "schema": "bucket",
         "params": {"shard_size": 300, "seed": 9, "id_field": "id"}},
        {"id": "2", "type": "terms", "schema": "bucket",
         "params": {"field": "tag", "size": 2, "order": "desc",
                    "orderBy": "_term", "customLabel": "tag"}},
    ])).evaluate(d)
    assert sorted(r["tag"] for r in out.collect()) == ["3", "4"]


def test_ip_range_bucket(spark):
    """ES ip_range (round 15): from/to and CIDR-mask ranges over an
    IPv4 string column — half-open endpoints, overlap-explode, ES key
    conventions; malformed addresses match nothing.  (IPv6 support —
    round 16 — is pinned by test_ip_range_ipv6.)"""
    d = spark.createDataFrame(
        [("10.0.0.3",), ("10.0.0.130",), ("10.0.1.7",), ("10.0.0.0",),
         ("not-an-ip",), ("10.0.0.300",), ("192.168.1.1",)],
        "ip string")
    out = compile_visualization(_vis8([
        {"id": "1", "type": "ip_range", "schema": "bucket",
         "params": {"field": "ip", "ranges": [
             {"from": "10.0.0.0", "to": "10.0.0.128"},
             {"mask": "10.0.0.128/25"},
             {"key": "subnet1", "mask": "10.0.1.0/24"},
             {"to": "10.0.0.4"},
         ], "customLabel": "r"}},
    ])).evaluate(d)
    got = {r["r"]: r["count"] for r in out.collect()}
    assert got == {
        "10.0.0.0-10.0.0.128": 2,   # .3 and .0
        "10.0.0.128/25": 1,          # .130
        "subnet1": 1,                # 10.0.1.7
        "*-10.0.0.4": 2,             # .0 and .3 (overlap with range 1)
    }
    with pytest.raises(ValueError, match="valid CIDR"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "ip_range", "schema": "bucket",
             "params": {"field": "ip",
                        "ranges": [{"mask": "10.0.0.0/xx"}]}}])["visState"])
    with pytest.raises(ValueError, match="at least one"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "ip_range", "schema": "bucket",
             "params": {"field": "ip", "ranges": []}}])["visState"])


def test_ip_range_ipv6(spark):
    """ip_range IPv6 (round 16, VERDICT r15 item 5): the doc-side
    128-bit parse (compressed ::, uncompressed, embedded v4 tails,
    v4-mapped unification) verified form-by-form against stdlib
    ipaddress, then bucketing over v6 + cross-family ranges including
    a top-bit range that exercises the word bias."""
    import ipaddress

    from kafka_metrics_exporter_spark.kibana.compiler import _ip128_struct

    forms = [
        "2001:db8::1", "::", "::1", "1:2:3:4:5:6:7:8", "fe80::1",
        "::ffff:10.0.0.5", "2001:db8:0:0:0:0:0:2", "1:2:3:4:5:6:77:8888",
        "abcd:ef01:2345:6789:abcd:ef01:2345:6789", "64:ff9b::192.0.2.33",
        "2001:db8::8:800:200c:417a", "ff01::101", "10.0.0.5", "0.0.0.0",
        "255.255.255.255", "1:2:3:4:5:6:7::", "::2:3:4:5:6:7:8",
        "FE80::A:b",  # mixed case hex
    ]
    bad = [
        "", "not-an-ip", "1:2:3:4:5:6:7:8:9", "2001:db8:::1", "gggg::1",
        "10.0.0.300", "1::2::3", "2001:db8::10.0.0.300", ":", "1:2:3",
        "1:2:3:4:5:6:7:8::", "12345::1",
    ]
    d = spark.createDataFrame([(s,) for s in forms + bad], "ip string")
    rows = d.select("ip", _ip128_struct(F.col("ip")).alias("w")).collect()
    got = {
        r["ip"]: (
            (r["w"]["hi"], r["w"]["lo"]) if r["w"] is not None else None
        )
        for r in rows
    }
    B, M = 1 << 63, (1 << 64) - 1
    for s in forms:
        a = ipaddress.ip_address(s)
        v = int(a) + (0xFFFF00000000 if a.version == 4 else 0)
        assert got[s] == ((v >> 64) - B, (v & M) - B), s
    for s in bad:
        assert got[s] is None, s
    # bucketing: v6 ranges/masks, cross-family coverage, top-bit range
    docs = [
        "2001:db8::1", "2001:db8::ffff", "2001:db8:0:0:0:0:0:2",
        "::ffff:10.0.0.5", "10.0.0.5", "fe80::1", "::1", "::",
        "1:2:3:4:5:6:7:8", "2001:db8::10.0.0.300", "junk",
    ]
    d2 = spark.createDataFrame([(s,) for s in docs], "ip string")
    out = compile_visualization(_vis8([
        {"id": "1", "type": "ip_range", "schema": "bucket",
         "params": {"field": "ip", "ranges": [
             {"from": "2001:db8::", "to": "2001:db8::100"},
             {"mask": "2001:db8::/32"},
             {"mask": "::ffff:10.0.0.0/120"},
             {"from": "10.0.0.0", "to": "10.0.0.128"},
             {"key": "all", "mask": "::/0"},
             {"key": "upper", "from": "8000::"},
         ], "customLabel": "r"}},
    ])).evaluate(d2)
    got2 = {r["r"]: r["count"] for r in out.collect()}
    assert got2 == {
        "2001:db8::-2001:db8::100": 2,   # ::1, ::2 (::ffff too high)
        "2001:db8::/32": 3,
        "::ffff:10.0.0.0/120": 2,        # both spellings of 10.0.0.5
        "10.0.0.0-10.0.0.128": 2,        # same two, via the v4 range
        "all": 9,                        # every valid address, any family
        "upper": 1,                      # fe80::1 only (top-bit bias)
    }


def test_composite_histogram_source(spark):
    """Round 15: composite with a numeric histogram source — ES's
    floor-keyed buckets paginate with the after cursor like the other
    source kinds; negatives bucket downward."""
    d = spark.createDataFrame(
        [("a", -3.0), ("a", 1.0), ("a", 7.0), ("b", 1.0), ("b", 12.0),
         ("b", 14.0)],
        "g string, v double")
    page1 = compile_visualization(_vis8([
        {"id": "1", "type": "composite", "schema": "bucket",
         "params": {"sources": [
             {"g": {"terms": {"field": "g"}}},
             {"vb": {"histogram": {"field": "v", "interval": 5}}},
         ], "size": 3, "customLabel": "c"}},
    ])).evaluate(d)
    rows1 = [(r["g"], r["vb"], r["count"]) for r in page1.collect()]
    assert rows1 == [("a", -5.0, 1), ("a", 0.0, 1), ("a", 5.0, 1)]
    page2 = compile_visualization(_vis8([
        {"id": "1", "type": "composite", "schema": "bucket",
         "params": {"sources": [
             {"g": {"terms": {"field": "g"}}},
             {"vb": {"histogram": {"field": "v", "interval": 5}}},
         ], "size": 3, "after": ["a", 5.0], "customLabel": "c"}},
    ])).evaluate(d)
    rows2 = [(r["g"], r["vb"], r["count"]) for r in page2.collect()]
    assert rows2 == [("b", 0.0, 1), ("b", 10.0, 2)]
    with pytest.raises(ValueError, match="positive numeric interval"):
        parse_vis_state(_vis8([
            {"id": "1", "type": "composite", "schema": "bucket",
             "params": {"sources": [
                 {"vb": {"histogram": {"field": "v"}}}]}},
        ])["visState"])


# ------------------------------------------------------- the kind table


@pytest.mark.parametrize("kind", sorted(_KINDS))
def test_role_check_rejects_the_wrong_schema(kind):
    """Every kind in the table takes its schema from its role: bucket
    kinds (sole ones included) reject a metric schema — also the
    default when ``schema`` is absent — and every other kind rejects a
    bucket schema, before any parameter is read."""
    role = _KINDS[kind][0]
    if role in ("bucket", "sole"):
        schema, msg = "metric", f"kibana: {kind} must be a bucket agg"
    else:
        schema, msg = "bucket", f"kibana: {kind} cannot be a bucket agg"
    with pytest.raises(ValueError, match=msg):
        parse_vis_state(_vis8([
            {"id": "1", "type": kind, "schema": schema, "params": {}},
        ])["visState"])


# valid params for every sole kind in the table (a new sole kind
# without an entry fails the tests below with a KeyError)
_SOLE_PARAMS = {
    "composite": {"sources": [{"e": {"terms": {"field": "e"}}}]},
    "significant_terms": {"field": "c", "foreground": "s: FAILED"},
    "significant_text": {"field": "msg", "foreground": "s: FAILED"},
    "categorize_text": {"field": "msg"},
    "frequent_item_sets": {"fields": ["a", "b"]},
}
_SOLE_KINDS = sorted(k for k, (role, _) in _KINDS.items() if role == "sole")


@pytest.mark.parametrize("kind", _SOLE_KINDS)
@pytest.mark.parametrize("outer", [True, False], ids=["first", "second"])
def test_sole_bucket_kinds_reject_a_second_bucket(kind, outer):
    """A sole bucket kind nested with a terms bucket, on either side,
    fails at parse time."""
    sole = {"id": "1", "type": kind, "schema": "bucket",
            "params": _SOLE_PARAMS[kind]}
    terms = {"id": "2", "type": "terms", "schema": "bucket",
             "params": {"field": "k", "size": 3, "orderBy": "_term"}}
    with pytest.raises(ValueError, match=f"{kind} must be the only bucket agg"):
        compile_visualization(_vis8([sole, terms] if outer else [terms, sole]))


@pytest.mark.parametrize("kind", _SOLE_KINDS)
def test_sole_bucket_kinds_reject_pipeline_aggs(kind):
    with pytest.raises(ValueError, match=f"{kind} does not compose with pipeline"):
        compile_visualization(_vis8([
            {"id": "1", "type": kind, "schema": "bucket",
             "params": _SOLE_PARAMS[kind]},
            {"id": "2", "type": "bucket_sort", "schema": "metric",
             "params": {"size": 2}},
        ]))


# ------------------------------------------------------ pipeline kinds

_TERMS_G = {"id": "g", "type": "terms", "schema": "bucket",
            "params": {"field": "g", "size": 5, "orderBy": "_term",
                       "customLabel": "g"}}
_HIST_H = {"id": "h", "type": "date_histogram", "schema": "bucket",
           "params": {"field": "ts", "interval": "1h", "customLabel": "h"}}
_SUM_S = {"id": "s", "type": "sum", "schema": "metric",
          "params": {"field": "v", "customLabel": "s"}}
_CARD_U = {"id": "u", "type": "cardinality", "schema": "metric",
           "params": {"field": "u", "customLabel": "u"}}


def _pipe(agg_id, kind, **params):
    return {"id": agg_id, "type": kind, "schema": "metric", "params": params}


_CORRELATION = {"function": {"count_correlation": {"indicator": {
    "expectations": [1.0, 2.0], "doc_count": 10}}}}


@pytest.mark.parametrize("aggs, match", [
    pytest.param(
        [_HIST_H, _TERMS_G, _SUM_S,
         _pipe("d", "derivative", metricAgg="s", customLabel="d")],
        "derivative needs an innermost histogram", id="derivative-above-terms"),
    pytest.param(
        [_TERMS_G, _HIST_H, _SUM_S,
         _pipe("d", "derivative", metricAgg="s", customLabel="s")],
        "column 's' is already", id="label-reuses-metric"),
    pytest.param(
        [_TERMS_G, _HIST_H, _SUM_S,
         _pipe("d1", "derivative", metricAgg="s", customLabel="d"),
         _pipe("d2", "cumulative_sum", metricAgg="s", customLabel="d")],
        "column 'd' is already", id="two-pipelines-one-label"),
    pytest.param(
        [_TERMS_G, _HIST_H, _SUM_S,
         _pipe("x", "bucket_script", buckets_path={"t": "s"},
               script="params.t * 2", customLabel="g")],
        "column 'g' is already", id="label-reuses-bucket-key"),
    pytest.param(
        [_SUM_S, _pipe("a", "avg_bucket", metricAgg="s")],
        "avg_bucket aggregates across sibling buckets and needs a bucket agg",
        id="sibling-without-bucket"),
    pytest.param(
        [_SUM_S, _pipe("n", "normalize", metricAgg="s",
                       method="percent_of_sum")],
        "normalize aggregates across sibling buckets", id="normalize-without-bucket"),
    pytest.param(
        [_pipe("c", "bucket_correlation", buckets_path="_count",
               **_CORRELATION)],
        "bucket_correlation aggregates across sibling buckets",
        id="correlation-without-bucket"),
    pytest.param(
        [_pipe("k", "bucket_count_ks_test", buckets_path="_count",
               sampling_method="uniform")],
        "bucket_count_ks_test aggregates across sibling buckets",
        id="ks-test-without-bucket"),
    pytest.param(
        [_SUM_S, _pipe("o", "bucket_sort", sortField="s", size=1)],
        "bucket_sort needs a bucket agg", id="bucket-sort-without-bucket"),
    pytest.param(
        [_HIST_H, _TERMS_G, _CARD_U,
         _pipe("cc", "cumulative_cardinality", metricAgg="u")],
        "cumulative_cardinality needs an innermost histogram",
        id="cumulative-cardinality-above-terms"),
    pytest.param(
        [_TERMS_G, {"id": "p", "type": "percentiles", "schema": "metric",
                    "params": {"field": "v", "percents": [50]}},
         _pipe("mp", "moving_percentiles", metricAgg="p", window=2)],
        "moving_percentiles needs an innermost histogram",
        id="moving-percentiles-without-histogram"),
    pytest.param(
        [_HIST_H, _CARD_U,
         _pipe("sel", "bucket_selector", buckets_path={"c": "u"},
               script="params.c > 0"),
         _pipe("cc", "cumulative_cardinality", metricAgg="u")],
        "cumulative_cardinality after a bucket_selector",
        id="cumulative-cardinality-after-selector"),
])
def test_pipeline_shape_errors_raise_at_parse(aggs, match, spark):
    """Pipeline structural rules and output-name clashes fail in
    parse_vis_state, before any frame exists: a window pipeline needs
    the innermost bucket to be a histogram (ES: the derivative's parent
    must be one), a level pipeline or bucket_sort needs a bucket agg,
    cumulative_cardinality cannot follow a bucket_selector, and no
    pipeline output may take a bucket key's, a metric's or an earlier
    pipeline's column name (withColumn would overwrite it).  (``spark``:
    parsing compiles bucket scripts to Columns.)"""
    with pytest.raises(ValueError, match=match):
        parse_vis_state(_vis8(aggs)["visState"])


def test_consecutive_same_kind_pipelines_share_one_join(docs, monkeypatch):
    """Consecutive stages of one kind run as one pass: two sibling aggs
    plan ONE level join-back, while a bucket_selector between them
    splits the run into two (the second sees only surviving buckets)."""
    from kafka_metrics_exporter_spark.kibana import compiler
    from kafka_metrics_exporter_spark.plans.fingerprint import plan_fingerprint

    calls = []
    level_join = compiler._level_join

    def counting_join(out, outer, aggs):
        calls.append(len(aggs))
        return level_join(out, outer, aggs)

    monkeypatch.setattr(compiler, "_level_join", counting_join)
    terms = {"id": "1", "type": "terms", "schema": "bucket",
             "params": {"field": "component.keyword", "size": 10,
                        "order": "asc", "orderBy": "_term",
                        "customLabel": "c"}}
    avg = _pipe("3", "avg_bucket", metricAgg="2", customLabel="avg_sv")
    mx = _pipe("4", "max_bucket", metricAgg="_count", customLabel="max_n")
    sel = _pipe("5", "bucket_selector", buckets_path={"t": "2"},
                script="params.t > 15")
    joins = {}
    for name, pipes in (("one run", [avg, mx]), ("split", [avg, sel, mx])):
        calls.clear()
        plan = compile_visualization(
            _vis8([terms, _SUM_S | {"id": "2"}] + pipes)
        )
        out = plan.evaluate(docs)
        joins[name] = list(calls)
        # no outer bucket: every join-back is a broadcast cross join of
        # a one-row global aggregate
        fp = plan_fingerprint(out)
        assert fp["bnl_join"] == fp["bnl_join_onerow"] > 0
        got = {r.c: (r.avg_sv, r.max_n) for r in out.collect()}
        # sums: broker 80, connect 20, zk 12; counts 3, 1, 2
        assert all(a == pytest.approx(112 / 3) for a, _ in got.values())
        assert {n for _, n in got.values()} == {3.0}
    # one join of both aggregates vs one join per aggregate
    assert joins == {"one run": [2], "split": [1, 1]}
