"""PromQL front-end tests.

1. Corpus conformance: every `"expr"` string in the reference's three
   Grafana dashboards (the engine's query corpus, SURVEY §2 intro)
   must parse, compile, and EXECUTE against a metrics DataFrame that
   carries the corpus's label columns.
2. Semantic pins: hand-computed fixtures for selector matchers
   (missing-label-as-empty, anchored regex), rate (reset clamp, no
   first-sample emission), aggregation by/without, topk per instant,
   vector arithmetic join, comparison filters.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

import pytest
from conftest import GRAFANA_DASHBOARDS, reference_cases
from pyspark.sql import functions as F

from kafka_metrics_exporter_spark.promql import compile_promql, parse


def _corpus_exprs() -> list[str]:
    exprs: list[str] = []

    def walk(node):
        if isinstance(node, dict):
            if "expr" in node and isinstance(node["expr"], str) and node["expr"].strip():
                exprs.append(node["expr"])
            for v in node.values():
                walk(v)
        elif isinstance(node, list):
            for v in node:
                walk(v)

    for path in sorted(glob.glob(os.path.join(GRAFANA_DASHBOARDS, "*.json"))):
        with open(path, encoding="utf-8") as fh:
            walk(json.load(fh))
    return exprs


CORPUS = _corpus_exprs()
_EXPR_CASES = reference_cases(sorted(set(CORPUS)))


@pytest.mark.reference
def test_corpus_is_the_documented_size():
    assert len(CORPUS) == 49


@pytest.mark.reference
@pytest.mark.parametrize("expr", _EXPR_CASES)
def test_corpus_expr_parses(expr):
    parse(expr)  # must not raise


@pytest.fixture(scope="module")
def corpus_metrics(spark):
    """A tiny metrics table carrying every label the corpus mentions
    and a couple of the metric names, two samples per series (so rate
    emits rows)."""
    labels = [
        "job", "instance", "area", "clientId", "request", "topic",
        "connector", "task", "gc", "quantile",
    ]
    names = sorted(
        {
            "kafka_brokers_server_brokertopicmetrics_bytesin_total",
            "kafka_brokers_server_brokertopicmetrics_bytesout_total",
            "kafka_brokers_server_brokertopicmetrics_messagesin_total",
            "kafka_brokers_controller_kafkacontroller_activecontrollercount",
            "kafka_connect_worker_connector_count",
            "kafka_connect_connect_node_outgoing_byte_total",
            "kafka_connect_connect_node_incoming_byte_total",
            "jvm_memory_bytes_used",
            "zookeeper_NodeCount",
            "zookeeper_PacketsReceived",
            "zookeeper_PacketsSent",
        }
    )
    rows = []
    for ni, name in enumerate(names):
        for s in range(2):  # two series per metric
            lab = {
                "job": f"job{s}", "instance": f"host{s}:1234", "area": "heap",
                "clientId": f"c{s}", "request": "Produce" if s == 0 else "Fetch",
                "topic": f"t{s}", "connector": f"conn{s}", "task": str(s),
                "gc": "G1", "quantile": "0.99",
            }
            for i in range(3):  # three samples per series
                rows.append(
                    (
                        name,
                        dt.datetime(2024, 1, 1, 0, i),
                        float(100 * ni + 10 * s + i * i),
                        *[lab[c] for c in labels],
                    )
                )
    schema = "name string, ts timestamp, value double, " + ", ".join(
        f"{c} string" for c in labels
    )
    return spark.createDataFrame(rows, schema)


@pytest.mark.reference
@pytest.mark.parametrize("expr", _EXPR_CASES)
def test_corpus_expr_compiles_and_runs(expr, corpus_metrics):
    out = compile_promql(expr).evaluate(corpus_metrics)
    assert {"ts", "value"} <= set(out.columns)
    assert out.count() >= 0  # plan executes


def test_variable_interpolation_forms():
    """Grafana template-variable pre-pass (VERDICT r6 item 2): all
    three occurrence syntaxes, single/multi/All value rendering,
    builtin $__all, unknown-variable passthrough."""
    from kafka_metrics_exporter_spark.promql import interpolate_variables

    v = {"ServerName": "zk1:7000"}
    assert (
        interpolate_variables('m{instance=~"$ServerName"}', v)
        == 'm{instance=~"zk1:7000"}'
    )
    assert (
        interpolate_variables('m{instance=~"${ServerName}"}', v)
        == 'm{instance=~"zk1:7000"}'
    )
    assert (
        interpolate_variables('m{instance=~"[[ServerName]]"}', v)
        == 'm{instance=~"zk1:7000"}'
    )
    # multi-value: regex alternation with escaping (the '.' in host
    # names must not match any character)
    multi = interpolate_variables(
        "$v", {"v": ["zk1.example:7000", "zk2.example:7000"]}
    )
    assert multi == r"(zk1\.example:7000|zk2\.example:7000)"
    # All option: None, the literal $__all value, an empty multi, and
    # the builtin $__all token
    assert interpolate_variables("$v", {"v": None}) == ".*"
    assert interpolate_variables("$v", {"v": "$__all"}) == ".*"
    assert interpolate_variables("$v", {"v": []}) == ".*"
    assert interpolate_variables("$__all", {}) == ".*"
    # unknown variables pass through (pre-r7 corpus behavior)
    assert interpolate_variables("$Unknown + $v", {"v": "1"}) == "$Unknown + 1"


@pytest.mark.reference
def test_corpus_variable_panels_execute_with_binding(corpus_metrics):
    """VERDICT r6 item 2: the ZooKeeper dashboard's six $ServerName
    panels, replayed as a USER would — with the template variable bound
    — select exactly the bound instance(s); unbound, the literal
    '$ServerName' regex matches nothing (the documented pre-r7
    behavior, still valid PromQL)."""
    var_exprs = sorted({e for e in CORPUS if "$ServerName" in e})
    assert len(var_exprs) == 6  # the corpus's variable-bearing panels
    h0, h1 = "host0:1234", "host1:1234"
    packets = next(e for e in var_exprs if "PacketsReceived" in e)
    for expr in var_exprs:
        # single-value binding: only host0's series qualify
        one = compile_promql(expr, variables={"ServerName": h0}).evaluate(
            corpus_metrics
        )
        got = {r["instance"] for r in one.select("instance").distinct().collect()}
        assert got <= {h0}
        # multi-value binding: both hosts
        both = compile_promql(
            expr, variables={"ServerName": [h0, h1]}
        ).evaluate(corpus_metrics)
        gotb = {r["instance"] for r in both.select("instance").distinct().collect()}
        # metrics absent from the fixture yield empty frames; present
        # ones must cover both instances
        assert gotb in (set(), {h0, h1})
        # unbound: literal $ServerName matches no instance
        assert compile_promql(expr).evaluate(corpus_metrics).count() == 0
    # value pin on the PacketsReceived + PacketsSent panel: the vector
    # addition joins the two metrics on (instance-led) shared labels
    out = compile_promql(packets, variables={"ServerName": h0}).evaluate(
        corpus_metrics
    )
    rows = out.collect()
    assert rows, "bound panel must produce samples"
    names = sorted(
        {
            "kafka_brokers_server_brokertopicmetrics_bytesin_total",
            "kafka_brokers_server_brokertopicmetrics_bytesout_total",
            "kafka_brokers_server_brokertopicmetrics_messagesin_total",
            "kafka_brokers_controller_kafkacontroller_activecontrollercount",
            "kafka_connect_worker_connector_count",
            "kafka_connect_connect_node_outgoing_byte_total",
            "kafka_connect_connect_node_incoming_byte_total",
            "jvm_memory_bytes_used",
            "zookeeper_NodeCount",
            "zookeeper_PacketsReceived",
            "zookeeper_PacketsSent",
        }
    )
    ni_recv = names.index("zookeeper_PacketsReceived")
    ni_sent = names.index("zookeeper_PacketsSent")
    expected = {
        i: float(100 * ni_recv + i * i) + float(100 * ni_sent + i * i)
        for i in range(3)
    }
    got_vals = {r["ts"].minute: r["value"] for r in rows}
    assert got_vals == expected


# ---------------------------------------------------------------------------
# Semantic pins
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def tiny(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # name, ts, value, topic, instance
        ("m", t0, 10.0, "a", "h1"),
        ("m", t0 + dt.timedelta(minutes=1), 40.0, "a", "h1"),
        ("m", t0 + dt.timedelta(minutes=2), 5.0, "a", "h1"),  # counter reset
        ("m", t0, 100.0, "b", "h1"),
        ("m", t0 + dt.timedelta(minutes=1), 160.0, "b", "h1"),
        ("m", t0, 7.0, "", "h2"),  # "missing" topic label
        ("n", t0, 1.0, "a", "h1"),
        ("n", t0 + dt.timedelta(minutes=1), 2.0, "a", "h1"),
    ]
    return spark.createDataFrame(
        rows, "name string, ts timestamp, value double, topic string, instance string"
    )


def _vals(df, *cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_selector_and_matchers(tiny):
    out = compile_promql('m{topic != ""}').evaluate(tiny)
    assert out.count() == 5  # h2's empty-topic series excluded
    out2 = compile_promql('m{topic =~ "a|x"}').evaluate(tiny)
    assert out2.count() == 3
    # anchored: "a|x" must not match a hypothetical "ax" — and a full
    # regex on instance:
    out3 = compile_promql('m{instance =~ "h.*"}').evaluate(tiny)
    assert out3.count() == 6


@pytest.mark.parametrize("col", ["ts", "value", "hist"])
def test_matcher_on_sample_column_fails_loudly(tiny, col):
    """A matcher on a sample column names no label: a ValueError naming
    it, not an ambiguous-column AnalysisException at execution."""
    with pytest.raises(ValueError, match=f"matcher on '{col}'"):
        compile_promql(f'm{{{col}="1"}}').evaluate(tiny)
    with pytest.raises(ValueError, match=f"matcher on '{col}'"):
        compile_promql(f'rate(m{{{col}=~"1.*"}}[1m])').evaluate(tiny)
    with pytest.raises(ValueError, match=f"matcher on '{col}'"):
        compile_promql(f'info(m, {{{col}="1"}})').evaluate(tiny)


def test_rate_reset_clamp_and_first_sample(tiny):
    out = compile_promql("rate(m{topic = \"a\"}[1m])").evaluate(tiny)
    got = {r["ts"].minute: r["value"] for r in out.collect()}
    # first sample emits nothing; (40-10)/60 = 0.5; reset → 5/60
    assert set(got) == {1, 2}
    assert got[1] == pytest.approx(0.5)
    assert got[2] == pytest.approx(5.0 / 60.0)


def test_agg_by_and_without(tiny):
    out = compile_promql("sum by (instance) (m)").evaluate(tiny)
    got = _vals(out, "instance", "ts", "value")
    t0 = dt.datetime(2024, 1, 1)
    assert ("h1", t0, 110.0) in got  # 10 + 100
    assert ("h2", t0, 7.0) in got
    # without: drop topic → group by instance (the only other label)
    out2 = compile_promql("sum without (topic) (m)").evaluate(tiny)
    assert _vals(out2, "instance", "ts", "value") == got


def test_topk_per_instant(tiny):
    out = compile_promql("topk(1, m)").evaluate(tiny)
    t0 = dt.datetime(2024, 1, 1)
    got = _vals(out, "topic", "ts", "value")
    assert ("b", t0, 100.0) in got
    assert ("b", t0 + dt.timedelta(minutes=1), 160.0) in got
    # at minute 2 only topic=a has a sample
    assert ("a", t0 + dt.timedelta(minutes=2), 5.0) in got
    assert len(got) == 3


def test_vector_arithmetic_joins_on_labels(tiny):
    out = compile_promql('m{topic="a"} + n{topic="a"}').evaluate(tiny)
    got = {r["ts"].minute: r["value"] for r in out.collect()}
    assert got == {0: 11.0, 1: 42.0}  # minute 2 has no n sample


def test_scalar_math_and_comparison(tiny):
    out = compile_promql('sum by (topic) (m{instance="h1"}) / 10 > 4').evaluate(tiny)
    got = _vals(out, "topic", "value")
    # sums per (topic, ts): a→10,40,5 b→100,160 ; /10 then >4 keeps 10,16
    assert got == {("b", 10.0), ("b", 16.0)}


def test_vector_vector_comparison_filters_left(tiny):
    """`m > n` — one-to-one on the identical label set: comparisons
    FILTER (engine.go's comparison branch keeps the LEFT element's
    labels and value; no label rewrite the way arithmetic drops the
    metric name)."""
    out = compile_promql("m > n").evaluate(tiny)
    t0 = dt.datetime(2024, 1, 1)
    # n exists only for (topic=a, instance=h1) at minutes 0,1:
    # 10>1 and 40>2 both hold; everything unmatched drops.
    assert _vals(out, "topic", "ts", "value") == {
        ("a", t0, 10.0),
        ("a", t0 + dt.timedelta(minutes=1), 40.0),
    }
    # flipped: n > m never holds — empty, not an error
    assert compile_promql("n > m").evaluate(tiny).count() == 0


def test_vector_vector_comparison_bool_mode(tiny):
    out = compile_promql("m < bool n").evaluate(tiny)
    got = {r["ts"].minute: r["value"] for r in out.collect()}
    assert got == {0: 0.0, 1: 0.0}  # matched pairs emit 0.0, not drop
    out2 = compile_promql("m >= bool n").evaluate(tiny)
    got2 = {r["ts"].minute: r["value"] for r in out2.collect()}
    assert got2 == {0: 1.0, 1: 1.0}


def test_bool_on_drops_to_match_keys(tiny):
    """ADVICE r7: one-to-one bool comparison with on() follows
    ARITHMETIC label semantics — the result vector carries the match
    keys only (`a == bool on(region) b` must not keep user_id etc.),
    while filter mode keeps the left element's full label set."""
    out = compile_promql('m{topic="a"} >= bool on(instance) n').evaluate(tiny)
    assert set(out.columns) == {"instance", "ts", "value"}
    got = {(r["instance"], r["ts"].minute, r["value"]) for r in out.collect()}
    assert got == {("h1", 0, 1.0), ("h1", 1, 1.0)}
    # filter mode: left labels intact
    outf = compile_promql('m{topic="a"} >= on(instance) n').evaluate(tiny)
    assert "topic" in outf.columns
    # and the reduced label set participates in downstream matching
    comp = compile_promql(
        '(m{topic="a"} >= bool on(instance) n) * on(instance) group_left n'
    ).evaluate(tiny)
    got2 = {(r["ts"].minute, r["value"]) for r in comp.collect()}
    assert got2 == {(0, 1.0), (1, 2.0)}


def test_vector_comparison_group_left(tiny):
    """Many-to-one comparison: `m > on(instance) group_left n` — the
    many (left) side's elements are kept where the comparison holds,
    full label set intact."""
    out = compile_promql("m > on(instance) group_left n").evaluate(tiny)
    t0 = dt.datetime(2024, 1, 1)
    # n is unique per (instance=h1, ts) at minutes 0,1 (value 1, 2);
    # every h1 m-sample beats it; h2 and minute 2 have no match.
    assert _vals(out, "topic", "ts", "value") == {
        ("a", t0, 10.0),
        ("b", t0, 100.0),
        ("a", t0 + dt.timedelta(minutes=1), 40.0),
        ("b", t0 + dt.timedelta(minutes=1), 160.0),
    }
    # bool mode: same matched set, values 1.0/0.0 (here n < m fails
    # nowhere, so compare the losing direction)
    out2 = compile_promql("m < bool on(instance) group_left n").evaluate(tiny)
    vals = {r["value"] for r in out2.collect()}
    assert vals == {0.0} and out2.count() == 4


def test_scalar_vector_comparison_order(tiny):
    # scalar CMP vector: the comparison reads `scalar op element`, the
    # kept element is the vector's
    out = compile_promql("50 < m").evaluate(tiny)
    assert _vals(out, "topic", "value") == {("b", 100.0), ("b", 160.0)}
    # vector CMP scalar is unchanged
    out2 = compile_promql("m > 50").evaluate(tiny)
    assert _vals(out2, "topic", "value") == {("b", 100.0), ("b", 160.0)}


def test_scalar_scalar_comparison_requires_bool(tiny):
    with pytest.raises(SyntaxError):
        parse("2 > 1")
    out = compile_promql("m * (2 > bool 1)").evaluate(tiny)
    assert out.count() == 6  # multiplying by the 1.0 scalar keeps all of m


def test_comparison_ieee_nan_semantics(tiny):
    """Prometheus inherits Go's IEEE-754 comparisons: NaN compares
    false for everything except !=.  `m*0/0` manufactures NaN."""
    eq = compile_promql("m * 0 / 0 == bool 1").evaluate(tiny)
    assert {r["value"] for r in eq.collect()} == {0.0}
    ne = compile_promql("m * 0 / 0 != bool 1").evaluate(tiny)
    assert {r["value"] for r in ne.collect()} == {1.0}
    # filter mode: a NaN left side never passes >=, even vs -Inf
    kept = compile_promql("m * 0 / 0 >= -Inf").evaluate(tiny)
    assert kept.count() == 0
    # != filter keeps NaN rows (IEEE: NaN != anything is true)
    kept2 = compile_promql("m * 0 / 0 != 1").evaluate(tiny)
    assert kept2.count() == 6


def test_division_by_zero_is_ieee(tiny):
    """Prometheus: x/0 = ±Inf (dividend sign), 0/0 = NaN — Spark 4's
    ANSI mode would THROW here without the _bin_div guard."""
    import math as _math

    out = compile_promql('(m{topic="b"} - 130) / 0').evaluate(tiny)
    vals = {r["value"] for r in out.collect()}
    assert vals == {float("inf"), float("-inf")}  # 100-130<0, 160-130>0
    z = compile_promql("m * 0 / 0").evaluate(tiny)
    assert all(_math.isnan(r["value"]) for r in z.collect())
    # scalar fold path: same semantics without touching Spark
    from kafka_metrics_exporter_spark.promql.compiler import (
        _bin_div, _bin_mod, _bin_pow,
    )

    assert _bin_div(1.0, 0.0) == float("inf")
    assert _bin_div(-1.0, 0.0) == float("-inf")
    assert _bin_div(3.0, -0.0) == float("-inf")  # divisor sign honored
    assert _math.isnan(_bin_div(0.0, 0.0))
    assert _math.isnan(_bin_mod(5.0, 0.0))
    assert _math.isnan(_bin_mod(float("inf"), 3.0))
    assert _math.isnan(_bin_pow(-1.0, 0.5))  # Go NaN, not ValueError
    # vector / vector with a zero element on the right
    vv = compile_promql('m{topic="a"} / (m{topic="a"} * 0)').evaluate(tiny)
    assert {r["value"] for r in vv.collect()} == {float("inf")}
    # % by zero is NaN (Go math.Mod), not an ANSI error
    md = compile_promql("m % 0").evaluate(tiny)
    assert all(_math.isnan(r["value"]) for r in md.collect())


def test_inf_nan_literals_and_unary_precedence(tiny):
    import math as _math

    n = parse("NaN")
    assert isinstance(n, pql_scalar_type()) and _math.isnan(n.value)
    i = parse("-Inf")
    assert i.value == float("-inf")
    # unary minus binds looser than ^: -2^2 == -(2^2) == -4 (the fold
    # happens at eval; the parse shape is -1 * (2^2))
    out0 = compile_promql('m{topic="b"} * 0 + -2^2').evaluate(tiny)
    assert {r["value"] for r in out0.collect()} == {-4.0}
    # scientific / leading-dot numbers
    assert parse(".5e1").value == 5.0
    # -m negates each sample, keeping labels
    out = compile_promql('-m{topic="b"}').evaluate(tiny)
    assert _vals(out, "topic", "value") == {("b", -100.0), ("b", -160.0)}


def pql_scalar_type():
    from kafka_metrics_exporter_spark.promql.parser import Scalar

    return Scalar


def test_count_agg(tiny):
    # count() with no grouping clause drops ALL labels (PromQL), so the
    # outer sum-by-instance sees a label-less vector and groups by the
    # empty string — the corpus's activecontrollercount panel shape.
    out = compile_promql("sum by (instance) (count(m))").evaluate(tiny)
    t0 = dt.datetime(2024, 1, 1)
    got = _vals(out, "instance", "ts", "value")
    assert got == {
        ("", t0, 3.0),  # 3 series alive at t0
        ("", t0 + dt.timedelta(minutes=1), 2.0),
        ("", t0 + dt.timedelta(minutes=2), 1.0),
    }
    # count by (instance) keeps the label and counts series per host
    out2 = compile_promql("count by (instance) (m)").evaluate(tiny)
    got2 = _vals(out2, "instance", "ts", "value")
    assert ("h1", t0, 2.0) in got2 and ("h2", t0, 1.0) in got2


def test_parse_errors_are_syntax_errors():
    for bad in ["sum by (", "rate(m)", "topk(x, m)", "m{topic ~ \"a\"}", ""]:
        with pytest.raises(SyntaxError):
            parse(bad)


def test_selector_filters_push_into_parquet_scan(spark, tmp_path):
    """A compiled selector's name/matcher predicates must reach the
    parquet scan as PushedFilters — at 100 TB the matcher is the
    difference between scanning one metric and scanning the lake."""
    import contextlib
    import io

    path = str(tmp_path / "metrics_pq")
    (
        spark.range(100)
        .select(
            F.when(F.col("id") % 2 == 0, "m").otherwise("n").alias("name"),
            F.to_timestamp(F.lit("2024-01-01")).alias("ts"),
            F.col("id").cast("double").alias("value"),
            F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias("topic"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )
    metrics = spark.read.parquet(path)
    out = compile_promql('m{topic = "t1"}').evaluate(metrics)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    assert "PushedFilters" in p
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln][0]
    assert "name" in pushed and "EqualTo" in pushed


def test_bottomk(tiny):
    out = compile_promql("bottomk(1, m)").evaluate(tiny)
    t0 = dt.datetime(2024, 1, 1)
    got = _vals(out, "topic", "ts", "value")
    assert ("", t0, 7.0) in got  # smallest at t0 is the h2 series
    assert ("a", t0 + dt.timedelta(minutes=1), 40.0) in got


def test_irate_and_increase(tiny):
    # irate == rate in this engine's pinned successive-delta semantics
    r = compile_promql('rate(m{topic="a"}[1m])').evaluate(tiny)
    ir = compile_promql('irate(m{topic="a"}[1m])').evaluate(tiny)
    assert {(x["ts"], x["value"]) for x in r.collect()} == {
        (x["ts"], x["value"]) for x in ir.collect()
    }
    inc = compile_promql('increase(m{topic="a"}[1m])').evaluate(tiny)
    got = {x["ts"].minute: x["value"] for x in inc.collect()}
    assert got == {1: 30.0, 2: 5.0}  # raw clamped deltas, not per-second


def test_over_time_range_window(tiny):
    # avg over the trailing 2 minutes, per series
    out = compile_promql('avg_over_time(m{topic="a"}[2m])').evaluate(tiny)
    got = {r["ts"].minute: r["value"] for r in out.collect()}
    assert got[0] == pytest.approx(10.0)          # only itself
    assert got[1] == pytest.approx(25.0)          # (10+40)/2
    assert got[2] == pytest.approx(22.5)          # (40+5)/2 — t0 aged out
    mx = compile_promql('max_over_time(m{topic="a"}[3m])').evaluate(tiny)
    got_mx = {r["ts"].minute: r["value"] for r in mx.collect()}
    assert got_mx == {0: 10.0, 1: 40.0, 2: 40.0}
    cnt = compile_promql('count_over_time(m{topic="a"}[3m])').evaluate(tiny)
    assert {r["ts"].minute: r["value"] for r in cnt.collect()} == {0: 1.0, 1: 2.0, 2: 3.0}


def test_offset_day_over_day_delta(tiny):
    # m - m offset 1m : each instant minus the same series one minute
    # earlier — the dashboard "compare to yesterday" pattern at minute
    # scale.  Only instants where both sides exist emit.
    out = compile_promql('m{topic="a"} - m{topic="a"} offset 1m').evaluate(tiny)
    got = {r["ts"].minute: r["value"] for r in out.collect()}
    assert got == {1: 30.0, 2: -35.0}  # 40-10, 5-40


def test_offset_inside_rate(tiny):
    shifted = compile_promql('rate(m{topic="a"} offset 1m[1m])').evaluate(tiny)
    plain = compile_promql('rate(m{topic="a"}[1m])').evaluate(tiny)
    sh = {r["ts"].minute: r["value"] for r in shifted.collect()}
    pl = {r["ts"].minute: r["value"] for r in plain.collect()}
    assert sh == {m + 1: v for m, v in pl.items()}  # whole series shifts


def test_offset_after_range_is_canonical_promql(tiny):
    canonical = compile_promql('rate(m{topic="a"}[1m] offset 1m)').evaluate(tiny)
    lenient = compile_promql('rate(m{topic="a"} offset 1m[1m])').evaluate(tiny)
    assert {(r["ts"], r["value"]) for r in canonical.collect()} == {
        (r["ts"], r["value"]) for r in lenient.collect()
    }


# ---------------------------------------------------------------------------
# Parser round-trip property: parse(to_promql(ast)) == ast for every
# AST the grammar can produce.
# ---------------------------------------------------------------------------
try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kafka_metrics_exporter_spark.promql import parser as pql

    _ident = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,8}", fullmatch=True).filter(
        lambda s: s
        not in {
            "by", "without", "offset", "rate", "irate", "increase",
            "delta", "idelta", "deriv", "predict_linear", "resets", "changes",
            "topk", "bottomk", "sum", "avg", "min", "max", "count",
            "sort", "sort_desc", "clamp", "clamp_min", "clamp_max",
            "absent", "time", "histogram_quantile", "label_replace",
            "label_join",
        }
        and not s.endswith("_over_time")
    )
    _str_val = st.text(
        st.characters(
            codec="ascii", exclude_characters='"\\', exclude_categories=("Cc",)
        ),
        max_size=8,
    )
    _dur = st.sampled_from([1.0, 30.0, 60.0, 300.0, 3600.0])
    # Prometheus 3.x UTF-8 names (round 16): metric names may carry any
    # character (they render quoted); label names anything except
    # '.'/'`' (the engine's label→column contract) — '"' and '\\' stay
    # out of the alphabet like _str_val's (escaping is pinned by the
    # explicit tests, the property pins the quoting round-trip)
    _u_chars = list("abz äöπ漢:-/0!")
    _u_name = st.text(st.sampled_from(_u_chars + ["."]), min_size=1,
                      max_size=8)
    _u_label = st.text(st.sampled_from(_u_chars), min_size=1, max_size=8)
    _matcher = st.builds(
        pql.Matcher,
        label=st.one_of(_ident, _u_label),
        op=st.sampled_from(["=", "!=", "=~", "!~"]),
        value=_str_val,
    )
    _selector = st.builds(
        pql.Selector,
        name=st.one_of(_ident, _u_name),
        matchers=st.lists(_matcher, max_size=3).map(tuple),
        offset_seconds=st.sampled_from([0.0, 60.0, 3600.0, -60.0, -3600.0]),
    )
    _at_ts = st.sampled_from([0.0, 100.0, 1712000000.0, 1712000000.5])
    _leaf = st.one_of(
        _selector,
        st.builds(pql.At, expr=_selector, at_seconds=_at_ts),
        st.builds(
            pql.At,
            expr=st.builds(
                pql.Rate, selector=_selector, window_seconds=_dur,
                fn=st.sampled_from(["rate", "increase", "delta"]),
            ),
            at_seconds=_at_ts,
        ),
        st.builds(
            pql.Rate, selector=_selector, window_seconds=_dur,
            fn=st.sampled_from(
                ["rate", "irate", "increase", "delta", "idelta", "resets", "changes"]
            ),
        ),
        st.builds(
            pql.Deriv, selector=_selector, window_seconds=_dur,
            predict_seconds=st.sampled_from([None, 60.0, 600.0, 3600.0]),
        ),
        st.builds(
            pql.OverTime,
            op=st.sampled_from(
                ["sum", "avg", "min", "max", "count", "stddev", "stdvar", "last"]
            ),
            selector=_selector, window_seconds=_dur,
        ),
        st.builds(
            pql.OverTime,
            op=st.just("quantile"),
            selector=_selector, window_seconds=_dur,
            param=st.sampled_from([0.5, 0.9, 0.99]),
        ),
    )

    _match_labels = st.lists(_ident, max_size=3).map(tuple)
    _vmatch = st.one_of(
        st.builds(
            pql.VectorMatch, on=_match_labels, ignoring=st.none(),
            group=st.none(), include=st.just(()),
        ),
        st.builds(
            pql.VectorMatch, on=st.none(), ignoring=_match_labels,
            group=st.none(), include=st.just(()),
        ),
        st.builds(
            pql.VectorMatch, on=_match_labels, ignoring=st.none(),
            group=st.sampled_from(["left", "right"]),
            include=st.lists(_ident, max_size=2).map(tuple),
        ),
    )

    def _compound(children):
        grouping = st.lists(_ident, max_size=3).map(tuple)
        return st.one_of(
            st.builds(
                pql.Agg,
                op=st.sampled_from(["sum", "avg", "min", "max", "count", "stddev", "stdvar"]),
                expr=children,
                by=grouping, without=st.none(),
            ),
            st.builds(
                pql.Agg,
                op=st.sampled_from(["sum", "avg", "min", "max", "count", "stddev", "stdvar"]),
                expr=children,
                by=st.none(), without=grouping,
            ),
            st.builds(
                pql.Agg,
                op=st.just("quantile"),
                expr=children,
                by=grouping, without=st.none(),
                param=st.sampled_from([0.5, 0.9, 0.99]),
            ),
            st.builds(
                pql.TopK, k=st.integers(1, 99), expr=children,
                bottom=st.booleans(),
            ),
            st.builds(
                pql.Bin, op=st.sampled_from(["+", "-", "*", "/"]),
                left=children, right=children,
            ),
            st.builds(
                pql.Bin, op=st.sampled_from(["+", "-", "*", "/"]),
                left=children,
                right=st.integers(1, 10000).map(lambda n: pql.Scalar(float(n))),
            ),
            st.builds(
                pql.Cmp, expr=children,
                op=st.sampled_from([">", "<", ">=", "<=", "==", "!="]),
                rhs=st.integers(0, 1000).map(lambda n: pql.Scalar(float(n))),
                bool_mode=st.booleans(),
            ),
            st.builds(
                pql.Cmp, expr=children,
                op=st.sampled_from([">", "<", ">=", "<=", "==", "!="]),
                rhs=children,
                bool_mode=st.booleans(),
                match=st.one_of(st.none(), _vmatch),
            ),
            st.builds(
                pql.Bin, op=st.sampled_from(["%", "^", "atan2"]),
                left=children, right=children,
            ),
            st.builds(
                pql.Bin, op=st.sampled_from(["+", "-", "*", "/"]),
                left=children, right=children, match=_vmatch,
            ),
            st.builds(
                pql.SetOp, op=st.sampled_from(["and", "or", "unless"]),
                left=children, right=children,
                match=st.one_of(st.none(), _vmatch),
            ),
            st.builds(pql.Sort, expr=children, desc=st.booleans()),
            st.builds(
                pql.MathFn, fn=st.just("clamp"), expr=children,
                arg=st.sampled_from([0.0, -5.0, 2.5]),
                arg2=st.sampled_from([10.0, 100.0]),
            ),
        )

    _expr = st.recursive(_leaf, _compound, max_leaves=8)

    @settings(max_examples=300, deadline=None)
    @given(_expr)
    def test_parser_roundtrip_property(ast):
        text = pql.to_promql(ast)
        assert pql.parse(text) == ast, text

except ImportError:  # pragma: no cover
    pass


def test_quantile_stddev_stdvar_aggs(tiny):
    import statistics

    t0 = dt.datetime(2024, 1, 1)
    # values across series at t0: m → {10.0 (a,h1), 100.0 (b,h1), 7.0 ("",h2)}
    q = compile_promql("quantile(0.5, m)").evaluate(tiny)
    got_q = {r["ts"]: r["value"] for r in q.collect() if r["ts"] == t0}
    assert got_q[t0] == pytest.approx(10.0)  # median of {7,10,100}
    sd = compile_promql("stddev(m)").evaluate(tiny)
    got_sd = {r["ts"]: r["value"] for r in sd.collect()}
    assert got_sd[t0] == pytest.approx(statistics.pstdev([10.0, 100.0, 7.0]))
    sv = compile_promql("stdvar(m)").evaluate(tiny)
    got_sv = {r["ts"]: r["value"] for r in sv.collect()}
    assert got_sv[t0] == pytest.approx(statistics.pvariance([10.0, 100.0, 7.0]))
    # grouped quantile keeps the by-label
    qb = compile_promql('quantile by (instance) (0.5, m)').evaluate(tiny)
    got_qb = _vals(qb, "instance", "ts", "value")
    assert ("h1", t0, 55.0) in got_qb  # median of {10, 100} interpolates
    # stddev_over_time parses too (range form); quantile_over_time is
    # covered by test_quantile_and_last_over_time
    compile_promql("stddev_over_time(m[2m])").evaluate(tiny).count()


def test_label_replace_and_join(tiny):
    # derive a short host label from instance via capture substitution
    out = compile_promql(
        'sum by (shorthost) (label_replace(m, "shorthost", "$1", "instance", "(h[0-9]+)"))'
    ).evaluate(tiny)
    t0 = dt.datetime(2024, 1, 1)
    got = _vals(out, "shorthost", "ts", "value")
    assert ("h1", t0, 110.0) in got and ("h2", t0, 7.0) in got
    # non-matching regex leaves the series (and dst) unchanged
    out2 = compile_promql(
        'label_replace(m, "instance", "X", "instance", "nomatch.*")'
    ).evaluate(tiny)
    assert {r["instance"] for r in out2.collect()} == {"h1", "h2"}
    # label_join concatenates sources
    out3 = compile_promql(
        'label_join(m, "series_key", "@", "topic", "instance")'
    ).evaluate(tiny)
    keys = {r["series_key"] for r in out3.collect()}
    assert {"a@h1", "b@h1", "@h2"} == keys
    # round-trips through the unparser
    from kafka_metrics_exporter_spark.promql.parser import parse as _p, to_promql as _u
    for e in [
        'label_replace(m, "d", "$1", "instance", "(h.*)")',
        'label_join(m, "k", "-", "topic", "instance")',
    ]:
        assert _p(_u(_p(e))) == _p(e)


def test_histogram_quantile(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("h_bucket", t0, 10.0, "0.1", "h1"),
        ("h_bucket", t0, 40.0, "0.5", "h1"),
        ("h_bucket", t0, 60.0, "1", "h1"),
        ("h_bucket", t0, 100.0, "+Inf", "h1"),
        # a second, empty histogram: no output rows
        ("h_bucket", t0, 0.0, "0.1", "h2"),
        ("h_bucket", t0, 0.0, "+Inf", "h2"),
    ]
    df = spark.createDataFrame(
        rows, "name string, ts timestamp, value double, le string, instance string"
    )
    def q(phi):
        out = compile_promql(f"histogram_quantile({phi}, h_bucket)").evaluate(df)
        return {r["instance"]: r["value"] for r in out.collect()}

    # rank 50 falls in the (0.5, 1] bucket: 0.5 + 0.5*(50-40)/(60-40)
    assert q(0.5) == {"h1": pytest.approx(0.75)}
    # rank 5 falls in the first bucket: interpolate from 0
    assert q(0.05) == {"h1": pytest.approx(0.05)}
    # rank 90 lands in +Inf: highest finite le
    assert q(0.9) == {"h1": pytest.approx(1.0)}
    # unparse round-trip
    from kafka_metrics_exporter_spark.promql.parser import parse as _p, to_promql as _u
    e = "histogram_quantile(0.9, sum by (le) (rate(h_bucket[5m])))"
    assert _p(_u(_p(e))) == _p(e)


def test_math_and_clamp_functions(tiny):
    got = {
        r["ts"].minute: r["value"]
        for r in compile_promql('clamp_max(m{topic="a"}, 20)').evaluate(tiny).collect()
    }
    assert got == {0: 10.0, 1: 20.0, 2: 5.0}
    got2 = {
        r["ts"].minute: r["value"]
        for r in compile_promql('clamp_min(m{topic="a"}, 8)').evaluate(tiny).collect()
    }
    assert got2 == {0: 10.0, 1: 40.0, 2: 8.0}
    import math

    got3 = {
        r["ts"].minute: r["value"]
        for r in compile_promql('sqrt(abs(m{topic="a"} - 14))').evaluate(tiny).collect()
    }
    assert got3[0] == pytest.approx(2.0)  # sqrt(|10-14|)
    assert got3[1] == pytest.approx(math.sqrt(26.0))
    from kafka_metrics_exporter_spark.promql.parser import parse as _p, to_promql as _u
    for e in ["clamp_min(m, 0)", "ln(sum by (topic) (m))", "floor(m)"]:
        assert _p(_u(_p(e))) == _p(e)


def test_streaming_aggregation_subset(spark, tmp_path):
    """A compiled dashboard aggregation pointed at a live stream: the
    instant agg becomes a watermarked tumbling-window agg, per batch."""
    import datetime as _dt

    from kafka_metrics_exporter_spark.promql import compile_promql, evaluate_streaming

    src = tmp_path / "pql_stream"
    src.mkdir()
    rows = [
        ("m", "2024-01-01 00:00:10", 5.0, "a"),
        ("m", "2024-01-01 00:00:40", 7.0, "a"),
        ("m", "2024-01-01 00:00:20", 100.0, "b"),
        ("n", "2024-01-01 00:00:30", 999.0, "a"),  # other metric: filtered
        ("m", "2024-01-01 00:01:15", 2.0, "a"),  # second window
    ]
    spark.createDataFrame(
        rows, "name string, ts_s string, value double, topic string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b0"))

    stream = (
        spark.readStream.schema("name string, ts_s string, value double, topic string")
        .parquet(str(src / "b*"))
        .withColumn("ts", F.col("ts_s").cast("timestamp"))
        .select("name", "ts", "value", "topic")
    )
    plan = compile_promql("sum by (topic) (m)")
    out = evaluate_streaming(plan, stream, window_duration="1 minute")
    q = (
        out.writeStream.format("memory")
        .queryName("pql_stream_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "pql_ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["topic"], r["window_start"].minute): r["value"]
        for r in spark.sql("SELECT * FROM pql_stream_out").collect()
    }
    assert got == {("a", 0): 12.0, ("b", 0): 100.0, ("a", 1): 2.0}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="streaming_rate"):
        evaluate_streaming(compile_promql("rate(m[1m])"), stream)


def test_delta_and_idelta_unclamped(tiny):
    """Gauge difference: negatives pass through (no counter-reset
    clamp), unlike increase on the same data."""
    from kafka_metrics_exporter_spark.promql import compile_promql

    out = {
        (r["user_id"], str(r["ts"])): r["value"]
        for r in compile_promql('delta(click[2h])').evaluate(tiny).collect()
    }
    inc = {
        (r["user_id"], str(r["ts"])): r["value"]
        for r in compile_promql('increase(click[2h])').evaluate(tiny).collect()
    }
    assert out.keys() == inc.keys()
    assert any(v < 0 for v in out.values()) or all(
        out[k] == inc[k] for k in out
    )
    # idelta ≡ delta in sample-instant mode (documented, like irate≡rate)
    ide = {
        (r["user_id"], str(r["ts"])): r["value"]
        for r in compile_promql('idelta(click[2h])').evaluate(tiny).collect()
    }
    assert ide == out


def test_deriv_matches_numpy_lstsq(spark):
    """deriv = least-squares slope over the trailing window; checked
    against numpy polyfit on a hand-built series."""
    import numpy as np
    from kafka_metrics_exporter_spark.promql import compile_promql

    rows = [("m", f"2024-01-01 00:0{i}:00", float(v), "u")
            for i, v in enumerate([0.0, 2.0, 3.0, 7.0, 8.0])]
    df = spark.createDataFrame(rows, "name string, ts string, value double, user_id string")
    df = df.withColumn("ts", df["ts"].cast("timestamp"))
    got = {
        str(r["ts"]): r["value"]
        for r in compile_promql("deriv(m[10m])").evaluate(df).collect()
    }
    # at the last sample the window holds all 5 points
    xs = np.array([0.0, 60.0, 120.0, 180.0, 240.0])
    ys = np.array([0.0, 2.0, 3.0, 7.0, 8.0])
    slope = np.polyfit(xs, ys, 1)[0]
    assert abs(got["2024-01-01 00:04:00"] - slope) < 1e-9
    # first sample alone: no regression point emitted
    assert "2024-01-01 00:00:00" not in got


def test_predict_linear_extends_the_line(spark):
    """predict_linear(sel[w], t) = regression value at now + t; on a
    perfectly linear series it is exact."""
    from kafka_metrics_exporter_spark.promql import compile_promql

    rows = [("m", f"2024-01-01 00:0{i}:00", 10.0 + 5.0 * i, "u")
            for i in range(5)]  # slope 5 per minute
    df = spark.createDataFrame(rows, "name string, ts string, value double, user_id string")
    df = df.withColumn("ts", df["ts"].cast("timestamp"))
    got = {
        str(r["ts"]): r["value"]
        for r in compile_promql("predict_linear(m[10m], 600)").evaluate(df).collect()
    }
    # at 00:04 the value is 30; +600s at slope 5/60 per sec -> 30 + 50
    assert abs(got["2024-01-01 00:04:00"] - 80.0) < 1e-9


def test_deriv_grid_mode(spark):
    """Grid-mode deriv: slope over (t-w, t] at aligned instants; on a
    linear series every instant with ≥2 samples reports the slope."""
    from kafka_metrics_exporter_spark.promql import compile_promql

    rows = [("m", f"2024-01-01 00:0{i}:00", 10.0 + 3.0 * i, "u")
            for i in range(5)]
    df = spark.createDataFrame(rows, "name string, ts string, value double, user_id string")
    df = df.withColumn("ts", df["ts"].cast("timestamp"))
    out = compile_promql("deriv(m[3m])").evaluate_range(df, 60.0).collect()
    assert out, "no grid points"
    for r in out:
        assert abs(r["value"] - 3.0 / 60.0) < 1e-9, r


def test_resets_and_changes_counts(spark):
    """resets counts successive drops; changes counts any value change;
    both windowed and exact-integer."""
    from kafka_metrics_exporter_spark.promql import compile_promql

    vals = [1.0, 3.0, 2.0, 2.0, 5.0, 0.0]   # drops at idx 2 and 5; changes at 1,2,4,5
    rows = [("m", f"2024-01-01 00:0{i}:00", v, "u") for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "name string, ts string, value double, user_id string")
    df = df.withColumn("ts", df["ts"].cast("timestamp"))
    res = {
        str(r["ts"]): r["value"]
        for r in compile_promql("resets(m[10m])").evaluate(df).collect()
    }
    chg = {
        str(r["ts"]): r["value"]
        for r in compile_promql("changes(m[10m])").evaluate(df).collect()
    }
    assert res["2024-01-01 00:05:00"] == 2.0
    assert chg["2024-01-01 00:05:00"] == 4.0
    assert res["2024-01-01 00:01:00"] == 0.0 and chg["2024-01-01 00:01:00"] == 1.0
    # narrow window: at 00:05 only pairs (03,04),(04,05) fit in 2m+ε
    res2 = {
        str(r["ts"]): r["value"]
        for r in compile_promql("resets(m[2m])").evaluate(df).collect()
    }
    assert res2["2024-01-01 00:05:00"] == 1.0  # only the 5.0 -> 0.0 drop
    # both-endpoints rule (Prometheus-exact, aligned with grid mode in
    # round 5): at 00:03 the 3.0 -> 2.0 drop's earlier endpoint sits
    # exactly on the left edge 00:01 — the left-open window excludes it
    assert res2["2024-01-01 00:03:00"] == 0.0


def test_resets_grid_mode_exact_window(spark):
    """Grid mode requires BOTH pair endpoints inside (t-w, t]."""
    from kafka_metrics_exporter_spark.promql import compile_promql

    vals = [5.0, 1.0, 2.0, 1.0]  # drops between (0,1) and (2,3)
    rows = [("m", f"2024-01-01 00:0{i}:00", v, "u") for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "name string, ts string, value double, user_id string")
    df = df.withColumn("ts", df["ts"].cast("timestamp"))
    out = {
        str(r["ts"]): r["value"]
        for r in compile_promql("resets(m[2m])").evaluate_range(df, 60.0).collect()
    }
    # at 00:03 the window (00:01, 00:03] holds samples 01,02,03: the
    # 2.0 -> 1.0 drop is fully inside
    assert out["2024-01-01 00:03:00"] == 1.0
    # at 00:02 the window (00:00, 00:02] EXCLUDES the left boundary, so
    # the 5.0 -> 1.0 pair (earlier endpoint exactly at 00:00) does NOT
    # count — the left-open both-endpoints rule, unlike instant mode
    assert out["2024-01-01 00:02:00"] == 0.0


def test_quantile_and_last_over_time(spark):
    """quantile_over_time = percentile_cont over the trailing window;
    last_over_time = the newest sample in it (instant + grid modes)."""
    import numpy as np
    from kafka_metrics_exporter_spark.promql import compile_promql

    vals = [1.0, 9.0, 5.0, 3.0, 7.0]
    rows = [("m", f"2024-01-01 00:0{i}:00", v, "u") for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "name string, ts string, value double, user_id string")
    df = df.withColumn("ts", df["ts"].cast("timestamp"))
    q = {
        str(r["ts"]): r["value"]
        for r in compile_promql("quantile_over_time(0.5, m[10m])").evaluate(df).collect()
    }
    assert q["2024-01-01 00:04:00"] == float(np.percentile(vals, 50))
    assert q["2024-01-01 00:01:00"] == 5.0  # median of [1, 9]
    last = {
        str(r["ts"]): r["value"]
        for r in compile_promql("last_over_time(m[10m])").evaluate(df).collect()
    }
    # instant mode: the newest sample in a trailing window ending at a
    # sample IS that sample
    assert [last[f"2024-01-01 00:0{i}:00"] for i in range(5)] == vals
    # grid mode picks the newest sample inside each (t-w, t]
    g = {
        str(r["ts"]): r["value"]
        for r in compile_promql("last_over_time(m[2m])").evaluate_range(df, 60.0).collect()
    }
    assert g["2024-01-01 00:03:00"] == 3.0


def test_signed_scalar_literals_parse():
    """ADVICE r4: predict_linear's horizon and the other scalar literal
    slots accept an optional leading sign (Prometheus allows projecting
    into the past with a negative horizon)."""
    from kafka_metrics_exporter_spark.promql.parser import (
        Cmp,
        Deriv,
        HistogramQuantile,
        MathFn,
        OverTime,
        parse,
    )

    n = parse("predict_linear(m[1h], -600)")
    assert isinstance(n, Deriv) and n.predict_seconds == -600.0
    n = parse("predict_linear(m[1h], +600)")
    assert n.predict_seconds == 600.0
    n = parse("quantile_over_time(-0.5, m[1h])")
    assert isinstance(n, OverTime) and n.param == -0.5
    n = parse("m > -5")
    assert isinstance(n, Cmp) and n.threshold == -5.0
    n = parse("clamp_min(m, -1.5)")
    assert isinstance(n, MathFn) and n.arg == -1.5
    n = parse("histogram_quantile(-1, b)")
    assert isinstance(n, HistogramQuantile) and n.phi == -1.0


def test_predict_linear_negative_horizon_projects_backward(spark):
    """On an exact line, predict_linear(sel[w], -60) equals the value
    one minute ago — the regression line evaluated behind the instant."""
    from kafka_metrics_exporter_spark.promql import compile_promql

    rows = [("m", f"2024-01-01 00:0{i}:00", 10.0 + 3.0 * i, "u")
            for i in range(5)]
    df = spark.createDataFrame(
        rows, "name string, ts string, value double, user_id string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        str(r["ts"]): r["value"]
        for r in compile_promql("predict_linear(m[10m], -60)").evaluate(df).collect()
    }
    assert abs(got["2024-01-01 00:04:00"] - (10.0 + 3.0 * 3)) < 1e-9


def test_last_over_time_duplicate_timestamp_is_deterministic(spark):
    """ADVICE r4: with duplicate (series, ts) samples the newest-sample
    pick must not depend on partition order — the (ts, value) struct-max
    tie-break resolves to the larger value in BOTH evaluation modes."""
    from kafka_metrics_exporter_spark.promql import compile_promql

    rows = [
        ("m", "2024-01-01 00:01:00", 4.0, "u"),
        ("m", "2024-01-01 00:02:00", 9.0, "u"),
        ("m", "2024-01-01 00:02:00", 2.0, "u"),  # duplicate ts
    ]
    df = spark.createDataFrame(
        rows, "name string, ts string, value double, user_id string"
    ).withColumn("ts", F.col("ts").cast("timestamp")).repartition(8)
    inst = {
        r["value"]
        for r in compile_promql("last_over_time(m[10m])").evaluate(df).collect()
        if str(r["ts"]) == "2024-01-01 00:02:00"
    }
    # both duplicate-ts rows report the deterministic winner 9.0
    assert inst == {9.0}
    grid = {
        str(r["ts"]): r["value"]
        for r in compile_promql("last_over_time(m[5m])")
        .evaluate_range(df, 60.0)
        .collect()
    }
    assert grid["2024-01-01 00:02:00"] == 9.0


@pytest.mark.reference
@pytest.mark.parametrize("expr", _EXPR_CASES)
def test_corpus_expr_runs_in_range_mode(expr, corpus_metrics):
    """VERDICT r4 item 2: every Grafana panel in the reference is a
    RANGE query, so the full 49-expression corpus must also compile and
    execute through evaluate_range (step grid + lookback selectors +
    extrapolated rate), not just at sample instants."""
    out = compile_promql(expr).evaluate_range(corpus_metrics, 60.0)
    assert {"ts", "value"} <= set(out.columns)
    assert out.count() >= 0  # plan executes on the grid


# ---------------------------------------------------------------------------
# Vector matching + set operators (beyond the corpus: on/ignoring,
# group_left/group_right, and/or/unless)
# ---------------------------------------------------------------------------
def test_vector_match_parses_and_roundtrips():
    from kafka_metrics_exporter_spark.promql.parser import (
        Bin,
        SetOp,
        to_promql,
    )

    n = parse("a / on(region) b")
    assert isinstance(n, Bin) and n.match.on == ("region",) and n.match.group is None
    n = parse("a * ignoring(host) group_left(dc) b")
    assert n.match.ignoring == ("host",)
    assert n.match.group == "left" and n.match.include == ("dc",)
    n = parse("a and on(x) b or c unless b")
    # precedence: ((a and on(x) b) or (c unless b))
    assert isinstance(n, SetOp) and n.op == "or"
    assert n.left.op == "and" and n.right.op == "unless"
    for src in (
        "a / on(region) b",
        "a * ignoring(host) group_left(dc) b",
        "(a and b) or (c unless on(x) b)",
    ):
        assert to_promql(parse(to_promql(parse(src)))) == to_promql(parse(src))


@pytest.fixture(scope="module")
def two_sided(spark):
    """requests per (instance, path) + capacity per instance — the
    classic many-to-one shape."""
    t0 = dt.datetime(2024, 1, 1)
    req = [
        ("req", t0, 30.0, "h1", "/a"),
        ("req", t0, 10.0, "h1", "/b"),
        ("req", t0, 40.0, "h2", "/a"),
    ]
    cap = [
        ("cap", t0, 100.0, "h1", ""),
        ("cap", t0, 200.0, "h2", ""),
        ("cap", t0, 50.0, "h3", ""),  # no requests on h3
    ]
    return spark.createDataFrame(
        req + cap,
        "name string, ts timestamp, value double, instance string, path string",
    )


def test_on_one_to_one_keeps_match_keys(two_sided):
    # per-instance request total / capacity: one-to-one on(instance)
    out = compile_promql(
        "sum by (instance) (req) / on(instance) cap"
    ).evaluate(two_sided)
    got = {r["instance"]: r["value"] for r in out.collect()}
    assert got == {"h1": 0.4, "h2": 0.2}  # (30+10)/100, 40/200
    assert set(out.columns) == {"instance", "ts", "value"}


def test_group_left_many_to_one(two_sided):
    # per-path utilization: many(req) to one(cap), left keeps path
    out = compile_promql("req / on(instance) group_left cap").evaluate(two_sided)
    got = {(r["instance"], r["path"]): r["value"] for r in out.collect()}
    assert got == {("h1", "/a"): 0.3, ("h1", "/b"): 0.1, ("h2", "/a"): 0.2}
    # group_right mirrors: syntactic order preserved (cap / req)
    out2 = compile_promql("cap / on(instance) group_right req").evaluate(two_sided)
    got2 = {(r["instance"], r["path"]): r["value"] for r in out2.collect()}
    assert got2[("h1", "/a")] == pytest.approx(100.0 / 30.0)


def test_set_operators(two_sided):
    # and: instances that have capacity (all do) — with on()
    both = compile_promql(
        "sum by (instance) (req) and on(instance) cap"
    ).evaluate(two_sided)
    assert {r["instance"] for r in both.collect()} == {"h1", "h2"}
    # unless: capacity rows with no requests
    spare = compile_promql(
        "cap unless on(instance) req"
    ).evaluate(two_sided)
    assert {r["instance"] for r in spare.collect()} == {"h3"}
    # or: left wins on collision, right fills the gaps
    merged = compile_promql(
        "sum by (instance) (req) or on(instance) sum by (instance) (cap)"
    ).evaluate(two_sided)
    got = {r["instance"]: r["value"] for r in merged.collect()}
    assert got == {"h1": 40.0, "h2": 40.0, "h3": 50.0}


def test_set_ops_and_matching_work_in_range_mode(two_sided):
    """SetOp/matched-Bin are structural nodes: they compose over grid-
    evaluated lookback leaves exactly like agg/topk do."""
    out = compile_promql(
        "sum by (instance) (req) / on(instance) cap"
    ).evaluate_range(two_sided, 60.0)
    got = {r["instance"]: r["value"] for r in out.collect()}
    assert got == {"h1": 0.4, "h2": 0.2}
    spare = compile_promql("cap unless on(instance) req").evaluate_range(
        two_sided, 60.0
    )
    assert {r["instance"] for r in spare.collect()} == {"h3"}


def test_count_values_and_absent(tiny):
    from kafka_metrics_exporter_spark.promql.parser import Absent, Agg, to_promql

    n = parse('count_values("v", m)')
    assert isinstance(n, Agg) and n.op == "count_values" and n.value_label == "v"
    assert parse(to_promql(n)) == n
    assert isinstance(parse("absent(m)"), Absent)

    t0 = dt.datetime(2024, 1, 1)
    cv = compile_promql('count_values("v", m)').evaluate(tiny)
    got = {(r["v"], r["ts"]): r["value"] for r in cv.collect()}
    # t0 sample values across series: 10.0, 100.0, 7.0 — one series each,
    # formatted without the trailing .0
    assert got[("10", t0)] == 1.0 and got[("100", t0)] == 1.0
    assert got[("7", t0)] == 1.0
    assert ("10.0", t0) not in got

    # absent: missing selector lights up every instant, present → empty
    ab = compile_promql('absent(m{topic="zzz"})').evaluate(tiny)
    rows = ab.collect()
    assert {str(r["ts"]) for r in rows} == {
        "2024-01-01 00:00:00", "2024-01-01 00:01:00", "2024-01-01 00:02:00"
    }
    assert all(r["value"] == 1.0 for r in rows)
    # round 11.5: the result carries the labels Prometheus
    # reconstructs from the selector's equality matchers
    assert all(r["topic"] == "zzz" for r in rows)
    assert compile_promql("absent(m)").evaluate(tiny).count() == 0
    # range mode: the instant universe is the step grid
    abr = compile_promql('absent(m{topic="zzz"})').evaluate_range(tiny, 60.0)
    assert abr.count() == 3 and all(
        r["value"] == 1.0 and r["topic"] == "zzz" for r in abr.collect()
    )
    # non-equality / repeated-equality matchers reconstruct nothing /
    # drop the conflicting label (createLabelsForAbsentFunction)
    ab2 = compile_promql('absent(m{topic=~"zzz.*"})').evaluate(tiny)
    assert "topic" not in ab2.columns and ab2.count() == 3
    ab3 = compile_promql(
        'absent(m{topic="zzz", topic="yyy", instance="h9"})'
    ).evaluate(tiny)
    r3 = ab3.collect()
    assert "topic" not in ab3.columns
    assert all(r["instance"] == "h9" for r in r3)
    # a LATER non-equality matcher deletes an earlier equality's label
    # (the builder's Del branch — code-review 11.5), and an empty-value
    # equality is a no-op that leaves the name claimable
    ab4 = compile_promql('absent(m{topic="zzz", topic!="x"})').evaluate(tiny)
    assert "topic" not in ab4.columns and ab4.count() == 3
    ab5 = compile_promql('absent(m{topic="", topic="zzz"})').evaluate(tiny)
    assert all(r["topic"] == "zzz" for r in ab5.collect())
    # a matcher label named like a reserved result column raises loudly
    with pytest.raises(ValueError, match="reserved"):
        compile_promql('absent(m{value="1"})').evaluate(tiny)


def test_time_combines_with_vectors_as_scalar(tiny):
    """ADVICE r5: Prometheus treats time() as a SCALAR — `time() - m`
    and `m - time()` must work without an explicit on() modifier,
    joining on the evaluation instant and keeping the vector's
    labels."""
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    out = compile_promql('time() - m{topic="a"}').evaluate(tiny)
    got = {(r["topic"], r["instance"], str(r["ts"])): r["value"] for r in out.collect()}
    assert got[("a", "h1", "2024-01-01 00:00:00")] == pytest.approx(t0 - 10.0)
    assert got[("a", "h1", "2024-01-01 00:01:00")] == pytest.approx(t0 + 60 - 40.0)
    # syntactic order preserved on the other side
    rev = compile_promql('m{topic="a"} - time()').evaluate(tiny)
    rgot = {str(r["ts"]): r["value"] for r in rev.collect()}
    assert rgot["2024-01-01 00:00:00"] == pytest.approx(10.0 - t0)
    # labels survive: aggregating the combination still sees them
    agg = compile_promql('sum by (instance) (m - time())').evaluate(tiny)
    assert {r["instance"] for r in agg.collect()} == {"h1", "h2"}


def test_count_values_rejects_conflicting_label(tiny):
    """ADVICE r5: a count_values output label that collides with a
    grouping label or a reserved column must raise, as Prometheus
    rejects conflicting label names."""
    for bad in (
        'count_values by (topic) ("topic", m)',
        'count_values("ts", m)',
        'count_values("value", m)',
        'count_values("name", m)',
    ):
        with pytest.raises(ValueError, match="conflicts"):
            compile_promql(bad).evaluate(tiny)


def test_at_modifier_pins_value_across_instants(tiny):
    """`m @ t`: each series' value as of t, constant across the whole
    evaluation-instant universe (Prometheus's fixed-evaluation-time
    semantics)."""
    at = dt.datetime(2024, 1, 1, 0, 1, tzinfo=dt.timezone.utc).timestamp()
    out = compile_promql(f"m @ {int(at)}").evaluate(tiny)
    rows = out.collect()
    instants = {str(r["ts"]) for r in rows}
    assert instants == {
        "2024-01-01 00:00:00", "2024-01-01 00:01:00", "2024-01-01 00:02:00"
    }
    by_series = {}
    for r in rows:
        by_series.setdefault((r["topic"], r["instance"]), set()).add(r["value"])
    # value pinned at t = 00:01 for every instant
    assert by_series[("a", "h1")] == {40.0}
    assert by_series[("b", "h1")] == {160.0}
    assert by_series[("", "h2")] == {7.0}
    # range calls: the whole rate evaluation is pinned at t
    r_out = compile_promql(f"increase(m[2m] @ {int(at)})").evaluate(tiny)
    got = {
        (r["topic"], r["instance"]): {r["value"]}
        for r in r_out.collect()
        if (r["topic"], r["instance"]) == ("a", "h1")
    }
    assert got[("a", "h1")] == {30.0}  # 40 - 10, pinned everywhere
    # grid mode shares the semantics over the step grid
    g = compile_promql(f"m @ {int(at)}").evaluate_range(tiny, 60.0)
    gvals = {r["value"] for r in g.collect() if r["topic"] == "b"}
    assert gvals == {160.0}


def test_at_modifier_exact_off_grid_anchor(tiny):
    """Round 11.5 (removes the ADVICE-r6 documented divergence): a
    numeric ``@ t`` evaluates the inner expression at EXACTLY t, so
    range windows end at t even when t is off the step grid.  With
    t = 150s, ``sum_over_time(m[2m] @ 150)`` sums the samples in
    (30s, 150s] — 40 + 5 = 45.  The r11 engine pinned the newest
    evaluated grid instant ≤ t (120s) instead, whose window (0, 120]
    summed 10 + 40 + 5 = 55."""
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    out = compile_promql(
        f'sum_over_time(m{{topic="a"}}[2m] @ {t0 + 150:.0f})'
    ).evaluate_range(tiny, 60.0)
    rows = out.collect()
    assert {r["value"] for r in rows} == {45.0}
    assert len(rows) == 3  # pinned across the whole 00:00..00:02 grid
    # count_over_time at an off-grid t sees exactly the (t−w, t] set
    c = compile_promql(
        f'count_over_time(m{{topic="a"}}[1m] @ {t0 + 150:.0f})'
    ).evaluate_range(tiny, 60.0)
    assert {r["value"] for r in c.collect()} == {1.0}  # only the 00:02 sample
    # instant selector @ off-grid t: newest sample ≤ t within lookback
    s = compile_promql(f'm{{topic="a"}} @ {t0 + 90:.0f}').evaluate_range(tiny, 60.0)
    assert {r["value"] for r in s.collect()} == {40.0}
    # timestamp(m @ t) commutes to (timestamp(m)) @ t: the pinned
    # sample's ORIGINAL epoch, constant across the grid (code-review
    # 11.5 — evaluating @ first lost the sample ts to the broadcast)
    tsp = compile_promql(
        f'timestamp(m{{topic="a"}} @ {t0 + 150:.0f})'
    ).evaluate_range(tiny, 60.0)
    assert {r["value"] for r in tsp.collect()} == {t0 + 120.0}


def test_negative_offset_looks_into_the_future(tiny):
    """`offset -1m` surfaces the sample taken at t+1m at instant t —
    PromQL's negative offset (the forward-looking comparison idiom)."""
    out = compile_promql('m{topic="a"} offset -1m').evaluate(tiny)
    got = {str(r["ts"]): r["value"] for r in out.collect()}
    assert got["2024-01-01 00:00:00"] == 40.0  # the 00:01 sample
    assert got["2024-01-01 00:01:00"] == 5.0  # the 00:02 sample
    # day-over-tomorrow delta: m - m offset -1m at 00:00 = 10 - 40
    d = compile_promql('m{topic="a"} - m{topic="a"} offset -1m').evaluate(tiny)
    dgot = {str(r["ts"]): r["value"] for r in d.collect()}
    assert dgot["2024-01-01 00:00:00"] == -30.0


def test_sort_and_clamp(tiny):
    """sort/sort_desc order the output by (ts, value, labels);
    clamp(v, min, max) pins both bounds, EMPTY vector when min > max
    (Prometheus funcClamp; ADVICE r6)."""
    out = compile_promql('sort_desc(m{instance="h1"})').evaluate(tiny)
    rows = out.collect()
    t0 = dt.datetime(2024, 1, 1)
    first_instant = [r["value"] for r in rows if r["ts"] == t0]
    assert first_instant == [100.0, 10.0]  # desc within the instant
    asc = compile_promql('sort(m{instance="h1"})').evaluate(tiny).collect()
    assert [r["value"] for r in asc if r["ts"] == t0] == [10.0, 100.0]

    c = compile_promql('clamp(m{instance="h1"}, 20, 120)').evaluate(tiny)
    cgot = sorted(r["value"] for r in c.collect())
    assert cgot == [20.0, 20.0, 40.0, 100.0, 120.0]
    empty = compile_promql("clamp(m, 5, 1)").evaluate(tiny).collect()
    assert empty == []  # min > max -> empty vector, not NaN elements


def test_sgn_round_scalar_vector(tiny):
    """Round-6 function pack: sgn, round(v, n) with half-up rule,
    scalar() as a per-instant scalar in binops, and the `or vector(0)`
    default idiom."""
    t0 = dt.datetime(2024, 1, 1)
    s = compile_promql("sgn(m - 10)").evaluate(tiny)
    sgot = {(r["topic"], r["instance"], r["ts"]): r["value"] for r in s.collect()}
    assert sgot[("a", "h1", t0)] == 0.0  # 10 - 10
    assert sgot[("b", "h1", t0)] == 1.0
    assert sgot[("", "h2", t0)] == -1.0

    r = compile_promql("round(m / 3)").evaluate(tiny)
    rgot = {(r_["topic"], r_["ts"]): r_["value"] for r_ in r.collect()}
    assert rgot[("a", t0)] == 3.0  # 10/3 = 3.33 -> 3
    # half-up: 5/2 = 2.5 -> 3 (Python's bankers rounding would give 2)
    r2 = compile_promql("round(m / 2)").evaluate(tiny)
    r2got = {(x["topic"], x["ts"]): x["value"] for x in r2.collect()}
    assert r2got[("a", t0 + dt.timedelta(minutes=2))] == 3.0  # 5/2 -> 2.5 -> 3
    # to_nearest: round to nearest 50
    r3 = compile_promql("round(m, 50)").evaluate(tiny)
    r3got = {(x["topic"], x["ts"]): x["value"] for x in r3.collect()}
    assert r3got[("b", t0)] == 100.0
    assert r3got[("a", t0 + dt.timedelta(minutes=1))] == 50.0  # 40 -> 50
    # funcRound's reciprocal form (ADVICE r6): 5*0.03 = 0.15 with
    # to_nearest 0.1 rounds to 0.2; the naive floor(v/n+0.5)*n form
    # would give 0.1 because 0.15/0.1 < 1.5 in doubles.
    r4 = compile_promql("round(m * 0.03, 0.1)").evaluate(tiny)
    r4got = {(x["topic"], x["ts"]): x["value"] for x in r4.collect()}
    assert r4got[("a", t0 + dt.timedelta(minutes=2))] == 0.2

    # scalar(): per-instant share of the total, vector/scalar binop
    # keeps the vector's labels
    share = compile_promql("m / scalar(sum(m))").evaluate(tiny)
    total_t0 = 10.0 + 100.0 + 7.0 + 1.0  # m@t0: 10,100,7 ; n@t0: wait
    # sum(m) at t0: the selector keeps only name m -> 10 + 100 + 7
    got = {
        (r_["topic"], r_["instance"]): r_["value"]
        for r_ in share.collect()
        if r_["ts"] == t0
    }
    assert got[("a", "h1")] == pytest.approx(10.0 / 117.0)
    assert got[("b", "h1")] == pytest.approx(100.0 / 117.0)
    # scalar() of a multi-element vector is NaN; of a single-element
    # vector it's the element (m has 3 series at t0, 2 at 00:01, and
    # only topic=a at 00:02)
    import math

    sc = compile_promql("m / scalar(m)").evaluate(tiny).collect()
    assert sc
    for x in sc:
        if x["ts"] == t0 + dt.timedelta(minutes=2):
            assert x["value"] == 1.0  # 5 / scalar({5}) = 1
        else:
            assert math.isnan(x["value"])

    # `or vector(0)`: an empty selector falls back to 0 at every instant
    fb = compile_promql('sum(m{topic="zzz"}) or vector(0)').evaluate(tiny)
    fgot = {str(r_["ts"]): r_["value"] for r_ in fb.collect()}
    assert set(fgot) == {
        "2024-01-01 00:00:00", "2024-01-01 00:01:00", "2024-01-01 00:02:00"
    }
    assert all(v == 0.0 for v in fgot.values())


def test_at_start_end_and_absent_over_time(tiny):
    """`@ start()` / `@ end()` pin at the evaluation range's first/last
    instant; absent_over_time lights up empty trailing windows on the
    step grid (and rejects sample-instant mode, where it is vacuous)."""
    end = compile_promql('m{topic="a"} @ end()').evaluate(tiny)
    evals = {r["value"] for r in end.collect()}
    assert evals == {5.0}  # the 00:02 sample pinned everywhere
    assert end.count() == 3
    start = compile_promql('m{topic="a"} @ start()').evaluate(tiny)
    assert {r["value"] for r in start.collect()} == {10.0}
    # range mode: @ end() resolves against the grid bounds
    g = compile_promql('m{topic="a"} @ end()').evaluate_range(tiny, 60.0)
    assert {r["value"] for r in g.collect()} == {5.0}

    with pytest.raises(ValueError, match="range"):
        compile_promql("absent_over_time(m[2m])").evaluate(tiny)
    # grid: topic=b has samples at 00:00 and 00:01 only; with a 90s
    # window the 00:02 instant's window (00:00:30, 00:02] still holds
    # the 00:01 sample -> absent nowhere; a 30s window leaves 00:02
    # uncovered... use a selector with no matches: every instant absent
    ab = compile_promql('absent_over_time(m{topic="zzz"}[2m])').evaluate_range(
        tiny, 60.0
    )
    assert ab.count() == 3 and all(
        r["value"] == 1.0 and r["topic"] == "zzz" for r in ab.collect()
    )
    ab2 = compile_promql('absent_over_time(m{topic="b"}[1m])').evaluate_range(
        tiny, 60.0
    )
    # b's samples: 00:00, 00:01 — windows (t-1m, t]: t=00:00 covered,
    # t=00:01 covered, t=00:02 holds nothing -> absent only at 00:02
    got = {str(r["ts"]) for r in ab2.collect()}
    assert got == {"2024-01-01 00:02:00"}


def test_date_functions(tiny):
    """Prometheus date/time family: timestamp(v) (the element's sample
    timestamp), and the calendar functions over values-as-UTC-epochs,
    defaulting to vector(time()).  2024-01-01 is a Monday."""
    from kafka_metrics_exporter_spark.promql.parser import DateFn, to_promql

    n = parse("day_of_week()")
    assert isinstance(n, DateFn) and n.expr is None
    assert parse(to_promql(n)) == n
    assert parse(to_promql(parse("hour(m)"))) == parse("hour(m)")
    with pytest.raises(SyntaxError):
        parse("timestamp()")
    # a selector NAMED like a date fn still parses as a selector
    from kafka_metrics_exporter_spark.promql.parser import Selector

    assert isinstance(parse('hour{topic="a"}'), Selector)

    t0 = dt.datetime(2024, 1, 1)
    ts_out = compile_promql('timestamp(m{topic="a"})').evaluate(tiny)
    epoch0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    got = {str(r["ts"]): r["value"] for r in ts_out.collect()}
    assert got["2024-01-01 00:00:00"] == epoch0
    assert got["2024-01-01 00:01:00"] == epoch0 + 60

    # round 11.5 (removes a documented divergence): an OFFSET selector
    # reports the underlying sample's ORIGINAL timestamp — the 00:00
    # sample surfaces at 00:01 under offset 1m but its timestamp stays
    # epoch0, in both modes
    off = compile_promql('timestamp(m{topic="a"} offset 1m)').evaluate(tiny)
    ogot = {str(r["ts"]): r["value"] for r in off.collect()}
    assert ogot["2024-01-01 00:01:00"] == epoch0
    offg = compile_promql(
        'timestamp(m{topic="a"} offset 1m)'
    ).evaluate_range(tiny, 60.0)
    oggot = {str(r["ts"]): r["value"] for r in offg.collect()}
    assert oggot["2024-01-01 00:01:00"] == epoch0
    assert oggot["2024-01-01 00:02:00"] == epoch0 + 60

    for expr, want in [
        ("day_of_week()", 1.0),  # Monday
        ("day_of_month()", 1.0),
        ("day_of_year()", 1.0),
        ("days_in_month()", 31.0),
        ("month()", 1.0),
        ("year()", 2024.0),
        ("hour()", 0.0),
    ]:
        out = compile_promql(expr).evaluate(tiny)
        vals = {r["value"] for r in out.collect() if r["ts"] == t0}
        assert vals == {want}, expr
    # minute() over the instant universe varies with the instant
    mins = {
        str(r["ts"]): r["value"]
        for r in compile_promql("minute()").evaluate(tiny).collect()
    }
    assert mins["2024-01-01 00:02:00"] == 2.0
    # calendar fn over an arbitrary vector's VALUES: m's values are
    # small epochs (1970-01-01), so year(m) is 1970 everywhere
    yr = compile_promql("year(m)").evaluate(tiny)
    assert {r["value"] for r in yr.collect()} == {1970.0}


def test_holt_winters_hand_computed(tiny):
    """Double exponential smoothing, Prometheus funcHoltWinters rules:
    topic=a samples 10, 40, 5; sf=0.5, tf=0.3.
    t=00:01 {10,40}: s0=10, b=30, s1=.5*40+.5*40=40.
    t=00:02 {10,40,5}: then s1=.5*5+.5*(40+30)=37.5 (b -> 20.25)."""
    expr = 'holt_winters(m{topic="a"}[3m], 0.5, 0.3)'
    out = compile_promql(expr).evaluate(tiny)
    got = {str(r["ts"]): r["value"] for r in out.collect()}
    assert got == {
        "2024-01-01 00:01:00": 40.0,
        "2024-01-01 00:02:00": 37.5,
    }  # the single-sample t0 instant emits nothing
    g = compile_promql(expr).evaluate_range(tiny, 60.0)
    ggot = {str(r["ts"]): r["value"] for r in g.collect()}
    assert ggot["2024-01-01 00:01:00"] == 40.0
    assert ggot["2024-01-01 00:02:00"] == 37.5

    from kafka_metrics_exporter_spark.promql.parser import to_promql

    n = parse(expr)
    assert parse(to_promql(n)) == n
    # Prometheus 3 renamed it; both spellings parse to the same AST
    assert parse("double_exponential_smoothing(m[1m], 0.2, 0.4)") == parse(
        "holt_winters(m[1m], 0.2, 0.4)"
    )
    for bad in ("holt_winters(m[1m], 0, 0.5)", "holt_winters(m[1m], 0.5, 1)"):
        with pytest.raises(SyntaxError):
            parse(bad)


def test_subquery_parses_and_roundtrips():
    from kafka_metrics_exporter_spark.promql.parser import (
        Agg,
        OverTime,
        Rate,
        Subquery,
        to_promql,
    )

    n = parse("max_over_time(sum(m)[1h:5m])")
    assert isinstance(n, OverTime) and n.window_seconds == 3600.0
    assert isinstance(n.selector, Subquery)
    assert n.selector.step_seconds == 300.0
    assert isinstance(n.selector.expr, Agg)
    assert parse(to_promql(n)) == n
    n2 = parse("rate(m[1h:5m])")  # subquery over a bare selector
    assert isinstance(n2, Rate) and isinstance(n2.selector, Subquery)
    with pytest.raises(SyntaxError):
        parse("max_over_time(sum(m)[1h])")  # non-selector range needs a step


def test_subquery_over_time_semantics(tiny):
    """max_over_time(sum(m)[10m:1m]): the inner sum is evaluated on a
    1 m grid with lookback (hand-computed: 117, 207, 172 at minutes
    0-2), then the outer window takes the trailing max of those
    synthetic samples — in BOTH evaluation modes."""
    expected = {
        "2024-01-01 00:00:00": 117.0,
        "2024-01-01 00:01:00": 207.0,
        "2024-01-01 00:02:00": 207.0,
    }
    inst = {
        str(r["ts"]): r["value"]
        for r in compile_promql("max_over_time(sum(m)[10m:1m])")
        .evaluate(tiny)
        .collect()
    }
    assert inst == expected
    grid = {
        str(r["ts"]): r["value"]
        for r in compile_promql("max_over_time(sum(m)[10m:1m])")
        .evaluate_range(tiny, 60.0)
        .collect()
    }
    assert grid == expected


def test_subquery_rate_over_aggregate(tiny):
    """rate over a subquery: the inner sum's grid samples act as the
    counter series (117 → 207 → 172 with a reset clamp at minute 2)."""
    out = {
        str(r["ts"]): r["value"]
        for r in compile_promql("rate(sum(m)[10m:1m])").evaluate(tiny).collect()
    }
    assert out["2024-01-01 00:01:00"] == pytest.approx((207.0 - 117.0) / 60.0)
    # 172 < 207 → counter reset: rate restarts from the post-reset value
    assert out["2024-01-01 00:02:00"] == pytest.approx(172.0 / 60.0)


def test_bool_modifier_and_time(tiny):
    from kafka_metrics_exporter_spark.promql.parser import Cmp, Time, to_promql

    n = parse("m > bool 50")
    assert isinstance(n, Cmp) and n.bool_mode and n.threshold == 50.0
    assert parse(to_promql(n)) == n
    assert isinstance(parse("time()"), Time)

    # bool keeps every element with value 1/0 (vs the filtering form)
    out = compile_promql("m > bool 50").evaluate(tiny)
    rows = out.collect()
    assert len(rows) == 6  # all m samples survive
    got = {(r["topic"], r["instance"], str(r["ts"])): r["value"] for r in rows}
    assert got[("b", "h1", "2024-01-01 00:00:00")] == 1.0  # 100 > 50
    assert got[("a", "h1", "2024-01-01 00:00:00")] == 0.0  # 10 <= 50
    assert compile_promql("m > 50").evaluate(tiny).count() == 2

    # time(): epoch seconds per instant, joinable against vectors
    t = {r["value"] for r in compile_promql("time()").evaluate(tiny).collect()}
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    assert t == {base, base + 60.0, base + 120.0}
    # grid mode shares the universe logic
    tg = compile_promql("time()").evaluate_range(tiny, 60.0)
    assert tg.count() == 3


def test_scalar_typing_survives_nesting(tiny):
    """Code-review r6: scalar-ness is a semantic TYPE, not a syntactic
    check on the direct operand — arithmetic over time()/scalar() stays
    scalar and still combines with any vector by instant."""
    t0 = dt.datetime(2024, 1, 1)
    out = compile_promql("m / (scalar(sum(m)) * 2)").evaluate(tiny)
    got = {
        (r["topic"], r["instance"]): r["value"]
        for r in out.collect()
        if r["ts"] == t0
    }
    assert got[("a", "h1")] == pytest.approx(10.0 / (117.0 * 2))
    # time() arithmetic one level deep
    epoch0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    d = compile_promql("time() + 60 - m").evaluate(tiny)
    dgot = {
        (r["topic"], r["instance"]): r["value"]
        for r in d.collect()
        if r["ts"] == t0
    }
    assert dgot[("a", "h1")] == pytest.approx(epoch0 + 60 - 10.0)
    # scalar ∘ scalar stays scalar, and vector() accepts scalar-typed
    # expressions like vector(time())
    vt = compile_promql("vector(time() / 60)").evaluate(tiny)
    vgot = {str(r["ts"]): r["value"] for r in vt.collect()}
    assert vgot["2024-01-01 00:01:00"] == pytest.approx((epoch0 + 60) / 60)
    assert list(vt.columns) == ["ts", "value"]


def test_timestamp_grid_mode_returns_sample_ts(spark):
    """Code-review r6: in range mode, timestamp(selector) must return
    the underlying SAMPLE's timestamp at every lookback-covered
    instant, not the grid instant."""
    rows = [("m", "2024-01-01 00:00:30", 7.0, "u")]
    df = spark.createDataFrame(
        rows, "name string, ts string, value double, user_id string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    out = compile_promql("timestamp(m)").evaluate_range(
        df, 60.0, start=base, end=base + 180
    )
    got = {str(r["ts"]): r["value"] for r in out.collect()}
    # the 00:00:30 sample covers instants 00:01..00:03 via lookback and
    # reports ITS OWN epoch everywhere
    assert got == {
        "2024-01-01 00:01:00": base + 30,
        "2024-01-01 00:02:00": base + 30,
        "2024-01-01 00:03:00": base + 30,
    }
    # a DERIVED vector's elements are synthesized at the instant, so
    # the instant is their timestamp
    s = compile_promql("timestamp(sum(m))").evaluate_range(
        df, 60.0, start=base, end=base + 120
    )
    sgot = {str(r["ts"]): r["value"] for r in s.collect()}
    assert sgot["2024-01-01 00:02:00"] == base + 120


def test_trig_family_group_and_present(tiny):
    """Round-7 function pack: the trigonometric family (element-wise on
    the sample value), pi(), deg/rad, group() as an existence
    aggregate, and present_over_time in both evaluation modes."""
    import math

    t0 = dt.datetime(2024, 1, 1)
    s = compile_promql("round(sin(m) + pi(), 0.0001)").evaluate(tiny)
    got = {(r["topic"], r["instance"], r["ts"]): r["value"] for r in s.collect()}
    exp = round(math.sin(10.0) + math.pi, 4)
    assert got[("a", "h1", t0)] == pytest.approx(exp)

    # deg(rad(v)) is the identity up to float error
    ident = compile_promql("round(deg(rad(m)), 0.0001)").evaluate(tiny)
    vals = {r["value"] for r in ident.collect()}
    raw = {r["value"] for r in compile_promql("m").evaluate(tiny).collect()}
    assert vals == raw

    # inverse pairs: atan(tan(x)) == x for |x| < pi/2 (max sample is
    # 160, so /200 keeps every scaled value inside the branch)
    at = compile_promql("round(atan(tan(m / 200)) * 200, 0.0001)").evaluate(tiny)
    assert {r["value"] for r in at.collect()} == raw

    # group(): every populated (topic, ts) group exists with value 1
    g = compile_promql("group by (topic) (m)").evaluate(tiny)
    grows = g.collect()
    assert grows and all(r["value"] == 1.0 for r in grows)
    cnt = compile_promql("count by (topic) (m)").evaluate(tiny)
    assert len(grows) == cnt.count()  # same group universe

    # present_over_time: 1 wherever the trailing window has any sample
    pr = compile_promql("present_over_time(m[5m])").evaluate(tiny)
    assert all(r["value"] == 1.0 for r in pr.collect())
    assert pr.count() == compile_promql("m").evaluate(tiny).count()

    # grammar edges: no group_over_time / count_values_over_time /
    # bare present()
    for bad in ["group_over_time(m[5m])", "count_values_over_time(m[5m])",
                "present(m)"]:
        with pytest.raises(SyntaxError):
            parse(bad)


def test_function_named_metrics_parse_as_selectors():
    """Prometheus reserves only the aggregation keywords — every
    function name doubles as a metric name when not followed by '('
    (code-review r7): `sin`, `deg`, `rate{...}` are selectors, while
    called forms keep their function meaning and aggregation keywords
    stay reserved."""
    from kafka_metrics_exporter_spark.promql import parser as pql

    for name in ["sin", "deg", "rad", "rate", "absent", "hour",
                 "avg_over_time", "holt_winters", "scalar", "pi"]:
        node = parse(name)
        assert isinstance(node, pql.Selector) and node.name == name, name
    sel = parse('rate{topic="a"}')
    assert isinstance(sel, pql.Selector) and sel.name == "rate"
    assert isinstance(parse("sin(m)"), pql.MathFn)
    assert isinstance(parse("rate(m[1m])"), pql.Rate)
    # aggregation keywords are reserved in Prometheus too
    with pytest.raises(SyntaxError):
        parse("sum")
    with pytest.raises(SyntaxError):
        parse("topk")


def test_all_variable_in_multi_value_list():
    """Grafana stores an All selection on a multi-value variable as
    ["$__all"] (code-review r7): the sentinel must render .* from
    inside a list too."""
    from kafka_metrics_exporter_spark.promql import interpolate_variables

    assert interpolate_variables("$v", {"v": ["$__all"]}) == ".*"
    assert interpolate_variables("$v", {"v": ["a", "$__all"]}) == ".*"


@pytest.mark.reference
def test_compile_dashboard_covers_all_reference_panels():
    """Round-7 whole-dashboard replay: every panel target of all three
    reference dashboards (25 + 16 + 8 = the 49-expr corpus) extracts,
    compiles, and keys uniquely; declared template variables are
    surfaced."""
    from kafka_metrics_exporter_spark.promql import (
        compile_dashboard,
        dashboard_targets,
        dashboard_variables,
    )

    expected = {
        "Kafka_Brokers_Dashboard.json": 25,
        "Kafka_Connect_Dashboard.json": 16,
        "ZooKeeper_Dashboard.json": 8,
    }
    total = 0
    for fname, n in expected.items():
        with open(os.path.join(GRAFANA_DASHBOARDS, fname)) as fh:
            dash = json.load(fh)
        targets = dashboard_targets(dash)
        assert len(targets) == n, (fname, len(targets))
        total += n
        plans = compile_dashboard(
            dash, variables={"ServerName": "host0:1234"}
        )
        assert len(plans) == n  # unique keys, nothing dropped
        for key, plan in plans.items():
            assert plan.ast is not None, key
    assert total == 49  # the documented corpus size
    with open(os.path.join(GRAFANA_DASHBOARDS, "ZooKeeper_Dashboard.json")) as fh:
        zk = json.load(fh)
    assert "ServerName" in dashboard_variables(zk)


@pytest.mark.reference
def test_zookeeper_dashboard_replay_end_to_end(corpus_metrics):
    """The ZooKeeper dashboard replayed panel-by-panel with ServerName
    bound: every panel executes, and the variable-bearing ones return
    only the bound instance."""
    from kafka_metrics_exporter_spark.promql import compile_dashboard

    with open(os.path.join(GRAFANA_DASHBOARDS, "ZooKeeper_Dashboard.json")) as fh:
        dash = json.load(fh)
    plans = compile_dashboard(dash, variables={"ServerName": "host0:1234"})
    assert len(plans) == 8
    nonempty = 0
    for key, plan in plans.items():
        out = plan.evaluate(corpus_metrics)
        rows = out.collect()
        # panels that HAD a $ServerName matcher (now the bound value in
        # their compiled source) must select only that instance; the
        # unfiltered panels (e.g. zookeeper_NodeCount) keep all hosts
        if "host0:1234" in plan.source and "instance" in out.columns and rows:
            assert {r["instance"] for r in rows} == {"host0:1234"}, key
        nonempty += bool(rows)
    # the fixture carries jvm_memory_bytes_used, PacketsReceived/Sent,
    # NodeCount — several panels must actually produce samples
    assert nonempty >= 3


def test_dashboard_with_label_replace_panel(tiny):
    """VERDICT r7 missing item 1 follow-through: a dashboard panel
    using label_replace — the most common relabeling function in
    real-world Grafana dashboards — compiles and executes through
    compile_dashboard, including a $var inside the replacement
    arguments."""
    from kafka_metrics_exporter_spark.promql import compile_dashboard

    dash = {
        "templating": {"list": [{"name": "src", "query": "instance"}]},
        "panels": [
            {
                "title": "Short host",
                "targets": [
                    {
                        "expr": 'sum by (short) (label_replace('
                                'm, "short", "$1", "$src", "(h[0-9]+)"))',
                        "refId": "A",
                    }
                ],
            },
            {
                "title": "Key",
                "targets": [
                    {
                        "expr": 'label_join(m, "k", "/", "topic", "instance")',
                        "refId": "A",
                    }
                ],
            },
        ],
    }
    plans = compile_dashboard(dash, variables={"src": "instance"})
    assert len(plans) == 2
    out = plans["Short host"].evaluate(tiny)
    got = {(r["short"], r["ts"].minute): r["value"] for r in out.collect()}
    assert got[("h1", 0)] == 110.0 and got[("h2", 0)] == 7.0
    out2 = plans["Key"].evaluate(tiny)
    assert {r["k"] for r in out2.collect()} == {"a/h1", "b/h1", "/h2"}


def test_dashboard_targets_legacy_rows_and_dup_keys():
    """Code-review r7 hardening: legacy (schemaVersion < 16) dashboards
    store panels under rows[].panels; duplicate title+refId keys get
    first-unused #n suffixes without clobbering."""
    from kafka_metrics_exporter_spark.promql import (
        compile_dashboard,
        dashboard_targets,
    )

    dash = {
        "rows": [
            {"panels": [
                {"title": "CPU", "targets": [{"expr": "m", "refId": "A"}]},
            ]},
            {"panels": [
                {"title": "CPU", "targets": [{"expr": "n", "refId": "A"}]},
                {"title": "CPU", "targets": [{"expr": "m + n", "refId": "A"}]},
            ]},
        ]
    }
    targets = dashboard_targets(dash)
    assert [t.expr for t in targets] == ["m", "n", "m + n"]
    plans = compile_dashboard(dash)
    assert len(plans) == 3  # nothing clobbered
    assert sorted(plans) == ["CPU [A]", "CPU [A] #2", "CPU [A] #3"]


def test_modulo_power_atan2_operators(tiny):
    """Round-7 binary-operator completion: % (Go math.Mod — TRUNCATED,
    sign of the dividend), ^ (right-associative, binds tightest), and
    the atan2 keyword operator (infix only — a metric named atan2
    still selects)."""
    import math

    t0 = dt.datetime(2024, 1, 1)
    m = {(r["topic"], r["instance"], r["ts"]): r["value"]
         for r in compile_promql("m").evaluate(tiny).collect()}

    mod = {(r["topic"], r["instance"], r["ts"]): r["value"]
           for r in compile_promql("(m - 12) % 4").evaluate(tiny).collect()}
    for k, v in m.items():
        assert mod[k] == math.fmod(v - 12, 4), (k, v)
    # the sign case that separates truncated from floored modulo
    assert mod[("", "h2", t0)] == math.fmod(7.0 - 12, 4) == -1.0

    pw = {(r["topic"], r["instance"], r["ts"]): r["value"]
          for r in compile_promql("m ^ 2").evaluate(tiny).collect()}
    assert pw[("a", "h1", t0)] == 100.0
    # right associativity: m ^ 2 ^ 3 == m ^ 8 (scalar exponent folds)
    pw8 = {(r["topic"], r["instance"], r["ts"]): r["value"]
           for r in compile_promql("m ^ 2 ^ 3").evaluate(tiny).collect()}
    assert pw8[("a", "h1", t0)] == 10.0 ** 8
    # precedence: ^ over *, * over +
    both = {(r["topic"], r["instance"], r["ts"]): r["value"]
            for r in compile_promql("m + m * m ^ 2").evaluate(tiny).collect()}
    assert both[("a", "h1", t0)] == 10.0 + 10.0 * 100.0

    at = {(r["topic"], r["instance"], r["ts"]): r["value"]
          for r in compile_promql("m atan2 (m + 5)").evaluate(tiny).collect()}
    assert at[("a", "h1", t0)] == math.atan2(10.0, 15.0)

    from kafka_metrics_exporter_spark.promql import parser as pql

    assert isinstance(parse("atan2"), pql.Selector)  # factor position


def test_division_by_signed_zero(spark):
    """Round 11.5 (removes the last documented arithmetic divergence):
    the Column division path recovers a −0.0 divisor's sign from its
    string form (Spark's comparator treats −0.0 == 0), so x/−0 is
    −Inf-signed exactly like Go — differential against the exact
    scalar path on every signed-zero combination."""
    import math

    from kafka_metrics_exporter_spark.promql.compiler import _bin_div

    rows = [
        (1.0, -0.0), (1.0, 0.0), (-2.0, -0.0), (-2.0, 0.0),
        (0.0, -0.0), (-0.0, 0.0), (float("nan"), -0.0),
        (float("inf"), -0.0), (6.0, 3.0), (6.0, -3.0),
    ]
    df = spark.createDataFrame(rows, "a double, b double")
    out = df.select(
        "a", "b", _bin_div(F.col("a"), F.col("b")).alias("q")
    ).collect()
    for r in out:
        want = _bin_div(float(r["a"]), float(r["b"]))
        assert (math.isnan(r["q"]) and math.isnan(want)) or r["q"] == want, (
            r["a"], r["b"], r["q"], want,
        )


def test_max_never_lets_nan_win(spark):
    """Round 11.5: Go's max (`v > max || isNaN(max)`, aggregation AND
    max_over_time AND ts_of_max/min) never lets a NaN sample win unless
    every sample is NaN — Spark's comparator orders NaN greatest, so
    the engine keys these on (is-real, value).  min needs no fix: a
    NaN-greatest NaN already loses a min."""
    import math

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("m", t0, 10.0, "a", "h1"),
        ("m", t0 + dt.timedelta(minutes=1), float("nan"), "a", "h1"),
        ("m", t0 + dt.timedelta(minutes=2), 5.0, "a", "h1"),
        ("m", t0, float("nan"), "z", "h1"),      # all-NaN series
        ("m", t0 + dt.timedelta(minutes=1), float("nan"), "z", "h1"),
    ]
    df = spark.createDataFrame(
        rows, "name string, ts timestamp, value double, topic string, instance string"
    )
    mx = {
        (r["topic"], r["ts"].minute): r["value"]
        for r in compile_promql("max_over_time(m[3m])").evaluate(df).collect()
    }
    assert mx[("a", 1)] == 10.0   # NaN does not beat 10
    assert mx[("a", 2)] == 10.0
    assert math.isnan(mx[("z", 1)])  # ... unless the window is all-NaN
    mn = {
        (r["topic"], r["ts"].minute): r["value"]
        for r in compile_promql("min_over_time(m[3m])").evaluate(df).collect()
    }
    assert mn[("a", 2)] == 5.0
    e0 = t0.replace(tzinfo=dt.timezone.utc).timestamp()
    tm = {
        (r["topic"], r["ts"].minute): r["value"]
        for r in compile_promql("ts_of_max_over_time(m[3m])")
        .evaluate(df).collect()
    }
    assert tm[("a", 2)] == e0          # max 10 @ minute 0, not the NaN
    assert tm[("z", 1)] == e0 + 60.0   # all-NaN: newest NaN's ts
    tn = {
        (r["topic"], r["ts"].minute): r["value"]
        for r in compile_promql("ts_of_min_over_time(m[3m])")
        .evaluate(df).collect()
    }
    assert tn[("a", 2)] == e0 + 120.0  # min 5 @ minute 2, not the NaN
    # aggregation max across series at one instant: the NaN series
    # loses where a real value exists (minute 0), and an all-NaN
    # instant (minute 1: both samples NaN) stays NaN
    agg = {
        r["ts"].minute: r["value"]
        for r in compile_promql("max(m)").evaluate(df).collect()
    }
    assert agg[0] == 10.0 and math.isnan(agg[1]) and agg[2] == 5.0
    # grid mode shares the kernels
    g = {
        r["ts"].minute: r["value"]
        for r in compile_promql('max_over_time(m{topic="a"}[3m])')
        .evaluate_range(df, 60.0)
        .collect()
    }
    assert g[1] == 10.0 and g[2] == 10.0
    # topk: Prometheus's heap replaces a NaN with any real sample, so
    # topk(1) at minute 0 ({10, NaN}) returns the real series; bottomk
    # was already right (ascending puts NaN-greatest last)
    tk = {
        r["ts"].minute: r["topic"]
        for r in compile_promql("topk(1, m)").evaluate(df).collect()
    }
    assert tk[0] == "a" and tk[2] == "a"
    bk = {
        r["ts"].minute: r["topic"]
        for r in compile_promql("bottomk(1, m)").evaluate(df).collect()
    }
    assert bk[0] == "a"


def test_round8_over_time_family(tiny):
    """Prometheus 3.x experimental *_over_time additions, hand-computed
    over the tiny fixture: first (earliest sample), mad (median
    absolute deviation), ts_of_max/min/last (float epoch seconds of
    the winning sample)."""
    t0 = dt.datetime(2024, 1, 1)
    e0 = t0.replace(tzinfo=dt.timezone.utc).timestamp()

    def vals(expr):
        out = compile_promql(expr).evaluate(tiny)
        return {
            (r["topic"], r["ts"].minute): r["value"]
            for r in out.filter("instance = 'h1'").collect()
        }

    first = vals("first_over_time(m[2m])")
    assert first[("a", 1)] == 10.0 and first[("a", 2)] == 40.0
    mad = vals("mad_over_time(m[3m])")
    # a@2: {10,40,5} → med 10, |dev| {0,30,5} → mad 5; b@1: {100,160} → 30
    assert mad[("a", 1)] == 15.0 and mad[("a", 2)] == 5.0
    assert mad[("b", 1)] == 30.0 and mad[("a", 0)] == 0.0
    tmax = vals("ts_of_max_over_time(m[3m])")
    assert tmax[("a", 2)] == e0 + 60.0  # max 40 @ minute 1
    tmin = vals("ts_of_min_over_time(m[3m])")
    assert tmin[("a", 2)] == e0 + 120.0  # min 5 @ minute 2
    tlast = vals("ts_of_last_over_time(m[2m])")
    assert tlast[("a", 2)] == e0 + 120.0
    # round 13: ts_of_first_over_time — first_over_time's timestamp
    # twin (Prometheus 3.5 experimental), value-independent
    tfirst = vals("ts_of_first_over_time(m[2m])")
    assert tfirst[("a", 2)] == e0 + 60.0
    assert tfirst[("a", 1)] == e0

    # grid mode takes the same kernels through the instant expansion
    g = {
        r["ts"]: r["value"]
        for r in compile_promql('mad_over_time(m{topic="a"}[3m])')
        .evaluate_range(tiny, 60.0)
        .collect()
    }
    assert g[t0 + dt.timedelta(minutes=2)] == 5.0
    gf = {
        r["ts"]: r["value"]
        for r in compile_promql('first_over_time(m{topic="a"}[2m])')
        .evaluate_range(tiny, 60.0)
        .collect()
    }
    assert gf[t0 + dt.timedelta(minutes=2)] == 40.0


def test_sort_by_label_and_limit_aggregations(tiny):
    """sort_by_label(_desc) orders the final frame by label strings;
    limitk keeps a deterministic k-subset per instant; limit_ratio's
    r / r−1 pair partitions the input exactly (the Prometheus
    documented property)."""
    out = compile_promql('sort_by_label(m, "topic")').evaluate(tiny)
    t0_rows = [r for r in out.collect() if r["ts"].minute == 0]
    assert [r["topic"] for r in t0_rows] == sorted(r["topic"] for r in t0_rows)
    out_d = compile_promql(
        'sort_by_label_desc(m, "topic", "instance")'
    ).evaluate(tiny)
    d_rows = [r for r in out_d.collect() if r["ts"].minute == 0]
    assert [r["topic"] for r in d_rows] == sorted(
        (r["topic"] for r in d_rows), reverse=True
    )

    lk = compile_promql("limitk(2, m)").evaluate(tiny)
    by_ts = {}
    for r in lk.collect():
        by_ts.setdefault(r["ts"], []).append((r["instance"], r["topic"]))
    full = compile_promql("m").evaluate(tiny)
    universe = {}
    for r in full.collect():
        universe.setdefault(r["ts"], []).append((r["instance"], r["topic"]))
    for ts, keys in by_ts.items():
        assert len(keys) == min(2, len(universe[ts]))
        # deterministic: the k FIRST series in (instance, topic) order
        assert sorted(keys) == sorted(universe[ts])[: len(keys)]

    a = compile_promql("limit_ratio(0.4, m)").evaluate(tiny).collect()
    b = compile_promql("limit_ratio(-0.6, m)").evaluate(tiny).collect()
    key = lambda r: (r["ts"], r["instance"], r["topic"])  # noqa: E731
    assert sorted(map(key, a)) + sorted(map(key, b)) and not (
        set(map(key, a)) & set(map(key, b))
    )
    assert sorted(list(map(key, a)) + list(map(key, b))) == sorted(
        map(key, full.collect())
    )
    # limit_ratio(1) keeps everything
    assert compile_promql("limit_ratio(1, m)").evaluate(tiny).count() == 6

    # round-trips through the unparser
    from kafka_metrics_exporter_spark.promql.parser import parse as _p
    from kafka_metrics_exporter_spark.promql.parser import to_promql as _u

    for e in [
        'sort_by_label(m, "topic", "instance")',
        'sort_by_label_desc(m, "topic")',
        "limitk(3, m)",
        "limit_ratio(-0.25, m)",
        "mad_over_time(m[5m])",
        "ts_of_max_over_time(m[5m])",
        "first_over_time(m[1h])",
    ]:
        assert _p(_u(_p(e))) == _p(e)
    with pytest.raises(SyntaxError):
        parse("limit_ratio(1.5, m)")
    with pytest.raises(SyntaxError):
        parse('sort_by_label(m)')


def test_pow_one_with_infinite_exponent(tiny):
    """ADVICE r7: vector `^` must follow Go/IEEE pow semantics where
    Java's Math.pow returns NaN — Pow(±1, ±Inf) == 1."""
    # m/m == 1 per element; (m/m) ^ +Inf must be 1, not NaN
    out = compile_promql("(m / m) ^ (1 / 0)").evaluate(tiny)
    assert {r["value"] for r in out.collect()} == {1.0}
    # base -1 via (m/m) * -1, exponent -Inf
    out2 = compile_promql("((m / m) * -1) ^ (-1 / 0)").evaluate(tiny)
    assert {r["value"] for r in out2.collect()} == {1.0}
    # base 1 with NaN exponent: Go Pow(1, NaN) == 1
    out3 = compile_promql("(m / m) ^ (0 / 0)").evaluate(tiny)
    assert {r["value"] for r in out3.collect()} == {1.0}
    # and the ordinary path is untouched
    out4 = compile_promql("(m / m * 2) ^ (1 / 0)").evaluate(tiny)
    assert {r["value"] for r in out4.collect()} == {float("inf")}


# ---------------------------------------------------------------- round 8:
# Grafana built-in time macros.


def test_render_duration_forms():
    from kafka_metrics_exporter_spark.promql.variables import render_duration

    assert render_duration(75) == "1m15s"
    assert render_duration(21600) == "6h"
    assert render_duration(0.5) == "500ms"
    assert render_duration(90.25) == "1m30s250ms"
    assert render_duration(7 * 86400) == "1w"
    assert render_duration(365 * 86400 + 3600) == "1y1h"
    assert render_duration(0) == "0s"
    assert render_duration(-5) == "0s"
    assert render_duration(0.0001) == "0s"  # sub-ms rounds away


def test_time_macros_formula_and_interpolation():
    from kafka_metrics_exporter_spark.promql.variables import (
        interpolate_variables,
        time_macros,
    )

    m = time_macros(21600, 900, 450)
    # max(step + scrape, 4*scrape) = max(1350, 1800)
    assert m["__rate_interval"] == "30m"
    m2 = time_macros(21600, 3600, 15)
    # step-dominated: 3600 + 15
    assert m2["__rate_interval"] == "1h15s"
    assert m2["__interval"] == "1h"
    assert m2["__range"] == "6h"
    assert m2["__range_s"] == "21600"
    out = interpolate_variables(
        "sum(rate(x[$__rate_interval])) / $__range_s + avg_over_time(x[${__interval}])",
        m2,
    )
    assert out == "sum(rate(x[1h15s])) / 21600 + avg_over_time(x[1h])"


def test_compile_dashboard_time_range_binds_macros(corpus_metrics):
    import json as _json

    from kafka_metrics_exporter_spark.promql import compile_dashboard

    dash = {
        "title": "d",
        "panels": [
            {
                "title": "req rate",
                "type": "timeseries",
                "targets": [{"expr": 'rate(click{user_id!=""}[$__rate_interval])',
                             "refId": "A"}],
            }
        ],
    }
    # 6h range, 1h step, 1h scrape -> rate window 4h
    plans = compile_dashboard(dash, time_range=(0, 21600, 3600),
                              scrape_interval_seconds=3600)
    plan = plans["req rate"]
    assert "[4h]" in plan.source
    out = plan.evaluate_range(corpus_metrics, step_seconds=3600.0)
    assert {"ts", "value"} <= set(out.columns)
    out.count()  # executes
    # explicit variable overrides the builtin (test hook)
    plans2 = compile_dashboard(
        dash, variables={"__rate_interval": "2h"}, time_range=(0, 21600, 3600)
    )
    assert "[2h]" in plans2["req rate"].source
    # without time_range the macro stays untouched -> parse error
    import pytest as _pytest

    with _pytest.raises(Exception):
        compile_dashboard(dash)


def test_compound_duration_literals():
    """Prometheus compound durations (1h30m, 1m15s — what
    $__rate_interval renders for non-round values) parse in selectors,
    offsets, and subqueries; the y unit exists (round 8)."""
    from kafka_metrics_exporter_spark.promql.parser import (
        _duration_seconds,
        parse,
    )

    assert _duration_seconds("1m15s") == 75.0
    assert _duration_seconds("1h30m") == 5400.0
    assert _duration_seconds("1m30s250ms") == 90.25
    assert _duration_seconds("1y") == 31536000.0
    parse("rate(click[1m15s])")
    parse("sum(rate(click[1h30m] offset 1h15m))")
    with pytest.raises(SyntaxError):
        parse("rate(click[15q])")


def test_info_function(spark):
    """Prometheus 3.x info() (funcInfo, experimental): data-label
    enrichment from target_info by identifying labels at the same
    instant — filter+restrict selector form, pass-through for
    identities with no info series, and existing-label precedence."""
    t0 = dt.datetime(2024, 1, 1)
    t1 = t0 + dt.timedelta(hours=1)
    rows = [
        # name, instance, job, env, version, ts, value
        ("m", "a", "app", None, None, t0, 10.0),
        ("m", "b", "app", None, None, t0, 20.0),
        ("m", "c", "app", None, None, t0, 5.0),   # no target_info
        ("m", "a", "app", None, None, t1, 11.0),
        # a sample that already carries env: the existing label wins
        ("m", "d", "app", "keep", None, t0, 7.0),
        ("target_info", "a", "app", "prod", "v1", t0, 1.0),
        ("target_info", "a", "app", "prod", "v1", t1, 1.0),
        ("target_info", "b", "app", "dev", "v2", t0, 1.0),
        ("target_info", "d", "app", "ignored", "v9", t0, 1.0),
    ]
    m = spark.createDataFrame(
        rows,
        "name string, instance string, job string, env string, "
        "version string, ts timestamp, value double",
    )
    out = compile_promql("info(m)").evaluate(m)
    got = _vals(out, "instance", "env", "version", "value")
    assert ("a", "prod", "v1", 10.0) in got
    assert ("b", "dev", "v2", 20.0) in got
    # enrichment, not a filter: no info series -> labels stay absent
    assert ("c", "", "", 5.0) in got
    # a non-empty label already on the sample wins over the info value
    assert ("d", "keep", "v9", 7.0) in got

    # selector form: filters the info series AND restricts the added
    # labels to the named ones (version is NOT added here)
    sel = compile_promql('info(m, {env=~"prod"})').evaluate(m)
    got_sel = _vals(sel, "instance", "env", "version", "value")
    assert ("a", "prod", "", 10.0) in got_sel
    assert ("b", "", "", 20.0) in got_sel  # dev filtered out -> no env

    # aggregation over added labels composes
    agg = compile_promql("sum by (env) (info(m))").evaluate(m)
    got_agg = _vals(agg, "env", "value")
    assert ("prod", 10.0) in got_agg and ("", 5.0) in got_agg

    # range (step-grid) mode: the info side goes through the same
    # lookback leaf as every selector, so enrichment lands on grid
    # instants too
    rng = compile_promql("info(m)").evaluate_range(m, step_seconds=3600.0)
    got_rng = _vals(rng, "instance", "env", "ts", "value")
    assert ("a", "prod", t1, 11.0) in got_rng

    # identifying labels must exist in the frame
    bare = m.select("name", "ts", "value", F.col("env").alias("zone"))
    with pytest.raises(ValueError):
        compile_promql("info(m)").evaluate(bare)

    # round-trip
    from kafka_metrics_exporter_spark.promql.parser import parse, to_promql

    assert to_promql(parse('info(m, {env=~"p.*"})')) == 'info(m, {env=~"p.*"})'

    # round 11.5 (removes the merge-by-max divergence): two info
    # series on ONE identity at one instant with CONFLICTING non-empty
    # values for a data label ERROR like Prometheus; complementary
    # (one empty, one set) values still union
    conflict = spark.createDataFrame(
        rows + [("target_info", "a", "app", "staging", "v1", t0, 1.0)],
        "name string, instance string, job string, env string, "
        "version string, ts timestamp, value double",
    )
    with pytest.raises(Exception, match="conflicting"):
        compile_promql("info(m)").evaluate(conflict).collect()
    # the check is an EAGER probe, so it fires even when the merged
    # label is pruned from the final plan (second-review 11.5: a lazy
    # in-plan assert vanished under ColumnPruning for sum(info(m)))
    with pytest.raises(Exception, match="conflicting"):
        compile_promql("sum(info(m))").evaluate(conflict).collect()
    complementary = spark.createDataFrame(
        rows + [("target_info", "b", "app", None, None, t0, 1.0)],
        "name string, instance string, job string, env string, "
        "version string, ts timestamp, value double",
    )
    got_c = _vals(
        compile_promql("info(m)").evaluate(complementary),
        "instance", "env", "version", "value",
    )
    assert ("b", "dev", "v2", 20.0) in got_c


def test_dashboard_panel_with_info_function(spark):
    """A Grafana panel whose target uses the 3.x info() function
    compiles through whole-dashboard replay and enriches at grid
    instants (the dashboard path always evaluates range-mode)."""
    from kafka_metrics_exporter_spark.promql import compile_dashboard

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for h in range(3):
        ts = t0 + dt.timedelta(hours=h)
        rows.append(("m", "a", "app", None, ts, 10.0 + h))
        rows.append(("target_info", "a", "app", "prod", ts, 1.0))
    m = spark.createDataFrame(
        rows,
        "name string, instance string, job string, env string, "
        "ts timestamp, value double",
    )
    dash = {
        "panels": [
            {
                "title": "By env",
                "targets": [
                    {"expr": 'sum by (env) (info(m, {env=~"$env"}))',
                     "refId": "A"},
                ],
            }
        ]
    }
    plans = compile_dashboard(dash, variables={"env": "prod.*"})
    out = plans["By env"].evaluate_range(m, step_seconds=3600.0)
    got = {(r["env"], r["ts"].hour): r["value"] for r in out.collect()}
    assert got[("prod", 0)] == 10.0 and got[("prod", 2)] == 12.0


def test_metric_named_info_stays_selectable():
    """A metric literally named `info` is valid PromQL — only
    `info(` enters the function branch (the `called` peek), matching
    Prometheus's disambiguation.  Pinned after code-review r9 raised
    it (verified a non-issue, kept as a regression pin)."""
    from kafka_metrics_exporter_spark.promql.parser import (
        Info,
        Selector,
        parse,
    )

    assert isinstance(parse('info{job="x"}'), Selector)
    assert isinstance(parse("sum(info)").expr, Selector)
    assert isinstance(parse("info(m)"), Info)


# ---------------------------------------------------------------------------
# Round 10: Prometheus 3.x native histograms
# ---------------------------------------------------------------------------
def _native_frame(spark, values, zt=0.1):
    import datetime as _dt

    t0 = _dt.datetime(2024, 1, 1)
    from kafka_metrics_exporter_spark.promql.native_hist import (
        native_histogram_table,
    )

    df = spark.createDataFrame(
        [("req", "a", t0, float(v)) for v in values],
        "name string, job string, ts timestamp, value double",
    )
    return native_histogram_table(df, ["name", "job"], zero_threshold=zt)


def test_native_histogram_functions(spark):
    """count/sum/avg/quantile/fraction over a hand-checkable sketch:
    values [0.05, 0.5, 1.5, 3, 3.5, 7] with zero_threshold 0.1 →
    zero bucket holds 0.05; schema-0 buckets (¼,½](1), (1,2](1),
    (2,4](2), (4,8](1)."""
    m = _native_frame(spark, [0.05, 0.5, 1.5, 3.0, 3.5, 7.0])

    def one(q):
        rows = compile_promql(q).evaluate(m).collect()
        assert len(rows) == 1 and rows[0]["job"] == "a"
        return rows[0]["value"]

    assert one("histogram_count(req)") == 6.0
    assert one("histogram_sum(req)") == pytest.approx(15.55)
    assert one("histogram_avg(req)") == pytest.approx(15.55 / 6)
    # rank 3 crosses (1,2] at cumulative 3: 1 + (2-1)*(3-2)/1 = 2
    assert one("histogram_quantile(0.5, req)") == 2.0
    # (1,2] and (2,4] lie fully inside [1,4]: 3 of 6 observations
    assert one("histogram_fraction(1, 4, req)") == 0.5
    # φ=0 lands in the zero bucket at rank 0 → lower edge 0
    assert one("histogram_quantile(0, req)") == 0.0
    # φ=1 → the highest populated bucket's upper bound
    assert one("histogram_quantile(1, req)") == 8.0
    # φ outside [0,1] → ±Inf, like Prometheus
    import math

    assert one("histogram_quantile(1.5, req)") == math.inf
    assert one("histogram_quantile(-0.5, req)") == -math.inf
    # partial-bucket interpolation: [3, 4] covers half of (2,4] → 1
    # observation of 6
    assert one("histogram_fraction(3, 4, req)") == pytest.approx(1 / 6)
    # zero-bucket interpolation: rank 0.6 ≤ zero_count 1 → 0.1·0.6/1
    assert one("histogram_quantile(0.1, req)") == pytest.approx(0.06)

    # stddev/stdvar: geometric bucket midpoints (funcHistogramStdDev),
    # zero bucket at 0 — hand-computed over the same sketch
    import math as _m

    mean = 15.55 / 6
    mids = [(_m.sqrt(0.25 * 0.5), 1), (_m.sqrt(1 * 2), 1),
            (_m.sqrt(2 * 4), 2), (_m.sqrt(4 * 8), 1), (0.0, 1)]
    var = sum(c * (v - mean) ** 2 for v, c in mids) / 6
    assert one("histogram_stdvar(req)") == pytest.approx(var)
    assert one("histogram_stddev(req)") == pytest.approx(_m.sqrt(var))


def test_native_histogram_classic_dispatch_untouched(spark):
    """histogram_quantile still serves classic le-bucket series; the
    native branch only fires on a `hist` column, and a frame with
    neither errors loudly."""
    import datetime as _dt

    t0 = _dt.datetime(2024, 1, 1)
    rows = [
        ("lat_bucket", "0.5", t0, 4.0),
        ("lat_bucket", "1", t0, 9.0),
        ("lat_bucket", "+Inf", t0, 10.0),
    ]
    m = spark.createDataFrame(rows, "name string, le string, ts timestamp, value double")
    out = compile_promql("histogram_quantile(0.5, lat_bucket)").evaluate(m).collect()
    assert len(out) == 1  # classic path produced one group
    # rank 5 crosses le=1 (cum 9, prev 4): 0.5 + 0.5*(5-4)/(9-4)
    assert out[0]["value"] == pytest.approx(0.6)
    plain = spark.createDataFrame(
        [("x", t0, 1.0)], "name string, ts timestamp, value double"
    )
    with pytest.raises(ValueError, match="`le` label .*or a `hist`"):
        compile_promql("histogram_quantile(0.5, x)").evaluate(plain).collect()
    with pytest.raises(ValueError, match="native-histogram samples"):
        compile_promql("histogram_count(x)").evaluate(plain).collect()


def test_native_histogram_builder_edges(spark):
    """Zero-threshold-only cells quantile inside the zero bucket —
    with neither positive nor negative buckets, promql/quantile.go
    leaves the zero bucket's bounds at [-zt, zt] (the clamps require a
    populated side), so the median of a zero-only sample is 0, not
    zt/2 (round 11: the exact Prometheus rule replaced the positive-
    only simplification); parse/render roundtrip for the new
    functions."""
    m = _native_frame(spark, [0.01, 0.02, 0.05])
    out = compile_promql("histogram_quantile(0.5, req)").evaluate(m).collect()
    # rank 1.5 of zero_count 3 over [-0.1, 0.1] → midpoint 0
    assert out[0]["value"] == pytest.approx(0.0, abs=1e-12)
    # quartiles interpolate linearly across the span
    out = compile_promql("histogram_quantile(0.25, req)").evaluate(m).collect()
    assert out[0]["value"] == pytest.approx(-0.05)

    from kafka_metrics_exporter_spark.promql.parser import to_promql

    for q in (
        "histogram_count(req)",
        "histogram_sum(req{job=\"a\"})",
        "histogram_avg(req)",
        "histogram_fraction(1, 64, req)",
        "histogram_fraction(0.5, 2.5, req)",
    ):
        assert to_promql(parse(to_promql(parse(q)))) == to_promql(parse(q))


def test_native_histogram_nan_observations(spark):
    """Round 11.5 — the spec's NaN treatment (r11 dropped NaN
    observations whole, a documented divergence): a NaN observation
    increments count, poisons sum to NaN, and lands in NO bucket;
    quantile ranks past the bucketed mass clamp to the highest
    populated upper bound."""
    import math

    m = _native_frame(
        spark, [0.5, 1.5, 3.0, float("nan"), float("nan")]
    )
    row = m.collect()[0]["hist"]
    assert row["count"] == 5.0          # NaN observations counted
    assert math.isnan(row["sum"])       # ... and poison the sum
    assert sum(row["cnt"]) == 3.0       # ... but occupy no bucket
    assert row["zero_count"] == 0.0

    def val(q):
        return compile_promql(q).evaluate(m).collect()[0]["value"]

    assert val("histogram_count(req)") == 5.0
    assert math.isnan(val("histogram_avg(req)"))
    assert math.isnan(val("histogram_stddev(req)"))
    # values [0.5, 1.5, 3] → buckets (¼,½](1), (1,2](1), (2,4](1).
    # rank 0.5·5 = 2.5 is inside the bucketed mass: cum reaches 2
    # after (1,2], so the crossing span is (2,4]: 2 + 2·(2.5−2)/1 = 3
    assert val("histogram_quantile(0.5, req)") == pytest.approx(3.0)
    # rank 0.9·5 = 4.5 exceeds the bucketed mass 3 → clamp to the
    # highest populated upper bound (4)
    assert val("histogram_quantile(0.9, req)") == pytest.approx(4.0)
    # fractions divide by the full count (NaN mass is "outside" every
    # range, like Prometheus)
    assert val("histogram_fraction(0.25, 4, req)") == pytest.approx(3 / 5)

    # an all-NaN sample: count 1, sum NaN, no populated bucket at all
    # → quantile has neither a crossing span nor a clamp bound (NULL),
    # fraction is 0 (nothing provably inside any range), stddev is NaN
    # (the mean is NaN — code-review 11.5: the empty fold's 0.0 init
    # must not leak out as a variance)
    m2 = _native_frame(spark, [float("nan")])
    r2 = m2.collect()[0]["hist"]
    assert r2["count"] == 1.0 and math.isnan(r2["sum"])

    def val2(q):
        return compile_promql(q).evaluate(m2).collect()[0]["value"]

    assert val2("histogram_quantile(0.9, req)") is None
    assert val2("histogram_fraction(0, 100, req)") == pytest.approx(0.0)
    assert math.isnan(val2("histogram_stddev(req)"))


def test_native_histogram_rate_and_reset(spark):
    """rate/increase/delta over native-histogram series: field- and
    bucket-wise adjacent-sample differences (scaled per-second for
    rate), counter resets restarting from the current sample, and the
    result composing with every histogram_* consumer."""
    import datetime as _dt

    from kafka_metrics_exporter_spark.promql.native_hist import (
        native_histogram_table,
    )

    t0 = _dt.datetime(2024, 1, 1)
    rows = [("m", "j", t0, v) for v in (1.5, 3.0)]
    rows += [("m", "j", t0 + _dt.timedelta(seconds=10), v)
             for v in (1.5, 3.0, 3.5, 7.0, 0.5)]
    rows += [("m", "k", t0, v) for v in (1.0, 1.0, 1.0)]
    rows += [("m", "k", t0 + _dt.timedelta(seconds=10), 2.0)]
    df = spark.createDataFrame(
        rows, "name string, job string, ts timestamp, value double"
    )
    ht = native_histogram_table(df, ["name", "job"], zero_threshold=0.1)

    def by_job(q):
        return {
            r["job"]: r["value"]
            for r in compile_promql(q).evaluate(ht).collect()
        }

    # j: 3 new observations over 10 s; k RESETS (count 3 -> 1), so the
    # delta restarts from the current sample
    assert by_job("histogram_count(rate(m[1m]))") == pytest.approx(
        {"j": 0.3, "k": 0.1}
    )
    assert by_job("histogram_sum(increase(m[1m]))") == pytest.approx(
        {"j": 15.5 - 4.5, "k": 2.0}
    )
    # rate histogram quantile: rank 0.15 crosses (2,4] at cum 0.2
    assert by_job("histogram_quantile(0.5, rate(m[1m]))") == pytest.approx(
        {"j": 3.0, "k": 1.5}
    )
    # 2 of the 3 added observations lie in (2, 8]
    assert by_job("histogram_fraction(2, 8, increase(m[1m]))") == pytest.approx(
        {"j": 2 / 3, "k": 0.0}
    )
    # delta (gauge rule): NO reset clamp — k's count delta goes negative
    assert by_job("histogram_count(delta(m[1m]))") == pytest.approx(
        {"j": 3.0, "k": -2.0}
    )
    # the window gap bound still applies: a 1s window emits nothing
    assert by_job("histogram_count(rate(m[1s]))") == {}


def test_native_histogram_reset_on_bucket_decrease(spark):
    """Code-review r10: a counter restart that re-accrues FASTER than
    the old total (count increases but a bucket decreases) must still
    be detected as a reset — Prometheus checks every bucket."""
    import datetime as _dt

    from kafka_metrics_exporter_spark.promql.native_hist import (
        native_histogram_table,
    )

    t0 = _dt.datetime(2024, 1, 1)
    # prev: 3 obs in (2,4]; cur (after restart): 4 obs in (1,2]
    rows = [("m", "j", t0, 3.0)] * 3
    rows += [("m", "j", t0 + _dt.timedelta(seconds=10), 1.5)] * 4
    df = spark.createDataFrame(
        rows, "name string, job string, ts timestamp, value double"
    )
    ht = native_histogram_table(df, ["name", "job"])
    got = compile_promql("histogram_count(increase(m[1m]))").evaluate(ht).collect()
    # reset -> restart from cur: 4 observations, not 4-3=1 with a
    # phantom -3 bucket
    assert got[0]["value"] == 4.0
    q = compile_promql("histogram_quantile(1, increase(m[1m]))").evaluate(ht).collect()
    assert q[0]["value"] == 2.0  # all mass in (1,2] — no negative bucket


def test_rate_dispatch_mixed_scalar_and_histogram_frame(spark):
    """Code-review r10: one frame carrying scalar counters (hist NULL)
    AND native-histogram series must rate() both — frame-wide dispatch
    silently nulled the scalar rates."""
    import datetime as _dt

    from kafka_metrics_exporter_spark.promql.native_hist import (
        native_histogram_table,
    )

    t0 = _dt.datetime(2024, 1, 1)
    hrows = [("h", "j", t0, 1.5), ("h", "j", t0 + _dt.timedelta(seconds=10), 1.5)]
    hrows += [("h", "j", t0 + _dt.timedelta(seconds=10), 3.0)]
    hdf = spark.createDataFrame(
        hrows, "name string, job string, ts timestamp, value double"
    )
    ht = native_histogram_table(hdf, ["name", "job"])
    scalars = spark.createDataFrame(
        [("s", "j", t0, 10.0), ("s", "j", t0 + _dt.timedelta(seconds=10), 30.0)],
        "name string, job string, ts timestamp, value double",
    )
    mixed = ht.unionByName(
        scalars.withColumn("hist", F.lit(None).cast(ht.schema["hist"].dataType)),
        allowMissingColumns=True,
    )
    s = compile_promql("rate(s[1m])").evaluate(mixed).collect()
    assert [r["value"] for r in s] == [pytest.approx(2.0)]
    h = compile_promql("histogram_count(rate(h[1m]))").evaluate(mixed).collect()
    assert [r["value"] for r in h] == [pytest.approx(0.1)]


def test_native_histogram_builder_drops_null_not_nan(spark):
    """NULL observations drop (an unparseable scrape sample never
    happened) without dying in an ANSI cast inside the positive-bucket
    branch (code-review r10); NaN observations do NOT drop — they
    follow the spec (count++, sum → NaN, no bucket; round 11.5,
    asserted in detail by test_native_histogram_nan_observations)."""
    import datetime as _dt
    import math

    from kafka_metrics_exporter_spark.promql.native_hist import (
        native_histogram_table,
    )

    rows = [("m", "j", _dt.datetime(2024, 1, 1), v)
            for v in (1.5, None, float("nan"), 3.0)]
    df = spark.createDataFrame(
        rows, "name string, job string, ts timestamp, value double"
    )
    ht = native_histogram_table(df, ["name", "job"])
    h = ht.first()["hist"]
    assert h["count"] == 3.0            # NULL dropped, NaN counted
    assert math.isnan(h["sum"])
    assert sum(h["cnt"]) == 2.0         # NaN occupies no bucket


# ---------------------------------------------------------------------------
# Round 11: negative buckets complete the native-histogram schema
# ---------------------------------------------------------------------------
def test_native_histogram_negative_buckets(spark):
    """VERDICT r10 item 5: the full 3.x observation domain.  Hand-
    checked spans for zt=0.1 over [-8, -3, -0.05, 0.05, 2, 6]:
    neg idx3 [-8,-4) / neg idx2 [-4,-2) / zero [-0.1,0.1] /
    pos idx1 (1,2] / pos idx3 (4,8]."""
    import math

    m = _native_frame(spark, [-8.0, -3.0, -0.05, 0.05, 2.0, 6.0])

    def v(q):
        rows = compile_promql(q).evaluate(m).collect()
        assert len(rows) == 1
        return rows[0]["value"]

    assert v("histogram_count(req)") == pytest.approx(6.0)
    assert v("histogram_sum(req)") == pytest.approx(-3.0)
    assert v("histogram_avg(req)") == pytest.approx(-0.5)
    # rank 3 lands mid-zero-bucket: -0.1 + 0.2 * (3-2)/2 = 0
    assert v("histogram_quantile(0.5, req)") == pytest.approx(0.0, abs=1e-12)
    # rank 1 exhausts the most negative bucket: its upper bound -4
    assert v("histogram_quantile(0.16666666666666666, req)") == pytest.approx(-4.0)
    # phi=0 → the lowest populated bound
    assert v("histogram_quantile(0, req)") == pytest.approx(-8.0)
    assert v("histogram_quantile(1, req)") == pytest.approx(8.0)
    # overlap: 1/4 of [-8,-4) + all of [-4,-2) + all of zero + half of
    # (1,2] = 0.25 + 1 + 2 + 0.5 = 3.75 of 6
    assert v("histogram_fraction(-5, 1.5, req)") == pytest.approx(0.625)
    # geometric midpoints, negated on the negative side, 0 for zero
    mean = -0.5
    mids = [(-math.sqrt(32), 1), (-math.sqrt(8), 1), (0.0, 2),
            (math.sqrt(2), 1), (math.sqrt(32), 1)]
    want = sum(c * (mid - mean) ** 2 for mid, c in mids) / 6
    assert v("histogram_stdvar(req)") == pytest.approx(want)
    assert v("histogram_stddev(req)") == pytest.approx(math.sqrt(want))


def test_native_histogram_zero_bucket_clamps(spark):
    """promql/quantile.go bound adjustment: the zero bucket spans
    [0, zt] when only positive buckets exist, [-zt, 0] when only
    negative ones do, [-zt, zt] otherwise."""
    pos_only = _native_frame(spark, [0.05, 2.0])
    out = compile_promql("histogram_quantile(0.25, req)").evaluate(pos_only).collect()
    assert out[0]["value"] == pytest.approx(0.05)  # 0 + 0.1 * 0.5/1

    neg_only = _native_frame(spark, [-0.05, -2.0])
    out = compile_promql("histogram_quantile(0.75, req)").evaluate(neg_only).collect()
    assert out[0]["value"] == pytest.approx(-0.05)  # -0.1 + 0.1 * 0.5/1
    # fraction applies the same clamp: [-0.1, 0] holds 1 of 2 obs
    out = compile_promql("histogram_fraction(-0.1, 0, req)").evaluate(neg_only).collect()
    assert out[0]["value"] == pytest.approx(0.5)
    out = compile_promql("histogram_fraction(0, 0.1, req)").evaluate(neg_only).collect()
    assert out[0]["value"] == pytest.approx(0.0)


def test_native_histogram_negative_rate_and_reset(spark):
    """hist_delta over negative buckets: bucket-wise union subtraction
    on BOTH sides; a decreasing sum is NOT a reset signal once
    negative buckets exist (Prometheus drops the sum test there), but
    a decreasing negative bucket IS."""
    import datetime as _dt

    from kafka_metrics_exporter_spark.promql.native_hist import (
        native_histogram_table,
    )

    t0 = _dt.datetime(2024, 1, 1)
    rows = [("m", "j", t0, v) for v in (-3.0, 2.0)]
    # j accrues two more observations, one negative — sum DROPS from
    # -1 to -3 but that must not read as a restart
    rows += [("m", "j", t0 + _dt.timedelta(seconds=10), v)
             for v in (-3.0, -8.0, 2.0, 6.0)]
    # k loses its negative-bucket count (2 -> 1 in idx 2): reset, the
    # delta restarts from the current sample even though count grew
    rows += [("m", "k", t0, v) for v in (-3.0, -3.5)]
    rows += [("m", "k", t0 + _dt.timedelta(seconds=10), v)
             for v in (-3.0, 5.0, 7.0)]
    df = spark.createDataFrame(
        rows, "name string, job string, ts timestamp, value double"
    )
    ht = native_histogram_table(df, ["name", "job"], zero_threshold=0.1)

    def by_job(q):
        return {
            r["job"]: r["value"]
            for r in compile_promql(q).evaluate(ht).collect()
        }

    assert by_job("histogram_count(increase(m[1m]))") == pytest.approx(
        {"j": 2.0, "k": 3.0}
    )
    assert by_job("histogram_sum(increase(m[1m]))") == pytest.approx(
        {"j": -2.0, "k": -3.0 + 5.0 + 7.0}
    )
    # j's increase histogram holds one obs in [-8,-4) and one in (4,8]
    assert by_job(
        "histogram_fraction(-10, 0, increase(m[1m]))"
    ) == pytest.approx({"j": 0.5, "k": 1 / 3})
    # gauge delta subtracts verbatim: k's idx2 negative bucket shrinks
    assert by_job("histogram_count(delta(m[1m]))") == pytest.approx(
        {"j": 2.0, "k": 1.0}
    )


def test_native_histogram_schema3(spark):
    """Round 12 (VERDICT r11 item 5): schema 3 — Prometheus 3.x's
    default resolution, 8 buckets per octave, base 2^(1/8).  Values
    1.0 and 2.0 sit exactly on bucket upper bounds (ceil(log2(v)·8)
    is exact for powers of two), so the quantile interpolation lands
    on hand-computable doubles."""
    import datetime as _dt

    from kafka_metrics_exporter_spark.promql.native_hist import (
        native_histogram_table,
    )

    t0 = _dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("req", "a", t0, 1.0), ("req", "a", t0, 2.0)],
        "name string, job string, ts timestamp, value double",
    )
    m = native_histogram_table(df, ["name", "job"], schema=3, zero_threshold=0.1)
    h = m.select("hist.*").collect()[0]
    assert h["schema"] == 3 and h["count"] == 2.0
    # 1.0 -> idx 0 covering (2^(-1/8), 1]; 2.0 -> idx 8 covering (2^(7/8), 2]
    assert list(h["idx"]) == [0, 8]

    def one(q):
        return compile_promql(q).evaluate(m).collect()[0]["value"]

    assert one("histogram_count(req)") == 2.0
    assert one("histogram_sum(req)") == pytest.approx(3.0)
    # rank 1 crosses bucket idx 0 at its upper bound exactly
    assert one("histogram_quantile(0.5, req)") == 1.0
    assert one("histogram_quantile(1, req)") == 2.0
    # linear within-bucket interpolation: the 1.0 observation sits in
    # (2^(-1/8)≈0.917, 1], whose overlap with [1, 2] has measure zero,
    # so only the (2^(7/8), 2] bucket counts → 1 of 2 observations
    assert one("histogram_fraction(1, 2, req)") == pytest.approx(0.5)
    # widen the range below the first bucket's lower bound: both count
    assert one("histogram_fraction(0.5, 2, req)") == pytest.approx(1.0)


def test_utf8_quoted_names(spark):
    """Prometheus 3.x UTF-8 name syntax (round 16, VERDICT r15 item 7):
    quoted metric names in braces (bare entry = __name__), quoted label
    names in matcher blocks and by/on lists; compile + evaluate over a
    dotted metric name and a unicode label name; the engine's
    label→column contract rejects '.'/'`' label names loudly."""
    import datetime as _dt

    from kafka_metrics_exporter_spark.promql import compile_promql
    from kafka_metrics_exporter_spark.promql.parser import parse, to_promql

    t0 = _dt.datetime(2024, 1, 1)
    rows = [
        ("http.server.req/total", "h1", t0, 3.0),
        ("http.server.req/total", "h2", t0, 4.0),
        ("other", "h1", t0, 99.0),
    ]
    df = spark.createDataFrame(
        rows, "name string, `host-name` string, ts timestamp, value double"
    )
    # dotted metric name: bare quoted entry selects it
    got = compile_promql('{"http.server.req/total"}').evaluate(df).collect()
    assert sorted(r["value"] for r in got) == [3.0, 4.0]
    # quoted label name in matcher + by clause (dash: not a legacy ident)
    q = 'sum by ("host-name") ({"http.server.req/total", "host-name"=~"h."})'
    got2 = {r["host-name"]: r["value"]
            for r in compile_promql(q).evaluate(df).collect()}
    assert got2 == {"h1": 3.0, "h2": 4.0}
    # round-trip renders back the quoted forms
    assert parse(to_promql(parse(q))) == parse(q)
    # classic names may also be quoted (3.x allows it)
    got3 = compile_promql('{"other"}').evaluate(df).collect()
    assert [r["value"] for r in got3] == [99.0]
    # label→column contract: '.'/'`' label names reject at parse
    for bad in ['{"a.b"="v"}', 'sum by ("a.b") (m)', '{"a`b"="v"}']:
        with pytest.raises(SyntaxError, match="metacharacters"):
            parse(bad)
    # a metric name entry is selector-only, and only once
    with pytest.raises(SyntaxError, match="set twice"):
        parse('{"m1", "m2"}')
    with pytest.raises(SyntaxError, match="set twice"):
        parse('foo{"bar"}')
