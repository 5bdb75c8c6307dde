"""Exposition-format source/sink (sources/openmetrics.py): parse
fixtures with every syntactic feature, escape round-trips (property-
tested), malformed-line handling, and the serialize→parse inverse.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest
from conftest import GRAFANA_DASHBOARDS
from pyspark.sql import functions as F

from kafka_metrics_exporter_spark.sources.openmetrics import (
    exposition_lines,
    labels_to_columns,
    parse_exposition,
)

_TEXT = """\
# HELP kafka_bytes_in Bytes in per topic.
# TYPE kafka_bytes_in counter
kafka_bytes_in{topic="a",instance="h1:9092"} 1024 1704067200000
kafka_bytes_in{topic="b",instance="h1:9092"} 2048.5 1704067200000

kafka_up 1
jvm_ratio{area="heap"} 0.25e1
weird{msg="comma, and eq = inside",path="C:\\\\dir",quote="say \\"hi\\"",nl="a\\nb"} -7 1704067260000
special_nan NaN
special_inf{sign="p"} +Inf
special_inf{sign="n"} -Inf
not a metric line at all
broken_value{x="y"} oops
# EOF
"""


@pytest.fixture(scope="module")
def parsed(spark):
    lines = spark.createDataFrame(
        [(l,) for l in _TEXT.splitlines()], "value string"
    )
    df = parse_exposition(lines)
    df.cache()
    yield df
    df.unpersist()


def test_comments_blanks_and_junk_dropped(parsed):
    # 8 well-formed samples; HELP/TYPE/EOF/blank/junk/bad-value dropped
    assert parsed.count() == 8
    assert set(parsed.columns) == {"name", "labels", "ts", "value"}


def test_basic_sample_fields(parsed):
    r = parsed.filter("name = 'kafka_bytes_in'").orderBy("value").collect()
    assert [x["value"] for x in r] == [1024.0, 2048.5]
    assert r[0]["labels"] == {"topic": "a", "instance": "h1:9092"}
    assert r[0]["ts"] == dt.datetime(2024, 1, 1, 0, 0)


def test_no_labels_no_timestamp_and_scientific(parsed):
    up = parsed.filter("name = 'kafka_up'").first()
    assert up["labels"] == {} and up["ts"] is None and up["value"] == 1.0
    ratio = parsed.filter("name = 'jvm_ratio'").first()
    assert ratio["value"] == 2.5


def test_quote_aware_label_parsing_and_escapes(parsed):
    w = parsed.filter("name = 'weird'").first()
    assert w["labels"] == {
        "msg": "comma, and eq = inside",
        "path": "C:\\dir",
        "quote": 'say "hi"',
        "nl": "a\nb",
    }
    assert w["value"] == -7.0


def test_special_values(parsed):
    assert math.isnan(parsed.filter("name = 'special_nan'").first()["value"])
    inf = {
        r["labels"]["sign"]: r["value"]
        for r in parsed.filter("name = 'special_inf'").collect()
    }
    assert inf == {"p": float("inf"), "n": float("-inf")}


def test_strict_mode_flags_corrupt(spark):
    lines = spark.createDataFrame(
        [("m 1",), ("not a metric line at all",), ("broken{x=\"y\"} oops",)],
        "value string",
    )
    df = parse_exposition(lines, strict=True)
    assert df.count() == 3
    corrupt = [r["_corrupt"] for r in df.collect() if r["_corrupt"] is not None]
    assert len(corrupt) == 2


def test_default_ts_fill(spark):
    lines = spark.createDataFrame([("m 1",)], "value string")
    out = parse_exposition(lines, default_ts="2024-02-01 00:00:00").first()
    assert out["ts"] == dt.datetime(2024, 2, 1)


def test_labels_to_columns(parsed):
    cols = labels_to_columns(parsed.filter("name = 'kafka_bytes_in'"), ["topic", "gone"])
    r = cols.orderBy("value").first()
    assert r["topic"] == "a" and r["gone"] == ""


def test_serialize_parse_roundtrip(spark):
    rows = [
        ("m", dt.datetime(2024, 1, 1), 1.5, "a", "h1:9092"),
        ("m", dt.datetime(2024, 1, 1, 0, 1), -2.0, 'q"v\\x', "line1\nline2"),
        ("n", dt.datetime(2024, 1, 1), float("inf"), "", "h2"),  # empty label omitted
        ("z", dt.datetime(2024, 1, 1), float("nan"), "t", "h3"),
    ]
    df = spark.createDataFrame(
        rows, "name string, ts timestamp, value double, topic string, instance string"
    )
    text = exposition_lines(df, label_cols=["topic", "instance"])
    back = labels_to_columns(parse_exposition(text), ["topic", "instance"])
    got = {
        (r["name"], r["ts"], r["topic"], r["instance"]): r["value"]
        for r in back.collect()
    }
    assert got[("m", dt.datetime(2024, 1, 1), "a", "h1:9092")] == 1.5
    assert got[("m", dt.datetime(2024, 1, 1, 0, 1), 'q"v\\x', "line1\nline2")] == -2.0
    assert got[("n", dt.datetime(2024, 1, 1), "", "h2")] == float("inf")
    assert math.isnan(got[("z", dt.datetime(2024, 1, 1), "t", "h3")])


def test_roundtrip_from_labels_map(spark):
    df = spark.createDataFrame(
        [("m", dt.datetime(2024, 1, 1), 3.0, {"a": "x,y=z"})],
        "name string, ts timestamp, value double, labels map<string,string>",
    )
    text = exposition_lines(df)
    line = text.first()["value"]
    assert line == 'm{a="x,y=z"} 3.0 1704067200000'
    back = parse_exposition(text).first()
    assert back["labels"] == {"a": "x,y=z"} and back["value"] == 3.0


def test_openmetrics_float_seconds_and_exemplars(spark):
    """ADVICE r7: OpenMetrics-proper lines — float-second timestamps
    and exemplar suffixes — must parse instead of silently dropping."""
    lines = spark.createDataFrame(
        [
            ("m{a=\"x\"} 1 1704067200.250",),  # float seconds
            ("m{a=\"y\"} 2 1704067200",),  # integer seconds
            # exemplar after the timestamp: stripped, labels untouched
            ('h_bucket{le="0.5"} 4 1704067200 # {trace_id="abc"} 0.4',),
            # exemplar with no sample timestamp
            ('h_bucket{le="1"} 7 # {trace_id="def",span="s}x"} 0.9 1704067200.5',),
            # a '}' inside a quoted label value still parses (block is
            # quote-aware, not non-greedy)
            ('braces{v="a}b"} 5 1704067201',),
        ],
        "value string",
    )
    out = parse_exposition(lines, timestamp_unit="s")
    got = {
        (r["name"], tuple(sorted(r["labels"].items()))): (r["ts"], r["value"])
        for r in out.collect()
    }
    t0 = dt.datetime(2024, 1, 1)
    assert got[("m", (("a", "x"),))] == (
        t0 + dt.timedelta(milliseconds=250),
        1.0,
    )
    assert got[("m", (("a", "y"),))] == (t0, 2.0)
    assert got[("h_bucket", (("le", "0.5"),))] == (t0, 4.0)
    # exemplar-only suffix: sample has NO timestamp → NULL ts; the
    # exemplar's trace_id/span labels must not leak into the map
    assert got[("h_bucket", (("le", "1"),))] == (None, 7.0)
    assert got[("braces", (("v", "a}b"),))] == (
        t0 + dt.timedelta(seconds=1),
        5.0,
    )


def test_float_ms_timestamps_parse_in_ms_mode(spark):
    lines = spark.createDataFrame(
        [("m 1 1704067200000.5",)], "value string"
    )
    r = parse_exposition(lines).first()
    assert r["ts"] == dt.datetime(2024, 1, 1, 0, 0, 0, 500)


def test_serialize_float_seconds_roundtrip(spark):
    df = spark.createDataFrame(
        [("m", dt.datetime(2024, 1, 1, 0, 0, 0, 250000), 3.0, {"a": "x"})],
        "name string, ts timestamp, value double, labels map<string,string>",
    )
    text = exposition_lines(df, timestamp_unit="s")
    assert text.first()["value"] == 'm{a="x"} 3.0 1704067200.250'
    back = parse_exposition(text, timestamp_unit="s").first()
    assert back["ts"] == dt.datetime(2024, 1, 1, 0, 0, 0, 250000)
    with pytest.raises(ValueError):
        parse_exposition(text, timestamp_unit="us")
    with pytest.raises(ValueError):
        exposition_lines(df, timestamp_unit="ns")


def test_parse_plan_stays_jvm_side(spark):
    """The decode path must be pure codegen expressions — no
    BatchEvalPython/ArrowEvalPython nodes (the 100 TB argument)."""
    lines = spark.createDataFrame([("m 1",)], "value string")
    plan = parse_exposition(lines)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


@pytest.mark.reference
def test_lake_replay_dashboard_e2e(spark, tmp_path):
    """VERDICT r7 item 6 — the scrape-dump-directory-as-a-lake story
    end-to-end: serialize an hourly series view to exposition text
    files, read them back with ``spark.read.text`` + parse_exposition
    + labels_to_columns, and replay a full reference dashboard over
    the round-tripped series.  Every panel must produce EXACTLY the
    rows it produces over the original frame (the round trip is the
    identity), mirroring tests/test_promql_pipeline.py's
    text-to-result thread for the Jolokia path."""
    import json
    import os

    from kafka_metrics_exporter_spark.promql import compile_dashboard

    labels = [
        "job", "instance", "area", "clientId", "request", "topic",
        "connector", "task", "gc", "quantile",
    ]
    names = [
        "zookeeper_NodeCount",
        "zookeeper_PacketsReceived",
        "zookeeper_PacketsSent",
        "jvm_memory_bytes_used",
    ]
    rows = []
    for ni, name in enumerate(names):
        for s in range(2):
            lab = {
                "job": f"job{s}", "instance": f"host{s}:1234",
                "area": "heap", "clientId": f"c{s}",
                "request": "Produce" if s == 0 else "Fetch",
                "topic": f"t{s}", "connector": f"conn{s}", "task": str(s),
                "gc": "G1", "quantile": "0.99",
            }
            for i in range(3):  # three hourly samples per series
                rows.append(
                    (
                        name,
                        dt.datetime(2024, 1, 1, i),
                        float(100 * ni + 10 * s + i * i),
                        *[lab[c] for c in labels],
                    )
                )
    schema = "name string, ts timestamp, value double, " + ", ".join(
        f"{c} string" for c in labels
    )
    series = spark.createDataFrame(rows, schema)

    lake = str(tmp_path / "lake")
    exposition_lines(series, label_cols=labels).write.text(lake)
    back = labels_to_columns(
        parse_exposition(spark.read.text(lake)), labels
    )
    cols = ["name", "ts", "value", *labels]
    orig_rows = {tuple(r[c] for c in cols) for r in series.collect()}
    back_rows = {tuple(r[c] for c in cols) for r in back.collect()}
    assert orig_rows == back_rows  # the lake round trip is the identity

    with open(os.path.join(GRAFANA_DASHBOARDS, "ZooKeeper_Dashboard.json")) as fh:
        zk = json.load(fh)
    plans = compile_dashboard(zk, variables={"ServerName": "host0:1234"})
    assert len(plans) == 8
    nonempty = 0
    key_of = lambda r: tuple(sorted(r.asDict().items()))  # noqa: E731
    for key, plan in plans.items():
        a = sorted(map(key_of, plan.evaluate(series).collect()))
        b = sorted(map(key_of, plan.evaluate(back).collect()))
        assert a == b, key
        nonempty += bool(b)
    assert nonempty >= 3


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _label_val = st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs",),  # no lone surrogates
            blacklist_characters="\x00",
        ),
        max_size=30,
    )

    @given(val=_label_val)
    @settings(max_examples=25, deadline=None)
    def test_escape_roundtrip_property(spark, val):
        """Any label value (backslashes, quotes, newlines, unicode)
        survives serialize→parse."""
        df = spark.createDataFrame(
            [("m", dt.datetime(2024, 1, 1), 1.0, val)],
            "name string, ts timestamp, value double, lab string",
        )
        text = exposition_lines(df, label_cols=["lab"])
        back = labels_to_columns(parse_exposition(text), ["lab"]).first()
        assert back["lab"] == val

except ImportError:  # pragma: no cover
    pass


def test_raw_sentinel_bytes_cannot_fabricate_samples(spark):
    """Code-review r9: garbage lines already containing the \\x01/\\x02
    join bytes must stay corrupt — without the match marker, a line
    like 'abc\\x011\\x01' split into three plausible fields and parsed
    as (abc, 1.0)."""
    from kafka_metrics_exporter_spark.sources.openmetrics import (
        parse_exposition,
    )

    lines = spark.createDataFrame(
        [
            ("abc\x011\x01",),
            ("\x02abc\x011\x01",),
            ("xyz\x019\x017\x02",),
            ('ok{l="\x01 legal raw byte"} 4 7',),  # \x01 INSIDE a quoted
            # label value is legal input and must still parse
        ],
        "value string",
    )
    out = parse_exposition(lines).collect()
    assert [(r["name"], r["value"]) for r in out] == [("ok", 4.0)]
    strict = parse_exposition(lines, strict=True).collect()
    corrupt = [r["_corrupt"] for r in strict if r["_corrupt"] is not None]
    assert len(corrupt) == 3


def test_parse_plan_pins_evaluate_once_barrier(spark):
    """Plan-shape pin (VERDICT r16 item 4 / ADVICE r16): the
    evaluate-once structure of parse_exposition relies on singleton
    ``shuffle(array(x))`` being non-deterministic to the optimizer so
    CollapseProject cannot inline the upstream line expression into
    every consumer.  If a future Spark version constant-folds or
    special-cases singleton shuffle, the backtracking-priced line regex
    would silently re-inline (it ran ~10x per row before r16).  Pin:
    the optimized plan evaluates the line regex exactly twice (the
    sentinel regexp_replace + the label-block regexp_extract) and keeps
    both shuffle barriers."""
    from kafka_metrics_exporter_spark.sources.openmetrics import _LINE_RE

    lines = spark.createDataFrame([("m 1",)], "value string")
    out = parse_exposition(lines)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the full pattern string is truncated in plan rendering; a stable
    # unique prefix of the regex identifies each evaluation site
    probe = _LINE_RE[:25]
    assert plan.count(probe) == 2, plan
    assert plan.count("shuffle(") >= 2, plan
