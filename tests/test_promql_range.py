"""Range-query (step-grid) evaluation: Prometheus window-extrapolated
rate/increase, true two-sample irate, lookback selectors, grid
over_time — hand-computed expectations following
prometheus/promql/functions.go extrapolatedRate (public source).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from kafka_metrics_exporter_spark.promql import compile_promql

# epoch-second base divisible by every step used below (10/15/25/30 s):
# the grid aligns to ABSOLUTE epoch multiples of the step, so offsets
# in the expectations match grid instants only when the base is aligned
BASE_US = 1_712_000_100_000_000  # 1712000100 % 150 == 0


@pytest.fixture(scope="module")
def counters(spark):
    """Series a: 10 s cadence with a reset; series b: sparse (gap)."""
    rows = []
    vals_a = [0, 10, 20, 35, 5, 15, 30, 60, 90, 120]  # reset at idx 4
    for i, v in enumerate(vals_a):
        rows.append(("reqs", "a", float(v), i * 10))
    for i, v in [(0, 0), (1, 7), (6, 50), (7, 60)]:
        rows.append(("reqs", "b", float(v), i * 10))
    return (
        spark.createDataFrame(rows, "name string, job string, value double, sec long")
        .select(
            "name",
            "job",
            F.timestamp_micros(F.col("sec") * 1_000_000 + F.lit(BASE_US)).alias("ts"),
            "value",
        )
    )


def _by_key(df, *keys):
    return {
        tuple(getattr(r, k) for k in keys): r.value for r in df.collect()
    }


def _sec(r):
    return (int(r.timestamp()) * 1_000_000 - BASE_US) // 1_000_000


def test_extrapolated_rate_hand_computed(counters):
    out = compile_promql("rate(reqs[30s])").evaluate_range(counters, step_seconds=10)
    got = {(r.job, _sec(r.ts)): r.value for r in out.collect()}
    # t=30: window (0,30] has samples 10s(10),20s(20),30s(35)... wait —
    # samples are at 0,10,20,...; (0,30] excludes 0 → {10,20,35} at
    # 10/20/30 s.  rawΔ=25, sampled=20, durStart=10, zero-cap:
    # 20*(10/25)=8 < 10 → 8 (< thr 11 → add), durEnd=0 → ext=28,
    # rate = 25*(28/20)/30 = 35/30
    assert got[("a", 30)] == pytest.approx(35 / 30)
    # reset inside window, t=60: corrected {20,35,40} → Δ=20,
    # durStart=10 (zero-cap 20*(20/20)=20 not <10), ext=30 →
    # 20*1.5/30 = 1.0
    assert got[("a", 60)] == pytest.approx(1.0)
    # left-open window: b has one sample in (20,50] → no point
    assert ("b", 50) not in got
    # b, t=40: samples 0s excluded? (10,40] → {10s:7, ...}; only 10s →
    # wait b samples: 0,10,60,70 s.  (10,40] → just 10s — dropped; but
    # (0+..] t=30: (0,30] → {10} single → dropped too.  t=10: (-20,10]
    # → {0,7} cnt=2: rawΔ=7, sampled=10, durStart=20→zero-cap 0,
    # durEnd=0, ext=10 → 7*(10/10)/30
    assert got[("b", 10)] == pytest.approx(7 / 30)


def test_increase_is_rate_times_window(counters):
    rate = compile_promql("rate(reqs[30s])").evaluate_range(counters, 10)
    inc = compile_promql("increase(reqs[30s])").evaluate_range(counters, 10)
    r = {(x.job, _sec(x.ts)): x.value for x in rate.collect()}
    i = {(x.job, _sec(x.ts)): x.value for x in inc.collect()}
    assert set(r) == set(i)
    for k in r:
        assert i[k] == pytest.approx(r[k] * 30.0)


def test_irate_uses_last_two_samples(counters):
    out = compile_promql("irate(reqs[30s])").evaluate_range(counters, 10)
    got = {(r.job, _sec(r.ts)): r.value for r in out.collect()}
    # t=50: last two a-samples in (20,50] are 40s(5→15): (15-5)/10
    assert got[("a", 50)] == pytest.approx(1.0)
    # reset pair 30s(35)→40s(5): clamps to post-reset value 5/10
    assert got[("a", 40)] == pytest.approx(0.5)
    # b at t=70: last two are 60s(50)→70s(60)
    assert got[("b", 70)] == pytest.approx(1.0)
    # b at t=30: only one sample (10s) has an in-window predecessor?
    # last sample in (0,30] is 10s; its predecessor 0s is OUTSIDE → none
    assert ("b", 30) not in got


def test_lookback_selector_and_agg(counters):
    out = compile_promql("sum by (job) (reqs)").evaluate_range(
        counters, step_seconds=15, lookback_seconds=20
    )
    got = {(r.job, _sec(r.ts)): r.value for r in out.collect()}
    # t=45: latest a-sample in (25,45] is 40s → 5 (post-reset)
    assert got[("a", 45)] == 5.0
    # t=45 for b: latest in (25,45] — none (samples 0,10,60,70)
    assert ("b", 45) not in got
    # t=75: b's latest is 70s → 60
    assert got[("b", 75)] == 60.0


def test_over_time_on_grid(counters):
    out = compile_promql("avg_over_time(reqs[30s])").evaluate_range(counters, 30)
    got = {(r.job, _sec(r.ts)): r.value for r in out.collect()}
    # t=30 for a: (0,30] → {10,20,35} → 65/3
    assert got[("a", 30)] == pytest.approx(65 / 3)
    # t=90 for a: (60,90] → {60,90,120} → 90
    assert got[("a", 90)] == pytest.approx(90.0)


def test_grid_alignment_and_bounds(counters):
    out = compile_promql("reqs").evaluate_range(counters, step_seconds=25)
    instants = sorted({_sec(r.ts) for r in out.collect()})
    # grid instants are multiples of 25 s from the aligned start
    for t in instants:
        assert (t * 1_000_000 + BASE_US) % 25_000_000 == 0
    # start ≥ min sample, end ≤ max sample (90 s for a / 70 s for b)
    assert instants[0] >= 0
    assert instants[-1] <= 90


def test_structural_ops_compose_over_grid(counters):
    out = compile_promql("topk(1, rate(reqs[30s])) > 0").evaluate_range(counters, 10)
    rows = out.collect()
    assert rows  # non-empty
    per_ts: dict = {}
    for r in rows:
        per_ts.setdefault(_sec(r.ts), []).append(r)
    for t, rs in per_ts.items():
        assert len(rs) == 1  # topk(1) per instant
        assert rs[0].value > 0


def test_sub_second_step_rejected(counters):
    with pytest.raises(ValueError, match="step"):
        compile_promql("reqs").evaluate_range(counters, step_seconds=0.0)


def test_grid_delta_is_unclamped_and_uncorrected(counters):
    """delta() on the grid: Prometheus extrapolation with
    isCounter=false — raw first/last difference (no reset correction,
    no zero-cap), not divided by the window."""
    out = compile_promql("delta(reqs[30s])").evaluate_range(counters, step_seconds=10)
    got = {(r.job, _sec(r.ts)): r.value for r in out.collect()}
    # a, t=60: window (30,60] → samples 40s(5), 50s(15), 60s(30).
    # RAW Δ = 30-5 = 25 (the counter-corrected rate path saw 20),
    # sampled=20, durStart=10 (<thr 11, no zero-cap for gauges),
    # durEnd=0 → ext=30 → delta = 25·(30/20) = 37.5
    assert got[("a", 60)] == pytest.approx(37.5)
    # a, t=50: (20,50] → 30s(35), 40s(5), 50s(15): raw Δ = 15-35 = -20
    # — negatives pass through; ext = 20+10+0=30 → -20·1.5 = -30
    assert got[("a", 50)] == pytest.approx(-30.0)


def test_grid_idelta_last_two_samples(counters):
    out = compile_promql("idelta(reqs[30s])").evaluate_range(counters, step_seconds=10)
    got = {(r.job, _sec(r.ts)): r.value for r in out.collect()}
    # last two samples in (30,60]: 50s(15) → 60s(30)
    assert got[("a", 60)] == pytest.approx(15.0)
    # last two in (10,40]: 30s(35) → 40s(5): unclamped negative
    assert got[("a", 40)] == pytest.approx(-30.0)
    # b at t=10: (−20,10] holds 0s(0) and 10s(7)
    assert got[("b", 10)] == pytest.approx(7.0)


def test_explicit_request_range(spark):
    """evaluate_range(start=, end=) pins the grid to a dashboard's
    request window instead of the data extent: instants outside the
    range are absent, inside the lookback still resolves samples."""
    import datetime as dt

    from kafka_metrics_exporter_spark.promql import compile_promql

    rows = [("m", f"2024-01-01 00:0{i}:00", float(i), "u") for i in range(6)]
    df = spark.createDataFrame(
        rows, "name string, ts string, value double, user_id string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = compile_promql("m").evaluate_range(
        df,
        60.0,
        start=dt.datetime(2024, 1, 1, 0, 2, tzinfo=dt.timezone.utc),
        end=dt.datetime(2024, 1, 1, 0, 4, tzinfo=dt.timezone.utc),
    )
    got = {str(r["ts"]): r["value"] for r in out.collect()}
    assert got == {
        "2024-01-01 00:02:00": 2.0,
        "2024-01-01 00:03:00": 3.0,
        "2024-01-01 00:04:00": 4.0,
    }
    # epoch-seconds form, unaligned ends snap inward to the grid
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    out2 = compile_promql("m").evaluate_range(
        df, 60.0, start=base + 90, end=base + 250
    )
    assert {str(r["ts"]) for r in out2.collect()} == {
        "2024-01-01 00:02:00", "2024-01-01 00:03:00", "2024-01-01 00:04:00"
    }
    with pytest.raises(ValueError):
        compile_promql("m").evaluate_range(df, 60.0, start=base)


def test_empty_grid_yields_empty_not_crash(spark):
    """ADVICE r5: a request window shorter than one step produces an
    empty aligned grid (g_lo > g_hi); absent() and time() must return
    zero instants like every other node, not throw Spark's 'Illegal
    sequence boundaries'."""
    import datetime as dt

    rows = [("m", "2024-01-01 00:01:30", 1.0, "u")]
    df = spark.createDataFrame(
        rows, "name string, ts string, value double, user_id string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    # (base+10, base+50) contains no multiple of 60 -> empty grid
    for expr in ('absent(m{user_id="zzz"})', "time()"):
        out = compile_promql(expr).evaluate_range(
            df, 60.0, start=base + 10, end=base + 50
        )
        assert out.count() == 0, expr
    # data-span grid shorter than one step behaves the same way: the
    # single sample at 90 s past the hour gives g_lo=3600 > g_hi=0
    for expr in ('absent(m{user_id="zzz"})', "time()"):
        out = compile_promql(expr).evaluate_range(df, 3600.0)
        assert out.count() == 0, expr


# ---------------------------------------------------------------------------
# Round 12: instant-mode extrapolated rate (VERDICT r11 item 6 — the
# opt-in extrapolated kernel at SAMPLE instants, closing the last
# documented batch-mode divergence; the successive-delta form stays the
# default)
# ---------------------------------------------------------------------------
def test_instant_extrapolated_matches_grid_at_sample_instants(counters):
    """With 10 s sample cadence and a 10 s grid step, every sample
    timestamp IS a grid instant, so the instant-mode extrapolated
    kernel must reproduce the grid kernel's doubles exactly at each
    point it emits (same windows, same arithmetic order)."""
    inst = compile_promql("rate(reqs[30s])").evaluate(
        counters, extrapolated_rate=True
    )
    grid = compile_promql("rate(reqs[30s])").evaluate_range(
        counters, step_seconds=10
    )
    gi = {(r.job, _sec(r.ts)): r.value for r in inst.collect()}
    gg = {(r.job, _sec(r.ts)): r.value for r in grid.collect()}
    assert gi  # non-empty
    for k, v in gi.items():
        assert gg[k] == v, k
    # the hand-computed grid expectations hold verbatim at sample
    # instants (see test_extrapolated_rate_hand_computed)
    assert gi[("a", 30)] == pytest.approx(35 / 30)
    assert gi[("a", 60)] == pytest.approx(1.0)
    # instant-mode emits ONLY at sample timestamps: b samples at
    # 0/10/60/70 s — 50 s is a grid instant but not a sample
    assert ("b", 50) not in gi
    assert ("b", 20) not in gi


def test_instant_extrapolated_differs_from_default_delta(counters):
    """The default kernel stays successive-delta: at a=30 s the pair
    (20 s: 20 → 30 s: 35) gives 1.5/s; extrapolation gives 35/30."""
    dflt = compile_promql("rate(reqs[30s])").evaluate(counters)
    got = {(r.job, _sec(r.ts)): r.value for r in dflt.collect()}
    assert got[("a", 30)] == pytest.approx(1.5)


def test_instant_extrapolated_irate_keeps_two_sample_form(counters):
    """irate under the opt-in mode is unchanged — at a sample instant
    the last two window samples ARE the successive pair."""
    a = compile_promql("irate(reqs[30s])").evaluate(
        counters, extrapolated_rate=True
    )
    b = compile_promql("irate(reqs[30s])").evaluate(counters)
    ka = {(r.job, _sec(r.ts)): r.value for r in a.collect()}
    kb = {(r.job, _sec(r.ts)): r.value for r in b.collect()}
    assert ka == kb and ka


def test_instant_extrapolated_increase_and_delta(counters):
    """increase = rate × window under extrapolation; delta skips both
    the reset correction and the counter-zero cap."""
    rate = compile_promql("rate(reqs[30s])").evaluate(
        counters, extrapolated_rate=True
    )
    inc = compile_promql("increase(reqs[30s])").evaluate(
        counters, extrapolated_rate=True
    )
    r = {(x.job, _sec(x.ts)): x.value for x in rate.collect()}
    i = {(x.job, _sec(x.ts)): x.value for x in inc.collect()}
    assert set(r) == set(i)
    for k in r:
        assert i[k] == pytest.approx(r[k] * 30.0)
    # gauge delta at a=60 s: window (30,60] raw {5,15,30}, Δ=25 raw
    # (no reset correction), sampled=20, durStart=10 < thr 11 → ext=30
    # → 25*30/20 = 37.5
    d = compile_promql("delta(reqs[30s])").evaluate(
        counters, extrapolated_rate=True
    )
    dd = {(x.job, _sec(x.ts)): x.value for x in d.collect()}
    assert dd[("a", 60)] == pytest.approx(37.5)


def test_instant_extrapolated_native_hist_raises(spark):
    """Native-histogram frames need range mode or the default kernel —
    the opt-in instant extrapolation refuses them loudly."""
    from tests.test_promql import _native_frame

    m = _native_frame(spark, [0.05, 0.5, 1.5, 3.0])
    with pytest.raises(ValueError, match="extrapolated_rate"):
        compile_promql("histogram_count(rate(req[5m]))").evaluate(
            m, extrapolated_rate=True
        )


# ---------------------------------------------------------------------------
# Grid bounds as Columns: an explicit request range is two literals and
# a grid derived from the data two scalar subqueries, so no range-mode
# kernel joins or broadcasts, and a rate sorts each series once.
# ---------------------------------------------------------------------------
PANEL = "sum by (instance) (rate(m[5m]))"
PANEL_START_S = BASE_US // 1_000_000 + 60
PANEL_END_S = BASE_US // 1_000_000 + 500


@pytest.fixture(scope="module")
def panel_metrics(spark):
    """Three counters scraped every 15 s for ten minutes."""
    rows = [
        ("m", inst, float(i * (k + 1)), i * 15)
        for k, inst in enumerate(["a", "b", "c"])
        for i in range(40)
    ]
    return spark.createDataFrame(
        rows, "name string, instance string, value double, sec long"
    ).select(
        "name",
        "instance",
        F.timestamp_micros(F.col("sec") * 1_000_000 + F.lit(BASE_US)).alias("ts"),
        "value",
    )


def _build_panel(metrics):
    return compile_promql(PANEL).evaluate_range(
        metrics, 15.0, start=PANEL_START_S, end=PANEL_END_S
    )


def test_explicit_range_rate_plan_has_no_join_and_one_sort(panel_metrics):
    out = _build_panel(panel_metrics)
    assert len(out.collect()) == 3 * 30  # 3 series × instants 60..495 s
    final = out._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" not in final, final
    assert "BroadcastExchange" not in final, final
    # the lag window and the reset-correcting cumulative window share
    # one sort key (__s_us), so the series are sorted once
    assert final.count("Sort [") == 1, final


def test_panel_build_budget(spark, panel_metrics):
    """Building the panel is plan construction only: a bounded number
    of DataFrames (each one a py4j round trip plus an analysis) and no
    Spark job."""
    from pyspark.sql.classic.dataframe import DataFrame

    made: dict[int, DataFrame] = {}  # keeps each frame alive: ids stay unique
    init = DataFrame.__init__

    def counting(self, *args, **kwargs):
        made[id(self)] = self
        init(self, *args, **kwargs)

    sc = spark.sparkContext
    sc.setJobGroup("panel-build-budget", "build only")
    DataFrame.__init__ = counting
    try:
        _build_panel(panel_metrics)
    finally:
        DataFrame.__init__ = init
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(made) <= 9, len(made)
    assert sc.statusTracker().getJobIdsForGroup("panel-build-budget") == []


def _rows(df):
    return sorted(
        tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in r)
        for r in df.collect()
    )


@pytest.mark.parametrize(
    "expr",
    [
        "rate(reqs[30s])",
        "irate(reqs[30s])",
        "resets(reqs[30s])",
        "changes(reqs[30s])",
        "deriv(reqs[30s])",
        "holt_winters(reqs[30s], 0.5, 0.5)",
        'absent_over_time(reqs{job="b"}[10s])',
        "reqs @ start()",
        "rate(reqs[30s] @ end())",
        f"reqs @ {BASE_US // 1_000_000 + 55}",
        "max_over_time(rate(reqs[20s])[40s:10s])",
    ],
)
def test_literal_grid_matches_the_data_grid(counters, expr):
    """The same grid given as literals (start/end = the data's aligned
    extent, 0..90 s) and derived from the data by scalar subqueries
    returns the same rows."""
    plan = compile_promql(expr)
    base_s = BASE_US // 1_000_000
    derived = _rows(plan.evaluate_range(counters, step_seconds=10))
    literal = _rows(
        plan.evaluate_range(counters, step_seconds=10, start=base_s, end=base_s + 90)
    )
    assert derived, expr
    assert literal == derived


def test_get_spark_turns_call_site_capture_off(spark, monkeypatch):
    """Column calls skip PySpark's per-call stack walk and py4j origin
    updates."""
    from pyspark.errors import utils

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    captured = []
    monkeypatch.setattr(
        utils, "_capture_call_site", lambda depth: captured.append(depth) or ""
    )
    F.col("value") + F.lit(1)
    assert captured == []


def test_unknown_column_still_names_the_column(panel_metrics):
    """Without call-site capture an analysis error keeps its message:
    building a panel over a frame that lacks ``value`` raises an
    AnalysisException naming it."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="`value`"):
        _build_panel(panel_metrics.drop("value"))
