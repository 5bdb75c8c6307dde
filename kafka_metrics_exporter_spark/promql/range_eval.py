"""Prometheus range-query (step-grid) evaluation with window
extrapolation — the opt-in mode closing the compiler's documented
rate-semantics divergence.

``compile_promql(text).evaluate_range(metrics, step_seconds)``
evaluates the expression at aligned instants ``t = k·step`` spanning
the data (the grid a Grafana panel requests), instead of at sample
timestamps:

- **Selectors** become lookback joins: at instant t the series' value
  is its most recent sample in ``(t - lookback, t]`` (Prometheus's
  5-minute lookback delta by default).
- **rate / increase** implement Prometheus's *extrapolated* counter
  semantics (`promql/functions.go extrapolatedRate`): reset-corrected
  delta between the first and last sample inside ``(t - w, t]``,
  extrapolated to the window edges when the samples are close enough
  (within 1.1× the average sample spacing), half an average interval
  otherwise, with the counter-zero cap; rate divides by the window.
- **irate** is the per-second delta of the LAST TWO samples inside the
  window — in grid mode irate and rate genuinely differ, unlike
  sample-instant mode where they coincide by construction.
- **<agg>_over_time** aggregates the raw samples inside ``(t - w, t]``.
- Structural nodes (agg/topk/binop/math/cmp/label fns) reuse the
  instant compiler's dispatch unchanged via its ``leaf`` hook, so the
  full grammar composes over grid-evaluated leaves.

Scale design (100 TB): the naive plan — a non-equi join of samples
against the instant grid — is a BroadcastNestedLoopJoin comparing
every sample with every instant.  Instead each sample COMPUTES the
grid instants it covers (integer arithmetic on epoch micros) and
explodes into (series, instant) pairs: linear in samples × (window /
step) with no join at all, then one hash aggregation per (series,
instant).  The grid bounds are two Columns, not a frame: literals for
an explicit request range, and for a grid derived from the data two
scalar subqueries over the metrics frame that Catalyst merges into
one aggregate — so the expansion is one projection, with no join and
no broadcast.  Replication factor window/step is the same work a
Prometheus TSDB does per range query, and the aggregation keys on
(series labels, instant) — high cardinality, no skew.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_metrics_exporter_spark.promql.parser import Deriv, OverTime, Rate, Selector

# Prometheus's default --query.lookback-delta
DEFAULT_LOOKBACK_SECONDS = 300.0


def _us(seconds: float) -> int:
    return int(round(seconds * 1_000_000))


#: A grid's (first, last) aligned instant in epoch micros, as Columns.
Bounds = tuple[Column, Column]


def _grid_bounds(metrics: DataFrame, step_us: int) -> Bounds:
    """First aligned instant ≥ min ts and last instant ≤ max ts, as two
    scalar subqueries over ``metrics`` (Catalyst merges them into one
    aggregate, evaluated once per plan).  Derived from the data so the
    evaluation is self-contained and oracle-mirrorable; a dashboard
    passes its own request range instead (:func:`_literal_bounds`).

    Pure integer `div` arithmetic (epoch micros are positive, so
    truncation == floor): float division + floor() can flip a grid
    boundary by one step at exact multiples, and the DuckDB oracle's
    `//` would disagree."""
    return (
        metrics.select(F.expr(
            f"((min(unix_micros(ts)) + {step_us} - 1) div {step_us}) * {step_us}"
        )).scalar(),
        metrics.select(F.expr(
            f"(max(unix_micros(ts)) div {step_us}) * {step_us}"
        )).scalar(),
    )


def _grid_seq(lo: Column, hi: Column, step_us: int) -> Column:
    """The aligned instants ``lo, lo + step, …, hi`` as an array of
    epoch micros — empty, not Spark's 'Illegal sequence boundaries'
    error, when ``lo > hi`` (a data span or request range shorter than
    one step, ADVICE r5)."""
    return F.when(lo <= hi, F.sequence(lo, hi, F.lit(step_us))).otherwise(
        F.array().cast("array<long>")
    )


def _expand_instants(
    df: DataFrame,
    window_us: int,
    step_us: int,
    bounds: Bounds,
    has_s_us: bool = False,
) -> DataFrame:
    """Explode each sample to the aligned instants whose left-open
    window ``(t - w, t]`` contains it: ``t ∈ [ceil(s/step)·step,
    floor((s + w - 1)/step)·step]`` clipped to the grid bounds.  One
    projection adding ``__t_us`` and ``__s_us`` (the sample's epoch
    micros) — or only ``__t_us`` when the frame ``has_s_us`` already
    (the rate kernels order their windows by it)."""
    s_us = "__s_us" if has_s_us else "unix_micros(ts)"
    t_lo = F.greatest(
        F.expr(f"(({s_us} + {step_us} - 1) div {step_us}) * {step_us}"), bounds[0]
    )
    t_hi = F.least(
        F.expr(f"(({s_us} + {window_us} - 1) div {step_us}) * {step_us}"), bounds[1]
    )
    t_us = F.explode(_grid_seq(t_lo, t_hi, step_us)).alias("__t_us")
    if has_s_us:
        return df.select("*", t_us)
    return df.select("*", F.expr(s_us).alias("__s_us"), t_us)


def _finish(df: DataFrame, series: list, value: Column | None = None) -> DataFrame:
    """A kernel's output in one projection: the series labels (names,
    or literal Columns), the grid instant as ``ts``, and ``value`` (the
    frame's own column unless a ``value`` expression is given)."""
    return df.select(
        *series,
        F.timestamp_micros(F.col("__t_us")).alias("ts"),
        "value" if value is None else value.alias("value"),
    )


def _latest_value() -> Column:
    """Newest sample's value, deterministically: max over (ts, value)
    structs orders by timestamp then value, so duplicate-timestamp peers
    resolve to the larger value instead of whichever row an executor
    happened to see last (ADVICE r4: max_by(value, __s_us) ties)."""
    return F.max(
        F.struct(F.col("__s_us").alias("__o_us"), F.col("value").alias("__o_v"))
    ).getField("__o_v")


@dataclass(frozen=True)
class GridLeaf:
    """Leaf strategy handed to the instant compiler's ``_eval``:
    replaces Selector / Rate / OverTime evaluation with grid-instant
    versions (shared structural dispatch handles everything else)."""

    step_us: int
    lookback_us: int
    bounds: Bounds
    # The original query-range bounds when ``bounds`` has been rebased
    # (the one-instant grid an exact ``@ t`` evaluation pins — round
    # 11.5): ``@ start()`` / ``@ end()`` refer to the QUERY range in
    # Prometheus, never to the enclosing @ context.
    query_bounds: Bounds | None = None

    # -- instant selector with lookback ----------------------------------
    def selector(self, node: Selector, metrics: DataFrame, label_cols):
        from kafka_metrics_exporter_spark.promql.compiler import (
            _Vec,
            _eval_selector,
        )

        vec = _eval_selector(node, metrics, label_cols)
        series = sorted(vec.labels)
        x = _expand_instants(vec.df, self.lookback_us, self.step_us, self.bounds)
        out = x.groupBy(*series, "__t_us").agg(_latest_value().alias("value"))
        return _Vec(_finish(out, series), vec.labels)

    def _with_prev(self, vec, series: list[str], reset_corrected: bool) -> DataFrame:
        """The sample frame with ``__s_us``, its predecessor's
        ``__prev_us``/``__prev_v`` and, for counters, the reset-corrected
        ``__corrected`` value.  Both windows order by the ``__s_us``
        column, so Spark sorts each series once for both."""
        ord_w = Window.partitionBy(*series).orderBy("__s_us")
        prev_v = F.lag("value").over(ord_w)
        cols = {"__prev_us": F.lag("__s_us").over(ord_w), "__prev_v": prev_v}
        if reset_corrected:
            # reset-corrected monotone counter: add the pre-reset value
            # at every reset, cumulatively — the delta of corrected
            # values over any span equals Prometheus's (last - first +
            # Σ resets inside)
            reset = F.when(
                prev_v.isNotNull() & (F.col("value") < prev_v), prev_v
            ).otherwise(F.lit(0.0))
            cum_w = ord_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            cols = {"__corrected": F.col("value") + F.sum(reset).over(cum_w), **cols}
        return vec.df.withColumn("__s_us", F.unix_micros(F.col("ts"))).withColumns(cols)

    # -- rate / increase (extrapolated) and irate ------------------------
    def rate(self, node: Rate, metrics: DataFrame, label_cols):
        from kafka_metrics_exporter_spark.promql.compiler import _Vec, _eval_range_operand

        vec = _eval_range_operand(node.selector, metrics, label_cols)
        series = sorted(vec.labels)
        w_us = _us(node.window_seconds)
        # rate/increase window the reset-corrected counter; the gauge fn
        # delta windows the raw values (the series IS the signal), and
        # irate/idelta read only the last sample and its predecessor
        corrected = node.fn in ("rate", "increase")
        s = self._with_prev(vec, series, corrected)
        x = _expand_instants(s, w_us, self.step_us, self.bounds, has_s_us=True)

        if node.fn in ("irate", "idelta"):
            # last two samples inside the window: the last sample's
            # successive-delta, valid only if its predecessor is also
            # inside (t - w, t]
            g = x.groupBy(*series, "__t_us").agg(
                F.max_by(
                    F.struct("value", "__prev_v", "__prev_us", "__s_us"), "__s_us"
                ).alias("__last")
            )
            last_v = F.col("__last.value")
            lprev_v = F.col("__last.__prev_v")
            if node.fn == "idelta":
                # gauge difference: no reset clamp, no per-second scaling
                val = last_v - lprev_v
            else:
                delta = F.when(last_v >= lprev_v, last_v - lprev_v).otherwise(last_v)
                dt = (F.col("__last.__s_us") - F.col("__last.__prev_us")) / F.lit(
                    1_000_000.0
                )
                val = delta / dt
            out = g.filter(
                F.col("__last.__prev_us").isNotNull()
                & (F.col("__last.__prev_us") > F.col("__t_us") - F.lit(w_us))
            )
            return _Vec(_finish(out, series, val), vec.labels)

        c = "__corrected" if corrected else "value"
        g = x.groupBy(*series, "__t_us").agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min("__s_us").alias("__first_us"),
            F.max("__s_us").alias("__last_us"),
            F.min_by(c, "__s_us").alias("__first_c"),
            F.max_by(c, "__s_us").alias("__last_c"),
            F.min_by("value", "__s_us").alias("__first_raw"),
        )
        g = g.filter(F.col("__cnt") >= 2)
        # Prometheus extrapolatedRate, operation for operation (same
        # arithmetic order in the DuckDB oracle → bit-identical doubles).
        # The gauge fn `delta` takes the raw difference and skips the
        # counter-zero cap (Prometheus extrapolatedRate isCounter=false).
        raw_delta = F.col("__last_c") - F.col("__first_c")
        sampled = (F.col("__last_us") - F.col("__first_us")) / F.lit(1_000_000.0)
        dur_start = (
            F.col("__first_us") - (F.col("__t_us") - F.lit(w_us))
        ) / F.lit(1_000_000.0)
        dur_end = (F.col("__t_us") - F.col("__last_us")) / F.lit(1_000_000.0)
        avg_dur = sampled / (F.col("__cnt") - F.lit(1)).cast("double")
        # counter-zero cap: don't extrapolate below the counter's zero
        if node.fn == "delta":
            pass  # gauges: no counter-zero cap
        else:
            dur_zero = sampled * (F.col("__first_raw") / raw_delta)
            dur_start = F.when(
                (raw_delta > 0) & (F.col("__first_raw") >= 0) & (dur_zero < dur_start),
                dur_zero,
            ).otherwise(dur_start)
        threshold = avg_dur * F.lit(1.1)
        ext = (
            sampled
            + F.when(dur_start >= threshold, avg_dur / F.lit(2.0)).otherwise(dur_start)
            + F.when(dur_end >= threshold, avg_dur / F.lit(2.0)).otherwise(dur_end)
        )
        val = raw_delta * (ext / sampled)
        if node.fn == "rate":
            val = val / F.lit(float(node.window_seconds))
        return _Vec(_finish(g, series, val), vec.labels)

    # -- resets / changes (grid) ------------------------------------------
    def resets_changes(self, node: Rate, metrics: DataFrame, label_cols):
        """Exact Prometheus semantics: count successive pairs with BOTH
        endpoints inside (t - w, t] — each sample row carries its
        predecessor, so within the instant explosion the predecessor-
        inside check is a row-level filter (same shape as irate)."""
        from kafka_metrics_exporter_spark.promql.compiler import _Vec, _eval_range_operand

        vec = _eval_range_operand(node.selector, metrics, label_cols)
        series = sorted(vec.labels)
        w_us = _us(node.window_seconds)
        s = self._with_prev(vec, series, False)
        x = _expand_instants(s, w_us, self.step_us, self.bounds, has_s_us=True)
        hit_val = F.col("value") < F.col("__prev_v") if node.fn == "resets" else (
            F.col("value") != F.col("__prev_v")
        )
        hit = F.when(
            F.col("__prev_us").isNotNull()
            & (F.col("__prev_us") > F.col("__t_us") - F.lit(w_us))
            & hit_val,
            F.lit(1),
        ).otherwise(F.lit(0))
        # an instant with no samples in the window emits nothing (the
        # groupBy guarantees ≥1 sample)
        out = x.groupBy(*series, "__t_us").agg(
            F.sum(hit).cast("double").alias("value")
        )
        return _Vec(_finish(out, series), vec.labels)

    # -- deriv / predict_linear (grid) ------------------------------------
    def deriv(self, node: Deriv, metrics: DataFrame, label_cols):
        """Least-squares regression over the samples in (t - w, t],
        with x measured FROM THE INSTANT t (Prometheus's interceptTime
        convention, exactly — x is small and the intercept at x = 0 is
        the regression value at the evaluation instant).  predict =
        intercept + slope · horizon."""
        from kafka_metrics_exporter_spark.promql.compiler import (
            _Vec,
            _eval_range_operand,
        )

        vec = _eval_range_operand(node.selector, metrics, label_cols)
        series = sorted(vec.labels)
        x = _expand_instants(
            vec.df, _us(node.window_seconds), self.step_us, self.bounds
        )
        dx = (F.col("__s_us") - F.col("__t_us")) / F.lit(1_000_000.0)
        g = x.groupBy(*series, "__t_us").agg(
            F.regr_slope(F.col("value"), dx).alias("__slope"),
            F.regr_avgx(F.col("value"), dx).alias("__ax"),
            F.regr_avgy(F.col("value"), dx).alias("__ay"),
        )
        if node.predict_seconds is None:
            val = F.col("__slope")
        else:
            intercept = F.col("__ay") - F.col("__slope") * F.col("__ax")
            val = intercept + F.col("__slope") * F.lit(float(node.predict_seconds))
        out = _finish(g, series, val.cast("double"))
        # <2 samples → no point
        return _Vec(out.filter(F.col("value").isNotNull()), vec.labels)

    # -- holt_winters (grid) ----------------------------------------------
    def holt_winters(self, node, metrics: DataFrame, label_cols):
        """Double exponential smoothing per (series, grid instant):
        instant expansion → one hash aggregation collecting the sorted
        sample list → the shared JVM fold (compiler.holt_winters_fold)."""
        from kafka_metrics_exporter_spark.promql.compiler import (
            _Vec,
            _eval_range_operand,
            holt_winters_fold,
        )

        vec = _eval_range_operand(node.selector, metrics, label_cols)
        series = sorted(vec.labels)
        x = _expand_instants(
            vec.df, _us(node.window_seconds), self.step_us, self.bounds
        )
        g = x.groupBy(*series, "__t_us").agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("__s_us").alias("__o_us"),
                        F.col("value").alias("__o_v"),
                    )
                )
            ).alias("__arr")
        )
        out = _finish(g, series, holt_winters_fold(F.col("__arr"), node.sf, node.tf))
        return _Vec(out.filter(F.col("value").isNotNull()), vec.labels)

    # -- <agg>_over_time --------------------------------------------------
    def over_time(self, node: OverTime, metrics: DataFrame, label_cols):
        from kafka_metrics_exporter_spark.promql.compiler import (
            _AGG_FN,
            _Vec,
            _eval_range_operand,
        )

        vec = _eval_range_operand(node.selector, metrics, label_cols)
        series = sorted(vec.labels)
        x = _expand_instants(vec.df, _us(node.window_seconds), self.step_us, self.bounds)
        if node.op == "absent":
            # absent_over_time(sel[w]): 1 at every grid instant whose
            # trailing window holds NO sample of the selector — the
            # instant expansion names every covered instant, so the
            # result is an anti-join of the grid against the
            # covered-instant set, carrying the labels Prometheus
            # reconstructs from the selector's equality matchers
            # (round 11.5, like absent())
            from kafka_metrics_exporter_spark.promql.compiler import (
                _absent_labels,
            )

            grid = _grid_frame(x.sparkSession, self.bounds, self.step_us)
            covered = x.select("__t_us").distinct()
            out = grid.join(covered, "__t_us", "left_anti")
            labels = _absent_labels(node.selector)
            out = _finish(
                out,
                [F.lit(val).alias(lbl) for lbl, val in sorted(labels.items())],
                F.lit(1.0),
            )
            return _Vec(out, frozenset(labels))
        from kafka_metrics_exporter_spark.promql.compiler import (
            _over_time_special,
        )

        special = _over_time_special(node.op)
        if special is not None:
            core, post = special
            out = x.groupBy(*series, "__t_us").agg(core.alias("__c"))
            return _Vec(_finish(out, series, post(F.col("__c"))), vec.labels)
        if node.op == "last":
            # groupBy has no frame order — pick the newest sample by its
            # timestamp explicitly (F.last would be partition-order luck)
            agg = _latest_value()
        elif node.op == "quantile":
            agg = F.percentile(F.col("value"), F.lit(float(node.param)))
        else:
            agg = _AGG_FN[node.op](F.col("value"))
        out = x.groupBy(*series, "__t_us").agg(agg.cast("double").alias("value"))
        return _Vec(_finish(out, series), vec.labels)


def _grid_frame(spark, bounds: Bounds, step_us: int) -> DataFrame:
    """The grid instants as a 1-column ``__t_us`` frame."""
    return spark.range(1).select(
        F.explode(_grid_seq(*bounds, step_us)).alias("__t_us")
    )


def _literal_bounds(start, end, step_us: int) -> Bounds:
    """Literal bounds from an explicit request range — the grid a
    dashboard passes (`start`/`end` as datetimes or epoch seconds):
    first aligned instant ≥ start, last aligned instant ≤ end."""
    import datetime as _dt

    def to_us(x) -> int:
        if isinstance(x, _dt.datetime):
            if x.tzinfo is None:
                x = x.replace(tzinfo=_dt.timezone.utc)
            return int(round(x.timestamp() * 1_000_000))
        return int(round(float(x) * 1_000_000))

    lo, hi = to_us(start), to_us(end)
    if hi < lo:
        raise ValueError("promql range: end must be >= start")
    g_lo = ((lo + step_us - 1) // step_us) * step_us
    g_hi = (hi // step_us) * step_us
    return F.lit(g_lo).cast("long"), F.lit(g_hi).cast("long")


def evaluate_range(
    plan,
    metrics: DataFrame,
    step_seconds: float,
    lookback_seconds: float = DEFAULT_LOOKBACK_SECONDS,
    start=None,
    end=None,
) -> DataFrame:
    """Range-query evaluation of a compiled plan: instants are the
    aligned step grid over the explicit ``[start, end]`` request range
    (datetimes or epoch seconds — what a dashboard panel passes), or,
    when omitted, the grid spanning the metrics' time extent (the
    self-contained form the oracles mirror)."""
    from kafka_metrics_exporter_spark.promql.compiler import _META_COLS, _eval

    step_us = _us(step_seconds)
    if step_us < 1:
        raise ValueError(f"promql range: step must be >= 1µs (got {step_seconds}s)")
    if (start is None) != (end is None):
        raise ValueError("promql range: pass both start and end, or neither")
    if start is not None:
        bounds = _literal_bounds(start, end, step_us)
    else:
        bounds = _grid_bounds(metrics, step_us)
    label_cols = [c for c in metrics.columns if c not in _META_COLS]
    leaf = GridLeaf(
        step_us=step_us,
        lookback_us=_us(lookback_seconds),
        bounds=bounds,
    )
    vec = _eval(plan.ast, metrics, tuple(label_cols), leaf, "a top-level expression")
    return vec.select_shape()
