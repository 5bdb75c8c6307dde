"""PromQL-subset → DataFrame compiler.

Evaluates a parsed PromQL expression (promql/parser.py) against a
"metrics" DataFrame with the engine's normalized series shape:

    name STRING, ts TIMESTAMP, value DOUBLE, <label columns STRING...>

i.e. exactly what operators/normalize.py + rules/compiler.py produce
from raw scrapes (metric name, label columns, sample).  The result of
``compile_promql(expr).evaluate(df)`` is a DataFrame with the
expression's output label columns plus (ts, value) — a *range* of
instant-vector evaluations, one per sample timestamp, which is what a
dashboard panel renders over its time window.

Semantics of the DEFAULT (sample-instant) mode:

- Evaluation instants are the sample timestamps present in the data —
  no resampling onto a step grid (a dashboard step-aligns afterwards;
  relational consumers join on `ts` directly).
- ``rate()`` is the exact successive-sample delta (counter resets
  clamp to the post-reset value) divided by the sample gap — the same
  pinned semantics as the batch ``w2_rate``/streaming rate operators
  (SURVEY §7 hard-part 2); PromQL's window extrapolation is
  intentionally not applied at sample instants by default —
  ``evaluate(..., extrapolated_rate=True)`` opts in to the
  extrapolated kernel at the same sample instants (round 12).

Both divergences are CLOSED by the opt-in range-query mode
(:meth:`PromQLPlan.evaluate_range`, promql/range_eval.py): aligned
step-grid instants, lookback selectors, and Prometheus's
window-extrapolated rate/increase with a true two-sample irate.
- Label matchers treat a missing label as the empty string, exactly
  like PromQL (`{topic != ""}` keeps only labeled series).  The same
  convention holds EVERYWHERE labels are compared: selectors coalesce
  NULL label values to "" on the way in, so binary-op join keys and
  aggregation group keys never distinguish NULL from "" (a normalized
  scrape can carry NULL for an absent ObjectName property).
- ``rate``/``irate``/``increase`` honor the range window as a max
  sample gap: a successive-sample pair farther apart than the window
  (e.g. across a scrape outage) yields no point, matching PromQL's
  "at least two samples inside the window" requirement.  Under
  sample-instant evaluation the last two samples at an instant are
  exactly the successive pair, so ``irate`` ≡ ``rate`` here by
  construction (both are the pair's per-second delta).

Dispatch is one table: :data:`KINDS` maps each AST node type to its
evaluation and its PromQL rendering (``parser.to_promql``), and
``_eval`` is one lookup in it.  The data-touching kinds (Selector,
Rate, Deriv, OverTime, HoltWinters) evaluate through the ``leaf``
strategy: :class:`_SampleLeaf`, :class:`_InstantExtrapolatedLeaf`, or
range_eval.GridLeaf.  A new function of an existing kind is one row in
``parser.FUNCTIONS`` (plus its Spark function where the kind evaluates
by name: ``_MATH_FN``, the calendar and histogram maps); a new kind is
its dataclass, parse routine and renderer in parser.py and one
``KINDS`` row here.  tests/test_promql_kinds.py fails on a kind or a
name without its rows.

Everything compiles to built-in Column expressions — filters push into
the scan, aggregations are partial+final hash aggs, `topk` is one rank
window per evaluation instant, and binary vector arithmetic is an
equi-join on (shared labels, ts).  No UDFs anywhere, so the compiled
plan scales exactly like the hand-written query suite.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_metrics_exporter_spark.promql import parser
from kafka_metrics_exporter_spark.promql.parser import (
    Absent,
    At,
    DateFn,
    Deriv,
    Agg,
    Bin,
    Cmp,
    Expr,
    HistogramFn,
    HistogramFraction,
    HistogramQuantile,
    HoltWinters,
    Info,
    LabelJoin,
    LimitK,
    MathFn,
    LabelReplace,
    Matcher,
    OverTime,
    Rate,
    Scalar,
    Scalarize,
    Selector,
    SetOp,
    Sort,
    Subquery,
    Time,
    TopK,
    VectorMatch,
    Vectorize,
    parse,
)

# `hist` is the native-histogram struct column (promql/native_hist.py)
# — a sample payload like `value`, never a label
_META_COLS = {"name", "ts", "value", "hist"}


def _check_matcher_label(m: Matcher) -> None:
    """A matcher on a sample column (``ts``/``value``/``hist``) names no
    label; reject it here instead of as an ambiguous column later."""
    if m.label in _META_COLS - {"name"}:
        raise ValueError(
            f"promql: matcher on {m.label!r}: ts/value/hist are the engine's "
            f"reserved sample columns, not labels"
        )


def _matcher_pred(m: Matcher) -> Column:
    return _matcher_pred_on(F.coalesce(F.col(m.label), F.lit("")), m)


def _matcher_pred_on(col: Column, m: Matcher) -> Column:
    """The matcher predicate over an explicit (already missing-label-
    coalesced) column expression — lets a caller that knows the label
    is absent evaluate against ``lit("")`` without first materializing
    the column (one less DataFrame round-trip, guide §plan-build)."""
    if m.op == "=":
        return col == m.value
    if m.op == "!=":
        return col != m.value
    # PromQL regexes are fully anchored
    pat = f"^(?:{m.value})$"
    if m.op == "=~":
        return col.rlike(pat)
    return ~col.rlike(pat)


def _with_cols(df: DataFrame, cols: dict) -> DataFrame:
    """Add N independent columns in ONE analysis pass.  Every
    DataFrame method is a py4j round-trip plus a full Catalyst
    analysis of the accumulated plan, so per-label ``withColumn``
    loops cost O(labels) analyses of an ever-growing tree;
    ``withColumns`` batches them (optimization r17, guide §1.2 —
    plan-construction time was 40-60% of the promql/kibana rows).
    The expressions must reference only pre-existing columns."""
    return df.withColumns(cols) if cols else df


@dataclass(frozen=True)
class _Vec:
    df: DataFrame
    labels: frozenset[str]
    # PromQL SCALAR-typed expressions (time(), scalar(v), and
    # arithmetic over them) are represented relationally as label-less
    # per-instant frames; this flag carries the scalar TYPE so binary
    # ops match them against any vector by the evaluation instant
    # alone, one nesting level deep or more — deciding syntactically on
    # the direct operand loses the type under `scalar(v) * 2` shapes.
    scalar: bool = False

    def select_shape(self) -> DataFrame:
        cols = sorted(self.labels) + ["ts", "value"]
        # most results already have this shape: a schema read is much
        # cheaper than analyzing a no-op projection
        return self.df if self.df.columns == cols else self.df.select(*cols)


class Kind(NamedTuple):
    """One AST node kind: ``evaluate(node, metrics, label_cols, leaf)``
    gives its ``_Vec`` (a float for scalar literals and arithmetic over
    them), ``render(node)`` its PromQL text (promql/parser.py)."""

    evaluate: Callable
    render: Callable


class PromQLPlan:
    """Compiled expression; call :meth:`evaluate` with the metrics DF."""

    def __init__(self, ast: Expr, source: str):
        self.ast = ast
        self.source = source

    def evaluate(
        self, metrics: DataFrame, extrapolated_rate: bool = False
    ) -> DataFrame:
        """Sample-instant evaluation.  ``extrapolated_rate=True`` swaps
        the pinned successive-delta rate/increase/delta kernel for
        Prometheus's window-extrapolated one evaluated at the same
        sample instants (_InstantExtrapolatedLeaf) — closing the last
        documented batch-mode divergence on demand while the delta form
        stays the documented default (w2_rate / streaming parity)."""
        label_cols = [c for c in metrics.columns if c not in _META_COLS]
        leaf = _InstantExtrapolatedLeaf() if extrapolated_rate else _SampleLeaf()
        vec = _eval(
            self.ast, metrics, tuple(label_cols), leaf, "a top-level expression"
        )
        return vec.select_shape()

    def evaluate_range(
        self,
        metrics: DataFrame,
        step_seconds: float,
        lookback_seconds: float | None = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """Opt-in Prometheus range-query mode: evaluate at aligned step
        instants with lookback selectors and window-EXTRAPOLATED
        rate/increase (true irate) — see promql/range_eval.py.
        ``start``/``end`` (datetimes or epoch seconds) pin the grid to
        a dashboard's request range; omitted, the grid spans the data."""
        from kafka_metrics_exporter_spark.promql import range_eval

        kwargs = {}
        if lookback_seconds is not None:
            kwargs["lookback_seconds"] = lookback_seconds
        if start is not None or end is not None:
            kwargs["start"] = start
            kwargs["end"] = end
        return range_eval.evaluate_range(self, metrics, step_seconds, **kwargs)


def compile_promql(text: str, variables: dict | None = None) -> PromQLPlan:
    """Compile a PromQL string; ``variables`` binds Grafana template
    variables ($var / ${var} / [[var]], see promql/variables.py) before
    parse — what Grafana does client-side when replaying a dashboard."""
    if variables:
        from kafka_metrics_exporter_spark.promql.variables import (
            interpolate_variables,
        )

        text = interpolate_variables(text, variables)
    return PromQLPlan(parse(text), text)


def _eval(
    node: Expr,
    metrics: DataFrame,
    label_cols: tuple[str, ...],
    leaf,
    need: str | None = None,
) -> _Vec | float:
    """Recursive evaluation: one lookup in :data:`KINDS`.  ``leaf`` is
    the evaluation strategy of the data-touching kinds (Selector / Rate
    / Deriv / OverTime / HoltWinters): :class:`_SampleLeaf` by default,
    :class:`_InstantExtrapolatedLeaf`, or the step-grid evaluator's
    lookback / window-extrapolated ``range_eval.GridLeaf``, while every
    structural kind (agg, topk, binop, math, cmp) evaluates the same in
    each mode.  ``need`` names the operator whose operand ``node`` is
    when that operand must be a vector, not a scalar literal."""
    out = KINDS[type(node)].evaluate(node, metrics, label_cols, leaf)
    if need is not None and isinstance(out, float):
        raise ValueError(f"promql: {need} needs a vector")
    return out


def _eval_scalar(node: Scalar, metrics: DataFrame, label_cols, leaf) -> float:
    return node.value


def _eval_rate_kind(node: Rate, metrics: DataFrame, label_cols, leaf) -> _Vec:
    if node.fn in ("resets", "changes"):
        return leaf.resets_changes(node, metrics, label_cols)
    return leaf.rate(node, metrics, label_cols)


def _by_leaf(name: str):
    """Evaluation of a data-touching kind: the leaf strategy's ``name``
    method."""
    return lambda node, metrics, label_cols, leaf: getattr(leaf, name)(
        node, metrics, label_cols
    )


def _eval_scalarize(node: Scalarize, metrics: DataFrame, label_cols, leaf) -> _Vec:
    """``scalar(v)``: the single-element vector's value per instant, NaN
    where the vector has 0 or >1 elements — over the FULL instant
    universe, like Prometheus's scalar()."""
    vec = _eval(node.expr, metrics, label_cols, leaf, "scalar()")
    g = vec.df.groupBy("ts").agg(
        F.count(F.lit(1)).alias("__n"), F.max("value").alias("__v")
    )
    inst = _instant_universe(metrics, leaf)
    out = (
        inst.join(g, "ts", "left")
        .withColumn(
            "value",
            F.when(F.col("__n") == 1, F.col("__v")).otherwise(F.lit(float("nan"))),
        )
        .drop("__n", "__v")
    )
    return _Vec(out, frozenset(), scalar=True)


def _eval_vectorize(node: Vectorize, metrics: DataFrame, label_cols, leaf) -> _Vec:
    """``vector(s)``: a scalar as a label-less vector over the instant
    universe — the `or vector(0)` default idiom.  A scalar-TYPED
    expression (time(), scalar(v), arithmetic over them) is already a
    per-instant frame: vector() just strips the scalar typing."""
    val = _eval(node.expr, metrics, label_cols, leaf)
    if isinstance(val, _Vec):
        if not val.scalar:
            raise ValueError("promql: vector() needs a scalar argument")
        return _Vec(val.df, frozenset())
    inst = _instant_universe(metrics, leaf)
    return _Vec(inst.withColumn("value", F.lit(float(val))), frozenset())


def _eval_time(node: Time, metrics: DataFrame, label_cols, leaf) -> _Vec:
    """``time()``: the evaluation timestamp, per instant — a label-less
    SCALAR over the instant universe (sample timestamps / step grid)."""
    inst = _instant_universe(metrics, leaf)
    out = inst.withColumn(
        "value", (F.unix_micros(F.col("ts")) / F.lit(1_000_000.0))
    )
    return _Vec(out, frozenset(), scalar=True)


def _eval_subquery(node: Subquery, metrics: DataFrame, label_cols, leaf):
    raise ValueError(
        "promql: a subquery (expr[range:step]) is a range vector — "
        "wrap it in a range function (rate, <agg>_over_time, ...)"
    )


def _eval_date_fn(node: DateFn, metrics: DataFrame, label_cols, leaf) -> _Vec:
    """``timestamp(v)`` and the calendar functions (hour, month, …)."""
    if node.fn == "timestamp" and isinstance(node.expr, At):
        # timestamp(m @ t) ≡ timestamp(m) @ t: the pinned sample's
        # ORIGINAL timestamp, constant across the instant universe
        # (code-review 11.5 — evaluating @ first loses the sample
        # timestamp to the pin-and-broadcast, so each instant
        # reported itself)
        return _eval_at(
            At(
                expr=DateFn(fn="timestamp", expr=node.expr.expr),
                at_seconds=node.expr.at_seconds,
            ),
            metrics,
            label_cols,
            leaf,
        )
    if node.fn == "timestamp":
        # each element's own sample timestamp becomes its value.
        # In grid mode a SELECTOR's elements are lookback-resolved
        # samples, and GridLeaf.selector rewrites ts to the grid
        # instant — so the selector case re-expands here keeping
        # the SAMPLE's epoch as the value (Prometheus returns the
        # underlying sample timestamp, not the evaluation instant).
        # Derived vectors (aggregates, rates) are synthesized AT
        # the instant, so their ts is the right answer.  An offset
        # selector's frame carries the SHIFTED timestamps (that is
        # what makes the sample surface at the right instant), so
        # the constant offset is subtracted back out — Prometheus
        # reports the underlying sample's original timestamp
        # (round 11.5; previously a documented divergence).
        _ts_off = (
            float(node.expr.offset_seconds)
            if isinstance(node.expr, Selector)
            else 0.0
        )
        if hasattr(leaf, "step_us") and isinstance(node.expr, Selector):
            from kafka_metrics_exporter_spark.promql.range_eval import (
                _expand_instants,
                _finish,
            )

            svec = _eval_selector(node.expr, metrics, label_cols)
            series = sorted(svec.labels)
            x = _expand_instants(
                svec.df, leaf.lookback_us, leaf.step_us, leaf.bounds
            )
            out = x.groupBy(*series, "__t_us").agg(
                (
                    F.max(
                        F.struct(
                            F.col("__s_us").alias("__o_us"),
                            F.col("value").alias("__o_v"),
                        )
                    ).getField("__o_us")
                    / F.lit(1_000_000.0)
                    - F.lit(_ts_off)
                ).alias("value")
            )
            return _Vec(_finish(out, series), svec.labels)
        vec = _eval(node.expr, metrics, label_cols, leaf, "timestamp()")
        out = vec.df.withColumn(
            "value",
            F.unix_micros(F.col("ts")) / F.lit(1_000_000.0) - F.lit(_ts_off),
        )
        return _Vec(out, vec.labels)
    if node.expr is None:
        # hour() ≡ hour(vector(time())): the instant itself
        inst = _instant_universe(metrics, leaf)
        vec = _Vec(
            inst.withColumn(
                "value", F.unix_micros(F.col("ts")) / F.lit(1_000_000.0)
            ),
            frozenset(),
        )
    else:
        vec = _eval(node.expr, metrics, label_cols, leaf, f"{node.fn}()")
    # the VALUE is a UTC epoch; truncate to whole seconds like
    # Prometheus (values are commonly time()-derived doubles)
    t = F.timestamp_seconds(F.floor(F.col("value")).cast("long"))
    cal = {
        "minute": F.minute,
        "hour": F.hour,
        # Prometheus: 0 = Sunday; Spark dayofweek: 1 = Sunday
        "day_of_week": lambda c: F.dayofweek(c) - F.lit(1),
        "day_of_month": F.dayofmonth,
        "day_of_year": F.dayofyear,
        "days_in_month": lambda c: F.dayofmonth(F.last_day(c)),
        "month": F.month,
        "year": F.year,
    }[node.fn]
    out = vec.df.withColumn("value", cal(t).cast("double"))
    return _Vec(out, vec.labels)


def _eval_sort(node: Sort, metrics: DataFrame, label_cols, leaf) -> _Vec:
    """``sort``/``sort_desc``/``sort_by_label(_desc)``: per-instant
    ordering — a presentation op on the FINAL (small) frame, so the
    global sort is one TakeOrdered-sized pass, not a data-path
    shuffle."""
    vec = _eval(node.expr, metrics, label_cols, leaf, "sort")
    if node.by_labels is not None:
        # sort_by_label(_desc): order by the given label STRINGS
        # (a missing label sorts as "", the engine's convention),
        # remaining labels as the deterministic tiebreak
        keys = [
            F.col(l) if l in vec.labels else F.lit("")
            for l in node.by_labels
        ]
        order = [F.col("ts").asc()] + [
            k.desc() if node.desc else k.asc() for k in keys
        ] + [
            F.col(c).asc()
            for c in sorted(vec.labels - set(node.by_labels))
        ]
    else:
        val = F.col("value").desc() if node.desc else F.col("value").asc()
        order = [F.col("ts").asc(), val] + [
            F.col(c).asc() for c in sorted(vec.labels)
        ]
    return _Vec(vec.df.orderBy(*order), vec.labels, scalar=vec.scalar)


_MATH_FN = {
    "abs": F.abs, "ceil": F.ceil, "floor": F.floor, "exp": F.exp,
    "ln": F.log, "log2": F.log2, "log10": F.log10, "sqrt": F.sqrt,
    "sgn": F.signum,
    # trigonometric family (funcAcos..funcTanh, funcDeg/funcRad)
    "acos": F.acos, "acosh": F.acosh, "asin": F.asin,
    "asinh": F.asinh, "atan": F.atan, "atanh": F.atanh,
    "cos": F.cos, "cosh": F.cosh, "sin": F.sin, "sinh": F.sinh,
    "tan": F.tan, "tanh": F.tanh,
    "deg": F.degrees, "rad": F.radians,
}


def _eval_math_fn(node: MathFn, metrics: DataFrame, label_cols, leaf) -> _Vec:
    vec = _eval(node.expr, metrics, label_cols, leaf, "a math function")
    v = F.col("value")
    if node.fn == "clamp_min":
        col = F.greatest(v, F.lit(node.arg))
    elif node.fn == "clamp_max":
        col = F.least(v, F.lit(node.arg))
    elif node.fn == "clamp":
        # Prometheus: clamp(v, min, max) with min > max returns an
        # EMPTY vector ("Returns an empty vector if min > max" —
        # promql/functions.go funcClamp), not NaN elements.
        if node.arg > node.arg2:
            return _Vec(vec.df.filter(F.lit(False)), vec.labels, scalar=vec.scalar)
        col = F.least(F.greatest(v, F.lit(node.arg)), F.lit(node.arg2))
    elif node.fn == "round":
        # nearest multiple of to_nearest, halves UP.  funcRound uses
        # the RECIPROCAL form floor(v*(1/n) + 0.5) / (1/n) to reduce
        # float error for to_nearest values like 0.1 — mirror it
        # bit-for-bit.
        inv = 1.0 / float(node.arg)
        col = F.floor(v * F.lit(inv) + F.lit(0.5)) / F.lit(inv)
    else:
        col = _MATH_FN[node.fn](v)
    return _Vec(
        vec.df.withColumn("value", col.cast("double")),
        vec.labels,
        scalar=vec.scalar,
    )


def _instant_universe(metrics: DataFrame, leaf) -> DataFrame:
    """The engine's evaluation-instant set as a 1-column ``ts`` frame:
    the aligned step grid in range mode (exploded from the leaf's bound
    Columns — an empty aligned grid, a data span or request window
    shorter than one step, yields zero instants; ADVICE r5), the
    distinct sample timestamps in sample-instant mode."""
    if hasattr(leaf, "step_us"):
        from kafka_metrics_exporter_spark.promql.range_eval import _grid_frame

        return _grid_frame(metrics.sparkSession, leaf.bounds, leaf.step_us).select(
            F.timestamp_micros(F.col("__t_us")).alias("ts")
        )
    return metrics.select("ts").distinct()


def _eval_selector(node: Selector, metrics: DataFrame, label_cols) -> _Vec:
    """Selector evaluation in TWO DataFrame ops (one filter + one
    select) instead of a per-matcher/per-label chain — each chained op
    re-analyzed the whole plan (optimization r17, guide §1.2).
    Semantics are unchanged: sequential matcher filters ≡ one AND;
    matchers on absent labels evaluate against ``""``; the canonical
    NULL ≡ "" coalesce lands in the final projection; ``offset``
    shifts ts in the same projection."""
    df = metrics
    labels = set(label_cols)
    have = set(df.columns)
    preds: list[Column] = []
    if node.name is not None:
        preds.append(F.col("name") == node.name)
    else:
        labels.add("__name__")
    absent: set[str] = set()
    for m in node.matchers:
        _check_matcher_label(m)
        lbl = m.label
        if lbl == "__name__" and node.name is None:
            src = F.coalesce(F.col("name"), F.lit(""))
        elif lbl in labels and lbl in have:
            src = F.coalesce(F.col(lbl), F.lit(""))
        else:
            # a matcher on an absent label: PromQL treats it as ""
            absent.add(lbl)
            labels.add(lbl)
            src = F.lit("")
        preds.append(_matcher_pred_on(src, m))
    if preds:
        cond = preds[0]
        for p in preds[1:]:
            cond = cond & p
        df = df.filter(cond)
    # ONE projection: canonical NULL ≡ "" label form (so every
    # downstream join/group/order on labels follows the matcher
    # convention), the offset ts shift, absent matcher labels as "",
    # the nameless selector's name → __name__ ride-along, and the
    # name drop for named selectors
    cols: list[Column] = []
    for c in df.columns:
        if c == "name":
            if node.name is None:
                cols.append(F.coalesce(F.col("name"), F.lit("")).alias("__name__"))
            continue  # named selector: name is consumed by the filter
        if c == "ts" and node.offset_seconds:
            # `offset d`: the sample taken at t surfaces at evaluation
            # instant t+d, so shifting ts FORWARD aligns it with the
            # un-shifted series d later — `m - m offset 1d` becomes a
            # plain equi-join on ts computing the day-over-day delta
            cols.append(
                (F.col("ts").cast("double") + F.lit(float(node.offset_seconds)))
                .cast("timestamp")
                .alias("ts")
            )
        elif c in labels:
            # one parsed SQL expression per label: a third of the py4j
            # round trips of the col/lit/coalesce/alias Column chain,
            # and the same analyzed plan
            q = "`" + c.replace("`", "``") + "`"
            cols.append(F.expr(f"coalesce({q}, '') AS {q}"))
        else:
            cols.append(F.col(c))
    for lbl in sorted(absent):
        cols.append(F.lit("").alias(lbl))
    return _Vec(df.select(*cols), frozenset(labels))


def _eval_range_operand(
    sel: "Selector | Subquery", metrics: DataFrame, label_cols
) -> _Vec:
    """The sample frame a range function windows over: a selector's
    rows, or — for a subquery — the inner expression evaluated on its
    own aligned step grid (range_eval.GridLeaf with the default
    lookback), whose synthetic samples then feed the enclosing window
    exactly like selector samples.  Evaluation instants downstream are
    the subquery's grid instants, matching Prometheus's grid-aligned
    subquery evaluation."""
    if isinstance(sel, Subquery):
        from kafka_metrics_exporter_spark.promql.range_eval import (
            DEFAULT_LOOKBACK_SECONDS,
            GridLeaf,
            _grid_bounds,
            _us,
        )

        step_us = _us(sel.step_seconds)
        if step_us < 1:
            raise ValueError(
                f"promql: subquery step must be >= 1µs (got {sel.step_seconds}s)"
            )
        inner_leaf = GridLeaf(
            step_us=step_us,
            lookback_us=_us(DEFAULT_LOOKBACK_SECONDS),
            bounds=_grid_bounds(metrics, step_us),
        )
        return _eval(sel.expr, metrics, label_cols, inner_leaf, "a subquery")
    return _eval_selector(sel, metrics, label_cols)


def _eval_rate(node: Rate, metrics: DataFrame, label_cols) -> _Vec:
    vec = _eval_range_operand(node.selector, metrics, label_cols)
    if _HIST_COL in vec.df.columns and not isinstance(node.selector, Subquery):
        if "value" not in vec.df.columns:
            return _eval_hist_rate(node, vec)
        # a frame can carry BOTH sample types (scalar counters with a
        # NULL hist payload alongside native-histogram series) — the
        # dispatch is per-SAMPLE, like Prometheus's type-directed
        # evaluation: frame-wide dispatch silently nulled the scalar
        # series' rates (code-review r10).  Each partition keeps its
        # own series whole (a series is one type), so the lag windows
        # stay correct on both sides.
        h = F.col(_HIST_COL)
        hist_dtype = vec.df.schema[_HIST_COL].dataType
        hpart = _eval_hist_rate(
            node, _Vec(vec.df.filter(h.isNotNull()), vec.labels)
        ).df
        spart = _eval_scalar_rate(
            node, _Vec(vec.df.filter(h.isNull()).drop(_HIST_COL), vec.labels)
        ).df.withColumn(_HIST_COL, F.lit(None).cast(hist_dtype))
        return _Vec(hpart.unionByName(spart), vec.labels)
    return _eval_scalar_rate(node, vec)


def _eval_scalar_rate(node: Rate, vec: _Vec) -> _Vec:
    series = sorted(vec.labels)
    w = Window.partitionBy(*[F.col(c) for c in series]).orderBy(F.col("ts").asc())
    prev_v = F.lag("value").over(w)
    prev_ts = F.lag("ts").over(w)
    if node.fn in ("delta", "idelta"):
        # gauge difference: NO counter-reset clamp (negatives are data)
        delta_v = F.col("value") - prev_v
    else:
        delta_v = F.when(
            F.col("value") >= prev_v, F.col("value") - prev_v
        ).otherwise(F.col("value"))  # counter reset: restart from 0
    # exact integer-micros subtraction, one division — per-endpoint
    # double casts drift each rate ~1e-6 relative (see
    # operators/relational.py rate_per_second)
    delta_t = (
        F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
    ) / F.lit(1_000_000.0)
    # rate/irate: per-second derivative; increase/delta/idelta: the raw
    # (clamped / unclamped) difference — sample-instant mode makes
    # idelta ≡ delta exactly as irate ≡ rate (documented above)
    out_val = (
        delta_v
        if node.fn in ("increase", "delta", "idelta")
        else delta_v / delta_t
    )
    rated = (
        vec.df.withColumn(
            "__rate",
            F.when(
                prev_ts.isNull()
                | (delta_t <= 0)
                # the range window bounds the usable sample gap: a pair
                # straddling a scrape outage wider than the window has
                # <2 samples inside any window instance → no point
                | (delta_t > F.lit(float(node.window_seconds))),
                F.lit(None),
            ).otherwise(out_val),
        )
        .filter(F.col("__rate").isNotNull())  # PromQL emits nothing before 2 samples
        .withColumn("value", F.col("__rate"))
        .drop("__rate")
    )
    return _Vec(rated, vec.labels)


def _eval_hist_rate(node: Rate, vec: _Vec) -> _Vec:
    """rate/irate/increase/delta/idelta over NATIVE-HISTOGRAM series
    (Prometheus 3.x: counter histograms subtract field- and
    bucket-wise, and the result is again a histogram sample that
    histogram_count/sum/avg/stddev/quantile/fraction consume
    unchanged — `histogram_quantile(0.9, rate(m[5m]))`).

    Same adjacent-sample batch semantics, gap bound, and counter-reset
    clamp as the scalar branch below (w2_rate's documented contract);
    the sketch arithmetic is native_hist.hist_delta — one lag window
    per series, everything else scan-local.  The sample's `value`
    column carries the rate histogram's count (the series' observation
    rate) so shape-level consumers and select_shape stay meaningful;
    the `hist` column carries the full sketch for the histogram_*
    wrappers."""
    from kafka_metrics_exporter_spark.promql.native_hist import hist_delta

    series = sorted(vec.labels)
    w = Window.partitionBy(*[F.col(c) for c in series]).orderBy(F.col("ts").asc())
    h = F.col(_HIST_COL)
    prev_h = F.lag(_HIST_COL).over(w)
    prev_ts = F.lag("ts").over(w)
    delta_t = (
        F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
    ) / F.lit(1_000_000.0)
    per_second = node.fn in ("rate", "irate")
    clamp = node.fn in ("rate", "irate", "increase")
    scale = (F.lit(1.0) / delta_t) if per_second else F.lit(1.0)
    rated = (
        vec.df.withColumn("__ok", prev_ts.isNotNull() & (delta_t > 0)
                          & (delta_t <= F.lit(float(node.window_seconds))))
        .withColumn(
            _HIST_COL,
            F.when(F.col("__ok"), hist_delta(h, prev_h, scale, clamp)),
        )
        .filter(F.col("__ok"))
        .drop("__ok")
        .withColumn("value", F.col(_HIST_COL)["count"])
    )
    return _Vec(rated, vec.labels)


def _eval_rate_extrapolated_instant(
    node: Rate, metrics: DataFrame, label_cols
) -> _Vec:
    """rate/increase/delta at SAMPLE instants with Prometheus's window
    extrapolation (promql/functions.go extrapolatedRate), operation for
    operation the grid kernel's arithmetic (range_eval.py:147) so the
    two modes — and the DuckDB oracle twin — produce bit-identical
    doubles.  Per series the reset-corrected cumulative counter is one
    lag + one cumulative window; the per-instant window statistics
    (count, first sample, first corrected/raw value) are ONE
    ``rangeBetween(-(w-1µs), current)`` frame over integer microseconds
    — the evaluation instant t is the current row's own timestamp, so
    the frame is exactly PromQL's half-open (t-w, t] and the window's
    LAST sample is the current row itself (dur_end ≡ 0: the instant
    sits on the newest sample, so only the window-start edge ever
    extrapolates — both engines omit the dead end-extension term).
    All built-in window functions over the series partitioning the
    selector already shuffled by; no second exchange, no UDFs."""
    if node.fn in ("irate", "idelta"):
        return _eval_rate(node, metrics, label_cols)
    vec = _eval_range_operand(node.selector, metrics, label_cols)
    if _HIST_COL in vec.df.columns:
        raise ValueError(
            "promql: extrapolated_rate instant mode covers scalar "
            "counters only — native-histogram rate() needs range mode "
            "(PromQLPlan.evaluate_range) or the default sample-instant "
            "delta kernel"
        )
    series = sorted(vec.labels)
    w_us = int(round(node.window_seconds * 1_000_000))
    ord_w = Window.partitionBy(*[F.col(c) for c in series]).orderBy(
        F.unix_micros(F.col("ts"))
    )
    prev_v = F.lag("value").over(ord_w)
    # reset-corrected monotone counter, exactly the grid kernel's form:
    # add the pre-reset value at every reset, cumulatively, so the
    # corrected first→last delta equals (last - first + Σ resets)
    reset = F.when(
        prev_v.isNotNull() & (F.col("value") < prev_v), prev_v
    ).otherwise(F.lit(0.0))
    cum_w = ord_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    corrected = (
        F.col("value")  # gauge delta: the raw series IS the signal
        if node.fn == "delta"
        else F.col("value") + F.sum(reset).over(cum_w)
    )
    s = vec.df.withColumn("__s_us", F.unix_micros(F.col("ts"))).withColumn(
        "__corrected", corrected
    )
    frame = (
        Window.partitionBy(*[F.col(c) for c in series])
        .orderBy(F.col("__s_us"))
        .rangeBetween(-(w_us - 1), Window.currentRow)
    )
    g = (
        s.withColumn("__cnt", F.count(F.lit(1)).over(frame))
        .withColumn("__first_us", F.first("__s_us").over(frame))
        .withColumn("__first_c", F.first("__corrected").over(frame))
        .withColumn("__first_raw", F.first("value").over(frame))
        .filter(F.col("__cnt") >= 2)  # PromQL: ≥2 samples in the window
    )
    raw_delta = F.col("__corrected") - F.col("__first_c")
    sampled = (F.col("__s_us") - F.col("__first_us")) / F.lit(1_000_000.0)
    dur_start = (
        F.col("__first_us") - (F.col("__s_us") - F.lit(w_us))
    ) / F.lit(1_000_000.0)
    avg_dur = sampled / (F.col("__cnt") - F.lit(1)).cast("double")
    if node.fn != "delta":
        # counter-zero cap: don't extrapolate below the counter's zero
        dur_zero = sampled * (F.col("__first_raw") / raw_delta)
        dur_start = F.when(
            (raw_delta > 0)
            & (F.col("__first_raw") >= 0)
            & (dur_zero < dur_start),
            dur_zero,
        ).otherwise(dur_start)
    ext = sampled + F.when(
        dur_start >= avg_dur * F.lit(1.1), avg_dur / F.lit(2.0)
    ).otherwise(dur_start)
    val = raw_delta * (ext / sampled)
    if node.fn == "rate":
        val = val / F.lit(float(node.window_seconds))
    out = g.withColumn("value", val).select(*series, "ts", "value")
    return _Vec(out, vec.labels)


def _eval_resets_changes(node: Rate, metrics: DataFrame, label_cols) -> _Vec:
    """resets(sel[w]) / changes(sel[w]): per series, how many successive-
    sample drops (resets) or value changes occur in the trailing range.
    Exact integer counts — both engines agree bit-for-bit, no float
    freedom at all.

    Exact Prometheus semantics (both modes agree since round 5): a pair
    counts at instant t iff BOTH endpoints are inside (t - w, t] —
    i.e. t ∈ [s_us, p_us + w).  A windowed sum can't reference the
    frame's anchor instant, so the pair intervals are counted with the
    classic sweep: each qualifying pair emits a +1 event at s_us and a
    -1 event at p_us + w, and the count at instant t is the running sum
    of events with e_us ≤ t.  Pairs with gap ≥ w have an empty interval
    and are dropped up front.  One lag window + one cumulative window,
    both per-series — same shuffle shape as the old single-window form."""
    vec = _eval_range_operand(node.selector, metrics, label_cols)
    series = sorted(vec.labels)
    window_us = int(round(node.window_seconds * 1_000_000))
    if window_us < 1:
        raise ValueError(
            f"promql: {node.fn} window must be >= 1µs (got {node.window_seconds}s)"
        )
    us = F.unix_micros(F.col("ts"))
    ord_w = Window.partitionBy(*[F.col(c) for c in series]).orderBy(us)
    prev_v = F.lag("value").over(ord_w)
    prev_us = F.lag(us).over(ord_w)
    hit = F.col("value") < prev_v if node.fn == "resets" else F.col("value") != prev_v
    flagged = vec.df.select(
        *series,
        F.col("ts"),
        us.alias("__us"),
        prev_us.alias("__p_us"),
        F.when(prev_us.isNotNull() & hit, F.lit(1)).otherwise(F.lit(0)).alias("__hit"),
    )
    eligible = (F.col("__hit") == 1) & (
        F.col("__us") - F.col("__p_us") < F.lit(window_us)
    )
    events = (
        flagged.filter(eligible)
        .select(
            *series,
            F.explode(
                F.array(
                    F.struct(
                        F.col("__us").alias("e_us"), F.lit(1).alias("d")
                    ),
                    F.struct(
                        (F.col("__p_us") + F.lit(window_us)).alias("e_us"),
                        F.lit(-1).alias("d"),
                    ),
                )
            ).alias("__ev"),
        )
        .select(
            *series,
            F.lit(None).cast("timestamp").alias("ts"),
            F.col("__ev.e_us").alias("__e_us"),
            F.col("__ev.d").alias("__d"),
            F.lit(0).alias("__is_base"),
        )
    )
    base = flagged.select(
        *series,
        F.col("ts"),
        F.col("__us").alias("__e_us"),
        F.lit(0).alias("__d"),
        F.lit(1).alias("__is_base"),
    )
    # events sort before the instants that share their timestamp (both
    # event kinds apply at t = e_us); base rows carry delta 0, so frame
    # splits among equal-key peers cannot change any base row's sum —
    # the cumulative ROWS frame is deterministic
    cum = (
        Window.partitionBy(*[F.col(c) for c in series])
        .orderBy(F.col("__e_us").asc(), F.col("__is_base").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        base.unionByName(events)
        .withColumn("value", F.sum("__d").over(cum).cast("double"))
        .filter(F.col("__is_base") == 1)
        .select(*series, "ts", "value")
    )
    return _Vec(out, vec.labels)


def _eval_deriv(node: Deriv, metrics: DataFrame, label_cols) -> _Vec:
    """deriv / predict_linear: simple least-squares regression of value
    against time over the trailing range (t-w, t], per series.

    The regression x is measured from the SERIES' first sample (a
    per-partition min), not raw epoch seconds: slope is translation-
    invariant but epoch-magnitude x (~1.7e9) loses ~5 significant
    digits in the x² sums; a series-relative origin keeps x small.  The
    prediction is the line evaluated ``predict_seconds`` past the
    current instant: avgy + slope·(x_now + horizon − avgx).  Needs ≥2
    distinct-timestamp samples in the window, else no point (matches
    Prometheus)."""
    vec = _eval_range_operand(node.selector, metrics, label_cols)
    series = sorted(vec.labels)
    window_us = int(round(node.window_seconds * 1_000_000))
    if window_us < 1:
        raise ValueError(
            f"promql: deriv/predict_linear window must be >= 1µs "
            f"(got {node.window_seconds}s)"
        )
    us = F.unix_micros(F.col("ts"))
    part = Window.partitionBy(*[F.col(c) for c in series])
    x = (us - F.min(us).over(part)) / F.lit(1_000_000.0)
    w = part.orderBy(us).rangeBetween(-(window_us - 1), 0)
    df = vec.df.withColumn("__x", x)
    # textbook sums, not regr_slope: the Welford-merge path inside
    # Spark's regr_* produces order-dependent intermediates, while
    # plain SUMs of exact products stay EXACT doubles on grid-aligned
    # samples (integer x seconds × integer-ish values < 2^53), making
    # the slope bit-identical to any engine using the same formula —
    # the property the DuckDB oracle relies on.  Numerically this is
    # fine here because x is series-relative (small), not epoch-sized.
    xc, yc = F.col("__x"), F.col("value")
    n = F.count(F.lit(1)).over(w).cast("double")
    sx = F.sum(xc).over(w)
    sy = F.sum(yc).over(w)
    sxy = F.sum(xc * yc).over(w)
    sxx = F.sum(xc * xc).over(w)
    den = n * sxx - sx * sx
    slope = F.when(den > 0, (n * sxy - sx * sy) / den)  # NULL: <2 pts / 0 var
    if node.predict_seconds is None:
        val = slope
    else:
        val = sy / n + slope * (
            xc + F.lit(float(node.predict_seconds)) - sx / n
        )
    out = (
        df.withColumn("value", val.cast("double"))
        .filter(F.col("value").isNotNull())
        .drop("__x")
    )
    return _Vec(out, vec.labels)


def _eval_over_time(node: OverTime, metrics: DataFrame, label_cols) -> _Vec:
    """<agg>_over_time(sel[w]): per series, aggregate the samples in the
    trailing range (t-w, t] — a real RANGE window frame over epoch
    MICROseconds, so fractional/sub-second windows (the parser accepts
    `[500ms]`) get an exact left-open boundary instead of a silently
    truncated integer-second frame."""
    window_us = int(round(node.window_seconds * 1_000_000))
    if window_us < 1:
        raise ValueError(
            f"promql: {node.op}_over_time window must be >= 1µs "
            f"(got {node.window_seconds}s)"
        )
    if node.op == "absent":
        # an instant with no sample in (t-w, t] emits 1 — but the
        # sample-instant universe IS the sample timestamps, so every
        # instant trivially has its own sample in-window; the function
        # only means something on an independent step grid
        raise ValueError(
            "promql: absent_over_time needs range (step-grid) mode — "
            "use evaluate_range()"
        )
    vec = _eval_range_operand(node.selector, metrics, label_cols)
    series = sorted(vec.labels)
    w = (
        Window.partitionBy(*[F.col(c) for c in series])
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-(window_us - 1), 0)
    )
    special = _over_time_special(node.op)
    if special is not None:
        core, post = special
        return _Vec(
            vec.df.withColumn("value", post(core.over(w))), vec.labels
        )
    if node.op == "quantile":
        # PromQL quantile_over_time = linear interpolation over the
        # sorted samples — exactly SQL percentile_cont semantics
        agg = F.percentile(F.col("value"), F.lit(float(node.param)))
    elif node.op == "last":
        # deterministic newest-sample pick: max over (ts, value) structs
        # orders by timestamp first, value second, so duplicate-timestamp
        # peers resolve to the max value instead of partition-order luck
        # (getField AFTER .over — the window must wrap the aggregate)
        agg_col = (
            F.max(
                F.struct(
                    F.unix_micros(F.col("ts")).alias("__o_us"),
                    F.col("value").alias("__o_v"),
                )
            )
            .over(w)
            .getField("__o_v")
            .cast("double")
        )
        return _Vec(vec.df.withColumn("value", agg_col), vec.labels)
    else:
        agg = _AGG_FN[node.op](F.col("value"))
    agg_col = agg.over(w).cast("double")
    return _Vec(vec.df.withColumn("value", agg_col), vec.labels)


def holt_winters_fold(arr: Column, sf: float, tf: float) -> Column:
    """Prometheus funcHoltWinters over a time-ordered array of sample
    structs (fields ``__o_us``, ``__o_v``) as a JVM-side
    ``F.aggregate`` fold — no Python, no per-row state outside the
    accumulator struct.  Replicates promql/functions.go operation for
    operation: level s0 = x0; trend b inits from x1 − x0 (the trend
    update is skipped on that first step, calcTrendValue(0) = b);
    thereafter s1 = sf·x + (1−sf)·(s + b), b = tf·(s1 − s) + (1−tf)·b.
    NULL (no point) with fewer than 2 samples."""
    a, d = float(sf), float(tf)

    def step(acc, e):
        x = e["__o_v"]
        first = acc["i"] == 0
        second = acc["i"] == 1
        b0 = x - acc["s"]
        s1_second = F.lit(a) * x + F.lit(1 - a) * (acc["s"] + b0)
        s1_later = F.lit(a) * x + F.lit(1 - a) * (acc["s"] + acc["b"])
        b_later = F.lit(d) * (s1_later - acc["s"]) + F.lit(1 - d) * acc["b"]
        return F.struct(
            F.when(first, x)
            .when(second, s1_second)
            .otherwise(s1_later)
            .alias("s"),
            F.when(first, F.lit(None).cast("double"))
            .when(second, b0)
            .otherwise(b_later)
            .alias("b"),
            (acc["i"] + 1).alias("i"),
        )

    init = F.struct(
        F.lit(None).cast("double").alias("s"),
        F.lit(None).cast("double").alias("b"),
        F.lit(0).alias("i"),
    )
    res = F.aggregate(arr, init, step)
    return F.when(res["i"] >= 2, res["s"])


def _eval_holt_winters(node: HoltWinters, metrics: DataFrame, label_cols) -> _Vec:
    """Sample-instant mode: at each instant, fold the time-ordered
    samples in the trailing range (t−w, t] — a collect_list RANGE
    window per series, sorted, folded (the list is bounded by the
    window's sample count, the same bound every *_over_time frame
    carries)."""
    window_us = int(round(node.window_seconds * 1_000_000))
    if window_us < 1:
        raise ValueError("promql: holt_winters window must be >= 1µs")
    vec = _eval_range_operand(node.selector, metrics, label_cols)
    series = sorted(vec.labels)
    w = (
        Window.partitionBy(*[F.col(c) for c in series])
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-(window_us - 1), 0)
    )
    arr = F.sort_array(
        F.collect_list(
            F.struct(
                F.unix_micros(F.col("ts")).alias("__o_us"),
                F.col("value").alias("__o_v"),
            )
        ).over(w)
    )
    out = (
        vec.df.withColumn("value", holt_winters_fold(arr, node.sf, node.tf))
        .filter(F.col("value").isNotNull())
    )
    return _Vec(out, vec.labels)


class _SampleLeaf:
    """The default leaf strategy: sample-instant evaluation of the
    data-touching kinds.  It carries NO ``step_us``/``bounds``/
    ``lookback_us`` attributes, so the hasattr-guarded grid-only paths
    (@-anchoring grids, grid bounds, lookback trims) keep their
    sample-instant behavior."""

    selector = staticmethod(_eval_selector)
    rate = staticmethod(_eval_rate)
    resets_changes = staticmethod(_eval_resets_changes)
    deriv = staticmethod(_eval_deriv)
    over_time = staticmethod(_eval_over_time)
    holt_winters = staticmethod(_eval_holt_winters)


class _InstantExtrapolatedLeaf(_SampleLeaf):
    """Sample-instant evaluation with Prometheus's extrapolatedRate
    kernel (promql/functions.go) for rate/increase/delta — the opt-in
    ``PromQLPlan.evaluate(..., extrapolated_rate=True)`` mode closing
    the last documented batch-mode divergence (successive-delta rate,
    pinned since r3; grid mode closed it in r10).  Every other leaf
    (selector, over-time, deriv, holt_winters, resets/changes) is the
    default sample-instant evaluator.  irate/idelta keep the two-sample
    form — at a sample instant the last two window samples ARE the
    successive pair, so that form IS Prometheus's irate."""

    rate = staticmethod(_eval_rate_extrapolated_instant)


_AGG_FN = {
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": lambda c: F.count(F.lit(1)),
    # PromQL stddev/stdvar are population statistics
    "stddev": F.stddev_pop,
    "stdvar": F.var_pop,
    # the window frame is time-ordered, so last == the newest sample
    "last": lambda c: F.last(c, ignorenulls=True),
    # group(): 1 for every populated group; present_over_time: 1 at
    # every instant whose trailing window holds any sample — both are
    # "existence" aggregates, value pinned to 1.0
    "group": lambda c: F.max(F.lit(1.0)),
    "present": lambda c: F.max(F.lit(1.0)),
}


def _eval_agg(node: Agg, metrics: DataFrame, label_cols, leaf) -> _Vec:
    vec = _eval(node.expr, metrics, label_cols, leaf, "an aggregation")
    if node.by is not None:
        out_labels = list(node.by)
    elif node.without is not None:
        out_labels = sorted(vec.labels - set(node.without))
    else:
        out_labels = []
    df = _with_cols(  # grouping by absent labels: one batched pass
        vec.df, {lbl: F.lit("") for lbl in out_labels if lbl not in vec.labels}
    )
    if node.op == "count_values":
        # count_values("lbl", v): how many series carry each distinct
        # sample value at each instant — the value itself becomes a new
        # label, formatted Prometheus-style (integral doubles print
        # without the trailing .0; try_cast guards the > 2^63 range)
        if node.value_label in set(out_labels) | {"ts", "value", "name"}:
            # Prometheus rejects conflicting label names; silently
            # clobbering a grouping key or a reserved column would
            # corrupt the result shape (ADVICE r5)
            raise ValueError(
                f"promql: count_values label {node.value_label!r} conflicts "
                f"with a grouping label or a reserved column (ts/value/name)"
            )
        big = F.col("value").try_cast("bigint")
        val_str = F.when(
            big.isNotNull() & (big.cast("double") == F.col("value")),
            big.cast("string"),
        ).otherwise(F.col("value").cast("string"))
        df = df.withColumn(node.value_label, val_str)
        keys = [*out_labels, node.value_label]
        grouped = df.groupBy(*[F.col(c) for c in keys], F.col("ts")).agg(
            F.count(F.lit(1)).cast("double").alias("value")
        )
        return _Vec(grouped, frozenset(keys))
    if node.op == "quantile":
        # exact interpolated percentile across the series at each
        # instant — PromQL's quantile() semantics
        agg_expr = F.percentile(F.col("value"), F.lit(node.param))
    elif node.op == "max":
        # Go's aggregation max (`v > max || isNaN(max)`) never lets a
        # NaN series win unless ALL are NaN; Spark's comparator orders
        # NaN greatest, so key on (is-real, value) — round 11.5, same
        # keying as max_over_time/ts_of_*/topk (min needs no help:
        # NaN-greatest NaN already loses a min)
        agg_expr = F.max(_nan_losing_max_key(F.col("value"))).getField("__o_v")
    else:
        agg_expr = _AGG_FN[node.op](F.col("value"))
    grouped = df.groupBy(*[F.col(c) for c in out_labels], F.col("ts")).agg(
        agg_expr.cast("double").alias("value")
    )
    return _Vec(grouped, frozenset(out_labels))


def _eval_topk(node: TopK, metrics: DataFrame, label_cols, leaf) -> _Vec:
    vec = _eval(node.expr, metrics, label_cols, leaf, "topk")
    # Prometheus's topk heap replaces a NaN with any real sample
    # (engine.go: `heap[0].F < s.F || (isNaN(heap[0].F) &&
    # !isNaN(s.F))`), so the descending rank keys on (is-real, value)
    # — Spark's plain desc would rank NaN first (code-review 11.5).
    # bottomk needs no key: ascending order puts NaN-greatest last.
    order = [
        F.col("value").asc()
        if node.bottom
        else _nan_losing_max_key(F.col("value")).desc()
    ]
    # deterministic under value ties: break by the full label tuple
    order += [F.col(c).asc() for c in sorted(vec.labels)]
    w = Window.partitionBy(F.col("ts")).orderBy(*order)
    df = (
        vec.df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= node.k)
        .drop("__rn")
    )
    return _Vec(df, vec.labels)


def _eval_limitk(node: LimitK, metrics: DataFrame, label_cols, leaf) -> _Vec:
    """``limitk`` / ``limit_ratio`` (Prometheus 3.x experimental
    sampling aggregations).  limitk keeps the k FIRST series per
    instant in label order (deterministic; Prometheus's pick is
    arbitrary — ours is a valid answer and stable across runs).
    limit_ratio hashes the label tuple to [0, 1) (md5-derived, so any
    engine replays it) and keeps h < r for r ≥ 0, h ≥ 1+r for r < 0 —
    preserving Prometheus's documented pair-splitting property:
    ``limit_ratio(r, v)`` and ``limit_ratio(r-1, v)`` partition v
    exactly.  Both are one filter over the input's existing shuffle
    shape — limitk's rank window partitions by ts, limit_ratio is a
    scan-local predicate with no shuffle at all."""
    vec = _eval(node.expr, metrics, label_cols, leaf, "limitk/limit_ratio")
    series = sorted(vec.labels)
    if not node.ratio:
        order = [F.col(c).asc() for c in series] or [F.lit(1).asc()]
        w = Window.partitionBy(F.col("ts")).orderBy(*order)
        df = (
            vec.df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= int(node.param))
            .drop("__rn")
        )
        return _Vec(df, vec.labels)
    r = float(node.param)
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("\x1f", *[F.col(c) for c in series])), 1, 8
        ),
        16,
        10,
    ).cast("long") / F.lit(float(1 << 32))
    keep = (h < F.lit(r)) if r >= 0 else (h >= F.lit(1.0 + r))
    return _Vec(vec.df.filter(keep), vec.labels)


def _median_of_sorted(arr: Column) -> Column:
    """Linear-interpolated median of a SORTED double array — the
    midpoint of the two middle elements, exactly percentile_cont(0.5)
    (integer index arithmetic: 1-based lower middle ⌊(n+1)/2⌋, upper
    middle ⌊n/2⌋+1; equal for odd n)."""
    n = F.size(arr)
    lo = F.element_at(arr, ((n + F.lit(1)) / F.lit(2)).cast("int"))
    hi = F.element_at(arr, (n / F.lit(2) + F.lit(1)).cast("int"))
    return (lo + hi) / F.lit(2.0)


def _mad_from_sorted(arr: Column) -> Column:
    """``mad_over_time`` kernel: median absolute deviation —
    median(|x − median(x)|) — over a sorted sample array, entirely as
    codegen array expressions (sort_array + transform + element_at),
    no UDFs, state bounded by the window's sample count like every
    other *_over_time frame."""
    m = _median_of_sorted(arr)
    devs = F.sort_array(F.transform(arr, lambda x: F.abs(x - m)))
    return F.when(F.size(arr) > 0, _median_of_sorted(devs))


def _is_real(v: Column) -> Column:
    """Leading ordering flag for Go's max pattern (`v > max ||
    isNaN(max)`): any real value outranks every NaN.  Shared by the
    max() aggregation, max_over_time, ts_of_max/ts_of_min, and topk —
    one keying, so the modes cannot silently diverge (code-review
    11.5)."""
    return (~F.isnan(v)).cast("int").alias("__o_r")


def _nan_losing_max_key(v: Column) -> Column:
    """(is-real, value) struct — ``F.max`` over it implements the
    NaN-losing max; read the value back with ``getField('__o_v')``."""
    return F.struct(_is_real(v), v.alias("__o_v"))


def _over_time_special(op: str):
    """The round-8 *_over_time additions (Prometheus 3.x experimental
    family), shared by instant mode (wrap core in ``.over(w)``) and
    grid mode (core as a groupBy aggregate): returns
    ``(core_aggregate, post)`` or None for the classic ops.

    - ``first``: earliest sample's value (min over (ts, value) structs
      — dup-timestamp peers resolve deterministically to the min
      value, mirroring last_over_time's max pick).
    - ``ts_of_max``/``ts_of_min``/``ts_of_last``: the TIMESTAMP (float
      epoch seconds, like timestamp()) of the last sample carrying the
      window's max/min value, resp. the newest sample.
    - ``max``: routed through here (round 11.5) so NaN samples lose to
      every real value — Go's ``v > max || isNaN(max)`` never lets NaN
      win unless the window is all-NaN, while Spark's plain comparator
      orders NaN greatest (``min`` needs no help: NaN-greatest means
      NaN already loses a min; the same keying fixes ts_of_max /
      ts_of_min, whose divergence note this replaces).
    - ``mad``: median absolute deviation (see _mad_from_sorted)."""
    ts_us = F.unix_micros(F.col("ts"))
    v = F.col("value")
    # NaN-losing ordering key (shared _is_real flag): any real value
    # outranks every NaN, all-NaN groups fall back to comparing the
    # NaNs themselves (equal — ties resolve on the next struct field)
    real = _is_real(v)
    if op == "first":
        core = F.min(F.struct(ts_us.alias("__o_us"), v.alias("__o_v")))
        return core, lambda c: c.getField("__o_v").cast("double")
    if op == "max":
        core = F.max(_nan_losing_max_key(v))
        return core, lambda c: c.getField("__o_v").cast("double")
    if op == "ts_of_last":
        return F.max(ts_us), lambda c: (c / F.lit(1e6)).cast("double")
    if op == "ts_of_first":
        # Prometheus 3.5 experimental, first_over_time's timestamp
        # twin: the OLDEST sample's timestamp, value-independent like
        # ts_of_last
        return F.min(ts_us), lambda c: (c / F.lit(1e6)).cast("double")
    if op == "ts_of_max":
        core = F.max(F.struct(real, v.alias("__o_v"), ts_us.alias("__o_us")))
        return core, lambda c: (c.getField("__o_us") / F.lit(1e6)).cast("double")
    if op == "ts_of_min":
        core = F.max(
            F.struct(real, (-v).alias("__o_v"), ts_us.alias("__o_us"))
        )
        return core, lambda c: (c.getField("__o_us") / F.lit(1e6)).cast("double")
    if op == "mad":
        # core must be the bare window/groupBy aggregate (``.over`` in
        # instant mode attaches to collect_list itself); sorting is a
        # row-level post step
        return F.collect_list(v), lambda c: _mad_from_sorted(F.sort_array(c))
    return None


def _eval_histogram_quantile(
    node: HistogramQuantile, metrics: DataFrame, label_cols, leaf
) -> _Vec:
    """histogram_quantile(φ, buckets): per (labels − le, ts) group,
    linear interpolation inside the cumulative `le` buckets — exactly
    Prometheus's rules: the first bucket interpolates from 0, a
    quantile landing in the +Inf bucket returns the highest finite le.

    Relational form (no collects, no UDFs): one window over the group
    ordered by le computes the cumulative total (= the +Inf value) and
    each bucket's predecessor, then the single bucket whose cumulative
    count crosses φ·total is selected by filter — the group's quantile
    is a plain projection of that row."""
    vec = _eval(node.expr, metrics, label_cols, leaf, "histogram_quantile")
    if "le" not in vec.labels:
        # Prometheus 3.x dual dispatch: the same function name serves
        # classic `le`-bucket series AND native-histogram samples —
        # selected by the sample type, here by the presence of the
        # `hist` struct column (promql/native_hist.py)
        if _HIST_COL in vec.df.columns:
            from kafka_metrics_exporter_spark.promql.native_hist import (
                hist_quantile,
            )

            out_labels = sorted(vec.labels)
            # a mixed scalar+histogram frame carries NULL hist payloads
            # on the scalar rows — Prometheus drops non-histogram
            # samples from histogram_* functions (ADVICE r10), it does
            # not emit NULL-valued rows for them
            picked = (
                vec.df.filter(F.col(_HIST_COL).isNotNull())
                .withColumn("value", hist_quantile(F.col(_HIST_COL), node.phi))
                .select(*out_labels, "ts", "value")
            )
            return _Vec(picked, frozenset(out_labels))
        raise ValueError(
            "promql: histogram_quantile needs an `le` label (classic "
            "buckets) or a `hist` native-histogram column"
        )
    out_labels = sorted(vec.labels - {"le"})
    grp = [*out_labels, "ts"]
    le = F.when(
        F.upper(F.col("le")).isin("+INF", "INF", "INFINITY"), F.lit(float("inf"))
    ).otherwise(F.col("le").cast("double"))
    df = vec.df.withColumn("__le", le)
    w_all = Window.partitionBy(*[F.col(c) for c in grp])
    w_ord = w_all.orderBy(F.col("__le").asc())
    df = df.withColumns({
        "__total": F.max("value").over(w_all),
        "__prev_le": F.coalesce(F.lag("__le").over(w_ord), F.lit(0.0)),
        "__prev_v": F.coalesce(F.lag("value").over(w_ord), F.lit(0.0)),
        "__max_fin": F.max(
            F.when(F.col("__le") != float("inf"), F.col("__le"))
        ).over(w_all),
    })
    rank = F.lit(node.phi) * F.col("__total")
    crossing = (F.col("value") >= rank) & (F.col("__prev_v") < rank)
    interp = F.col("__prev_le") + (F.col("__le") - F.col("__prev_le")) * (
        rank - F.col("__prev_v")
    ) / (F.col("value") - F.col("__prev_v"))
    q = F.when(F.col("__le") == float("inf"), F.col("__max_fin")).otherwise(interp)
    picked = (
        df.filter((F.col("__total") > 0) & crossing)
        .withColumn("__rn", F.row_number().over(w_ord))
        .filter(F.col("__rn") == 1)
        .select(*out_labels, "ts", q.alias("value"))
    )
    return _Vec(picked, frozenset(out_labels))


_HIST_COL = "hist"


def _eval_histogram_fn(
    node: "HistogramFn | HistogramFraction", metrics: DataFrame, label_cols, leaf
) -> _Vec:
    """histogram_count / histogram_sum / histogram_avg /
    histogram_fraction over native-histogram samples (Prometheus 3.x;
    VERDICT r9 item 4).  The sketch rides the selector as the `hist`
    struct column; every function is a scan-local fold over the row's
    own bucket arrays (promql/native_hist.py) — zero shuffles beyond
    the selector's.  These functions consume the sample payload
    directly, so they must wrap a selector (possibly with matchers /
    offset / @), not a derived vector that has already dropped the
    payload — mirroring Prometheus, where only histogram-typed samples
    feed them."""
    from kafka_metrics_exporter_spark.promql import native_hist as nh

    vec = _eval(node.expr, metrics, label_cols, leaf, "a histogram_* function")
    if _HIST_COL not in vec.df.columns:
        raise ValueError(
            "promql: histogram_* functions need native-histogram samples "
            "(a `hist` struct column on the selector's frame)"
        )
    h = F.col(_HIST_COL)
    if isinstance(node, HistogramFraction):
        value = nh.hist_fraction(h, node.lo, node.hi)
    else:
        value = {
            "count": nh.hist_count,
            "sum": nh.hist_sum,
            "avg": nh.hist_avg,
            "stddev": nh.hist_stddev,
            "stdvar": nh.hist_stdvar,
        }[node.fn](h)
    out_labels = sorted(vec.labels)
    # drop non-histogram samples (NULL hist payload in a mixed frame)
    # instead of emitting NULL-value rows — Prometheus's per-sample
    # dispatch (ADVICE r10), mirroring _eval_rate's split
    df = (
        vec.df.filter(h.isNotNull())
        .withColumn("value", value)
        .select(*out_labels, "ts", "value")
    )
    return _Vec(df, frozenset(out_labels))


def _eval_info(node: Info, metrics: DataFrame, label_cols, leaf) -> _Vec:
    """``info(v[, {sel}])`` — Prometheus 3.x experimental info-metric
    join (promql/functions.go funcInfo, flag
    --enable-feature=promql-experimental-functions): for each sample of
    ``v``, find the ``target_info`` series sharing the IDENTIFYING
    labels (``instance``/``job``) at the same instant and add its DATA
    labels.  The optional data-label selector filters the info series
    AND restricts the added labels to the ones it names.

    Relational reading (and the documented divergences):

    - ENRICHMENT, never a filter: samples with no matching info series
      pass through with the data labels absent ("" under the engine's
      canonical form) — a LEFT join, mirroring the ``* on(instance,
      job) group_left(...) target_info`` idiom this function replaces
      without its inner-join sample drop.
    - Several info series matching one identity union their
      complementary labels; CONFLICTING non-empty values for the same
      data label ERROR at evaluation time like Prometheus (round 11.5
      — the merge-by-max fallback was a documented divergence).  The
      check is fail-CLOSED over every info identity, riding the SAME
      single catalog-sized job that materializes the broadcast join
      side (round 12 — see the inline comment for why a lazy assert
      cannot error reliably), slightly broader than Prometheus's
      matched-only scope: corrupt metadata on an unmatched identity
      errors here but not upstream.
    - A data label already present and non-empty on v's sample wins
      (Prometheus keeps the original label too).

    Scale shape: the info side is one row per scrape TARGET per
    instant — catalog-sized by construction, broadcast — so the join
    adds no shuffle of the sample side."""
    vec = _eval(node.expr, metrics, label_cols, leaf, "info()")
    info = _eval(Selector("target_info"), metrics, label_cols, leaf)
    identifying = [l for l in ("instance", "job") if l in info.labels]
    if not identifying:
        raise ValueError(
            "promql: info() needs instance/job identifying labels in "
            "the metrics frame"
        )
    data = sorted(info.labels - set(identifying))
    idf = info.df
    if node.matchers:
        for m in node.matchers:
            _check_matcher_label(m)
            if m.label not in info.labels:
                idf = idf.withColumn(m.label, F.lit(""))
            idf = idf.filter(_matcher_pred(m))
        data = sorted({m.label for m in node.matchers} & set(info.labels))
    # merge info series per identity+instant: complementary labels
    # union (one series carries env, another version), but CONFLICTING
    # non-empty values for the same label ERROR like Prometheus
    # (round 11.5 — previously a documented merge-by-max divergence).
    # Erroring reliably needs an eager driver-side action (a lazy
    # in-plan assert is silently pruned whenever the merged label is
    # not consumed downstream — Catalyst ColumnPruning, second-review
    # 11.5), but the check no longer pays its own aggregation job
    # (VERDICT r11 What's-wrong #3: it doubled the query's cost):
    # the conflict-count legs ride the SAME groupBy that builds the
    # join frame, the frame is materialized ONCE by an eager
    # localCheckpoint (catalog-sized: one row per scrape target per
    # instant — the same bound the broadcast below already assumed),
    # and the probe + the broadcast join both read the checkpointed
    # blocks instead of re-running the aggregation.  One catalog-sized
    # job plus a block-scan probe with an early-exit limit.  Residual
    # scope difference, documented: the check is FAIL-CLOSED over
    # every info identity, while Prometheus detects conflicts only
    # among info series its samples actually match — corrupt metadata
    # on an unmatched identity errors here but not upstream.
    agg = idf.groupBy(*identifying, "ts").agg(
        *[F.max(d).alias(f"__info_{d}") for d in data],
        *[
            F.size(
                F.collect_set(F.when(F.col(d) != "", F.col(d)))
            ).alias(f"__n_{d}")
            for d in data
        ],
    )
    if data:
        agg = agg.localCheckpoint(eager=True)
        pred = None
        for d in data:
            leg = F.col(f"__n_{d}") > 1
            pred = leg if pred is None else (pred | leg)
        if agg.filter(pred).limit(1).collect():
            raise ValueError(
                "promql: info() found conflicting data-label values for "
                "one identity at one instant"
            )
        agg = agg.drop(*[f"__n_{d}" for d in data])
    left = vec.df
    for l in identifying:
        if l not in vec.labels:
            left = left.withColumn(l, F.lit(""))
    out = left.join(F.broadcast(agg), identifying + ["ts"], "left")
    for d in data:
        added = F.coalesce(F.col(f"__info_{d}"), F.lit(""))
        if d in vec.labels:
            out = out.withColumn(
                d, F.when(F.col(d) != "", F.col(d)).otherwise(added)
            )
        else:
            out = out.withColumn(d, added)
    out = out.drop(*[f"__info_{d}" for d in data])
    return _Vec(out, frozenset(vec.labels) | set(identifying) | set(data))



def _eval_label_fn(
    node: LabelReplace | LabelJoin, metrics: DataFrame, label_cols, leaf
) -> _Vec:
    vec = _eval(node.expr, metrics, label_cols, leaf, "a label function")
    labels = set(vec.labels)
    df = vec.df
    if isinstance(node, LabelReplace):
        src = (
            F.coalesce(F.col(node.src), F.lit(""))
            if node.src in labels
            else F.lit("")
        )
        existing = F.col(node.dst) if node.dst in labels else F.lit("")
        pat = f"^(?:{node.regex})$"  # PromQL fully anchors the regex
        df = df.withColumn(
            node.dst,
            F.when(src.rlike(pat), F.regexp_replace(src, pat, node.replacement))
            .otherwise(existing),
        )
    else:
        parts = [
            F.coalesce(F.col(c), F.lit("")) if c in labels else F.lit("")
            for c in node.srcs
        ]
        df = df.withColumn(node.dst, F.concat_ws(node.sep, *parts))
    labels.add(node.dst)
    return _Vec(df, frozenset(labels))


def _bin_div(a, b):
    """IEEE-754 division, which Prometheus inherits from Go: x/0 is
    ±Inf with the dividend's sign, 0/0 and NaN/0 are NaN.  Spark 4's
    ANSI mode (the default) makes ``/`` THROW on a zero divisor, so
    the Column path spells the zero-divisor branches out in a CaseWhen
    (branches evaluate per-row, so the ANSI error can't fire); the
    pure-scalar path mirrors it because CPython raises
    ZeroDivisionError.  The −0.0 divisor's sign — invisible to Spark's
    comparator (−0.0 == 0) — is recovered from the value's STRING form
    (Spark casts −0.0 to "-0.0"), so x/−0 is −Inf-signed exactly like
    Go (round 11.5; previously the last documented arithmetic
    divergence).  An oracle twin replaying this branch would use
    DuckDB's signbit() — its VARCHAR cast drops the zero's sign; no
    registry query divides by a signed zero, so the branch is
    pytest-pinned (differential vs the scalar path)."""
    import math

    if isinstance(a, float) and isinstance(b, float):
        if b == 0.0:
            if math.isnan(a) or a == 0.0:
                return float("nan")
            return math.copysign(float("inf"), a) * math.copysign(1.0, b)
        return a / b
    neg_zero = b.cast("string").startswith("-")
    inf, ninf = F.lit(float("inf")), F.lit(float("-inf"))
    return (
        F.when(b != 0, a / b)
        .when(F.isnan(a), F.lit(float("nan")))
        .when((a > 0) & ~neg_zero, inf)
        .when((a > 0) & neg_zero, ninf)
        .when((a < 0) & ~neg_zero, ninf)
        .when((a < 0) & neg_zero, inf)
        .otherwise(F.lit(float("nan")))
    )


def _bin_mod(a, b):
    # Prometheus % is Go math.Mod: TRUNCATED modulo, sign of the
    # dividend (-5 % 4 == -1), Mod(x, 0) = Mod(±Inf, y) = NaN,
    # Mod(x, ±Inf) = x.  Spark's double Remainder is the Java %,
    # which agrees on all of those EXCEPT that ANSI mode throws on a
    # zero divisor — guarded in a CaseWhen branch.  Python's math.fmod
    # matches Go's sign rules but RAISES where Go returns NaN.
    import math

    if isinstance(a, float) and isinstance(b, float):
        if b == 0.0 or math.isinf(a):
            return float("nan")
        return math.fmod(a, b)
    return F.when(b != 0, a % b).otherwise(F.lit(float("nan")))


def _bin_pow(a, b):
    import math

    if isinstance(a, float) and isinstance(b, float):
        # Go's math.Pow never raises: NaN where CPython's ValueError
        # fires (e.g. (−1)^0.5), ±Inf on overflow
        try:
            return math.pow(a, b)
        except ValueError:
            return float("nan")
        except OverflowError:
            neg = a < 0 and float(b).is_integer() and int(b) % 2 == 1
            return float("-inf") if neg else float("inf")
    # Column path (ADVICE r7): Java's Math.pow returns NaN for
    # Pow(±1, ±Inf) and Pow(1, NaN) where Go (and IEEE 754 pow) return
    # 1 — guard those cases so vector `^` agrees with the scalar path
    ca = a if isinstance(a, Column) else F.lit(float(a))
    cb = b if isinstance(b, Column) else F.lit(float(b))
    return (
        F.when(ca == F.lit(1.0), F.lit(1.0))
        .when(
            (ca == F.lit(-1.0)) & (F.abs(cb) == F.lit(float("inf"))),
            F.lit(1.0),
        )
        .otherwise(F.pow(ca, cb))
    )


def _bin_atan2(a, b):
    import math

    if isinstance(a, float) and isinstance(b, float):
        return math.atan2(a, b)
    return F.atan2(a, b)


_CMP_COL_OPS = {
    ">": Column.__gt__,
    "<": Column.__lt__,
    ">=": Column.__ge__,
    "<=": Column.__le__,
    "==": Column.__eq__,
    "!=": Column.__ne__,
}
_CMP_PY_OPS = {
    ">": lambda a, b: a > b,
    "<": lambda a, b: a < b,
    ">=": lambda a, b: a >= b,
    "<=": lambda a, b: a <= b,
    "==": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
}


def _bool01(pred: Column) -> Column:
    return F.when(pred, F.lit(1.0)).otherwise(F.lit(0.0))


def _ieee_cmp(op: str, lv: Column, rv: Column) -> Column:
    """IEEE-754 comparison semantics, which Prometheus inherits from
    Go: any comparison involving NaN is false, except ``!=`` which is
    true.  Spark instead orders NaN greatest and makes NaN equal to
    itself, so the NaN cases need an explicit guard."""
    nan = F.isnan(lv) | F.isnan(rv)
    base = _CMP_COL_OPS[op](lv, rv)
    if op == "!=":
        return nan | base
    return (~nan) & base


def _cmp_elementwise(vec: _Vec, pred: Column, bool_mode: bool) -> _Vec:
    if bool_mode:
        return _Vec(
            vec.df.withColumn("value", _bool01(pred)),
            vec.labels,
            scalar=vec.scalar,
        )
    return _Vec(vec.df.filter(pred), vec.labels, scalar=vec.scalar)


def _eval_cmp(node: Cmp, metrics: DataFrame, label_cols, leaf) -> _Vec | float:
    """Comparison operators — Prometheus's filter semantics
    (engine.go VectorscalarBinop / the comparison branch of
    VectorVectorBinop):

    - vector CMP scalar (either syntactic order): FILTER the vector —
      keep the elements where the comparison holds, value and labels
      unchanged; with ``bool``, keep every element with value 1.0/0.0.
    - scalar CMP scalar: requires ``bool`` (the parser enforces the
      literal case; scalar()-typed expressions are enforced here);
      the result stays scalar-typed.
    - vector CMP vector: one-to-one matching on the identical label
      set, or on(...)/ignoring(...) keys.  Without ``bool`` the result
      keeps the LEFT side's elements — full label set, left value —
      where the matched comparison holds (comparisons FILTER, they do
      not rewrite labels the way arithmetic does); with ``bool``
      matched pairs emit 1.0/0.0 over the match keys.
      group_left/group_right mirror arithmetic's many-to-one matching:
      the many side's elements are kept (+ include labels), the value
      compared — and kept in filter mode — is the syntactic LEFT's.

    All paths use IEEE NaN semantics via _ieee_cmp (NaN compares false
    except ``!=``), diverging from Spark's NaN-greatest ordering to
    match Prometheus.
    """
    left = _eval(node.expr, metrics, label_cols, leaf)
    right = _eval(node.rhs, metrics, label_cols, leaf)
    if isinstance(left, float) and isinstance(right, float):
        if not node.bool_mode:
            raise ValueError(
                "promql: comparisons between scalars must use the bool "
                "modifier"
            )
        if math.isnan(left) or math.isnan(right):
            return 1.0 if node.op == "!=" else 0.0
        return 1.0 if _CMP_PY_OPS[node.op](left, right) else 0.0
    if isinstance(right, float):
        pred = _ieee_cmp(node.op, F.col("value"), F.lit(right))
        return _cmp_elementwise(left, pred, node.bool_mode)
    if isinstance(left, float):
        # scalar CMP vector: the comparison reads `scalar op element`,
        # but the kept/emitted element is the VECTOR's
        pred = _ieee_cmp(node.op, F.lit(left), F.col("value"))
        return _cmp_elementwise(right, pred, node.bool_mode)
    if left.scalar and right.scalar:
        if not node.bool_mode:
            raise ValueError(
                "promql: comparisons between scalars must use the bool "
                "modifier"
            )
        lf = left.df.select("ts", F.col("value").alias("__lv"))
        rf = right.df.select("ts", F.col("value").alias("__rv"))
        out = (
            lf.join(rf, ["ts"], "inner")
            .withColumn("value", _bool01(_ieee_cmp(node.op, F.col("__lv"), F.col("__rv"))))
            .drop("__lv", "__rv")
        )
        return _Vec(out, frozenset(), scalar=True)
    if left.scalar != right.scalar and node.match is None:
        # scalar-TYPED operand (time(), scalar(v)): instant-wise
        # against the vector side, keeping the vector's shape — same
        # typing rule as _eval_bin
        svec = left if left.scalar else right
        ovec = right if left.scalar else left
        sf = svec.df.select("ts", F.col("value").alias("__sv"))
        lv = F.col("__sv") if left.scalar else F.col("value")
        rv = F.col("value") if left.scalar else F.col("__sv")
        joined = ovec.df.join(sf, "ts", "inner")
        pred = _ieee_cmp(node.op, lv, rv)
        if node.bool_mode:
            out = joined.withColumn("value", _bool01(pred)).drop("__sv")
        else:
            out = joined.filter(pred).drop("__sv")
        return _Vec(out, ovec.labels)
    # vector CMP vector
    if node.match is not None and node.match.group is not None:
        return _eval_matched_bin(
            node, left, right, None, cmp_op=node.op, bool_mode=node.bool_mode
        )
    if node.match is not None:
        keys = _match_keys(node.match, left, right)
    else:
        if left.labels != right.labels:
            raise ValueError(
                f"promql: vector comparison needs matching label sets "
                f"({sorted(left.labels)} vs {sorted(right.labels)}) — "
                f"use on(...)/ignoring(...) to match on a subset"
            )
        keys = sorted(left.labels)
    lf = _with_labels(left.df, left.labels, keys)
    rf = _with_labels(right.df, right.labels, keys)
    rf = rf.select(*keys, "ts", F.col("value").alias("__rv"))
    joined = lf.join(rf, keys + ["ts"], "inner")
    pred = _ieee_cmp(node.op, F.col("value"), F.col("__rv"))
    if node.bool_mode:
        # bool mode follows ARITHMETIC label semantics (ADVICE r7): the
        # one-to-one result drops to the match keys only — `a == bool
        # on(region) b` must not keep user_id etc., or downstream
        # matching sees wrong label sets.  (Without on()/ignoring(),
        # keys == the full shared label set, so this is a no-op.)
        # Same documented divergence as _eval_matched_bin's one-to-one:
        # PromQL ERRORS when several series share a match group
        # ("found duplicate series for the match group"); relationally
        # the duplicates fan out as repeated (keys, ts) rows — the
        # caller owns key uniqueness, exactly as for arithmetic
        # on()/ignoring() (code-review r9).
        out = joined.select(*keys, "ts", _bool01(pred).alias("value"))
        return _Vec(out, frozenset(keys))
    # filter mode emits the LEFT element unchanged, full label set kept
    out = joined.filter(pred).drop("__rv")
    return _Vec(out, frozenset(left.labels | set(keys)))


def _eval_bin(node: Bin, metrics: DataFrame, label_cols, leaf) -> _Vec | float:
    left = _eval(node.left, metrics, label_cols, leaf)
    right = _eval(node.right, metrics, label_cols, leaf)
    py_ops = {
        "+": lambda a, b: a + b,
        "-": lambda a, b: a - b,
        "*": lambda a, b: a * b,
        "/": _bin_div,
        "%": _bin_mod,
        "^": _bin_pow,
        "atan2": _bin_atan2,
    }
    if isinstance(left, float) and isinstance(right, float):
        return py_ops[node.op](left, right)
    if isinstance(right, float):
        assert isinstance(left, _Vec)
        return _Vec(
            left.df.withColumn("value", py_ops[node.op](F.col("value"), F.lit(right))),
            left.labels,
            scalar=left.scalar,
        )
    if isinstance(left, float):
        assert isinstance(right, _Vec)
        return _Vec(
            right.df.withColumn("value", py_ops[node.op](F.lit(left), F.col("value"))),
            right.labels,
            scalar=right.scalar,
        )
    # time() and scalar(v) — and any arithmetic OVER them — are
    # SCALAR-typed in Prometheus: they combine with any vector by the
    # evaluation instant alone, keeping the vector's labels
    # (`time() - m`, `m / (scalar(total) * 2)` must not demand matching
    # label sets).  The typing rides on the evaluated _Vec's `scalar`
    # flag, so it survives nesting; syntactic operand order is
    # preserved.  scalar ∘ scalar stays scalar (a plain ts join).
    if left.scalar != right.scalar and node.match is None:
        time_is_left = left.scalar
        tvec = left if time_is_left else right
        ovec = right if time_is_left else left
        tf = tvec.df.select("ts", F.col("value").alias("__tv"))
        lv = F.col("__tv") if time_is_left else F.col("value")
        rv = F.col("value") if time_is_left else F.col("__tv")
        out = (
            ovec.df.join(tf, "ts", "inner")
            .withColumn("value", py_ops[node.op](lv, rv))
            .drop("__tv")
        )
        return _Vec(out, ovec.labels)
    if left.scalar and right.scalar:
        keys = ["ts"]
        lf = left.df.select(*keys, F.col("value").alias("__lv"))
        rf = right.df.select(*keys, F.col("value").alias("__rv"))
        out = (
            lf.join(rf, keys, "inner")
            .withColumn("value", py_ops[node.op](F.col("__lv"), F.col("__rv")))
            .drop("__lv", "__rv")
        )
        return _Vec(out, frozenset(), scalar=True)
    # vector-vector
    if node.match is not None:
        return _eval_matched_bin(node, left, right, py_ops[node.op])
    # default: one-to-one matching on the identical label set
    if left.labels != right.labels:
        raise ValueError(
            f"promql: vector arithmetic needs matching label sets "
            f"({sorted(left.labels)} vs {sorted(right.labels)}) — "
            f"use on(...)/ignoring(...) to match on a subset"
        )
    keys = sorted(left.labels) + ["ts"]
    lf = left.df.select(*keys, F.col("value").alias("__lv"))
    rf = right.df.select(*keys, F.col("value").alias("__rv"))
    joined = lf.join(rf, keys, "inner").withColumn(
        "value", py_ops[node.op](F.col("__lv"), F.col("__rv"))
    )
    return _Vec(joined.drop("__lv", "__rv"), left.labels)


def _match_keys(match: VectorMatch, left: _Vec, right: _Vec) -> list[str]:
    """The label columns both sides are joined on: ``on`` names them
    outright; ``ignoring`` means every label either side carries except
    the ignored ones (the engine's NULL ≡ "" canon makes a label absent
    on one side behave exactly like the empty string, as PromQL
    specifies)."""
    if match.on is not None:
        return sorted(set(match.on))
    return sorted((left.labels | right.labels) - set(match.ignoring or ()))


def _with_labels(df: DataFrame, have: frozenset[str], need: list[str]) -> DataFrame:
    return _with_cols(df, {lbl: F.lit("") for lbl in need if lbl not in have})


def _eval_matched_bin(
    node, left: _Vec, right: _Vec, op, cmp_op: str | None = None,
    bool_mode: bool = False,
) -> _Vec:
    """``on``/``ignoring`` vector matching:

    - one-to-one (no group modifier): equi-join on (match keys, ts);
      the result carries exactly the match keys, like PromQL.  (PromQL
      errors at runtime on duplicate matches; relationally a duplicate
      simply fans out — the caller owns key uniqueness, documented.)
    - ``group_left(extra...)`` — many(left)-to-one(right): the left
      side keeps ALL its labels; ``extra`` labels are copied from the
      right (one) side.  ``group_right`` mirrors it.

    With ``cmp_op`` set (a comparison operator name), the value column
    is the comparison instead of ``op``: 1.0/0.0 in ``bool_mode``,
    else a FILTER keeping the syntactic left's value (_eval_cmp routes
    only the many-to-one case here; it handles one-to-one itself so
    filter mode can keep the left's full label set).
    """
    keys = _match_keys(node.match, left, right)
    lf = _with_labels(left.df, left.labels, keys)
    rf = _with_labels(right.df, right.labels, keys)
    if node.match.group is None:
        lf = lf.select(*keys, "ts", F.col("value").alias("__lv"))
        rf = rf.select(*keys, "ts", F.col("value").alias("__rv"))
        out = lf.join(rf, keys + ["ts"], "inner").select(
            *keys, "ts", op(F.col("__lv"), F.col("__rv")).alias("value")
        )
        return _Vec(out, frozenset(keys))
    # many-to-one: `many` keeps its labels, `one` contributes value +
    # the include labels
    include = list(node.match.include)
    if node.match.group == "left":
        many_vec, many_df, one_vec, one_df = left, lf, right, rf
    else:
        many_vec, many_df, one_vec, one_df = right, rf, left, lf
    one_df = _with_labels(one_df, one_vec.labels, include)
    one_cols = [
        *keys,
        "ts",
        F.col("value").alias("__ov"),
        *[F.col(c).alias(f"__inc_{c}") for c in include],
    ]
    one_df = one_df.select(*one_cols)
    many_keep = sorted(many_vec.labels | set(keys))
    many_df = many_df.select(*many_keep, "ts", F.col("value").alias("__mv"))
    joined = many_df.join(one_df, keys + ["ts"], "inner")
    # operand order is the SYNTACTIC order, not many-vs-one
    lv = F.col("__mv") if node.match.group == "left" else F.col("__ov")
    rv = F.col("__ov") if node.match.group == "left" else F.col("__mv")
    if cmp_op is not None:
        pred = _ieee_cmp(cmp_op, lv, rv)
        if bool_mode:
            joined = joined.withColumn("value", _bool01(pred))
        else:
            joined = joined.filter(pred).withColumn("value", lv)
    else:
        joined = joined.withColumn("value", op(lv, rv))
    # include labels overwrite any same-named label on the many side
    joined = _with_cols(joined, {c: F.col(f"__inc_{c}") for c in include})
    out_labels = frozenset(many_vec.labels | set(keys) | set(include))
    out = joined.select(*sorted(out_labels), "ts", "value")
    return _Vec(out, out_labels)


def _absent_labels(expr) -> dict[str, str]:
    """The labels Prometheus reconstructs on an ``absent()`` /
    ``absent_over_time()`` result — promql/functions.go
    createLabelsForAbsentFunction's builder walk, mirrored exactly
    (code-review 11.5: the first cut skipped non-equality matchers
    instead of letting them DELETE an earlier equality's label): only
    when the argument is a plain (range-)selector; the metric-name
    matcher never participates; an ``=`` matcher sets its label while
    the label is still unset and not poisoned; ANY other matcher on a
    label — a second equality, a ``!=``/regex, an empty-value
    equality after a set — deletes it and poisons the name.  Setting
    an empty value is a no-op (empty labels do not exist), so a later
    equality may still claim the name."""
    if not isinstance(expr, Selector):
        return {}
    out: dict[str, str] = {}
    poisoned: set[str] = set()
    for m in expr.matchers:
        if m.label == "__name__":
            continue
        if m.op == "=" and m.label not in poisoned and not out.get(m.label):
            if m.value:
                out[m.label] = m.value
        else:
            out.pop(m.label, None)
            poisoned.add(m.label)
    # a value/ts label cannot reach here: _eval_selector rejects
    # matchers on the reserved sample columns before the anti-join
    return out


def _eval_absent(node: Absent, metrics: DataFrame, label_cols, leaf) -> _Vec:
    """``absent(v)``: 1 at every evaluation instant where ``v`` has no
    samples, nothing elsewhere — carrying the labels Prometheus
    reconstructs from the selector's equality matchers (round 11.5;
    the label-less form was a documented divergence).  The instant
    universe is the engine's evaluation-instant set: the base frame's
    distinct sample timestamps in instant mode, the aligned step grid
    in range mode — a label-less anti-join, no new shapes."""
    vec = _eval(node.expr, metrics, label_cols, leaf, "absent")
    instants = _instant_universe(metrics, leaf)
    out = instants.join(
        vec.df.select("ts").distinct(), "ts", "left_anti"
    ).withColumn("value", F.lit(1.0))
    labels = _absent_labels(node.expr)
    out = _with_cols(out, {lbl: F.lit(val) for lbl, val in labels.items()})
    return _Vec(out, frozenset(labels))


def _eval_at(node: At, metrics: DataFrame, label_cols, leaf) -> _Vec:
    """``expr @ t``: evaluate the inner expression on its own instants,
    pin each series' value AS OF t (the newest point at or before t —
    bounded by the lookback window in range mode, unbounded in the
    sample-instant mode, consistent with each mode's selector
    semantics), and repeat that one point per series across the whole
    evaluation-instant universe — Prometheus's fixed-evaluation-time
    semantics (:func:`_at_every_instant`).  The snapshot is one hash
    aggregation keyed by the series labels."""
    # Exact at-t anchoring in grid mode (round 11.5 — removes the
    # ADVICE-r6 documented divergence): a NUMERIC ``@ t`` evaluates
    # the inner expression on a ONE-INSTANT grid pinned at exactly t
    # (both bounds the literal t), so range windows like rate(m[5m] @ t)
    # end precisely at t even when t is not step-aligned.  The rebased
    # leaf keeps the lookback but sets step_us=1: _expand_instants'
    # alignment arithmetic then degenerates to the exact left-open
    # window (t−w, t] ∩ {t} (with the query's step, a sample between
    # the last aligned instant and t would never expand onto the
    # off-grid t).  ``@ start()/end()`` need no rebasing — the bounds
    # ARE grid instants, so the newest-evaluated-instant pin below is
    # already exact; they keep resolving against the QUERY bounds
    # inside a rebased context via query_bounds.  In sample-instant
    # mode the snapshot pins the newest sample instant ≤ t with
    # unbounded look-back — that mode's selector semantics (no
    # lookback delta) applied to @, not a divergence from grid
    # Prometheus.
    grid = hasattr(leaf, "step_us")
    if grid and not isinstance(node.at_seconds, str):
        import dataclasses as _dc

        at_us = F.lit(int(round(node.at_seconds * 1_000_000))).cast("long")
        one = _dc.replace(
            leaf,
            step_us=1,
            bounds=(at_us, at_us),
            query_bounds=leaf.query_bounds or leaf.bounds,
        )
        pinned = _eval(node.expr, metrics, label_cols, one, "@")
        picked = pinned.df.filter(F.col("value").isNotNull())
        out = _at_every_instant(picked, sorted(pinned.labels), metrics, leaf)
        return _Vec(out, pinned.labels)
    vec = _eval(node.expr, metrics, label_cols, leaf, "@")
    series = sorted(vec.labels)
    if isinstance(node.at_seconds, str):
        # @ start() / @ end(): the evaluation range's first/last
        # instant — the query's grid bound Column in range mode (which
        # carries any explicit request range), the data's min/max
        # sample instant (a scalar subquery) in sample-instant mode
        if grid:
            qb = leaf.query_bounds or leaf.bounds
            at = qb[0] if node.at_seconds == "start" else qb[1]
        else:
            agg = F.min if node.at_seconds == "start" else F.max
            at = metrics.select(agg(F.unix_micros(F.col("ts")))).scalar()
    else:
        at = F.lit(int(round(node.at_seconds * 1_000_000)))
    s_us = F.unix_micros(F.col("ts"))
    cond = s_us <= at
    if hasattr(leaf, "lookback_us"):
        cond = cond & (s_us > at - F.lit(leaf.lookback_us))
    picked = vec.df.filter(cond).groupBy(*[F.col(c) for c in series]).agg(
        F.max(
            F.struct(
                F.unix_micros(F.col("ts")).alias("__o_us"),
                F.col("value").alias("__o_v"),
            )
        )
        .getField("__o_v")
        .alias("value")
    )
    # a label-less inner vector aggregates globally: one all-NULL row
    # when no sample precedes t — drop it (no point, like PromQL)
    picked = picked.filter(F.col("value").isNotNull())
    return _Vec(_at_every_instant(picked, series, metrics, leaf), vec.labels)


def _at_every_instant(
    picked: DataFrame, series: list[str], metrics: DataFrame, leaf
) -> DataFrame:
    """The pinned point of each series at every evaluation instant
    (|series| × |instants| rows, the semantic result size): in range
    mode each row explodes the grid from the leaf's bound Columns — no
    join; in sample-instant mode a crossJoin against the broadcast
    distinct sample instants."""
    if hasattr(leaf, "step_us"):
        from kafka_metrics_exporter_spark.promql.range_eval import _finish, _grid_seq

        seq = _grid_seq(*leaf.bounds, leaf.step_us)
        return _finish(
            picked.select(*series, "value", F.explode(seq).alias("__t_us")), series
        )
    instants = _instant_universe(metrics, leaf)
    return picked.crossJoin(F.broadcast(instants)).select(*series, "ts", "value")


def _eval_setop(node: SetOp, metrics: DataFrame, label_cols, leaf) -> _Vec:
    """``and`` / ``or`` / ``unless``: instant-vector set operators.
    Matching is on the FULL label set (or the on/ignoring subset) plus
    the evaluation instant — relationally a left-semi join (and), a
    left-anti join (unless), and a union-with-anti-join (or: left rows
    win, right rows fill the instants/series left lacks).  Values and
    labels come from the winning side, exactly PromQL's rule."""
    left = _eval(node.left, metrics, label_cols, leaf, node.op)
    right = _eval(node.right, metrics, label_cols, leaf, node.op)
    if node.match is not None:
        keys = _match_keys(node.match, left, right)
    else:
        keys = sorted(left.labels | right.labels)
    lf = _with_labels(left.df, left.labels, keys)
    rf = _with_labels(right.df, right.labels, keys)
    if node.op in ("and", "unless"):
        how = "left_semi" if node.op == "and" else "left_anti"
        out = lf.join(rf.select(*keys, "ts").distinct(), keys + ["ts"], how)
        return _Vec(out, left.labels)
    # or: all of left, plus right rows whose (keys, ts) have no left row
    out_labels = left.labels | right.labels
    lf = _with_labels(lf, left.labels | set(keys), sorted(out_labels))
    rf = _with_labels(rf, right.labels | set(keys), sorted(out_labels))
    cols = [*sorted(out_labels), "ts", "value"]
    extra = rf.join(lf.select(*keys, "ts").distinct(), keys + ["ts"], "left_anti")
    out = lf.select(*cols).unionByName(extra.select(*cols))
    return _Vec(out, frozenset(out_labels))


#: The kind table: every AST node type (parser.Expr subclass) → its
#: evaluation and its PromQL rendering.  A new kind adds one row here;
#: tests/test_promql_kinds.py checks that every kind has one.
KINDS: dict[type, Kind] = {
    Scalar: Kind(_eval_scalar, parser._render_scalar),
    Selector: Kind(_by_leaf("selector"), parser._render_selector),
    Subquery: Kind(_eval_subquery, parser._render_subquery),
    Rate: Kind(_eval_rate_kind, parser._render_rate),
    Deriv: Kind(_by_leaf("deriv"), parser._render_deriv),
    OverTime: Kind(_by_leaf("over_time"), parser._render_over_time),
    HoltWinters: Kind(_by_leaf("holt_winters"), parser._render_holt_winters),
    At: Kind(_eval_at, parser._render_at),
    Agg: Kind(_eval_agg, parser._render_agg),
    TopK: Kind(_eval_topk, parser._render_topk),
    LimitK: Kind(_eval_limitk, parser._render_limitk),
    Bin: Kind(_eval_bin, parser._render_binary),
    SetOp: Kind(_eval_setop, parser._render_binary),
    Cmp: Kind(_eval_cmp, parser._render_cmp),
    Absent: Kind(_eval_absent, parser._render_call("absent")),
    Scalarize: Kind(_eval_scalarize, parser._render_call("scalar")),
    Vectorize: Kind(_eval_vectorize, parser._render_call("vector")),
    Time: Kind(_eval_time, parser._render_time),
    DateFn: Kind(_eval_date_fn, parser._render_date_fn),
    Sort: Kind(_eval_sort, parser._render_sort),
    MathFn: Kind(_eval_math_fn, parser._render_math_fn),
    LabelReplace: Kind(_eval_label_fn, parser._render_label_replace),
    LabelJoin: Kind(_eval_label_fn, parser._render_label_join),
    Info: Kind(_eval_info, parser._render_info),
    HistogramQuantile: Kind(
        _eval_histogram_quantile, parser._render_histogram_quantile
    ),
    HistogramFn: Kind(_eval_histogram_fn, parser._render_histogram_fn),
    HistogramFraction: Kind(
        _eval_histogram_fn, parser._render_histogram_fraction
    ),
}


def evaluate_streaming(
    plan: PromQLPlan,
    stream: DataFrame,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Evaluate the aggregation subset of PromQL on a STREAMING metrics
    DataFrame: selector filters push into the source, and the instant
    aggregation becomes a watermarked tumbling-window aggregation (the
    dashboard's step ≙ the window duration).

    Supported shapes: `agg [by/without] (selector)` with optional
    trailing comparison — the panel queries that don't need offline
    history.  rate()/topk()/vector arithmetic need cross-row state or
    ranking that Structured Streaming's append mode can't express
    directly; use streaming/stateful.py's streaming_rate for the rate
    path and raise here so callers route explicitly.

    Output columns: out labels + window_start + value, in update mode
    semantics (aggregate per window finalized by the watermark).
    """
    node = plan.ast
    cmp_node = None
    if isinstance(node, Cmp):
        cmp_node, node = node, node.expr
    if not isinstance(node, Agg) or not isinstance(node.expr, Selector):
        raise ValueError(
            "promql streaming: only `agg [by/without] (selector)` (with an "
            "optional comparison) is streaming-expressible; rate() is "
            "streaming/stateful.py::streaming_rate"
        )
    sel = node.expr
    label_cols = tuple(c for c in stream.columns if c not in _META_COLS)
    vec = _eval_selector(sel, stream, label_cols)
    if node.by is not None:
        out_labels = list(node.by)
    elif node.without is not None:
        out_labels = sorted(vec.labels - set(node.without))
    else:
        out_labels = []
    df = _with_cols(
        vec.df, {lbl: F.lit("") for lbl in out_labels if lbl not in vec.labels}
    )
    if node.op == "quantile":
        agg_expr = F.percentile(F.col("value"), F.lit(node.param))
    else:
        agg_expr = _AGG_FN[node.op](F.col("value"))
    out = (
        df.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window_duration).alias("__w"),
            *[F.col(c) for c in out_labels],
        )
        .agg(agg_expr.cast("double").alias("value"))
        .select(
            *out_labels, F.col("__w.start").alias("window_start"), F.col("value")
        )
    )
    if cmp_node is not None:
        if not isinstance(cmp_node.rhs, Scalar):
            raise ValueError(
                "promql streaming: only scalar-threshold comparisons "
                "(`agg(...) > c`) are streaming-expressible"
            )
        pred = _ieee_cmp(
            cmp_node.op, F.col("value"), F.lit(cmp_node.threshold)
        )
        if cmp_node.bool_mode:
            out = out.withColumn(
                "value", F.when(pred, F.lit(1.0)).otherwise(F.lit(0.0))
            )
        else:
            out = out.filter(pred)
    return out
