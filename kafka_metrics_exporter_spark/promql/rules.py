"""Prometheus recording & alerting rule groups, evaluated on the
engine (round 7).

The reference delegates rule evaluation to a real Prometheus server
(its jmxexporter configs feed one — Prometheus/jmxexporter_configs);
this module closes that loop for the Spark engine: parse the standard
``groups:`` rule-file YAML (prometheus/docs/configuration/recording_rules),
compile each ``expr`` with the PromQL front end, and evaluate a group
the way Prometheus's rule manager does —

- **Sequentially within a group**: each rule is evaluated against the
  state left by the rules before it, so a later rule (or an alert) can
  reference an earlier rule's ``record`` name — the canonical
  aggregation-ladder idiom (``instance:x:rate`` → ``job:x:rate``).
- **Recording rules** materialize their result as new series: the
  vector renamed to ``record``, the rule's static ``labels`` attached
  (overriding result labels of the same name, per rules/recording.go).
- **Alerting rules** track Prometheus's pending→firing state machine
  on the evaluation grid: an element is *pending* while present and
  *firing* once it has been present CONTINUOUSLY for ``for:`` — i.e.
  at every grid instant of its current run for at least that long
  (rules/alerting.go: ``activeAt`` is the run's first evaluation, the
  state flips when ``ts − activeAt ≥ for``).  A missed instant resets
  the run, exactly like a rule evaluation that drops the element.
  Firing/pending alerts are ALSO fed back as the synthetic
  ``ALERTS{alertname=…, alertstate=…}`` series, so downstream rules
  can query them (Prometheus exposes the same series).
- **One walk, two clocks**: :func:`walk_group` is the in-group walk
  for batch mode (a step grid, alert runs as gaps-and-islands) and for
  the streaming alert pipeline (streaming/pipeline.py ``alert_rules``:
  one instant per micro-batch, ``active_since`` carried between
  batches by :func:`carry_alert_states`); both decide pending/firing
  with :func:`alertstate`.
- **Annotations** render the two template forms dashboards actually
  use — ``{{ $value }}`` and ``{{ $labels.<name> }}`` — JVM-side as a
  ``concat`` of literals and columns (full Go templating is out of
  scope; unknown constructs pass through verbatim).

Scale design (100 TB): each rule's evaluation is the existing
range_eval plan (explode-to-grid, no non-equi joins); group chaining
is a ``unionByName`` of narrow (name, labels, ts, value) frames — no
shuffle beyond what each expression already does.  Alert state is one
window per series keyed by the FULL label set (high cardinality — the
partitioning Prometheus's per-series state map implies), with a
gaps-and-islands run computation instead of per-row Python.  Nothing
collects to the driver.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_metrics_exporter_spark.promql.compiler import (
    _META_COLS,
    PromQLPlan,
    compile_promql,
)
from kafka_metrics_exporter_spark.promql.parser import _duration_seconds

_METRIC_NAME_RE = re.compile(r"^[a-zA-Z_:][a-zA-Z0-9_:]*$")
_LABEL_NAME_RE = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_]*$")


def _dur(value, what: str) -> float:
    """Rule-file durations: Prometheus accepts bare numbers (seconds)
    and the duration syntax (``2h``, ``90s``, compound ``1h30m``)."""
    if value is None:
        return 0.0
    if isinstance(value, (int, float)):
        return float(value)
    text = str(value).strip()
    if not text:
        return 0.0
    try:
        return _duration_seconds(text)
    except SyntaxError:
        raise ValueError(f"promql rules: bad {what} duration {value!r}") from None


class _Rule:
    @cached_property
    def plan(self) -> PromQLPlan:
        """The compiled ``expr``, built once per rule."""
        return compile_promql(self.expr)


@dataclass(frozen=True)
class RecordingRule(_Rule):
    record: str
    expr: str
    labels: tuple[tuple[str, str], ...] = ()


@dataclass(frozen=True)
class AlertingRule(_Rule):
    alert: str
    expr: str
    for_seconds: float = 0.0
    labels: tuple[tuple[str, str], ...] = ()
    annotations: tuple[tuple[str, str], ...] = ()


@dataclass(frozen=True)
class RuleGroup:
    name: str
    interval_seconds: float | None
    rules: tuple = field(default_factory=tuple)


def _labels_tuple(raw, what: str) -> tuple[tuple[str, str], ...]:
    if raw is None:
        return ()
    if not isinstance(raw, dict):
        raise ValueError(f"promql rules: {what} must be a mapping")
    out = []
    for k, v in raw.items():
        if not _LABEL_NAME_RE.match(str(k)):
            raise ValueError(f"promql rules: bad label name {k!r} in {what}")
        out.append((str(k), str(v)))
    return tuple(out)


def parse_rule_groups(yaml_text: str) -> list[RuleGroup]:
    """Parse a Prometheus rule file (the ``groups:`` YAML).  Every
    ``expr`` is compiled eagerly so a syntax error fails at load time,
    like promtool check rules."""
    import yaml

    doc = yaml.safe_load(yaml_text)
    if not isinstance(doc, dict) or "groups" not in doc:
        raise ValueError("promql rules: rule file needs a top-level `groups:` list")
    groups: list[RuleGroup] = []
    for g in doc["groups"] or []:
        name = g.get("name")
        if not name:
            raise ValueError("promql rules: every group needs a name")
        rules: list = []
        for r in g.get("rules") or []:
            has_record, has_alert = "record" in r, "alert" in r
            if has_record == has_alert:
                raise ValueError(
                    f"promql rules: rule in group {name!r} must have exactly "
                    f"one of record/alert"
                )
            expr = r.get("expr")
            if not expr:
                raise ValueError(f"promql rules: rule in group {name!r} has no expr")
            if has_record:
                rec = str(r["record"])
                if not _METRIC_NAME_RE.match(rec):
                    raise ValueError(f"promql rules: bad record name {rec!r}")
                if "for" in r or "annotations" in r:
                    raise ValueError(
                        f"promql rules: record {rec!r} cannot carry "
                        f"for/annotations"
                    )
                rule = RecordingRule(
                    record=rec,
                    expr=str(expr),
                    labels=_labels_tuple(r.get("labels"), f"record {rec!r}"),
                )
            else:
                rule = AlertingRule(
                    alert=str(r["alert"]),
                    expr=str(expr),
                    for_seconds=_dur(r.get("for"), f"alert {r['alert']!r}"),
                    labels=_labels_tuple(r.get("labels"), f"alert {r['alert']!r}"),
                    annotations=_labels_tuple(
                        r.get("annotations"), f"alert {r['alert']!r} annotations"
                    ),
                )
            rule.plan  # noqa: B018 — compile now: bad PromQL fails at load
            rules.append(rule)
        groups.append(
            RuleGroup(
                name=str(name),
                interval_seconds=(
                    _dur(g["interval"], f"group {name!r} interval")
                    if g.get("interval") is not None
                    else None
                ),
                rules=tuple(rules),
            )
        )
    return groups


_TEMPLATE_RE = re.compile(r"\{\{\s*\$(value|labels\.([a-zA-Z_][a-zA-Z0-9_]*))\s*\}\}")


def render_template(text: str, label_cols: set[str]) -> Column:
    """``{{ $value }}`` / ``{{ $labels.x }}`` as a concat of literals
    and columns.  An unknown label renders empty (Prometheus renders
    Go's zero value); anything else passes through verbatim."""
    parts: list[Column] = []
    pos = 0
    for m in _TEMPLATE_RE.finditer(text):
        if m.start() > pos:
            parts.append(F.lit(text[pos : m.start()]))
        if m.group(1) == "value":
            parts.append(F.col("value").cast("string"))
        else:
            lab = m.group(2)
            parts.append(
                F.coalesce(F.col(lab), F.lit("")).cast("string")
                if lab in label_cols
                else F.lit("")
            )
        pos = m.end()
    if pos < len(text):
        parts.append(F.lit(text[pos:]))
    if not parts:
        return F.lit("")
    return F.concat(*parts)


def _grid_kwargs(start, end) -> dict:
    kw: dict = {}
    if start is not None or end is not None:
        kw["start"] = start
        kw["end"] = end
    return kw


def _as_series(out: DataFrame, name: str, static: tuple, metrics_cols: list[str]) -> DataFrame:
    """Shape a rule result (labels…, ts, value) into the engine's
    series schema (name, ts, value, labels…), attaching static rule
    labels (overriding same-named result labels, per recording.go)."""
    # three batched column passes, not 1 + |static| + |missing|
    # analysis round-trips (guide §plan-build, r17); the missing-label
    # fill references df.columns AFTER the static labels land
    df = out.withColumns(
        {"name": F.lit(name), **{k: F.lit(v) for k, v in static}}
    )
    missing = {c: F.lit("") for c in metrics_cols if c not in df.columns}
    # align to the target frame: missing labels are empty strings (the
    # engine's missing-label convention), extra labels ride along
    return df.withColumns(missing) if missing else df


def _union_series(metrics: DataFrame, series: DataFrame) -> DataFrame:
    merged = metrics.unionByName(series, allowMissingColumns=True)
    label_cols = [c for c in merged.columns if c not in _META_COLS]
    # labels absent on one side arrive as NULL — normalize to the
    # missing-label empty string so selector matchers behave
    return merged.select(
        "name",
        "ts",
        "value",
        *[F.coalesce(F.col(c), F.lit("")).alias(c) for c in label_cols],
    )


def alertstate(now: Column, since: Column, for_seconds: float) -> Column:
    """Prometheus's pending→firing rule (rules/alerting.go): an alert
    active since ``since`` fires once ``now − since ≥ for``; both
    instants are epoch microseconds."""
    for_us = int(round(for_seconds * 1_000_000))
    return F.when(now - since >= F.lit(for_us), F.lit("firing")).otherwise(
        F.lit("pending")
    )


def _alert_labels(out: DataFrame, rule: AlertingRule) -> list[str]:
    """The labels that key an alert's series: the result's labels minus
    the columns the rule writes itself.  Those may ride in from an
    earlier alert's ``ALERTS`` series; Prometheus overwrites them on the
    alert's output, and a NULL feedback label in the key would split or
    drop the series' state."""
    written = {
        "alertstate",
        *(k for k, _ in rule.labels),
        *(f"annotation_{k}" for k, _ in rule.annotations),
    }
    return [c for c in out.columns if c not in _META_COLS and c not in written]


def _annotate(states: DataFrame, rule: AlertingRule, labels: list[str]) -> DataFrame:
    """Render the rule's annotations; ``$labels`` are the expression's
    labels, not the rule's static ones (rules/alerting.go expands the
    templates from the sample's metric)."""
    if not rule.annotations:
        return states
    return states.withColumns({
        f"annotation_{k}": render_template(v, set(labels))
        for k, v in rule.annotations
    })


def evaluate_alert_states(
    out: DataFrame, rule: AlertingRule, step_seconds: float
) -> DataFrame:
    """Pending→firing on the evaluation grid: gaps-and-islands per
    series.  ``run start`` is the newest instant whose predecessor is
    missing (gap > step); the element fires once ``ts − run_start ≥
    for``.  One window per full-label-set series — the same keying as
    Prometheus's active-alert map."""
    labels = _alert_labels(out, rule)
    if rule.labels:
        out = out.withColumns({k: F.lit(v) for k, v in rule.labels})
    step_us = int(round(step_seconds * 1_000_000))
    w = Window.partitionBy(*[F.col(c) for c in labels]).orderBy(
        F.unix_micros(F.col("ts"))
    )
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    run_mark = F.when(prev.isNull() | (us - prev > step_us), us)
    df = out.withColumn("__run_mark", run_mark)
    # run marks are increasing with ts, so a running MAX is the current
    # run's start (no ignorenulls-last_value dependence)
    run_start = F.max(F.col("__run_mark")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    states = df.withColumn(
        "alertstate", alertstate(us, run_start, rule.for_seconds)
    ).drop("__run_mark")
    return _annotate(states, rule, labels)


def carry_alert_states(
    out: DataFrame, rule: AlertingRule, prior: DataFrame | None, now_us: int
) -> tuple[DataFrame, list[str]]:
    """One evaluation cycle of an alert whose state is carried between
    cycles: each series' newest sample is the cycle's element; a series
    found in ``prior`` (labels…, active_since_us) keeps its
    ``active_since``, a new one starts at ``now_us``, and a series
    missing from the cycle simply drops out — Prometheus's
    reset-on-missing-evaluation.  ``prior`` is None before the first
    cycle.  Returns the alert frame (labels…, static labels, ts, value,
    active_since_us, alertstate, annotation_*) and its key labels."""
    labels = _alert_labels(out, rule)
    snap = (
        out.groupBy(*labels)
        .agg(
            F.max(
                F.struct(
                    F.unix_micros(F.col("ts")).alias("__us"),
                    F.col("value").alias("__v"),
                )
            ).alias("__p")
        )
        # a label-less alert groups by nothing, and that yields one
        # all-NULL row over an empty result: no sample, no element
        .filter(F.col("__p").isNotNull())
    )
    since = F.lit(None).cast("long")
    if prior is not None:
        # null-safe equality: a series may legitimately carry NULL label
        # values, and a plain equi-join would never match them and
        # silently reset active_since; a label-less alert has one
        # element, so its join needs no condition
        on = [F.col(f"__s.{c}").eqNullSafe(F.col(f"__pr.{c}")) for c in labels]
        snap = snap.alias("__s").join(
            prior.alias("__pr"), on=on or None, how="left"
        ).select("__s.*", F.col("__pr.active_since_us"))
        since = F.col("active_since_us")
    states = snap.select(
        *labels,
        *[F.lit(v).alias(k) for k, v in rule.labels],
        F.timestamp_micros(F.col("__p.__us")).alias("ts"),
        F.col("__p.__v").alias("value"),
        F.coalesce(since, F.lit(now_us)).alias("active_since_us"),
    )
    states = states.withColumn(
        "alertstate",
        alertstate(F.lit(now_us), F.col("active_since_us"), rule.for_seconds),
    )
    return _annotate(states, rule, labels), labels


@dataclass(frozen=True)
class GroupResult:
    metrics: DataFrame  # input ∪ recorded series ∪ ALERTS
    recorded: dict  # record name -> series DataFrame
    alerts: dict  # alert name -> state DataFrame (labels…, ts, value, alertstate, annotation_*)


def walk_group(
    group: RuleGroup, metrics: DataFrame, evaluate, alert_states
) -> GroupResult:
    """The rule manager's in-group walk (rules/manager.go): rules run in
    order, each over ``metrics`` plus the series recorded before it and
    the ``ALERTS{alertname, alertstate}`` series of the alerts before
    it.  ``evaluate(plan, frame)`` evaluates a compiled expr (labels…,
    ts, value); ``alert_states(rule, out)`` turns an alerting rule's
    result into its alert frame (labels…, ts, value, alertstate,
    annotation_*).  Batch mode walks a step grid, the streaming alert
    pipeline one instant per micro-batch."""
    cur = metrics
    recorded: dict[str, DataFrame] = {}
    alerts: dict[str, DataFrame] = {}
    for rule in group.rules:
        out = evaluate(rule.plan, cur)
        if isinstance(rule, RecordingRule):
            series = _as_series(out, rule.record, rule.labels, list(cur.columns))
            recorded[rule.record] = series
        else:
            states = alerts[rule.alert] = alert_states(rule, out)
            series = _as_series(
                states.drop(*[f"annotation_{k}" for k, _ in rule.annotations])
                .withColumn("value", F.lit(1.0)),
                "ALERTS",
                (("alertname", rule.alert),),
                list(cur.columns),
            )
        cur = _union_series(cur, series)
    return GroupResult(metrics=cur, recorded=recorded, alerts=alerts)


def evaluate_group(
    group: RuleGroup,
    metrics: DataFrame,
    step_seconds: float | None = None,
    start=None,
    end=None,
) -> GroupResult:
    """Evaluate one rule group on the step grid (step = explicit
    argument, else the group's ``interval:``, else Prometheus's 1m
    default), sequentially so later rules see earlier outputs."""
    step = step_seconds or group.interval_seconds or 60.0
    kw = _grid_kwargs(start, end)
    return walk_group(
        group,
        metrics,
        lambda plan, cur: plan.evaluate_range(cur, step, **kw),
        lambda rule, out: evaluate_alert_states(out, rule, step),
    )


def evaluate_rules(
    yaml_text: str,
    metrics: DataFrame,
    step_seconds: float | None = None,
    start=None,
    end=None,
) -> dict[str, GroupResult]:
    """Whole rule file: every group evaluated independently against the
    input metrics (groups are isolated in Prometheus too — only rules
    WITHIN a group see each other's fresh output)."""
    return {
        g.name: evaluate_group(g, metrics, step_seconds, start=start, end=end)
        for g in parse_rule_groups(yaml_text)
    }
