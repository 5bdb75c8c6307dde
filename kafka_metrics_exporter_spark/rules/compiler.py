"""Rule-driven metric rewriting: the reference's "compiler" (SURVEY §2.7).

The reference ships Prometheus JMX-exporter YAML rule tables
(Prometheus/jmxexporter_configs/configs/{kafka,connect,zookeeper}.yml)
— an ordered pattern-match rewrite system, first matching rule wins,
that turns raw MBean samples into named, labeled, typed, scaled
metrics.  The public jmx_exporter semantics this module reproduces:

- the match input is ``domain<k1=v1, k2=v2><>attrName: value`` (bean
  properties in original ObjectName order);
- rule patterns are Java regexes compiled as
  ``^.*(?:pattern).*$`` and tested with ``matches()`` (JmxCollector) —
  an unanchored "contains": a pattern ending at ``<>Count`` matches
  even though the input continues with ``: 123``, and patterns with
  ``: (.+)`` capture from the value;
- ``$n`` substitution applies to the name template, label KEYS, label
  values, and the value template (e.g. quantile ``0.$8``,
  kafka.yml:133-140; label-name captures ``"$4": "$5"``,
  kafka.yml:49-55);
- ``value: <const>`` overrides the sample value (connect.yml:13-20),
  ``valueFactor`` scales it (connect.yml:6-12), ``lowercaseOutputName``
  lowercases the metric name (kafka.yml:1).

Implementation: the whole rule table compiles into ONE ordered
``CASE WHEN`` chain of native Column expressions — evaluation order is
guaranteed by CaseWhen, so the optimizer cannot reorder matches
(SURVEY §7 hard-part 4), and the hot path stays JVM-side (no Python
UDFs): N ``rlike`` probes + regexp_extracts per row, exactly the work
the reference's javaagent does per sample.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DOLLAR_REF = re.compile(r"\$(\d+)")


@dataclass
class RewriteRule:
    """One YAML rule (FIXTURES.md §5 `rewrite_rules` row)."""

    pattern: str
    name_tmpl: str | None = None
    metric_type: str = "UNTYPED"
    labels_tmpl: dict[str, str] = field(default_factory=dict)
    value_tmpl: str | None = None  # constant/templated value override
    value_factor: float = 1.0
    help_tmpl: str | None = None

    @property
    def compiled_pattern(self) -> str:
        """jmx_exporter's exact compiled form: JmxCollector wraps every
        rule pattern as ``Pattern.compile("^.*(?:" + pattern + ").*$")``
        and tests with ``matches()`` — an unanchored "contains", not a
        prefix match.  Equivalent for the shipped domain-anchored
        configs, but an arbitrary mid-string pattern must select the
        same first matching rule the exporter would.  The non-capturing
        wrapper preserves $n group numbering; the greedy ``^.*`` prefix
        reproduces the exporter's capture positions because Spark
        evaluates the same Java regex engine."""
        return "^.*(?:" + self.pattern + ").*$"


def parse_rules_yaml(yaml_text: str) -> tuple[list[RewriteRule], bool]:
    """Parse a jmx_exporter YAML config into ordered rules +
    lowercaseOutputName flag."""
    import yaml

    doc = yaml.safe_load(yaml_text)
    lowercase = bool(doc.get("lowercaseOutputName", False))
    rules = []
    for raw in doc.get("rules", []):
        labels = {str(k): str(v) for k, v in (raw.get("labels") or {}).items()}
        rules.append(
            RewriteRule(
                pattern=str(raw["pattern"]),
                name_tmpl=str(raw["name"]) if "name" in raw else None,
                metric_type=str(raw.get("type", "UNTYPED")),
                labels_tmpl=labels,
                value_tmpl=str(raw["value"]) if "value" in raw else None,
                value_factor=float(raw.get("valueFactor", 1.0)),
                help_tmpl=str(raw["help"]) if "help" in raw else None,
            )
        )
    return rules, lowercase


def load_rules_file(path: str) -> tuple[list[RewriteRule], bool]:
    with open(path, encoding="utf-8") as fh:
        return parse_rules_yaml(fh.read())


def build_match_string(
    bean_domain: Column, bean_props: Column, attr_name: Column, attr_value: Column
) -> Column:
    """``domain<k1=v1, k2=v2><>attr: value`` — the canonical string the
    jmx_exporter matches rules against.  ``str_to_map`` preserves the
    ObjectName's original key order, matching the exporter's use of the
    unsorted key-property list."""
    props_str = F.array_join(
        F.transform(
            F.map_entries(bean_props),
            lambda e: F.concat(e.getField("key"), F.lit("="), e.getField("value")),
        ),
        ", ",
    )
    return F.concat(
        bean_domain,
        F.lit("<"),
        props_str,
        F.lit("><>"),
        attr_name,
        F.lit(": "),
        attr_value,
    )


def _template(tmpl: str, match_str: Column, anchored: str) -> Column:
    """$n-substituting template → Column (concat of literals and
    regexp_extract captures)."""
    parts: list[Column] = []
    pos = 0
    for m in _DOLLAR_REF.finditer(tmpl):
        if m.start() > pos:
            parts.append(F.lit(tmpl[pos : m.start()]))
        parts.append(F.regexp_extract(match_str, anchored, int(m.group(1))))
        pos = m.end()
    if pos < len(tmpl):
        parts.append(F.lit(tmpl[pos:]))
    if not parts:
        return F.lit("")
    return parts[0] if len(parts) == 1 else F.concat(*parts)


def _safe_name(c: Column) -> Column:
    """jmx_exporter safeName(): metric/label identifiers keep only
    [a-zA-Z0-9_]; everything else becomes '_'."""
    return F.regexp_replace(c, "[^a-zA-Z0-9_]", "_")


def _rule_output(
    rule: RewriteRule, match_str: Column, num_value: Column, lowercase: bool
) -> Column:
    """struct(metric_name, labels, value, metric_type) for one rule."""
    anchored = rule.compiled_pattern
    if rule.name_tmpl is not None:
        name = _safe_name(_template(rule.name_tmpl, match_str, anchored))
        if lowercase:
            name = F.lower(name)
    else:
        name = F.lit(None).cast("string")

    if rule.labels_tmpl:
        keys = [
            _safe_name(_template(k, match_str, anchored)) for k in rule.labels_tmpl
        ]
        vals = [ _template(v, match_str, anchored) for v in rule.labels_tmpl.values() ]
        labels = F.map_from_arrays(F.array(*keys), F.array(*vals))
    else:
        labels = F.create_map().cast("map<string,string>")

    if rule.value_tmpl is not None:
        value = _template(rule.value_tmpl, match_str, anchored).try_cast("double")
    else:
        value = num_value
    if rule.value_factor != 1.0:
        value = value * F.lit(rule.value_factor)

    return F.struct(
        name.alias("metric_name"),
        labels.alias("labels"),
        value.alias("value"),
        F.lit(rule.metric_type).alias("metric_type"),
    )


def compile_rules(
    rules: list[RewriteRule],
    lowercase: bool = False,
) -> "callable[[Column, Column], Column]":
    """Compile the ordered rule table into a single first-match-wins
    CASE WHEN chain.

    Returns ``f(match_str, num_value) -> struct Column`` (null when no
    rule matches).  CaseWhen guarantees in-order evaluation, so rule
    priority survives optimization.
    """

    def apply(match_str: Column, num_value: Column) -> Column:
        chain: Column | None = None
        for rule in rules:
            cond = match_str.rlike(rule.compiled_pattern)
            out = _rule_output(rule, match_str, num_value, lowercase)
            chain = F.when(cond, out) if chain is None else chain.when(cond, out)
        if chain is None:
            return F.lit(None)
        return chain  # .otherwise(null) implicit

    return apply


def rewrite_metrics(
    metrics: DataFrame,
    rules: list[RewriteRule],
    lowercase: bool = False,
    keep_unmatched: bool = False,
) -> DataFrame:
    """Apply a rule table to a normalized ``metrics`` DataFrame
    (schema.METRICS_SCHEMA): explode the attribute bag, build the
    canonical match string, rewrite first-match-wins.

    Output: one row per (metric sample, matched attribute) with
    ``metric_name, labels, value, metric_type`` plus the carrying
    metadata columns.  Unmatched attributes are dropped unless
    ``keep_unmatched`` — then they get the jmx_exporter default naming
    (safe-charset ``domain_propvalues_attr``)."""
    exploded = metrics.select(
        "mbean_name",
        "bean_domain",
        "server_type",
        "host_name",
        "created_ts",
        "bean_props",
        F.explode("attributes").alias("attr_name", "attr_value"),
    ).withColumn(
        "_match_str",
        build_match_string(
            F.col("bean_domain"),
            F.col("bean_props"),
            F.col("attr_name"),
            F.col("attr_value"),
        ),
    )

    num_value = F.col("attr_value").try_cast("double")
    rewritten = compile_rules(rules, lowercase)(F.col("_match_str"), num_value)
    if keep_unmatched:
        # jmx_exporter default naming for unmatched samples:
        # safeName(domain + "_" + beanProperty values + "_" + attr);
        # lowercased only when lowercaseOutputName is set, like any other
        # metric name
        default_name = F.regexp_replace(
            F.concat_ws(
                "_",
                F.col("bean_domain"),
                F.array_join(F.map_values("bean_props"), "_"),
                F.col("attr_name"),
            ),
            "[^a-zA-Z0-9_]",
            "_",
        )
        if lowercase:
            default_name = F.lower(default_name)
        rewritten = F.coalesce(
            rewritten,
            F.when(
                num_value.isNotNull(),
                F.struct(
                    default_name.alias("metric_name"),
                    F.create_map().cast("map<string,string>").alias("labels"),
                    num_value.alias("value"),
                    F.lit("UNTYPED").alias("metric_type"),
                ),
            ),
        )

    # The generator carries the chain and drops the null (no rule
    # matched) in one place: a null filter over a projected chain would
    # get the chain inlined into the Filter and evaluate it twice.
    return exploded.select(
        F.inline(F.array_compact(F.array(rewritten))),
        "mbean_name",
        "server_type",
        "host_name",
        "created_ts",
    )
