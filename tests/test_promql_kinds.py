"""The PromQL kind tables are complete and agree with the parser: every
AST node kind has one ``compiler.KINDS`` row (evaluation + rendering),
and every name in ``parser.FUNCTIONS`` parses to its kind and renders
back to text that parses to the same tree.  No Spark needed."""

from __future__ import annotations

import pytest

from kafka_metrics_exporter_spark.promql import parser as P
from kafka_metrics_exporter_spark.promql.compiler import (
    KINDS,
    _InstantExtrapolatedLeaf,
    _SampleLeaf,
)
from kafka_metrics_exporter_spark.promql.range_eval import GridLeaf

NODE_KINDS = {
    c for c in vars(P).values()
    if isinstance(c, type) and issubclass(c, P.Expr) and c is not P.Expr
}

# one call per kind; names whose arguments differ from their kind's
# default are listed in _NAME_ARGS
_KIND_ARGS = {
    P.Agg: "(m)",
    P.TopK: "(3, m)",
    P.LimitK: "(2, m)",
    P.Rate: "(m[5m])",
    P.Deriv: "(m[5m])",
    P.HoltWinters: "(m[5m], 0.5, 0.25)",
    P.OverTime: "(m[5m] offset 1m)",
    P.LabelReplace: '(m, "dst", "$1", "src", "(.*)")',
    P.LabelJoin: '(m, "dst", "-", "a", "b")',
    P.Info: '(m, {env="prod"})',
    P.HistogramQuantile: "(0.9, m)",
    P.HistogramFn: "(m)",
    P.HistogramFraction: "(0, 0.5, m)",
    P.MathFn: "(m)",
    P.Sort: "(m)",
    P.DateFn: "(m)",
    P.Scalarize: "(m)",
    P.Vectorize: "(1)",
    P.Absent: "(m)",
    P.Time: "()",
    P.Scalar: "()",
}
_NAME_ARGS = {
    "quantile": "(0.5, m)",
    "count_values": '("v", m)',
    "limit_ratio": "(-0.5, m)",
    "predict_linear": "(m[5m], 600)",
    "quantile_over_time": "(0.9, m[5m])",
    "clamp": "(m, 0, 10)",
    "clamp_min": "(m, 0)",
    "clamp_max": "(m, 10)",
    "round": "(m, 0.5)",
    "sort_by_label": '(m, "a", "b")',
    "sort_by_label_desc": '(m, "a")',
}


def test_every_node_kind_has_one_kinds_row():
    assert NODE_KINDS == set(P.Expr.__subclasses__())
    assert set(KINDS) == NODE_KINDS
    for kind in NODE_KINDS:
        row = KINDS[kind]
        assert callable(row.evaluate) and callable(row.render), kind


def test_every_leaf_strategy_evaluates_every_data_touching_kind():
    for leaf in (_SampleLeaf, _InstantExtrapolatedLeaf, GridLeaf):
        for name in ("selector", "rate", "resets_changes", "deriv",
                     "over_time", "holt_winters"):
            assert callable(getattr(leaf, name)), (leaf, name)


@pytest.mark.parametrize("name", sorted(P.FUNCTIONS))
def test_function_name_parses_to_its_kind_and_round_trips(name):
    kind, _ = P.FUNCTIONS[name]
    node = P.parse(name + _NAME_ARGS.get(name, _KIND_ARGS[kind]))
    assert type(node) is kind
    assert P.parse(P.to_promql(node)) == node
    if kind not in (P.Agg, P.TopK):
        # not a reserved keyword: without "(" the name is a metric
        assert P.parse(name) == P.Selector(name)
