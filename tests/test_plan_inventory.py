"""Suite-wide executed-plan invariants (VERDICT r5 item 8): every
registry query's physical plan is fingerprinted and checked against the
anti-pattern list — plan regressions (a constant-folded window
partition spec, an accidental cartesian, a Python eval node in a JVM
path) fail here as a named assertion instead of surfacing as a 100×
slowdown at scale.  ``bench.py`` records the same fingerprints to
PLANS.json for round-over-round diffing."""

from __future__ import annotations

import pytest

from kafka_metrics_exporter_spark.plans import QUERIES
from kafka_metrics_exporter_spark.plans.fingerprint import plan_fingerprint

# The intentional catalog-build cross join (J1): its broadcast
# nested-loop / cartesian is the operator's semantics.
CROSS_JOIN_OK = {"j1_cross_join"}

# BroadcastNestedLoopJoin with a KNOWN broadcast-tiny side that is NOT
# a global aggregate (those are recognized structurally by the
# ``bnl_join_onerow`` fingerprint counter — VERDICT r7 item 1, e.g. the
# tf-idf corpus-count N).  PromQL range-mode grid bounds are Columns
# (literals, or scalar subqueries for a grid derived from the data), so
# range-mode kernels, promql_rules_group's per-rule grids and the
# range-mode @ pins add no join at all:
# - promql_at_offset: its SAMPLE-INSTANT branch (`click @ T`) spreads
#   each pinned point over the instant universe, which in that mode is
#   the distinct sample timestamps (promql/compiler.py
#   _at_every_instant) — a broadcast keyed aggregate, bounded by the
#   number of instants, not a keys=[] node.  Its range-mode branch
#   explodes the grid from the bound Columns and has no join.
BNLJ_OK = CROSS_JOIN_OK | {
    "promql_at_offset",
}

# A Window whose partition spec is empty. Only acceptable when the
# windowed relation is bounded by something other than the data size:
# - promql_subquery: max_over_time over a LABEL-LESS subquery vector —
#   one logical series whose rows are the subquery's step grid
#   (time-span / step rows, not fact rows); a trailing range-frame over
#   a single series is inherently sequential, and its input is the
#   already-aggregated grid.
# - pipe_dsir_resample: the Gumbel-top-k rank window runs AFTER a
#   TakeOrdered limit(k=50), so the windowed relation is k rows by
#   construction — the corpus-sized relation only ever feeds the
#   TakeOrdered, never the window.
# - kibana_rate_top_metrics: the cumulative_cardinality running sum
#   over a BARE date_histogram — the windowed relation is the already-
#   aggregated bucket table (time-span / interval rows, ≤ days-in-
#   corpus), the same grid-bounded argument as promql_subquery; with
#   any outer bucket the window partitions by it.
# - kibana_moving_percentiles: the moving-window bucket INDEX
#   (row_number over the bare daily histogram's bucket table — the
#   same already-aggregated, grid-bounded relation as
#   kibana_rate_top_metrics; the doc-scale percentile work is a
#   grouped aggregation, never this window); with any outer bucket
#   the window partitions by it.
UNPARTITIONED_WINDOW_OK = {
    "promql_subquery", "pipe_dsir_resample", "kibana_rate_top_metrics",
    "kibana_moving_percentiles",
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_invariants(spark, sf_dir, name):
    fp = plan_fingerprint(QUERIES[name](spark, sf_dir))
    spark.catalog.clearCache()
    if name not in UNPARTITIONED_WINDOW_OK:
        assert fp["unpartitioned_window"] == 0, fp
    if name not in CROSS_JOIN_OK:
        assert fp["cartesian"] == 0, fp
    if name not in BNLJ_OK:
        # one-row-broadcast BNLJs (grid bounds, scalar counts) are
        # structurally fine — O(rows), not O(rows²)
        assert fp["bnl_join"] - fp["bnl_join_onerow"] == 0, fp
    # no row-at-a-time / expression-level Python anywhere: Python only
    # ever appears at Arrow map boundaries (MapInPandas), never as
    # BatchEvalPython/ArrowEvalPython expression eval
    assert fp["python_eval"] == 0, fp
