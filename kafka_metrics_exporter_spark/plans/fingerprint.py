"""Physical-plan fingerprints (VERDICT r5 item 8).

A fingerprint is a small dict of plan-shape counters (join strategies,
shuffle count, window partitioning, Python eval nodes) extracted from a
DataFrame's executed-plan string.  Two consumers:

- ``bench.py`` records one fingerprint per registry query into
  PLANS.json next to BENCH.json, so a plan regression (a join strategy
  flip, a constant-folded window partition spec, an accidental
  cartesian) shows up as a one-line diff instead of log archaeology.
- ``tests/test_plan_inventory.py`` asserts the suite-wide invariants:
  no empty-partition Window anywhere, no CartesianProduct outside the
  intentional J1 cross join, no BroadcastNestedLoopJoin outside the
  known broadcast-tiny-side expansions, no row-at-a-time Python eval.

The plan is captured BEFORE execution (AdaptiveSparkPlan's initial
plan): AQE may still re-plan exchanges at runtime, but the properties
pinned here — partition specs, join-ability, Python eval — are decided
at planning time.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# a windowspecdefinition whose FIRST argument is already an order column
# (`col#N ASC|DESC ...`) has an EMPTY partition spec — Spark moves the
# whole relation to one task ("No Partition Defined for Window
# operation").  A partitioned spec leads with bare partition columns.
_UNPARTITIONED_WINDOW = re.compile(
    r"windowspecdefinition\(\w+#\d+\w* (?:ASC|DESC)"
)

_TOKENS = {
    "exchange": "Exchange",
    "broadcast_exchange": "BroadcastExchange",
    "broadcast_hash_join": "BroadcastHashJoin",
    "sort_merge_join": "SortMergeJoin",
    "shuffled_hash_join": "ShuffledHashJoin",
    "bnl_join": "BroadcastNestedLoopJoin",
    "cartesian": "CartesianProduct",
    "window": "Window",
    "take_ordered": "TakeOrderedAndProject",
    "batch_eval_python": "BatchEvalPython",
    "arrow_eval_python": "ArrowEvalPython",
}


def stash_pre_checkpoint(checkpointed: DataFrame, logical: DataFrame) -> DataFrame:
    """Attach the pre-checkpoint logical frame to an eagerly
    checkpointed result so :func:`plan_string` can fingerprint the plan
    that actually executed (a checkpoint scan hides it).  The hand-off
    is a best-effort private attribute (VERDICT r6 cosmetic item 1): if
    a future PySpark DataFrame rejects attribute assignment the stash
    is silently skipped and fingerprinting falls back to the
    checkpointed frame's own (scan-shaped) plan — degraded fidelity,
    never a crash."""
    try:
        checkpointed._pre_checkpoint = logical
    except (AttributeError, TypeError):
        pass
    return checkpointed


def plan_string(df: DataFrame) -> str:
    # eagerly-checkpointed results stash their pre-checkpoint frame —
    # fingerprint the plan that actually executed, not the RDD scan
    df = getattr(df, "_pre_checkpoint", df)
    return df._jdf.queryExecution().executedPlan().toString()


def plan_fingerprint(df: DataFrame) -> dict[str, int]:
    p = plan_string(df)
    fp = {
        key: len(re.findall(rf"\b{tok}\b", p)) for key, tok in _TOKENS.items()
    }
    fp["unpartitioned_window"] = len(_UNPARTITIONED_WINDOW.findall(p))
    fp["python_eval"] = fp.pop("batch_eval_python") + fp.pop("arrow_eval_python")
    fp["bnl_join_onerow"] = _count_onerow_bnl(p)
    return fp


# One indentation unit in SparkPlan.toString()'s tree rendering: each
# nesting level adds exactly three characters drawn from ":- " / "+- "
# (child markers) or ":  " / "   " (continuation under an earlier
# sibling).
_PREFIX_UNIT = re.compile(r"^(?:[:+]- |:  |   )")

# A global (no grouping keys) aggregate — at most one output row.
_GLOBAL_AGG = re.compile(r"\b(?:Hash|Sort|Object(?:Hash)?)Aggregate\(keys?=\[\]")


def _parse_tree(p: str) -> list[tuple[int, str]]:
    nodes = []
    for line in p.splitlines():
        depth, rest = 0, line
        while _PREFIX_UNIT.match(rest):
            depth += 1
            rest = rest[3:]
        nodes.append((depth, rest))
    return nodes


def _count_onerow_bnl(p: str) -> int:
    """Count BroadcastNestedLoopJoins whose BROADCAST side is a global
    aggregate (``keys=[]`` — at most one row).  This is the structural
    signature of 1-row scalar broadcasts like tf-idf's corpus count N —
    a deliberately-chosen O(rows) plan, not an accidental O(rows²) one.
    (PromQL range-mode grid bounds are Columns, literals or scalar
    subqueries, so they add no join.)
    ``tests/test_plan_inventory.py`` exempts these BNLJs structurally
    instead of per-query allowlisting (VERDICT r7 item 1)."""
    nodes = _parse_tree(p)
    count = 0
    for i, (d, text) in enumerate(nodes):
        if "BroadcastNestedLoopJoin" not in text:
            continue
        build_last = "BuildLeft" not in text  # BuildRight (default) = last child
        children = []
        for j in range(i + 1, len(nodes)):
            dj, _ = nodes[j]
            if dj <= d:
                break
            if dj == d + 1:
                children.append(j)
        if not children:
            continue
        b = children[-1] if build_last else children[0]
        bd, btext = nodes[b]
        if "BroadcastExchange" not in btext:
            continue
        # subtree of the build side: until the next node at depth <= bd
        for j in range(b + 1, len(nodes)):
            dj, tj = nodes[j]
            if dj <= bd:
                break
            if _GLOBAL_AGG.search(tj):
                count += 1
                break
    return count
