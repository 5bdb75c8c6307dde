"""Oracle-checked operator tests (SURVEY.md §5 strategy item 1): every
declared query must match its DuckDB oracle at sf0.001 (the driver
re-runs the same gate at sf0.01)."""

from __future__ import annotations

import glob
import json
import os
import re

import duckdb
import pytest

import __spark_entry__ as entry_mod
from pyspark.sql import functions as F
from kafka_metrics_exporter_spark.plans.oracle import compare, register_views

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    register_views(con, sf_dir)
    yield con
    con.close()


def test_every_oracle_key_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


def test_queries_order_is_stalest_first():
    """A gate that checks only the first 50 ``queries()`` checks the 50
    least recently verified: names sort by the newest committed
    CORRECTNESS_r*.json naming them, never-verified names first, ties
    in registry definition order."""
    from kafka_metrics_exporter_spark.plans import QUERIES as REGISTRY

    repo = os.path.dirname(os.path.abspath(entry_mod.__file__))
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        for name in json.load(open(path, encoding="utf-8")):
            last[name] = max(last.get(name, 0), rnd)
    order = list(QUERIES)
    assert set(order) == set(REGISTRY)
    rounds = [last.get(n, 0) for n in order]
    assert rounds == sorted(rounds)
    assert max(rounds[:50]) <= min(rounds[50:])
    for rnd in set(rounds):
        tied = [n for n in order if last.get(n, 0) == rnd]
        assert tied == [n for n in REGISTRY if last.get(n, 0) == rnd]


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    if name not in ORACLES:
        # rows-only check (non-SQL-expressible op)
        assert sdf is not None
        return
    odf = duck.execute(ORACLES[name]).df()
    problems = compare(sdf, odf)
    assert not problems, f"{name}: {problems}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert {"event_type", "total_value", "n_events", "latest_value"} <= set(
        df.columns
    )


def test_a5_approx_within_5pct_of_exact(spark, sf_dir):
    """The HLL estimate (rsd=0.01) stays within 5% of the exact
    per-group cardinality — the bound ES's own HLL `cardinality` agg
    documents.  Computed from raw aggregates here (not the registry
    query's own within_tol flag, which would be circular); the
    registry row carries the same bound as a hash-checkable driver
    oracle since round 7."""
    from kafka_metrics_exporter_spark.plans.queries import _t

    ev = _t(spark, sf_dir, "events")
    both = {
        r["event_type"]: (r["a"], r["e"])
        for r in ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.01).alias("a"),
            F.countDistinct("user_id").alias("e"),
        )
        .collect()
    }
    for et, (a, e) in both.items():
        assert abs(a - e) / e <= 0.05, (et, a, e)
    # and the driver-facing contract row is all-green
    flags = {
        r["event_type"]: r["within_tol"]
        for r in QUERIES["a5_approx_count_distinct"](spark, sf_dir).collect()
    }
    assert set(flags.values()) == {1}


def test_a11b_approx_within_tolerance_of_exact(spark, sf_dir):
    """Every t-digest percentile estimate (accuracy=10000) stays within
    1% relative error of the exact interpolated percentile per group.
    Computed from raw aggregates here (not the registry query's own
    within_tol flag, which would be circular); the registry row
    carries the same bound as a hash-checkable driver oracle since
    round 7."""
    from kafka_metrics_exporter_spark.plans.queries import _t

    li = _t(spark, sf_dir, "lineitem")
    probs = F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", probs, 10000).alias("a"),
            F.percentile("l_extendedprice", probs).alias("e"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        for a, e in zip(r["a"], r["e"]):
            assert abs(a - e) / e <= 0.01, (r["l_returnflag"], a, e)
    flags = {
        r["l_returnflag"]: r["within_tol"]
        for r in QUERIES["a11b_approx_percentile"](spark, sf_dir).collect()
    }
    assert set(flags.values()) == {1}
