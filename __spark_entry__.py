"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: latest-value-per-series
    (A6, the reference dashboards' most pervasive aggregation) joined
    with per-series totals (A1) over the events stream table."""
    from pyspark.sql import functions as F

    from kafka_metrics_exporter_spark.operators import latest_per_key
    from kafka_metrics_exporter_spark.plans.queries import _t

    sf_dir = "/root/testdata/sf0.001"
    ev = _t(spark, sf_dir, "events")
    latest = latest_per_key(ev, ["event_type"], "ts", ["event_id"]).select(
        "event_type",
        F.col("value").alias("latest_value"),
        F.col("ts").alias("latest_ts"),
    )
    totals = ev.groupBy("event_type").agg(
        F.sum("value").alias("total_value"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return totals.join(F.broadcast(latest), "event_type")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (and the
    llmdata extensions).  Each callable takes (spark, sf_dir) and
    returns a DataFrame with columns aliased to match ``oracle_sql``.

    Ordered stalest-first, so a gate that checks only a prefix checks
    the least recently verified queries: each name sorts by the round
    of the newest ``CORRECTNESS_r*.json`` naming it (never verified
    first), ties in definition order."""
    from kafka_metrics_exporter_spark.plans import QUERIES

    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path, encoding="utf-8") as fh:
            for name in json.load(fh):
                last[name] = max(last.get(name, 0), rnd)
    return {n: QUERIES[n] for n in sorted(QUERIES, key=lambda n: last.get(n, 0))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each oracle-checkable query."""
    from kafka_metrics_exporter_spark.plans import ORACLE_SQL

    return dict(ORACLE_SQL)
