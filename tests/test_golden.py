"""Golden drift detection: every query's (rows, value-hash) at the
recorded SF must match GOLDEN.json — covers the sketch-based queries the
DuckDB oracle can't (MinHash/SimHash/LSH/IVF are deterministic: seeded
hash families, fixed constants).  Re-record intentionally changed
results with `python tools/record_golden.py`."""

from __future__ import annotations

import json
import os

import pytest

import __spark_entry__ as entry_mod
from kafka_metrics_exporter_spark.plans.oracle import canon, value_hash

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN_PATH = os.path.join(REPO, "GOLDEN.json")

with open(GOLDEN_PATH, encoding="utf-8") as fh:
    _GOLDEN = json.load(fh)

QUERIES = entry_mod.queries()


def test_golden_covers_every_query():
    assert set(_GOLDEN["queries"]) == set(QUERIES)


@pytest.mark.parametrize("name", sorted(_GOLDEN["queries"]))
def test_query_matches_golden(name, spark):
    expected = _GOLDEN["queries"][name]
    pdf = canon(QUERIES[name](spark, _GOLDEN["sf_dir"]).toPandas())
    assert len(pdf) == expected["rows"], f"{name}: row drift"
    assert value_hash(pdf) == expected["hash"], f"{name}: value drift"
    spark.catalog.clearCache()
