"""Scale-pattern proofs: salted aggregation equals the plain aggregate
(with a skew-heavy input), and a selective join gets a runtime bloom
filter."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from kafka_metrics_exporter_spark.operators.scale import salted_sum_count


def test_salted_agg_matches_plain_agg(spark):
    # 90% of rows share one hot key — the shape that melts one reducer
    rows = [("hot", float(i % 7)) for i in range(9000)]
    rows += [(f"k{i % 50}", float(i % 11)) for i in range(1000)]
    df = spark.createDataFrame(rows, "k string, v double")

    plain = {
        r["k"]: (round(r["s"], 6), r["n"])
        for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")).collect()
    }
    # sum_value comes back as the scaled-int64 DECIMAL partial total;
    # unscale by the 1e8 quantum exactly as the query layer does
    salted = {
        r["k"]: (round(float(r["sum_value"]) / 1e8, 6), r["n"])
        for r in salted_sum_count(df, ["k"], "v", salt_buckets=8).collect()
    }
    assert salted == plain
    assert salted["hot"][1] == 9000


def test_salted_plan_has_two_aggregate_stages(spark):
    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    out = salted_sum_count(df, ["k"], "v")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    # stage-1 (keys+salt) and stage-2 (keys) aggregates, each partial+final
    assert p.count("HashAggregate") >= 4


def test_runtime_bloom_filter_injected_on_selective_join(spark, tmp_path):
    """With runtime bloom filters on (session.py), a selective
    dimension filter joined against a big fact must inject a
    BloomFilter/runtime filter into the fact scan — row-group pruning
    a static plan can't do.  Requires parquet sources (the injection
    rule only fires on file scans) and a fact side above the broadcast
    threshold is not needed — the rule targets shuffle joins, so
    broadcasts are disabled here."""
    import contextlib
    import io

    fact_p = str(tmp_path / "fact")
    dim_p = str(tmp_path / "dim")
    spark.range(0, 200000).select(
        F.col("id").alias("k"), (F.col("id") % 1000).alias("v")
    ).write.mode("overwrite").parquet(fact_p)
    spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("cat")
    ).write.mode("overwrite").parquet(dim_p)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try:
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).filter(F.col("cat") == 3)
        joined = fact.join(dim, "k").groupBy("cat").count()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        p = buf.getvalue()
        assert "bloom" in p.lower() or "BloomFilter" in p, p[:3000]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
