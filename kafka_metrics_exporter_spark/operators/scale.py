"""Salted aggregation for skewed keys (SURVEY §4 mapping).

A hot grouping key (one topic produces 40% of all metrics) overwhelms a
single reducer; salting splits each key into S sub-keys for the partial
aggregate and recombines in a second, tiny aggregate.  AQE's skew
handling covers joins — skewed *aggregations* still need salting.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, Column],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage skew-proof aggregation.

    ``aggs`` maps output column name → aggregate over the input (stage
    1); stage 2 recombines with the matching re-aggregate (sum→sum,
    count→sum, max→max, min→min — pass stage-1 exprs accordingly via
    `salted_sum/count/...` style usage below).

    For the common cases use the convenience wrappers; this generic form
    recombines stage-1 partials with SUM (valid for sum/count).
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    )
    stage1 = salted.groupBy(*keys, "_salt").agg(
        *[expr.alias(f"_s_{name}") for name, expr in aggs.items()]
    )
    return stage1.groupBy(*keys).agg(
        *[F.sum(f"_s_{name}").alias(name) for name in aggs]
    )


def salted_sum_count(
    df: DataFrame, keys: Sequence[str], value_col: str, salt_buckets: int = 16
) -> DataFrame:
    """sum+count by key, skew-proof: no reducer ever sees more than
    ~1/salt_buckets of the hottest key's rows."""
    # exact integral partials (values scaled to 8 decimals, summed as
    # DECIMAL(38,0)): the salted two-stage summation order differs from
    # a direct groupBy, but integer accumulation is exact and
    # associative, so the recombined totals are bit-identical to the
    # unsalted aggregate (the oracle) at any salt count
    scaled = F.floor(F.col(value_col) * F.lit(100000000.0) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    return salted_agg(
        df,
        keys,
        {"sum_value": F.sum(scaled), "n": F.count(F.lit(1))},
        salt_buckets,
    )
