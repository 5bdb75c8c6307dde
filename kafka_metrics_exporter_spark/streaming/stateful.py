"""Custom stateful streaming operator: per-series rate across
micro-batches (SURVEY §2.5 W2, streaming form).

The batch rate operator (operators.relational.rate_per_second) uses a
lag window — fine when all samples are in one frame.  In streaming,
each poll arrives in its own micro-batch, so the previous sample lives
in STATE: this operator keeps (last_ts, last_value) per series via
``applyInPandasWithState`` and emits one rate row per new sample,
including the first sample of each batch against the carried state —
the semantics PromQL's counter rate has over a live scrape stream.

Counter resets clamp like the batch twin (delta = post-reset value).
State size: one (long, double) pair per live series; pass
``idle_timeout_ms`` to expire the carry for series that stop
reporting.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_OUTPUT_SCHEMA = (
    "series string, ts timestamp, value double, rate_per_sec double"
)
_STATE_SCHEMA = "last_ts_us long, last_value double"


def _make_rate_fn(idle_timeout_ms: int):
    """Build the stateful rate function with the timeout captured in a
    CLOSURE — a module global would reset to its default when executors
    re-import the module (local mode hides that; a cluster would
    silently never expire state)."""

    def _rate_fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (series,) = key
        if state.hasTimedOut:
            # series went quiet past the idle timeout: drop its carry
            # so a later revival starts fresh (first sample → null
            # rate), exactly like a brand-new series
            state.remove()
            return
        if state.exists:
            last_ts_us, last_value = state.get
        else:
            last_ts_us, last_value = None, None

        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            return
        # NaT guard: a null timestamp's pandas sentinel (-2^63 ns) would
        # poison the carried state as an enormous negative instant
        batch = (
            pd.concat(frames)
            .dropna(subset=["ts"])
            .sort_values(["ts", "value"], kind="mergesort")
        )

        out_rows = []
        for _, row in batch.iterrows():
            ts_us = int(row["ts"].value // 1000)  # pandas ns → µs
            value = float(row["value"])
            if last_ts_us is None or ts_us <= last_ts_us:
                rate = None
            else:
                delta = value - last_value if value >= last_value else value
                rate = delta / ((ts_us - last_ts_us) / 1_000_000.0)
            out_rows.append(
                {"series": series, "ts": row["ts"], "value": value,
                 "rate_per_sec": rate}
            )
            # late (out-of-order) samples emit a null rate but must not
            # rewind the carried state
            if last_ts_us is None or ts_us > last_ts_us:
                last_ts_us, last_value = ts_us, value

        state.update((last_ts_us, last_value))
        if idle_timeout_ms:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(out_rows)

    return _rate_fn


def streaming_rate(
    events: DataFrame,
    series_col: str = "series",
    ts_col: str = "ts",
    value_col: str = "value",
    idle_timeout_ms: int = 0,
) -> DataFrame:
    """Attach the stateful rate operator to a streaming DataFrame with
    columns (series, ts, value).  ``idle_timeout_ms`` > 0 expires the
    per-series carry after that much processing-time silence — state
    stays O(live series), not O(ever-seen series), on a long-running
    stream with churning series (the 100 TB-stream hygiene knob)."""
    from pyspark.sql import functions as F

    shaped = events.select(
        F.col(series_col).alias("series"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
    )
    return shaped.groupBy("series").applyInPandasWithState(
        _make_rate_fn(int(idle_timeout_ms)),
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if idle_timeout_ms
            else GroupStateTimeout.NoTimeout
        ),
    )
