"""Structured-Streaming pipeline wiring (SURVEY §3.1 step 5 mapping).

The reference's unbounded poll loop — fetch snapshot, fan out to sinks,
sleep POLL_WAIT (reference Code/main.py:262-287) — becomes:

    readStream("jolokia") → normalize_scrapes → foreachBatch, persisted per batch
        ├─ Kafka batch write   (S5)
        ├─ ES bulk             (S6)
        └─ daily parquet       (the offline ES stand-in)
    trigger(processingTime=...)  ≙ the poll gate (Code/JMXScraper.py:186-197)

The Kafka branch is a writer inside that ``foreachBatch``, not a
``writeStream`` of its own: one streaming query carries every sink
(``for_each_batch`` running ``fan_out``), so each poll cycle scrapes
every target once and each sink writes that same snapshot, as the
reference ships one snapshot per poll to Kafka and to ES
(Code/JMXScraper.py:22,161).

Watermarking is a NEW capability (the reference is stateless and emits
wall-clock records, SURVEY §2.5 W6): Spark requires it for state
cleanup on windowed aggregations, and it pins the late-data policy.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_metrics_exporter_spark.operators.normalize import normalize_scrapes
from kafka_metrics_exporter_spark.sources.jolokia import read_jolokia


def streaming_metrics(
    spark: SparkSession, catalog: list[tuple[str, str]], **source
) -> DataFrame:
    """Streaming normalized-metrics DataFrame: one poll cycle per
    micro-batch over the scrape catalog.  ``source`` is
    ``read_jolokia``'s keyword arguments: Connect REST endpoints ride as
    extra targets emitting synthetic Jolokia envelopes, and with
    ``discovery`` set the catalog is re-resolved EVERY trigger — the
    reference's per-cycle K8s pod refresh (Code/main.py:274-282)."""
    return normalize_scrapes(read_jolokia(spark, catalog, streaming=True, **source))


def windowed_rollup(
    metrics: DataFrame,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
    value_key: str = "Count",
) -> DataFrame:
    """W1 streaming form: tumbling event-time windows over a numeric
    attribute, grouped by (server_type, host, bean domain).

    Same logical plan as the batch w1_tumbling_window query — that is
    the point of declaring everything as DataFrame ops: batch and
    streaming share plans, only the source/trigger differ.  The
    watermark bounds state: at 1000-executor scale the window state
    store holds (hosts × domains × windows-in-watermark) entries, not
    unbounded history.
    """
    return (
        metrics.withWatermark("created_ts", watermark)
        .filter(F.col("num_attributes").getItem(value_key).isNotNull())
        .groupBy(
            F.window("created_ts", window_duration).alias("w"),
            F.col("server_type"),
            F.col("host_name"),
            F.col("bean_domain"),
        )
        .agg(
            F.sum(F.col("num_attributes").getItem(value_key)).alias("sum_value"),
            F.max(F.col("num_attributes").getItem(value_key)).alias("max_value"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "server_type",
            "host_name",
            "bean_domain",
            "sum_value",
            "max_value",
            "n_samples",
        )
    )


def for_each_batch(stream: DataFrame, body, checkpoint: str, trigger: dict | None):
    """Start ``stream`` with ``body(df, batch_id)`` run on each
    micro-batch, persisted for the body's duration so every plan over it
    shares one source scan; the batch is released even when the body
    raises.  Returns the started StreamingQuery."""

    def batch_fn(df: DataFrame, batch_id: int) -> None:
        df = df.persist()
        try:
            body(df, batch_id)
        finally:
            df.unpersist()

    return (
        stream.writeStream.trigger(**(trigger or {"availableNow": True}))
        .option("checkpointLocation", checkpoint)
        .foreachBatch(batch_fn)
        .start()
    )


def fan_out(writers):
    """The daemon's micro-batch body: hand the batch to every
    ``writer(df, batch_id)`` in order.  Run under ``for_each_batch``,
    the batch is persisted once, so all writers see the same snapshot
    from one scrape.  A writer that raises fails the micro-batch: it is
    not committed and is retried for every writer (at-least-once), so
    the writers ahead of the failing one receive it again."""

    def write_all(df: DataFrame, batch_id: int) -> None:
        for write in writers:
            write(df, batch_id)

    return write_all


def promql_panels(
    stream: DataFrame,
    exprs: dict[str, str],
    emit,
    checkpoint: str,
    trigger: dict | None = None,
    step_seconds: float | None = None,
    range_seconds: float | None = None,
    lookback_seconds: float | None = None,
):
    """Grafana-on-live-stream: evaluate compiled PromQL panel
    expressions over each micro-batch of the normalized metrics stream
    (reference: the Grafana dashboards in Prometheus/jmxexporter_configs
    rendered over the exporter's live series).

    The full grammar applies per micro-batch — foreachBatch hands a
    BATCH DataFrame to each panel plan, so rate/topk/vector matching
    (the shapes ``evaluate_streaming`` cannot express in a single
    watermarked aggregation) all work, evaluated over the poll cycle's
    snapshot exactly as a dashboard refresh would.  Expressions are
    compiled ONCE at wiring time (parse errors surface before the
    query starts); the batch is persisted across panels so the scrape
    scan runs once per cycle, not once per panel, and unpersisted
    before the next trigger.

    Two evaluation modes (VERDICT r6 item 4):

    - ``step_seconds=None`` (default): instant mode — each panel over
      the batch's own sample instants.
    - ``step_seconds`` set: RANGE mode, what Grafana actually issues on
      refresh — an aligned step grid over the trailing
      ``range_seconds`` window anchored at the batch's event-time
      high-water mark (its max sample ts, the stream's watermark
      proxy; one 1-row agg per batch).  Late rows older than the
      window fall off the grid — the same drop a real Grafana refresh
      applies, pinned in tests.  With ``range_seconds=None`` the grid
      spans the batch's own time extent instead (the self-contained
      form).  ``lookback_seconds`` is the staleness window per grid
      instant (Prometheus's 5m default).

    ``emit(name, result_df, batch_id)`` receives each panel's result —
    a sink adapter (ES bulk, Kafka, parquet) in production, a collector
    in tests.  Returns the started StreamingQuery."""
    import datetime as dt

    from pyspark.sql import functions as F

    from kafka_metrics_exporter_spark.promql import compile_promql

    plans = {name: compile_promql(text) for name, text in exprs.items()}

    def _range_kwargs(df: DataFrame) -> dict | None:
        kw: dict = {}
        if lookback_seconds is not None:
            kw["lookback_seconds"] = lookback_seconds
        if range_seconds is not None:
            hi = df.agg(F.max("ts").alias("hi")).first()["hi"]
            if hi is None:  # empty batch: nothing to anchor, no grid
                return None
            kw["start"] = hi - dt.timedelta(seconds=range_seconds)
            kw["end"] = hi
        return kw

    def panels(df: DataFrame, batch_id: int) -> None:
        if step_seconds is None:
            for name, plan in plans.items():
                emit(name, plan.evaluate(df), batch_id)
            return
        kw = _range_kwargs(df)
        if kw is None:
            return
        for name, plan in plans.items():
            emit(name, plan.evaluate_range(df, step_seconds, **kw), batch_id)

    return for_each_batch(stream, panels, checkpoint, trigger)


def kibana_panels(
    stream: "DataFrame",
    visualizations: dict,
    emit,
    checkpoint: str,
    trigger: dict | None = None,
    **evaluate_kwargs,
):
    """Kibana-on-live-stream — the ES-side twin of :func:`promql_panels`
    (round 7): compiled visualization plans evaluated over each
    micro-batch of the documents stream, exactly what a Kibana
    dashboard refresh computes against the continuously-written index.

    ``visualizations`` maps panel key → saved-object dict (or a whole
    ``kibana.compile_export`` result of already-compiled KibanaPlans).
    Compilation happens ONCE at wiring time; ``evaluate_kwargs``
    (tiebreak=, default_search_field=, auto_interval_buckets=, ...)
    pass through to every panel's evaluate.  ``emit(name, result_df,
    batch_id)`` receives each panel's aggregation table per batch."""
    from kafka_metrics_exporter_spark.kibana import compile_visualization
    from kafka_metrics_exporter_spark.kibana.compiler import KibanaPlan

    plans = {
        name: vis if isinstance(vis, KibanaPlan) else compile_visualization(vis)
        for name, vis in visualizations.items()
    }

    def panels(df: DataFrame, batch_id: int) -> None:
        for name, plan in plans.items():
            emit(name, plan.evaluate(df, **evaluate_kwargs), batch_id)

    return for_each_batch(stream, panels, checkpoint, trigger)


def cascade_rollup(
    metrics: DataFrame,
    value_col: str = "value",
    key_col: str = "series",
    ts_col: str = "ts",
    fine: str = "1 minute",
    coarse: str = "1 hour",
    watermark: str = "2 minutes",
) -> tuple[DataFrame, DataFrame]:
    """Streaming hypertable cascade: the fine tier aggregates raw
    samples into re-aggregable partials (sum/count/min/max); the coarse
    tier aggregates the FINE tier's windows via ``window_time`` —
    Spark's chained-window support — so the expensive raw stream is
    read once and the coarse tier's state holds only fine partials
    (1/60th the rows at 1m→1h).  Returns (fine_df, coarse_df); avg is
    derived sum/count at read time, the invariant that keeps cascades
    correct (w11_rollup_cascade is the batch twin).

    Sink the coarse tier in APPEND mode: chained stateful aggregations
    are exactly the shape Spark's global-watermark correctness check
    rejects in complete/update mode — append emits each coarse window
    once, when the watermark passes its end."""
    fine_df = (
        metrics.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, fine).alias("w"), F.col(key_col))
        .agg(
            F.sum(value_col).alias("s"),
            F.count(F.lit(1)).alias("n"),
            F.min(value_col).alias("mn"),
            F.max(value_col).alias("mx"),
        )
    )
    coarse_df = (
        fine_df.groupBy(
            F.window(F.window_time("w"), coarse).alias("w"), F.col(key_col)
        )
        .agg(
            F.sum("s").alias("s"),
            F.sum("n").alias("n"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
        .select(
            key_col,
            F.col("w.start").alias("window_start"),
            "s",
            "n",
            "mn",
            "mx",
            (F.col("s") / F.col("n")).alias("avg"),
        )
    )
    return fine_df, coarse_df


# A sane alert's active-series set is broadcast-tiny, but it is
# unbounded in principle: above this many rows (tens of MB of label
# strings) the state join drops its broadcast hint and lets AQE pick the
# strategy, and the state write keeps its parallel file fan-out.
MAX_BROADCAST_STATE_ROWS = 1_000_000
# A replayed batch re-reads the version before its own, so that one must
# survive the batch's write: two versions is the least that keeps a
# replay idempotent.
KEEP_STATE_VERSIONS = 2

_STATE_VERSION_RE = re.compile(r"v(\d+)-(\d+)")


class _AlertStateStore:
    """One alert's state — one row per ACTIVE series (labels…,
    active_since_us) — as one parquet directory per micro-batch,
    ``<base>/v<batch_id>-<rows>``.  Listing, reading and pruning go
    through the Hadoop FileSystem API, so ``base`` may use any scheme the
    cluster's Hadoop conf resolves (``hdfs://``, ``s3a://``, …).  The
    row count in the name lets the next cycle pick broadcast or shuffle
    for its state join without a counting job."""

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base
        self._path = spark._jvm.org.apache.hadoop.fs.Path
        self.fs = self._path(base).getFileSystem(spark._jsc.hadoopConfiguration())

    def _versions(self) -> list[tuple[int, int, str]]:
        """``(batch_id, rows, path)`` per version, oldest first; entries
        not named ``v<batch_id>-<rows>`` are ignored."""
        base = self._path(self.base)
        if not self.fs.exists(base):
            return []
        found = []
        for st in self.fs.listStatus(base):
            m = _STATE_VERSION_RE.fullmatch(st.getPath().getName())
            if m:
                found.append((int(m[1]), int(m[2]), st.getPath().toString()))
        return sorted(found)

    def _delete(self, path: str) -> None:
        self.fs.delete(self._path(path), True)

    def read(self, batch_id: int) -> DataFrame | None:
        """The newest version STRICTLY BEFORE ``batch_id`` (broadcast
        while small), or None.  The bound makes a replayed micro-batch
        idempotent: a batch that crashed after writing its state but
        before the checkpoint commit must not re-read its own output as
        the prior state, which would double-advance the pending→firing
        clocks."""
        older = [v for v in self._versions() if v[0] < batch_id]
        if not older:
            return None
        _, rows, path = older[-1]
        df = self.spark.read.parquet(path)
        return F.broadcast(df) if rows <= MAX_BROADCAST_STATE_ROWS else df

    def write(self, df: DataFrame, batch_id: int, rows: int) -> None:
        """Replace this batch's version, then keep the newest
        ``KEEP_STATE_VERSIONS``.  A replayed batch's earlier attempt may
        have had another row count, hence another directory name; left
        in place, it would tie with this one in the version order."""
        for bid, _, path in self._versions():
            if bid == batch_id:
                self._delete(path)
        # the frame inherits the cycle's shuffle partitioning: a
        # broadcast-sized state would scatter into as many near-empty
        # files, re-listed and re-opened every cycle
        if rows <= MAX_BROADCAST_STATE_ROWS:
            df = df.coalesce(1)
        df.write.mode("overwrite").parquet(f"{self.base}/v{batch_id}-{rows}")
        for _, _, path in self._versions()[:-KEEP_STATE_VERSIONS]:
            self._delete(path)


def _alert_group(
    group, df: DataFrame, batch_id: int, hw: int, state_dir: str, emit
) -> None:
    """One evaluation cycle of a rule group over the batch ``df`` whose
    event-time high-water mark is ``hw`` (epoch µs)."""
    from kafka_metrics_exporter_spark.promql.rules import (
        carry_alert_states,
        walk_group,
    )

    # each alert frame stays cached until the END of the group: the
    # ALERTS series built from it feeds the group's later rules
    persisted: list[DataFrame] = []

    def alert_states(rule, out: DataFrame) -> DataFrame:
        store = _AlertStateStore(
            df.sparkSession,
            f"{state_dir}/" + f"{group.name}/{rule.alert}".replace(" ", "_"),
        )
        states, labels = carry_alert_states(out, rule, store.read(batch_id), hw)
        # ONE persisted frame and ONE count per alert: the emitted result
        # and the new state are both projections of it
        states = states.persist()
        persisted.append(states)
        store.write(
            states.select(*labels, "active_since_us"), batch_id, states.count()
        )
        result = states.drop("active_since_us")
        emit(group.name, rule.alert, result, batch_id)
        return result

    try:
        walk_group(group, df, lambda plan, cur: plan.evaluate(cur), alert_states)
    finally:
        for p in persisted:
            p.unpersist()


def alert_rules(
    stream: DataFrame,
    rules_yaml: str,
    emit,
    checkpoint: str,
    state_dir: str,
    trigger: dict | None = None,
):
    """Prometheus alerting on the live stream (round 7): each
    micro-batch is one rule-manager evaluation cycle — the trigger
    cadence plays the role of Prometheus's group ``interval:`` loop
    (rules/manager.go), so the pending→firing ``for:`` state machine
    must CARRY ACROSS batches where the batch-mode evaluator
    (promql/rules.py) walks a grid.

    Each group runs through ``promql.rules.walk_group``, the in-group
    walk batch mode uses too (recorded series and ``ALERTS`` feed later
    rules), with instant evaluation over the batch.  An alert's states
    come from ``promql.rules.carry_alert_states``: a series keeps the
    ``active_since`` of the previous cycle's state, a new series starts
    at the batch's event-time high-water mark (its max sample ts, one
    1-row agg per batch), and a series absent from the cycle drops out.
    The state lives in ``_AlertStateStore``, one versioned parquet per
    alert under ``state_dir/<group>/<alert>/``; ``state_dir`` may use
    any Hadoop FileSystem scheme.

    ``emit(group, alert, states_df, batch_id)`` receives the cycle's
    alert frame (labels…, ts, value, alertstate, annotation_*).
    Returns the started StreamingQuery."""
    from kafka_metrics_exporter_spark.promql.rules import parse_rule_groups

    groups = parse_rule_groups(rules_yaml)

    def cycle(df: DataFrame, batch_id: int) -> None:
        # the batch is persisted already, so this 1-row agg is also the
        # cache materialization every rule then reads
        hw = df.agg(F.max(F.unix_micros(F.col("ts"))).alias("hw")).first()["hw"]
        if hw is None:  # empty cycle: no evaluation, state untouched
            return
        for group in groups:
            _alert_group(group, df, batch_id, hw, state_dir, emit)

    return for_each_batch(stream, cycle, checkpoint, trigger)


def replay_windowed_rollup(
    spark: SparkSession,
    events: DataFrame,
    n_batches: int = 3,
    window: str = "1 day",
    delay: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value_i",
) -> DataFrame:
    """Deterministic micro-batch replay of the W1 streaming rollup —
    the registry-checkable form of this module's always-on pipelines
    (VERDICT r9 item 7: the streaming surface was pytest-only).

    A REAL Structured Streaming query runs start to finish: the input
    is range-split by event time into ``n_batches`` parquet files with
    ascending mtimes, a file-source stream with ``maxFilesPerTrigger=1``
    + ``Trigger.AvailableNow`` processes them as separate micro-batches
    (per-batch window state, watermark advancement, append-mode
    finalization, state eviction — the full stateful machinery), and
    the function returns the windows the sink actually received.

    Why the result is deterministic and batch-mirrorable: files are
    time-ordered, so event time is monotone ACROSS batches and the
    watermark (trailing ``delay``) never drops a late row; append mode
    emits exactly the windows whose end ≤ final watermark = max event
    time (ms) − delay.  That set depends only on the DATA, never on
    the micro-batch slicing — so a batch query over the same rows
    (aggregate all, keep windows with end ≤ max_ts − delay) is an
    exact twin, which is what makes the streaming path driver-
    verifiable against DuckDB rather than pytest-only.

    Scale: the replay IS the production plan — per-key-and-window
    state bounded by the watermark horizon, append finalization; only
    the file-split scaffolding is test-harness."""
    stream, meta = _replayed_stream(spark, events, n_batches, ts_col)
    agg = (
        stream.withWatermark(ts_col, delay)
        .groupBy(F.window(ts_col, window).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(value_col).alias("total"),
        )
        .select(
            F.col(key_col),
            F.col("w.start").alias("window_start"),
            "n",
            "total",
        )
    )
    return _run_replay(spark, agg, meta)


def _replayed_stream(
    spark: SparkSession, events: DataFrame, n_batches: int, ts_col: str
) -> DataFrame:
    """The replay harness' source half: range-split ``events`` by event
    time into ``n_batches`` files with ascending mtimes (one
    repartition-by-value pass) and open them as a file-source stream
    with ``maxFilesPerTrigger=1`` — each file becomes one micro-batch,
    in event-time order, so event time is monotone across batches and
    a trailing watermark never drops a row.  The written file count
    rides on the returned frame for _run_replay's progress assertion."""
    import os
    import tempfile
    import time as _time

    base = tempfile.mkdtemp(prefix="kme_replay_")
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    lo, hi = (
        events.agg(
            F.min(F.col(ts_col).cast("double")),
            F.max(F.col(ts_col).cast("double")),
        ).first()
    )
    span = (hi - lo) or 1.0
    ts_d = F.col(ts_col).cast("double")
    # ONE pass writes every slice: the slice id is a pure function of
    # event time, repartition-by-value co-locates each slice in one
    # task, and partitionBy emits exactly one file per slice dir —
    # n_batches filter+coalesce jobs collapse into a single scan
    slice_id = F.least(
        F.floor((ts_d - F.lit(lo)) / F.lit(span) * n_batches).cast("int"),
        F.lit(n_batches - 1),
    )
    stage = os.path.join(base, "stage")
    (
        events.withColumn("__slice", slice_id)
        .repartition(n_batches, "__slice")
        .write.partitionBy("__slice")
        .mode("overwrite")
        .parquet(stage)
    )
    n_files = 0
    for i in range(n_batches):
        sdir = os.path.join(stage, f"__slice={i}")
        if not os.path.isdir(sdir):
            continue  # degenerate data (e.g. single-instant): empty slice
        src = [f for f in os.listdir(sdir) if f.endswith(".parquet")]
        assert len(src) == 1, (i, src)
        dst = os.path.join(in_dir, f"b{i}.parquet")
        os.rename(os.path.join(sdir, src[0]), dst)
        # ascending mtimes pin the file-source processing order to the
        # event-time order, keeping event time monotone across batches
        t = _time.time() + i - n_batches
        os.utime(dst, (t, t))
        n_files += 1
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    return stream, {"base": base, "n_files": n_files}


def _run_replay(spark: SparkSession, agg: DataFrame, meta: dict) -> DataFrame:
    """The replay harness' sink half: drive the aggregated stream to a
    parquet sink with Trigger.AvailableNow in append mode and return
    what the sink received.  A replay that finalizes nothing (every
    window/session still open at the final watermark) returns an EMPTY
    frame with the aggregation's schema — the bare parquet read would
    fail schema inference on a data-less sink directory
    (code-review r10)."""
    import os

    out_dir = os.path.join(meta["base"], "out")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(meta["base"], "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_progress = len(q.recentProgress)
    assert n_progress >= meta["n_files"], (
        f"replay ran {n_progress} micro-batches, expected >= {meta['n_files']}"
    )
    has_data = os.path.isdir(out_dir) and any(
        f.endswith(".parquet") for f in os.listdir(out_dir)
    )
    if not has_data:
        return spark.createDataFrame([], agg.schema)
    return spark.read.parquet(out_dir)


def replay_session_rollup(
    spark: SparkSession,
    events: DataFrame,
    n_batches: int = 3,
    gap: str = "2 hours",
    delay: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "skey",
    value_col: str = "value_i",
) -> DataFrame:
    """Deterministic micro-batch replay of SESSION windows (the W7
    streaming form): per key, events closer than ``gap`` merge into
    one session; Spark's session-window state MERGES sessions across
    micro-batches and append mode finalizes a session once the
    watermark passes its end (last event + gap — the instant it can no
    longer be extended).

    Same determinism argument as replay_windowed_rollup: time-ordered
    batches keep event time monotone, so nothing is late and the
    emitted set is exactly the sessions of a BATCH sessionization
    (gaps-and-islands) whose end ≤ final watermark = max event time
    (ms) − delay — independent of the micro-batch slicing, hence
    twin-checkable in SQL.  Output: (key, session_start, session_end,
    n, total)."""
    stream, meta = _replayed_stream(spark, events, n_batches, ts_col)
    agg = (
        stream.withWatermark(ts_col, delay)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col)
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(value_col).alias("total"),
        )
        .select(
            F.col(key_col),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
            "total",
        )
    )
    return _run_replay(spark, agg, meta)


def replay_alert_rules(
    spark: SparkSession,
    metrics: DataFrame,
    rules_yaml: str,
    n_batches: int = 4,
    ts_col: str = "ts",
) -> DataFrame | None:
    """Deterministic micro-batch replay of the ALERTING pipeline
    (VERDICT r10 item 6: `alert_rules` was pytest-only) — the
    registry-checkable form of the pending→firing `for:` state machine.

    A REAL foreachBatch streaming query runs start to finish over the
    `_replayed_stream` file slices: each micro-batch is one Prometheus
    rule-manager evaluation cycle, the label-keyed alert state persists
    under batch-versioned parquet between cycles, and every cycle's
    emitted alert frame (labels, newest passing sample, pending/firing)
    is appended to a parquet sink tagged with its batch id.

    Unlike the windowed/session replays, the emitted set here DEPENDS
    on the slicing — a cycle is the unit of evaluation, exactly as in
    Prometheus, where the rule interval decides what each evaluation
    sees.  The slice id is a pure function of event time
    (`_replayed_stream`), so a batch twin can reconstruct every cycle:
    per (slice, series) take the newest passing sample, carry
    `active_since` over consecutive-slice presence runs
    (gaps-and-islands), anchor new runs at the slice's event-time
    high-water mark, and fire once `hw − active_since ≥ for` — the
    same state machine, replayed relationally.

    Returns the union of emitted frames with a `batch_id` column, or
    None when no cycle emitted anything (no passing sample anywhere).

    Scale: the replay IS the production alerting plan — per-cycle
    instant evaluation, a broadcast-sized state join (one row per
    ACTIVE series), batch-versioned idempotent state writes; only the
    file-split scaffolding is harness."""
    import os

    stream, meta = _replayed_stream(spark, metrics, n_batches, ts_col)
    out_dir = os.path.join(meta["base"], "alerts")

    def emit(group: str, alert: str, result: DataFrame, batch_id: int) -> None:
        # tag each frame with its rule identity — a multi-rule YAML
        # emits every alert into this one union, and two alerts with
        # identical label columns would otherwise be indistinguishable
        # (code-review r11)
        (
            result.withColumn("batch_id", F.lit(batch_id))
            .withColumn("rule_group", F.lit(group))
            .withColumn("alertname", F.lit(alert))
            .write.mode("append")
            .parquet(out_dir)
        )

    q = alert_rules(
        stream,
        rules_yaml,
        emit,
        checkpoint=os.path.join(meta["base"], "chk"),
        state_dir=os.path.join(meta["base"], "state"),
    )
    q.awaitTermination()
    n_progress = len(q.recentProgress)
    assert n_progress >= meta["n_files"], (
        f"alert replay ran {n_progress} micro-batches, "
        f"expected >= {meta['n_files']}"
    )
    has_data = os.path.isdir(out_dir) and any(
        f.endswith(".parquet") for f in os.listdir(out_dir)
    )
    if not has_data:
        return None
    # alerts with DIFFERENT label sets append different schemas into
    # the union dir; mergeSchema reconciles them (absent labels read
    # as NULL) instead of silently adopting one file's schema
    return spark.read.option("mergeSchema", "true").parquet(out_dir)
