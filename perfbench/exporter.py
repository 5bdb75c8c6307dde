"""exporter_poll: the daemon's write path.

One op is one micro-batch of ``streaming.pipeline.streaming_metrics``
(Jolokia + Connect REST sources → normalize) fanned out, inside one
``foreachBatch``, to ``es_bulk_foreach_batch`` with a capturing poster
and to ``write_daily_parquet``.  Triggers run back to back; op latency
is the micro-batch's ``triggerExecution`` time from the query's own
progress events.  Per batch, the ES documents posted and the parquet
rows written must both equal the records the seeded cluster predicts.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

from perfbench import cluster
from perfbench.common import Run, Tracer

WARMUP_BATCHES = 2
# batches still get faster after warm-up, so a window whose batch count
# followed the host's speed would mix medians of one and two batches
MIN_TIMED_BATCHES = 2
PROBE_REPS = 3  # medians of the traced run's source and normalize probes
FETCHER = "perfbench.cluster:fetch"
PROGRESS_KEYS = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
}


def capturing_poster(directory: str, batch_id: int):
    """ES bulk poster that records, per call, the documents and bytes it
    was handed (one small file per call: posters run in worker
    processes)."""

    def post(index_name: str, payload: str) -> bool:
        import uuid

        n_docs = payload.count('{"index":{"_type":"doc"}}')
        path = os.path.join(directory, f"b{batch_id}-{uuid.uuid4().hex}")
        with open(path, "w") as fh:
            fh.write(f"{n_docs} {len(payload.encode('utf-8'))}")
        return True

    return post


def _posted(directory: str, batch_id: int) -> tuple[int, int, int]:
    """(documents, bytes, payloads) the poster saw for one batch."""
    docs = size = calls = 0
    for path in glob.glob(os.path.join(directory, f"b{batch_id}-*")):
        with open(path) as fh:
            n, b = fh.read().split()
        docs, size, calls = docs + int(n), size + int(b), calls + 1
    return docs, size, calls


class _Stream:
    """The exporter's streaming query plus what its batches reported."""

    def __init__(self, ctx, out: str):
        from kafka_metrics_exporter_spark.sinks.es_bulk import (
            es_bulk_foreach_batch,
            write_daily_parquet,
        )
        from kafka_metrics_exporter_spark.streaming.pipeline import streaming_metrics

        self.posted = os.path.join(out, "posted")
        self.parquet = os.path.join(out, "parquet")
        os.makedirs(self.posted)
        self.batch_traced: dict[int, bool] = {}
        # set by window(): later batches skip the sinks, so stopping the
        # query does not wait for a whole batch after the window
        self.last_batch: int | None = None
        off = Tracer(enabled=False)
        seed = ctx.seed

        def sink(df, batch_id: int) -> None:
            if self.last_batch is not None and batch_id > self.last_batch:
                return
            # the traced run traces every other batch, so plain and traced
            # batches interleave and share the same warm-up drift
            on = ctx.trace and batch_id % 2 == 1 and batch_id >= WARMUP_BATCHES
            self.batch_traced[batch_id] = on
            tr = ctx.tracer if on else off
            with tr.span("streaming.emit", batch_id):
                df = df.persist()
                try:
                    if on:
                        # read and normalize the batch here, so the sink
                        # spans below time the sinks alone
                        df.count()
                    with tr.span("sinks.es_bulk", batch_id):
                        es_bulk_foreach_batch(
                            capturing_poster(self.posted, batch_id)
                        )(df, batch_id)
                    with tr.span("sinks.parquet", batch_id):
                        write_daily_parquet(df, f"{self.parquet}/batch={batch_id}")
                finally:
                    df.unpersist()

        metrics = streaming_metrics(
            ctx.spark,
            cluster.catalog(seed),
            fetcher=FETCHER,
            connect_endpoints=cluster.rest_endpoints(seed),
        )
        self.query = (
            metrics.writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(out, "checkpoint"))
            .start()
        )

    def progress(self) -> dict[int, dict]:
        return {p["batchId"]: p for p in self.query.recentProgress}

    def wait(self, until) -> None:
        """Poll until ``until()``; raise if the query dies."""
        while not until():
            if not self.query.isActive or self.query.exception() is not None:
                raise RuntimeError(f"streaming query died: {self.query.exception()}")
            time.sleep(0.02)

    def window(self, seconds: float, min_batches: int) -> list[int]:
        """Run back-to-back batches for ``seconds`` and at least
        ``min_batches``, then let the batch in flight finish; return the
        ids of the batches that ran."""
        first = max(self.progress(), default=-1) + 1
        t0 = time.perf_counter()
        self.wait(lambda: time.perf_counter() - t0 >= seconds)
        running = max(max(self.progress(), default=-1) + 1, first + min_batches - 1)
        self.last_batch = running
        self.wait(lambda: max(self.progress(), default=-1) >= running)
        return [b for b in self.progress() if first <= b <= running]


def run(ctx) -> Run:
    run = Run()
    seed = ctx.seed
    expected = cluster.expected_cycle(seed)
    want_records = expected["records"] + (1 if ctx.self_check else 0)
    out = os.path.join(ctx.work, "exporter")

    t0 = time.perf_counter()
    stream = _Stream(ctx, out)
    try:
        stream.wait(lambda: len(stream.progress()) >= WARMUP_BATCHES)
        setup_s = ctx.session_start_s + time.perf_counter() - t0
        ops = stream.window(ctx.seconds,
                            min_batches=3 if ctx.trace else MIN_TIMED_BATCHES)
    except RuntimeError as e:
        run.attempted = run.failed = 1
        run.check(False, str(e))
        return run
    finally:
        stream.query.stop()

    progress = stream.progress()
    traced = [b for b in ops if stream.batch_traced[b]]
    plain = [b for b in ops if not stream.batch_traced[b]]
    rows = _parquet_rows(stream.parquet)
    records = 0
    for b in ops:
        docs, _, _ = _posted(stream.posted, b)
        n_in = progress[b]["numInputRows"]
        ok = docs == want_records and rows.get(b) == want_records
        ok = ok and n_in == expected["targets"]
        run.check(ok, f"batch {b}: {n_in} scrapes, {docs} ES docs, "
                      f"{rows.get(b)} parquet rows; expected {expected['targets']} "
                      f"scrapes and {want_records} records")
        run.failed += not ok
        records += docs
    run.attempted = len(ops)
    latency = {b: progress[b]["durationMs"]["triggerExecution"] / 1000 for b in ops}
    run.op_seconds = [latency[b] for b in plain]
    run.notes.append("batch seconds: " + " ".join(
        f"{b}:{p['durationMs']['triggerExecution'] / 1000:.2f}"
        for b, p in sorted(progress.items())))
    if not ctx.trace:
        run.end_to_end(setup_s, records, sum(latency.values()))
        return run

    n = len(traced)
    session = ctx.counters.within([_window(progress[b]) for b in plain])
    layer = {f"session.{k}": v / len(plain) for k, v in session.items()}
    for name, key in PROGRESS_KEYS.items():
        layer[name] = statistics.median(
            progress[b]["durationMs"].get(key, 0) for b in traced
        )
    layer["streaming.input_rows"] = statistics.median(
        progress[b]["numInputRows"] for b in traced
    )
    self_s = ctx.tracer.self_seconds(ops=set(traced))
    layer["streaming.emit_s"] = self_s.get("streaming.emit", 0.0) / n
    layer["sinks.es_bulk_s"] = self_s.get("sinks.es_bulk", 0.0) / n
    layer["sinks.parquet_s"] = self_s.get("sinks.parquet", 0.0) / n
    posted = [_posted(stream.posted, b) for b in traced]
    layer["sinks.es_payloads"] = statistics.median(p[2] for p in posted)
    layer["sinks.es_bytes"] = statistics.median(p[1] for p in posted)
    layer["sinks.parquet_files"] = statistics.median(
        len(glob.glob(f"{stream.parquet}/batch={b}/*/*.parquet")) for b in traced
    )
    layer["bench.trace_overhead_ratio"] = statistics.median(
        latency[b] for b in traced
    ) / statistics.median(run.op_seconds)
    layer.update(probe_sources_and_normalize(ctx))
    run.check(
        layer["operators.records_out"] == want_records
        and layer["sources.fetch_calls"] == expected["fetch_calls"]
        and layer["sources.fetch_failed"] == expected["failed_targets"]
        and layer["sources.scrapes_dropped"] == expected["failed_targets"],
        f"source probe: {layer['operators.records_out']} records, "
        f"{layer['sources.fetch_calls']} fetches, "
        f"{layer['sources.fetch_failed']} failed, "
        f"{layer['sources.scrapes_dropped']} scrapes dropped; expected "
        f"{want_records}, {expected['fetch_calls']}, "
        f"{expected['failed_targets']} and {expected['failed_targets']}",
    )
    run.layer = layer
    return run


def _window(progress: dict) -> tuple[float, float]:
    """(start, end) of one micro-batch in epoch seconds."""
    import datetime as dt

    start = dt.datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00"))
    t0 = start.timestamp()
    return t0, t0 + progress["durationMs"]["triggerExecution"] / 1000


def _parquet_rows(path: str) -> dict[int, int]:
    """Rows written per batch, from the parquet footers of the per-batch
    directories (no Spark job, so the check adds no JVM work)."""
    import pyarrow.parquet as pq

    rows: dict[int, int] = {}
    for f in glob.glob(f"{path}/batch=*/*/*.parquet"):
        b = int(f.split("/batch=")[1].split("/")[0])
        rows[b] = rows.get(b, 0) + pq.ParquetFile(f).metadata.num_rows
    return rows


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_reps(tracer, name: str, fn) -> float:
    """Median seconds of ``PROBE_REPS`` calls of ``fn``, each one span."""
    times = []
    for _ in range(PROBE_REPS):
        t0 = time.perf_counter()
        with tracer.span(name):
            fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def probe_sources_and_normalize(ctx) -> dict[str, float]:
    """Batch ``read_jolokia`` of the exporter's catalog into a noop sink,
    then ``normalize_scrapes`` over a cached raw frame."""
    from pyspark.sql import functions as F

    from kafka_metrics_exporter_spark.operators.normalize import normalize_scrapes
    from kafka_metrics_exporter_spark.sources.jolokia import read_jolokia
    spark, seed = ctx.spark, ctx.seed

    def raw(fetcher: str):
        return read_jolokia(
            spark, cluster.catalog(seed), fetcher=fetcher,
            connect_endpoints=cluster.rest_endpoints(seed),
        )

    out: dict[str, float] = {}
    out["sources.read_s"] = timed_reps(
        ctx.tracer, "sources.read", lambda: noop_write(raw("perfbench.cluster:fetch"))
    )
    log = os.environ["PERFBENCH_FETCH_LOG"]
    for path in glob.glob(os.path.join(log, "*")):
        os.remove(path)
    cached = raw("perfbench.cluster:fetch_logged").persist()
    try:
        out["sources.partitions"] = cached.count()
        calls = []
        for path in glob.glob(os.path.join(log, "*")):
            with open(path) as fh:
                calls += [line.split() for line in fh]
        out["sources.fetch_calls"] = len(calls)
        out["sources.fetch_failed"] = sum(kind != "ok" for kind, _ in calls)
        out["sources.body_bytes"] = sum(int(size) for _, size in calls)
        out["operators.normalize_s"] = timed_reps(
            ctx.tracer, "operators.normalize",
            lambda: noop_write(normalize_scrapes(cached)),
        )
        stats = normalize_scrapes(cached).agg(
            F.count(F.lit(1)).alias("records"),
            F.countDistinct("host_name").alias("ok_scrapes"),
        ).first()
    finally:
        cached.unpersist()
    ok = stats["ok_scrapes"]
    out["sources.scrapes_dropped"] = out["sources.partitions"] - ok
    out["sources.scrape_ok_ratio"] = ok / out["sources.partitions"]
    out["operators.records_out"] = stats["records"]
    out["operators.records_per_ok_scrape"] = stats["records"] / ok
    return out
