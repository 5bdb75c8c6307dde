"""Workload dispatch and the metric record each run prints."""

from __future__ import annotations

from perfbench.common import Run, heap_live_mb, peak_rss_mb

# every traced run reports all of these; a layer a workload never calls
# reports 0, because that workload predicts no change for it
LAYER_METRICS: dict[str, str] = {
    "session.start_s": "s",
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.executor_run_ms": "ms",
    "session.executor_cpu_ms": "ms",
    "session.gc_ms": "ms",
    "session.shuffle_read_bytes": "bytes",
    "session.shuffle_write_bytes": "bytes",
    "session.spill_bytes": "bytes",
    "session.peak_rss_mb": "MB",
    "session.heap_live_mb": "MB",
    "sources.read_s": "s",
    "sources.partitions": "count",
    "sources.fetch_calls": "count",
    "sources.fetch_failed": "count",
    "sources.scrapes_dropped": "count",
    "sources.body_bytes": "bytes",
    "sources.scrape_ok_ratio": "ratio",
    "operators.normalize_s": "s",
    "operators.records_out": "count",
    "operators.records_per_ok_scrape": "count",
    "sinks.es_bulk_s": "s",
    "sinks.es_payloads": "count",
    "sinks.es_bytes": "bytes",
    "sinks.parquet_s": "s",
    "sinks.parquet_files": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.input_rows": "count",
    "streaming.emit_s": "s",
    "promql.compile_s": "s",
    "promql.build_s": "s",
    "promql.exec_s": "s",
    "promql.jobs": "count",
    "promql.eager_jobs": "count",
    "promql.result_rows": "count",
    "kibana.compile_s": "s",
    "kibana.build_s": "s",
    "kibana.exec_s": "s",
    "kibana.jobs": "count",
    "kibana.eager_jobs": "count",
    "kibana.result_rows": "count",
    "rules.rewrite_s": "s",
    "rules.series_out": "count",
    "rules.match_ratio": "ratio",
    "llmdata.gate_s": "s",
    "llmdata.dedup_s": "s",
    "llmdata.decontaminate_s": "s",
    "llmdata.dsir_s": "s",
    "llmdata.mix_s": "s",
    "llmdata.pack_s": "s",
    "llmdata.write_s": "s",
    "llmdata.kept_ratio": "ratio",
    "bench.trace_overhead_ratio": "ratio",
}


def run(name: str, ctx) -> Run:
    if name == "exporter_poll":
        from perfbench.exporter import run as fn
    else:
        from perfbench.dashboard import run as fn
    result = fn(ctx)
    if ctx.trace:
        layer = {
            "session.start_s": ctx.session_start_s,
            "session.peak_rss_mb": peak_rss_mb(ctx.spark),
            "session.heap_live_mb": heap_live_mb(ctx.spark),
            **result.layer,
        }
        if name == "dashboard_refresh":
            # the curation path has no workload of its own (curate.py);
            # probed last, so the session metrics above exclude it
            from perfbench.curate import probe

            layer.update(probe(ctx, result))
        unknown = set(layer) - set(LAYER_METRICS)
        if unknown:
            raise KeyError(f"undeclared layer metrics: {sorted(unknown)}")
        result.metrics = {
            m: (float(layer.get(m, 0.0)), unit) for m, unit in LAYER_METRICS.items()
        }
    return result
