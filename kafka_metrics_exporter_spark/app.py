"""Daemon entry point (SURVEY §3.1): the reference's ``python main.py
<args>`` loop re-expressed as one Structured Streaming query.

Argument surface mirrors the reference's groups (Code/main.py:90-177):
per-type server lists × MBean patterns build the scrape catalog (J1),
sink flags pick Kafka / Elasticsearch / parquet outputs, each poll
cycle's one scrape is fanned out to all of them
(``streaming.pipeline.fan_out`` under ``for_each_batch``), and the poll
interval becomes the stream trigger (the reference's poll gate,
Code/JMXScraper.py:186-197, incl. the 15 s floor, Code/main.py:238-239).
At least one source and one sink are required (Code/main.py:181-187).

The parquet sink is this repo's offline stand-in for Elasticsearch
(date-partitioned like daily indexes), so the daemon is fully runnable
without live Kafka/ES.
"""

from __future__ import annotations

import argparse
import sys

SERVER_ARG_TO_TYPE = {
    "zk_servers": "ZooKeeper",
    "kafka_servers": "KafkaBroker",
    "connect_servers": "KafkaConnect",
    "ksql_servers": "KSQL",
}

# --jmx-*-poll-mbean dests (per-type pattern overrides)
MBEAN_ARG_TO_TYPE = {
    "zk_mbeans": "ZooKeeper",
    "kafka_mbeans": "KafkaBroker",
    "connect_mbeans": "KafkaConnect",
    "ksql_mbeans": "KSQL",
}

JMX_POLL_FLOOR_SECS = 15  # reference Code/main.py:238-239


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="spark-metrics-engine",
        description="JMX/Jolokia metrics ETL on Spark Structured Streaming",
    )
    src = p.add_argument_group("sources")
    src.add_argument("--jmx-zk-server", action="append", default=[], dest="zk_servers")
    src.add_argument("--jmx-kafka-server", action="append", default=[], dest="kafka_servers")
    src.add_argument("--jmx-connect-server", action="append", default=[], dest="connect_servers")
    src.add_argument("--jmx-ksql-server", action="append", default=[], dest="ksql_servers")
    src.add_argument(
        "--jmx-default-bean",
        action="append",
        default=None,
        dest="common_mbeans",
        help="MBean patterns polled from every server (default java.lang:type=Memory)",
    )
    src.add_argument(
        "--connect-rest-endpoint",
        action="append",
        default=[],
        dest="connect_endpoints",
        help="Kafka Connect REST base URL; status metrics join the stream "
        "as synthetic JMX records (two-phase scan inside the source)",
    )
    src.add_argument("--fetcher", default=None, help="module:attr fetcher override")
    src.add_argument("--jmx-poll-timeout", type=float, default=10.0)
    # per-server-type MBean pattern overrides (reference
    # Code/main.py:144-151; defaults live in jolokia.DEFAULT_MBEANS)
    src.add_argument("--jmx-zk-poll-mbean", action="append", default=None,
                     dest="zk_mbeans", metavar="org.apache.ZooKeeperService:*")
    src.add_argument("--jmx-kafka-poll-mbean", action="append", default=None,
                     dest="kafka_mbeans", metavar="kafka.*:*")
    src.add_argument("--jmx-connect-poll-mbean", action="append", default=None,
                     dest="connect_mbeans", metavar="kafka.*:*")
    src.add_argument("--jmx-ksql-poll-mbean", action="append", default=None,
                     dest="ksql_mbeans", metavar="kafka.*:*")
    # Connect REST basic auth + TLS (reference Code/main.py:159-163)
    src.add_argument("--enable-connect-rest-auth", action="store_true",
                     help="send basic auth on Connect REST requests "
                          "(never to Jolokia hosts)")
    src.add_argument("--connect-rest-auth-user", default=None)
    src.add_argument("--connect-rest-auth-pass", default=None)
    src.add_argument("--connect-tls-verify", action="store_true",
                     help="verify TLS certs (reference default: off)")

    k8s = p.add_argument_group("kubernetes discovery")
    k8s.add_argument("--jmx-enable-k8s-discovery", action="store_true",
                     help="re-discover Jolokia-annotated pods EVERY poll "
                          "cycle and merge them into the scrape catalog "
                          "(reference Code/main.py:120-133,274-282)")
    k8s.add_argument("--jmx-k8s-context", default=None,
                     metavar="gke_project_region_cluster",
                     help="kube-config context (ignored in-cluster)")
    k8s.add_argument("--jmx-k8s-jolokia-enabled-annotation",
                     default="jolokia/is_enabled", dest="k8s_ann_enabled")
    k8s.add_argument("--jmx-k8s-jolokia-server-type-annotation",
                     default="jolokia/server_type", dest="k8s_ann_server_type")
    k8s.add_argument("--jmx-k8s-jolokia-port-annotation",
                     default="jolokia/port", dest="k8s_ann_port",
                     help="annotation holding the Jolokia port (the "
                          "reference matches a pod-spec port NAME via "
                          "--jmx-k8s-jolokia-port-name-matcher; the pod "
                          "spec is not in this engine's catalog shape, so "
                          "the port rides an annotation — documented "
                          "divergence)")
    k8s.add_argument("--jmx-k8s-label-filter", action="append", default=[],
                     dest="k8s_label_filters", metavar="key1=value1,key2=value2")
    k8s.add_argument("--jmx-k8s-field-filter", action="append", default=[],
                     dest="k8s_field_filters", metavar="key1=value1,key2=value2",
                     help="status.phase=Running is always appended and "
                          "cannot be removed (like the reference)")
    k8s.add_argument("--jmx-k8s-provider",
                     default="kafka_metrics_exporter_spark.sources."
                             "k8s_catalog:discover_pods_k8s",
                     metavar="module:attr",
                     help="pod-lister override (tests / fake clusters)")

    sink = p.add_argument_group("sinks")
    sink.add_argument("--kafka-bootstrap-servers", default=None)
    sink.add_argument("--kafka-topic", default="jmx_data_ingestion_pipeline")
    sink.add_argument("--es-url", default=None)
    sink.add_argument("--kibana-url", default=None,
                      help="with --es-url: run the one-time sink DDL "
                           "bootstrap (index template + Kibana index "
                           "pattern) before streaming starts (reference "
                           "Code/ElasticSearchAppender.py:43-79)")
    sink.add_argument("--kibana-dashboards", default=None, metavar="FILE",
                      help="saved-objects JSON export (the reference's "
                           "ELK/jmx_dashboard.json shape) imported during "
                           "the --kibana-url bootstrap")
    sink.add_argument("--es-bulk-url-timeout", type=float, default=30.0,
                      help="bulk POST timeout secs (reference "
                           "Code/main.py:170-171)")
    sink.add_argument("--kafka-conn-props", action="append", default=[],
                      metavar="key=value",
                      help="extra Kafka producer properties, one per "
                           "switch (reference Code/main.py:177-178)")
    sink.add_argument("--sink-parquet", default=None, metavar="PATH",
                      help="date-partitioned parquet sink (offline ES stand-in)")

    run = p.add_argument_group("run")
    run.add_argument("--poll-interval", type=int, default=5)
    run.add_argument("--checkpoint", default="/tmp/kme-checkpoint")
    run.add_argument("--once", action="store_true",
                     help="one availableNow cycle, then exit")

    c = p.add_argument_group(
        "curation (LLM training-data pipeline; the batch mode that "
        "runs gate → dedup → decontaminate → DSIR → domain mix → "
        "split → pack → sharded write over a documents parquet — the "
        "composition pinned by test_curation_pipeline_end_to_end and "
        "the pipe_* registry rows)"
    )
    c.add_argument("--curate", default=None, metavar="DIR",
                   help="directory holding documents.parquet; runs the "
                        "curation pipeline and exits")
    c.add_argument("--curate-output", default=None, metavar="DIR",
                   help="output directory for the training shards "
                        "(required with --curate)")
    c.add_argument("--curate-bench-mod", type=int, default=97,
                   metavar="N", help="benchmark slice = doc_id %% N == 0 "
                   "(the decontamination holdout)")
    c.add_argument("--curate-dsir-target", default="src0", metavar="SOURCE",
                   help="source value whose distribution DSIR selects "
                        "toward")
    c.add_argument("--curate-dsir-k", type=int, default=100,
                   help="DSIR selection size")
    c.add_argument("--curate-budget", action="append", default=[],
                   metavar="lang=tokens",
                   help="per-language token budget for domain mix; "
                        "repeatable; unlisted languages are unbounded")
    c.add_argument("--curate-pack-budget", type=int, default=256,
                   help="tokens per packed training chunk")
    c.add_argument("--curate-shards", type=int, default=4,
                   help="output shard count")
    c.add_argument("--curate-report", action="store_true",
                   help="report per-stage row counts (materializes each "
                        "pipeline stage — at large scale this pays ~6 "
                        "extra stage evaluations; the default one-pass "
                        "run reports only the metadata-derived input/"
                        "chunk counts)")

    q = p.add_argument_group(
        "query", "ad-hoc query mode: run a dashboard expression against a "
        "metrics table and exit (no sources/sinks needed)"
    )
    q.add_argument("--query-metrics", default=None, metavar="PATH",
                   help="parquet path of the metrics table to query")
    q.add_argument("--query-promql", default=None, metavar="EXPR",
                   help="PromQL expression (the Grafana-corpus subset)")
    q.add_argument("--query-step", type=float, default=None, metavar="SECS",
                   help="evaluate --query-promql on an aligned step grid "
                        "(Prometheus range-query semantics: lookback "
                        "selectors, extrapolated rate)")
    q.add_argument("--query-lookback", type=float, default=300.0,
                   metavar="SECS", help="range-mode lookback delta")
    q.add_argument("--query-extrapolated-rate", action="store_true",
                   help="instant mode only: swap the pinned "
                        "successive-delta rate/increase/delta kernel "
                        "for Prometheus's window-extrapolated one at "
                        "the same sample instants (round 12)")
    q.add_argument("--query-start", type=float, default=None, metavar="EPOCH",
                   help="range-mode request start (epoch seconds; "
                        "with --query-end pins the grid to the request "
                        "window instead of the data extent)")
    q.add_argument("--query-end", type=float, default=None, metavar="EPOCH",
                   help="range-mode request end (epoch seconds)")
    q.add_argument("--query-kibana-vis", default=None, metavar="FILE",
                   help="Kibana saved-object JSON (one visualization) "
                        "compiled and run against the metrics table")
    q.add_argument("--query-kibana-dashboard", default=None, metavar="TITLE",
                   help="with --query-kibana-vis pointing at a FULL "
                        "saved-objects export: compile and run EVERY "
                        "visualization of the dashboard with this "
                        "title ('*' = all visualizations in the export)")
    q.add_argument("--query-dashboard", default=None, metavar="FILE",
                   help="Grafana dashboard JSON: compile EVERY panel "
                        "target (binding --query-var variables) and "
                        "run each against the metrics table — instant "
                        "mode, or the step grid with --query-step")
    q.add_argument("--query-var", action="append", default=[],
                   metavar="NAME=VALUE", dest="query_vars",
                   help="bind a Grafana template variable before "
                        "compiling --query-promql (repeat the flag with "
                        "the same NAME for a multi-value variable, "
                        "rendered as a regex alternation; VALUE "
                        "'$__all' means the All option '.*')")
    q.add_argument("--query-auto-interval", type=int, default=None,
                   metavar="BUCKETS",
                   help="target bucket count for a Kibana "
                        "'interval: auto' date_histogram (default 50, "
                        "real ES semantics; 0 opts out to the legacy "
                        "customInterval pin; range from --query-start/"
                        "--query-end when given, else the data span)")
    q.add_argument("--query-scrape-interval", type=float, default=15.0,
                   metavar="SECS",
                   help="scrape interval feeding the Grafana built-in "
                        "time macros ($__interval, $__rate_interval, "
                        "$__range): bound whenever --query-step, "
                        "--query-start and --query-end are all given")
    q.add_argument("--query-limit", type=int, default=50,
                   help="max result rows printed")
    return p


def _time_macro_vars(args) -> dict[str, str]:
    """Grafana built-in time macros when the CLI pins the full request
    window (start+end+step) — the same binding compile_dashboard's
    time_range performs."""
    if (
        args.query_step is None
        or args.query_start is None
        or args.query_end is None
    ):
        return {}
    from kafka_metrics_exporter_spark.promql.variables import time_macros

    return time_macros(
        args.query_end - args.query_start,
        args.query_step,
        args.query_scrape_interval,
    )


def _parse_query_vars(bindings: list[str]) -> dict[str, object]:
    variables: dict[str, object] = {}
    for binding in bindings:
        name, eq, value = binding.partition("=")
        if not eq or not name:
            raise SystemExit(f"--query-var needs NAME=VALUE, got {binding!r}")
        if name in variables:  # repeated NAME -> multi-value
            prev = variables[name]
            variables[name] = (
                list(prev) + [value] if isinstance(prev, list) else [prev, value]
            )
        else:
            variables[name] = value
    return variables


def run_query(args: argparse.Namespace, spark) -> int:
    """--query-* mode: compile the expression, run it, print, exit."""
    if not args.query_metrics:
        raise SystemExit(
            "--query-promql/--query-dashboard/--query-kibana-vis need "
            "--query-metrics PATH"
        )
    if args.query_kibana_dashboard is not None and not args.query_kibana_vis:
        raise SystemExit(
            "--query-kibana-dashboard needs --query-kibana-vis pointing at "
            "the saved-objects export FILE"
        )
    df = spark.read.parquet(args.query_metrics)
    if args.query_dashboard:
        import json

        from kafka_metrics_exporter_spark.promql import (
            compile_dashboard,
            dashboard_variables,
        )

        with open(args.query_dashboard) as fh:
            dash = json.load(fh)
        variables = {**_time_macro_vars(args), **_parse_query_vars(args.query_vars)}
        unbound = [v for v in dashboard_variables(dash) if v not in variables]
        if unbound:
            print(f"# unbound template variables (literal passthrough): {unbound}")
        for key, plan in compile_dashboard(dash, variables=variables).items():
            print(f"== {key}: {plan.source}")
            if args.query_step is not None:
                out = plan.evaluate_range(
                    df,
                    args.query_step,
                    lookback_seconds=args.query_lookback,
                    start=args.query_start,
                    end=args.query_end,
                )
            else:
                out = plan.evaluate(
                    df, extrapolated_rate=args.query_extrapolated_rate
                )
            out.show(args.query_limit, truncate=False)
        return 0
    if args.query_promql:
        from kafka_metrics_exporter_spark.promql import compile_promql

        variables = {**_time_macro_vars(args), **_parse_query_vars(args.query_vars)}
        plan = compile_promql(args.query_promql, variables=variables)
        if args.query_step is not None:
            out = plan.evaluate_range(
                df,
                args.query_step,
                lookback_seconds=args.query_lookback,
                start=args.query_start,
                end=args.query_end,
            )
        else:
            out = plan.evaluate(
                df, extrapolated_rate=args.query_extrapolated_rate
            )
    else:
        import json

        from kafka_metrics_exporter_spark.kibana import compile_visualization

        with open(args.query_kibana_vis) as fh:
            saved = json.load(fh)
        kw = {}
        if args.query_auto_interval is not None:
            # 0 opts out to the legacy customInterval pin
            kw["auto_interval_buckets"] = args.query_auto_interval or None
        if args.query_start is not None and args.query_end is not None:
            kw["auto_range"] = (args.query_start, args.query_end)
        if args.query_kibana_dashboard is not None:
            from kafka_metrics_exporter_spark.kibana import compile_export

            title = args.query_kibana_dashboard
            plans = compile_export(
                saved, dashboard=None if title == "*" else title
            )
            for key, plan in plans.items():
                print(f"== {key}")
                plan.evaluate(df, **kw).show(args.query_limit, truncate=False)
            return 0
        if isinstance(saved, list):  # a full export: take the first vis
            saved = next(
                o for o in saved if o.get("_type") == "visualization"
            )
        out = compile_visualization(saved).evaluate(df, **kw)
    out.show(args.query_limit, truncate=False)
    return 0


def parse_selector_filters(items: list[str]) -> dict[str, str]:
    """--jmx-k8s-{label,field}-filter values ("k1=v1, k2=v2", may
    repeat) → selector dict (reference Code/main.py:130-133)."""
    out: dict[str, str] = {}
    for item in items:
        for pair in item.split(","):
            pair = pair.strip()
            if not pair:
                continue
            if "=" not in pair:
                raise SystemExit(
                    f"--jmx-k8s-*-filter needs key=value, got {pair!r}"
                )
            k, v = pair.split("=", 1)
            out[k.strip()] = v.strip()
    return out


def run_curate(args: argparse.Namespace, spark) -> int:
    """--curate: the full curation pipeline over ``DIR/documents
    .parquet``, drivable without writing Python (VERDICT r12 item 8).
    Stage order and semantics match test_curation_pipeline_end_to_end;
    every selection is content-addressed (no rand(), no partition
    dependence), so a re-run over the same corpus reproduces the same
    shards byte-for-byte.  Prints one JSON line of counts.

    ONE-PASS by default (round 16, VERDICT r15 item 6): no stage is
    materialized for progress reporting — the only actions are the two
    writes, and the reported counts are metadata-derived (the bare
    parquet input scan and the written chunks, both statistics-only
    count jobs).  ``--curate-report`` opts back into per-stage counts,
    which eagerly evaluates each stage (~6 extra stage evaluations —
    a progress table is not worth that at 100 TB unless asked for).
    Per-stage counts cannot ride the one pass as query observations:
    every tap point (gated/kept/clean/sel) is consumed TWICE in the
    final plan (each semi-join's build side derives from its probe
    side), so a CollectMetrics node there would be duplicated within
    one query.  DSIR's ``k`` needs no corpus count in either mode —
    it is a ``limit(k)``, which clamps itself.

    Scale: the gate is scan-local, dedup is one digest-keyed shuffle,
    decontamination broadcasts only the benchmark n-gram set, DSIR and
    domain mix run on shard-distributed running sums — the same
    100 TB arguments as the pipe_* registry rows."""
    import json as _json

    from pyspark.sql import functions as F

    from kafka_metrics_exporter_spark.llmdata.dedup import exact_dedup
    from kafka_metrics_exporter_spark.llmdata.pipeline import (
        decontaminate,
        deterministic_split,
        domain_mix,
        dsir_importance,
        pack_chunks,
        write_training_shards,
    )
    from kafka_metrics_exporter_spark.llmdata.text import (
        quality_gate,
        token_counts,
    )

    if not args.curate_output:
        raise SystemExit("--curate needs --curate-output DIR")
    budgets: dict[str, int] = {}
    for kv in args.curate_budget:
        if "=" not in kv:
            raise SystemExit(f"--curate-budget needs lang=tokens, got {kv!r}")
        lang, tok = kv.split("=", 1)
        budgets[lang.strip()] = int(tok)

    report = bool(args.curate_report)
    docs = spark.read.parquet(f"{args.curate.rstrip('/')}/documents.parquet")
    # bare parquet scan: count() is a statistics-only job in both modes
    counts: dict[str, int] = {"input": docs.count()}

    gated = docs.filter(quality_gate(F.col("text"))["keep"])
    if report:
        counts["gated"] = gated.count()

    surv = exact_dedup(gated).select(F.col("survivor_id").alias("doc_id"))
    kept = gated.join(surv, "doc_id", "left_semi")
    if report:
        counts["deduped"] = kept.count()

    bench = docs.filter(F.col("doc_id") % args.curate_bench_mod == 0)
    flags = decontaminate(kept, bench, n=8)
    clean = kept.join(
        flags.filter(~F.col("is_contaminated")), "doc_id", "left_semi"
    )
    if report:
        counts["decontaminated"] = clean.count()

    picked = dsir_importance(
        clean.filter(F.col("source") != args.curate_dsir_target),
        clean.filter(F.col("source") == args.curate_dsir_target),
        n_buckets=512,
        # no min(k, corpus_count): dsir's top-k is a limit(k), which
        # clamps itself — the old min() existed only because the
        # eager decontaminated count happened to be at hand
        k=args.curate_dsir_k,
    )
    sel = clean.join(picked.select("doc_id"), "doc_id", "left_semi")
    if report:
        counts["dsir_selected"] = sel.count()

    if budgets:
        langs = [r["lang"] for r in sel.select("lang").distinct().collect()]
        full = {lang: budgets.get(lang, 10**18) for lang in langs}
        mixed = domain_mix(sel, budgets=full)
        sel = sel.join(mixed.select("doc_id"), "doc_id", "left_semi")
    if report:
        counts["mixed"] = sel.count()

    final = deterministic_split(sel).withColumn(
        "n_tokens", token_counts(F.col("text"))["n_ws_tokens"]
    )
    packed = pack_chunks(
        final.select("doc_id", "lang", "n_tokens"),
        budget=args.curate_pack_budget,
    )
    out = args.curate_output.rstrip("/")
    packed.write.mode("overwrite").parquet(f"{out}/chunks")
    write_training_shards(
        final.select("doc_id", "lang", "split", "n_tokens"),
        f"{out}/shards",
        n_shards=args.curate_shards,
    )
    # chunk count from the WRITTEN parquet's metadata — the old
    # packed.count() re-ran the whole pipeline a ninth time
    counts["chunks"] = spark.read.parquet(f"{out}/chunks").count()
    print(_json.dumps(counts))
    return 0


def scrape_source(args: argparse.Namespace) -> dict:
    """The scrape flags as ``read_jolokia``'s keyword arguments, the
    catalog included: the --jmx-*-server lists × MBean patterns (J1),
    the Connect REST basic auth only with --enable-connect-rest-auth
    (reference Code/main.py:159-163), and K8s discovery only with
    --jmx-enable-k8s-discovery.  A setting left unset (None) is left
    out, so ``read_jolokia``'s default applies."""
    from kafka_metrics_exporter_spark.sources.jolokia import build_url_catalog

    servers = {
        stype: getattr(args, attr)
        for attr, stype in SERVER_ARG_TO_TYPE.items()
        if getattr(args, attr)
    }
    if (not servers and not args.connect_endpoints
            and not args.jmx_enable_k8s_discovery):
        raise SystemExit(
            "at least one source is required (--jmx-*-server / "
            "--connect-rest-endpoint / --jmx-enable-k8s-discovery)"
        )
    # --jmx-*-poll-mbean (reference Code/main.py:144-151); None keeps
    # the library defaults
    mbeans = {
        stype: getattr(args, attr)
        for attr, stype in MBEAN_ARG_TO_TYPE.items()
        if getattr(args, attr)
    } or None
    source: dict = {
        "catalog": build_url_catalog(
            servers, mbeans=mbeans, common_mbeans=args.common_mbeans
        ),
        "fetcher": args.fetcher,
        "timeout": args.jmx_poll_timeout,
        "connect_endpoints": args.connect_endpoints,
        "tls_verify": args.connect_tls_verify,
        "mbeans": mbeans,
        "common_mbeans": args.common_mbeans,
    }
    if args.enable_connect_rest_auth:
        source["user"] = args.connect_rest_auth_user
        source["password"] = args.connect_rest_auth_pass
    if args.jmx_enable_k8s_discovery:
        kwargs: dict = {
            "label_selectors": parse_selector_filters(args.k8s_label_filters),
            "field_selectors": parse_selector_filters(args.k8s_field_filters),
        }
        if args.jmx_k8s_context:
            kwargs["context"] = args.jmx_k8s_context
        source["discovery"] = args.jmx_k8s_provider
        source["discovery_kwargs"] = kwargs
        source["discovery_annotations"] = {
            "enabled_annotation": args.k8s_ann_enabled,
            "port_annotation": args.k8s_ann_port,
            "server_type_annotation": args.k8s_ann_server_type,
        }
    return {k: v for k, v in source.items() if v is not None}


def sink_writers(args: argparse.Namespace) -> list:
    """The configured sinks as ``writer(batch_df, batch_id)`` callables,
    in the order each micro-batch reaches them: Kafka, ES bulk, daily
    parquet.  With ``--kibana-url`` the one-time ES/Kibana bootstrap runs
    here, before the stream starts."""
    writers = []
    if args.kafka_bootstrap_servers:
        from kafka_metrics_exporter_spark.sinks import kafka_sink

        options = kafka_sink.kafka_sink_options(
            args.kafka_bootstrap_servers,
            topic=args.kafka_topic,
            extra=dict(kv.split("=", 1) for kv in args.kafka_conn_props),
        )

        def to_kafka(df, _id) -> None:
            # looked up per batch: the module attribute is the test seam
            kafka_sink.write_kafka(kafka_sink.to_kafka_records(df), options)

        writers.append(to_kafka)
    if args.es_url:
        if args.kibana_url:
            # one-time sink DDL bootstrap before streaming starts
            # (reference Code/ElasticSearchAppender.py:43-79 runs the
            # template + index-pattern + dashboard setup on startup;
            # here the saved objects go through the ES .kibana index —
            # the kibana URL gates the step and is recorded for parity)
            import json as _json

            from kafka_metrics_exporter_spark.sinks.es_setup import (
                bootstrap_elasticsearch,
                http_put,
            )

            dash_objs = None
            if args.kibana_dashboards:
                with open(args.kibana_dashboards) as fh:
                    dash_objs = _json.load(fh)
            flags = bootstrap_elasticsearch(
                http_put(args.es_url), dashboard_objects=dash_objs
            )
            print(f"elasticsearch bootstrap ({args.kibana_url}): {flags}")
        from kafka_metrics_exporter_spark.sinks.es_bulk import (
            es_bulk_foreach_batch,
            http_bulk_poster,
        )

        writers.append(es_bulk_foreach_batch(
            http_bulk_poster(args.es_url, timeout=args.es_bulk_url_timeout)
        ))
    if args.sink_parquet:
        from kafka_metrics_exporter_spark.sinks.es_bulk import write_daily_parquet

        writers.append(lambda df, _id: write_daily_parquet(df, args.sink_parquet))
    return writers


def _session(spark):
    """The caller's session, else the engine's own."""
    if spark is not None:
        return spark
    from kafka_metrics_exporter_spark.session import get_spark

    return get_spark(app_name="spark-metrics-engine")


def main(argv: list[str] | None = None, spark=None) -> int:
    args = build_parser().parse_args(argv)
    if args.curate:
        return run_curate(args, _session(spark))
    if (args.query_promql or args.query_kibana_vis or args.query_dashboard
            or args.query_kibana_dashboard):
        return run_query(args, _session(spark))
    if not (args.kafka_bootstrap_servers or args.es_url or args.sink_parquet):
        raise SystemExit(
            "at least one sink is required "
            "(--kafka-bootstrap-servers / --es-url / --sink-parquet)"
        )
    # same clean CLI contract as parse_selector_filters /
    # --curate-budget — not an opaque dict-ctor ValueError at
    # stream-start time (ADVICE r13)
    for kv in args.kafka_conn_props:
        if "=" not in kv:
            raise SystemExit(
                f"--kafka-conn-props needs key=value, got {kv!r}"
            )
    source = scrape_source(args)
    spark = _session(spark)

    from kafka_metrics_exporter_spark.streaming.pipeline import (
        fan_out,
        for_each_batch,
        streaming_metrics,
    )

    metrics = streaming_metrics(spark, **source)
    interval = max(args.poll_interval, JMX_POLL_FLOOR_SECS)
    query = for_each_batch(
        metrics,
        fan_out(sink_writers(args)),
        f"{args.checkpoint}/sinks",
        {"availableNow": True} if args.once
        else {"processingTime": f"{interval} seconds"},
    )
    query.awaitTermination(600 if args.once else None)
    return 0


if __name__ == "__main__":
    sys.exit(main())
