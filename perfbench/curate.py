"""The llmdata layer probe, run at the end of the dashboard_refresh
traced run.

The curation path has no workload of its own: every run of the benchmark
pays a fresh JVM and its first-op warm-up, and a third workload does not
fit the benchmark's run budget (see README.md).  Its layer is still
measured: one warm-up ``app.main(["--curate", ...])`` run over a seeded
documents corpus shaped like the engine's sf0.1 documents table (short
texts over a small vocabulary, five languages, twenty sources) with a
fixed share of exact duplicates and of documents that quote the
benchmark slice (``doc_id % 97 == 0``), then the same stage chain as
``app.run_curate`` with each stage's output materialized once inside its
own span, so each stage's time is its own.  Both must count the whole
corpus, agree on their chunks and write the same shards and chunks.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import random

from perfbench.common import Run
from perfbench.results import value_hash

N_DOCS = 500
DUP_SHARE = 0.10
CONTAMINATED_SHARE = 0.03
BENCH_MOD = 97
VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window vector table stream join data "
    "customer the a partition shuffle index topic broker lag offset commit "
    "replica leader metric gauge counter"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
BUDGET = "en=1500"
DSIR_K = 120
STAGES = ("gate", "dedup", "decontaminate", "dsir", "mix", "pack", "write")


def documents(seed: int) -> list[dict]:
    """Input generation: the seeded corpus (doc_id is the row index)."""
    rng = random.Random(seed)
    docs = []
    for i in range(N_DOCS):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(12, 70))]
        docs.append({"doc_id": i, "text": " ".join(words),
                     "lang": rng.choice(LANGS), "source": f"src{i % 20}"})
    bench = [d for d in docs if d["doc_id"] % BENCH_MOD == 0]
    for d in docs:
        if d["doc_id"] % BENCH_MOD == 0:
            continue
        r = rng.random()
        if r < DUP_SHARE:
            d["text"] = docs[rng.randrange(d["doc_id"])]["text"] if d["doc_id"] else d["text"]
        elif r < DUP_SHARE + CONTAMINATED_SHARE:
            quote = rng.choice(bench)["text"].split()[:10]
            d["text"] = " ".join(d["text"].split()[:20] + quote)
    for d in docs:
        d["n_chars"] = len(d["text"])
    return docs


def write_corpus(path: str, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    pq.write_table(pa.Table.from_pylist(documents(seed)),
                   os.path.join(path, "documents.parquet"))


def curate_argv(corpus: str, out: str) -> list[str]:
    return ["--curate", corpus, "--curate-output", out,
            "--curate-budget", BUDGET, "--curate-dsir-k", str(DSIR_K)]


def curate_op(spark, corpus: str, out: str) -> dict:
    """One CLI run; returns the stage counts it printed."""
    from kafka_metrics_exporter_spark.app import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(curate_argv(corpus, out), spark=spark)
    if rc != 0:
        raise RuntimeError(f"--curate exited {rc}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def output_hash(out: str) -> str:
    """Hash of the written chunks and shards, read without Spark so the
    check adds no JVM work."""
    import pyarrow.parquet as pq

    chunks = [tuple(r.values()) for r in pq.read_table(f"{out}/chunks").to_pylist()]
    shards = []
    for path in glob.glob(f"{out}/shards/shard=*/part-*"):
        shard = int(path.split("/shard=")[1].split("/")[0])
        with open(path) as fh:
            shards += [(shard, *json.loads(line).values()) for line in fh]
    return value_hash({"chunks": chunks, "shards": shards})


def traced_op(ctx, corpus: str, out: str) -> dict[str, int]:
    """The ``run_curate`` stage chain with every stage materialized once
    inside its own span."""
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
    from kafka_metrics_exporter_spark.llmdata.text import quality_gate, token_counts

    spark, tr = ctx.spark, ctx.tracer
    held = []

    def stage(df):
        df = df.persist()
        held.append(df)
        return df, df.count()

    counts = {}
    docs = spark.read.parquet(f"{corpus}/documents.parquet")
    counts["input"] = docs.count()
    try:
        with tr.span("llmdata.gate"):
            gated, counts["gated"] = stage(
                docs.filter(quality_gate(F.col("text"))["keep"]))
        with tr.span("llmdata.dedup"):
            surv = exact_dedup(gated).select(F.col("survivor_id").alias("doc_id"))
            kept, counts["deduped"] = stage(gated.join(surv, "doc_id", "left_semi"))
        with tr.span("llmdata.decontaminate"):
            bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0)
            flags = decontaminate(kept, bench, n=8)
            clean, counts["decontaminated"] = stage(kept.join(
                flags.filter(~F.col("is_contaminated")), "doc_id", "left_semi"))
        with tr.span("llmdata.dsir"):
            picked = dsir_importance(
                clean.filter(F.col("source") != "src0"),
                clean.filter(F.col("source") == "src0"),
                n_buckets=512, k=DSIR_K,
            )
            sel, counts["dsir_selected"] = stage(
                clean.join(picked.select("doc_id"), "doc_id", "left_semi"))
        with tr.span("llmdata.mix"):
            lang, tokens = BUDGET.split("=")
            langs = [r["lang"] for r in sel.select("lang").distinct().collect()]
            full = {x: int(tokens) if x == lang else 10**18 for x in langs}
            mixed = domain_mix(sel, budgets=full)
            sel, counts["mixed"] = stage(
                sel.join(mixed.select("doc_id"), "doc_id", "left_semi"))
        with tr.span("llmdata.pack"):
            final, counts["final"] = stage(deterministic_split(sel).withColumn(
                "n_tokens", token_counts(F.col("text"))["n_ws_tokens"]))
            packed, counts["chunks"] = stage(pack_chunks(
                final.select("doc_id", "lang", "n_tokens"), budget=256))
        with tr.span("llmdata.write"):
            packed.write.mode("overwrite").parquet(f"{out}/chunks")
            write_training_shards(
                final.select("doc_id", "lang", "split", "n_tokens"),
                f"{out}/shards", n_shards=4,
            )
    finally:
        for df in held:
            df.unpersist()
    return counts


def probe(ctx, run: Run) -> dict[str, float]:
    """The llmdata layer metrics; the output checks go to ``run``."""
    corpus = os.path.join(ctx.work, "corpus")
    out = os.path.join(ctx.work, "curated")
    write_corpus(corpus, ctx.seed)
    first = curate_op(ctx.spark, corpus, out)  # warm-up, and the reference
    want_hash = output_hash(out)
    counts = traced_op(ctx, corpus, out)
    run.check(
        first.get("input") == counts["input"] == N_DOCS
        and counts["chunks"] == first.get("chunks", 0) > 0
        and output_hash(out) == want_hash,
        f"curation probe: --curate counted {first}, the stage chain {counts}; "
        f"expected {N_DOCS} documents and the same chunks and output",
    )
    self_s = ctx.tracer.self_seconds()
    layer = {f"llmdata.{name}_s": self_s.get(f"llmdata.{name}", 0.0) for name in STAGES}
    layer["llmdata.kept_ratio"] = counts["final"] / counts["input"]
    return layer
