"""Elasticsearch bulk sink (SURVEY §2.1 S6) as a foreachBatch writer.

The reference serializes each batch as ES bulk NDJSON
(``{"index":{"_type":"doc"}}\\n<doc>`` pairs) and bulk-POSTs into a
daily index ``kafka-jmx-logs-YYYY-MM-DD`` with retry ≤10
(reference Code/ElasticSearchAppender.py:85-112).

Here each batch is one narrow stage: ``foreachPartition`` over
``(daily index, flat JSON doc)`` rows builds the NDJSON on the
executors and POSTs a payload whenever the next doc would push it past
``MAX_BULK_BYTES``, then flushes each index at the end of the
partition — so a payload's size is bounded by construction at any
scale, with no shuffle.  A payload the poster fails to deliver (it
returns ``False``) fails its partition, so the micro-batch fails and
is retried, never committed with docs missing: delivery is
at-least-once.  The POST goes through a pluggable I/O
callback — tests exercise the full pipeline with a capturing poster,
and the parquet stand-in writer partitions by ``date(created_ts)``
exactly like daily indexes partition the reference's data.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_metrics_exporter_spark.operators.normalize import flat_json_column

INDEX_PREFIX = "kafka-jmx-logs-"  # reference Code/ElasticSearchAppender.py:109
_ACTION_LINE = '{"index":{"_type":"doc"}}'  # reference :88-91
# payload bound, in UTF-8 bytes: inside ES's 5-15 MB bulk sweet spot
MAX_BULK_BYTES = 10 * 1024 * 1024


def _bulk_payloads(rows, max_bytes: int):
    """(index_name, doc) pairs → (index_name, NDJSON payload) pairs in
    the reference's ``action\ndoc`` line-pair format.  A payload is cut
    before the doc that would take its POST body (the payload plus a
    closing newline) past ``max_bytes`` UTF-8 bytes, so only a doc that
    alone exceeds the bound makes a larger one.  Each index keeps one
    open payload; all are flushed at the end."""
    pending: dict[str, list[str]] = {}
    used: dict[str, int] = {}
    for index_name, doc in rows:
        entry = f"{_ACTION_LINE}\n{doc}"
        size = len(entry.encode("utf-8")) + 1  # with its closing newline
        entries = pending.setdefault(index_name, [])
        if entries and used[index_name] + size > max_bytes:
            yield index_name, "\n".join(entries)
            entries.clear()
            used[index_name] = 0
        entries.append(entry)
        used[index_name] = used.get(index_name, 0) + size
    for index_name, entries in pending.items():
        yield index_name, "\n".join(entries)


def http_bulk_poster(es_url: str, timeout: float = 30.0, max_retries: int = 10):
    """POST one NDJSON payload to ``{es_url}/{index}/_bulk`` with the
    reference's retry policy (Code/ElasticSearchAppender.py:100-103);
    ``False`` once the retries are spent."""
    import time
    import urllib.request

    def post(index_name: str, payload: str) -> bool:
        body = (payload + "\n").encode("utf-8")
        req = urllib.request.Request(  # noqa: S310
            f"{es_url.rstrip('/')}/{index_name}/_bulk",
            data=body,
            headers={"Content-Type": "application/x-ndjson"},
            method="POST",
        )
        for attempt in range(max_retries):
            try:
                with urllib.request.urlopen(req, timeout=timeout):  # noqa: S310
                    return True
            except Exception:  # noqa: BLE001
                time.sleep(min(2**attempt * 0.1, 5.0))
        return False

    return post


def es_bulk_foreach_batch(
    poster: Callable[[str, str], bool],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch hook: build byte-bounded bulk payloads and POST them
    from ``foreachPartition`` — one narrow stage, the I/O happens
    executor-side next to the data, and no payload ever crosses to the
    driver.  The poster callable is cloudpickled to the workers, so it
    must be self-contained (``http_bulk_poster`` is)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        max_bytes = MAX_BULK_BYTES  # read on the driver, shipped in the closure
        docs = batch_df.select(
            F.concat(
                F.lit(INDEX_PREFIX), F.date_format("created_ts", "yyyy-MM-dd")
            ).alias("index_name"),
            flat_json_column().alias("doc"),
        )

        def _post_partition(rows) -> None:
            for index_name, payload in _bulk_payloads(rows, max_bytes):
                if not poster(index_name, payload):
                    raise RuntimeError(
                        f"es bulk: POST to index {index_name!r} failed; "
                        f"failing the batch so it is retried"
                    )

        docs.foreachPartition(_post_partition)

    return write


def write_daily_parquet(metrics: DataFrame, path: str) -> None:
    """Test/offline stand-in: parquet partitioned by event date — the
    same partition pruning a daily ES index gives Kibana queries."""
    (
        metrics.withColumn("event_date", F.date_format("created_ts", "yyyy-MM-dd"))
        .write.partitionBy("event_date")
        .mode("append")
        .parquet(path)
    )
