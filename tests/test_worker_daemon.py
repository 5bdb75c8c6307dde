"""The engine's Python worker daemon: tasks stop re-reading the zips
they import pyspark from, and a rewritten zip still reloads."""

from __future__ import annotations

import textwrap

from conftest import run_fresh_python


def test_worker_tasks_do_not_reread_zip_archives(spark):
    """``zipimport._read_directory`` calls in a worker across one
    ``importlib.invalidate_caches()``, the call every task starts with.
    PySpark's stock daemon re-reads every zipimporter's archive there."""

    def count(_):
        import importlib
        import zipimport

        importlib.invalidate_caches()  # as this task's setup did
        real = zipimport._read_directory
        calls = []

        def counting(archive):
            calls.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield len(calls)

    rdd = spark.sparkContext.parallelize(range(4), 4)
    assert rdd.mapPartitions(count).collect() == [0, 0, 0, 0]


def test_rewritten_zip_reloads_after_invalidate_caches(tmp_path):
    """A zip on ``sys.path`` rewritten with a new module imports it after
    ``invalidate_caches()``; an unchanged zip is not re-read.  Runs in a
    fresh interpreter so the patch stays out of the test process."""
    code = textwrap.dedent(f"""
        import importlib, sys, zipfile, zipimport
        from kafka_metrics_exporter_spark import worker_daemon

        worker_daemon.install()
        path = {str(tmp_path / "mods.zip")!r}
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr("mod_a.py", "X = 1")
        sys.path.insert(0, path)
        import mod_a
        importlib.invalidate_caches()  # stamps the new importer

        real, calls = zipimport._read_directory, []
        zipimport._read_directory = lambda a: calls.append(a) or real(a)
        importlib.invalidate_caches()
        assert calls == [], calls

        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr("mod_a.py", "X = 1")
            zf.writestr("mod_b.py", "Y = 2")
        importlib.invalidate_caches()
        assert calls == [path], calls
        import mod_b
        assert (mod_a.X, mod_b.Y) == (1, 2)
        print("ok")
    """)
    assert run_fresh_python(code) == "ok"
