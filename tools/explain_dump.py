"""Dump .explain("formatted") for registry queries to plans/r17/.

Usage: python tools/explain_dump.py <suffix> [query ...]
  suffix: "before" or "after" — file becomes plans/r17/<query>_<suffix>.txt
  with no query names, dumps every registered query.

Plans are captured at sf0.1 with the SAME session conf bench.py uses,
so Exchange counts / join strategies in the files match what the bench
actually executes (AQE initial plan; the bench's measured plan).

Expression ids (``#1234``), subquery ids (``[id=#56]``), ``plan_id=NNN``
and the random suffix of a replay's ``kme_replay_<suffix>`` temp directory
are renumbered in order of first appearance before writing (see
:func:`_normalize_ids`), so two dumps of the same plan are byte-identical
and ``diff -r`` of a before directory against an after directory is empty
when no plan changed.
``KME_PLANS_ROUND`` names the output directory under ``plans/`` (an
absolute path writes elsewhere).
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


_ID_RES = (
    # a subquery's ``[id=#N]`` is a plan id, counted apart from the
    # expression ids it would otherwise collide with now and then
    re.compile(r"(\[id=#)(\d+)"),
    re.compile(r"(?<!\[id=)(#)(\d+)"),
    re.compile(r"(plan_id=)(\d+)"),
    re.compile(r"(kme_replay_)(\w+)"),
)


def _normalize_ids(txt: str) -> str:
    """Renumber expression, subquery and plan ids and replay
    temp-directory suffixes from 0 in order of first appearance; each
    kind keeps its own numbering, so every link between attributes
    within the plan survives."""
    for pat in _ID_RES:
        seen: dict[str, int] = {}
        txt = pat.sub(
            lambda m: m.group(1) + str(seen.setdefault(m.group(2), len(seen))),
            txt,
        )
    return txt


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entry_mod
    from kafka_metrics_exporter_spark.session import get_spark

    spark = get_spark(
        app_name="explain-dump",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(1024 * 1024),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    out_dir = os.path.join(REPO, "plans", os.environ.get("KME_PLANS_ROUND", "r17"))
    os.makedirs(out_dir, exist_ok=True)

    queries = entry_mod.queries()
    for name, fn in queries.items():
        if names and name not in names:
            continue
        try:
            df = fn(spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            txt = f"EXPLAIN FAILED: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(_normalize_ids(txt))
        print(f"wrote {name}_{suffix}.txt")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
