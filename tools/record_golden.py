"""Record GOLDEN.json: row-count + order-insensitive value hash for
EVERY queries() entry at sf0.01 — including the sketch-based queries the
DuckDB oracle can't express (they are deterministic by construction:
seeded hashes, fixed constants).  tests/test_golden.py replays this, so
any refactor that shifts results — even for rows-only queries — fails
loudly instead of drifting between rounds.

Usage: python tools/record_golden.py [query ...]
  With no args, rewrites GOLDEN.json from scratch.  With query names,
  re-records ONLY those rows (identical computation) and keeps the
  rest — for adding/refreshing a few queries without a full replay.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from kafka_metrics_exporter_spark.plans.oracle import canon, value_hash  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
GOLDEN_PATH = os.path.join(REPO, "GOLDEN.json")


def main() -> None:
    import __spark_entry__ as entry_mod
    from kafka_metrics_exporter_spark.session import get_spark

    spark = get_spark(app_name="record-golden", master="local[8]", shuffle_partitions=8)
    only = set(sys.argv[1:])
    golden: dict[str, dict] = {}
    if only and os.path.exists(GOLDEN_PATH):
        prior = json.load(open(GOLDEN_PATH, encoding="utf-8"))
        live = set(entry_mod.queries())
        golden = {n: v for n, v in prior["queries"].items() if n in live}
    for name, fn in entry_mod.queries().items():
        if only and name not in only:
            continue
        pdf = canon(fn(spark, SF_DIR).toPandas())
        golden[name] = {"rows": len(pdf), "hash": value_hash(pdf)}
        print(f"{name}: rows={len(pdf)} hash={golden[name]['hash']}")
        spark.catalog.clearCache()

    with open(GOLDEN_PATH, "w", encoding="utf-8") as fh:
        json.dump(
            {"sf_dir": SF_DIR, "queries": golden},
            fh,
            indent=1,
            sort_keys=True,
        )
    print(f"\nwrote {GOLDEN_PATH} ({len(golden)} queries)")


if __name__ == "__main__":
    main()
