"""Compare the per-layer metrics of two sets of traced runs.

    python3 perfbench/layerdiff.py BEFORE_DIR AFTER_DIR

Each directory holds the standard output of traced runs
(``run.py --trace 1``), one file per run, named ``<workload>*.json``
(for example ``exporter_poll-seed3.json``); the last line of each file
is the run's JSON record.  Several files of one workload are combined
by their median.  For every workload in either directory the tool
prints every layer metric: counters first (jobs, tasks, partitions,
bytes, eager jobs, rows), then times, then ratios, with the relative
change.  A counter that moved names the layer that changed; a time that
moved without one is a candidate for noise.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

KIND_ORDER = {"count": 0, "bytes": 0, "s": 1, "ms": 1, "ratio": 2}


def load(directory: str) -> dict[str, dict[str, tuple[float, str]]]:
    """workload → metric → (median value, unit)."""
    from perfbench.run import WORKLOADS

    values: dict[str, dict[str, list[float]]] = {}
    units: dict[str, str] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        name = os.path.basename(path)
        workload = next((w for w in WORKLOADS if name.startswith(w)), None)
        if workload is None:
            continue
        with open(path) as fh:
            lines = [line for line in fh.read().splitlines() if line.strip()]
        record = json.loads(lines[-1])
        for metric, m in record["metrics"].items():
            values.setdefault(workload, {}).setdefault(metric, []).append(m["value"])
            units[metric] = m["unit"]
    return {
        w: {m: (statistics.median(v), units[m]) for m, v in ms.items()}
        for w, ms in values.items()
    }


def change(a: float, b: float) -> str:
    if a == b:
        return "="
    if a == 0:
        return "new"
    return f"{(b - a) / abs(a):+.1%}"


def report(before: dict, after: dict) -> list[str]:
    out = []
    for workload in sorted(set(before) | set(after)):
        a, b = before.get(workload, {}), after.get(workload, {})
        metrics = sorted(
            set(a) | set(b),
            key=lambda m: (KIND_ORDER.get((a.get(m) or b.get(m))[1], 3), m),
        )
        out.append(f"== {workload}")
        out.append(f"  {'metric':34s} {'before':>14s} {'after':>14s}  change")
        for m in metrics:
            va, unit = a.get(m, (0.0, b.get(m, (0, ""))[1]))
            vb = b.get(m, (0.0, unit))[0]
            if va == vb == 0:
                continue  # a layer this workload never calls
            out.append(f"  {m:34s} {va:14.6g} {vb:14.6g}  {change(va, vb)} {unit}")
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    before, after = load(argv[0]), load(argv[1])
    if not before or not after:
        print("layerdiff: no <workload>*.json records found", file=sys.stderr)
        return 2
    print("\n".join(report(before, after)))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main(sys.argv[1:]))
