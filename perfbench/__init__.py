"""Benchmark of the metrics engine: two workloads driven through its
public entry points, end-to-end metrics untraced, per-layer metrics from
a separate traced run.  Run ``python3 perfbench/run.py --help``."""
