"""Benchmark of the xlink_spark engine: seeded workloads, checks, spans.

Run from the repository root: ``python3 perfbench/run.py --workload NAME
--seed N --seconds S --trace 0|1``. See ``perfbench/README.md``.
"""
