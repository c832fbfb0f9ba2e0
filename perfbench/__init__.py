"""Closed-loop benchmark of simages_spark: `dedup` and `substring`.

Run it from the repository root with `python3 perfbench/run.py --help`;
see perfbench/README.md for the workloads, metrics and the held-out seed.
"""
