"""CDC ingest benchmark: a catch-up workload and a trickle workload with readers.

Run from the repository root::

    python3 perfbench/run.py --workload bulk_cow --seed 1 --seconds 6 --trace 0

See ``perfbench/NOTES.md`` for the workloads, the metric definitions and
which layer metric is expected to move which end-to-end metric.
"""
