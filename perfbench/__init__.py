"""Seeded, layer-traced benchmark for the hadoop_spark query catalog.

Entry point: ``python3 perfbench/run.py --workload NAME --seed N --seconds S
--trace 0|1`` from the repository root; see ``perfbench/README.md``.
"""
