"""The repository benchmark: seeded workloads that drive ksml_spark through
its public API and report end-to-end and per-layer metrics.

Entry point: ``python3 perfbench/run.py --workload W --seed N --seconds S
--trace 0|1`` (see run.py and README.md).
"""
