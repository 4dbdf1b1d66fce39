"""Seeded benchmark for pyproj_spark: four batch workloads, end-to-end
metrics from an untraced run and a per-layer split from a traced run.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the root of a checkout (see
``perfbench/README.md``).
"""
