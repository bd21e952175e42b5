"""Benchmark for duckdb_sudan__spark: workloads, loopback provider
server, seeded input generators and out-of-package tracing.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see perfbench/README.md.
"""
