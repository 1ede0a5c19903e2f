"""Pipeline benchmark: seeded workloads, oracle-checked runs, per-layer
trace. Entry point: ``python3 perfbench/run.py --workload <name>``."""
