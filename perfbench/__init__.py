"""The repository benchmark: seeded workloads, checked results, layer traces.

Entry point: perfbench/run.py (see perfbench/README.md)."""
