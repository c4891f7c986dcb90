"""Benchmark of the package: seeded workloads, per-call tracing, metrics (see run.py)."""
