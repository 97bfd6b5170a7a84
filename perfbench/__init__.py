"""Benchmark of the engine: workloads, input generators and tracing (see run.py)."""
