"""Benchmark for the as-of backfill and the serving fetch; see run.py."""
