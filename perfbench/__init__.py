"""Seeded end-to-end and per-layer benchmark for autoner_spark.

Run from the repository root: ``python3 perfbench/run.py --workload
chain_short --seed 1 --seconds 15 --trace 0``. See perfbench/README.md.
"""
