"""End-to-end and per-layer benchmark for the snapflow_spark engine.

Run ``python3 perfbench/run.py --workload <curation|incremental>
--seed N --seconds S --trace 0|1`` from the repository root.
"""
