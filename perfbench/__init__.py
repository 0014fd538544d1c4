"""Closed-loop benchmark for graph_spark.

Run from the repository root::

    python3 perfbench/run.py --workload graph_pregel --seed 1 --seconds 5 --trace 0

The workloads, their inputs and the layers they exercise are described in
``perfbench/WORKLOADS.md``.
"""
