"""Extraction benchmark for astrospark: bulk and checkpoint workloads,
end-to-end metrics, and a traced run with a per-layer ledger.

Run from the repository root::

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 12 --trace 0
"""
