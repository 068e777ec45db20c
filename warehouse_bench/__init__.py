"""End-to-end and per-layer benchmark of the materialized-view warehouse.

Run ``python3 warehouse_bench/run.py --workload <name> --seed <n>``
from the repository root; see ``warehouse_bench/README.md``.
"""
