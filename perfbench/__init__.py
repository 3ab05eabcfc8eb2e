"""Seeded benchmark for the PBF ingest path and the cell-keyed PIP join.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n> --seconds
<s> --trace <0|1>``. See ``perfbench/README.md``.
"""
