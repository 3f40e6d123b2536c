"""The repository's benchmark: workloads, measurement helpers and checks.

Run ``python3 perfbench/run.py --help`` from the repository root; see
``perfbench/README.md``.
"""
