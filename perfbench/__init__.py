"""Seeded, self-checking benchmark of the extraction engine.

``python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1``
from the root of a checkout; see ``run.py`` for the output and
``workloads.py`` for the workloads and the caches each one keeps warm.
"""
