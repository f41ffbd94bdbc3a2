"""Seeded end-to-end and per-layer benchmark of goobi_viewer_indexer_spark.

Run from the repository root::

    python3 perfbench/run.py --workload query_local --seed 1 --seconds 10 --trace 0

See ``BENCHMARK.json`` for the workloads and metrics and ``run.py`` for the
command-line contract.
"""
