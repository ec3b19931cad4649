"""Repository benchmark: seeded workloads driven through the public
``pixeltable_spark`` API, with per-layer Spark job accounting.

Run ``python3 perfbench/run.py --workload ingest --seed 1 --seconds 20
--trace 0`` from the repository root; see ``run.py``.
"""
