"""Seeded end-to-end benchmark of the spatial4n_spark engine.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root. ``spec.py`` names the workloads
and metrics; ``BENCHMARK.json`` at the root repeats them for tooling.
"""
