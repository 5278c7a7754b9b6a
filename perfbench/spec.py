"""Names, units and meanings of every workload and metric.

Later performance claims cite these names. ``BENCHMARK.json`` at the
repository root lists the workloads, the gated end-to-end metrics and
the per-layer metrics again; ``perfbench/tests`` keeps the two equal.
"""

from __future__ import annotations

# Workloads: name -> why, with input sizes. All run as a closed loop with
# one client on local[<host cpus>], one whole cycle of operations at least.
WORKLOADS = {
    "vector_join": (
        "Overhead-bound headline joins (Arrow-UDF boundary, planning, broadcast); the 11-polygon "
        "layer fits the cover cache, so plans idles. 120k orders + 240k lineitem seeded points."
    ),
    "stored_tables": (
        "Stored-table paths: io.jpeg-bound image decode; io.clustered appends, probes, MOR delete and "
        "compaction (3 appends each). 600 images; 30k-row clustered table, 3k-row appends."
    ),
}

# Gated end-to-end metrics, printed by every workload with --trace 0:
# name -> (unit, better, meaning). Throughput is gated per CPU second: on
# a shared host, steal time of up to 16% moved wall-clock rows/s by up to
# 40% between runs, while CPU time (steal is not charged to processes)
# moved half as much. rows_per_s, peak memory and the per-operation
# latencies are printed on the line before the result but not gated, so
# a timed-phase regression that costs wall time but no CPU (lost task
# parallelism, driver-side waits) fails no gate; only setup_s's warm-up
# part can catch it.
END_TO_END = {
    "setup_s": (
        "s",
        "lower",
        "Session start + seeded input generation and stored-table builds + warm-up (the first, "
        "oracle-checked execution of each operation, its oracle excluded, and any untimed warm-up cycles).",
    ),
    "rows_per_cpu_s": (
        "rows/cpu-s",
        "higher",
        "Input rows processed per CPU second of the driver, its JVM and the Python workers, "
        "summed over the timed operations.",
    ),
}

# Every end-to-end metric, including those that apply to some workloads
# only; printed on the line before the result. name -> (unit, meaning, workloads).
ALL_END_TO_END = {
    "setup_s": ("s", END_TO_END["setup_s"][2], "all"),
    "rows_per_s": ("rows/s", "Input rows processed divided by the timed-phase wall time.", "all"),
    "error_rate": (
        "ratio",
        "Failed plus wrong-result operations divided by operations attempted (set-up checks included).",
        "all",
    ),
    "rows_per_cpu_s": ("rows/cpu-s", END_TO_END["rows_per_cpu_s"][2], "all"),
    "peak_rss_mb": ("MB", "Peak resident memory of the driver Python process plus the JVM.", "all"),
    "pip_join_p50_s": ("s", "Median latency of the broadcast-cover point-in-polygon join.", "vector_join"),
    "cell_assign_p50_s": ("s", "Median latency of geohash, S2 and H3 tile assignment.", "vector_join"),
    "tile_stats_p50_s": ("s", "Median latency of salted per-cell aggregation over the 3 backends.", "vector_join"),
    "radius_p50_s": (
        "s",
        "Median latency of the clustered radius probe.",
        "stored_tables",
    ),
    "radius_p90_s": (
        "s",
        "p90 of the clustered radius probe; reported only with at least 100 probe samples.",
        "stored_tables",
    ),
    "image_tiles_p50_s": ("s", "Median latency of the fused decode-gate-chip-mosaic stage.", "stored_tables"),
    "decode_check_p50_s": ("s", "Median latency of the decode gate (PSNR plus caption equality).", "stored_tables"),
    "append_p50_s": ("s", "Median latency of an append_clustered commit.", "stored_tables"),
    "maintain_p50_s": ("s", "Median latency of a MOR delete_clustered or compact_clustered.", "stored_tables"),
    "table_bytes_per_row": (
        "B/row",
        "Bytes on disk of the table directory (snapshots and manifests included) per live row at the end.",
        "stored_tables",
    ),
}

# Per-layer metrics of the traced run (--trace 1): name -> (unit, better).
# Additive figures are per traced cycle: the traced phase runs whole
# cycles of the workload's operations, and each figure is its sum over
# the phase divided by the number of cycles. Spark and operator figures
# come from the operations themselves; the plans, kernels, io.jpeg,
# sources and io.clustered timings from the layer calls replayed after
# each operation on its own rows (perfbench/layers.py), one span each.
# io.clustered.manifest_bytes and .snapshots are means over the probes;
# io.clustered.commit_s is the median append's time outside Spark stages;
# sources.generate_s is one replay of the set-up's image generation.
# self.driver.<bucket>_s splits the driver thread's time during the
# operations (cProfile) by package layer, with `spark` for PySpark/py4j,
# `bench` for the benchmark's own code and `remainder` for time no caller
# chain ties to either; self.udf.<bucket>_s splits the Python workers'
# UDF time (Spark's UDF profiler, summed over workers) the same way, its
# `remainder` being UDF time outside the package. A layer the workload
# does not exercise reports 0.
_LAYER_BUCKETS = ("operators", "plans", "kernels", "functions", "sources", "io.jpeg", "io.clustered", "package_other")
PER_LAYER = {
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_read_bytes": ("B", "lower"),
    "spark.shuffle_write_bytes": ("B", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.input_bytes": ("B", "lower"),
    "spark.driver_s": ("s", "lower"),
    "operators.build_s": ("s", "lower"),
    "operators.action_s": ("s", "lower"),
    "operators.rows_out": ("rows", "higher"),
    "plans.cover_s": ("s", "lower"),
    "plans.cover_cells": ("count", "lower"),
    "plans.planner_s": ("s", "lower"),
    "plans.candidates": ("count", "lower"),
    "plans.bbox_survivors": ("count", "lower"),
    "plans.hits": ("count", "higher"),
    "plans.hit_ratio": ("ratio", "higher"),
    "kernels.geohash_s": ("s", "lower"),
    "kernels.geohash_rows": ("rows", "higher"),
    "kernels.s2_s": ("s", "lower"),
    "kernels.s2_rows": ("rows", "higher"),
    "kernels.h3_s": ("s", "lower"),
    "kernels.h3_rows": ("rows", "higher"),
    "kernels.pip_s": ("s", "lower"),
    "kernels.pip_rows": ("rows", "higher"),
    "functions.udf_python_s": ("s", "lower"),
    "functions.udf_rows": ("rows", "higher"),
    "io.jpeg.decode_s": ("s", "lower"),
    "io.jpeg.idct_s": ("s", "lower"),
    "io.jpeg.color_s": ("s", "lower"),
    "io.jpeg.bytes_in": ("B", "higher"),
    "sources.decode_s": ("s", "lower"),
    "sources.generate_s": ("s", "lower"),
    "io.clustered.manifest_read_s": ("s", "lower"),
    "io.clustered.cover_ranges_s": ("s", "lower"),
    "io.clustered.files_total": ("count", "lower"),
    "io.clustered.files_kept": ("count", "lower"),
    "io.clustered.files_kept_ratio": ("ratio", "lower"),
    "io.clustered.manifest_bytes": ("B", "lower"),
    "io.clustered.snapshots": ("count", "lower"),
    "io.clustered.commit_s": ("s", "lower"),
    # the operations' wall time: build outside Spark stages, action
    # outside stages, and the union of their stage intervals
    "self.build_s": ("s", "lower"),
    "self.driver_s": ("s", "lower"),
    "self.stages_s": ("s", "lower"),
    **{f"self.driver.{b}_s": ("s", "lower") for b in (*_LAYER_BUCKETS, "spark", "bench", "remainder")},
    **{f"self.udf.{b}_s": ("s", "lower") for b in (*_LAYER_BUCKETS, "remainder")},
    "trace.overhead_pct": ("%", "lower"),
    "trace.cpu_overhead_pct": ("%", "lower"),
    "trace.ops": ("count", "higher"),
    "trace.spans": ("count", "lower"),
}

# Which end-to-end metric each layer should move, on which workload, and
# where no change is expected.
LAYER_MAP = {
    "spark": {
        "metrics": [m for m in PER_LAYER if m.startswith(("spark.", "self.driver.spark"))],
        "moves": ["pip_join_p50_s", "cell_assign_p50_s", "tile_stats_p50_s"],
        "on": ["vector_join", "stored_tables"],
        "no_change_on": [],
    },
    "operators": {
        "metrics": ["operators.build_s", "operators.action_s", "operators.rows_out",
                    "self.driver.operators_s", "self.udf.operators_s"],
        "moves": [m for m in ALL_END_TO_END if m.endswith("_p50_s")],
        "on": ["vector_join", "stored_tables"],
        "no_change_on": [],
    },
    # the distributed-cover layer join that would exercise plans is not a
    # workload yet; its replays run on vector_join's pip_join
    "plans": {
        "metrics": [m for m in PER_LAYER if m.startswith(("plans.", "self.driver.plans", "self.udf.plans"))],
        "moves": ["pip_join_p50_s"],
        "on": [],
        "no_change_on": ["vector_join"],
    },
    "kernels": {
        "metrics": [m for m in PER_LAYER if m.startswith(("kernels.", "self.udf.kernels"))],
        "moves": ["cell_assign_p50_s", "tile_stats_p50_s", "pip_join_p50_s"],
        "on": ["vector_join"],
        "no_change_on": [],
    },
    "functions": {
        "metrics": ["functions.udf_python_s", "functions.udf_rows", "self.udf.functions_s", "self.udf.remainder_s"],
        "moves": ["cell_assign_p50_s", "pip_join_p50_s"],
        "on": ["vector_join"],
        "no_change_on": [],
    },
    "io.jpeg+sources": {
        "metrics": [m for m in PER_LAYER if m.startswith(("io.jpeg.", "sources.", "self.udf.io.jpeg", "self.udf.sources"))],
        "moves": ["image_tiles_p50_s", "decode_check_p50_s", "setup_s"],
        "on": ["stored_tables"],
        "no_change_on": ["vector_join"],
    },
    "io.clustered": {
        "metrics": [m for m in PER_LAYER if m.startswith(("io.clustered.", "self.driver.io.clustered"))],
        "moves": ["append_p50_s", "radius_p50_s", "radius_p90_s", "maintain_p50_s", "table_bytes_per_row"],
        "on": ["stored_tables"],
        "no_change_on": ["vector_join"],
    },
}
