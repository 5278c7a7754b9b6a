"""One benchmark run: set-up, warm-up with oracle checks, the timed
closed loop, end-of-run checks and the result record."""

from __future__ import annotations

import os
import statistics
import time

from perfbench import spec
from perfbench.harness import (
    Recorder,
    build_session,
    closed_loop,
    host_cpu_ticks,
    pctl,
    peak_rss_mb,
    stop_session,
)
from perfbench.workloads import WORKLOADS

RADIUS_P90_MIN_SAMPLES = 100


def op_metrics(workload, samples) -> dict[str, tuple[float, str, int]]:
    """Median latency per end-to-end metric: {metric: (value, unit, n)}."""
    by_metric: dict[str, list[float]] = {}
    for s in samples:
        by_metric.setdefault(workload.metrics[s.op], []).append(s.end - s.start)
    out = {m: (statistics.median(v), "s", len(v)) for m, v in by_metric.items()}
    radius = by_metric.get("radius_p50_s", [])
    if len(radius) >= RADIUS_P90_MIN_SAMPLES:
        out["radius_p90_s"] = (pctl(radius, 90), "s", len(radius))
    return out


def tally(samples, checks: dict[str, list[str]]) -> tuple[int, int]:
    """(attempted, failed): every timed operation and every set-up or
    end-of-run check counts once; a raised or wrong one counts as failed."""
    failed = sum(1 for s in samples if not s.ok) + sum(1 for v in checks.values() if v)
    return len(samples) + len(checks), failed


def phase_summary(samples, wall: float) -> dict[str, float]:
    rows = sum(s.rows for s in samples)
    cpu = sum(s.cpu_s for s in samples)
    return {
        "rows_per_s": rows / wall if wall > 0 else 0.0,
        "rows_per_cpu_s": rows / cpu if cpu > 0 else 0.0,
        "ops": len(samples),
        "wall_s": wall,
    }


def run_workload(args, work: str, traces_dir: str):
    """Returns (detail record, result record) of one run."""
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    phases: dict[str, float] = {}  # wall time of each part of the run
    t0 = time.perf_counter()
    spark = build_session(work)
    phases["session"] = time.perf_counter() - t0
    try:
        # set-up: the seeded inputs and stored tables, built into the run directory
        w = WORKLOADS[args.workload](spark, args.seed)
        inputs = os.path.join(work, "inputs")
        os.makedirs(inputs)
        t0 = time.perf_counter()
        w.build_inputs(inputs)
        phases["build"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        oracle_errors = w.warm_up()
        phases["warm_up_and_oracles"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm = Recorder()
        for i in range(w.cycle * w.warm_cycles):
            warm.run_op(w.next_op(i), -1 - i)
        phases["warm_cycles"] = time.perf_counter() - t0
        setup_s = phases["session"] + phases["build"] + w.warm_s + phases["warm_cycles"]

        if args.trace:
            from perfbench.tracing import Tracer

            t0 = time.perf_counter()
            tracer = Tracer(spark, w)
            phases["trace_setup"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        steal0, total0 = host_cpu_ticks()
        if args.trace:
            # untraced, traced, untraced: the traced phase against the two
            # around it is the tracing overhead, and a steady drift cancels.
            # The layer replays after each traced operation are left out.
            part = args.seconds / 3.0
            plain = Recorder()
            rec = Recorder(hooks=tracer)
            plain_wall = closed_loop(w.next_op, w.cycle, part, plain)
            tracer.start()
            wall = closed_loop(w.next_op, w.cycle, part, rec, first_id=len(plain.samples)) - tracer.replay_s
            tracer.stop()
            plain_wall += closed_loop(
                w.next_op, w.cycle, part, plain, first_id=len(plain.samples) + len(rec.samples)
            )
            samples = plain.samples + rec.samples
        else:
            rec = Recorder()
            wall = closed_loop(w.next_op, w.cycle, args.seconds, rec)
            samples = rec.samples
        phases["timed"] = time.perf_counter() - t0
        steal1, total1 = host_cpu_ticks()
        steal_pct = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)

        t0 = time.perf_counter()
        end_errors = w.finish()
        rss = peak_rss_mb(spark)
        extra = w.extra_metrics()
        phases["end_checks"] = time.perf_counter() - t0

        checks = {
            **{f"warm-up {k}": v for k, v in oracle_errors.items()},
            **{f"warm-up op {-s.op_id} {s.op}": s.errors for s in warm.samples},
            **end_errors,
        }
        attempted, failed = tally(samples, checks)
        summary = phase_summary(rec.samples, wall)
        per_op = op_metrics(w, rec.samples)
        e2e = {
            "setup_s": (setup_s, "s"),
            "rows_per_s": (summary["rows_per_s"], "rows/s"),
            "rows_per_cpu_s": (summary["rows_per_cpu_s"], "rows/cpu-s"),
            "error_rate": (failed / attempted, "ratio"),
            "peak_rss_mb": (rss, "MB"),
            **{m: (v, unit) for m, (v, unit, _) in per_op.items()},
            **extra,
        }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": spark.sparkContext.defaultParallelism,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
            "samples": {m: n for m, (_, _, n) in per_op.items()},
            "setup_parts_s": {"build": phases["build"], "warm_up": w.warm_s},
            "phases_s": phases,
            # host contention during the timed phase, to read wall times against
            "timed_steal_pct": steal_pct,
            "errors": {k: v for k, v in checks.items() if v}
            | {f"op {s.op_id} {s.op}": s.errors for s in samples if not s.ok},
        }
        if args.trace:
            untraced = phase_summary(plain.samples, plain_wall)
            layers = tracer.layer_metrics(rec.samples)
            for key, name in (("rows_per_s", "trace.overhead_pct"), ("rows_per_cpu_s", "trace.cpu_overhead_pct")):
                layers[name] = 100.0 * (untraced[key] - summary[key]) / untraced[key]
            tracer.write(traces_dir, f"{args.workload}-seed{args.seed}")
            layers["trace.spans"] = float(len(tracer.spans))
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, (u, _) in spec.PER_LAYER.items()}
            detail["traced"] = {
                "untraced": untraced,
                "traced": summary,
                "replay_s": tracer.replay_s,
                "per_op": tracer.per_op_table(),
            }
        else:
            metrics = {k: {"value": float(e2e[k][0]), "unit": u} for k, (u, _, _) in spec.END_TO_END.items()}
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        return {"detail": detail}, result
    finally:
        stop_session(spark)
