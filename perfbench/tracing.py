"""The traced run: spans around each operation and around the layer
calls replayed after it, Spark's own stage metrics per operation, and
each layer's self time from two profiles.

Spans are kept in memory and written as JSON lines when the run ends.
Spark figures come from the local UI REST API
(``/api/v1/applications/<app>/{jobs,stages,sql}``) and are attributed to
operations through the job group set before each one. Self time per
layer comes from cProfile on the driver thread during each operation
and from Spark's UDF profiler (``spark.sql.pyspark.udf.profiler=perf``)
in the Python workers; ``attribute`` splits both by package layer.
"""

from __future__ import annotations

import cProfile
import functools
import json
import os
import pstats
import statistics
import time
import urllib.request
from collections import defaultdict
from datetime import datetime, timezone

import py4j
import pyspark
from pyspark.sql import SparkSession

from perfbench.layers import GAUGES, replays

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GROUP_PREFIX = "perfbench-op-"
# plan nodes that run Python (Arrow UDFs, mapInArrow/mapInPandas, ...)
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas", "PythonMapInArrow",
                "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "AggregateInPandas", "WindowInPandas")


def _ts(s: str) -> float:
    """REST timestamps look like 2026-01-02T03:04:05.678GMT."""
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(tzinfo=timezone.utc).timestamp()


def _union_within(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# self time by layer
# ---------------------------------------------------------------------------

# Buckets: these package layers; "package_other" for the package's other
# modules (suite, cellindex, ...); "spark" for PySpark and py4j (the driver
# waiting for Spark or converting results); "bench" for the benchmark's
# own code; "remainder" for time no caller chain ties to any of these.
LAYERS = ("operators", "plans", "kernels", "functions", "sources", "io.jpeg", "io.clustered")

_PKG = os.path.join(ROOT, "spatial4n_spark") + os.sep
_BENCH = os.path.join(ROOT, "perfbench") + os.sep
_SPARK = tuple(os.path.dirname(m.__file__) + os.sep for m in (pyspark, py4j))


def _pkg_layer(rel: str) -> str:
    parts = rel.split(os.sep)
    if parts[0] == "io" and parts[-1] in ("jpeg.py", "clustered.py"):
        return "io." + parts[-1][:-3]
    return parts[0] if parts[0] in LAYERS else "package_other"


@functools.cache
def _basename_layers() -> dict[str, str]:
    """Worker profiles keep file basenames only: the package's basenames
    that name one module and no PySpark or py4j module."""
    mine: dict[str, list[str]] = defaultdict(list)
    for root, _, files in os.walk(_PKG):
        for f in files:
            if f.endswith(".py"):
                mine[f].append(os.path.relpath(os.path.join(root, f), _PKG))
    theirs = {f for d in _SPARK for _, _, files in os.walk(d) for f in files}
    return {f: _pkg_layer(rels[0]) for f, rels in mine.items() if len(rels) == 1 and f not in theirs}


def layer_of(filename: str) -> str | None:
    """The bucket a function's own time belongs to, or None for library
    code, whose time goes to its callers."""
    if filename.startswith(_PKG):
        return _pkg_layer(os.path.relpath(filename, _PKG))
    if filename.startswith(_BENCH):
        return "bench"
    if filename.startswith(_SPARK):
        return "spark"
    if os.sep not in filename:
        return _basename_layers().get(filename)
    return None


def attribute(st: pstats.Stats) -> dict[str, float]:
    """Split a profile's time (the sum of every function's own time) by
    bucket. A function in a bucket keeps its own time; library code hands
    its own time up the call graph to the buckets of its callers, shared
    in proportion to the time each call edge took. Time with no caller
    chain into a bucket is ``remainder``."""
    table = st.stats
    memo: dict[tuple, dict[str, float]] = {}

    def owners(f: tuple, stack: frozenset) -> dict[str, float]:
        bucket = layer_of(f[0])
        if bucket is not None:
            return {bucket: 1.0}
        if f in memo:
            return memo[f]
        edges = {c: e for c, e in table[f][4].items() if c != f and c not in stack and c in table}
        weights = {c: e[3] for c, e in edges.items()}
        if sum(weights.values()) <= 0:
            weights = {c: e[1] for c, e in edges.items()}  # too fast to time: by call count
        total = sum(weights.values())
        res: dict[str, float] = {}
        if total <= 0:
            res = {"remainder": 1.0}
        else:
            for c, wt in weights.items():
                for k, v in owners(c, stack | {f}).items():
                    res[k] = res.get(k, 0.0) + v * wt / total
        memo[f] = res
        return res

    out: dict[str, float] = {}
    for f, (_, _, tt, _, _) in table.items():
        if tt > 0:
            for k, v in owners(f, frozenset()).items():
                out[k] = out.get(k, 0.0) + tt * v
    return out


# ---------------------------------------------------------------------------
# the tracer
# ---------------------------------------------------------------------------


class Tracer:
    """Recorder hooks for the traced phase. Built before the timed phase:
    it collects the rows the layer replays run on, and replays the
    set-up's own layer calls."""

    def __init__(self, spark: SparkSession, workload):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cycle = workload.cycle
        self.spans: list[dict] = []
        self.ops: dict[int, dict] = {}
        self.sums: dict[str, float] = defaultdict(float)  # replay times and counters, op facts
        self.gauges: dict[str, list[float]] = defaultdict(list)
        self.setup: dict[str, float] = {}
        self.replay_s = 0.0  # wall time of the replays, outside the operations
        self.udf_python_s = 0.0
        self.self_s: dict[str, float] = {}
        self._profiles: list[cProfile.Profile] = []
        self.replays = replays(workload)
        for name, fn, call in self.replays.setup_calls:
            self.setup[f"{name}_s"] = self._span(name, fn, call, None, None)

    def _span(self, name: str, fn: str, call, parent: int | None, op_id: int | None) -> float:
        t0 = time.time()
        counters = call()
        t1 = time.time()
        self.spans.append(dict(id=len(self.spans), name=name, fn=fn, start=t0, end=t1, parent=parent, op_id=op_id))
        for k, v in counters.items():
            self.sums[k] += v
        return t1 - t0

    # -- hooks ------------------------------------------------------------

    def start(self) -> None:
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        self.spark.profile.clear(type="perf")

    def before(self, op, op_id: int) -> None:
        self.sc.setJobGroup(f"{GROUP_PREFIX}{op_id}", op.name)
        prof = cProfile.Profile()
        self._profiles.append(prof)
        prof.enable()

    def after(self, op, op_id: int, t0: float, t1: float, t2: float) -> None:
        self._profiles[-1].disable()
        root = len(self.spans)
        self.spans.append(dict(id=root, name=f"op.{op.name}", start=t0, end=t2, parent=None, op_id=op_id))
        self.spans.append(dict(id=root + 1, name="operators.build", start=t0, end=t1, parent=root, op_id=op_id))
        self.spans.append(dict(id=root + 2, name="operators.action", start=t1, end=t2, parent=root, op_id=op_id))
        self.ops[op_id] = dict(op=op.name, root=root, t0=t0, t1=t1, t2=t2)

    def replay(self, op, op_id: int) -> None:
        t = time.time()
        calls, gauges = self.replays.for_op(op)
        for name, fn, call in calls:
            self.sums[f"{name}_s"] += self._span(name, fn, call, self.ops[op_id]["root"], op_id)
        for k, v in op.facts.items():
            if isinstance(v, (int, float)):
                self.sums[k] += v
        for k, v in gauges.items():
            self.gauges[k].append(v)
        self.replay_s += time.time() - t

    def stop(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        perf = self.spark._profiler_collector._perf_profile_results
        self.udf_python_s = sum(st.total_tt for st in perf.values())
        for st in perf.values():
            for k, v in attribute(st).items():
                self.self_s[f"self.udf.{k}_s"] = self.self_s.get(f"self.udf.{k}_s", 0.0) + v
        if self._profiles:
            driver = pstats.Stats(*self._profiles)
            for k, v in attribute(driver).items():
                self.self_s[f"self.driver.{k}_s"] = v
        self._collect_spark()

    # -- Spark status via REST -------------------------------------------

    def _get(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.load(r)

    def _collect_spark(self) -> None:
        groups = {f"{GROUP_PREFIX}{i}": i for i in self.ops}
        # the status store is fed asynchronously: wait for our jobs to end
        deadline = time.time() + 30
        while True:
            jobs = [j for j in self._get("jobs") if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.2)
        stages = {s["stageId"]: s for s in self._get("stages?status=complete")}
        sql = self._get("sql?details=true&planDescription=false&offset=0&length=100000")
        job_op = {}
        for j in jobs:
            op_id = groups[j["jobGroup"]]
            job_op[j["jobId"]] = op_id
            rec = self.ops[op_id]
            rec.setdefault("jobs", []).append(j["jobId"])
            rec.setdefault("stages", set()).update(s for s in j["stageIds"] if s in stages)
        for ex in sql:
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
            owners = {job_op[i] for i in ids if i in job_op}
            if len(owners) != 1:
                continue
            rows = 0
            for node in ex.get("nodes", []):
                if node.get("nodeName", "").startswith(PYTHON_NODES):
                    for m in node.get("metrics", []):
                        if m["name"] == "number of output rows":
                            rows += int(str(m["value"]).replace(",", ""))
            rec = self.ops[owners.pop()]
            rec["udf_rows"] = rec.get("udf_rows", 0) + rows
        for op_id, rec in self.ops.items():
            st = [stages[s] for s in sorted(rec.get("stages", ()))]
            iv = []
            for s in st:
                if s.get("submissionTime") and s.get("completionTime"):
                    a, b = _ts(s["submissionTime"]), _ts(s["completionTime"])
                    iv.append((a, b))
                    self.spans.append(
                        dict(id=len(self.spans), name="spark.stage", start=a, end=b,
                             parent=rec["root"], op_id=op_id, stage_id=s["stageId"])
                    )
            t0, t1, t2 = rec["t0"], rec["t1"], rec["t2"]
            in_build = _union_within(iv, t0, t1)
            in_action = _union_within(iv, t1, t2)
            rec["m"] = {
                "spark.jobs": len(rec.get("jobs", [])),
                "spark.stages": len(st),
                "spark.tasks": sum(s["numCompleteTasks"] for s in st),
                "spark.executor_run_s": sum(s["executorRunTime"] for s in st) / 1e3,
                "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
                "spark.gc_s": sum(s["jvmGcTime"] for s in st) / 1e3,
                "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in st),
                "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in st),
                "spark.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st),
                "spark.input_bytes": sum(s["inputBytes"] for s in st),
                "spark.driver_s": (t2 - t0) - _union_within(iv, t0, t2),
                "operators.build_s": t1 - t0,
                "operators.action_s": t2 - t1,
                "self.build_s": (t1 - t0) - in_build,
                "self.driver_s": (t2 - t1) - in_action,
                "self.stages_s": _union_within(iv, t0, t2),
                "functions.udf_rows": rec.get("udf_rows", 0),
            }

    # -- results ----------------------------------------------------------

    def layer_metrics(self, samples) -> dict[str, float]:
        """Additive figures per traced cycle (the traced phase runs whole
        cycles); gauges as means over the operations that read them; the
        set-up replay's own figures; ratios from the per-cycle sums; and
        the clustered-table commit time, the median over appends of their
        time outside Spark stages (data-file listing and stats, manifest
        and snapshot writes)."""
        n = len(self.ops)
        cycles = n / self.cycle
        sums = defaultdict(float, self.sums)
        for r in self.ops.values():
            for k, v in r["m"].items():
                sums[k] += v
        rows = {s.op_id: s.rows_out for s in samples}
        sums["operators.rows_out"] += sum(rows.get(i, 0) for i in self.ops)
        sums["functions.udf_python_s"] += self.udf_python_s
        for k, v in self.self_s.items():
            sums[k] += v
        out = {k: v / cycles for k, v in sums.items()} if n else {}
        out.update({k: statistics.fmean(v) for k, v in self.gauges.items() if k in GAUGES})
        out.update(self.setup)
        for name, num, den in (
            ("plans.hit_ratio", "plans.hits", "plans.candidates"),
            ("io.clustered.files_kept_ratio", "io.clustered.files_kept", "io.clustered.files_total"),
        ):
            if sums.get(den):
                out[name] = sums[num] / sums[den]
        commits = [r["m"]["spark.driver_s"] for r in self.ops.values() if r["op"] == "append"]
        if commits:
            out["io.clustered.commit_s"] = statistics.median(commits)
        out["trace.ops"] = float(n)
        return out

    def per_op_table(self) -> dict[str, dict[str, float]]:
        """Median of each Spark/operator figure per operation name."""
        by: dict[str, list[dict]] = {}
        for r in self.ops.values():
            by.setdefault(r["op"], []).append(r["m"])
        return {
            op: {k: statistics.median(m[k] for m in ms) for k in ms[0]} | {"n": len(ms)}
            for op, ms in by.items()
        }

    def write(self, out_dir: str, stem: str) -> str:
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{stem}.spans.jsonl")
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
        return path
