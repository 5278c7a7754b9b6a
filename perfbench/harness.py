"""Session sizing, memory readings and the closed loop."""

from __future__ import annotations

import os
import subprocess
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb() -> int:
    """A quarter of host RAM, within [1 GiB, 8 GiB]: the local-mode driver
    JVM holds every executor, and the Python workers need the rest."""
    return max(1024, min(8192, host_mem_mb() // 4))


def build_session(work_dir: str) -> SparkSession:
    """local[<host cpus>] session with the same settings on every commit.
    The UI stays on (its REST API feeds the traced run) and binds to the
    loopback address; console progress bars are off."""
    cpus = host_cpus()
    tmp = os.environ["TMPDIR"]
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_mem_mb()}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.local.dir", os.path.join(tmp, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark: SparkSession, timeout_s: float = 60.0) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM to
    exit (closing its stdin pipe is PySpark's shutdown signal)."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and all its descendants: the driver, its JVM and the Python
    workers. CPU time stays steady when the host is contended, unlike
    wall time."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we scanned
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        # after the command name: state, ppid, ..., utime, stime, cutime, cstime
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / _CLK_TCK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine since boot: steal is
    time the hypervisor ran something else while this guest was ready."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def peak_rss_mb(spark: SparkSession) -> float:
    """Peak resident memory of this Python driver plus its JVM."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)


# ---------------------------------------------------------------------------
# operations and the closed loop
# ---------------------------------------------------------------------------


@dataclass
class Op:
    """One operation of a workload.

    ``build`` returns the DataFrame (or performs the commit) and ``action``
    consumes its full result; both are timed. ``verify`` checks the
    consumed value outside the timed region and returns error strings.
    ``rows`` is the number of input rows the operation processes;
    ``facts`` carries what the traced run reads off the operation itself
    (a probe's circle and the manifest pruning it got).
    """

    name: str
    rows: int
    build: Callable[[], object]
    action: Callable[[object], object]
    verify: Callable[[object], list[str]]
    facts: dict = field(default_factory=dict)


@dataclass
class Sample:
    op: str
    op_id: int
    start: float
    end: float
    rows: int
    ok: bool
    cpu_s: float
    errors: list[str] = field(default_factory=list)
    rows_out: int = 0


class Recorder:
    """Collects samples of the timed phase. ``hooks`` wraps each operation:
    the traced run sets a job group and profiles the driver between
    ``before`` and ``after``, and replays the operation's layer calls in
    ``replay``, outside the operation's time and CPU reading."""

    def __init__(self, hooks=None):
        self.samples: list[Sample] = []
        self.hooks = hooks

    def run_op(self, op: Op, op_id: int) -> Sample:
        c0 = tree_cpu_s()
        if self.hooks is not None:
            self.hooks.before(op, op_id)
        t0 = time.time()
        t1 = t0
        value = None
        errors: list[str] = []
        try:
            built = op.build()
            t1 = time.time()
            value = op.action(built)
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, the loop continues
            errors.append("raised: " + "".join(traceback.format_exception_only(e)).strip())
        t2 = time.time()
        if self.hooks is not None:
            self.hooks.after(op, op_id, t0, t1, t2)
        cpu = tree_cpu_s() - c0
        if self.hooks is not None and not errors:
            self.hooks.replay(op, op_id)
        if not errors:
            try:
                errors = op.verify(value)
            except Exception as e:  # noqa: BLE001 — a failed check is a wrong result
                errors.append("verify raised: " + "".join(traceback.format_exception_only(e)).strip())
        s = Sample(op.name, op_id, t0, t2, op.rows, not errors, cpu, errors, rows_out(value))
        self.samples.append(s)
        return s


def rows_out(value) -> int:
    """Rows an operation returned (0 for commits)."""
    return int(getattr(value, "num_rows", 0))


def closed_loop(
    next_op: Callable[[int], Op], cycle: int, seconds: float, rec: Recorder, first_id: int = 0
) -> float:
    """One client: each operation is issued after the previous completed.
    Runs whole cycles of ``cycle`` operations until ``seconds`` have
    passed, so every run measures the same operation mix. Returns the
    phase's wall time."""
    t0 = time.time()
    i = 0
    while i % cycle or time.time() - t0 < seconds:
        rec.run_op(next_op(i), first_id + i)
        i += 1
    return time.time() - t0


def pctl(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    v = sorted(values)
    k = max(1, -(-len(v) * q // 100))
    return v[int(k) - 1]
