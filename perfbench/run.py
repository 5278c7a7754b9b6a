"""Seeded closed-loop benchmark of spatial4n_spark.

    python3 perfbench/run.py --workload vector_join --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed`` into a fresh per-run directory under ``.perfbench/`` (also the
run's TMPDIR, so no build-once cache survives between runs), every result
is checked against an independent oracle, and the last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones (see ``perfbench/spec.py``). The line before
it carries every workload-specific metric by name and unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind through the finally blocks: stop the JVM, drop the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "spatial4n_spark", "__init__.py")):
        print(f"spatial4n_spark not found under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=base)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # before any Spark/JVM start: per-run temp root, pure JPEG codec
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPATIAL4N_JPEG_CODEC"] = "pure"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    # import the package from the root, not this directory's modules by bare name
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

    from perfbench.runner import run_workload

    try:
        detail, result = run_workload(args, work, traces_dir=os.path.join(base, "traces"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
