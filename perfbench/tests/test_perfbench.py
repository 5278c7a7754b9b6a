"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The Spark tests run both workloads at a small scale in one local session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs as I  # noqa: E402
from perfbench import spec  # noqa: E402


def test_same_seed_same_inputs():
    for seed in (1, 2):
        keys = I.order_keys(seed, 500)
        assert np.array_equal(keys, I.order_keys(seed, 500))
        assert I.lineitem_table(seed, keys, 1000).equals(I.lineitem_table(seed, keys, 1000))
        assert I.probe_centers(seed, 8) == I.probe_centers(seed, 8)
        assert I.image_chunk(seed, 64) == I.image_chunk(seed, 64)


def test_different_seed_different_inputs():
    a, b = I.order_keys(1, 500), I.order_keys(2, 500)
    assert not np.array_equal(a, b)
    assert len(np.unique(a)) == 500
    assert I.probe_centers(1, 8) != I.probe_centers(2, 8)
    # the seed picks keys; coordinates stay on the dyadic lattice
    step = 45.0 / 512.0
    for v in (I.lattice_lon(a) + 180.0, I.lattice_lat(a) + 90.0):
        assert np.array_equal(v / step, np.round(v / step))


def test_names_match_benchmark_json():
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert {w["name"]: w["why"] for w in doc["workloads"]} == spec.WORKLOADS
    assert sorted(WORKLOADS) == sorted(spec.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in doc["end_to_end"]] == [
        (n, u, b) for n, (u, b, _) in spec.END_TO_END.items()
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]] == [
        (n, u, b) for n, (u, b) in spec.PER_LAYER.items()
    ]
    for w in WORKLOADS.values():
        assert set(w.metrics.values()) <= set(spec.ALL_END_TO_END)
    for layer in spec.LAYER_MAP.values():
        assert set(layer["metrics"]) <= set(spec.PER_LAYER)
        assert set(layer["moves"]) <= set(spec.ALL_END_TO_END)
        assert set(layer["on"] + layer["no_change_on"]) <= set(spec.WORKLOADS)


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__", "tests"),
    )
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "vector_join", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_attribute_splits_profile_by_layer():
    """Library time goes to the calling layer; the split covers the whole
    profile."""
    import cProfile
    import pstats

    from spatial4n_spark.kernels.geohash import geohash_encode_str
    from perfbench.tracing import attribute, layer_of

    keys = I.order_keys(3, 20_000)
    lat, lon = I.lattice_lat(keys), I.lattice_lon(keys)
    prof = cProfile.Profile()
    prof.enable()
    for _ in range(3):
        geohash_encode_str(lat, lon, 5)
    prof.disable()
    st = pstats.Stats(prof)
    split = attribute(st)
    assert split["kernels"] > 0.5 * st.total_tt
    assert abs(sum(split.values()) - st.total_tt) < 1e-6 * max(st.total_tt, 1.0)
    assert layer_of(os.path.join(ROOT, "spatial4n_spark", "io", "jpeg.py")) == "io.jpeg"
    assert layer_of(os.path.join(ROOT, "spatial4n_spark", "suite.py")) == "package_other"
    assert layer_of("clustered.py") == "io.clustered"  # worker profiles keep basenames
    assert layer_of("context.py") is None  # also a PySpark module name


# ---------------------------------------------------------------------------
# with Spark
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    saved = {k: os.environ.get(k) for k in ("TMPDIR", "SPATIAL4N_JPEG_CODEC", "PYTHONPATH")}
    tmp = str(tmp_path_factory.mktemp("perfbench"))
    os.environ["TMPDIR"] = tmp
    os.environ["SPATIAL4N_JPEG_CODEC"] = "pure"
    os.environ["PYTHONPATH"] = ROOT
    tempfile.tempdir = None
    from perfbench.harness import build_session, stop_session

    session = build_session(tmp)
    yield session
    stop_session(session)
    for k, v in saved.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v
    tempfile.tempdir = None


def _warmed(cls, spark, seed, path, scale):
    os.makedirs(path)
    w = cls(spark, seed, scale)
    w.build_inputs(str(path))
    return w, w.warm_up()


@pytest.fixture(scope="module")
def vector(spark, tmp_path_factory):
    from perfbench.workloads import VectorJoin

    d = tmp_path_factory.mktemp("vector")
    return {
        name: _warmed(VectorJoin, spark, seed, d / name, 0.02)
        for name, seed in (("a", 5), ("b", 5), ("c", 6))
    }


def test_same_seed_same_fingerprints(vector):
    (a, ea), (b, eb) = vector["a"], vector["b"]
    assert not any(ea.values()) and not any(eb.values())
    assert a.ref == b.ref
    assert set(a.ref) == set(a.ORDER)


def test_other_seed_changes_results_and_oracle_passes(vector):
    (a, _), (c, ec) = vector["a"], vector["c"]
    assert not any(ec.values()), ec
    assert all(a.ref[n] != c.ref[n] for n in a.ORDER)


def test_injected_wrong_row_counts_as_error(vector):
    from perfbench.harness import Op, Recorder
    from perfbench.runner import tally

    w, _ = vector["a"]
    good = w.next_op(0)

    def one_row_too_many(df):
        tbl = good.action(df)
        return pa.concat_tables([tbl, tbl.slice(0, 1)])

    rec = Recorder()
    rec.run_op(Op(good.name, good.rows, good.build, one_row_too_many, good.verify), 0)
    rec.run_op(w.next_op(0), 1)
    assert [s.ok for s in rec.samples] == [False, True]
    assert tally(rec.samples, {"warm-up": []}) == (3, 1)


def test_raised_operation_counts_and_loop_goes_on(vector):
    from perfbench.harness import Op, Recorder

    w, _ = vector["a"]

    def boom():
        raise RuntimeError("injected")

    rec = Recorder()
    rec.run_op(Op("pip_join", 1, boom, lambda v: v, lambda v: []), 0)
    rec.run_op(w.next_op(0), 1)
    assert [s.ok for s in rec.samples] == [False, True]
    assert "injected" in rec.samples[0].errors[0]


def test_stored_tables_cycle_is_correct(spark, tmp_path_factory):
    from perfbench.harness import Recorder
    from perfbench.workloads import StoredTables

    w, errors = _warmed(StoredTables, spark, 7, tmp_path_factory.mktemp("stored") / "x", 0.05)
    assert not any(errors.values()), errors
    rec = Recorder()
    for i in range(w.cycle):
        rec.run_op(w.next_op(i), i)
    assert all(s.ok for s in rec.samples), [s.errors for s in rec.samples]
    assert not any(w.finish().values())
    assert w.extra_metrics()["table_bytes_per_row"][0] > 0
