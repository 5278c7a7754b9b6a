"""The optional native-JPEG-codec hook (sources/images.py::jpeg_codec).

No native binding exists in this sandbox (PIL/cv2/turbojpeg are not
installed), so the hook must resolve to the pure io.jpeg decoder under
'auto'; the native plumbing is exercised by injecting fake candidates —
a correct one (wraps the pure decoder, must be selected and produce
bit-identical batches) and a broken one (fails the PSNR self-check,
must be skipped in auto mode and refused when forced).
"""

from __future__ import annotations

import numpy as np
import pytest

from spatial4n_spark.io.jpeg import jpeg_decode_batch, jpeg_encode
from spatial4n_spark.sources import images as I


@pytest.fixture(autouse=True)
def _fresh_codec_cache(monkeypatch):
    monkeypatch.setattr(I, "_jpeg_codec_cache", None)
    monkeypatch.delenv("SPATIAL4N_JPEG_CODEC", raising=False)
    yield
    I._jpeg_codec_cache = None


def _test_jpegs(n=4):
    bufs = []
    for i in range(n):
        pix = I._mix64(
            np.arange(24 * 24 * 3, dtype=np.uint64) + np.uint64(i * 0x1F123)
        )
        rgb = (pix & np.uint64(0xFF)).astype(np.uint8).reshape(24, 24, 3)
        bufs.append(jpeg_encode(rgb))
    return bufs


def test_auto_resolves_to_pure_in_this_sandbox():
    name, fn = I.jpeg_codec()
    assert name == "pure"
    assert fn is jpeg_decode_batch


def test_env_pure_short_circuits(monkeypatch):
    monkeypatch.setenv("SPATIAL4N_JPEG_CODEC", "pure")
    # even with a (fake) native codec importable, 'pure' wins — this is
    # the bit-exact mode correctness gates pin against the DuckDB oracle
    monkeypatch.setattr(
        I, "_native_jpeg_candidates",
        lambda: iter([("fakelib", jpeg_decode_batch)]),
    )
    assert I.jpeg_codec()[0] == "pure"


def test_forcing_unavailable_codec_raises(monkeypatch):
    monkeypatch.setenv("SPATIAL4N_JPEG_CODEC", "turbojpeg")
    with pytest.raises(ValueError, match="not available"):
        I.jpeg_codec()


def test_verified_native_codec_is_selected_and_bit_equal(monkeypatch):
    calls = []

    def fake_native(bufs):
        calls.append(len(bufs))
        return jpeg_decode_batch(bufs)

    monkeypatch.setattr(
        I, "_native_jpeg_candidates", lambda: iter([("fakelib", fake_native)])
    )
    name, fn = I.jpeg_codec()
    assert name == "fakelib"
    assert calls == [1]  # the PSNR self-check ran exactly once

    # the full decode chokepoint routes jpg through the native fn and
    # produces a batch bit-identical to the pure path
    bufs = _test_jpegs()
    w = np.full(len(bufs), 24)
    fmts = ["jpg"] * len(bufs)
    got = I.decode_image_batch(bufs, w, w, fmts)
    want = jpeg_decode_batch(bufs)
    for g, x in zip(got, want):
        np.testing.assert_array_equal(g, x)
    assert calls == [1, len(bufs)]


def test_broken_native_codec_fails_self_check(monkeypatch, capsys):
    def broken(bufs):
        return [np.zeros((16, 16, 3), np.uint8) for _ in bufs]

    monkeypatch.setattr(
        I, "_native_jpeg_candidates", lambda: iter([("fakelib", broken)])
    )
    # auto: skipped with a warning, falls back to pure
    assert I.jpeg_codec()[0] == "pure"
    assert "failed self-check" in capsys.readouterr().err

    # forced: refused outright — a wrong decoder must never run silently
    I._jpeg_codec_cache = None
    monkeypatch.setenv("SPATIAL4N_JPEG_CODEC", "fakelib")
    with pytest.raises(ValueError, match="self-check"):
        I.jpeg_codec()


def test_self_check_psnr_scores_pure_as_perfect():
    assert I._jpeg_self_check_psnr(jpeg_decode_batch) == float("inf")


def test_cv2_candidate_rejects_undecodable_buffer(monkeypatch):
    """cv2.imdecode returns None on a buffer it cannot decode; the cv2
    candidate must turn that into a ValueError, not hand None on."""
    import sys
    import types

    fake = types.ModuleType("cv2")
    fake.IMREAD_COLOR, fake.COLOR_BGR2RGB = 1, 4
    fake.imdecode = lambda buf, flag: None
    fake.cvtColor = lambda img, code: img[..., ::-1]
    monkeypatch.setitem(sys.modules, "cv2", fake)
    found = dict(I._native_jpeg_candidates())
    with pytest.raises(ValueError, match="imdecode"):
        found["cv2"](_test_jpegs(1))


def test_broken_codec_imports_are_not_fatal(monkeypatch):
    """A binding whose import fails with something other than
    ImportError (a missing shared library) is skipped, as turbojpeg's
    already was."""
    import importlib.abc
    import sys

    class Broken(importlib.abc.MetaPathFinder):
        def find_spec(self, name, path, target=None):
            if name.split(".")[0] in ("PIL", "cv2"):
                raise OSError("libGL.so.1: cannot open shared object file")
            return None

    for mod in ("PIL", "cv2"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    monkeypatch.setattr(sys, "meta_path", [Broken()] + sys.meta_path)
    names = [name for name, _ in I._native_jpeg_candidates()]
    assert "pil" not in names and "cv2" not in names
