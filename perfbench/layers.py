"""Spark-free layer replays for the traced run.

After each traced operation the benchmark calls the package layers'
public functions that the operation's plan runs (its cell kernels,
covers, planner, refine, decoders, manifest reads), on the workload's
own rows and with no Spark in the way. Each call becomes one span whose
parent is the operation's span. The rows are collected once, when
tracing starts. An operation without a replay (a commit, a delete, a
compaction) has no layer spans; its driver-side split comes from the
profile instead (see ``tracing.attribute``).
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np

from perfbench import inputs as I

# (span name, the package function it calls, the call; the call returns
# counters to add to the per-layer figures)
Call = tuple[str, str, Callable[[], dict]]

# figures read at a point in time: averaged over the operations that
# report them, not summed per cycle
GAUGES = ("io.clustered.manifest_bytes", "io.clustered.snapshots")

# geohash level of the suite's point-in-polygon join
JOIN_LEVEL = 3


def _counted(fn: Callable[[], object], counters: dict) -> Callable[[], dict]:
    def call():
        fn()
        return counters

    return call


def _cells(lat: np.ndarray, lon: np.ndarray, geohash: int, s2: int, h3: int) -> list[Call]:
    """The three cell backends' encode kernels at the given levels."""
    from spatial4n_spark.kernels.geohash import geohash_encode_str
    from spatial4n_spark.kernels.h3cell import h3_encode
    from spatial4n_spark.kernels.s2cell import s2_encode

    n = float(len(lat))
    return [
        ("kernels.geohash", "geohash_encode_str",
         _counted(lambda: geohash_encode_str(lat, lon, geohash), {"kernels.geohash_rows": n})),
        ("kernels.s2", "s2_encode", _counted(lambda: s2_encode(lat, lon, s2), {"kernels.s2_rows": n})),
        ("kernels.h3", "h3_encode", _counted(lambda: h3_encode(lat, lon, h3), {"kernels.h3_rows": n})),
    ]


def _in_rect(bb, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    iny = (y >= bb.min_y) & (y <= bb.max_y)
    if bb.min_x <= bb.max_x:
        return iny & (x >= bb.min_x) & (x <= bb.max_x)
    return iny & ((x >= bb.min_x) | (x <= bb.max_x))  # crosses the dateline


class VectorJoinReplays:
    """pip_join: the layer's geohash cover (cold: the driver caches
    covers, so the operation itself skips it), the planner, the point
    encode and the exact refine of boundary-cell candidates that pass the
    bbox prefilter. cell_assign and tile_stats: the three encode kernels
    at the suite's levels, on orders and lineitem points."""

    def __init__(self, w):
        from spatial4n_spark import suite
        from spatial4n_spark.kernels.geohash import geohash_encode_str
        from spatial4n_spark.kernels.polygon import points_covered, shape_bbox
        from spatial4n_spark.plans import cover
        from spatial4n_spark.plans.pip_planner import plan_pip_join

        lat, lon = I.lattice_lat(w.keys), I.lattice_lon(w.keys)
        li_lat, li_lon = I.lattice_lat(w.lineitem_ukey), I.lattice_lon(w.lineitem_ukey)
        layer = suite.layer()
        pts = suite.pts_orders(w.spark, w.dir)

        cells = geohash_encode_str(lat, lon, JOIN_LEVEL)
        cand = surv = full_hits = 0
        refine = []
        for _, shape in layer:
            full, boundary = cover.cover_cells(shape, JOIN_LEVEL)
            in_full, in_bnd = np.isin(cells, full), np.isin(cells, boundary)
            box = _in_rect(shape_bbox(shape), lon, lat)
            cand += int(in_full.sum() + in_bnd.sum())
            surv += int((box & (in_full | in_bnd)).sum())
            full_hits += int(in_full.sum())
            sel = in_bnd & box
            refine.append((lon[sel], lat[sel], shape))

        def covers():
            cover._COVER_CACHE.clear()
            got = [cover.cover_cells(shape, JOIN_LEVEL) for _, shape in layer]
            return {"plans.cover_cells": float(sum(len(f) + len(b) for f, b in got))}

        def pip():
            covered = sum(int(points_covered(x, y, s).sum()) for x, y, s in refine)
            return {
                "kernels.pip_rows": float(sum(len(x) for x, _, _ in refine)),
                "plans.candidates": float(cand),
                "plans.bbox_survivors": float(surv),
                "plans.hits": float(full_hits + covered),
            }

        n = float(len(lat))
        self.calls: dict[str, list[Call]] = {
            "pip_join": [
                ("plans.cover", "cover_cells", covers),
                ("plans.planner", "plan_pip_join", _counted(lambda: plan_pip_join(pts, layer), {})),
                ("kernels.geohash", "geohash_encode_str",
                 _counted(lambda: geohash_encode_str(lat, lon, JOIN_LEVEL), {"kernels.geohash_rows": n})),
                ("kernels.pip", "points_covered", pip),
            ],
            "cell_assign": _cells(lat, lon, 4, 12, 7),
            "tile_stats": _cells(li_lat, li_lon, 3, 6, 5),
        }
        self.setup_calls: list[Call] = []

    def for_op(self, op) -> tuple[list[Call], dict]:
        return self.calls.get(op.name, []), {}


class StoredTablesReplays:
    """image_tiles: decode of every stored image, the JPEG decoder on the
    jpg ones with its IDCT and colour kernels on as many values, and the
    three encode kernels at the tiling levels. image_decode_check: the
    decode and the level-4 geohash encode. radius: a cold manifest read
    and the probe circle's cell ranges, with the manifest size and
    snapshot count at that point. Set-up: the seeded image generator."""

    def __init__(self, w):
        import pyarrow.parquet as pq

        from spatial4n_spark.io import jpeg
        from spatial4n_spark.sources.images import _gen_batch, decode_image_batch

        self.path = w.clustered.path
        tbl = pq.read_table(w.images.path)
        bufs = tbl.column("bytes").to_pylist()
        ws, hs = tbl.column("w").to_numpy(), tbl.column("h").to_numpy()
        fmts = tbl.column("fmt").to_pylist()
        jpg = [b for b, f in zip(bufs, fmts) if f == "jpg"]
        ids = np.array([int(s[3:]) for s in tbl.column("image_id").to_pylist()], dtype=np.int64)
        lat, lon = tbl.column("lat").to_numpy(), tbl.column("lon").to_numpy()

        # the decoded pixels' own colour planes and DCT blocks, so the colour
        # and IDCT kernels run on as many values as the decode does
        imgs = jpeg.jpeg_decode_batch(jpg)
        planes = [np.concatenate(p) for p in zip(*(
            (y.ravel(), cb.ravel(), cr.ravel())
            for y, cb, cr in (jpeg.rgb_to_ycbcr(*(im[..., c].astype(np.float64) for c in range(3))) for im in imgs)
        ))]
        coeffs = jpeg.fdct_blocks(np.concatenate([
            jpeg._to_blocks(im[..., c].astype(np.float64) - 128.0) for im in imgs for c in range(3)
        ]))

        decode = ("sources.decode", "decode_image_batch",
                  _counted(lambda: decode_image_batch(bufs, ws, hs, fmts), {}))
        self.calls: dict[str, list[Call]] = {
            "image_tiles": [
                decode,
                ("io.jpeg.decode", "jpeg_decode_batch",
                 _counted(lambda: jpeg.jpeg_decode_batch(jpg), {"io.jpeg.bytes_in": float(sum(map(len, jpg)))})),
                ("io.jpeg.idct", "idct_blocks", _counted(lambda: jpeg.idct_blocks(coeffs), {})),
                ("io.jpeg.color", "ycbcr_to_rgb_u8", _counted(lambda: jpeg.ycbcr_to_rgb_u8(*planes), {})),
                *_cells(lat, lon, 4, 8, 7),
            ],
            "image_decode_check": [decode, _cells(lat, lon, 4, 8, 7)[0]],
        }
        self.setup_calls = [("sources.generate", "_gen_batch", _counted(lambda: _gen_batch(ids, True), {}))]

    def for_op(self, op) -> tuple[list[Call], dict]:
        if op.name != "radius":
            return self.calls.get(op.name, []), {}
        from spatial4n_spark.io import clustered
        from spatial4n_spark.kernels.distance import km_to_deg
        from spatial4n_spark.kernels.polygon import Circle

        qlon, qlat, r_km = op.facts["probe"]
        circle = Circle(qlon, qlat, float(km_to_deg(r_km)), geo=True)
        level = clustered.load_manifest(self.path)["level"]

        def read_manifest():
            clustered._MANIFEST_CACHE.clear()  # time the parse, not the in-process cache
            clustered.load_manifest(self.path)
            return {}

        calls = [
            ("io.clustered.manifest_read", "load_manifest", read_manifest),
            ("io.clustered.cover_ranges", "cover_ranges",
             _counted(lambda: clustered.cover_ranges(circle, level), {})),
        ]
        gauges = {
            "io.clustered.manifest_bytes": float(os.path.getsize(os.path.join(self.path, clustered.MANIFEST))),
            "io.clustered.snapshots": float(len(clustered.snapshots(self.path))),
        }
        return calls, gauges


def replays(w):
    return {"vector_join": VectorJoinReplays, "stored_tables": StoredTablesReplays}[w.name](w)
