"""Exact kNN: circle-cover candidate generation + exact-distance Window top-k.

SURVEY.md §2.9: for each query point, candidates come from the cells
around it; exact haversine ranks them with a row_number window
partitioned by query. Reference analog: the GetSubGeohashes ring
expansion (GeohashUtils.cs:219-228) run as a relational join, with the
ring generalised to a circle cover so every cell backend serves it.

One round loop (``knn_join``) answers every surface; only the candidate
source varies:

- **scan** — a points DataFrame, encoded once at the fine level of a
  ``cellindex`` backend (geohash, s2 or h3). Coarser cover levels join
  through ``parent_col``; h3 has no exact ancestors and re-encodes.
- **clustered** — a Hilbert-clustered table (``io/clustered.py``): its
  S2 ``cell_r`` column is the fine encode, and each round reads only the
  files and row groups its coalesced cover ranges touch (``read_pruned``).

Per query, the first radius comes from a counts pyramid over the fine
cells: the finest pyramid cell around the query that already holds a
few times k points sets a local density, and the radius targets ~4k
candidates at it. Each round covers every pending query's circle in one
batch per backend (``_circle_covers``), joins the covers to the points on
(level, cell), takes the top k per query, and accepts a query when it
has k candidates (the whole table, if smaller) and its k-th distance is
within its radius (sound: the cover is a superset of the ball). The rest
double their radius; after ``MAX_ROUNDS`` a brute-force pass finishes
any stragglers.

Each round is one Spark action: the top-k is checkpointed lazily and the
round ends with one bounded collect. Up to ``SMALL_PENDING`` pending
queries the loop keeps them on the driver — covers and the pending set
are local relations, acceptance collects only the accepted ids — and
above it everything stays distributed, so driver memory is flat in the
query count. Ties break on ``(dist_km, id)``.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from spatial4n_spark.cellindex import cell_backend
from spatial4n_spark.functions.native import haversine_km
from spatial4n_spark.kernels.distance import deg_to_km, km_to_deg

# fine (finest cover) level per backend when the caller gives none
DEFAULT_LEVEL = {"geohash": 6, "s2": 12, "h3": 7}
MAX_ROUNDS = 8
# counts-pyramid depth below the fine level
PYRAMID_LEVELS = 5
# a round's cover level keeps ~this many cells across the circle
TARGET_CELLS_ACROSS = 8.0
# cover rows (pending x TARGET_CELLS_ACROSS^2) up to which covers broadcast
BROADCAST_CELLS = 200_000
# pending queries up to which a round runs on driver-side local relations
SMALL_PENDING = 64
# coalesced id ranges per round for a clustered table's pruned read
MAX_SCAN_RANGES = 64

KM_PER_DEG = float(deg_to_km(1.0))
R_CAP_KM = float(deg_to_km(180.0))  # a 180-degree circle covers the globe
EARTH_KM2 = 4.0 * math.pi * (R_CAP_KM / math.pi) ** 2
PENDING_COLS = ["query_id", "_qlon", "_qlat", "_r", "_ntot", "_lv"]


def _ladder(be, level: int) -> list[int]:
    """Cover levels, finest first: ``level`` and each coarser level whose
    cells are at least 4x its predecessor's (every level for geohash,
    every other one for s2 and h3)."""
    out = [level]
    for lv in range(level - 1, 0, -1):
        if be.cell_size_deg(lv) >= 4.0 * be.cell_size_deg(out[-1]):
            out.append(lv)
    return out


def _ragged(lo, hi):
    """Inclusive integer ranges -> (owner index, value) pairs, flattened."""
    n = np.maximum(hi - lo + 1, 0)
    owner = np.repeat(np.arange(len(lo)), n)
    start = np.repeat(np.cumsum(n) - n, n)
    return owner, np.arange(int(n.sum()), dtype=np.int64) - start + np.repeat(lo, n)


def _circle_covers(be, qx, qy, r_deg, lv: int):
    """Level-``lv`` cells covering each geo circle — a superset of every
    cell the circle touches. Returns ``(qidx, cells)`` pairs, unique.

    s2 runs its vectorized BFS. geohash and h3 are lattices on the lon/lat
    plane, so their cover is every cell meeting the circle's bbox: one
    page per side of a dateline crossing, plus a page on the far seam
    when the bbox touches it (lon +-180 is one meridian)."""
    if be.name == "s2":
        from spatial4n_spark.plans.s2cover import s2_circle_covers_batch

        return s2_circle_covers_batch(qx, qy, r_deg, lv)
    from spatial4n_spark.kernels.circle import circle_bbox

    x0, x1, y0, y1 = circle_bbox(qx, qy, r_deg)
    x1 = np.where(x0 > x1, x1 + 360.0, x1)
    east, west = x1 >= 180.0, x0 <= -180.0
    qi = np.arange(len(x0))
    page = np.concatenate([qi, qi[east], qi[west]])
    px0 = np.concatenate([x0, np.full(east.sum(), -180.0), np.full(west.sum(), 180.0)])
    px1 = np.concatenate([np.minimum(x1, 180.0), x1[east] - 360.0, np.full(west.sum(), 180.0)])
    py0, py1 = y0[page], y1[page]
    if be.name == "geohash":
        from spatial4n_spark.kernels.geohash import geohash_cell_sizes, geohash_encode_str

        lat_h, lon_w = geohash_cell_sizes(lv)
        nrows, ncols = round(180.0 / lat_h), round(360.0 / lon_w)
        pr, i = _ragged(
            np.floor((py0 + 90.0) / lat_h).astype(np.int64),
            np.minimum(np.floor((py1 + 90.0) / lat_h), nrows - 1).astype(np.int64),
        )
        rc, j = _ragged(
            np.floor((px0[pr] + 180.0) / lon_w).astype(np.int64),
            np.minimum(np.floor((px1[pr] + 180.0) / lon_w), ncols - 1).astype(np.int64),
        )
        cells = geohash_encode_str(
            -90.0 + (i[rc] + 0.5) * lat_h, -180.0 + (j + 0.5) * lon_w, lv
        )
    else:
        from spatial4n_spark.kernels.h3cell import SQRT3, SQRT3_2, h3_from_qr, hex_size

        # same row/column bounds (with one of slack) as plans/h3cover.py
        s = hex_size(lv)
        hw = SQRT3_2 * s
        pr, r = _ragged(
            np.floor((py0 - s) / (1.5 * s)).astype(np.int64) - 1,
            np.ceil((py1 + s) / (1.5 * s)).astype(np.int64) + 1,
        )
        rc, q = _ragged(
            np.floor(((px0[pr] - hw) / s - SQRT3_2 * r) / SQRT3).astype(np.int64) - 1,
            np.ceil(((px1[pr] + hw) / s - SQRT3_2 * r) / SQRT3).astype(np.int64) + 1,
        )
        cells = h3_from_qr(q, r[rc], lv)
    out = pd.DataFrame({"q": page[pr[rc]], "c": cells}).drop_duplicates()
    return out["q"].to_numpy(), out["c"].to_numpy()


def _cover_frame(be, pdf: pd.DataFrame) -> pd.DataFrame:
    """Pending queries -> cover rows (_pcell + the pending columns), one
    batch cover per distinct cover level ``_lv``."""
    frames = []
    for lv in np.unique(pdf["_lv"].to_numpy()):
        sub = pdf[pdf["_lv"].to_numpy() == lv].reset_index(drop=True)
        # a 1e-9 relative margin keeps boundary-distance points inside
        r_deg = km_to_deg(sub["_r"].to_numpy(dtype=np.float64)) * (1.0 + 1e-9)
        qi, cells = _circle_covers(
            be, sub["_qlon"].to_numpy(dtype=np.float64),
            sub["_qlat"].to_numpy(dtype=np.float64), r_deg, int(lv),
        )
        f = sub.iloc[qi].reset_index(drop=True)
        f.insert(0, "_pcell", cells)
        frames.append(f)
    if not frames:
        return pdf.iloc[:0].assign(_pcell=[])[["_pcell"] + PENDING_COLS]
    return pd.concat(frames, ignore_index=True)[["_pcell"] + PENDING_COLS]


class _Scan:
    """Candidate source: a points DataFrame, encoded once at ``level``
    (h3 skips the fine encode: its cover levels re-encode)."""

    def __init__(self, points: DataFrame, index: str, level: int, id_col, lon, lat):
        self.be, self.level, self.cell = cell_backend(index), level, "_cellF"
        cols = [id_col, lon, lat]
        if self.be.has_hierarchy:
            cols.append(self.be.udf(level)(F.col(lat), F.col(lon)).alias("_cellF"))
        self.rows = points.select(*cols).persist()

    def round_rows(self, covers, cover_pdf):
        return self.rows, covers

    def close(self):
        self.rows.unpersist()


class _Clustered:
    """Candidate source: a clustered table. Its S2 ``cell_r`` is the fine
    encode; each round reads only the files and row groups its cover
    ranges touch."""

    def __init__(self, spark: SparkSession, path: str):
        from spatial4n_spark.io import clustered as C

        self.C, self.spark, self.path = C, spark, path
        self.be, self.cell = cell_backend("s2"), C.CELL_COL
        self.level = int(C.load_manifest(path)["level"])
        self.rows = C._read_listed(spark, path)

    def round_rows(self, covers, cover_pdf):
        level = self.level

        def cell_ranges(pdf: pd.DataFrame):
            from spatial4n_spark.io.clustered import _coalesce_ranges_np

            shift = 2 * (level - pdf["_lv"].to_numpy(dtype=np.int64))
            c = pdf["_pcell"].to_numpy(dtype=np.int64)
            return _coalesce_ranges_np(c << shift, ((c + 1) << shift) - 1, MAX_SCAN_RANGES)

        if cover_pdf is not None:
            ranges = cell_ranges(cover_pdf)
        else:
            # partial merges per partition; the driver merges <= MAX_SCAN_RANGES
            # rows per partition, never the distinct cell set
            def merge(it):
                frames = [p for p in it if len(p)]
                if frames:
                    yield pd.DataFrame(cell_ranges(pd.concat(frames)), columns=["lo", "hi"])

            covers = covers.localCheckpoint(eager=False)
            parts = covers.select("_lv", "_pcell").distinct().mapInPandas(merge, "lo long, hi long")
            ranges = self.C._coalesce_ranges(map(tuple, parts.collect()), MAX_SCAN_RANGES)
        return self.C.read_pruned(self.spark, self.path, ranges)[0], covers

    def close(self):
        pass


def _d(x) -> str:
    """A float as an exact SQL double literal."""
    return f"{float(x)!r}D"


def _cover_level_expr(be, ladder: list[int], r_km: str):
    """Finest ladder level whose cells keep ~TARGET_CELLS_ACROSS cells
    across a radius-``r_km`` circle (the coarsest level past that)."""
    want = f"{r_km} * {_d(2.0 / (KM_PER_DEG * TARGET_CELLS_ACROSS))}"
    cases = " ".join(f"WHEN {want} <= {_d(be.cell_size_deg(lv))} THEN {lv}" for lv in ladder[:-1])
    return F.expr(f"CASE {cases} ELSE {ladder[-1]} END")


def _first_radius(src, q: DataFrame, k: int, ladder: list[int], small: bool) -> DataFrame:
    """Pending queries with their first radius, from one counts pyramid.

    Pyramid level 0 is the whole globe (its count is the table size);
    levels below it are the fine cell's ancestors (none for h3). A query
    takes the finest level whose cell around it holds >= max(8, 2k)
    points, and a radius that holds ~max(32, 4k) at that cell's density.
    The expressions are SQL strings: one JVM call each, not one per node.
    A ``small`` query set is broadcast into the join with the counts and
    ranked in one partition, saving a shuffle."""
    be, level = src.be, src.level
    pyr = ladder[:PYRAMID_LEVELS] if be.has_hierarchy else []
    thr_sel, thr = max(8, 2 * k), max(32, 4 * k)

    def keys(cell: str):
        structs = [f"named_struct('_plv', 0, '_pc', CAST(0 AS {be.sql_type}))"] + [
            f"named_struct('_plv', {lv}, '_pc', {be.parent_sql(cell, level, lv)})" for lv in pyr
        ]
        return F.expr(f"inline(array({', '.join(structs)}))")

    cnt = src.rows.select(keys(src.cell)).groupBy("_plv", "_pc").agg(F.count(F.lit(1)).alias("_n"))
    if pyr and "_qcell" not in q.columns:
        q = q.withColumn("_qcell", be.udf(level)(F.col("_qlat"), F.col("_qlon")))
    qk = q.select("query_id", "_qlon", "_qlat", keys("_qcell"))
    areas = " ".join(
        f"WHEN _plv = {lv} THEN {_d(deg_to_km(be.cell_size_deg(lv)) ** 2)}" for lv in pyr
    )
    area = f"CASE {areas} ELSE {_d(EARTH_KM2)} END" if pyr else _d(EARTH_KM2)
    r = f"sqrt({_d(thr)} / greatest(_n, 1) * ({area}) / pi())"
    r = f"max_by({r}, CASE WHEN _n >= {thr_sel} OR _plv = 0 THEN _plv END)"
    r_min = float(deg_to_km(be.cell_size_deg(level)))
    # inner join: the level-0 key matches every query of a non-empty table
    per_query = cnt.join(F.broadcast(qk) if small else qk, ["_plv", "_pc"])
    if small:
        per_query = per_query.coalesce(1)
    return per_query.groupBy("query_id", "_qlon", "_qlat").agg(
        F.expr(f"least(greatest({r}, {_d(r_min)}), {_d(R_CAP_KM)})").alias("_r"),
        F.expr("CAST(max(CASE WHEN _plv = 0 THEN _n END) AS BIGINT)").alias("_ntot"),
    ).withColumn("_lv", _cover_level_expr(be, ladder, "_r"))


def knn_join(
    points: DataFrame | str,
    queries: DataFrame | list[tuple],
    k: int,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "image_id",
    query_id: str = "query_id",
    qlon: str = "qlon",
    qlat: str = "qlat",
    index: str = "geohash",
    level: int | None = None,
) -> DataFrame:
    """Exact kNN join. Returns (query_id, <id_col>, dist_km, rank); ties
    break on <id_col>.

    ``points``: a points DataFrame (scan source, encoded with ``index``
    at ``level``, default ``DEFAULT_LEVEL[index]``), or the path of a
    clustered table (its own S2 level; ``index``/``level`` unused).
    ``queries``: a DataFrame with (``query_id``, ``qlon``, ``qlat``), or
    a list of (query_id, lon, lat) tuples, which becomes one."""
    if isinstance(points, str):
        spark = queries.sparkSession if isinstance(queries, DataFrame) else SparkSession.active()
        src = _Clustered(spark, points)
    else:
        spark = points.sparkSession
        src = _Scan(points, index, level or DEFAULT_LEVEL[index], id_col, lon, lat)
    be, ladder = src.be, _ladder(src.be, src.level)
    n_known = None
    if isinstance(queries, DataFrame):
        qid_type = queries.schema[query_id].dataType.simpleString()
        q0 = queries.select(
            F.col(query_id).alias("query_id"),
            F.col(qlon).cast("double").alias("_qlon"),
            F.col(qlat).cast("double").alias("_qlat"),
        )
    else:
        # a list becomes a local relation, its fine cells encoded here
        n_known, qid_type = len(queries), "string"
        qpd = pd.DataFrame(
            [(str(q), float(a), float(b)) for q, a, b in queries],
            columns=["query_id", "_qlon", "_qlat"],
        )
        qpd["_qcell"] = be.kernel(qpd["_qlat"].to_numpy(), qpd["_qlon"].to_numpy(), src.level)
        q0 = spark.createDataFrame(
            qpd, f"query_id string, _qlon double, _qlat double, _qcell {be.sql_type}"
        )
    pending_schema = (
        f"query_id {qid_type}, _qlon double, _qlat double, _r double, _ntot long, _lv int"
    )
    cover_schema = f"_pcell {be.sql_type}, {pending_schema}"
    out_cols = ["query_id", id_col, "dist_km", "rank"]
    w = Window.partitionBy("query_id").orderBy(F.col("dist_km").asc(), F.col(id_col).asc())

    def top_k(cand: DataFrame) -> DataFrame:
        return (
            cand.withColumn("dist_km", haversine_km(F.col(lon), F.col(lat), "_qlon", "_qlat"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        )

    def observe(pending: DataFrame, small: bool):
        """The round's one bounded collect: the pending rows themselves
        when few, else per-level counts over the lazily checkpointed set.
        Returns (pending, count, driver rows or None, levels, table size)."""
        if not small:
            pending = pending.localCheckpoint(eager=False)
            st = pending.groupBy("_lv").agg(F.count(F.lit(1)), F.max("_ntot")).collect()
            n = sum(r[1] for r in st)
            if n > SMALL_PENDING or not n:
                n_tot = max((r[2] for r in st), default=0)
                return pending, n, None, sorted(r[0] for r in st), n_tot
        pdf = pd.DataFrame.from_records(pending.collect(), columns=PENDING_COLS)
        n_tot = int(pdf["_ntot"].max()) if len(pdf) else 0
        return pending, len(pdf), pdf, sorted(set(pdf["_lv"].tolist())), n_tot

    def cover_gen(it):
        for p in it:
            if len(p):
                yield _cover_frame(be, p)

    def key(lv: int):
        """A point's level-``lv`` cell, for the join with the covers."""
        if be.has_hierarchy:
            return be.parent_col(src.cell, src.level, lv)
        return be.udf(lv)(F.col(lat), F.col(lon))

    try:
        small = n_known is not None and n_known <= SMALL_PENDING
        pending = _first_radius(src, q0, k, ladder, small).select(*PENDING_COLS)
        pending, n_pending, pdf, levels, n_total = observe(pending, small)
        k_eff = min(k, n_total)  # a table smaller than k accepts all of it
        accepted: list[DataFrame] = []
        for _ in range(MAX_ROUNDS if n_total else 0):
            if not n_pending:
                break
            if pdf is not None:
                cover_pdf = _cover_frame(be, pdf)
                covers = spark.createDataFrame(cover_pdf, cover_schema)
            else:
                cover_pdf, covers = None, pending.mapInPandas(cover_gen, cover_schema)
            rows, covers = src.round_rows(covers, cover_pdf)
            if n_pending * TARGET_CELLS_ACROSS**2 <= BROADCAST_CELLS:
                covers = F.broadcast(covers)
            else:
                covers = covers.hint("merge")
            pairs = F.inline(F.array(*[
                F.struct(F.lit(lv).alias("_lv"), key(lv).alias("_pcell")) for lv in levels
            ]))
            cand = rows.select(id_col, lon, lat, pairs)
            ranked = (
                top_k(cand.join(covers, ["_lv", "_pcell"]))
                .select(*out_cols, "_r")
                .localCheckpoint(eager=False)
            )
            ok = (
                ranked.groupBy("query_id")
                .agg(
                    F.count(F.lit(1)).alias("_n"),
                    F.max("dist_km").alias("_d"),
                    F.first("_r").alias("_r"),
                )
                .where((F.col("_n") >= k_eff) & (F.col("_d") <= F.col("_r")))
                .select("query_id")
            )
            if pdf is not None:
                # an empty pandas frame is no local relation: skip building one
                ok_ids = [r[0] for r in ok.collect()]
                if ok_ids:
                    ok = spark.createDataFrame(
                        pd.DataFrame({"query_id": ok_ids}), f"query_id {qid_type}"
                    )
                    accepted.append(ranked.join(F.broadcast(ok), "query_id").select(*out_cols))
                pdf = pdf[~pdf["query_id"].isin(ok_ids)]
                if pdf.empty:
                    n_pending = 0
                    break
                pending = spark.createDataFrame(pdf, pending_schema)
            else:
                accepted.append(ranked.join(F.broadcast(ok), "query_id").select(*out_cols))
                pending = pending.join(F.broadcast(ok), "query_id", "left_anti")
            pending = pending.withColumn("_r", F.expr(f"least(_r * 2.0D, {_d(R_CAP_KM)})"))
            pending = pending.withColumn("_lv", _cover_level_expr(be, ladder, "_r"))
            pending, n_pending, pdf, levels, _ = observe(pending, pdf is not None)

        if n_pending:
            # stragglers: exact brute force, broadcasting the smaller side
            p = src.rows.select(id_col, lon, lat)
            if pdf is not None:
                pending = spark.createDataFrame(pdf, pending_schema)
            if n_total <= n_pending:
                fb = pending.crossJoin(F.broadcast(p))
            else:
                fb = p.crossJoin(F.broadcast(pending))
            accepted.append(top_k(fb).select(*out_cols).localCheckpoint(eager=True))
    finally:
        src.close()  # the scan source's persisted encode
    if not accepted:
        id_type = src.rows.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], f"query_id {qid_type}, {id_col} {id_type}, dist_km double, rank int"
        )
    out = accepted[0]
    for df in accepted[1:]:
        out = out.unionAll(df)
    return out
