"""The benchmark's workloads: seeded inputs, operations, oracles.

Every workload builds its inputs from the seed into a fresh directory,
runs each operation once during set-up and compares that first result in
full with an independent oracle, then keeps the result's digest as the
reference every timed repetition must reproduce.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from perfbench import inputs as I
from perfbench.harness import Op, host_cpus

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.join(ROOT, "tools") not in sys.path:
    sys.path.append(os.path.join(ROOT, "tools"))

from check_oracle import compare  # noqa: E402  (tools/ is not a package)

import __spark_entry__ as E  # noqa: E402
from spatial4n_spark import oracles as O  # noqa: E402
from spatial4n_spark import suite  # noqa: E402

_MASK32 = np.uint64(0xFFFFFFFF)


def digest(tbl: pa.Table) -> tuple:
    """(columns, row count, sum of low 32 hash bits, sum of high 32 hash
    bits) of a consumed result: order-independent, and each half-sum
    stays below 2^32 * rows, so no 64-bit sum can overflow."""
    df = tbl.to_pandas()
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    lo = int((h & _MASK32).sum(dtype=np.uint64))
    hi = int((h >> np.uint64(32)).sum(dtype=np.uint64))
    return tuple(tbl.column_names), tbl.num_rows, lo, hi


def duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(os.environ['TMPDIR'], 'duckdb')}'")
    con.execute(f"SET threads={host_cpus()}")
    con.execute("SET preserve_insertion_order=false")
    return con


class Seeded:
    """Seeded inputs and the reference digest of each operation's first,
    oracle-checked result."""

    def __init__(self, spark: SparkSession, seed: int, scale: float = 1.0):
        self.spark = spark
        self.seed = int(seed)
        self.scale = scale
        self.ref: dict[str, tuple] = {}
        self.warm_s = 0.0  # Spark time of the set-up executions, oracles excluded

    def n(self, base: int) -> int:
        return max(1, int(base * self.scale))

    # -- helpers for deterministic DataFrame operations -------------------

    def _frame_op(self, name: str, rows: int, make) -> Op:
        def verify(tbl):
            got = digest(tbl)
            return [] if got == self.ref[name] else [f"digest {got[1:]} != reference {self.ref[name][1:]}"]

        return Op(name, rows, make, lambda df: df.toArrow(), verify)

    def _warm_frame(self, name: str, make, oracle_sql: str, con) -> list[str]:
        t0 = time.perf_counter()
        tbl = make().toArrow()
        self.warm_s += time.perf_counter() - t0
        self.ref[name] = digest(tbl)
        return compare(name, tbl.to_pandas(), con.execute(oracle_sql).df())


class Workload(Seeded):
    """Base: subclasses set ``name``, ``metrics`` (operation name ->
    end-to-end metric) and implement the hooks below."""

    name = ""
    metrics: dict[str, str] = {}
    cycle = 1  # operations in one round of the closed loop
    warm_cycles = 0  # untimed rounds after the first, oracle-checked executions

    def build_inputs(self, out_dir: str) -> None:
        """Generate the seeded inputs and build stored tables in out_dir."""
        raise NotImplementedError

    def warm_up(self) -> dict[str, list[str]]:
        """Run each operation once, check it against its oracle, and keep
        its reference digest. Returns {operation: oracle errors}."""
        raise NotImplementedError

    def next_op(self, i: int) -> Op:
        raise NotImplementedError

    def finish(self) -> dict[str, list[str]]:
        """End-of-run checks outside the timed phase."""
        return {}

    def extra_metrics(self) -> dict[str, tuple[float, str]]:
        return {}


# ---------------------------------------------------------------------------
# vector_join
# ---------------------------------------------------------------------------


class VectorJoin(Workload):
    """Seeded orders/lineitem point tables through the suite's headline
    vector operators; oracles are the suite's DuckDB twins."""

    name = "vector_join"
    metrics = {
        "pip_join": "pip_join_p50_s",
        "cell_assign": "cell_assign_p50_s",
        "tile_stats": "tile_stats_p50_s",
    }
    ORDER = ["pip_join", "cell_assign", "tile_stats"]
    cycle = len(ORDER)
    # measured on a 4-CPU host: a cycle costs 12-14 CPU seconds at 10k-30k
    # orders and 15-17 at 120k, so the size keeps per-row work in view and
    # shrinks the share of the JIT compiler, whose threads take 2-4 CPU
    # seconds a cycle and whose progress moves throughput in steps over
    # the first six executions. One untimed cycle after the first reaches
    # a level that held within 6% for the next two; more do not fit the
    # run budget.
    warm_cycles = 1

    def build_inputs(self, out_dir: str) -> None:
        self.dir = out_dir
        self.n_orders = self.n(120_000)
        self.n_lineitem = 2 * self.n_orders
        self.keys = I.order_keys(self.seed, self.n_orders)
        # one file each, like the suite's tables: at this size a parallel
        # scan costs more CPU than it saves wall time
        I.write_parts(I.orders_table(self.keys), f"{out_dir}/orders.parquet", 1)
        lineitem = I.lineitem_table(self.seed, self.keys, self.n_lineitem)
        I.write_parts(lineitem, f"{out_dir}/lineitem.parquet", 1)
        # suite.pts_lineitem's point key, for the traced run's layer replays
        self.lineitem_ukey = (
            lineitem.column("l_orderkey").to_numpy() * 7 + lineitem.column("l_linenumber").to_numpy()
        )

    def rows(self, name: str) -> int:
        # per cell backend, as bench.py counts them
        return {
            "pip_join": self.n_orders,
            "cell_assign": 3 * self.n_orders,
            "tile_stats": 3 * self.n_lineitem,
        }[name]

    def _make(self, name: str):
        q = E.queries()[name]
        return lambda: q(self.spark, self.dir)

    def warm_up(self) -> dict[str, list[str]]:
        con = duck()
        for t in ("orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet/*.parquet')")
        oracles = E.oracle_sql()
        out = {n: self._warm_frame(n, self._make(n), oracles[n], con) for n in self.ORDER}
        con.close()
        return out

    def next_op(self, i: int) -> Op:
        name = self.ORDER[i % len(self.ORDER)]
        return self._frame_op(name, self.rows(name), self._make(name))


# ---------------------------------------------------------------------------
# stored_tables, part 1: the images table
# ---------------------------------------------------------------------------

IMAGE_ID_MODULUS = 64


class ImagesTable(Seeded):
    """A stored images table (png/jpg/raw, Paris/Tokyo hot spots) of the
    image ids ``i < 64 * n`` with ``i % 64 == residue(seed)``, generated by
    ``sources.images`` and written as one parquet file per core; oracles
    are the suite's DuckDB image twins restricted to the same residue."""

    ORDER = ["image_tiles", "image_decode_check"]

    def build_inputs(self, out_dir: str) -> None:
        from spatial4n_spark.sources.images import _gen_batch

        self.n_images = self.n(600)
        self.residue = I.image_chunk(self.seed, IMAGE_ID_MODULUS)
        self.path = f"{out_dir}/images"
        ids = self.residue + IMAGE_ID_MODULUS * np.arange(self.n_images, dtype=np.int64)
        I.write_parts(pa.Table.from_batches([_gen_batch(ids, True)]), self.path, host_cpus())

    def table(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def _decode_check(self) -> DataFrame:
        # suite.q_image_decode_check over this table
        from spatial4n_spark.operators.raster import decode_check

        out = decode_check(self.table(), level=4)
        return out.groupBy("fmt").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("psnr_db"), 3).alias("min_psnr_db"),
            F.min(F.col("caption_ok").cast("int")).alias("all_captions_ok"),
        )

    def _tiles(self) -> DataFrame:
        # suite.q_image_tiles_all over this table
        from spatial4n_spark.operators.raster import tile_images_multi

        chips = tile_images_multi(
            self.table(), [("geohash", 4), ("s2", 8), ("h3", 7)], chip_px=8, min_psnr_db=40.0
        )
        return chips.groupBy("backend", "cell").agg(
            F.count(F.lit(1)).alias("n_chips"),
            F.sum(((F.col("chip_row") == 0) & (F.col("chip_col") == 0)).cast("long")).alias("n_images"),
            F.sum(F.col("chip_w") * F.col("chip_h")).alias("sum_px"),
            (F.sum("chip_sum") / (F.sum(F.col("chip_w") * F.col("chip_h")) * F.lit(3))).alias(
                "avg_brightness"
            ),
        )

    def _make(self, name: str):
        return self._tiles if name == "image_tiles" else self._decode_check

    def op(self, name: str) -> Op:
        return self._frame_op(name, self.n_images, self._make(name))

    def warm_up(self) -> dict[str, list[str]]:
        from spatial4n_spark import oracles_images as OI

        con = duck()
        # N_IMAGES_SQL sizes the oracle's id range as 2 * count(events)
        half = IMAGE_ID_MODULUS * self.n_images // 2
        con.execute(f"CREATE VIEW events AS SELECT range AS event_id FROM range({half})")
        OI.set_image_chunk(IMAGE_ID_MODULUS, self.residue)
        try:
            sql = {
                "image_decode_check": OI.sql_image_decode_check(),
                "image_tiles": suite.sql_image_tiles_all(),
            }
        finally:
            OI.set_image_chunk()
        out = {n: self._warm_frame(n, self._make(n), sql[n], con) for n in self.ORDER}
        con.close()
        return out


# ---------------------------------------------------------------------------
# stored_tables, part 2: the Hilbert-clustered table
# ---------------------------------------------------------------------------

CLUSTER_LEVEL = 14
BASE_FILES = 16
APPEND_FILES = 4
DELETE_MODULUS = 10


class ClusteredTable(Seeded):
    """Writes beside reads on one Hilbert-clustered table. The benchmark
    keeps the live row set itself; every probe is checked against DuckDB
    haversine SQL over that set, every delete against its count."""

    def build_inputs(self, out_dir: str) -> None:
        from spatial4n_spark.io.clustered import write_clustered

        self.n_base = self.n(30_000)
        self.batch = self.n(3_000)
        keys = I.order_keys(self.seed, self.n_base)
        I.write_parts(I.orders_table(keys), f"{out_dir}/orders.parquet", 1)
        self.path = f"{out_dir}/clustered"
        write_clustered(
            suite.pts_orders(self.spark, out_dir), self.path, level=CLUSTER_LEVEL, files=BASE_FILES
        )
        self.live = self._points(keys)
        self.centers = I.probe_centers(self.seed, 64)
        # deletes walk the residue classes from a seeded start, so each
        # removes about a tenth of the rows it finds
        self.delete_start = int(I.rng_for(self.seed, "delete").integers(0, DELETE_MODULUS))
        self.counters = {"append": 0, "radius": 0, "delete": 0, "compact": 0}

    @staticmethod
    def _points(keys: np.ndarray) -> pd.DataFrame:
        return pd.DataFrame(
            {"o_orderkey": keys, "lon": I.lattice_lon(keys), "lat": I.lattice_lat(keys)}
        )

    # -- operations -------------------------------------------------------

    def _append_op(self) -> Op:
        from spatial4n_spark.io.clustered import append_clustered

        k = self.counters["append"]
        self.counters["append"] += 1
        cand = I.order_keys(self.seed, 2 * self.batch, stream=f"append{k}")
        cand = cand[~np.isin(cand, self.live["o_orderkey"].to_numpy())][: self.batch]
        batch = self._points(cand)

        def build():
            append_clustered(self.spark.createDataFrame(batch), self.path, files=APPEND_FILES)

        def verify(_):
            self.live = pd.concat([self.live, batch], ignore_index=True)
            return []

        return Op("append", len(batch), build, lambda _: None, verify)

    def _radius_op(self) -> Op:
        from spatial4n_spark.io.clustered import clustered_radius_query

        qid, qlon, qlat, r_km = self.centers[self.counters["radius"] % len(self.centers)]
        self.counters["radius"] += 1
        # the probe's circle and the manifest pruning it got, for the traced run
        facts = {"probe": (qlon, qlat, r_km)}

        def build():
            df, stats = clustered_radius_query(self.spark, self.path, qlon, qlat, r_km, with_stats=True)
            facts["io.clustered.files_total"] = stats.files_total
            facts["io.clustered.files_kept"] = stats.files_kept
            return df

        def verify(rows):
            pred = O.haversine_km_native_sql("lon", "lat", O.dlit(qlon), O.dlit(qlat))
            sql = f"SELECT o_orderkey, lon, lat FROM live WHERE {pred} <= {O.dlit(r_km)}"
            return compare("radius", rows.to_pandas(), self._duck(sql))

        return Op("radius", len(self.live), build, lambda df: df.toArrow(), verify, facts)

    def _delete_op(self) -> Op:
        from spatial4n_spark.io.clustered import delete_clustered

        d = self.counters["delete"]
        self.counters["delete"] += 1
        r = (self.delete_start + d) % DELETE_MODULUS
        doomed = (self.live["o_orderkey"].to_numpy() % DELETE_MODULUS) == r

        def build():
            return delete_clustered(
                self.spark,
                self.path,
                F.col("o_orderkey") % F.lit(DELETE_MODULUS) == F.lit(r),
                strategy="mor",
            )

        def verify(res):
            want = int(doomed.sum())
            # a no-op delete returns a summary, a commit the new manifest
            got = int(res.get("deleted_rows", res.get("summary", {}).get("deleted_rows", -1)))
            self.live = self.live[~doomed].reset_index(drop=True)
            return [] if got == want else [f"deleted {got} rows, expected {want}"]

        return Op("delete", len(self.live), build, lambda res: res, verify)

    def _compact_op(self) -> Op:
        from spatial4n_spark.io.clustered import compact_clustered

        self.counters["compact"] += 1
        return Op(
            "compact",
            len(self.live),
            lambda: compact_clustered(self.spark, self.path, files=BASE_FILES),
            lambda _: None,
            lambda _: [],
        )

    def _duck(self, sql: str) -> pd.DataFrame:
        con = duck()
        try:
            con.register("live", self.live)
            return con.execute(sql).df()
        finally:
            con.close()

    def op(self, kind: str) -> Op:
        return {
            "append": self._append_op,
            "radius": self._radius_op,
            "delete": self._delete_op,
            "compact": self._compact_op,
        }[kind]()

    def warm_up(self) -> dict[str, list[str]]:
        out = {}
        for kind in ("radius", "append", "delete", "compact", "radius"):
            op = self.op(kind)
            t0 = time.perf_counter()
            value = op.action(op.build())
            self.warm_s += time.perf_counter() - t0
            out[kind] = out.get(kind, []) + op.verify(value)
        return out

    def finish(self) -> dict[str, list[str]]:
        from spatial4n_spark.io.clustered import clustered_scan

        got = clustered_scan(self.spark, self.path).count()
        want = len(self.live)
        return {"live_rows": [] if got == want else [f"table holds {got} rows, expected {want}"]}

    def extra_metrics(self) -> dict[str, tuple[float, str]]:
        size = 0
        for root, _, files in os.walk(self.path):
            size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return {"table_bytes_per_row": (size / len(self.live), "B/row")}


# ---------------------------------------------------------------------------
# stored_tables: the images table and the clustered table in one loop
# ---------------------------------------------------------------------------

# One cycle: three appends with a probe after each, then a MOR delete
# (the probe after it reads through the pending deletes) and a compaction
# (the probe after it reads the rewritten files), with the two image
# operations in between. The manifest grows by an append's files three
# times before a compaction folds them back.
STORED_CYCLE = [
    ("clustered", "append"), ("clustered", "radius"), ("images", "image_tiles"),
    ("clustered", "append"), ("clustered", "radius"),
    ("clustered", "append"), ("clustered", "radius"), ("images", "image_decode_check"),
    ("clustered", "delete"), ("clustered", "radius"),
    ("clustered", "compact"), ("clustered", "radius"),
]


class StoredTables(Workload):
    """The stored-table paths in one closed loop: the images table through
    the fused decode stage (``ImagesTable``) and the Hilbert-clustered table
    under appends, probes and maintenance (``ClusteredTable``). One session
    carries both, so the benchmark's run budget holds two workloads."""

    name = "stored_tables"
    metrics = {
        "image_decode_check": "decode_check_p50_s",
        "image_tiles": "image_tiles_p50_s",
        "append": "append_p50_s",
        "radius": "radius_p50_s",
        "delete": "maintain_p50_s",
        "compact": "maintain_p50_s",
    }
    cycle = len(STORED_CYCLE)

    def __init__(self, spark: SparkSession, seed: int, scale: float = 1.0):
        super().__init__(spark, seed, scale)
        self.images = ImagesTable(spark, seed, scale)
        self.clustered = ClusteredTable(spark, seed, scale)

    def build_inputs(self, out_dir: str) -> None:
        for part in ("images", "clustered"):
            d = os.path.join(out_dir, part)
            os.makedirs(d)
            getattr(self, part).build_inputs(d)

    def warm_up(self) -> dict[str, list[str]]:
        out = {**self.images.warm_up(), **self.clustered.warm_up()}
        self.warm_s = self.images.warm_s + self.clustered.warm_s
        return out

    def next_op(self, i: int) -> Op:
        part, kind = STORED_CYCLE[i % len(STORED_CYCLE)]
        return getattr(self, part).op(kind)

    def finish(self) -> dict[str, list[str]]:
        return self.clustered.finish()

    def extra_metrics(self) -> dict[str, tuple[float, str]]:
        return self.clustered.extra_metrics()


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (VectorJoin, StoredTables)}
