"""Seeded input generators. Pure numpy/pyarrow: no Spark, no files read.

Point coordinates use the suite's dyadic-lattice arithmetic
(``spatial4n_spark.suite.pts_orders``): ``lon = (key * 2371) % 4096 *
45/512 - 180`` and ``lat = (key * 1381) % 2048 * 45/512 - 90``. The seed
only chooses which keys exist, so every coordinate stays exactly
representable and the DuckDB twins remain bit-exact.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from spatial4n_spark.suite import LAT_MULT, LON_MULT

KEY_SPACE = 1 << 26


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, input stream)."""
    return np.random.default_rng([int(seed), *stream.encode()])


def lattice_lon(keys: np.ndarray) -> np.ndarray:
    return ((keys * LON_MULT) % 4096).astype(np.float64) * 45.0 / 512.0 - 180.0


def lattice_lat(keys: np.ndarray) -> np.ndarray:
    return ((keys * LAT_MULT) % 2048).astype(np.float64) * 45.0 / 512.0 - 90.0


def order_keys(seed: int, n: int, stream: str = "orders") -> np.ndarray:
    """``n`` distinct sorted int64 keys in [1, KEY_SPACE]."""
    keys = rng_for(seed, stream).choice(KEY_SPACE, size=n, replace=False) + 1
    return np.sort(keys.astype(np.int64))


def orders_table(keys: np.ndarray) -> pa.Table:
    """Orders-schema fact table; the suite derives points from o_orderkey."""
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array((keys * 7) % 150_000 + 1, pa.int64()),
            "o_orderstatus": pa.array(np.where(keys % 2 == 0, "F", "O"), pa.string()),
            "o_shippriority": pa.array(np.zeros(n, dtype=np.int32), pa.int32()),
        }
    )


def lineitem_table(seed: int, keys: np.ndarray, n: int) -> pa.Table:
    """Lineitem-schema table of ``n`` rows over the given order keys:
    1..7 lines per order, seeded part keys."""
    rng = rng_for(seed, "lineitem")
    per = rng.integers(1, 8, size=len(keys))
    okey = np.repeat(keys, per)[:n]
    line = np.concatenate([np.arange(1, p + 1, dtype=np.int32) for p in per])[:n]
    if len(okey) < n:
        raise ValueError(f"{len(keys)} orders cannot hold {n} lineitems")
    return pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(1, 200_001, size=n), pa.int64()),
            "l_linenumber": pa.array(line, pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(np.float64)),
        }
    )


def write_parts(table: pa.Table, path: str, parts: int) -> None:
    """Write ``table`` as a directory of ``parts`` parquet files, so a
    Spark scan of it has one partition per part."""
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for k in range(parts):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))


def image_chunk(seed: int, modulus: int) -> int:
    """Residue class of the image ids this seed stores (ids ``i`` with
    ``i % modulus == residue``); the DuckDB image oracle filters its id
    generator the same way (``oracles_images.set_image_chunk``)."""
    return int(rng_for(seed, "images").integers(0, modulus))


def probe_centers(seed: int, n: int) -> list[tuple[str, float, float, float]]:
    """Seeded (query_id, lon, lat, radius_km) radius probes. Centers sit
    on a 1/16-degree grid, half of them in the Paris/Tokyo hot spots."""
    rng = rng_for(seed, "probes")
    hot = [(2.3125, 48.875), (139.8125, 35.6875)]
    out = []
    for i in range(n):
        if i % 2 == 0:
            hx, hy = hot[(i // 2) % 2]
            lon = hx + rng.integers(-32, 33) / 16.0
            lat = hy + rng.integers(-16, 17) / 16.0
        else:
            lon = rng.integers(-2880, 2881) / 16.0
            lat = rng.integers(-1280, 1281) / 16.0
        out.append((f"q{i:03d}", float(lon), float(lat), float(rng.integers(2, 13) * 50)))
    return out
