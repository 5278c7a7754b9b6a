"""Large-query-set kNN capacity smoke: a query DataFrame through the
one kNN core (operators.knn.knn_join) over a points scan, or — with
--layout clustered — over the manifest-pruned clustered layout.

No per-query structure crosses the driver: query coords are generated
distributed (spark.range -> mapInArrow), circle covers are planned in a
mapInPandas stage, and acceptance is aggregate + anti-join. Above about
3k pending queries the cover-size rule picks the shuffle join by itself.
The Python driver's peak RSS is reported at each query-count level; a
flat profile across a 10x query-count step is the "flat driver memory"
claim.

Usage: python tools/knn_capacity.py [--points 1000000] [--queries 10000,100000]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import resource
import sys
import time

sys.path.insert(0, ".")


def query_frame(spark, n: int):
    """Distributed deterministic query set: same coord mixture as the
    images table, offset ids so queries don't coincide with points."""
    from typing import Iterator

    import pyarrow as pa

    def gen(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from spatial4n_spark.sources.images import synth_coords

        for batch in it:
            ids = batch.column(0).to_numpy()
            lon, lat = synth_coords(ids + 7_777_777)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([f"q{int(i):07d}" for i in ids], pa.string()),
                    pa.array(lon, pa.float64()),
                    pa.array(lat, pa.float64()),
                ],
                names=["query_id", "qlon", "qlat"],
            )

    return spark.range(n).mapInArrow(gen, "query_id string, qlon double, qlat double")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--points", type=int, default=1_000_000)
    ap.add_argument("--queries", type=str, default="10000,100000")
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--layout", choices=["flat", "clustered"], default="flat")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from spatial4n_spark.operators.knn import knn_join
    from spatial4n_spark.sources.images import images_df

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("knn-capacity")
        .config("spark.sql.shuffle.partitions", str(max(args.cpus * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    points = images_df(spark, args.points, with_bytes=False, partitions=args.cpus * 2)
    table = None
    if args.layout == "clustered":
        import tempfile

        from spatial4n_spark.io.clustered import write_clustered

        table = tempfile.mkdtemp(prefix="knn_cap_clustered_")
        t0 = time.time()
        write_clustered(points, table, level=14, files=args.cpus * 2)
        print(f"# clustered build: {time.time() - t0:.1f}s", file=sys.stderr)
    levels = []
    for nq in (int(x) for x in args.queries.split(",")):
        q = query_frame(spark, nq)
        t0 = time.time()
        out = knn_join(table or points, q, k=args.k)
        n_out = out.count()
        dt = time.time() - t0
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        levels.append(
            {
                "queries": nq,
                "rows_out": n_out,
                "sec": round(dt, 2),
                "queries_per_sec": round(nq / dt, 1),
                "driver_py_peak_rss_mb": round(rss_mb, 1),
            }
        )
    print(
        json.dumps(
            {
                "bench": (
                    "knn_join capacity over the clustered layout (manifest-pruned reads)"
                    if args.layout == "clustered"
                    else "knn_join capacity over a points scan"
                ),
                "layout": args.layout,
                "points": args.points,
                "k": args.k,
                "cpus": args.cpus,
                "levels": levels,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
