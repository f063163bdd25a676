#!/usr/bin/env python
"""PMTiles serving-path benchmark (r6 verdict #5): per-tile fetch
latency of the two `/tiles/{z}/{x}/{y}.mvt` backends over the SAME
stage_tiles-shaped artifact —

* parquet backend — the z-partitioned, (z,x,y) range-clustered tile
  table; each request plans a Spark point read (partition filter on z,
  parquet stats pruning on x/y), exactly server.py's ``tiles_path``
  mode;
* archive backend — the engine-written PMTiles v3 single file via
  ``PMTilesReader.get`` bounded range reads (server.py's
  ``pmtiles_path`` mode; the reference's production path), no Spark
  job per request.

Cold = first request on a fresh backend (parquet: first plan+read;
archive: fresh reader incl. the 16 KiB header/root prefetch). Warm =
per-request latency over a deterministic sample of existing tiles
(hash-ordered) plus 10% misses. Prints one JSON line with p50/p99 ms.

Usage: python tools/bench_pmtiles_serving.py [--requests 300]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def pct(xs, p):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(round(p / 100.0 * (len(xs) - 1))))]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--requests", type=int, default=300)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from osm_poi_cloud_spark.app import tile_table
    from osm_poi_cloud_spark.config import get_spark
    from osm_poi_cloud_spark.operators import mvt as mvt_op
    from osm_poi_cloud_spark.server import _tile_bytes
    from osm_poi_cloud_spark.sources.pmtiles import PMTilesReader

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench_pmtiles", master=f"local[{cpus}]",
                      shuffle_partitions=4 * cpus)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    pages_n = int(400_000 * sf)
    pois = spark.read.parquet(f"/tmp/osm_poi_bench_pois_{pages_n}")

    out = "/tmp/osm_poi_bench_pmtiles_serving"
    tiles_pq = os.path.join(out, "tiles")
    archive = os.path.join(out, "pois.pmtiles")
    if not os.path.exists(os.path.join(tiles_pq, "_SUCCESS")) or \
            not os.path.exists(archive):
        (tile_table(pois, 2, 10, cap=256)
         .write.mode("overwrite").partitionBy("z").parquet(tiles_pq))
        stored = spark.read.parquet(tiles_pq)
        mvt_op.write_pmtiles_streamed(
            stored.select("z", "x", "y", "mvt"), archive, 2, 10)

    stored = spark.read.parquet(tiles_pq)
    n_tiles = stored.count()
    # deterministic request sample: hash-ordered existing tiles + misses
    keys = [(int(r["z"]), int(r["x"]), int(r["y"])) for r in
            stored.select("z", "x", "y")
            .orderBy(F.xxhash64("z", "x", "y")).limit(args.requests).collect()]
    misses = [(9, (7919 * i) % 512, (104729 * i) % 512)
              for i in range(max(1, args.requests // 10))]
    reqs = keys + misses

    results = {"n_tiles": n_tiles, "n_requests": len(reqs),
               "archive_bytes": os.path.getsize(archive)}

    # ---- parquet backend ----
    t0 = time.time()
    _tile_bytes(stored, *reqs[0])
    results["parquet_cold_ms"] = round((time.time() - t0) * 1e3, 1)
    lat = []
    for zxy in reqs:
        t0 = time.time()
        _tile_bytes(stored, *zxy)
        lat.append((time.time() - t0) * 1e3)
    results["parquet_p50_ms"] = round(pct(lat, 50), 1)
    results["parquet_p99_ms"] = round(pct(lat, 99), 1)

    # ---- archive backend ----
    t0 = time.time()
    rdr = PMTilesReader(archive)
    rdr.get(*reqs[0])
    results["archive_cold_ms"] = round((time.time() - t0) * 1e3, 3)
    lat = []
    hits = 0
    for zxy in reqs:
        t0 = time.time()
        b = rdr.get(*zxy)
        lat.append((time.time() - t0) * 1e3)
        hits += b is not None
    results["archive_p50_ms"] = round(pct(lat, 50), 3)
    results["archive_p99_ms"] = round(pct(lat, 99), 3)
    results["archive_hits"] = hits
    rdr.close()

    print(json.dumps({"metric": "pmtiles_serving", **results}))


if __name__ == "__main__":
    main()
