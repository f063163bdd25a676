"""One benchmark run of one workload; started by ``perfbench/run.py``.

    python3 perfbench/workload.py --workload etl --seed 0 --seconds 15 \
        --trace 0 --work <dir> --result <file.json>

Workloads (inputs are generated here from ``--seed``; the engine only
ever sees the generated tables):

* ``etl``    one full ``app.stage_plan -> stage_process -> stage_merge ->
             stage_tiles`` pass in the fresh session, as one
             ``app.main --stage all`` run does it, into a fresh output dir;
* ``serve``  ``server.make_server`` over one etl pass's POI table and
             PMTiles archive, driven for ``--seconds`` by a closed loop of
             client threads in a separate process (``perfbench/client.py``);
* ``curate`` one ``dedup.remove_boilerplate_lines -> curation.curate_documents
             -> dedup.minhash_lsh_dedup -> curation.curate_to_training_shards``
             pass in the fresh session.

The result file holds the end-to-end metrics (``--trace 0``) or the
per-layer metrics of one traced pass (``--trace 1``), the attempted and
failed operation counts, and a human-readable report.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import statistics
import subprocess
import sys
import threading
import time

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_SEED = 0

ETL_PAGES = 1200
ETL_MAX_ZOOM = 8  # app.DEFAULT_MAX_ZOOM
ETL_MAX_NODES = 150  # small enough that the city hot-spots become salted shards
RUN_ID = "perfbench"

CURATE_DOCS = 900
CURATE_BPE_SAMPLE = 150
CURATE_MERGES = 60

SERVE_PAGES = 500
SERVE_WARMUP_S = 1.0
SERVE_PROBE_TILES = 400
SERVE_PROBE_BBOXES = 8
SERVE_PROBE_CLASSES = 3

# Pinned outputs for DEFAULT_SEED. Checksums are order-insensitive
# (bit_xor of xxhash64 over the listed columns).
ETL_PINNED = {
    "pois": 1134, "pois_checksum": -8593336468721509902, "shards_checksum": -8399144325236850032,
    "tiles": 4085, "tiles_checksum": 8700446722899560941, "archive_tiles": 2272,
    "manifest_shards": 22,
}
CURATE_PINNED_KEPT = CURATE_DOCS // 3  # one survivor per 3-variant near-dup cluster


class Run:
    """Counts operations and failed output checks; keeps the report."""

    def __init__(self, args):
        self.args = args
        self.attempted = 0
        self.failed = 0
        self.report: dict = {}
        self.errors: list[str] = []

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check {name} failed {detail}".strip())


def session(extra_conf=None):
    from osm_poi_cloud_spark.config import get_spark

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    conf = {"spark.ui.showConsoleProgress": "false", **(extra_conf or {})}
    return get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)


def du_mb(*paths: str) -> float:
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
        for root, _dirs, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / tracing.MB


def timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return time.perf_counter() - t0, out


def repeat_setup(setup: dict, fn, *a) -> None:
    """Input generation is the repeatable part of set-up: run it three
    times (the last call writes the path used) and keep the median."""
    *head, path = a
    setup["input_s"] = statistics.median(
        timed(fn, *head, path if k == 2 else f"{path}_{k}")[0] for k in range(3))


# --------------------------------------------------------------------- etl

def gen_pages(spark, seed: int, n: int, path: str) -> None:
    """Pages [seed*n, (seed+1)*n) of the deterministic synthetic corpus:
    zipf city hot-spots, ~20% non-English pages, tile-boundary points."""
    from osm_poi_cloud_spark.sources.pages import PAGES_SCHEMA, synthesize_pages_pdf

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids):
                yield synthesize_pages_pdf(int(ids.min()), int(ids.max()) + 1)

    parts = spark.sparkContext.defaultParallelism * 2
    (spark.range(seed * n, (seed + 1) * n, 1, parts)
     .mapInPandas(gen, schema=PAGES_SCHEMA)
     .write.mode("overwrite").parquet(path))


def etl_pass(spark, pages: str, out: str, tracer: tracing.Tracer, n: int = ETL_PAGES) -> float:
    """The ``app.main --stage all`` sequence: build_pois persisted once
    and shared by plan and process."""
    from osm_poi_cloud_spark import app
    from osm_poi_cloud_spark.plans import pipeline as pl

    t0 = time.perf_counter()
    with tracer.span("plans.pipeline.build_pois"):
        pois = pl.build_pois(app.read_pages(spark, pages), lang="en", cell_levels=(8, 12)).persist()
    try:
        with tracer.span("app.stage_plan", rows_in=n) as s:
            shards = app.stage_plan(spark, pages, out, ETL_MAX_ZOOM, ETL_MAX_NODES, "en", pois=pois)
            s["rows_out"] = len(shards)
        with tracer.span("app.stage_process"):
            app.stage_process(spark, pages, out, RUN_ID, shards, ETL_MAX_ZOOM, "en", pois=pois)
    finally:
        pois.unpersist()
    with tracer.span("app.stage_merge"):
        app.stage_merge(spark, out)
    with tracer.span("app.stage_tiles"):
        app.stage_tiles(spark, out)
    return time.perf_counter() - t0


def etl_outputs(spark, out: str) -> dict:
    """Counts and order-insensitive checksums of one pass's artifacts."""
    from pyspark.sql import functions as F

    from osm_poi_cloud_spark.sources.pmtiles import PMTilesReader

    def xor(*cols):
        return F.expr(f"bit_xor(xxhash64({', '.join(cols)}))")

    pois = spark.read.parquet(os.path.join(out, "pois_merged"))
    p = pois.agg(F.count(F.lit(1)).alias("n"), xor("poi_id", "lat", "lon", "class").alias("c"),
                 xor("poi_id", "shard_id").alias("s")).collect()[0]
    tiles = spark.read.parquet(os.path.join(out, "tiles"))
    t = tiles.agg(F.count(F.lit(1)).alias("n"), xor("z", "x", "y", "n_features").alias("c")).collect()[0]
    with open(os.path.join(out, "manifest.geojson")) as f:
        manifest = len(json.load(f)["features"])
    with PMTilesReader(os.path.join(out, "pois.pmtiles")) as rdr:
        archive = rdr.n_addressed
    return {"pois": p["n"], "pois_checksum": p["c"], "shards_checksum": p["s"],
            "tiles": t["n"], "tiles_checksum": t["c"], "archive_tiles": archive,
            "manifest_shards": manifest}


def etl_checks(run: Run, spark, out: str, seed: int) -> dict:
    import numpy as np
    from pyspark.sql import functions as F

    from osm_poi_cloud_spark.functions import tile_math as tm
    from osm_poi_cloud_spark.plans import lineage as ln
    from osm_poi_cloud_spark.sources.pmtiles import PMTilesReader

    got = etl_outputs(spark, out)
    if seed == DEFAULT_SEED:
        for k, v in ETL_PINNED.items():
            run.check(f"etl.pinned.{k}", got[k] == v, f"got {got[k]} want {v}")
    run.check("etl.nonempty", got["pois"] > 0 and got["tiles"] > 0 and got["archive_tiles"] > 0)

    committed = (ln.LineageLog(spark, os.path.join(out, "lineage"))
                 .completed_keys(RUN_ID, "process").count())
    run.check("etl.lineage_shards", committed == got["manifest_shards"],
              f"{committed} committed vs {got['manifest_shards']} in manifest")

    tiles = spark.read.parquet(os.path.join(out, "tiles"))
    sample = (tiles.filter((F.col("z") <= 10) & (F.pmod(F.xxhash64("z", "x", "y", F.lit(seed)), 32) == 0))
              .select("z", "x", "y", "mvt").collect())
    with PMTilesReader(os.path.join(out, "pois.pmtiles")) as rdr:
        same = sum(rdr.get(r["z"], r["x"], r["y"]) == bytes(r["mvt"]) for r in sample)
    run.check("etl.archive_bytes", same == len(sample) > 0, f"{same}/{len(sample)} tiles equal")

    pois = (spark.read.parquet(os.path.join(out, "pois_merged"))
            .filter(F.pmod(F.xxhash64("poi_id", F.lit(seed)), 4) == 0)
            .select("lon", "lat", "tile_z", "tile_x", "tile_y").toPandas())
    zooms = set(pois["tile_z"])
    ok = len(zooms) == 1
    if ok:
        x, y = tm.lon_lat_to_tile(pois["lon"].to_numpy(), pois["lat"].to_numpy(), int(zooms.pop()))
        ok = bool(np.array_equal(x, pois["tile_x"].to_numpy()) and np.array_equal(y, pois["tile_y"].to_numpy()))
    run.check("etl.poi_tile_keys", ok)
    return got


def run_etl(run: Run, spark, work: str, setup: dict, tracer: tracing.Tracer) -> dict:
    seed = run.args.seed
    pages = os.path.join(work, "pages")
    repeat_setup(setup, gen_pages, spark, seed, ETL_PAGES, pages)
    out = os.path.join(work, "out")
    run.attempted += 1
    wall = etl_pass(spark, pages, out, tracer)
    run.report["outputs"] = etl_checks(run, spark, out, seed)
    art = du_mb(*(os.path.join(out, d) for d in ("pois_merged", "tiles", "pois.pmtiles")))
    return batch_result(run, wall, ETL_PAGES, art)


def batch_result(run: Run, wall: float, docs: int, artifact_mb: float) -> dict:
    """A batch workload measures one full pass in the fresh session, as
    one ``spark-submit`` of the pipeline runs it."""
    run.report.update(docs_per_s=docs / wall, artifact_mb=artifact_mb)
    return {"unit_wall": wall,
            "e2e": {"throughput": docs / wall, "p50_ms": wall * 1e3, "artifact_mb": artifact_mb}}


# ------------------------------------------------------------------ curate

def gen_corpus(spark, seed: int, path: str) -> None:
    """Seeded web-text corpus: 3-variant near-dup clusters (doc_id // 3),
    per-host template header lines (500 hosts), a shared slogan on every
    4th doc, stopword-interleaved bodies that pass the lang/quality gates.
    The seed salts every body hash."""
    from pyspark.sql import functions as F

    syl = ["ba", "ce", "di", "fo", "gu", "ka", "le", "mi", "no", "pu", "ra", "se", "ti", "vo", "wu", "ze"]
    pool = F.array(*[F.lit(syl[(i // 256) % 16] + syl[(i // 16) % 16] + syl[i % 16]) for i in range(512)])
    stops = F.array(*[F.lit(w) for w in ["the", "and", "of", "to", "in", "is", "that", "for", "with", "are"]])
    slogan = "subscribe to our newsletter today for all the latest updates and offers"
    cluster = (F.col("id") / 3).cast("long")
    body = F.concat_ws(" ", F.transform(F.sequence(F.lit(1), F.lit(90)), lambda j: F.when(
        j % 5 == 0, F.element_at(stops, F.pmod(F.xxhash64(F.lit(seed), cluster, j), 10).cast("int") + 1)
    ).otherwise(F.element_at(pool, F.pmod(F.xxhash64(F.lit(seed), cluster, j, F.lit(7)), 512).cast("int") + 1))))
    host = F.pmod(F.col("id"), 500).cast("string")
    (spark.range(CURATE_DOCS, numPartitions=spark.sparkContext.defaultParallelism * 2)
     .select(F.col("id").alias("doc_id"), F.concat(F.lit("h"), host).alias("host"),
             F.concat(F.lit("follow h"), host, F.lit(" on social media for updates\n"), body,
                      F.when(F.col("id") % 4 == 0, F.lit(" " + slogan)).otherwise(F.lit("")),
                      F.lit(" variant"), (F.col("id") % 3).cast("string")).alias("text"))
     .write.mode("overwrite").parquet(path))


def curate_pass(spark, docs, merges, out: str, tracer: tracing.Tracer) -> tuple[float, dict]:
    from osm_poi_cloud_spark.operators import dedup as dd
    from osm_poi_cloud_spark.plans.curation import curate_documents, curate_to_training_shards

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    t0 = time.perf_counter()
    bp = dd.remove_boilerplate_lines(docs, host_col="host").select("doc_id", "text")
    # span_min_docs=4 leaves the 3-variant cluster bodies to MinHash and
    # cuts only the corpus-wide slogan (as in bench_scaling_e2e.py)
    with tracer.span("plans.curation.curate_documents", rows_in=CURATE_DOCS) as s:
        cur = curate_documents(bp, span_k=8, span_min_docs=4).persist()
        s["rows_out"] = n_cur = cur.count()
    try:
        with tracer.span("operators.dedup.minhash_lsh_dedup", rows_in=n_cur) as s:
            nd = dd.minhash_lsh_dedup(cur, text_col="text_clean").persist()
            s["rows_out"] = n_nd = nd.count()
        try:
            with tracer.span("plans.curation.curate_to_training_shards", rows_in=n_nd):
                shards, _vocab = curate_to_training_shards(docs, curated=nd, merges=merges,
                                                           n_buckets=2 * cpus)
                shards.write.mode("overwrite").parquet(out)
        finally:
            nd.unpersist()
    finally:
        cur.unpersist()
    return time.perf_counter() - t0, {"curated": n_cur, "kept": n_nd}


def run_curate(run: Run, spark, work: str, setup: dict, tracer: tracing.Tracer) -> dict:
    from pyspark.sql import functions as F

    from osm_poi_cloud_spark.functions.bpe import train_bpe_from_corpus
    from osm_poi_cloud_spark.plans.curation import curate_documents

    seed = run.args.seed
    path = os.path.join(work, "corpus")
    repeat_setup(setup, gen_corpus, spark, seed, path)
    t0 = time.perf_counter()
    docs = spark.read.parquet(path).cache()
    docs.count()
    # BPE merges are trained once per corpus, so they are set-up work
    sample = curate_documents(docs.select("doc_id", "text").filter(F.col("doc_id") < CURATE_BPE_SAMPLE))
    merges = train_bpe_from_corpus(sample, CURATE_MERGES, text_col="text_clean")
    setup["bpe_s"] = time.perf_counter() - t0

    out = os.path.join(work, "shards")
    run.attempted += 1
    wall, counts = curate_pass(spark, docs, merges, out, tracer)
    run.report["outputs"] = counts
    if seed == DEFAULT_SEED:
        run.check("curate.pinned.kept", counts["kept"] == CURATE_PINNED_KEPT,
                  f"kept {counts['kept']} want {CURATE_PINNED_KEPT}")
    run.check("curate.kept", 0 < counts["kept"] <= counts["curated"] <= CURATE_DOCS, str(counts))
    run.check("curate.shards", spark.read.parquet(out).count() > 0)
    return batch_result(run, wall, CURATE_DOCS, du_mb(out))


# ------------------------------------------------------------------- serve

def random_tile(rng: random.Random) -> tuple[int, int, int]:
    z = rng.randint(2, 10)
    return z, rng.randrange(1 << z), rng.randrange(1 << z)


def serve_requests(spark, out: str, seed: int, n: int) -> list[list]:
    """Seeded map-viewer request stream. Every block of 100 requests holds,
    in seeded order, 81 tile hits and 9 tile misses (204) over z2-10,
    9 bbox queries of at most 1 degree (a third with ``class=``) and one
    /classes, so each run sees the same mix."""
    from pyspark.sql import functions as F

    rng = random.Random(seed)
    tiles = spark.read.parquet(os.path.join(out, "tiles")).filter(F.col("z") <= 10)
    keys = sorted(tuple(r) for r in tiles.select("z", "x", "y").collect())
    have = set(keys)
    pois = spark.read.parquet(os.path.join(out, "pois_merged"))
    spots = sorted((r["lon"], r["lat"]) for r in pois.select("lon", "lat")
                   .filter((F.abs("lat") < 84) & (F.abs("lon") < 179)).collect())
    classes = sorted(r["class"] for r in pois.select("class").distinct().collect())
    reqs = []
    while len(reqs) < n:
        block = ["tile"] * 81 + ["miss"] * 9 + ["bbox"] * 9 + ["classes"]
        rng.shuffle(block)
        for kind in block:
            if kind == "tile":
                k = keys[rng.randrange(len(keys))]
            elif kind == "miss":
                k = random_tile(rng)
                while k in have:
                    k = random_tile(rng)
            if kind in ("tile", "miss"):
                reqs.append([kind, "/tiles/{}/{}/{}.mvt".format(*k), list(k)])
            elif kind == "bbox":
                lon, lat = spots[rng.randrange(len(spots))]
                w, h = rng.uniform(0.05, 1.0), rng.uniform(0.05, 1.0)
                box = [round(lon - w / 2, 6), round(lat - h / 2, 6),
                       round(lon + w / 2, 6), round(lat + h / 2, 6)]
                q = "min_lon={}&min_lat={}&max_lon={}&max_lat={}".format(*box)
                cls = classes[rng.randrange(len(classes))] if rng.random() < 1 / 3 else None
                if cls:
                    q += f"&class={cls}"
                reqs.append([kind, f"/pois?{q}", box + [cls]])
            else:
                reqs.append([kind, "/classes", None])
    return reqs


def client_loop(port: int, reqs_path: str, seconds: float, result_path: str,
                offset: int = 0) -> dict:
    """Run the closed-loop clients in their own process and read back
    their per-request records."""
    cmd = [sys.executable, os.path.join(HERE, "client.py"), "--port", str(port),
           "--requests", reqs_path, "--seconds", str(seconds),
           "--offset", str(offset), "--result", result_path]
    proc = subprocess.Popen(cmd)
    try:
        rc = proc.wait(timeout=seconds + 60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        raise RuntimeError(f"client process exited with {rc}")
    with open(result_path) as f:
        return json.load(f)


def pct(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[min(len(xs) - 1, max(0, int(-(-p * len(xs) // 100)) - 1))]


def latency_report(recs: list[dict]) -> dict:
    """Per request kind: sample count, p50 and a tail percentile, with the
    number of samples beyond it (the tail is only meaningful at >= 10)."""
    out = {}
    for kind, tail in (("tile", 99), ("bbox", 95), ("classes", None)):
        ms = [r["ms"] for r in recs if r["kind"] in ((kind, "miss") if kind == "tile" else (kind,))]
        if not ms:
            continue
        out[kind] = {"n": len(ms), "p50_ms": pct(ms, 50)}
        if tail:
            out[kind]["tail"] = {"p": tail, "ms": pct(ms, tail),
                                 "beyond": sum(m > pct(ms, tail) for m in ms)}
    return out


EXPECTED_STATUS = {"tile": 200, "miss": 204, "bbox": 200, "classes": 200}


def serve_checks(run: Run, pois, rdr, recs: list[dict], by_path: dict) -> None:
    from osm_poi_cloud_spark.plans import query_api as qa

    # wrong statuses are already counted as failures; compare only bodies
    tiles = [r for r in recs if r["kind"] == "tile" and r["status"] == 200]
    wrong = sum(hashlib.sha1(rdr.get(*by_path[r["path"]])).hexdigest() != r["sha1"] for r in tiles)
    run.check("serve.tile_bytes", wrong == 0, f"{wrong}/{len(tiles)} differ from PMTilesReader.get")
    outside = sum(r.get("outside", 0) for r in recs if r["kind"] == "bbox")
    run.check("serve.bbox_inside", outside == 0, f"{outside} features outside their bbox")
    seen = {}
    for r in recs:
        if r["kind"] == "bbox" and r["status"] == 200 and r["path"] not in seen and len(seen) < 4:
            seen[r["path"]] = r
    for path, r in seen.items():
        *box, cls = by_path[path]
        n = qa.pois_in_bbox(pois, *box, poi_class=cls).count()
        run.check("serve.bbox_count", n == r["count"], f"{path}: server {r['count']} direct {n}")


def run_serve(run: Run, spark, work: str, setup: dict, tracer: tracing.Tracer) -> dict:
    from osm_poi_cloud_spark.server import make_server
    from osm_poi_cloud_spark.sources.pmtiles import PMTilesReader

    seed = run.args.seed
    pages = os.path.join(work, "pages")
    repeat_setup(setup, gen_pages, spark, seed, SERVE_PAGES, pages)
    out = os.path.join(work, "etl")
    t0 = time.perf_counter()
    etl_pass(spark, pages, out, tracing.Tracer(), SERVE_PAGES)
    reqs = serve_requests(spark, out, seed, 40000)
    reqs_path = os.path.join(work, "requests.json")
    with open(reqs_path, "w") as f:
        json.dump(reqs, f)
    by_path = {r[1]: r[2] for r in reqs}
    pois = spark.read.parquet(os.path.join(out, "pois_merged"))
    archive = os.path.join(out, "pois.pmtiles")
    srv = make_server(pois, port=0, pmtiles_path=archive)
    th = threading.Thread(target=srv.serve_forever, daemon=True)
    th.start()
    try:
        port = srv.server_address[1]
        client_loop(port, reqs_path, SERVE_WARMUP_S, os.path.join(work, "warm.json"),
                    offset=len(reqs) // 2)
        setup["warmup_s"] = time.perf_counter() - t0
        res = client_loop(port, reqs_path, run.args.seconds, os.path.join(work, "window.json"))
    finally:
        srv.shutdown()
        srv.server_close()
        th.join(timeout=10)
    recs = res["records"]
    bad = [r for r in recs if r["status"] != EXPECTED_STATUS[r["kind"]]]
    run.attempted += len(recs)
    run.failed += len(bad)
    run.errors += [f"request {r['path']} returned {r['status']}" for r in bad[:5]]
    with PMTilesReader(archive) as rdr:
        serve_checks(run, pois, rdr, recs, by_path)
        run.report["outputs"] = {"archive_tiles": rdr.n_addressed}
    lat = latency_report(recs)
    rps = len(recs) / res["window_s"]
    run.report.update(latency=lat, rps=rps, client_window_s=res["window_s"],
                      artifact_mb=du_mb(os.path.join(out, "pois_merged"), archive))

    unit_wall = None
    if run.args.trace:
        probes = serve_probes(spark, out, reqs, tracer)
        unit_wall = probes["wall"]
        run.report["direct_p50_ms"] = probes["p50_ms"]
        run.report["server_overhead_ms"] = {
            k: lat[k]["p50_ms"] - v for k, v in probes["p50_ms"].items() if k in lat}
    return {"unit_wall": unit_wall,
            "e2e": {"throughput": rps, "p50_ms": lat["tile"]["p50_ms"],
                    "artifact_mb": run.report["artifact_mb"]}}


def serve_probes(spark, out: str, reqs: list[list], tracer: tracing.Tracer) -> dict:
    """Direct calls into the layers the server wraps, without HTTP:
    PMTilesReader.get, pois_in_bbox + to_geojson, class_histogram."""
    from osm_poi_cloud_spark.plans import query_api as qa
    from osm_poi_cloud_spark.sources.pmtiles import PMTilesReader

    pois = spark.read.parquet(os.path.join(out, "pois_merged"))
    tiles = [r[2] for r in reqs if r[0] in ("tile", "miss")][:SERVE_PROBE_TILES]
    boxes = [r[2] for r in reqs if r[0] == "bbox"][:SERVE_PROBE_BBOXES]
    ms: dict[str, list[float]] = {"tile": [], "bbox": [], "classes": []}
    t0 = time.perf_counter()
    with PMTilesReader(os.path.join(out, "pois.pmtiles")) as rdr:
        with tracer.span("sources.pmtiles.PMTilesReader.get") as s:
            for k in tiles:
                ms["tile"].append(timed(rdr.get, *k)[0] * 1e3)
            s["rows_out"] = len(tiles)
    for *box, cls in boxes:
        with tracer.span("plans.query_api.pois_in_bbox+to_geojson") as s:
            dt, rows = timed(lambda: qa.to_geojson(qa.pois_in_bbox(pois, *box, poi_class=cls)).collect())
            s["rows_out"] = len(rows)
        ms["bbox"].append(dt * 1e3)
    for _ in range(SERVE_PROBE_CLASSES):
        with tracer.span("plans.query_api.class_histogram") as s:
            dt, rows = timed(lambda: qa.class_histogram(pois).collect())
            s["rows_out"] = len(rows)
        ms["classes"].append(dt * 1e3)
    return {"wall": time.perf_counter() - t0,
            "p50_ms": {k: statistics.median(v) for k, v in ms.items()}}


# ------------------------------------------------------------------ tracing

PER_LAYER_SUMS = ("task_s", "exec_cpu_s", "python_mb", "shuffle_read_mb",
                  "shuffle_write_mb", "spill_mb", "jobs", "tasks")


def per_layer(spans: list[dict], metrics: dict[int, dict], unit_wall: float,
              overhead_s: float) -> tuple[dict, dict]:
    """Workload-level per-layer metrics summed over the top-level spans of
    the traced unit, and the per-span table by span name."""
    top = [metrics[s["id"]] for s in spans if s["parent"] is None]
    layer = {k: sum(m[k] for m in top) for k in PER_LAYER_SUMS}
    # Python-worker and GC time as shares of task time: serve runs no
    # Python UDF, so absolute seconds would read 0 there on every run
    for k in ("python", "gc"):
        layer[f"{k}_share"] = sum(m[f"{k}_s"] for m in top) / layer["task_s"] if layer["task_s"] else 0.0
    layer["driver_self_s"] = sum(m["self_s"] for m in top)
    layer["task_skew"] = max(m["task_skew"] for m in top)
    layer["pass_wall_s"] = unit_wall
    layer["span_coverage"] = sum(m["wall_s"] for m in top) / unit_wall
    layer["trace_overhead_s"] = overhead_s
    table = tracing.by_name(spans, metrics)
    for s in spans:
        if "rows_in" in s:
            table[s["name"]]["rows_in"] = table[s["name"]].get("rows_in", 0) + s["rows_in"]
    for m in table.values():
        m["rows_scanned_per_row_returned"] = m["records_read"] / max(1, m["rows_out"])
    return layer, table


# -------------------------------------------------------------------- main

WORKLOADS = {"etl": run_etl, "curate": run_curate, "serve": run_serve}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    run = Run(args)
    # the event log is on in both modes, so the traced run differs from
    # the untraced one only by its spans and job groups (Tracer.overhead_s)
    log_dir = os.path.join(args.work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    t0 = time.perf_counter()
    spark = session(tracing.eventlog_conf(log_dir))
    setup = {"session_s": time.perf_counter() - t0}
    tracer = tracing.Tracer(spark.sparkContext if args.trace else None)
    res = WORKLOADS[args.workload](run, spark, args.work, setup, tracer)
    spark.stop()  # also flushes the event log
    run.report["setup"] = setup

    out = {"attempted": run.attempted, "failed": run.failed, "unit_wall": res["unit_wall"],
           "errors": run.errors, "report": run.report}
    if args.trace:
        metrics = tracing.span_metrics(tracer.spans, tracing.read_event_log(log_dir))
        out["metrics"], run.report["spans"] = per_layer(tracer.spans, metrics, res["unit_wall"],
                                                        tracer.overhead_s)
        tracer.write(args.result + ".spans.json", metrics=metrics)
    else:
        out["metrics"] = dict(res["e2e"], setup_s=sum(setup.values()))
    with open(args.result, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
