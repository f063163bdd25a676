"""HTTP endpoint semantics vs the reference Lambda
(_deprecated/athena/lambda_handler.py): /health, /classes, /pois with
bbox validation, class filter, limit cap, GeoJSON envelope."""

import json
import threading
import urllib.error
import urllib.request

import pandas as pd
import pytest

from osm_poi_cloud_spark.server import make_server


@pytest.fixture(scope="module")
def base_url(spark):
    pdf = pd.DataFrame({
        "poi_id": [f"p{i}" for i in range(30)],
        "name": [f"POI {i}" for i in range(30)],
        "class": ["cafe_bakery"] * 10 + ["retail"] * 20,
        "lon": [-122.40 + i * 0.001 for i in range(30)],
        "lat": [37.70 + i * 0.001 for i in range(30)],
        "lon_bucket": [-123] * 30,
        "lat_bucket": [37] * 30,
    })
    from osm_poi_cloud_spark.operators.mvt import encode_tiles_mvt
    from osm_poi_cloud_spark.operators.tiling import assign_tile_pyramid, build_tiles

    pois = spark.createDataFrame(pdf)
    tiles = encode_tiles_mvt(build_tiles(assign_tile_pyramid(pois, 2, 4)))
    srv = make_server(pois, tiles=tiles)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    host, port = srv.server_address
    yield f"http://{host}:{port}"
    srv.shutdown()


def _get(url):
    try:
        with urllib.request.urlopen(url) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_health(base_url):
    assert _get(f"{base_url}/health") == (200, {"status": "ok"})


def test_classes(base_url):
    code, body = _get(f"{base_url}/classes")
    assert code == 200
    assert body["classes"] == [
        {"class": "retail", "count": 20},
        {"class": "cafe_bakery", "count": 10},
    ]


def test_pois_bbox_and_class_filter(base_url):
    q = "min_lon=-122.41&min_lat=37.69&max_lon=-122.36&max_lat=37.75"
    code, body = _get(f"{base_url}/pois?{q}")
    assert code == 200
    assert body["type"] == "FeatureCollection" and body["count"] == 30
    f = body["features"][0]
    assert f["type"] == "Feature" and f["geometry"]["type"] == "Point"
    assert set(f["properties"]) >= {"name", "class", "poi_id"}

    code, body = _get(f"{base_url}/pois?{q}&class=cafe_bakery")
    assert code == 200 and body["count"] == 10

    code, body = _get(f"{base_url}/pois?{q}&limit=5")
    assert code == 200 and body["count"] == 5


def test_tile_endpoint(base_url):
    """/tiles/z/x/y.mvt serves decodable binary vector tiles; empty
    tiles return 204."""
    import sys

    sys.path.insert(0, "tools")
    import mvt_decode as md

    from osm_poi_cloud_spark.functions import tile_math as tm
    import numpy as np

    # the fixture's POIs all sit near (-122.4, 37.7); find their z4 tile
    x, y = tm.lon_lat_to_tile(np.float64(-122.40), np.float64(37.70), 4)
    with urllib.request.urlopen(f"{base_url}/tiles/4/{int(x)}/{int(y)}.mvt") as r:
        assert r.status == 200
        assert r.headers["Content-Type"] == "application/vnd.mapbox-vector-tile"
        blob = r.read()
    layers = md.decode_mvt(blob)
    assert layers[0]["name"] == "pois"
    assert len(layers[0]["features"]) == 30

    # far-away tile -> 204 no content
    with urllib.request.urlopen(f"{base_url}/tiles/4/0/0.mvt") as r:
        assert r.status == 204


def test_tile_endpoint_from_partitioned_parquet(spark, tmp_path):
    """Production tile backend (r2 verdict #7): serve /tiles from a
    z-partitioned parquet table. The request's plan must show the z
    predicate as a PARTITION filter (directory pruning — only the one
    z directory is scanned) with x/y pushed to parquet stats, and the
    served bytes must equal the ad-hoc DataFrame backend's."""
    import sys

    sys.path.insert(0, "tools")
    import mvt_decode as md
    import numpy as np
    from pyspark.sql import functions as F

    from osm_poi_cloud_spark.functions import tile_math as tm
    from osm_poi_cloud_spark.operators.mvt import encode_tiles_mvt
    from osm_poi_cloud_spark.operators.tiling import assign_tile_pyramid, build_tiles

    pdf = pd.DataFrame({
        "poi_id": [f"p{i}" for i in range(30)],
        "name": [f"POI {i}" for i in range(30)],
        "class": ["retail"] * 30,
        "lon": [-122.40 + i * 0.001 for i in range(30)],
        "lat": [37.70 + i * 0.001 for i in range(30)],
    })
    pois = spark.createDataFrame(pdf)
    tiles = encode_tiles_mvt(build_tiles(assign_tile_pyramid(pois, 2, 4)))
    path = str(tmp_path / "tiles")
    (tiles.repartitionByRange("z", "x", "y")
     .write.partitionBy("z").parquet(path))

    # plan shape: z is a partition filter, x/y are pushed data filters
    stored = spark.read.parquet(path)
    plan = stored.filter((F.col("z") == 4) & (F.col("x") == 2) & (F.col("y") == 6)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "(z" in plan.split("PartitionFilters", 1)[1][:80]
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1][:120]
    assert "EqualTo(x,2)" in pushed and "EqualTo(y,6)" in pushed

    srv = make_server(pois, tiles_path=path)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        host, port = srv.server_address
        x, y = tm.lon_lat_to_tile(np.float64(-122.40), np.float64(37.70), 4)
        with urllib.request.urlopen(f"http://{host}:{port}/tiles/4/{int(x)}/{int(y)}.mvt") as r:
            assert r.status == 200
            blob = r.read()
        layers = md.decode_mvt(blob)
        assert layers[0]["name"] == "pois" and len(layers[0]["features"]) == 30
        with urllib.request.urlopen(f"http://{host}:{port}/tiles/4/0/0.mvt") as r:
            assert r.status == 204
    finally:
        srv.shutdown()

    # both backends at once is a config error
    with pytest.raises(ValueError):
        make_server(pois, tiles=tiles, tiles_path=path)


def test_tile_endpoint_from_pmtiles_archive(spark, tmp_path):
    """Reference production-read-path parity (r5 verdict #2): /tiles
    served straight from the PMTiles v3 archive (range reads, zero
    Spark per request — MapView.tsx:139-167 consumes the artifact the
    same way). Directory-walk parity: EVERY addressed tile in the
    pyramid must come back byte-identical from both the archive and
    the z-partitioned parquet backend; unaddressed tiles 204 on both."""
    import numpy as np
    from pyspark.sql import functions as F

    from osm_poi_cloud_spark.operators.mvt import encode_tiles_mvt, write_pmtiles_streamed
    from osm_poi_cloud_spark.operators.tiling import assign_tile_pyramid, build_tiles

    pdf = pd.DataFrame({
        "poi_id": [f"p{i}" for i in range(40)],
        "name": [f"POI {i}" for i in range(40)],
        "class": ["retail"] * 40,
        "lon": [-150.0 + (i % 8) * 23.0 for i in range(40)],
        "lat": [-40.0 + (i // 8) * 19.0 for i in range(40)],
    })
    pois = spark.createDataFrame(pdf)
    tiles = encode_tiles_mvt(build_tiles(assign_tile_pyramid(pois, 2, 5)))
    pq_path = str(tmp_path / "tiles")
    (tiles.repartitionByRange("z", "x", "y")
     .write.partitionBy("z").parquet(pq_path))
    arc_path = str(tmp_path / "tiles.pmtiles")
    stats = write_pmtiles_streamed(tiles, arc_path, 2, 5)
    addressed = [(r["z"], r["x"], r["y"]) for r in
                 tiles.select("z", "x", "y").collect()]
    assert stats["tiles"] == len(addressed) > 20

    def _serve(**kw):
        srv = make_server(pois, **kw)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        return srv, "http://{}:{}".format(*srv.server_address)

    srv_a, url_a = _serve(pmtiles_path=arc_path)
    srv_b, url_b = _serve(tiles_path=pq_path)
    try:
        for z, x, y in addressed:
            with urllib.request.urlopen(f"{url_a}/tiles/{z}/{x}/{y}.mvt") as r:
                assert r.status == 200
                blob_a = r.read()
            with urllib.request.urlopen(f"{url_b}/tiles/{z}/{x}/{y}.mvt") as r:
                blob_b = r.read()
            assert blob_a == blob_b, (z, x, y)
        # an unaddressed in-range tile and an out-of-range z: 204 both ways
        have = set(addressed)
        z = 5
        empty = next((x, y) for x in range(32) for y in range(32)
                     if (z, x, y) not in have)
        for url in (url_a, url_b):
            with urllib.request.urlopen(f"{url}/tiles/5/{empty[0]}/{empty[1]}.mvt") as r:
                assert r.status == 204
        with urllib.request.urlopen(f"{url_a}/tiles/9/0/0.mvt") as r:
            assert r.status == 204
    finally:
        srv_a.shutdown()
        srv_b.shutdown()

    # the same tiles gzip-compressed (header tile_compression = 2, as
    # tippecanoe writes) with one corrupted deflate body: that tile is a
    # 204, never a 500; an intact tile still serves decompressed
    import gzip

    from osm_poi_cloud_spark.operators.mvt import write_pmtiles
    from osm_poi_cloud_spark.sources.pmtiles import PMTilesReader

    with PMTilesReader(arc_path) as arc:
        gz = {t: gzip.compress(arc.get(*t), mtime=0) for t in addressed}
    gz_path = tmp_path / "tiles_gz.pmtiles"
    write_pmtiles(((*t, b) for t, b in gz.items()), str(gz_path), 2, 5)
    raw = bytearray(gz_path.read_bytes())
    raw[98] = 2
    bad = addressed[0]
    good = next(t for t in addressed if gz[t] != gz[bad])
    raw[raw.find(gz[bad]) + 10] = 0xFF  # reserved deflate block type
    gz_path.write_bytes(bytes(raw))
    srv_c, url_c = _serve(pmtiles_path=str(gz_path))
    try:
        with urllib.request.urlopen("{}/tiles/{}/{}/{}.mvt".format(url_c, *bad)) as r:
            assert r.status == 204
        with urllib.request.urlopen("{}/tiles/{}/{}/{}.mvt".format(url_c, *good)) as r:
            assert r.status == 200 and r.read() == gzip.decompress(gz[good])
    finally:
        srv_c.shutdown()

    # more than one backend is a config error
    with pytest.raises(ValueError):
        make_server(pois, tiles_path=pq_path, pmtiles_path=arc_path)


def test_pois_validation_errors(base_url):
    # oversized bbox (>5 degrees, lambda_handler.py:119-123)
    code, body = _get(f"{base_url}/pois?min_lon=-130&min_lat=30&max_lon=-110&max_lat=45")
    assert code == 400 and "error" in body
    # min > max
    code, _ = _get(f"{base_url}/pois?min_lon=-110&min_lat=30&max_lon=-120&max_lat=45")
    assert code == 400
    # missing params
    code, _ = _get(f"{base_url}/pois?min_lon=-122")
    assert code == 400
    # non-positive / non-integer limit -> 400, not 500 (lambda_handler.py:103-135)
    ok_box = "min_lon=-122.41&min_lat=37.69&max_lon=-122.36&max_lat=37.75"
    for bad in ("-1", "0", "abc"):
        code, body = _get(f"{base_url}/pois?{ok_box}&limit={bad}")
        assert code == 400 and "error" in body, bad
    # unknown route
    code, _ = _get(f"{base_url}/nope")
    assert code == 404
