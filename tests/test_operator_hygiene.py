"""Scale-hygiene regressions (r1 verdict "what's wrong" items):

* no driver-side actions hiding inside non-planner operators
* compact() sizes output from file metadata, not a scan
* connected_components supports reliable checkpointing
* LSH/IVF determinism without driver probes
* checkpoint mode and shuffle width live only in operators/rounds.py,
  and every iterative operator restores the session state it changes
* driver rows enter Spark only through frames.local_frame (Arrow, no
  PythonRDD)
"""

import ast
import os
import pathlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_poi_cloud_spark.frames import local_frame
from osm_poi_cloud_spark.operators import dedup as dd
from osm_poi_cloud_spark.operators import graph
from osm_poi_cloud_spark.operators import knn
from osm_poi_cloud_spark.operators import quadtree as qt
from osm_poi_cloud_spark.operators import similarity as sim
from osm_poi_cloud_spark.plans import lineage as ln
from osm_poi_cloud_spark.plans import merge as mg

PKG = pathlib.Path(__file__).resolve().parents[1] / "osm_poi_cloud_spark"

# Driver actions allowed only in documented planner/training passes:
# (module, enclosing function) pairs. Anything new fails the scan.
ALLOWED_ACTIONS = {
    ("operators/quadtree.py", "tile_count_histogram"),   # bounded 4^max_zoom planning pass (main.rs:178-219)
    ("operators/spatial_join.py", "assign_to_shards"),   # small manifest zoom probe (opt-out via zooms=)
    ("operators/spatial_join.py", "assign_to_shards_grid"),  # broadcast manifest expansion (bounded 4^grid_zoom)
    ("operators/spatial_join.py", "shard_index_df"),     # same bounded manifest expansion (idx mapping)
    ("operators/similarity.py", "train_ivf_centroids"),  # bounded training sample collect
    ("operators/dedup.py", "minhash_lsh_dedup"),         # isEmpty() early-exit on persisted pairs
    ("operators/dedup.py", "_cc_star"),                  # 1-row checksum agg over checkpointed edges (convergence probe)
    ("operators/pq.py", "train_pq_codebooks"),           # bounded training sample collect (same pattern as IVF)
    ("operators/sketch.py", "approx_distinct"),          # 1-row estimate read (the convenience API's whole point)
    ("operators/mixture.py", "plan_mixture"),            # |sources|-row planning aggregate (bounded planner pass)
    ("operators/classifier.py", "train_quality_lr"),     # bounded training sample collect (IVF/PQ/BPE pattern)
    ("operators/similarity.py", "load_ivf_index"),       # bounded centroid-table read (n_centroids rows)
    ("operators/knn.py", "nearest_join"),                # per-round isEmpty convergence probe on checkpointed pending set (minhash_lsh_dedup pattern) + one sizing count
    ("operators/skew.py", "detect_heavy_keys"),          # bounded planner collect (<= count/threshold rows, documented)
}
# .count() is excluded: syntactically ambiguous with the GroupedData /
# F.count transformations; the iterative probe in connected_components
# reads checkpointed data by design.
ACTION_NAMES = {"collect", "first", "toPandas", "isEmpty", "head", "take"}


def _actions_in(path: pathlib.Path):
    rel = str(path.relative_to(PKG.parent / "osm_poi_cloud_spark"))
    tree = ast.parse(path.read_text())
    hits = []

    class V(ast.NodeVisitor):
        def __init__(self):
            self.fn = "<module>"

        def visit_FunctionDef(self, node):
            prev, self.fn = self.fn, node.name if self.fn == "<module>" else self.fn
            self.generic_visit(node)
            self.fn = prev

        def visit_Call(self, node):
            if isinstance(node.func, ast.Attribute) and node.func.attr in ACTION_NAMES:
                hits.append((rel, self.fn, node.lineno))
            self.generic_visit(node)

    V().visit(tree)
    return hits


def test_no_driver_actions_in_operators():
    offenders = []
    for path in sorted((PKG / "operators").glob("*.py")):
        for rel, fn, line in _actions_in(path):
            if (rel, fn) not in ALLOWED_ACTIONS:
                offenders.append(f"{rel}:{line} in {fn}()")
    assert not offenders, f"driver actions outside planner allowlist: {offenders}"


def test_source_bytes_is_metadata_only(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(50_000).withColumn("s", F.md5(F.col("id").cast("string"))).write.parquet(path)
    df = spark.read.parquet(path)
    expected = sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path) if f.endswith(".parquet")
    )
    assert mg.source_bytes(spark, df) == expected


def test_compact_file_count_tracks_real_bytes(spark, tmp_path):
    src = str(tmp_path / "src")
    # ~raw int64s compress small; write many small files
    spark.range(200_000).repartition(16).withColumn(
        "s", F.md5(F.col("id").cast("string"))
    ).write.parquet(src)
    real_mb = mg.source_bytes(spark, spark.read.parquet(src)) / (1024 * 1024)
    out = str(tmp_path / "out")
    target = max(1, int(real_mb / 3) or 1)
    mg.compact(spark, src, out, target_file_mb=target, sort_cols=())
    n_out = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    # r1's JSON-length estimate inflated bytes ~5-10x -> way too many files;
    # metadata sizing must land close to bytes/target
    assert n_out == max(1, round(real_mb / target))
    assert spark.read.parquet(out).count() == 200_000


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    edges = spark.createDataFrame(pd.DataFrame({"a": [1, 2, 10], "b": [2, 3, 11]}))
    comp = dd.connected_components(edges, checkpoint_dir=str(tmp_path / "ckpt")).toPandas()
    c = comp.set_index("node")["component"]
    assert c[1] == c[2] == c[3] == 1 and c[10] == c[11] == 10
    # reliable checkpoint files actually written
    assert any((tmp_path / "ckpt").rglob("*"))


SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def _round_scope_calls(path: pathlib.Path):
    """(line, what) for every checkpoint-dir access, eager checkpoint
    and shuffle-width key in one source file."""
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Constant) and node.value == SHUFFLE_PARTITIONS:
            yield node.lineno, SHUFFLE_PARTITIONS
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        name = node.func.attr
        if name in ("setCheckpointDir", "getCheckpointDir"):
            yield node.lineno, name
        elif name in ("checkpoint", "localCheckpoint"):
            # DataFrame.(local)checkpoint defaults to eager=True; a
            # non-constant positional arg is RoundScope.checkpoint(df)
            kw = {k.arg: k.value for k in node.keywords}
            eager = kw.get("eager", node.args[0] if node.args else ast.Constant(True))
            if isinstance(eager, ast.Constant) and eager.value is True:
                yield node.lineno, f"{name}(eager=True)"


def test_round_scope_is_the_only_checkpoint_and_width_owner():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        for line, what in _round_scope_calls(path):
            if rel == "operators/rounds.py":
                continue
            if rel == "config.py" and what == SHUFFLE_PARTITIONS:
                continue  # the session builder's default width
            offenders.append(f"{rel}:{line} {what}")
    assert not offenders, f"use operators/rounds.round_scope instead: {offenders}"


def test_driver_rows_enter_spark_only_through_local_frame():
    """A list-based ``createDataFrame`` costs a PythonRDD stage on every
    action that reads the frame; ``frames.local_frame`` is the one way
    driver rows enter Spark."""
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        sites += [f"{rel}:{n.lineno}" for n in ast.walk(ast.parse(path.read_text()))
                  if isinstance(n, ast.Attribute) and n.attr == "createDataFrame"]
    offenders = [s for s in sites if not s.startswith("frames.py:")]
    assert not offenders, f"use frames.local_frame instead: {offenders}"
    assert len(sites) == 1, sites


def _has_python_rdd(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def test_local_frames_run_no_python_worker(spark, tmp_path):
    shards = [qt.Shard(1, 0, 1, 10), qt.Shard(2, 3, 3, 0)]
    assert _has_python_rdd(spark.createDataFrame([(1, "a")], "k int, s string"))  # the list path
    assert not _has_python_rdd(local_frame(spark, [(1, "a")], "k int, s string"))
    assert not _has_python_rdd(qt.shards_df(spark, shards))
    assert not _has_python_rdd(ln.LineageLog(spark, str(tmp_path / "absent")).read())


# every schema shape an engine local_frame site builds
@pytest.mark.parametrize("schema,rows", [
    ("polygon_id string, rings array<array<array<double>>>",
     [("p", [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]], [[0.2, 0.2], [0.4, 0.2], [0.2, 0.2]]]),
      ("q", []), ("r", None)]),
    ("media_id string, payload binary, width int", [("a", b"\x89PNG\x00\xff", 3), ("b", b"", 0), ("c", None, None)]),
    ("host string, allow boolean, rule_len int", [("h", True, 1), ("g", False, 0), ("n", None, 2)]),
    ("z int, x long, shard_id string", [(1, None, "1-0-1"), (None, 2**40, None), (-3, -1, "")]),
], ids=["nested-array", "binary", "boolean", "null-int-long"])
def test_local_frame_round_trips_list_path(spark, schema, rows):
    got, ref = local_frame(spark, rows, schema), spark.createDataFrame(rows, schema)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()


def test_local_frame_from_pandas_keeps_schema_types(spark):
    pdf = pd.DataFrame({"gy": np.array([3, 4], dtype=np.int64), "gx": np.array([1, 2], dtype=np.int32),
                        "shard_id": ["a", "b"], "extra": [0.5, 1.5]})
    schema = "gx long, gy long, shard_id string"
    got = local_frame(spark, pdf, schema)
    assert got.schema == spark.createDataFrame([], schema).schema
    assert got.collect() == spark.createDataFrame([(1, 3, "a"), (2, 4, "b")], schema).collect()
    empty = local_frame(spark, pd.DataFrame({"gx": [], "gy": [], "shard_id": []}), schema)
    assert empty.schema == got.schema and empty.collect() == []


def _graph_edges(spark):
    return spark.createDataFrame(
        pd.DataFrame([(0, 1), (1, 2), (2, 0), (3, 4)], columns=["src", "dst"]))


def _nn_inputs(spark):
    lp = pd.DataFrame({"qid": [0, 1], "x": [0, 100], "y": [0, 100]})
    rp = pd.DataFrame({"rid": [0], "x": [50], "y": [50]})
    return spark.createDataFrame(lp), spark.createDataFrame(rp)


ROUND_OPERATORS = {
    "connected_components": lambda spark, ckpt: dd.connected_components(
        _graph_edges(spark), "src", "dst", checkpoint_dir=ckpt),
    "pagerank": lambda spark, ckpt: graph.pagerank(
        _graph_edges(spark), iters=3, checkpoint_dir=ckpt),
    "hits": lambda spark, ckpt: graph.hits(
        _graph_edges(spark), iters=3, checkpoint_dir=ckpt),
    "label_communities": lambda spark, ckpt: graph.label_communities(
        _graph_edges(spark), iters=3, checkpoint_dir=ckpt),
    "nearest_join": lambda spark, ckpt: knn.nearest_join(
        *_nn_inputs(spark), cell0=10.0, x_col="x", y_col="y",
        left_id="qid", right_id="rid", checkpoint_dir=ckpt),
}


def _session_state(spark):
    return spark.conf.get(SHUFFLE_PARTITIONS), spark.sparkContext.getCheckpointDir()


@pytest.mark.parametrize("reliable", [False, True], ids=["local", "reliable"])
@pytest.mark.parametrize("op", sorted(ROUND_OPERATORS))
def test_round_operators_restore_session_state(spark, tmp_path, op, reliable):
    """Every iterative operator leaves the shuffle width and the
    checkpoint dir as it found them, with and without checkpoint_dir."""
    ckpt = str(tmp_path / "ckpt") if reliable else None
    before = _session_state(spark)
    out = ROUND_OPERATORS[op](spark, ckpt).toPandas()
    assert len(out) == (2 if op == "nearest_join" else 5)  # queries / nodes
    assert _session_state(spark) == before
    if reliable:  # reliable checkpoint files actually written
        assert any((tmp_path / "ckpt").rglob("*"))
    if op == "nearest_join":
        # error path: a point that cannot converge in one round raises
        # and still restores both settings
        with pytest.raises(RuntimeError, match="did not converge"):
            knn.nearest_join(*_nn_inputs(spark), cell0=10.0, x_col="x",
                             y_col="y", left_id="qid", right_id="rid",
                             max_rounds=1, checkpoint_dir=ckpt)
        assert _session_state(spark) == before


def test_lsh_bucket_lazy_dim_matches_explicit(spark):
    rng = np.random.RandomState(5)
    vecs = [rng.standard_normal(24).tolist() for _ in range(64)]
    df = spark.createDataFrame(pd.DataFrame({"vec_id": range(64), "embedding": vecs}))
    explicit = df.select(sim.make_lsh_bucket_udf(24, bits=8)(F.col("embedding")).alias("b")).toPandas()
    lazy = df.select(sim.make_lsh_bucket_udf(bits=8)(F.col("embedding")).alias("b")).toPandas()
    assert list(explicit["b"]) == list(lazy["b"])


def test_ivf_sample_lloyd_deterministic(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = sim.train_ivf_centroids(emb, n_centroids=8, seed=19)
    c2 = sim.train_ivf_centroids(emb.repartition(7), n_centroids=8, seed=19)
    np.testing.assert_array_equal(c1, c2)  # bitwise, regardless of partitioning
    q = emb.filter(F.col("vec_id") < 4).select(F.col("vec_id").alias("query_id"), "embedding")
    _, idx1 = sim.ivf_index(emb, n_centroids=8, seed=19)
    _, idx2 = sim.ivf_index(emb, n_centroids=8, seed=19)
    r1 = sim.ivf_ann(idx1, c1, q, k=5, nprobe=3).toPandas()
    r2 = sim.ivf_ann(idx2, c2, q, k=5, nprobe=3).toPandas()
    pd.testing.assert_frame_equal(
        r1.sort_values(["query_id", "rn"]).reset_index(drop=True),
        r2.sort_values(["query_id", "rn"]).reset_index(drop=True),
    )


def test_embedding_dedup_no_driver_probe(spark):
    # dim omitted entirely: operator must not run any job at plan time
    rng = np.random.RandomState(23)
    base = rng.standard_normal(16)
    rows = [(0, base.tolist()), (1, (base * 1.0001).tolist()), (2, rng.standard_normal(16).tolist())]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    pairs = sim.embedding_cosine_dedup_pairs(df, threshold=0.999, bits=4)
    got = set(map(tuple, pairs.toPandas()[["a", "b"]].to_numpy()))
    assert (0, 1) in got and not any(2 in p for p in got)
