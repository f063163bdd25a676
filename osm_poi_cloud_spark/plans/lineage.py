"""Per-partition lineage + checkpoint/resume (north rule).

The reference resumes a failed run by skipping shards that already have
``data.parquet`` or an ``_EMPTY`` marker in S3 (``README.md:228-232``,
``process.py:396-401``). This engine replaces object-listing with a
**lineage table**: one row per (run_id, stage, partition_key) holding
``row_count`` and an order-insensitive ``checksum`` — the ``_EMPTY``
marker becomes a ``row_count = 0`` lineage row (S10 in SURVEY §2), and
restart is an anti-join of the plan's partition keys against completed
lineage rows, so nothing is recomputed and nothing is double-counted.

Format: the lineage table is plain parquet appended per commit (an
Iceberg table would give the same semantics transactionally; the
sandbox has no Iceberg runtime jar, so the engine keeps the
lineage/checkpoint logic format-agnostic — see SURVEY §7 "Guiding
decisions").

Checksum: ``bit_xor(xxhash64(all columns))`` — commutative/associative
(partition-order independent), overflow-free under ANSI mode, and
sensitive to any changed value.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..frames import local_frame

LINEAGE_SCHEMA = (
    "run_id string, stage string, partition_key string, input_split string, "
    "row_count long, checksum long, committed_at double"
)


def partition_summary(df: DataFrame, key_col: str) -> DataFrame:
    """(partition_key, row_count, checksum) per key — one shuffle."""
    # canonical column order (sorted by name): the checksum must be stable
    # whether computed pre-write or from the read-back table, where the
    # partition column is reordered to the end
    data_cols = sorted(c for c in df.columns if c != key_col)
    return (
        df.groupBy(F.col(key_col).cast("string").alias("partition_key"))
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.expr(f"bit_xor(xxhash64({', '.join(data_cols)}))").alias("checksum"),
        )
    )


class LineageLog:
    """Append-only lineage table + resume queries."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, "_SUCCESS")) or (
            os.path.isdir(self.path) and any(f.endswith(".parquet") for f in os.listdir(self.path))
        )

    def read(self) -> DataFrame:
        if not self._exists():
            return local_frame(self.spark, [], LINEAGE_SCHEMA)
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)

    def completed_keys(self, run_id: str, stage: str) -> DataFrame:
        """Distinct partition keys already committed (including empty
        partitions — the _EMPTY analog)."""
        return (
            self.read()
            .filter((F.col("run_id") == run_id) & (F.col("stage") == stage))
            .select("partition_key")
            .distinct()
        )

    def committed(self, run_id: str, stage: str) -> set[str]:
        """``completed_keys`` collected to the driver — bounded by the
        shard count; no Spark job at all when no lineage table exists."""
        if not self._exists():
            return set()
        return {r["partition_key"] for r in self.completed_keys(run_id, stage).collect()}

    def commit(self, rows: list[tuple[str, int, int]], run_id: str, stage: str,
               input_split: str = "") -> None:
        """Append one lineage row per (partition_key, row_count, checksum);
        a row_count=0 row is the reference's _EMPTY marker
        (process.py:396-401). All rows share one ``committed_at``."""
        if not rows:
            return
        now = time.time()
        local_frame(
            self.spark, [(run_id, stage, k, input_split, n, c, now) for k, n, c in rows],
            LINEAGE_SCHEMA,
        ).write.mode("append").parquet(self.path)


def run_stage_with_resume(
    spark: SparkSession,
    df: DataFrame,
    out_path: str,
    lineage: LineageLog,
    run_id: str,
    stage: str,
    key_col: str,
    expected_keys: list[str] | None = None,
) -> dict:
    """Execute one partitioned stage idempotently.

    1. anti-join ``df`` against lineage keys already committed for
       (run_id, stage) — the reference's skip-processed-shards logic;
    2. append the surviving partitions to ``out_path`` (directory-
       partitioned by ``key_col`` so re-runs never rewrite done work);
    3. commit per-partition lineage rows (count + checksum);
    4. commit row_count=0 rows for ``expected_keys`` that produced no
       data, so the planner knows they were processed, not lost.

    Returns {"skipped": n, "processed": n, "rows": n}.

    Driver bookkeeping is one pass: the committed keys are collected
    once (none, and no anti-join, when no lineage table exists), the
    per-key summaries once, and steps 3-4 are one lineage append.
    """
    prior = lineage.committed(run_id, stage)
    todo = df
    if prior:
        done = local_frame(spark, [(k,) for k in sorted(prior)], f"{key_col} string")
        todo = df.join(F.broadcast(done), on=key_col, how="left_anti")
    # cluster by key: each partition directory is written by one task
    # (one file per key, the reference's one data.parquet per shard),
    # and the summary's groupBy on a string key reuses this exchange.
    # cache: summary + write must see the same data exactly once
    todo = todo.repartition(key_col).persist()
    try:
        summaries = [(r["partition_key"], r["row_count"], r["checksum"])
                     for r in partition_summary(todo, key_col).collect()]
        n_rows = sum(n for _, n, _ in summaries)
        if n_rows > 0:
            # dynamic partition overwrite, NOT append: if a previous attempt
            # crashed after writing files but before the lineage commit,
            # the retry must replace that partition's files, or the rows
            # would be duplicated. Committed partitions are never in `todo`
            # (anti-joined above), so only retried partitions are touched.
            (
                todo.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(key_col)
                .parquet(out_path, compression="snappy")
            )
        empty = []
        if expected_keys is not None:
            # expected keys that produced no data, minus those a previous
            # attempt already committed
            seen = prior | {k for k, _, _ in summaries}
            empty = [(k, 0, 0) for k in sorted(set(map(str, expected_keys)) - seen)]
        lineage.commit(summaries + empty, run_id, stage)
        return {"skipped": len(prior), "processed": len(summaries), "rows": int(n_rows)}
    finally:
        todo.unpersist()


def verify_against_lineage(spark: SparkSession, out_path: str, lineage: LineageLog,
                           run_id: str, stage: str, key_col: str) -> DataFrame:
    """Audit: recompute per-partition count+checksum from the written
    table and diff against lineage (detects partial writes/corruption)."""
    written = spark.read.parquet(out_path)
    got = partition_summary(written, key_col)
    exp = (
        lineage.read()
        .filter((F.col("run_id") == run_id) & (F.col("stage") == stage) & (F.col("row_count") > 0))
        .groupBy("partition_key")
        .agg(F.sum("row_count").alias("row_count"), F.expr("bit_xor(checksum)").alias("checksum"))
    )
    return (
        got.withColumnRenamed("row_count", "got_rows").withColumnRenamed("checksum", "got_sum")
        .join(exp, on="partition_key", how="full_outer")
        .filter(
            F.col("got_rows").isNull() | F.col("row_count").isNull()
            | (F.col("got_rows") != F.col("row_count")) | (F.col("got_sum") != F.col("checksum"))
        )
    )
