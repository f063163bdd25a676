"""Curriculum ordering: deterministic interleaved training-data order.

Given per-source mixture weights and a per-document quality score,
emit the order a trainer should consume documents in: within each
source, best-first; across sources, proportional deficit-round-robin
interleaving (the r-th document of a source with weight w lands near
global position r/w — so a 60% source contributes ~6 of every 10
consecutive documents, from the start of training, not in a block).

The interleave key is exact integer arithmetic:
``key = ((rank - 1) * 1_000_000) DIV w_ppm`` (truncating DIV ==
DuckDB ``//`` on non-negative operands), tie-broken by (key, source,
rank) — fully deterministic, no floats, no RNG.

Scale shape: within-source ranking is a hash-partitioned window (one
shuffle); the GLOBAL order is deliberately *not* a single-partition
window — ``materialize_order`` uses ``repartitionByRange`` +
``sortWithinPartitions`` (Spark's scalable total-order sort: range
boundaries from a driver-side sample, then parallel sorted
partitions), which writes a globally-ordered dataset without ever
funneling rows through one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..frames import local_frame


def curriculum_keys(df: DataFrame, weights_ppm: dict[str, int],
                    source_col: str = "source", score_col: str = "score",
                    id_col: str = "doc_id") -> DataFrame:
    """Attach ``rank_in_source`` (1-based, score desc / id asc) and the
    integer ``interleave_key``. Sources missing from ``weights_ppm``
    are dropped (not part of the mixture); weights must be positive."""
    if not weights_ppm:
        raise ValueError("need at least one source weight")
    for s, w in weights_ppm.items():
        if w <= 0:
            raise ValueError(f"weight for {s!r} must be positive, got {w}")
    spark = df.sparkSession
    wdf = local_frame(
        spark, [(s, int(w)) for s, w in sorted(weights_ppm.items())],
        f"{source_col} string, w_ppm long")
    w = Window.partitionBy(source_col).orderBy(
        F.desc(score_col), F.asc(id_col))
    return (
        df.join(F.broadcast(wdf), source_col)
        .withColumn("rank_in_source", F.row_number().over(w).cast("long"))
        .withColumn(
            "interleave_key",
            F.expr("(rank_in_source - 1) * 1000000L DIV w_ppm"))
    )


def materialize_order(keyed: DataFrame, num_partitions: int,
                      source_col: str = "source",
                      id_col: str = "doc_id") -> DataFrame:
    """Globally-ordered dataset via the scalable sort: range partition
    on the full deterministic sort key, sort within partitions. Row N
    of partition-concatenation order is the N-th training document."""
    if num_partitions < 1:
        raise ValueError(f"need num_partitions >= 1, got {num_partitions}")
    keys = [F.col("interleave_key"), F.col(source_col), F.col(id_col)]
    return (keyed.repartitionByRange(num_partitions, *keys)
            .sortWithinPartitions(*keys))
