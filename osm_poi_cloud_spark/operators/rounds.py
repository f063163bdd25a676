"""Round scope shared by the iterative operators.

``dedup.connected_components``, ``graph.pagerank``, ``graph.hits``,
``graph.label_communities`` and ``knn.nearest_join`` each run a loop of
rounds that eagerly materializes its state once per round, so lineage
never chains across rounds. This module is the only code that decides how
those rounds run:

* **Checkpoint mode.** With ``checkpoint_dir`` set, every round state is a
  *reliable* ``checkpoint()`` (an executor lost mid-job resumes from the
  last round instead of recomputing the whole lineage), written under a
  per-run ``<checkpoint_dir>/<prefix>-<uuid>`` subdirectory: later
  ``.checkpoint()`` calls in the session never land there, and the caller
  can delete that one subdirectory after consuming the result. Unset, it
  is a ``localCheckpoint`` (fine in local mode and tests, NOT
  fault-tolerant on a cluster).
* **Checkpoint-dir restore.** On exit the session's previous checkpoint
  dir is put back through ``SparkContext.setCheckpointDir``; when none was
  set it is cleared again (Spark wraps the argument in ``Option``, so
  ``None`` clears). Spark creates a fresh child directory under every dir
  it is given, so a previously set dir comes back as a new child of
  itself, never as the per-run subdirectory.
* **Shuffle width.** ``ceil(rows / ROWS_PER_PARTITION)`` partitions,
  derived from a map-only count the operator takes *before* its first
  shuffle (persist the raw input, count, then shuffle), set as
  ``spark.sql.shuffle.partitions`` for the rest of the scope. Iterative
  rounds over small or rapidly contracting inputs otherwise pay
  session-width task scheduling for near-empty partitions, and huge
  inputs get more width than the session default. The session value is
  restored on every exit path.
* **Cached inputs.** Frames registered with ``persist`` are unpersisted
  when the scope exits.

Usage::

    with round_scope(spark, "pr", checkpoint_dir) as rounds:
        e = rounds.persist(raw_edges)
        rounds.size(e.count())          # map-only, before any shuffle
        for _ in range(iters):
            state = rounds.checkpoint(step(state))
        ...                             # materialize the result in scope

A frame returned out of the scope must already be materialized (a round
checkpoint) if its shuffles are to run at the derived width.
"""

from __future__ import annotations

import math
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

ROWS_PER_PARTITION = 250_000

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


class RoundScope:
    """Handle an operator uses inside ``round_scope``."""

    def __init__(self, spark: SparkSession, reliable: bool):
        self._spark = spark
        self._reliable = reliable
        self._cached: list[DataFrame] = []

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """Eagerly materialize one round's state (reliable or local)."""
        return (df.checkpoint(eager=True) if self._reliable
                else df.localCheckpoint(eager=True))

    def size(self, rows: int) -> None:
        """Set the shuffle width for the rest of the scope from a
        map-only row count."""
        width = max(1, math.ceil(rows / ROWS_PER_PARTITION))
        self._spark.conf.set(_SHUFFLE_PARTITIONS, str(width))

    def persist(self, df: DataFrame) -> DataFrame:
        """``df.persist()``, unpersisted when the scope exits."""
        self._cached.append(df.persist())
        return self._cached[-1]


@contextmanager
def round_scope(spark: SparkSession, prefix: str,
                checkpoint_dir: str | None = None):
    """Run an iterative operator's rounds; see the module docstring."""
    sc = spark.sparkContext
    prev_width = spark.conf.get(_SHUFFLE_PARTITIONS)
    prev_dir = None
    if checkpoint_dir is not None:
        prev_dir = sc.getCheckpointDir()
        sc.setCheckpointDir(
            f"{checkpoint_dir.rstrip('/')}/{prefix}-{uuid.uuid4().hex}")
    scope = RoundScope(spark, reliable=checkpoint_dir is not None)
    try:
        yield scope
    finally:
        spark.conf.set(_SHUFFLE_PARTITIONS, prev_width)
        for df in scope._cached:
            df.unpersist()
        if checkpoint_dir is not None:
            sc.setCheckpointDir(prev_dir)
