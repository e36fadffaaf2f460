"""Shared physical-layout helpers for the operator library."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallel(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the input is pathologically
    under-partitioned (e.g. one small parquet file scans as one
    partition, so a following explode / nest-loop join runs on one
    core). A well-partitioned large table passes through untouched —
    no gratuitous full shuffle. Measured ~2-4× on the sf0.1 similarity
    and shingle-join queries, whose input is a single file.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(par // 2, 2):
        return df.repartition(par)
    return df


def pin(df: DataFrame) -> DataFrame:
    """Pin ``df``: the engine's one way to reuse a frame, a LAZY LOCAL
    CHECKPOINT. Every operator that reads a frame more than once, or
    iterates over it, pins it here and nowhere else.

    - The lineage is cut: the result's analyzed plan is a
      ``LogicalRDD`` leaf (partitioning, ordering and size statistics
      kept), so a loop that pins its state every round replans in
      time linear in the round count, and every consumer reads the
      same computed rows, never a re-run of the upstream plan.
    - The first consumer materializes the frame: its job computes the
      frame's last stage and stores the blocks as a side effect. An
      eager checkpoint would add one blocking job per pin, the per-job
      scheduler cost the engine avoids. (Adaptive execution still runs
      the frame's upstream shuffle stages when ``pin`` plans it; a
      frame without a shuffle launches no job here.)
    - Blocks are stored memory-and-disk, so under memory pressure they
      spill to disk and are re-read, never recomputed (a ``cache()``
      block can be evicted and recomputed per consumer).
    - A lost executor is NOT recoverable: the blocks live only in the
      executor that computed them. That is accepted because every
      session is ``local[*]``, where the driver is the only executor;
      a cluster deployment would change this one function to a
      reliable ``checkpoint()`` in a checkpoint directory.

    Release the blocks with :func:`unpin` once nothing reads the frame.
    """
    return df.localCheckpoint(eager=False)


def unpin(df: DataFrame) -> None:
    """Release the blocks of a frame returned by :func:`pin`.

    ``DataFrame.unpersist()`` does nothing on a checkpointed frame: the
    blocks belong to the RDD under the plan's ``LogicalRDD`` leaf, so
    that RDD is unpersisted here. Call it only when nothing will read
    ``df`` again, directly or through a frame derived from it that is
    not itself materialized: such a read fails with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``.
    """
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        raise ValueError("unpin() takes a frame returned by pin()")
    plan.rdd().unpersist(True)
