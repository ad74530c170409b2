"""Distributed dense-index assignment (the scalable replacement for a
global un-partitioned Window.orderBy, which Spark executes as a single
task holding the whole dataset).

Used for the reference's dense id spaces: tile DFS indices
(/root/reference/py3dtilers/Common/tileset_creation.py:23,130) and OBJ
1-based vertex ids (Common/obj_writer.py:31-56).

Shape: range-repartition on the order keys (so partition p's keys all sort
before partition p+1's — RangePartitioner guarantees non-overlapping,
equal-keys-colocated ranges), number rows WITHIN each partition, then add
the exclusive prefix-sum of partition counts (a #partitions-row broadcast).
Global index = offset + local row_number. Two narrow shuffles of the data
(range exchange + local sort), one tiny aggregation — no stage ever sees
more than one partition's rows at once, at any scale.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dense_index(
    df: DataFrame,
    order_cols: list[str],
    idx_col: str,
    base: int = 0,
) -> DataFrame:
    """Append `idx_col`: the dense rank of each row under lexicographic
    `order_cols` order, starting at `base`. Rows must be unique on
    order_cols (dedupe first — this indexes, it does not group)."""
    parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    ranged = df.repartitionByRange(int(parts), *order_cols)
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    local = (
        ranged.withColumn("_pid", F.spark_partition_id())
        .withColumn("_rn", F.row_number().over(w))
    )
    # `local` feeds two consumers (counts -> offsets, and the final join).
    # The range exchange samples its bounds per physical execution and
    # spark_partition_id is nondeterministic, so if the optimizer does NOT
    # unify both subtrees into one ReusedExchange each consumer can see a
    # DIFFERENT partitioning and the _pid values no longer line up across
    # the join — silently wrong dense ids (the exact failure observed and
    # fixed in kd_rank._rank_step). Materialize once so every consumer
    # reads the same partitioning; regression-pinned by
    # tests/test_indexing.py::test_dense_index_consumers_agree.
    local = local.localCheckpoint(eager=True)
    # exclusive prefix sum over per-partition counts: #partitions rows (a
    # handful of longs), computed as a triangular self-join instead of an
    # un-partitioned window — O(P^2) on P = #shuffle partitions is free,
    # stays fully lazy, and never trips Spark's single-partition WindowExec
    # path (whose warning exists for accidental whole-dataset windows)
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    offsets = (
        counts.alias("a")
        .join(
            counts.select(
                F.col("_pid").alias("_bpid"), F.col("_cnt").alias("_bcnt")
            ),
            F.col("_bpid") < F.col("a._pid"),
            "left",
        )
        .groupBy("a._pid")
        .agg(F.coalesce(F.sum("_bcnt"), F.lit(0)).alias("_ofs"))
        .select(F.col("a._pid").alias("_pid"), "_ofs")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(idx_col, F.col("_ofs") + F.col("_rn") - 1 + F.lit(base))
        .drop("_pid", "_rn", "_ofs")
    )
