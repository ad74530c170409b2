"""Distributed exact rank (the scalable replacement for a global
un-partitioned Window.orderBy, which Spark executes as a single task
holding the whole dataset).

One primitive, ``range_rank``, serves two jobs:

- ``dense_index``: the reference's dense id spaces, tile DFS indices
  (Common/tileset_creation.py:23,130) and OBJ 1-based vertex ids
  (Common/obj_writer.py:31-56);
- the exact kd median levels (``kd_rank._rank_step``), which rank rows
  inside each live kd cell.

Shape: range-repartition on the group and order keys (so partition p's
keys all sort before partition p+1's — RangePartitioner guarantees
non-overlapping, equal-keys-colocated ranges), number rows WITHIN each
(partition, group), then add the exclusive prefix-sum of the
per-(partition, group) counts (a P x G row broadcast). Rank = offset +
local row_number. Two narrow shuffles of the data (range exchange + local
sort), one tiny aggregation — no stage ever sees more than one partition's
rows at once, at any scale.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def range_rank(
    df: DataFrame, order_cols: list[str], group_cols: tuple[str, ...] = ()
) -> tuple[DataFrame, DataFrame]:
    """Exact 1-based rank ``_rn`` of each row within its (non-null)
    `group_cols` group under lexicographic `order_cols` order.

    Returns ``(ranked, counts)``: `df`'s rows with ``_rn`` appended, and the
    per-(partition, group) row counts ``(_pid, *group_cols, _cnt)``. Ties
    on `order_cols` get distinct ranks in an unspecified order, so callers
    that need exact ranks order by a unique key."""
    group_cols = list(group_cols)
    parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = df.repartitionByRange(parts, *group_cols, *order_cols)
    w = Window.partitionBy("_pid", *group_cols).orderBy(*order_cols)
    local = (
        ranged.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lrn", F.row_number().over(w))
    )
    # `local` feeds several consumers (counts -> offsets, the final join,
    # and the caller's use of `counts`). The range exchange samples its
    # bounds per physical execution and spark_partition_id is
    # nondeterministic, so if the optimizer does NOT unify the subtrees
    # into one ReusedExchange each consumer can see a DIFFERENT
    # partitioning and the _pid values no longer line up across the joins
    # — silently wrong ranks (observed: ~1% wrong kd ranks at 3k rows).
    # Materialize once so every consumer reads the same partitioning;
    # regression-pinned by tests/test_indexing.py.
    local = local.localCheckpoint(eager=True)
    counts = local.groupBy("_pid", *group_cols).agg(F.count(F.lit(1)).alias("_cnt"))
    # exclusive prefix sum within each group over partition ids: P x G
    # rows, computed as a triangular self-join instead of an un-partitioned
    # window — tiny, fully lazy, and never trips Spark's single-partition
    # WindowExec path (whose warning exists for accidental whole-dataset
    # windows)
    b = counts.select(
        F.col("_pid").alias("_bpid"),
        *[F.col(g).alias(f"_b_{g}") for g in group_cols],
        F.col("_cnt").alias("_bcnt"),
    )
    cond = F.col("_bpid") < F.col("a._pid")
    for g in group_cols:
        cond = cond & (F.col(f"_b_{g}") == F.col(f"a.{g}"))
    keys = ["_pid", *group_cols]
    offsets = (
        counts.alias("a")
        .join(b, cond, "left")
        .groupBy(*[f"a.{k}" for k in keys])
        .agg(F.coalesce(F.sum("_bcnt"), F.lit(0)).alias("_ofs"))
        .select(*[F.col(f"a.{k}").alias(k) for k in keys], "_ofs")
    )
    ranked = (
        local.join(F.broadcast(offsets), keys)
        .withColumn("_rn", F.col("_ofs") + F.col("_lrn"))
        .drop("_pid", "_lrn", "_ofs")
    )
    return ranked, counts


def dense_index(
    df: DataFrame,
    order_cols: list[str],
    idx_col: str,
    base: int = 0,
) -> DataFrame:
    """Append `idx_col`: the dense rank of each row under lexicographic
    `order_cols` order, starting at `base`. Rows must be unique on
    order_cols (dedupe first — this indexes, it does not group)."""
    ranked, _ = range_rank(df, order_cols)
    return ranked.withColumn(idx_col, F.col("_rn") - 1 + F.lit(base)).drop("_rn")
