"""Range-partitioned exact-rank kd splits (the exact kd path since round 5;
``kd_tree.kd_assign(exact=True)`` delegates here).

Same semantics as the round-4 window-only path
(``kd_tree._kd_exact_window``, retained as the parity twin) — the reference 2-D
kd-tree (/root/reference/py3dtilers/Common/kd_tree.py:4-42) with the
documented id tie-break — but the shallow split levels are computed with
the ``indexing.dense_index`` range-partition + prefix-sum shape instead of
``Window.partitionBy("tile_id")``.

Why: at depth 0 the window path partitions by a CONSTANT tile_id (""), so
Catalyst folds the key away and Spark executes a single-task WindowExec
over the whole dataset — fine at sf0.1, impossible at 10^12 rows (this is
the `No Partition Defined` warning pinned in BENCH/BASELINE.md round-5
notes). Here every level, including the root, ranks rows with:

1. ``repartitionByRange(P, tile_id, axis, id)`` — non-overlapping sorted
   ranges, every partition a normal shuffle-partition size;
2. a per-(partition, cell) local ``row_number`` (small parallel windows);
3. an exclusive prefix sum of per-(partition, cell) counts within each
   cell — a P x C row aggregate (P = shuffle partitions, C = live cells),
   broadcast back. Global in-cell rank = offset + local rank.

The rank step costs one extra tiny aggregation per level versus the window
step, and its counts table grows with C — so it is only used while
C <= ``cell_switch``; deeper levels (many small cells) hash-partition
naturally and keep the original window step. The crossover is a constant:
the rank path covers exactly the levels where per-cell windows cannot
parallelize, the window path covers the levels where they trivially do.

Wired into ``kd_assign``/the tiler in round 5 (the round-4 fingerprint
freeze kept it out of chain v22's job path); parity with the window-only
path AND the Python oracle is pinned by tests/test_kd_rank.py.
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def kd_assign_rank(
    df: DataFrame,
    kd_tree_max: int = 500,
    id_col: str = "image_id",
    x_col: str = "x",
    y_col: str = "y",
    local_cap: int = 1_000_000,
    cell_switch: int = 256,
    num_partitions: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact kd ``tile_id`` assignment, root splits fully distributed.

    Identical output to ``kd_tree.kd_assign(df, kd_tree_max, exact=True)``.

    Round-6 loop shape (guide section 2.4 — remove passes outright): the
    split is an EXACT median (rank <= floor(n/2)), so child cell sizes are
    floor(n/2) / ceil(n/2) deterministically and the whole level-by-level
    control flow (max live cell, live cell count, leaf rule) is tracked on
    the driver from ONE initial count — the former per-level
    groupBy("tile_id").count() full-pass job is gone. Per level exactly one
    materialization remains: the rank step's post-exchange frame (the
    exchange-reuse hazard fix); the derived split frame is a broadcast-join
    map pass over it and is NOT checkpointed again (the round-5 second
    per-level checkpoint — VERDICT round-5 "What's wrong" #3).

    ``n_rows``, when given, must be the exact row count of ``df``: it
    replaces the initial count job, and the driver derives every cell size
    from it. A cell that reaches the local finisher with more than
    ``local_cap`` rows (only possible with a too-small hint) raises a
    ``ValueError`` instead of being finished in one task.
    """
    local_cap = max(local_cap, 2 * kd_tree_max + 1)
    parts = int(
        num_partitions
        or df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    cur = df.withColumn("tile_id", F.lit(""))
    out_schema = cur.schema
    cols = [f.name for f in out_schema.fields]
    done_parts: list[DataFrame] = []
    depth = 0
    if n_rows is None:
        n_rows = df.count()
    # driver-side exact cell sizes: path -> row count of each live (non-leaf) cell
    live = {"": int(n_rows)}
    while live and max(live.values()) > local_cap:
        n_cells = len(live)
        axis = x_col if depth % 2 == 0 else y_col
        if n_cells <= cell_switch:
            ranked = _rank_step(cur, axis, id_col, parts)
            checkpoint_stepped = False
        else:
            ranked = _window_step(cur, axis, id_col)
            # the window step has no internal materialization: checkpoint
            # its output to truncate the iterative lineage
            checkpoint_stepped = True
        stepped = (
            ranked
            .withColumn("_m", F.floor(F.col("_n") / 2))
            .withColumn(
                "tile_id",
                F.concat(
                    F.col("tile_id"),
                    F.when(F.col("_rn") <= F.col("_m"), F.lit("0"))
                    .otherwise(F.lit("1")),
                ),
            )
            # right half size ceil(n/2) >= left; leaf iff it fits
            .withColumn("_leaf", (F.col("_n") - F.col("_m")) <= F.lit(kd_tree_max))
            .drop("_rn", "_n", "_m")
        )
        if checkpoint_stepped:
            stepped = stepped.localCheckpoint(eager=True)
        done_parts.append(stepped.where("_leaf").drop("_leaf"))
        cur = stepped.where("NOT _leaf").drop("_leaf")
        nxt: dict[str, int] = {}
        for path, n in live.items():
            m = n // 2
            if n - m <= kd_tree_max:  # both halves became leaves
                continue
            if m > 0:  # empty left halves (n == 1) vanish
                nxt[path + "0"] = m
            nxt[path + "1"] = n - m
        live = nxt
        depth += 1

    def finish_cell(pdf):
        path = pdf["tile_id"].iloc[0]
        if len(pdf) > local_cap:
            raise ValueError(
                f"kd cell {path!r} reached the local finisher with {len(pdf)} "
                f"rows > local_cap={local_cap}; n_rows={n_rows} must be the "
                "exact row count of the input"
            )
        out = pdf.copy()
        out["tile_id"] = kd_finish_numpy(
            pdf[id_col].to_numpy(),
            pdf[x_col].to_numpy(),
            pdf[y_col].to_numpy(),
            kd_tree_max,
            path,
        )
        return out[cols]

    finished = cur.groupBy("tile_id").applyInPandas(finish_cell, schema=out_schema)
    out = finished
    for p in done_parts:
        out = out.unionByName(p)
    return out


def kd_finish_numpy(
    ids: np.ndarray, xs: np.ndarray, ys: np.ndarray, kd_tree_max: int, path: str = ""
) -> np.ndarray:
    """Vectorized local kd finisher — same semantics as ``kd_tree.kd_oracle``
    (exact medians, (axis value, id) order, both-halves leaf rule, empty
    left halves vanish) but per-node ordering is one C-level
    ``np.lexsort((id, axis value))`` over fixed-width unicode ids instead of
    a Python tuple sort: ~10x less finisher CPU on 100k+ row cells.
    Parity with kd_oracle is pinned by tests/test_kd_rank.py.

    Returns the per-row tile_id paths (object ndarray, input order).
    """
    ids_u = np.asarray(ids, dtype="U")  # fixed-width: C-speed comparisons
    n = len(ids_u)
    # rank-factorize ONCE (one unicode sort); every per-node tie-break then
    # compares int64 ranks instead of re-comparing strings at each level
    codes = np.empty(n, dtype=np.int64)
    codes[np.argsort(ids_u, kind="stable")] = np.arange(n)
    out = np.empty(n, dtype=object)
    stack = [(path, np.arange(n), len(path))]
    while stack:
        p, idx, depth = stack.pop()
        vals = xs[idx] if depth % 2 == 0 else ys[idx]
        sidx = idx[np.lexsort((codes[idx], vals))]
        m = len(sidx) // 2
        left, right = sidx[:m], sidx[m:]
        if len(right) > kd_tree_max:
            stack.append((p + "0", left, depth + 1))
            stack.append((p + "1", right, depth + 1))
        else:
            out[left] = p + "0"
            out[right] = p + "1"
    return out


def _rank_step(cur: DataFrame, axis: str, id_col: str, parts: int) -> DataFrame:
    """In-cell exact rank ``_rn`` and cell size ``_n`` without any per-cell
    window: range exchange + local rank + per-cell prefix-sum of partition
    counts (the ``indexing.dense_index`` shape, per live cell)."""
    ranged = cur.repartitionByRange(parts, "tile_id", F.col(axis), id_col)
    local = (
        ranged.withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lrn",
            F.row_number().over(
                Window.partitionBy("_pid", "tile_id")
                .orderBy(F.col(axis).asc(), F.col(id_col).asc())
            ),
        )
    )
    # `local` feeds three consumers (rank rows, counts/offsets, totals). The
    # range exchange samples its bounds per physical execution, so if the
    # optimizer does NOT unify the three subtrees into one ReusedExchange,
    # each consumer can see a DIFFERENT partitioning and the _pid values no
    # longer line up across the joins (observed: ~1% wrong ranks at 3k rows).
    # Materialize once so every consumer reads the same partitioning.
    local = local.localCheckpoint(eager=True)
    counts = local.groupBy("_pid", "tile_id").agg(F.count(F.lit(1)).alias("_cnt"))
    # exclusive prefix sum within each cell over partition ids: P x C rows,
    # triangular join (same rationale as indexing.dense_index — tiny, lazy,
    # never a single-partition window)
    b = counts.select(
        F.col("_pid").alias("_bpid"),
        F.col("tile_id").alias("_btid"),
        F.col("_cnt").alias("_bcnt"),
    )
    offsets = (
        counts.alias("a")
        .join(
            b,
            (F.col("_btid") == F.col("a.tile_id"))
            & (F.col("_bpid") < F.col("a._pid")),
            "left",
        )
        .groupBy("a._pid", "a.tile_id")
        .agg(F.coalesce(F.sum("_bcnt"), F.lit(0)).alias("_ofs"))
        .select(
            F.col("a._pid").alias("_pid"),
            F.col("a.tile_id").alias("tile_id"),
            "_ofs",
        )
    )
    totals = counts.groupBy("tile_id").agg(F.sum("_cnt").alias("_n"))
    return (
        local.join(F.broadcast(offsets), ["_pid", "tile_id"])
        .join(F.broadcast(totals), "tile_id")
        .withColumn("_rn", F.col("_ofs") + F.col("_lrn"))
        .drop("_pid", "_lrn", "_ofs")
    )


def _window_step(cur: DataFrame, axis: str, id_col: str) -> DataFrame:
    """The frozen path's per-cell window step (kd_tree._kd_exact), used once
    cells are numerous enough to hash-partition well."""
    w_order = Window.partitionBy("tile_id").orderBy(
        F.col(axis).asc(), F.col(id_col).asc()
    )
    w_cell = Window.partitionBy("tile_id")
    return cur.withColumn("_rn", F.row_number().over(w_order)).withColumn(
        "_n", F.count(F.lit(1)).over(w_cell)
    )
