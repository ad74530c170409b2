"""Exact kd ``tile_id`` assignment: distributed exact-median levels, then a
local numpy finisher per cell.

Semantics are the reference 2-D kd-tree
(py3dtilers/Common/kd_tree.py:4-42 of the reference) with the id tie-break
documented in ``kd_tree``; ``kd_tree.kd_oracle`` is the pure-Python
statement of the same rule and tests/test_kd_rank.py pins parity with it.

Distributed levels run only while some live cell holds more than
``LOCAL_CAP`` rows. Each level ranks every row inside its cell by
(axis value, image_id) with one of two steps:

- ``_rank_step`` while at most ``CELL_SWITCH`` cells are live: the
  range-exchange rank ``indexing.range_rank`` (the one ``dense_index``
  uses) grouped by cell — range partitions on (tile_id, axis, id), a
  per-(partition, cell) ``row_number``, and an exclusive prefix sum of the
  per-(partition, cell) counts. A ``Window.partitionBy("tile_id")`` at the
  root would partition by a constant key and run the whole dataset through
  one task; this step never does.
- ``_window_step`` once cells are numerous: a per-cell window, which
  hash-partitions well when there are many small cells.

The split is an exact median, so child sizes are floor(n/2) / ceil(n/2)
and the driver tracks every live cell's size from one row count: no
per-level count job. Cells that fit ``LOCAL_CAP`` are finished in one
``applyInPandas`` task each by ``kd_finish_numpy``.
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .indexing import range_rank

# largest cell finished in one task: the numpy finisher needs ~40 B/row and
# ~3 us/row, so a 1M-row cell is ~40 MB and a few seconds of task CPU
LOCAL_CAP = 1_000_000
# most live cells a level ranks with the range step; above it the per-cell
# window step is used
CELL_SWITCH = 256


def kd_assign(
    df: DataFrame,
    kd_tree_max: int = 500,
    exact: bool = True,
    n_rows: int | None = None,
) -> DataFrame:
    """Add the kd-leaf path bitstring ``tile_id`` ('0' = left) to every row
    of ``df``, which must have the columns ``image_id``, ``x`` and ``y``.

    ``n_rows``, when given, must be the exact row count of ``df``: it
    replaces the count job, and the driver derives every cell size from it.
    A cell that reaches the local finisher with more than ``LOCAL_CAP`` rows
    (only possible with a too-small ``n_rows``) raises a ``ValueError``
    instead of being finished in one task.

    ``exact=False`` raises a ``ValueError``: the sample-walk kd is
    ``kd_tree.kd_sample_walk``.
    """
    if not exact:
        raise ValueError(
            "kd_assign is the exact kd only; use kd_tree.kd_sample_walk for"
            " the sample-walk assignment"
        )
    local_cap = max(LOCAL_CAP, 2 * kd_tree_max + 1)
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
        axis = "x" if depth % 2 == 0 else "y"
        if len(live) <= CELL_SWITCH:
            ranked = _rank_step(cur, axis)
            checkpoint_stepped = False
        else:
            ranked = _window_step(cur, axis)
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
            pdf["image_id"].to_numpy(),
            pdf["x"].to_numpy(),
            pdf["y"].to_numpy(),
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


def _rank_step(cur: DataFrame, axis: str) -> DataFrame:
    """In-cell exact rank ``_rn`` and cell size ``_n`` without any per-cell
    window: ``indexing.range_rank`` grouped by cell, plus the cell totals
    summed from its per-(partition, cell) counts."""
    ranked, counts = range_rank(cur, [axis, "image_id"], ("tile_id",))
    totals = counts.groupBy("tile_id").agg(F.sum("_cnt").alias("_n"))
    return ranked.join(F.broadcast(totals), "tile_id")


def _window_step(cur: DataFrame, axis: str) -> DataFrame:
    """In-cell rank ``_rn`` and cell size ``_n`` from per-cell windows, used
    once cells are numerous enough to hash-partition well."""
    w_order = Window.partitionBy("tile_id").orderBy(
        F.col(axis).asc(), F.col("image_id").asc()
    )
    w_cell = Window.partitionBy("tile_id")
    return cur.withColumn("_rn", F.row_number().over(w_order)).withColumn(
        "_n", F.count(F.lit(1)).over(w_cell)
    )
