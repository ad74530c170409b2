"""Distributed kd-tree tile partitioning.

Semantics follow the reference 2-D kd-tree
(/root/reference/py3dtilers/Common/kd_tree.py:4-42):

- alternate split axis x/y by depth
- stable sort by centroid[axis]; split at ``len // 2`` (left gets floor)
- ALWAYS split the root once; a split pair becomes two leaves iff BOTH
  halves are <= kd_tree_max, else BOTH halves recurse
- empty left halves (n == 1) vanish

One deliberate deviation, required for a distributed table (where "input
list order" does not exist): sort ties are broken by ``image_id`` instead of
by prior list position. The pytest oracle (``kd_oracle``) implements the
identical rule, and on tie-free data the assignment equals the reference's.

Tile id = the left/right path bitstring ('0' = left); the reference's DFS
tile numbering (tileset_creation.py:23,130) equals the lexicographic rank of
the path, exposed via ``kd_leaf_index``.

Scale notes: exact mode costs one hash-shuffle + in-partition sort per level
(log2(N / kd_tree_max) levels; ~11 at 10^12 rows with max=500 it is 31 levels
— each a single window over cells that halve in size every level, so total
shuffled bytes per level stay constant ~= dataset size; AQE coalesces the
tail). Scale mode (exact=False, ``kd_sample_walk``) builds the whole split
tree on the driver from a bounded centroid sample and broadcasts it; every
row is then assigned by a vectorized tree walk in a pandas UDF: no shuffle,
no sort, and leaf sizes within the sampling error.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def kd_assign(
    df: DataFrame,
    kd_tree_max: int = 500,
    exact: bool = True,
    id_col: str = "image_id",
    x_col: str = "x",
    y_col: str = "y",
    local_cap: int = 1_000_000,
) -> DataFrame:
    """Assign each row a kd-leaf ``tile_id`` path bitstring.

    Exact mode is HYBRID: distributed exact-median splits run only until
    every live cell fits ``local_cap`` rows (executor-memory sized); each
    such cell is then finished in a single applyInPandas task running the
    identical recursion locally. Total distributed levels =
    log2(N / local_cap) (e.g. ~20 for 10^12 rows at cap 1M) instead of
    log2(N / kd_tree_max); the local phase is embarrassingly parallel.

    local_cap default (round 6): 1M rows. Every distributed level is a
    full-dataset range shuffle + materialization, so the hybrid switch
    should come as soon as a cell comfortably fits one task: the finisher
    is now the vectorized ``kd_rank.kd_finish_numpy`` (~3 us/row, n log n,
    ~40 B/row working set — a 1M-row cell is ~40 MB of pandas and ~4 s of
    task CPU). The former 200k cap was sized to the old pure-Python
    finisher (~7.4 us/row measured at 150k rows).

    Since round 5 the shallow split levels use the range-partitioned
    exact-rank step (operators/kd_rank.py): at depth 0-1 a
    ``Window.partitionBy("tile_id")`` key is (nearly) constant, Catalyst
    constant-folds it away and the whole dataset flows through ONE
    WindowExec task — measured 2.6x slower at 5M rows and unbounded in N
    (BENCH/BASELINE.md round-5 notes). The rank step keeps every level a
    normal shuffle; deep levels (many small cells) keep the window step,
    which hash-partitions well there. Parity of both paths with the
    Python oracle is pinned by tests/test_kd_rank.py.
    """
    if exact:
        from .kd_rank import kd_assign_rank

        return kd_assign_rank(
            df, kd_tree_max, id_col=id_col, x_col=x_col, y_col=y_col,
            local_cap=local_cap,
        )
    return _kd_approx(df, kd_tree_max, x_col, y_col)


def _kd_exact_window(df, kd_tree_max, id_col, x_col, y_col, local_cap):
    """Round-4 window-only exact path, retained as the independent parity
    twin for tests/test_kd_rank.py (NOT in the job path: its depth-0/1
    window partitions by a constant key -> single-task WindowExec)."""
    local_cap = max(local_cap, 2 * kd_tree_max + 1)
    cur = df.withColumn("tile_id", F.lit(""))
    out_schema = cur.schema
    cols = [f.name for f in out_schema.fields]
    done_parts: list[DataFrame] = []
    depth = 0
    while True:
        mx_row = (
            cur.groupBy("tile_id").agg(F.count(F.lit(1)).alias("_n"))
            .agg(F.max("_n").alias("mx")).collect()
        )
        mx = mx_row[0]["mx"] if mx_row else None
        if mx is None or mx <= local_cap:
            break
        axis = x_col if depth % 2 == 0 else y_col
        w_order = Window.partitionBy("tile_id").orderBy(
            F.col(axis).asc(), F.col(id_col).asc()
        )
        w_cell = Window.partitionBy("tile_id")
        stepped = (
            cur.withColumn("_rn", F.row_number().over(w_order))
            .withColumn("_n", F.count(F.lit(1)).over(w_cell))
            .withColumn("_m", F.floor(F.col("_n") / 2))
            .withColumn(
                "tile_id",
                F.concat(
                    F.col("tile_id"),
                    F.when(F.col("_rn") <= F.col("_m"), F.lit("0")).otherwise(F.lit("1")),
                ),
            )
            # right half size ceil(n/2) >= left; leaf iff it fits
            .withColumn("_leaf", (F.col("_n") - F.col("_m")) <= F.lit(kd_tree_max))
            .drop("_rn", "_n", "_m")
        )
        stepped = stepped.localCheckpoint(eager=True)  # truncate iterative lineage
        done_parts.append(stepped.where("_leaf").drop("_leaf"))
        cur = stepped.where("NOT _leaf").drop("_leaf")
        depth += 1

    def finish_cell(pdf):
        path = pdf["tile_id"].iloc[0]
        pts = list(zip(pdf[id_col], pdf[x_col], pdf[y_col]))
        assign = kd_oracle(pts, kd_tree_max, path=path)
        out = pdf.copy()
        out["tile_id"] = out[id_col].map(assign)
        return out[cols]

    finished = cur.groupBy("tile_id").applyInPandas(finish_cell, schema=out_schema)
    out = finished
    for p in done_parts:
        out = out.unionByName(p)
    return out


def _kd_approx(df, kd_tree_max, x_col, y_col, sample_cap: int = 100_000):
    """Scale path: sample-based split tree + one map-side assignment pass.

    Like Spark's RangePartitioner: collect a bounded sample of centroids,
    build the full kd split tree on the driver (medians of the sample,
    leaf-size estimates scaled by the sampling fraction), broadcast the
    thresholds, and assign every row with a vectorized tree walk inside an
    Arrow-batched pandas UDF. ZERO shuffles for assignment — the only cost
    is one scan — versus one shuffle per level for the exact path. Leaf
    sizes are approximate within sampling error (~±3% at the default cap).
    """
    # three actions consume df (count, sample, assignment scan) — cache it
    df = df.persist()
    n_total = df.count()
    if n_total == 0:
        return df.withColumn("tile_id", F.lit(""))
    walk = kd_sample_walk(
        df.select(x_col, y_col), kd_tree_max, n_total,
        x_col=x_col, y_col=y_col, sample_cap=sample_cap,
    )
    return df.withColumn("tile_id", walk(F.col(x_col), F.col(y_col)))


def kd_sample_walk(
    df_xy: DataFrame,
    kd_tree_max: int,
    n_total: int,
    x_col: str = "x",
    y_col: str = "y",
    sample_cap: int = 100_000,
):
    """Build the broadcast sample split-tree from a slim (x, y) source and
    return a vectorized pandas UDF `walk(x, y) -> tile_id`. Splitting the
    tree build from the assignment lets a payload-heavy table be assigned
    map-side (column-pruned UDF input) while the sample scan reads only the
    centroid columns from the file source."""
    from pyspark.sql.types import StringType

    frac = min(1.0, sample_cap / max(n_total, 1))
    sample = df_xy.select(x_col, y_col)
    if frac < 1.0:
        sample = sample.sample(fraction=frac, seed=42)
    spts = sample.toPandas()
    sx = spts[x_col].to_numpy()
    sy = spts[y_col].to_numpy()
    scale = n_total / max(len(sx), 1)

    # breadth-first split-tree arrays; node 0 is the root
    thr: list[float] = [0.0]
    leaf_path: list[str | None] = [None]
    kids: list[tuple[int, int] | None] = [None]

    def build(node: int, idx: np.ndarray, depth: int, path: str) -> None:
        est = len(idx) * scale
        if est <= kd_tree_max or len(idx) <= 1 or depth > 40:
            leaf_path[node] = path or "1"  # degenerate single-node tree
            return
        vals = sx[idx] if depth % 2 == 0 else sy[idx]
        med = float(np.median(vals))
        thr[node] = med
        left = idx[vals < med]
        right = idx[vals >= med]
        if len(left) == 0 or len(right) == 0:  # all-equal axis values
            leaf_path[node] = path or "1"
            return
        li, ri = len(thr), len(thr) + 1
        for _ in range(2):
            thr.append(0.0)
            leaf_path.append(None)
            kids.append(None)
        kids[node] = (li, ri)
        build(li, left, depth + 1, path + "0")
        build(ri, right, depth + 1, path + "1")

    import sys

    old_limit = sys.getrecursionlimit()
    sys.setrecursionlimit(10000)
    try:
        build(0, np.arange(len(sx)), 0, "")
    finally:
        sys.setrecursionlimit(old_limit)

    thr_a = np.asarray(thr)
    left_a = np.asarray([k[0] if k else -1 for k in kids], dtype=np.int64)
    right_a = np.asarray([k[1] if k else -1 for k in kids], dtype=np.int64)
    depth_a = np.zeros(len(thr), dtype=np.int64)
    stack = [(0, 0)]
    while stack:
        n, d = stack.pop()
        depth_a[n] = d
        if left_a[n] >= 0:
            stack.append((left_a[n], d + 1))
            stack.append((right_a[n], d + 1))
    paths = np.asarray([p if p is not None else "" for p in leaf_path], dtype=object)

    bc = df_xy.sparkSession.sparkContext.broadcast(
        (thr_a, left_a, right_a, depth_a, paths)
    )

    @F.pandas_udf(StringType())
    def walk(x: pd.Series, y: pd.Series) -> pd.Series:
        t, la, ra, da, pth = bc.value
        xs = x.to_numpy()
        ys = y.to_numpy()
        cur = np.zeros(len(xs), dtype=np.int64)
        live = la[cur] >= 0
        while live.any():
            node = cur[live]
            vals = np.where(da[node] % 2 == 0, xs[live], ys[live])
            go_left = vals < t[node]
            cur[live] = np.where(go_left, la[node], ra[node])
            live = la[cur] >= 0
        return pd.Series(pth[cur])

    return walk


def kd_leaf_index(tiles: DataFrame) -> DataFrame:
    """Dense 0-based tile index in DFS order = lex order of path bitstrings
    (reproduces FromGeometryTreeToTileset.tile_index,
    /root/reference/py3dtilers/Common/tileset_creation.py:23,130).
    Indexing is distributed (range-partitioned prefix sum, never a
    single-task global window — operators/indexing.py)."""
    from .indexing import dense_index

    idx = dense_index(
        tiles.select("tile_id").distinct(), ["tile_id"], "tile_index"
    )
    return tiles.join(F.broadcast(idx), "tile_id")


def kd_oracle(points, kd_tree_max, path=""):
    """Pure-Python oracle with the engine's exact semantics (mirrors the
    reference algorithm at kd_tree.py:4-42 with the documented id tie-break).
    Doubles as the local finisher of the hybrid kd split (depth resumes from
    len(path), preserving axis alternation).

    points: iterable of (id, x, y). Returns {id: tile_id_path}.
    """
    out = {}
    stack = [(path, list(points), len(path))]
    while stack:
        path, pts, depth = stack.pop()
        axis = 1 + depth % 2
        pts = sorted(pts, key=lambda p: (p[axis], p[0]))
        m = len(pts) // 2
        left, right = pts[:m], pts[m:]
        if len(right) > kd_tree_max:  # len(right) >= len(left) always
            stack.append((path + "0", left, depth + 1))
            stack.append((path + "1", right, depth + 1))
        else:
            for p in left:
                out[p[0]] = path + "0"
            for p in right:
                out[p[0]] = path + "1"
    return out
