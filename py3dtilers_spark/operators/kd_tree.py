"""kd-tree tile partitioning.

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

Two assignments:

- ``kd_assign`` (defined in ``kd_rank``, re-exported here): the exact tree.
  Distributed exact-median levels run until every cell fits one task, then
  each cell is finished locally; its output equals ``kd_oracle``.
- ``kd_sample_walk``: builds the whole split tree on the driver from a
  bounded centroid sample and broadcasts it; every row is then assigned by
  a vectorized tree walk in a pandas UDF: no shuffle, no sort, and leaf
  sizes within the sampling error.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kd_rank import kd_assign  # noqa: F401


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

    # split-tree arrays; node 0 is the root, children are appended in pairs
    # (depth-first, left subtree first) and get their depth when created
    thr: list[float] = [0.0]
    left: list[int] = [-1]
    right: list[int] = [-1]
    depth: list[int] = [0]
    leaf_path: list[str] = [""]  # "" for split nodes
    stack = [(0, np.arange(len(sx)), "")]
    while stack:
        node, idx, path = stack.pop()
        d = depth[node]
        est = len(idx) * scale
        if est <= kd_tree_max or len(idx) <= 1 or d > 40:
            leaf_path[node] = path or "1"  # degenerate single-node tree
            continue
        vals = sx[idx] if d % 2 == 0 else sy[idx]
        med = float(np.median(vals))
        thr[node] = med
        lo = idx[vals < med]
        hi = idx[vals >= med]
        if len(lo) == 0 or len(hi) == 0:  # all-equal axis values
            leaf_path[node] = path or "1"
            continue
        li = len(thr)
        left[node], right[node] = li, li + 1
        thr += [0.0, 0.0]
        left += [-1, -1]
        right += [-1, -1]
        depth += [d + 1, d + 1]
        leaf_path += ["", ""]
        stack.append((li + 1, hi, path + "1"))
        stack.append((li, lo, path + "0"))

    thr_a = np.asarray(thr)
    left_a = np.asarray(left, dtype=np.int64)
    right_a = np.asarray(right, dtype=np.int64)
    depth_a = np.asarray(depth, dtype=np.int64)
    paths = np.asarray(leaf_path, dtype=object)

    bc = df_xy.sparkSession.sparkContext.broadcast(
        (thr_a, left_a, right_a, depth_a, paths)
    )

    @F.pandas_udf(StringType())
    def walk(x: pd.Series, y: pd.Series) -> pd.Series:
        return kd_walk(x, y, bc.value)

    return walk


def kd_walk(x: pd.Series, y: pd.Series, tree: tuple) -> pd.Series:
    """Vectorized walk of the broadcast split tree built by
    ``kd_sample_walk``: the leaf path of every (x, y). Module-level so the
    UDF pickles it by reference and the worker imports the package."""
    t, la, ra, da, pth = tree
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
    A non-empty ``path`` splits one cell of a larger tree (depth resumes
    from len(path), preserving axis alternation).

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
