"""Spatial cell encoding + point-in-polygon kernels.

One cell scheme (the engine's stand-in for H3/S2 — neither lib is a
dependency, and the reference's own spatial key is a plain 1000 m cube,
Common/group.py:62-63,201-224 of the reference): ``morton_key``, a
Z-order (bit-interleaved) key via a vectorized Arrow-batched pandas UDF —
numpy bitwise ops over whole batches, the "batched H3/S2 cell encoding" of
the north rule. Hierarchical: the key at resolution r is a prefix of the
key at r+1 (shift by 2 per level), which is what makes bottom-up tile
roll-ups a prefix aggregation. ``ring_bbox_cells_morton`` is its
driver-side cover of a polygon's bbox (the PIP prefilter's broadcast side).

PIP kernel: vectorized even-odd ray casting over numpy arrays (replaces the
reference's per-row shapely ``p.within(polygon)`` loop, group.py:173-184).
Boundary rule: strictly-inside via even-odd crossing; ties on edges are
measure-zero for real data and the pytest oracle applies the same rule.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

# Extent of the synthetic features table (data/features.py).
X0, Y0 = 1843000.0, 5173000.0


def _interleave_bits_u32(v: np.ndarray) -> np.ndarray:
    """Spread each of the low 21 bits of v so there is a 0 between them."""
    v = v.astype(np.uint64) & np.uint64(0x1FFFFF)
    v = (v | (v << np.uint64(32))) & np.uint64(0x1F00000000FFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x1F0000FF0000FF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x100F00F00F00F00F)
    v = (v | (v << np.uint64(4))) & np.uint64(0x10C30C30C30C30C3)
    v = (v | (v << np.uint64(2))) & np.uint64(0x1249249249249249)
    return v


@F.pandas_udf(LongType())
def _morton_udf(gx: pd.Series, gy: pd.Series) -> pd.Series:
    mx = _interleave_bits_u32(gx.to_numpy(dtype=np.int64))
    my = _interleave_bits_u32(gy.to_numpy(dtype=np.int64))
    key = (mx << np.uint64(1)) | my
    return pd.Series(key.astype(np.int64))


def morton_key(x: Column, y: Column, cell_size: float, x0: float = X0, y0: float = Y0) -> Column:
    """Z-order key of the (x, y) centroid at the given resolution."""
    gx = F.floor((x - F.lit(x0)) / F.lit(cell_size)).cast(LongType())
    gy = F.floor((y - F.lit(y0)) / F.lit(cell_size)).cast(LongType())
    return _morton_udf(gx, gy)


def wkb_encode_point(x: float, y: float) -> bytes:
    """Little-endian WKB Point (G8 fixture side)."""
    import struct

    return struct.pack("<BIdd", 1, 1, x, y)


def wkb_encode_polygon(rings: list[np.ndarray]) -> bytes:
    """Little-endian WKB Polygon from (M, 2) rings (closed or open; closing
    vertex appended if missing)."""
    import struct

    out = [struct.pack("<BII", 1, 3, len(rings))]
    for r in rings:
        r = np.asarray(r, dtype=np.float64)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        out.append(struct.pack("<I", len(r)))
        out.append(np.ascontiguousarray(r).tobytes())
    return b"".join(out)


def wkb_decode_points(blobs) -> tuple[np.ndarray, np.ndarray]:
    """G8: vectorized WKB Point decode — ONE frombuffer over the
    concatenated fixed-width blobs (21 bytes each), not per-row struct
    unpacking. Returns (x, y) arrays."""
    buf = b"".join(bytes(b) for b in blobs)
    arr = np.frombuffer(buf, dtype=np.uint8).reshape(-1, 21)
    if not (arr[:, 0] == 1).all():
        raise ValueError("big-endian WKB not supported")
    xy = arr[:, 5:].copy().view(np.float64).reshape(-1, 2)
    return xy[:, 0], xy[:, 1]


def wkb_decode_polygon(blob: bytes) -> list[np.ndarray]:
    """G8: WKB Polygon decode; each ring via one frombuffer slice."""
    import struct

    order, gtype, n_rings = struct.unpack_from("<BII", blob, 0)
    if order != 1 or gtype != 3:
        raise ValueError("expected little-endian WKB Polygon")
    off = 9
    rings = []
    for _ in range(n_rings):
        (m,) = struct.unpack_from("<I", blob, off)
        off += 4
        ring = np.frombuffer(blob, dtype=np.float64, count=m * 2, offset=off)
        rings.append(ring.reshape(-1, 2))
        off += m * 16
    return rings


def points_in_polygon(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray cast: bool mask of points inside one ring.

    px, py: (N,) point coords; ring: (M, 2) closed-or-open exterior ring.
    All N points tested against all M edges with numpy broadcasting.
    """
    rx, ry = ring[:, 0], ring[:, 1]
    rx2, ry2 = np.roll(rx, -1), np.roll(ry, -1)
    # edge straddles the horizontal line through py
    y1 = ry[None, :]
    y2 = ry2[None, :]
    cond = (y1 <= py[:, None]) != (y2 <= py[:, None])
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = rx[None, :] + (py[:, None] - y1) / (y2 - y1) * (rx2 - rx)[None, :]
    crossings = cond & (px[:, None] < xint)
    return (crossings.sum(axis=1) % 2).astype(bool)


def ring_bbox_cells_morton(ring: np.ndarray, cell_size: float, x0: float = X0, y0: float = Y0):
    """Morton (Z-order) cell cover of a ring's bbox — the broadcast side of
    the PIP prefilter, whose features are keyed with ``morton_key``: every
    floor-divided grid cell the bbox touches, encoded with the
    interleaved-bit key."""
    gx0 = int(np.floor((ring[:, 0].min() - x0) / cell_size))
    gx1 = int(np.floor((ring[:, 0].max() - x0) / cell_size))
    gy0 = int(np.floor((ring[:, 1].min() - y0) / cell_size))
    gy1 = int(np.floor((ring[:, 1].max() - y0) / cell_size))
    gxs, gys = np.meshgrid(
        np.arange(gx0, gx1 + 1, dtype=np.int64),
        np.arange(gy0, gy1 + 1, dtype=np.int64),
    )
    mx = _interleave_bits_u32(gxs.ravel())
    my = _interleave_bits_u32(gys.ravel())
    return [int(k) for k in ((mx << np.uint64(1)) | my).astype(np.int64)]
