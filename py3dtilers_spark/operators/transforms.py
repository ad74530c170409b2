"""Geometric transforms (reference P1-P9, feature.py:282-342 +
tileset_creation.py:57-95).

- affine CRS change: the oracle-checkable path (pure column math). The
  reference's geodetic pyproj reprojection (feature.py:298-312) is not
  implemented: pyproj is not a dependency of this package.
- per-tile recentering (P6, tileset_creation.py:57-95): subtract the tile
  centroid, keep the offset as the tile transform. Centroids through exact
  integer sums so the op is deterministic under any aggregation order.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def affine_crs(df: DataFrame, a: float, b: float, tx: float, c: float, d: float, ty: float) -> DataFrame:
    """x' = a*x + b*y + tx ; y' = c*x + d*y + ty (columnar, codegen'd)."""
    return df.withColumns(
        {
            "x_out": F.col("x") * a + F.col("y") * b + F.lit(tx),
            "y_out": F.col("x") * c + F.col("y") * d + F.lit(ty),
        }
    )


def recenter_per_tile(df: DataFrame, tile_col: str = "tile_id") -> DataFrame:
    """P6: translate each tile's features to the tile centroid; emit the
    offset columns (the reference stores it in the tile transform matrix,
    tileset_creation.py:134-137). Uses exact integer centroid sums (h2 must
    be present — features-table rows carry it)."""
    cent = df.groupBy(tile_col).agg(
        F.expr(
            "1843000.0 + CAST(SUM((h2 * 48271) % 100000) AS DOUBLE)"
            " / CAST(COUNT(*) AS DOUBLE) / 10.0"
        ).alias("cx"),
        F.expr(
            "5173000.0 + CAST(SUM((h2 * 69621) % 100000) AS DOUBLE)"
            " / CAST(COUNT(*) AS DOUBLE) / 10.0"
        ).alias("cy"),
    )
    return (
        df.join(cent, tile_col)
        .withColumns(
            {"x_local": F.col("x") - F.col("cx"), "y_local": F.col("y") - F.col("cy")}
        )
    )
