"""Point-in-polygon spatial join (the reference's central join, J1).

Reference semantics (/root/reference/py3dtilers/Common/group.py:161-199):
each feature's centroid is tested against the polygon list IN ORDER and the
first containing polygon wins; features in no polygon become singleton
groups. The reference is an O(N*P) per-row shapely loop; here it becomes:

  1. cell prefilter — polygons are covered by the Morton cells of their
     bbox and broadcast; features compute their cell key with one
     Arrow-batched UDF; an equi-join on cell reduces candidate pairs from
     N*P to ~N.
  2. exact test — vectorized numpy ray-cast inside an Arrow-batched pandas
     UDF over the surviving pairs (rectangles short-circuit to a pure-SQL
     range predicate, no UDF at all).
  3. first-match-wins — ``min(polygon_id)`` per feature (the reference scans
     polygons in index order and breaks, group.py:176-182, so first match
     == lowest index).

At scale: polygons are a small broadcast dimension (the reference reads them
from a geojson dir, group.py:129-159); features never shuffle for step 1-2;
step 3 is a partial-aggregatable min. Skewed cells (dense urban polygons)
are handled upstream by AQE skew splitting on the cell equi-join.
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.spatial import morton_key, points_in_polygon, ring_bbox_cells_morton


def pip_assign_rect(
    features: DataFrame, rects: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Rectangle fast path: broadcast range join, first match wins.

    rects: (polygon_id int, xmin, ymin, xmax, ymax). Returns
    (image_id, *carry, polygon_id nullable) — null = contained by no polygon.
    Pure built-in ops: stays entirely in whole-stage codegen.

    carry: extra feature columns threaded through the aggregation (they are
    functionally dependent on image_id) so downstream consumers don't need
    an N-row join back to the feature table.
    """
    cond = (
        (features["x"] >= rects["xmin"])
        & (features["x"] < rects["xmax"])
        & (features["y"] >= rects["ymin"])
        & (features["y"] < rects["ymax"])
    )
    return (
        features.join(F.broadcast(rects), cond, "left")
        .groupBy("image_id", *carry)
        .agg(F.min("polygon_id").alias("polygon_id"))
    )


def pip_assign_rings(
    features: DataFrame,
    rings: list[np.ndarray],
    cell_size: float = 1250.0,
) -> DataFrame:
    """General-polygon path: cell-cover prefilter + exact ray-cast verify.

    rings: list of (M, 2) numpy exterior rings, index = polygon_id (order =
    first-match priority). Returns (image_id, polygon_id nullable).

    The prefilter equi-join is keyed by the batched Z-order cell encoding
    (functions/spatial.morton_key — the north rule's H3/S2-style index).
    At scale the cover side is a broadcast dim; features never shuffle,
    and skewed (dense-urban) cells split under AQE on the equi-join.
    """
    spark = features.sparkSession
    cover_rows = [
        (int(pid), int(cell))
        for pid, ring in enumerate(rings)
        for cell in ring_bbox_cells_morton(ring, cell_size)
    ]
    cover = spark.createDataFrame(cover_rows, "polygon_id int, cell bigint")
    ring_bc = spark.sparkContext.broadcast([r.tolist() for r in rings])

    key = morton_key(F.col("x"), F.col("y"), cell_size)
    cand = (
        features.select("image_id", "x", "y", key.alias("cell"))
        .join(F.broadcast(cover), "cell")
        .select("image_id", "x", "y", "polygon_id")
    )

    def verify(batches):
        rings_local = [np.asarray(r, dtype=np.float64) for r in ring_bc.value]
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf[["image_id", "polygon_id"]]
                continue
            px = pdf["x"].to_numpy()
            py = pdf["y"].to_numpy()
            pid = pdf["polygon_id"].to_numpy()
            keep = np.zeros(len(pdf), dtype=bool)
            for p in np.unique(pid):
                m = pid == p
                keep[m] = points_in_polygon(px[m], py[m], rings_local[int(p)])
            yield pdf.loc[keep, ["image_id", "polygon_id"]]

    verified = cand.mapInPandas(verify, schema="image_id string, polygon_id int")
    first = verified.groupBy("image_id").agg(F.min("polygon_id").alias("polygon_id"))
    return (
        features.select("image_id")
        .join(first, "image_id", "left")
    )
