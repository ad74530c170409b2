"""Tileset sink/scan/merge (reference S5/K1/K2/K5/U2).

- read_tiles / read_manifest: scan back a written tileset (reference
  TilesetReader, reader_utils.py:9-78 — which walks glTF buffers with
  per-4-byte struct.unpack loops; here decode is numpy-vectorized inside
  mapInPandas batches).
- tiles_to_features: invert the per-tile atlas encode back into per-feature
  rows (reference TileToFeatureList, tile_to_feature.py:114-132).
- merge_tilesets: union N tilesets under a fresh root with re-prefixed tile
  ids (reference TilesetMerger.merge_tilesets, TilesetMerger.py:37-58).
"""
from __future__ import annotations

import json
import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.imaging import decode, encode

FEATURE_OUT_SCHEMA = (
    "tile_id string, image_id string, caption string, w int, h int, payload binary"
)


def read_tiles(spark: SparkSession, out_dir: str) -> DataFrame:
    """The tiles table of a written tileset. A ``tile_sink="files"`` run
    keeps each payload in tiles_files/<tile_id>.bin and leaves ``atlas``
    empty; when that directory exists, ``atlas`` is filled from it (a
    binaryFile read joined on tile_id), so every reader sees the blobs; a
    tile whose file is missing gets a null atlas."""
    tiles = spark.read.parquet(os.path.join(out_dir, "tiles"))
    files_dir = os.path.join(out_dir, "tiles_files")
    if not os.path.isdir(files_dir):
        return tiles
    blobs = spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(
        files_dir
    ).select(
        F.regexp_extract("path", r"([^/]*)\.bin$", 1).alias("tile_id"),
        F.col("content").alias("atlas"),
    )
    return tiles.drop("atlas").join(blobs, "tile_id", "left").select(*tiles.columns)


def read_manifest(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "tileset.json")) as fh:
        return json.load(fh)


def tiles_to_features(tiles: DataFrame) -> DataFrame:
    """Decode each tile's atlas + batch table back into per-feature rows.
    One Arrow batch may carry several tiles; the crop loop is per-feature on
    already-decoded numpy arrays (no per-pixel Python)."""

    def explode_tiles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, t in pdf.iterrows():
                atlas = decode(bytes(t["atlas"]))
                batch = json.loads(t["batch_json"])
                fmt = batch["fmt"]
                for iid, cap, (x, y, w, h) in zip(
                    batch["ids"], batch["captions"], batch["uv"]
                ):
                    crop = atlas[y : y + h, x : x + w]
                    rows.append(
                        {
                            "tile_id": t["tile_id"],
                            "image_id": iid,
                            "caption": cap,
                            "w": w,
                            "h": h,
                            "payload": encode(crop, "png" if fmt == "png" else "jpg"),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["tile_id", "image_id", "caption", "w", "h", "payload"],
            )

    return tiles.mapInPandas(explode_tiles, schema=FEATURE_OUT_SCHEMA)


def _reprefix(node: dict, prefix: str) -> dict:
    """Rewrite every node's tile_id with the source prefix so manifest ids
    keep resolving against the re-prefixed tiles table after a merge."""
    out = dict(node)
    out["tile_id"] = prefix + node.get("tile_id", "")
    out["children"] = [_reprefix(c, prefix) for c in node.get("children", [])]
    return out


def source_index(spark: SparkSession, out_dirs: list[str]) -> DataFrame:
    """J5: the positional zip of root-tile index <-> source tileset path
    (reference TilesetReader.py:70-80 / TilesetMerger.py:50-56 keeps
    tilesets and paths in parallel lists). Emitted as a real dimension
    table (src_idx, prefix, path) so any tiles table carrying re-prefixed
    ids joins back to its source with a broadcast equi-join on the prefix
    — the distributed form of `zip(tilesets, paths)`."""
    return spark.createDataFrame(
        [(i, f"t{i}/", d) for i, d in enumerate(out_dirs)],
        "src_idx int, prefix string, path string",
    )


def tiles_with_source(merged_tiles: DataFrame, src_idx: DataFrame) -> DataFrame:
    """Resolve each merged tile row to its source tileset: equi-join on the
    extracted id prefix (always broadcastable — one row per source)."""
    pref = merged_tiles.withColumn(
        "prefix", F.regexp_extract("tile_id", r"^(t\d+/)", 1)
    )
    return pref.join(F.broadcast(src_idx), "prefix")


def merge_tilesets(spark: SparkSession, out_dirs: list[str], merged_dir: str) -> DataFrame:
    """Union tile tables under a fresh root: tile ids re-prefixed by source
    index (collision-free, like the merger's texture renaming,
    TilesetMerger.py:60-87) in BOTH the tiles table and every manifest
    subtree node; the new root's bbox and geometric error dominate all
    children."""
    parts = []
    manifests = []
    for i, d in enumerate(out_dirs):
        t = read_tiles(spark, d).withColumn(
            "tile_id", F.concat(F.lit(f"t{i}/"), F.col("tile_id"))
        )
        parts.append(t)
        manifests.append(read_manifest(d))
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    os.makedirs(merged_dir, exist_ok=True)
    merged.write.mode("overwrite").parquet(os.path.join(merged_dir, "tiles"))

    roots = [
        _reprefix(m["root"], f"t{i}/") for i, m in enumerate(manifests) if m["root"]
    ]
    boxes = [r["bboxMinMax"] for r in roots]
    union_box = [
        min(b[0] for b in boxes), min(b[1] for b in boxes), min(b[2] for b in boxes),
        max(b[3] for b in boxes), max(b[4] for b in boxes), max(b[5] for b in boxes),
    ]
    ctr = [(union_box[i] + union_box[i + 3]) / 2.0 for i in range(3)]
    half = [(union_box[i + 3] - union_box[i]) / 2.0 for i in range(3)]
    root_ge = max(m["geometricError"] for m in manifests)
    manifest = {
        "asset": {"version": "1.0", "generator": "py3dtilers_spark"},
        "geometricError": root_ge * 2.0,
        "root": {
            "boundingVolume": {
                "box": [ctr[0], ctr[1], ctr[2],
                        half[0], 0.0, 0.0, 0.0, half[1], 0.0, 0.0, 0.0, half[2]],
            },
            "bboxMinMax": union_box,
            "geometricError": root_ge * 2.0,
            "refine": "ADD",
            "tile_id": "",
            "n_features": sum(r.get("n_features", 0) for r in roots),
            "children": roots,
        },
    }
    with open(os.path.join(merged_dir, "tileset.json"), "w") as fh:
        json.dump(manifest, fh)
    return spark.read.parquet(os.path.join(merged_dir, "tiles"))
