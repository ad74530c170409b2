"""End-to-end tiling pipeline: the engine's equivalent of the reference's
create_tileset_from_feature_list (py3dtilers/Common/tiler.py:231-271)
+ FromGeometryTreeToTileset (tileset_creation.py:27-139), restructured as one
chain of DataFrame stages (SURVEY.md section 7.1):

  scan features -> kd assign (exact or sample walk) -> one tile shuffle ->
  streaming per-tile encode (mapInPandas) -> per-tile leaf stats ->
  lineage + hierarchy roll-up + manifest (local or sharded finish)

Unlike the reference (which interleaves per-tile SQL fetch + encode + file
write on one thread, the N+1 pattern of CityTiler.py:76-96), geometry/payload
flows through ONE scan and ONE shuffle keyed by tile_id; every tile encodes in
parallel; the tree rolls up from the per-tile stats, never from the rows.

Checkpoint/lineage (north rule; no reference counterpart): every encoded tile
appends a lineage row (run_id, cell_id=tile_id, row_count, checksum). A
resumed run anti-joins completed tile ids and encodes only the remainder,
producing byte-identical output to an uninterrupted run (tile encode is a
deterministic function of the tile's member rows).
"""
from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..data.features import features_df
from ..data.synth_images import attach_bytes
from ..functions.imaging import _scratch, decode_into, encode, shelf_pack
from ..operators import hierarchy
from ..operators.hierarchy import (
    manifest_from_rows,
    rollup_rows_local,
    tile_stats,
    tile_tree_from_stats,
)
from ..operators.kd_tree import kd_assign, kd_sample_walk

# unused here; kept importable because perfbench/tracing.py patches them by name
from ..operators.hierarchy import manifest, tile_tree  # noqa: F401

# encode tasks are sized by their OUTPUT (~35k payload rows each): large
# per-task payload buffers degrade superlinearly (page-fault pressure), and
# AQE only sees the tiny columnar input
ROWS_PER_TASK = 35_000
SLIM_COLS = ["image_id", "x", "y", "z", "w", "h", "fmt", "caption", "phash"]
META_COLS = [
    "tile_id", "n_features", "checksum", "xmin", "xmax", "ymin", "ymax", "zmin", "zmax",
]
ENCODED_SCHEMA = (
    "tile_id string, n_features bigint, atlas binary, atlas_w int, atlas_h int,"
    " batch_json string, checksum string,"
    " xmin double, xmax double, ymin double, ymax double, zmin double, zmax double"
)


def _write_lineage_local(meta_pdf: pd.DataFrame, lineage_dir: str, run_id: str) -> None:
    """Lineage sink from the already-collected tile metadata: same schema as
    the distributed writer (run_id, cell_id, row_count, checksum,
    completed_at) via one pyarrow file — no Spark job."""
    import datetime
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(lineage_dir, ignore_errors=True)
    os.makedirs(lineage_dir, exist_ok=True)
    n = len(meta_pdf)
    now = datetime.datetime.now(datetime.timezone.utc)
    tbl = pa.table(
        {
            "run_id": pa.array([run_id] * n, type=pa.string()),
            "cell_id": pa.array(meta_pdf["tile_id"].astype(str), type=pa.string()),
            "row_count": pa.array(
                meta_pdf["n_features"].to_numpy(dtype="int64"), type=pa.int64()
            ),
            "checksum": pa.array(meta_pdf["checksum"].astype(str), type=pa.string()),
            # tz-aware timestamp (isAdjustedToUTC=true) so this layout reads
            # back as the SAME parquet type as the distributed writer's
            # F.current_timestamp() — lineage from the two finish paths can
            # be unioned / resumed across without schema drift
            "completed_at": pa.array([now] * n, type=pa.timestamp("us", tz="UTC")),
        }
    )
    pq.write_table(tbl, os.path.join(lineage_dir, "part-00000.parquet"))
    open(os.path.join(lineage_dir, "_SUCCESS"), "w").close()


def encode_tile(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-tile encoder (reference __create_tile_content,
    tileset_creation.py:141-194 + atlas pack, Texture/atlas.py:52-88):
    decode member images, shelf-pack into one atlas, re-encode (lossless iff
    every member is lossless), emit batch table json + checksum.

    Called once per tile by the streaming encoder — all images of a tile are
    co-partitioned by the kd shuffle, exactly the reference's invariant that
    a tile's textures are atlased together."""
    pdf = pdf.sort_values("image_id", kind="mergesort").reset_index(drop=True)
    tile_id = pdf["tile_id"].iloc[0]
    # sizes come from the row columns, so members decode DIRECTLY into their
    # atlas window (decode_into): no per-member image array ever exists —
    # halves the hot path's memory traffic vs decode-then-paste
    sizes = list(zip(pdf["w"].astype(int), pdf["h"].astype(int)))
    atlas_w = 1024
    pos, atlas_h = shelf_pack(sizes, atlas_w)
    # reused per-worker buffer: avoids faulting fresh pages per tile
    atlas = _scratch("atlas", (atlas_h, atlas_w, 3), np.uint8)
    atlas.fill(0)
    for (px, py), (w, h), b in zip(pos, sizes, pdf["bytes"]):
        decode_into(bytes(b), atlas[py : py + h, px : px + w])
    # lossless fidelity invariant (BASELINE.json input_hint): a png (lossless)
    # member must round-trip byte-exact no matter what tile it lands in, so
    # the atlas is stored lossless whenever ANY member is png. jpg members
    # were already quantized at their own encode; re-quantizing an all-jpg
    # atlas is the identity on those pixels, so PSNR is preserved either way.
    fmt = "png" if (pdf["fmt"] == "png").any() else "jpg"
    blob = encode(atlas, fmt)
    batch = {
        "ids": pdf["image_id"].tolist(),
        "captions": pdf["caption"].tolist(),
        "uv": [[int(x), int(y), int(w), int(h)] for (x, y), (w, h) in zip(pos, sizes)],
        "fmt": fmt,
    }
    h = hashlib.sha256()
    for iid, cap in zip(pdf["image_id"], pdf["caption"]):
        h.update(iid.encode())
        h.update(cap.encode())
    # per-tile bounding volume computed IN the encode pass (columns ride the
    # one payload shuffle): the hierarchy then rolls up from these leaf stats
    # with no second source scan — the tree phase becomes O(#tiles)
    return pd.DataFrame(
        [
            {
                "tile_id": tile_id,
                "n_features": len(pdf),
                "atlas": blob,
                "atlas_w": atlas_w,
                "atlas_h": int(atlas_h),
                "batch_json": json.dumps(batch),
                "checksum": h.hexdigest(),
                "xmin": float(pdf["x"].min()),
                "xmax": float(pdf["x"].max()),
                "ymin": float(pdf["y"].min()),
                "ymax": float(pdf["y"].max()),
                "zmin": float(pdf["z"].min()),
                "zmax": float(pdf["z"].max()),
            }
        ]
    )


def _sink_tile_payload(row_pdf: pd.DataFrame, files_dir: str | None) -> pd.DataFrame:
    """File tile sink: the Python worker writes the encoded payload straight
    to <files_dir>/<tile_id>.bin (the per-tile-file layout of a real 3D
    Tiles output — the reference writes tiles/{i}.b3dm the same way,
    tileset_creation.py:141-194) and only METADATA rides Arrow back to the
    JVM. At 4+ cores the Arrow serialization + parquet write of payload
    bytes is pure JVM CPU that contends with the Python encode workers for
    the same physical cores; with the file sink the JVM side of the encode
    stage handles ~100 bytes per tile instead of ~1 MB."""
    if files_dir is None:
        return row_pdf
    tid = row_pdf["tile_id"].iloc[0]
    with open(os.path.join(files_dir, f"{tid}.bin"), "wb") as fh:
        fh.write(row_pdf["atlas"].iloc[0])
    out = row_pdf.copy()
    out["atlas"] = [b""]
    return out


def encode_tiles_stream(tiled: DataFrame, files_dir: str | None = None) -> DataFrame:
    """Streaming sort-based tile encoder.

    Input MUST be hash-partitioned AND sorted by tile_id (repartition +
    sortWithinPartitions): tiles are then contiguous runs inside each
    partition, so a mapInPandas iterator encodes tile-by-tile holding at
    most ONE tile in memory — unlike groupBy().applyInPandas(), which
    materializes a whole shuffle partition as pandas before splitting into
    groups. At 10^12 rows (and on memory-ballooned hosts where fresh pages
    are expensive) the peak-memory difference is partition-size vs
    tile-size."""

    def gen(batches):
        buf: list[pd.DataFrame] = []
        cur = None

        def flush():
            # most tiles sit inside one Arrow batch: skip the concat copy
            pdf = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            return _sink_tile_payload(encode_tile(pdf), files_dir)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            tids = pdf["tile_id"].to_numpy()
            change = np.flatnonzero(tids[1:] != tids[:-1]) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(pdf)]))
            for s, e in zip(starts, ends):
                tid = tids[s]
                if cur is not None and tid != cur and buf:
                    yield flush()
                    buf = []
                cur = tid
                buf.append(pdf.iloc[s:e])
        if buf:
            yield flush()

    return tiled.mapInPandas(gen, ENCODED_SCHEMA)


def run_tiler(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    kd_tree_max: int = 500,
    exact: bool = True,
    with_payload: bool = True,
    run_id: str = "run0",
    resume: bool = False,
    fail_after_tiles: int | None = None,
    features: "DataFrame | None" = None,
    payload_source: str = "column",
    n_rows_hint: int | None = None,
    manifest_shard_depth: int | None = None,
    tile_sink: str = "parquet",
) -> dict:
    """Execute the pipeline; returns summary metrics (incl. per-phase secs).

    Input: ``features`` (a table with the features schema; its ``bytes``
    column is the payload) or, when it is None, ``features_df(sf_dir)`` with
    bytes attached by ``attach_bytes`` on the encode branch only.
    exact: exact kd (``kd_assign``) joined back to the payload rows, else
    the sample-walk kd assigned map-side.
    payload_source: "column" is the only mode (payload bytes always come
    from the input table); kept because perfbench/harness.py passes it.
    fail_after_tiles: test hook — encode only the first K tiles (by path
    order) then 'crash', leaving a partial lineage for resume tests.
    tile_sink: "parquet" keeps payload blobs in the tiles parquet (the
    columnar sink the oracle/PSNR tests read); "files" writes each payload
    to tiles_files/<tile_id>.bin from the Python worker (the 3D Tiles
    per-tile-file layout; on a cluster this is shared/object storage) and
    the parquet carries metadata only — the scale mode.
    Returns ``finish`` = "local" (driver roll-up of the leaf stats) or
    "sharded:d<k>" (distributed roll-up, executor-written subtree tilesets).
    """
    import time

    if payload_source != "column":
        raise ValueError(
            f"payload_source={payload_source!r}: the 'synth' payload source was"
            " removed; payload bytes always come from the input table"
        )
    if features is not None and with_payload and "bytes" not in features.columns:
        raise ValueError(
            "features has no 'bytes' column: pass a table with payload bytes,"
            " or with_payload=False"
        )
    timings: dict[str, float] = {}
    _t = time.time
    # count, kd and leaf-stats scans read this byte-free projection:
    # mapInPandas (the payload generator/decoder) is a column-pruning
    # barrier, so payload bytes are read by the encode branch alone and
    # cross exactly one shuffle (the tile repartition)
    t0 = _t()
    src = features if features is not None else features_df(spark, sf_dir)
    slim = src.select(*SLIM_COLS)
    n_rows = n_rows_hint if n_rows_hint is not None else slim.count()
    # 100x finish auto-switch: above this many (estimated) leaf tiles the
    # driver-side finish (metadata collect + roll-up) stops being "tiny" —
    # lineage, tree roll-up, and the manifest then run distributed, with
    # executor-sharded external tilesets. The estimate needs no job:
    # leaves ~= n_rows / kd_tree_max by construction.
    auto_shard_tiles = int(os.environ.get("SPARK_GRAFT_AUTO_SHARD_TILES", "2048"))
    est_leaves = max(1, int(n_rows) // max(kd_tree_max, 1))
    if manifest_shard_depth is None and est_leaves > auto_shard_tiles:
        # shards ~= sqrt(#leaves): driver holds 2^depth stubs, each shard
        # holds ~#leaves/2^depth nodes — both stay far below driver memory
        # out to 10^12 rows (2^31 leaves -> 2^16 shards of ~2^15 leaves)
        manifest_shard_depth = max(2, (est_leaves.bit_length() + 1) // 2)
    # round encode tasks up to whole waves of the available slots to avoid
    # a straggler tail
    par = spark.sparkContext.defaultParallelism
    n_parts = max(2, -(-(n_rows // ROWS_PER_TASK + 1) // par)) * par
    if exact:
        # parity path: kd runs on the slim projection (window sorts), the
        # assignment joins back to the payload rows
        tiled = kd_assign(
            slim.select("image_id", "x", "y", "z"), kd_tree_max=kd_tree_max, exact=True
        ).localCheckpoint(eager=True)

        def assign(df: DataFrame) -> DataFrame:
            return df.join(tiled.select("image_id", "tile_id"), "image_id")
    else:
        # scale path: the split tree comes from a slim (x, y) sample scan and
        # every row is assigned map-side — zero shuffles before the single
        # tile repartition
        walk = kd_sample_walk(slim.select("x", "y"), kd_tree_max, n_rows)

        def assign(df: DataFrame) -> DataFrame:
            return df.withColumn("tile_id", walk(F.col("x"), F.col("y")))

        tiled = assign(slim.select("x", "y", "z"))
    timings["kd"] = _t() - t0

    tiles_dir = os.path.join(out_dir, "tiles")
    lineage_dir = os.path.join(out_dir, "lineage")
    local = manifest_shard_depth is None
    if with_payload:
        payload_cols = ["tile_id", *SLIM_COLS] + (["bytes"] if features is not None else [])
        todo = assign(src).select(*payload_cols)
        if resume and os.path.exists(lineage_dir):
            done = spark.read.parquet(lineage_dir).where(
                F.col("run_id") == run_id
            ).select(F.col("cell_id").alias("tile_id"))
            todo = todo.join(F.broadcast(done), "tile_id", "left_anti")
        if fail_after_tiles is not None:
            keep = sorted(r["tile_id"] for r in todo.select("tile_id").distinct().collect())
            todo = todo.where(F.col("tile_id").isin(keep[:fail_after_tiles]))
        if features is None:
            todo = attach_bytes(todo)
        t0 = _t()
        # LATE MATERIALIZATION (the reference's lazy per-tile geometry,
        # geometry_node.py:70-75): ONE shuffle co-partitions and sorts the
        # rows, bytes included, by tile; the streaming encoder then atlases
        # each tile in the same stage
        pre = todo.repartition(n_parts, "tile_id").sortWithinPartitions("tile_id")
        files_dir = None
        if tile_sink == "files":
            files_dir = os.path.join(out_dir, "tiles_files")
            os.makedirs(files_dir, exist_ok=True)
        # atlas blobs are already entropy-coded (zlib) — parquet snappy on
        # top is pure JVM CPU for ~0 ratio; uncompressed halves the write
        # path's CPU demand (matters when executor JVM threads contend with
        # the Python workers for the same cores)
        encode_tiles_stream(pre, files_dir).write.mode("append").option(
            "compression", "uncompressed"
        ).parquet(tiles_dir)
        timings["encode_write"] = _t() - t0
        # the leaf stats are the encoder's metadata columns (the heavy atlas
        # column is never read); one read feeds lineage, tree and manifest
        t0 = _t()
        if local:
            # pyarrow read of the tiles dir: the metadata is O(#tiles), and a
            # Spark job for it costs more (scheduling + task dispatch) than
            # the read itself, in the serial tail that caps N->4N scaling
            import pyarrow.parquet as pq

            meta_pdf = pq.read_table(tiles_dir, columns=META_COLS).to_pandas()
            _write_lineage_local(meta_pdf, lineage_dir, run_id)
            leaf_rows = meta_pdf.to_dict("records")
        else:
            # the session's tiny maxPartitionBytes (sized for the sandbox
            # inputs) would split this metadata-only read into hundreds of
            # tasks — widen it for the read, then restore
            mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 30))
            try:
                leaf_stats = spark.read.parquet(tiles_dir).select(*META_COLS
                ).localCheckpoint(eager=True)
            finally:
                spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
            leaf_stats.select(
                F.lit(run_id).alias("run_id"),
                F.col("tile_id").alias("cell_id"),
                F.col("n_features").alias("row_count"),
                "checksum",
                F.current_timestamp().alias("completed_at"),
            ).write.mode("overwrite").parquet(lineage_dir)
        timings["lineage"] = _t() - t0
    else:
        leaf_stats = tile_stats(tiled)
        if local:
            leaf_rows = [r.asDict() for r in leaf_stats.collect()]

    t0 = _t()
    os.makedirs(out_dir, exist_ok=True)
    if local:
        rows = rollup_rows_local(leaf_rows)
        with open(os.path.join(out_dir, "tileset.json"), "w") as fh:
            json.dump(manifest_from_rows(rows), fh)
        n_leaves = sum(1 for v in rows.values() if v["is_leaf"])
        n_features = rows[""]["n_features"] if "" in rows else 0
        finish = "local"
    else:
        # 100x path: executors write per-prefix subtree tilesets, the driver
        # holds only the top levels + one summary row per shard. The tree is
        # read twice (shards, top levels): materialize it once.
        tree = tile_tree_from_stats(leaf_stats).localCheckpoint(eager=True)
        m = hierarchy.write_manifest_sharded(tree, out_dir, manifest_shard_depth)
        # counts come back on the shard summaries — no extra job on the tree
        n_leaves = m["_n_leaves"]
        n_features = m["root"].get("n_features", 0) if m.get("root") else 0
        finish = f"sharded:d{manifest_shard_depth}"
    timings["manifest"] = _t() - t0
    return {
        "n_features": int(n_features),
        "n_tiles": int(n_leaves),
        "finish": finish,
        "timings": {k: round(v, 2) for k, v in timings.items()},
    }
