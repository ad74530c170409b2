"""The tile kernel on real tiles, in-process: ``shelf_pack``, ``decode_into``
each member into the atlas, then ``encode`` the atlas.

The tiles are the pipeline's own output tiles (their member lists come from
``batch_json``), so the kernel sees the same members, sizes and formats as
the encode stage. The base of every per-tile figure is reported with it:
tiles sampled, members per tile, member bytes in and atlas bytes out.
"""
from __future__ import annotations

import statistics
import time

import numpy as np

REPS = 3  # timings per tile; the median is kept
ATLAS_W = 1024


def measure(batches: dict[str, dict], inp: dict, index: dict) -> dict[str, float]:
    """``batches``: tile_id -> decoded batch_json of the sampled tiles;
    ``inp``: input columns including ``bytes``; ``index``: image_id -> row."""
    from py3dtilers_spark.functions.imaging import decode_into, encode, shelf_pack

    rows = []
    for batch in batches.values():
        idx = [index[i] for i in batch["ids"]]
        sizes = [(int(inp["w"][r]), int(inp["h"][r])) for r in idx]
        blobs = [bytes(inp["bytes"][r]) for r in idx]
        fmt = "png" if any(inp["fmt"][r] == "png" for r in idx) else "jpg"
        pack, dec, comp = [], [], []
        for _ in range(REPS):
            t0 = time.perf_counter()
            pos, atlas_h = shelf_pack(sizes, ATLAS_W)
            t1 = time.perf_counter()
            atlas = np.zeros((atlas_h, ATLAS_W, 3), np.uint8)
            t2 = time.perf_counter()
            for (px, py), (w, h), b in zip(pos, sizes, blobs):
                decode_into(b, atlas[py : py + h, px : px + w])
            t3 = time.perf_counter()
            out = encode(atlas, fmt)
            t4 = time.perf_counter()
            pack.append(t1 - t0)
            dec.append(t3 - t2)
            comp.append(t4 - t3)
        rows.append(
            (
                statistics.median(dec) * 1e3,
                statistics.median(pack) * 1e3,
                statistics.median(comp) * 1e3,
                len(idx),
                sum(len(b) for b in blobs),
                len(out),
            )
        )
    if not rows:
        return {}
    mean = [statistics.fmean(c) for c in zip(*rows)]
    return {
        "kernel.decode_ms_per_tile": mean[0],
        "kernel.pack_ms_per_tile": mean[1],
        "kernel.compress_ms_per_tile": mean[2],
        "kernel.ms_per_tile": mean[0] + mean[1] + mean[2],
        "kernel.tiles_sampled": len(rows),
        "kernel.members_per_tile": mean[3],
        "kernel.bytes_in_per_tile": mean[4],
        "kernel.atlas_bytes_per_tile": mean[5],
    }
