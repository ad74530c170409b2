"""Output checks for one ``run_tiler`` call.

They repeat the invariants of ``tests/test_tiler_job.py`` on the
benchmark's own inputs:

- the tiles hold every input row once (sum of ``n_features``);
- the tile set (tile_id -> n_features, checksum) is the same in every run
  of one seed;
- on the exact kd path, no leaf holds more than ``kd_tree_max`` rows and the
  leaves equal ``kd_finish_numpy`` over the collected input;
- a fixed sample of tiles decodes with png members byte-exact, jpg members
  at PSNR >= 40 dB, and the input captions.
"""
from __future__ import annotations

import json
import os

import numpy as np

SAMPLE_TILES = 4  # tiles decoded per check
MIN_PSNR_DB = 40.0


def sample_ids(tile_ids) -> list[str]:
    """A fixed, evenly spaced sample of the sorted tile ids."""
    ids = sorted(tile_ids)
    if not ids:
        return []
    pos = np.linspace(0, len(ids) - 1, min(SAMPLE_TILES, len(ids))).astype(int)
    return [ids[i] for i in sorted(set(pos))]


def tile_set(out_dir: str) -> dict[str, tuple]:
    """tile_id -> (n_features, checksum) from the tiles table."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(out_dir, "tiles"), columns=["tile_id", "n_features", "checksum"]
    ).to_pydict()
    return {
        tid: (int(n), c) for tid, n, c in zip(t["tile_id"], t["n_features"], t["checksum"])
    }


def kd_reference(cols: dict, kd_tree_max: int) -> dict[str, int]:
    """Leaf sizes of the exact kd tree over the whole input, computed by the
    package's local finisher (the kd oracle's vectorized twin)."""
    from py3dtilers_spark.operators.kd_rank import kd_finish_numpy

    paths = kd_finish_numpy(cols["image_id"], cols["x"], cols["y"], kd_tree_max)
    uniq, counts = np.unique(paths.astype(str), return_counts=True)
    return {str(p): int(c) for p, c in zip(uniq, counts)}


def tile_payloads(out_dir: str, tids: list[str], files: bool) -> dict[str, tuple]:
    """tile_id -> (atlas blob, batch dict) for the sampled tiles."""
    import pyarrow.parquet as pq

    cols = ["tile_id", "batch_json"] + ([] if files else ["atlas"])
    t = pq.read_table(
        os.path.join(out_dir, "tiles"), columns=cols, filters=[("tile_id", "in", tids)]
    ).to_pydict()
    out = {}
    for i, tid in enumerate(t["tile_id"]):
        if files:
            with open(os.path.join(out_dir, "tiles_files", f"{tid}.bin"), "rb") as fh:
                blob = fh.read()
        else:
            blob = t["atlas"][i]
        out[tid] = (blob, json.loads(t["batch_json"][i]))
    return out


def check_payload(out_dir: str, tids: list[str], files: bool, inp: dict, index: dict) -> list[str]:
    from py3dtilers_spark.functions.imaging import decode, psnr, synth_pixels

    errs = []
    got = tile_payloads(out_dir, tids, files)
    if sorted(got) != sorted(tids):
        return [f"sampled tiles missing: {sorted(set(tids) - set(got))}"]
    for tid, (blob, batch) in got.items():
        atlas = decode(blob)
        for iid, cap, (x, y, w, h) in zip(batch["ids"], batch["captions"], batch["uv"]):
            r = index[iid]
            if cap != inp["caption"][r]:
                errs.append(f"{tid}/{iid}: caption differs")
            if (w, h) != (int(inp["w"][r]), int(inp["h"][r])):
                errs.append(f"{tid}/{iid}: size differs")
                continue
            ref = synth_pixels(int(inp["phash"][r]), w, h)
            crop = atlas[y : y + h, x : x + w]
            if inp["fmt"][r] == "png":
                if not np.array_equal(crop, ref):
                    errs.append(f"{tid}/{iid}: lossless member not byte-exact")
            elif psnr(ref, crop) < MIN_PSNR_DB:
                errs.append(f"{tid}/{iid}: PSNR below {MIN_PSNR_DB} dB")
    return errs


def check_run(stats: dict, tiles: dict, n_rows: int, ref_tiles: dict | None,
              kd_ref: dict | None, kd_tree_max: int) -> list[str]:
    """Checks that need no tile payloads; an empty list means the run passed."""
    errs = []
    total = sum(v[0] for v in tiles.values())
    if total != n_rows or stats.get("n_features") != n_rows:
        errs.append(f"rows: tiles hold {total}, run reports "
                    f"{stats.get('n_features')}, input has {n_rows}")
    if stats.get("n_tiles") != len(tiles):
        errs.append(f"tiles: run reports {stats.get('n_tiles')}, output has {len(tiles)}")
    if ref_tiles is not None and tiles != ref_tiles:
        errs.append("tile set differs from the first run of this seed")
    if kd_ref is not None:
        big = max((v[0] for v in tiles.values()), default=0)
        if big > kd_tree_max:
            errs.append(f"leaf of {big} rows above kd_tree_max={kd_tree_max}")
        if {k: v[0] for k, v in tiles.items()} != kd_ref:
            errs.append("leaves differ from kd_finish_numpy over the input")
    return errs
