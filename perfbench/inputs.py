"""Seeded input tables for the tiler benchmark.

Each table has the ``features`` schema of ``py3dtilers_spark.data.features``
(image_id, w, h, fmt, caption, phash, x, y, z) with the same value ranges:
16..64 px images, a quarter of them lossless ``png``, centroids in a 10 km
square of Lyon coordinates quantized to 0.1 m, plus the ``bytes`` column,
encoded with the package's own member codec (``synth_encode_batch``),
because the tile encoder only decodes that codec.

The seed draws every column: ``phash`` (so the pixels and the bytes change),
the image sizes and formats, and the centroids. A quarter of the centroids
fall in seeded dense clusters, so kd splits and tile membership change with
the seed. The program only ever sees the written parquet directory.

Tables are cached under the work directory, keyed by row count, seed and a
hash of this file, so a change to the generator never reuses an old table.
"""
from __future__ import annotations

import hashlib
import os
import shutil
import time
from pathlib import Path

import numpy as np

N_FILES = 8  # parquet files per table: the scan gets several splits
CACHE_KEEP = 24  # cached tables kept in the work directory (oldest go first)
_GEN_HASH = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:12]


def columns(n: int, seed: int) -> dict[str, np.ndarray]:
    """All non-payload columns of an ``n``-row table for ``seed``."""
    rng = np.random.default_rng([seed % 2**63, n])  # any integer seed
    x = rng.random(n) * 10_000.0
    y = rng.random(n) * 10_000.0
    dense = rng.random(n) < 0.25
    centers = rng.random((8, 2)) * 10_000.0
    which = rng.integers(0, 8, n)
    x[dense] = centers[which[dense], 0] + rng.normal(0.0, 150.0, dense.sum())
    y[dense] = centers[which[dense], 1] + rng.normal(0.0, 150.0, dense.sum())
    x = 1_843_000.0 + np.round(np.clip(x, 0.0, 9_999.9), 1)
    y = 5_173_000.0 + np.round(np.clip(y, 0.0, 9_999.9), 1)
    z = 180.0 + np.round(rng.random(n) * 100.0, 1)
    part = rng.integers(1, 20_001, n)
    flag = np.asarray(["A", "N", "R"])[rng.integers(0, 3, n)]
    return {
        "image_id": np.char.add("img_", np.arange(n).astype("U8")).astype(object),
        "w": rng.integers(16, 65, n).astype(np.int32),
        "h": rng.integers(16, 65, n).astype(np.int32),
        "fmt": np.where(rng.random(n) < 0.25, "png", "jpg").astype(object),
        "caption": np.char.add(
            np.char.add("caption ", part.astype("U6")), np.char.add(" ", flag)
        ).astype(object),
        "phash": rng.integers(0, 1 << 62, n, dtype=np.int64),
        "x": x,
        "y": y,
        "z": z,
    }


def _write(path: str, cols: dict[str, np.ndarray], payload: list[bytes]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    n = len(cols["x"])
    bounds = np.linspace(0, n, N_FILES + 1).astype(int)
    for i, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        data = {k: pa.array(v[a:b]) for k, v in cols.items()}
        data["bytes"] = pa.array(payload[a:b], type=pa.binary())
        pq.write_table(pa.table(data), os.path.join(tmp, f"part-{i:05d}.parquet"))
    os.rename(tmp, path)


def _evict(cache_dir: str) -> None:
    entries = sorted(
        (os.path.getmtime(os.path.join(cache_dir, e)), e)
        for e in os.listdir(cache_dir)
        if ".tmp" not in e
    )
    for _mtime, e in entries[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(cache_dir, e), ignore_errors=True)


def ensure_table(work: str, n: int, seed: int) -> tuple[str, float]:
    """Path of the ``n``-row table for ``seed``, generating it unless cached;
    also the seconds spent generating (0 on a hit)."""
    from py3dtilers_spark.functions.imaging import synth_encode_batch

    cache_dir = os.path.join(work, "inputs")
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"features_n{n}_s{seed}_{_GEN_HASH}")
    if os.path.isdir(path):
        os.utime(path)
        return path, 0.0
    t0 = time.perf_counter()
    cols = columns(n, seed)
    _write(path, cols, synth_encode_batch(cols["phash"], cols["w"], cols["h"], cols["fmt"]))
    _evict(cache_dir)
    return path, time.perf_counter() - t0


def load_columns(path: str) -> dict[str, np.ndarray]:
    """The columns of a written table as numpy arrays."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    return {c: tbl.column(c).to_numpy(zero_copy_only=False) for c in tbl.column_names}
