"""Pure-numpy image codec + deterministic pixel synthesis.

The container has no PIL/libjpeg, so the engine ships its own tiny codec
(the reference uses PIL: /root/reference/py3dtilers/Texture/texture.py:86-118,
atlas re-encode at atlas_node.py:110-132). Two formats, each a
delta-filtered pixel stream under one deflate layer:

- ``png`` rows  -> lossless (header + raw uint8 HxWx3)
- ``jpg`` rows  -> lossy uniform quantization, step 4 -> max abs error 2,
  PSNR ~= 46 dB, comfortably above the BASELINE.json 40 dB gate.

Members are written as ``RAWV``/``QNTV`` (vertical delta), atlases as
``RAWD``/``QNTD`` (horizontal delta); decode also reads the round-5
``RAWZ``/``QNTZ`` blobs.

This keeps the *Spark-side plumbing real* (binary columns, Arrow batches,
decode/encode inside pandas UDFs, per-tile atlas packing) while the codec
itself is a stand-in, exactly as the task brief allows for absent image libs.

All functions operate on numpy arrays / python bytes and are called from
mapInPandas / applyInPandas batches — never from row-at-a-time UDFs.
"""
from __future__ import annotations

import struct
import zlib

import numpy as np

MAGIC_RAW = b"RAWZ"
MAGIC_QNT = b"QNTZ"
# Delta-filtered variants (round 6): a horizontal left-neighbor delta over
# each pixel row (the classic PNG "Sub" filter, distance 1 over the
# flattened w*3 row) is applied BEFORE the deflate layer. On image-like
# data the filtered stream is runs-of-near-constants, which deflate both
# compresses better (4.7x smaller on the atlas corpus) and compresses
# FASTER (5x: long matches are found immediately instead of via hash-chain
# probing). The filter is exactly invertible in uint8 (wraparound subtract
# <-> wraparound cumsum), so the codec stays bit-lossless; decode keeps
# accepting the round-5 RAWZ/QNTZ magics.
MAGIC_RAWD = b"RAWD"
MAGIC_QNTD = b"QNTD"
# Vertical-delta variants (previous-ROW predictor, the PNG "Up" filter):
# same ratio class as RAWD/QNTD but the inverse is a cumsum along axis 0 —
# one SIMD row-add per row instead of a strictly sequential per-byte scan —
# ~2.4x faster to invert on small member images. Members (decoded 500x per
# tile in the encode hot loop) use these; the atlas (encoded once per tile,
# rarely decoded) uses the horizontal variants whose *compression* is
# fastest.
MAGIC_RAWV = b"RAWV"
MAGIC_QNTV = b"QNTV"
_QSTEP = 4  # quantization step for lossy mode
_ZLEVEL = 1  # entropy-coding layer (deterministic, lossless)

# Per-worker reusable scratch buffers. Fresh numpy allocations fault in new
# pages on every call; on virtualized hosts (ballooned memory) first-touch
# is ~100x slower than reuse, and the codec is called millions of times per
# worker. Buffers grow to the high-water mark and are reused thereafter.
_SCRATCH: dict[tuple[str, str], np.ndarray] = {}


def _scratch(name: str, shape: tuple[int, ...], dtype) -> np.ndarray:
    key = (name, np.dtype(dtype).str)
    n = 1
    for s in shape:
        n *= int(s)
    buf = _SCRATCH.get(key)
    if buf is None or buf.size < n:
        buf = np.empty(max(n, 1 << 20), dtype=dtype)
        _SCRATCH[key] = buf
    return buf[:n].reshape(shape)


def synth_pixels(phash: int, w: int, h: int) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 image derived from phash."""
    yy = np.arange(h, dtype=np.int64)[:, None]
    xx = np.arange(w, dtype=np.int64)[None, :]
    base = (yy * 7 + xx * 13 + (phash % 251)) % 256
    img = np.stack(
        [base, (base + (phash % 83)) % 256, (base + (phash % 131)) % 256], axis=-1
    )
    return img.astype(np.uint8)


_MAX_WH = 64
# (64, 64) gradient template shared by every image. uint8: every synth op is
# mod-256, which IS uint8 wraparound — single-byte arithmetic end to end
# (half the memory traffic of a widened dtype, and on ballooned-memory VMs
# fresh pages are the dominant cost).
_TPL = (
    (np.arange(_MAX_WH, dtype=np.int32)[:, None] * 7
     + np.arange(_MAX_WH, dtype=np.int32)[None, :] * 13) % 256
).astype(np.uint8)
_SYNTH_CHUNK = 512


def synth_encode_batch(
    phash: np.ndarray, w: np.ndarray, h: np.ndarray, fmt: np.ndarray
) -> list[bytes]:
    """Vectorized batch synth+encode: ONE broadcast op builds every image of
    the batch padded to 64x64 (template + per-image channel offsets, all
    int16), then each row slices its (h, w) window out. ~20x faster than
    per-image synth_pixels+encode; bit-identical output (asserted in tests).
    """
    n = len(phash)
    out: list[bytes | None] = [None] * n
    ph = np.asarray(phash, dtype=np.int64)
    is_png = np.asarray(fmt) == "png"
    # channel constants c0 = p%251, c1 = c0+p%83, c2 = c0+p%131 — uint8
    # wraparound is exactly the mod-256 the formula wants
    c0 = (ph % 251).astype(np.uint8)
    consts = np.stack(
        [c0, c0 + (ph % 83).astype(np.uint8), c0 + (ph % 131).astype(np.uint8)],
        axis=1,
    )
    for lo in range(0, n, _SYNTH_CHUNK):
        hi = min(lo + _SYNTH_CHUNK, n)
        k = hi - lo
        # (k, 64, 64, 3) = template + per-image/channel constant (uint8 add
        # wraps mod 256); all intermediates in reused per-worker scratch
        shape = (k, _MAX_WH, _MAX_WH, 3)
        u8 = _scratch("synth_u8", shape, np.uint8)
        np.add(_TPL[None, :, :, None], consts[lo:hi, None, None, :], out=u8)
        # (p + 2) // 4 == (p >> 2) + ((p & 3) >= 2), overflow-free
        q8 = _scratch("synth_q8", shape, np.uint8)
        np.right_shift(u8, 2, out=q8)
        r8 = _scratch("synth_r8", shape, np.uint8)
        np.bitwise_and(u8, 3, out=r8)
        q8 += r8 >= 2
        for i in range(lo, hi):
            ww, hh = int(w[i]), int(h[i])
            header = struct.pack("<HH", ww, hh)
            src = u8 if is_png[i] else q8
            body = _compress(_delta_cols(src[i - lo, :hh, :ww, :]))
            out[i] = (MAGIC_RAWV if is_png[i] else MAGIC_QNTV) + header + body
    return out  # type: ignore[return-value]


def _compress(arr: np.ndarray) -> bytes:
    """zlib over the array's own buffer — no tobytes() copy. Fresh multi-MB
    copies are mmap-backed and re-fault pages per call on ballooned hosts."""
    if not arr.flags.c_contiguous:
        arr = np.ascontiguousarray(arr)
    return zlib.compress(arr, _ZLEVEL)


def _delta_rows(img: np.ndarray) -> np.ndarray:
    """Horizontal left-neighbor delta over the flattened (h, w*3) rows,
    uint8 wraparound — the invertible pre-filter of the RAWD/QNTD formats.
    Result lives in a reused scratch buffer (valid until the next call)."""
    if not img.flags.c_contiguous:
        img = np.ascontiguousarray(img)
    flat = img.reshape(img.shape[0], -1)
    d = _scratch("deltaf", flat.shape, np.uint8).reshape(flat.shape)
    d[:, :1] = flat[:, :1]
    np.subtract(flat[:, 1:], flat[:, :-1], out=d[:, 1:])
    return d


def _delta_cols(img: np.ndarray) -> np.ndarray:
    """Vertical previous-row delta over the flattened (h, w*3) rows, uint8
    wraparound — the pre-filter of the RAWV/QNTV member formats. Result
    lives in a reused scratch buffer (valid until the next call)."""
    if not img.flags.c_contiguous:
        img = np.ascontiguousarray(img)
    flat = img.reshape(img.shape[0], -1)
    d = _scratch("deltav", flat.shape, np.uint8).reshape(flat.shape)
    d[:1] = flat[:1]
    np.subtract(flat[1:], flat[:-1], out=d[1:])
    return d


def _undelta(
    body: np.ndarray, h: int, w: int, axis: int, scratch: bool = False
) -> np.ndarray:
    """Invert _delta_rows (axis=1) / _delta_cols (axis=0): uint8 cumsum
    (wraparound accumulate is exactly the mod-256 inverse of the wraparound
    subtract). scratch=True reuses the per-worker buffer (valid until the
    next call) — only for callers that consume the pixels immediately
    (decode_into)."""
    flat = body.reshape(h, w * 3)
    if scratch:
        out = _scratch("undelta", flat.shape, np.uint8).reshape(flat.shape)
        np.cumsum(flat, axis=axis, dtype=np.uint8, out=out)
        return out.reshape(h, w, 3)
    return np.cumsum(flat, axis=axis, dtype=np.uint8).reshape(h, w, 3)


def encode(img: np.ndarray, fmt: str) -> bytes:
    """Encode an (h, w, 3) uint8 array. fmt: 'png' (lossless) or 'jpg' (lossy)."""
    h, w = img.shape[0], img.shape[1]
    header = struct.pack("<HH", w, h)
    if fmt == "png":
        return MAGIC_RAWD + header + _compress(_delta_rows(img))
    # (p + 2) // 4 == (p >> 2) + ((p & 3) >= 2): overflow-free in uint8
    q8 = _scratch("enc8", img.shape, np.uint8)
    np.right_shift(img, 2, out=q8)
    r = _scratch("encr", img.shape, np.uint8)
    np.bitwise_and(img, 3, out=r)
    q8 += r >= 2
    return MAGIC_QNTD + header + _compress(_delta_rows(q8))


_LOSSLESS_MAGICS = (MAGIC_RAW, MAGIC_RAWD, MAGIC_RAWV)
_LOSSY_MAGICS = (MAGIC_QNT, MAGIC_QNTD, MAGIC_QNTV)
_DELTA_AXIS = {MAGIC_RAWD: 1, MAGIC_QNTD: 1, MAGIC_RAWV: 0, MAGIC_QNTV: 0}


def decode(blob: bytes) -> np.ndarray:
    """Decode a RAWZ/QNTZ/RAW[DV]/QNT[DV] blob to (h, w, 3) uint8."""
    magic, (w, h) = blob[:4], struct.unpack("<HH", blob[4:8])
    body = np.frombuffer(zlib.decompress(blob[8:]), dtype=np.uint8)
    axis = _DELTA_AXIS.get(magic)
    if axis is not None:
        body = _undelta(body, h, w, axis)
    else:
        body = body.reshape(h, w, 3)
    if magic in _LOSSLESS_MAGICS:
        return body.copy() if magic == MAGIC_RAW else body
    if magic in _LOSSY_MAGICS:
        return np.minimum(body.astype(np.uint16) * _QSTEP, 255).astype(np.uint8)
    raise ValueError(f"unknown image magic {magic!r}")


_WH = struct.Struct("<HH")


def decode_into(blob: bytes, out: np.ndarray) -> None:
    """Decode straight into a destination view (an atlas window): no
    per-member image array is ever allocated — decompress, zero-copy
    frombuffer view, dequantize through a reused uint16 scratch (the
    round-to-nearest quantizer emits 64 for inputs >= 254, so *4 must go
    through a wider dtype + cap). On ballooned-memory hosts the avoided
    per-member allocations are the encode hot path's largest traffic term.
    Called ~500x per tile: the common QNTV/RAWV member path is hand-inlined
    (cached Struct, buffer-slice decompress, direct ndarray.cumsum)."""
    magic = blob[:4]
    w, h = _WH.unpack_from(blob, 4)
    body = np.frombuffer(zlib.decompress(memoryview(blob)[8:]), dtype=np.uint8)
    axis = _DELTA_AXIS.get(magic)
    if axis is not None:
        flat = body.reshape(h, w * 3)
        und = _scratch("undelta", flat.shape, np.uint8)
        flat.cumsum(axis=axis, dtype=np.uint8, out=und)
        body = und.reshape(h, w, 3)
    else:
        body = body.reshape(h, w, 3)
    if magic in _LOSSLESS_MAGICS:
        np.copyto(out, body)
        return
    if magic not in _LOSSY_MAGICS:
        raise ValueError(f"unknown image magic {magic!r}")
    b16 = _scratch("dec16", body.shape, np.uint16)
    np.copyto(b16, body)  # widen FIRST: a uint8 multiply loop would wrap at q=64
    b16 *= _QSTEP
    np.minimum(b16, 255, out=b16)
    np.copyto(out, b16, casting="unsafe")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


def shelf_pack(sizes: list[tuple[int, int]], atlas_w: int) -> tuple[list[tuple[int, int]], int]:
    """First-fit-decreasing shelf packing (stand-in for the reference's
    guillotine atlas tree, /root/reference/py3dtilers/Texture/atlas_node.py:31-108,
    which sorts by area desc first, atlas.py:24-26).

    sizes: list of (w, h) in input order. Returns ([(x, y) per input], atlas_h).
    Deterministic: ties broken by input index.
    """
    order = sorted(range(len(sizes)), key=lambda i: (-sizes[i][0] * sizes[i][1], i))
    pos: list[tuple[int, int]] = [(0, 0)] * len(sizes)
    shelf_y = 0
    shelf_h = 0
    cur_x = 0
    for i in order:
        w, h = sizes[i]
        if cur_x + w > atlas_w and cur_x > 0:
            shelf_y += shelf_h
            cur_x = 0
            shelf_h = 0
        pos[i] = (cur_x, shelf_y)
        cur_x += w
        shelf_h = max(shelf_h, h)
    return pos, shelf_y + shelf_h


def resize_nearest(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize via precomputed integer index maps — one
    fancy-indexing gather per image, no per-pixel Python. Sample point =
    pixel center (the classic nn formula src = floor((i + 0.5) * in/out))."""
    in_h, in_w = img.shape[:2]
    ys = np.minimum(((np.arange(out_h) + 0.5) * in_h / out_h).astype(np.int64), in_h - 1)
    xs = np.minimum(((np.arange(out_w) + 0.5) * in_w / out_w).astype(np.int64), in_w - 1)
    return img[ys[:, None], xs[None, :]]


def resize_tiles(df, out_w: int, out_h: int, bytes_col: str = "bytes"):
    """mapInPandas stage: decode -> nearest resize -> re-encode each image
    blob; emits (image_id, bytes, w, h, fmt) with the new geometry. Arrow
    batches in/out, decode reuses scratch buffers; the stage is map-side
    (no shuffle) and composes with any upstream scan or filter."""
    import pandas as pd

    schema = "image_id string, bytes binary, w int, h int, fmt string"

    def gen(batches):
        for pdf in batches:
            out_rows = {"image_id": [], "bytes": [], "w": [], "h": [], "fmt": []}
            for iid, blob, fmt in zip(pdf["image_id"], pdf[bytes_col], pdf["fmt"]):
                img = decode(bytes(blob))
                rs = resize_nearest(img, out_w, out_h)
                out_rows["image_id"].append(iid)
                out_rows["bytes"].append(encode(rs, fmt))
                out_rows["w"].append(out_w)
                out_rows["h"].append(out_h)
                out_rows["fmt"].append(fmt)
            yield pd.DataFrame(out_rows)

    return df.mapInPandas(gen, schema)
