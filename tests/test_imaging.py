"""Codec + payload plumbing: PSNR >= 40 dB lossy / exact lossless round trip
(BASELINE.json input_hint invariant), Arrow-batched bytes attachment."""
import struct
import zlib

import numpy as np
import pytest

from py3dtilers_spark.data import features_df
from py3dtilers_spark.functions.imaging import (
    decode,
    decode_into,
    encode,
    psnr,
    shelf_pack,
    synth_pixels,
)


def test_lossless_roundtrip():
    img = synth_pixels(123456789, 32, 24)
    assert np.array_equal(decode(encode(img, "png")), img)


def test_lossy_psnr_gate():
    rng_imgs = [synth_pixels(p, 48, 31) for p in (1, 987654321, 2**60 + 7)]
    for img in rng_imgs:
        out = decode(encode(img, "jpg"))
        assert psnr(img, out) >= 40.0
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 3


@pytest.mark.parametrize("fmt", ["png", "jpg"])
@pytest.mark.parametrize("shape", [(1, 65536, 3), (65536, 1, 3)])
def test_encode_rejects_side_over_uint16(shape, fmt):
    # an atlas taller than the "<HH" header holds is a named error, not a
    # struct.error deep inside the encode kernel
    img = np.zeros(shape, dtype=np.uint8)
    size = f"{shape[1]}x{shape[0]} px"
    with pytest.raises(ValueError, match=f"{size} .*65535 px limit"):
        encode(img, fmt)


@pytest.mark.parametrize("magic", [b"RAWZ", b"QNTZ"])
def test_retired_magics_are_unknown(magic):
    # the round-5 formats: magic + "<HH" header + zlib of unfiltered pixels
    img = synth_pixels(7, 5, 4)
    blob = magic + struct.pack("<HH", 5, 4) + zlib.compress(img.tobytes())
    with pytest.raises(ValueError, match="unknown image magic"):
        decode(blob)
    with pytest.raises(ValueError, match="unknown image magic"):
        decode_into(blob, np.empty_like(img))


def test_shelf_pack_no_overlap():
    sizes = [(16, 16), (64, 32), (20, 40), (64, 64), (8, 8)]
    pos, atlas_h = shelf_pack(sizes, atlas_w=128)
    boxes = [(x, y, x + w, y + h) for (x, y), (w, h) in zip(pos, sizes)]
    assert all(x2 <= 128 and y2 <= atlas_h for (_, _, x2, y2) in boxes)
    for i in range(len(boxes)):
        for j in range(i + 1, len(boxes)):
            a, b = boxes[i], boxes[j]
            overlap = not (a[2] <= b[0] or b[2] <= a[0] or a[3] <= b[1] or b[3] <= a[1])
            assert not overlap, (i, j)


def test_attach_bytes_decodes_back(spark, sf_smoke):
    feats = features_df(spark, sf_smoke, with_bytes=True).limit(20)
    rows = feats.collect()
    assert rows
    for r in rows:
        img = decode(bytes(r["bytes"]))
        assert img.shape == (r["h"], r["w"], 3)
        ref = synth_pixels(r["phash"], r["w"], r["h"])
        if r["fmt"] == "png":
            assert np.array_equal(img, ref)
        else:
            assert psnr(ref, img) >= 40.0


def test_resize_nearest_hand_case():
    import numpy as np

    from py3dtilers_spark.functions.imaging import resize_nearest

    # 2x2 -> 4x4: each source pixel becomes a 2x2 block
    img = np.array([[[0], [1]], [[2], [3]]], dtype=np.uint8)
    up = resize_nearest(img, 4, 4)
    assert up.shape == (4, 4, 1)
    assert (up[:2, :2] == 0).all() and (up[:2, 2:] == 1).all()
    assert (up[2:, :2] == 2).all() and (up[2:, 2:] == 3).all()
    # downscale back recovers the original exactly (centers align)
    down = resize_nearest(up, 2, 2)
    assert (down == img).all()


def test_resize_tiles_stage(spark):
    import numpy as np

    from py3dtilers_spark.functions.imaging import (
        decode, resize_nearest, synth_encode_batch, synth_pixels,
    )
    from py3dtilers_spark.functions.imaging import resize_tiles

    ph = np.array([11, 22, 33], dtype=np.int64)
    w = np.array([16, 24, 32], dtype=np.int32)
    h = np.array([16, 20, 8], dtype=np.int32)
    fmt = np.array(["png", "png", "png"])
    blobs = synth_encode_batch(ph, w, h, fmt)
    df = spark.createDataFrame(
        [(f"i{k}", bytes(blobs[k]), int(w[k]), int(h[k]), "png") for k in range(3)],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    out = {r.image_id: r for r in resize_tiles(df, 12, 12).collect()}
    assert set(out) == {"i0", "i1", "i2"}
    for k in range(3):
        r = out[f"i{k}"]
        assert (r.w, r.h) == (12, 12)
        got = decode(bytes(r.bytes))
        want = resize_nearest(synth_pixels(int(ph[k]), int(w[k]), int(h[k])), 12, 12)
        assert (got == want).all()  # png is lossless: exact pixel parity


@pytest.mark.parametrize(
    "blob, cause",
    [
        (b"RAWD\x01", "shorter than its 8-byte header"),
        (
            b"RAWD" + struct.pack("<HH", 4, 4) + zlib.compress(b"\0" * 10),
            r"decompresses to 10 bytes, not the 4x4x3 = 48",
        ),
    ],
    ids=["short_header", "short_body"],
)
def test_truncated_blob_is_a_named_error(blob, cause):
    with pytest.raises(ValueError, match=cause):
        decode(blob)
    with pytest.raises(ValueError, match=cause):
        decode_into(blob, np.empty((4, 4, 3), dtype=np.uint8))
