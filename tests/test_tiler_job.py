"""End-to-end pipeline: payload fidelity (PSNR >= 40 dB lossy / exact
lossless, caption equality — BASELINE.json input_hint) and exact resume from
the lineage checkpoint (north rule)."""
import json
import os

import numpy as np
import pytest
from pyspark.errors import PythonException

from py3dtilers_spark.functions.imaging import decode, psnr, synth_pixels
from py3dtilers_spark.operators import kd_rank
from py3dtilers_spark.plans import tiler_job
from py3dtilers_spark.plans.tiler_job import run_tiler


def _read_tiles(spark, out):
    return spark.read.parquet(os.path.join(out, "tiles")).toPandas()


def test_payload_roundtrip(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "t1")
    stats = run_tiler(spark, sf_smoke, out, kd_tree_max=300)
    tiles = _read_tiles(spark, out)
    assert stats["n_tiles"] == len(tiles)
    assert stats["n_features"] == int(tiles["n_features"].sum())
    checked = 0
    for _, t in tiles.iterrows():
        atlas = decode(bytes(t["atlas"]))
        batch = json.loads(t["batch_json"])
        lossless = batch["fmt"] == "png"
        for iid, cap, (x, y, w, h) in zip(batch["ids"], batch["captions"], batch["uv"]):
            # caption exact equality invariant
            parts = iid.split("_")
            assert cap.startswith("caption " + parts[3] + " ")
            crop = atlas[y : y + h, x : x + w]
            assert crop.shape == (h, w, 3)
            checked += 1
        del lossless
    assert checked == stats["n_features"]


def test_payload_psnr_per_feature(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "t2")
    run_tiler(spark, sf_smoke, out, kd_tree_max=500)
    tiles = _read_tiles(spark, out)
    from py3dtilers_spark.data import features_df

    orig = {
        r["image_id"]: (r["phash"], r["w"], r["h"], r["fmt"])
        for r in features_df(spark, sf_smoke).collect()
    }
    n_exact = n_lossy = n_mixed_exact = 0
    for _, t in tiles.iterrows():
        atlas = decode(bytes(t["atlas"]))
        batch = json.loads(t["batch_json"])
        fmts = {orig[iid][3] for iid in batch["ids"]}
        for iid, (x, y, w, h) in zip(batch["ids"], batch["uv"]):
            phash, ww, hh, fmt = orig[iid]
            assert (w, h) == (ww, hh)
            ref = synth_pixels(phash, w, h)
            crop = atlas[y : y + h, x : x + w]
            if fmt == "png":
                # strict input_hint invariant: lossless rows are byte-exact
                # in EVERY tile, including mixed-format ones
                assert np.array_equal(crop, ref), iid
                n_exact += 1
                if len(fmts) > 1:
                    n_mixed_exact += 1
            else:
                assert psnr(ref, crop) >= 40.0, iid
                n_lossy += 1
    assert n_lossy > 0
    assert n_mixed_exact > 0  # the strict check covered mixed tiles


def test_resume_produces_identical_output(spark, sf_smoke, tmp_path):
    full = str(tmp_path / "full")
    part = str(tmp_path / "part")
    run_tiler(spark, sf_smoke, full, kd_tree_max=300)
    # crash after 3 tiles, then resume
    run_tiler(spark, sf_smoke, part, kd_tree_max=300, fail_after_tiles=3)
    partial = _read_tiles(spark, part)
    assert len(partial) == 3
    run_tiler(spark, sf_smoke, part, kd_tree_max=300, resume=True)
    a = _read_tiles(spark, full).sort_values("tile_id").reset_index(drop=True)
    b = _read_tiles(spark, part).sort_values("tile_id").reset_index(drop=True)
    assert list(a["tile_id"]) == list(b["tile_id"])
    assert list(a["checksum"]) == list(b["checksum"])
    for ca, cb in zip(a["atlas"], b["atlas"]):
        assert bytes(ca) == bytes(cb)
    lineage = spark.read.parquet(os.path.join(part, "lineage")).toPandas()
    assert set(lineage["cell_id"]) == set(a["tile_id"])
    assert int(lineage["row_count"].sum()) == int(a["n_features"].sum())


def test_manifest_written(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "t3")
    run_tiler(spark, sf_smoke, out, with_payload=False)
    with open(os.path.join(out, "tileset.json")) as fh:
        m = json.load(fh)
    assert m["root"]["geometricError"] == 500.0


def test_exact_payload_run_finishes_locally(spark, sf_smoke, tmp_path):
    """The parity path rolls its tree up from the encoder's per-tile stats
    on the driver, and its tileset.json equals the distributed tree built
    straight from the exact kd assignment rows."""
    from py3dtilers_spark.data import features_df
    from py3dtilers_spark.operators.hierarchy import manifest, tile_tree
    from py3dtilers_spark.operators.kd_tree import kd_assign

    out = str(tmp_path / "ex")
    stats = run_tiler(spark, sf_smoke, out, kd_tree_max=300, exact=True)
    assert stats["finish"] == "local"
    with open(os.path.join(out, "tileset.json")) as fh:
        local = json.load(fh)
    rows = kd_assign(
        features_df(spark, sf_smoke).select("image_id", "x", "y", "z"),
        kd_tree_max=300, exact=True,
    )
    assert local == manifest(tile_tree(rows))


@pytest.mark.parametrize("case", ["bytes_less_features", "synth_source"])
def test_removed_payload_modes_raise(spark, sf_smoke, tmp_path, case):
    """Payload bytes only come from the input table: a features frame
    without a bytes column, or the removed 'synth' source, fail loudly
    before any job runs."""
    from py3dtilers_spark.data import features_df

    if case == "bytes_less_features":
        kw = {"features": features_df(spark, sf_smoke), "with_payload": True}
        match = "no 'bytes' column"
    else:
        kw = {"payload_source": "synth"}
        match = "'synth' payload source was removed"
    with pytest.raises(ValueError, match=match):
        run_tiler(spark, "" if "features" in kw else sf_smoke, str(tmp_path / "x"), **kw)


def test_exact_run_too_small_n_rows_hint_fails_loudly(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """The exact kd takes run_tiler's row count: a hint below the real
    count sends an oversized cell to the local finisher, which names the
    hint instead of finishing it in one task."""
    monkeypatch.setattr(kd_rank, "LOCAL_CAP", 1000)
    with pytest.raises(PythonException, match="n_rows=500"):
        run_tiler(spark, sf_smoke, str(tmp_path / "h"), exact=True, n_rows_hint=500)


def test_pipeline_with_sharded_manifest(spark, sf_smoke, tmp_path, monkeypatch):
    """Full pipeline with manifest sharding on: root tileset.json is a stub
    referencing executor-written sub/tileset_*.json files, and the resolved
    tree equals the unsharded run's manifest byte-for-byte."""
    from py3dtilers_spark.operators.hierarchy import read_manifest_resolved

    out_a = str(tmp_path / "plain")
    out_b = str(tmp_path / "sharded")
    ra = run_tiler(spark, sf_smoke, out_a, with_payload=False)
    assert ra["finish"] == "local"
    monkeypatch.setattr(tiler_job, "SHARD_TILES", 4)
    rb = run_tiler(spark, sf_smoke, out_b, with_payload=False)
    # ~12 estimated leaves: the derived shard depth is the minimum, 2
    assert rb["finish"] == "sharded:d2"
    assert (ra["n_features"], ra["n_tiles"]) == (rb["n_features"], rb["n_tiles"])
    with open(os.path.join(out_a, "tileset.json")) as fh:
        plain = json.load(fh)
    assert read_manifest_resolved(out_b) == plain
    assert os.listdir(os.path.join(out_b, "sub"))


def test_local_finish_matches_distributed_rollup(spark, sf_smoke, tmp_path):
    """The scale path's driver-side finish (one metadata collect -> lineage
    + tree + manifest) must emit byte-identical tileset.json structure to
    the distributed tile_tree_from_stats + manifest() chain over the same
    encoded tiles."""
    from py3dtilers_spark.operators.hierarchy import manifest, tile_tree_from_stats

    out = str(tmp_path / "lf")
    stats = run_tiler(spark, sf_smoke, out, kd_tree_max=300, exact=False)
    with open(os.path.join(out, "tileset.json")) as fh:
        local = json.load(fh)

    meta = spark.read.parquet(os.path.join(out, "tiles")).select(
        "tile_id", "n_features",
        "xmin", "xmax", "ymin", "ymax", "zmin", "zmax",
    )
    dist = manifest(tile_tree_from_stats(meta))
    assert local == dist
    # lineage written by the pyarrow fast path reads back through Spark
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    assert lin.count() == stats["n_tiles"]
    assert set(lin.columns) == {
        "run_id", "cell_id", "row_count", "checksum", "completed_at"
    }


def test_auto_shard_finish(spark, sf_smoke, tmp_path, monkeypatch):
    """Above the tile-count threshold the pipeline auto-selects the 100x
    finish (distributed lineage + executor-sharded manifest) with no opt-in
    flag, and its resolved manifest equals the local finish's byte-for-byte.
    Lineage from the two finish paths must read back with identical types
    (the pyarrow writer emits tz-aware timestamps like F.current_timestamp)."""
    from py3dtilers_spark.operators.hierarchy import read_manifest_resolved

    out_a = str(tmp_path / "local")
    out_b = str(tmp_path / "auto")
    ra = run_tiler(spark, sf_smoke, out_a, kd_tree_max=300, exact=False)
    assert ra["finish"] == "local"
    monkeypatch.setattr(tiler_job, "SHARD_TILES", 4)
    rb = run_tiler(spark, sf_smoke, out_b, kd_tree_max=300, exact=False)
    assert rb["finish"].startswith("sharded:")
    assert (ra["n_features"], ra["n_tiles"]) == (rb["n_features"], rb["n_tiles"])
    with open(os.path.join(out_a, "tileset.json")) as fh:
        local = json.load(fh)
    assert read_manifest_resolved(out_b) == local
    assert os.listdir(os.path.join(out_b, "sub"))
    la = spark.read.parquet(os.path.join(out_a, "lineage"))
    lb = spark.read.parquet(os.path.join(out_b, "lineage"))
    assert [(f.name, f.dataType) for f in la.schema.fields] == [
        (f.name, f.dataType) for f in lb.schema.fields
    ]
    assert lb.count() == rb["n_tiles"]


def test_file_tile_sink_fidelity(spark, sf_smoke, tmp_path):
    """tile_sink='files': payloads land as tiles_files/<tile_id>.bin with
    the same fidelity invariants; the tiles parquet carries metadata only."""
    out = str(tmp_path / "fs")
    stats = run_tiler(
        spark, sf_smoke, out, kd_tree_max=300, exact=False, tile_sink="files"
    )
    tiles = _read_tiles(spark, out)
    assert (tiles["atlas"].map(len) == 0).all()  # no payload in parquet
    files = os.listdir(os.path.join(out, "tiles_files"))
    assert len(files) == stats["n_tiles"] == len(tiles)
    from py3dtilers_spark.data import features_df

    orig = {
        r["image_id"]: (r["phash"], r["w"], r["h"], r["fmt"])
        for r in features_df(spark, sf_smoke).collect()
    }
    checked = 0
    for _, t in tiles.head(5).iterrows():
        blob = open(os.path.join(out, "tiles_files", f"{t['tile_id']}.bin"), "rb").read()
        atlas = decode(blob)
        batch = json.loads(t["batch_json"])
        for iid, (x, y, w, h) in zip(batch["ids"], batch["uv"]):
            ph, ww, hh, fmt = orig[iid]
            want = synth_pixels(ph, w, h)
            got = atlas[y : y + h, x : x + w]
            if fmt == "png":
                assert (got == want).all()
            else:
                assert psnr(got, want) >= 40.0
            checked += 1
    assert checked > 0


def test_rerun_without_resume_replaces_output(spark, sf_smoke, tmp_path):
    """tiles/ is appended to so that a resume can add to it: a second run
    without resume into the same directory must not count the first run's
    tiles again."""
    from py3dtilers_spark.data import features_df

    out = str(tmp_path / "again")
    n = features_df(spark, sf_smoke).count()
    for _ in range(2):
        stats = run_tiler(spark, sf_smoke, out, kd_tree_max=300, exact=False)
        assert stats["n_features"] == n
    tiles = _read_tiles(spark, out)
    assert tiles["tile_id"].is_unique
    assert len(tiles) == stats["n_tiles"]
    assert int(tiles["n_features"].sum()) == n
    with open(os.path.join(out, "tileset.json")) as fh:
        assert json.load(fh)["root"]["n_features"] == n


def test_file_sink_reads_back_as_features(spark, sf_smoke, tmp_path):
    """read_tiles fills a files-sink output's atlas column from
    tiles_files/, so tiles_to_features gives every member back."""
    from py3dtilers_spark.data import features_df
    from py3dtilers_spark.sources.tileset_io import read_tiles, tiles_to_features

    out = str(tmp_path / "fs_back")
    stats = run_tiler(
        spark, sf_smoke, out, kd_tree_max=300, exact=False, tile_sink="files"
    )
    tiles = read_tiles(spark, out)
    assert tiles.count() == stats["n_tiles"]
    feats = tiles_to_features(tiles).toPandas()
    assert len(feats) == stats["n_features"]
    orig = {
        r["image_id"]: (r["phash"], r["fmt"])
        for r in features_df(spark, sf_smoke).collect()
    }
    for f in feats.itertuples():
        ph, fmt = orig[f.image_id]
        want = synth_pixels(ph, f.w, f.h)
        got = decode(bytes(f.payload))
        if fmt == "png":
            assert (got == want).all(), f.image_id
        else:
            assert psnr(got, want) >= 40.0, f.image_id
