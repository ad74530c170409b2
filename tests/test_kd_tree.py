"""Tile-assignment parity: distributed kd-tree vs the pure-Python oracle
(same semantics as /root/reference/py3dtilers/Common/kd_tree.py:4-42 with the
documented image_id tie-break; see operators/kd_tree.py docstring)."""
import pytest
from pyspark.sql import functions as F

from py3dtilers_spark.data import features_df
from py3dtilers_spark.operators.kd_tree import (
    kd_assign,
    kd_leaf_index,
    kd_oracle,
    kd_sample_walk,
)


@pytest.mark.parametrize("kd_tree_max,sample_mod", [(1, 20), (50, 1), (500, 1)])
def test_kd_assignment_matches_oracle(spark, sf_smoke, kd_tree_max, sample_mod):
    feats = features_df(spark, sf_smoke).where(
        f"h2 % {sample_mod} = 0"
    ).select("image_id", "x", "y")
    got = {
        r["image_id"]: r["tile_id"]
        for r in kd_assign(feats, kd_tree_max=kd_tree_max).collect()
    }
    pts = [(r["image_id"], r["x"], r["y"]) for r in feats.collect()]
    want = kd_oracle(pts, kd_tree_max)
    assert len(got) == len(pts)
    mismatches = {k for k in want if got.get(k) != want[k]}
    assert not mismatches, f"{len(mismatches)} mismatched of {len(want)}"


def test_kd_leaf_sizes_and_split(spark, sf_smoke):
    feats = features_df(spark, sf_smoke).select("image_id", "x", "y")
    tiled = kd_assign(feats, kd_tree_max=500)
    sizes = tiled.groupBy("tile_id").count().collect()
    # always at least one split (reference always splits the root once)
    assert len(sizes) >= 2
    assert all(r["count"] <= 500 for r in sizes)


def test_kd_leaf_index_is_dfs_order(spark, sf_smoke):
    feats = features_df(spark, sf_smoke).select("image_id", "x", "y")
    tiled = kd_leaf_index(kd_assign(feats, kd_tree_max=200))
    rows = (
        tiled.select("tile_id", "tile_index").distinct().orderBy("tile_id").collect()
    )
    assert [r["tile_index"] for r in rows] == list(range(len(rows)))


def test_kd_approx_mode_partitions_everything(spark, sf_smoke):
    feats = features_df(spark, sf_smoke).select("image_id", "x", "y")
    n = feats.count()
    walk = kd_sample_walk(feats.select("x", "y"), 100, n)
    tiled = feats.withColumn("tile_id", walk(F.col("x"), F.col("y")))
    assert tiled.count() == n
    sizes = [r["count"] for r in tiled.groupBy("tile_id").count().collect()]
    # approx mode: leaf rule fires at <= 2*max before the final split
    assert max(sizes) <= 2 * 100
