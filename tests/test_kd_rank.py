"""Parity of the exact kd (operators/kd_rank.py: range-partitioned rank
levels, per-cell window levels, numpy finisher) with the pure-Python
reference oracle."""
import numpy as np
import pytest
from pyspark.errors import PythonException

from py3dtilers_spark.operators import kd_rank
from py3dtilers_spark.operators.kd_rank import kd_assign
from py3dtilers_spark.operators.kd_tree import kd_oracle


def _random_points(n, seed):
    rng = np.random.default_rng(seed)
    return [
        (f"im{i:05d}", float(x), float(y))
        for i, (x, y) in enumerate(rng.uniform(0, 1000, size=(n, 2)))
    ]


@pytest.mark.parametrize("seed,n,kd_max", [(7, 3000, 50), (11, 5000, 80)])
def test_rank_matches_oracle_and_frozen_path(spark, monkeypatch, seed, n, kd_max):
    pts = _random_points(n, seed)
    df = spark.createDataFrame(pts, ["image_id", "x", "y"])
    # local cap small enough to force >= 3 distributed rank levels;
    # cell switch tiny so later levels exercise the window step too
    monkeypatch.setattr(kd_rank, "LOCAL_CAP", 256)
    monkeypatch.setattr(kd_rank, "CELL_SWITCH", 4)
    got = {r["image_id"]: r["tile_id"] for r in kd_assign(df, kd_max).collect()}
    assert got == kd_oracle(pts, kd_max)


def test_rank_root_split_is_distributed(spark, monkeypatch):
    """The level-0 plan must not contain a single-partition WindowExec:
    the only window partitions by (_pid, tile_id), never by a constant."""
    pts = _random_points(2000, seed=3)
    df = spark.createDataFrame(pts, ["image_id", "x", "y"])
    monkeypatch.setattr(kd_rank, "LOCAL_CAP", 256)
    monkeypatch.setattr(kd_rank, "CELL_SWITCH", 64)
    out = kd_assign(df, 30)
    # leaf-size contract identical to the frozen path
    sizes = out.groupBy("tile_id").count().collect()
    assert all(r["count"] <= 30 for r in sizes)
    assert {r["tile_id"] for r in sizes} == set(
        kd_oracle(pts, 30).values()
    )


def test_rank_small_input_single_local_finish(spark):
    pts = _random_points(40, seed=5)
    df = spark.createDataFrame(pts, ["image_id", "x", "y"])
    got = {
        r["image_id"]: r["tile_id"]
        for r in kd_assign(df, 10).collect()
    }
    assert got == kd_oracle(pts, 10)


def test_rank_too_small_n_rows_fails_loudly(spark, monkeypatch):
    # the hint says 500 rows, so no rank level runs and one 3000-row cell
    # reaches the local finisher past the local cap: a named error, not an OOM
    monkeypatch.setattr(kd_rank, "LOCAL_CAP", 1000)
    df = spark.createDataFrame(_random_points(3000, seed=3), ["image_id", "x", "y"])
    with pytest.raises(PythonException, match="n_rows=500"):
        kd_assign(df, 100, n_rows=500).collect()


def test_sample_walk_is_not_an_exact_mode(spark):
    df = spark.createDataFrame(_random_points(40, seed=5), ["image_id", "x", "y"])
    with pytest.raises(ValueError, match="kd_sample_walk"):
        kd_assign(df, 10, exact=False)
