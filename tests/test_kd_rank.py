"""Parity of the range-partitioned rank kd splits (operators/kd_rank.py —
the `kd_assign(exact=True)` path since round 5) with the retained
window-only twin (`kd_tree._kd_exact_window`) and the pure-Python
reference oracle."""
import numpy as np
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from py3dtilers_spark.operators.kd_rank import kd_assign_rank
from py3dtilers_spark.operators.kd_tree import _kd_exact_window, kd_oracle


def _random_points(n, seed):
    rng = np.random.default_rng(seed)
    return [
        (f"im{i:05d}", float(x), float(y))
        for i, (x, y) in enumerate(rng.uniform(0, 1000, size=(n, 2)))
    ]


@pytest.mark.parametrize("seed,n,kd_max", [(7, 3000, 50), (11, 5000, 80)])
def test_rank_matches_oracle_and_frozen_path(spark, seed, n, kd_max):
    pts = _random_points(n, seed)
    df = spark.createDataFrame(pts, ["image_id", "x", "y"])
    # local_cap small enough to force >= 3 distributed rank levels;
    # cell_switch tiny so later levels exercise the window step too
    got = {
        r["image_id"]: r["tile_id"]
        for r in kd_assign_rank(
            df, kd_max, local_cap=256, cell_switch=4
        ).collect()
    }
    want = kd_oracle(pts, kd_max)
    assert got == want
    window_twin = {
        r["image_id"]: r["tile_id"]
        for r in _kd_exact_window(
            df, kd_max, "image_id", "x", "y", 256
        ).collect()
    }
    assert got == window_twin


def test_rank_root_split_is_distributed(spark):
    """The level-0 plan must not contain a single-partition WindowExec:
    the only window partitions by (_pid, tile_id), never by a constant."""
    pts = _random_points(2000, seed=3)
    df = spark.createDataFrame(pts, ["image_id", "x", "y"])
    out = kd_assign_rank(df, 30, local_cap=256, cell_switch=64)
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
        for r in kd_assign_rank(df, 10).collect()
    }
    assert got == kd_oracle(pts, 10)


def test_rank_too_small_n_rows_fails_loudly(spark):
    # the hint says 500 rows, so no rank level runs and one 3000-row cell
    # reaches the local finisher past local_cap: a named error, not an OOM
    df = spark.createDataFrame(_random_points(3000, seed=3), ["image_id", "x", "y"])
    with pytest.raises(PythonException, match="n_rows=500"):
        kd_assign_rank(df, 100, local_cap=1000, n_rows=500).collect()
