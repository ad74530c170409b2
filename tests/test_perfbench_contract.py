"""The package surface that the benchmark under perfbench/ relies on.

perfbench/ is frozen between benchmark changes, so a package edit that
renames a function it patches or changes a call shape it uses would only
show as a failed ``perfbench/run.py --trace 1`` run. These checks need no
Spark session."""
import importlib.util
import inspect
import os
import sys

import pytest

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def _load(name):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(PERFBENCH, f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses look their module up here
    spec.loader.exec_module(mod)
    return mod


def test_traced_call_points_resolve():
    from py3dtilers_spark.operators import kd_rank

    tracing = _load("tracing")
    for mod, name, _during, _after in tracing._call_points():
        assert callable(getattr(mod, name, None)), f"{mod.__name__}.{name}"
    # kd_rank.levels counts these per-level steps
    for name in tracing._LEVEL_STEPS:
        assert callable(getattr(kd_rank, name, None)), f"kd_rank.{name}"


def test_layer_prefix_call_shapes_bind():
    from py3dtilers_spark.operators.kd_rank import kd_finish_numpy
    from py3dtilers_spark.operators.kd_tree import kd_assign, kd_sample_walk
    from py3dtilers_spark.plans.tiler_job import encode_tiles_stream

    inspect.signature(kd_assign).bind(None, kd_tree_max=500, exact=True)
    inspect.signature(kd_sample_walk).bind(None, 500, 15_000)
    inspect.signature(encode_tiles_stream).bind(None, None)
    inspect.signature(kd_finish_numpy).bind(None, None, None, 500)


@pytest.mark.parametrize("workload", ["tile_scale", "tile_parity"])
def test_harness_run_tiler_call_binds(workload):
    from py3dtilers_spark.plans.tiler_job import run_tiler

    harness = _load("harness")
    inspect.signature(run_tiler).bind(
        None, "", "out", kd_tree_max=harness.KD_TREE_MAX, features=None,
        run_id="call1", **harness.WORKLOADS[workload],
    )
