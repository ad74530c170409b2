"""Settings, workloads and the session/run/check loop shared by the timed
and the traced mode."""
from __future__ import annotations

import json
import os
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

CORES = 4
KD_TREE_MAX = 500
SETUPS = 2  # set-ups per run; setup_s is their median
# timed calls per run at least: with 3 or more, the median drops the one slow
# call that often follows a session restart
MIN_CALLS = 3
# Session settings on top of get_spark's defaults. Split sizes as in
# tools/scaling_run.py; uncompressed shuffle because payload blobs are
# already zlib-coded; a fixed driver heap well inside a 15 GB host.
SPARK_CONF = {
    "spark.driver.memory": "3g",
    "spark.sql.files.maxPartitionBytes": str(64 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(1024 * 1024),
    "spark.shuffle.compress": "false",
    "spark.shuffle.spill.compress": "false",
    "spark.ui.showConsoleProgress": "false",
}
# payload rows per input table: depth-5 kd cells of ~470 rows, clear of the
# 500-row leaf limit, so the tile count does not flip with the seed
ROWS = 15_000

# run_tiler arguments of each workload
WORKLOADS = {
    # scale path: sample-walk kd, bytes ride the one tile shuffle, worker
    # file sink, local finish
    "tile_scale": {"exact": False, "payload_source": "column", "tile_sink": "files"},
    # parity path: exact kd joined back to the payload rows, atlases into
    # the JVM parquet writer, finish as Spark jobs
    "tile_parity": {"exact": True, "payload_source": "column", "tile_sink": "parquet"},
}


def diag(kind: str, **kw) -> None:
    print(json.dumps({"diag": kind, **kw}), flush=True)


def prepare_env() -> None:
    """Keep every file the run writes under WORK, run the package with its
    default settings, and make it importable in the Python workers."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")


def start_session(eventlog_dir: str | None = None):
    from py3dtilers_spark.session import get_spark

    conf = dict(SPARK_CONF)
    conf["spark.local.dir"] = os.path.join(WORK, "spark-local")
    conf["spark.sql.warehouse.dir"] = os.path.join(WORK, "warehouse")
    conf["spark.driver.extraJavaOptions"] = (
        "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(WORK, "tmp")
    )
    if eventlog_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=CORES, shuffle_partitions=CORES, extra_conf=conf)


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    """Runs and checks ``run_tiler`` calls of one workload and seed."""

    def __init__(self, kwargs: dict, table: str):
        from inputs import load_columns

        self.kwargs, self.table = kwargs, table
        self.inp = load_columns(table)
        self.n_rows = len(self.inp["x"])
        self.index = {iid: i for i, iid in enumerate(self.inp["image_id"])}
        self.ref_tiles: dict | None = None
        self.kd_ref: dict | None = None
        self.spark = self.feats = None
        self.calls = 0

    def open(self, eventlog_dir: str | None = None) -> None:
        self.spark = start_session(eventlog_dir)
        self.feats = self.spark.read.parquet(self.table)

    def restart(self) -> None:
        self.spark.stop()
        self.open()

    def out_dir(self) -> str:
        self.calls += 1
        return os.path.join(WORK, "out", f"call{self.calls}")

    def call(self, out: str) -> dict:
        from py3dtilers_spark.plans.tiler_job import run_tiler

        shutil.rmtree(out, ignore_errors=True)
        return run_tiler(
            self.spark, "", out, kd_tree_max=KD_TREE_MAX, features=self.feats,
            run_id=os.path.basename(out), **self.kwargs,
        )

    def check(self, out: str, stats: dict) -> tuple[dict, list[str]]:
        """The output's tile set and the failed checks (empty if none)."""
        import checks

        if self.kwargs["exact"] and self.kd_ref is None:
            self.kd_ref = checks.kd_reference(self.inp, KD_TREE_MAX)
        tiles = checks.tile_set(out)
        errs = checks.check_run(
            stats, tiles, self.n_rows, self.ref_tiles, self.kd_ref, KD_TREE_MAX
        )
        if self.ref_tiles is None and not errs:
            self.ref_tiles = tiles
        errs += checks.check_payload(
            out, checks.sample_ids(tiles), self.kwargs["tile_sink"] == "files",
            self.inp, self.index,
        )
        return tiles, errs
