#!/usr/bin/env python3
"""Tiler benchmark: warm-session runs of ``plans.tiler_job.run_tiler``.

    python3 perfbench/run.py --workload tile_scale --seed 1 --seconds 6 --trace 0

Run from the repository root. Workloads, metrics, settings and the reasons
behind them are in perfbench/README.md. With ``--trace 0`` the last stdout
line is a JSON object with the end-to-end metrics; with ``--trace 1`` it
holds the per-layer metrics of a separate traced run (see ``layers``).
Earlier stdout lines are JSON diagnostics (``{"diag": ...}``) that no gate
reads. Scratch files live under ``.perfbench_work/`` in the repository root.
"""
from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import time
import traceback

from harness import MIN_CALLS, ROOT, SETUPS, WORK, WORKLOADS, Runner, diag, shutdown


def timed_mode(kwargs: dict, table: str, seconds: float, gen_s: float) -> dict:
    import procstat

    r = Runner(kwargs, table)
    untimed_errs: list[str] = []

    def check_untimed(out: str, stats: dict) -> None:
        untimed_errs.extend(r.check(out, stats)[1])
        shutil.rmtree(out, ignore_errors=True)

    setup_s = []
    for k in range(SETUPS):
        out = r.out_dir()
        t0 = time.perf_counter()
        r.restart() if k else r.open()
        stats = r.call(out)
        setup_s.append(time.perf_counter() - t0)
        check_untimed(out, stats)
    diag("setup", setup_s=setup_s, gen_s=gen_s, finish=stats.get("finish"),
         n_tiles=stats.get("n_tiles"), errors=untimed_errs[:5])

    walls, cpus, outb, tiles_n, worker_mb = [], [], [], [], [0.0]
    failed = attempted = 0
    t_start = time.perf_counter()
    while attempted < MIN_CALLS or time.perf_counter() - t_start < seconds:
        attempted += 1
        out = r.out_dir()
        steal0 = procstat.steal_s()
        cpu0 = procstat.tree_cpu_s()
        t0 = time.perf_counter()
        wall = 0.0
        try:
            stats = r.call(out)
            wall = time.perf_counter() - t0
            cpu = procstat.tree_cpu_s() - cpu0
            _tiles, errs = r.check(out, stats)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            stats, errs = {}, ["run raised"]
        worker_mb += [procstat.vm_hwm_mb(p) for p in procstat.python_worker_pids()]
        jvm_mb = max((procstat.vm_hwm_mb(p) for p in procstat.jvm_pids()), default=0.0)
        if errs:
            failed += 1
        else:
            walls.append(wall)
            cpus.append(cpu)
            outb.append(procstat.dir_bytes(out))
            tiles_n.append(stats["n_tiles"])
        diag("run", i=attempted, wall_s=round(wall, 3),
             steal_s=round(procstat.steal_s() - steal0, 3),
             loadavg=procstat.loadavg(), jvm_peak_rss_mb=round(jvm_mb, 1),
             timings=stats.get("timings"), errors=errs[:5])
        shutil.rmtree(out, ignore_errors=True)
    shutdown(r.spark)

    n = r.n_rows
    run_s = statistics.median(walls) if walls else float("nan")
    metrics = {
        "setup_s": (statistics.median(setup_s), "s"),
        "run_s": (run_s, "s"),
        "features_per_s": (n / run_s, "1/s"),
        "tiles_per_s": (statistics.median(tiles_n) / run_s, "1/s"),
        "core_s_per_kfeature": (statistics.median(cpus) / (n / 1000.0), "s"),
        "out_bytes_per_feature": (statistics.median(outb) / n, "B"),
        "worker_peak_rss_mb": (max(worker_mb), "MB"),
    } if walls else {}
    return {
        "correct": not untimed_errs and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import py3dtilers_spark.plans.tiler_job  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the tiler package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import harness
    import inputs

    kwargs = WORKLOADS[args.workload]
    harness.prepare_env()
    table, gen_s = inputs.ensure_table(WORK, harness.ROWS, args.seed)
    try:
        if args.trace:
            import layers

            result = layers.traced_mode(args.workload, kwargs, table, args.seed, gen_s)
        else:
            result = timed_mode(kwargs, table, args.seconds, gen_s)
    finally:
        # after a failure, still stop the JVM and wait for it
        from pyspark.sql import SparkSession

        shutdown(SparkSession.getActiveSession())
    result["metrics"] = {
        k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
