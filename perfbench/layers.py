"""The traced run: a per-layer split of one workload.

Layers are named after the package modules. Their times come from two
sources in one session that has the Spark event log on:

1. Cumulative prefixes of the pipeline, composed from the same public
   functions and plan shape that ``run_tiler`` uses and executed with a
   ``noop`` sink (``bench_extra.py`` does the same): scan, then +assign,
   then +tile shuffle, then +encode. A layer's self time is its prefix
   minus the previous one. The encode prefix collects the tile metadata,
   so its tile set is compared with the untraced output.
2. One real ``run_tiler`` call with the module call points wrapped
   (``tracing.traced_calls``): phase spans give the sink and finish times,
   and every Spark job carries its phase as job description, which the
   event log turns into shuffle, spill, GC and task-time counts per layer.

Untraced calls just before and just after the traced one give the base for
``trace.overhead_frac``.
"""
from __future__ import annotations

import os
import shutil
import statistics
import time

PREFIX_REPS = 2  # runs of each prefix; the fastest one is its time
LABELS_TRACED = ("scan", "kd_tree.sample", "kd_tree.assign", "kd_rank.levels",
                 "kd_rank.finish", "encode", "finish")

# every per-layer metric, with its unit; layers that do not run report 0
UNITS = {
    "session.start_s": "s", "session.core_util": "ratio",
    "scan.s": "s", "scan.rows": "count", "scan.bytes": "B",
    "kd_tree.sample_s": "s", "kd_tree.assign_s": "s",
    "kd_tree.leaf_rows_max": "count", "kd_tree.leaf_rows_p50": "count",
    "kd_rank.s": "s", "kd_rank.join_s": "s", "kd_rank.levels": "count",
    "kd_rank.shuffle_write_bytes": "B", "kd_rank.finish_cells": "count",
    "kd_rank.finish_task_max_s": "s", "kd_rank.finish_task_p50_s": "s",
    "tile_shuffle.s": "s", "tile_shuffle.write_bytes": "B",
    "tile_shuffle.spill_bytes": "B", "tile_shuffle.part_rows_max_over_p50": "ratio",
    "encode.s": "s", "encode.task_ms_per_tile": "ms",
    "encode.boundary_ms_per_tile": "ms", "encode.task_jvm_cpu_ms_per_tile": "ms",
    "kernel.decode_ms_per_tile": "ms", "kernel.pack_ms_per_tile": "ms",
    "kernel.compress_ms_per_tile": "ms", "kernel.ms_per_tile": "ms",
    "kernel.atlas_bytes_per_tile": "B", "kernel.bytes_in_per_tile": "B",
    "kernel.members_per_tile": "count", "kernel.tiles_sampled": "count",
    "sink.s": "s", "sink.bytes": "B",
    "finish.s": "s", "finish.jobs": "count",
    "jvm.gc_s": "s", "jvm.peak_rss_mb": "MB", "host.steal_s": "s",
    "trace.overhead_frac": "ratio", "gen_s": "s",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _n_parts(sc, n_rows: int) -> int:
    """run_tiler's encode partition count for ``n_rows`` input rows."""
    par = sc.defaultParallelism
    rows_per_task = int(os.environ.get("SPARK_GRAFT_ROWS_PER_TASK", "35000"))
    return max(2, -(-(n_rows // rows_per_task + 1) // par)) * par


def prefixes(r, kd_tree_max: int, spans, root) -> tuple[dict[str, float], dict]:
    """Self times of the composed prefixes and the tile set they produce."""
    from pyspark.sql import functions as F

    from py3dtilers_spark.operators.kd_tree import kd_assign, kd_sample_walk
    from py3dtilers_spark.plans.tiler_job import encode_tiles_stream

    feats, sc = r.feats, r.spark.sparkContext
    cum: dict[str, float] = {}

    def timed(name, fn):
        """Run the prefix PREFIX_REPS times; keep the fastest."""
        sc.setJobDescription("prefix." + name)
        durs = []
        for _ in range(PREFIX_REPS):
            with spans.span("prefix." + name, root) as s:
                out = fn()
            durs.append(s.dur)
        sc.setJobDescription(None)
        cum[name] = min(durs)
        return out

    slim_cols = ["image_id", "x", "y", "z", "w", "h", "fmt", "caption", "phash"]
    timed("scan", lambda: _noop(feats.select(*slim_cols, "bytes")))
    if r.kwargs["exact"]:
        slim = timed("kd_rank", lambda: kd_assign(
            feats.select("image_id", "x", "y", "z"),
            kd_tree_max=kd_tree_max, exact=True,
        ).localCheckpoint(eager=True))
        assigned = feats.join(slim.select("image_id", "tile_id"), "image_id")
    else:
        walk = timed("kd_tree.sample", lambda: kd_sample_walk(
            feats.select("x", "y"), kd_tree_max, r.n_rows))
        assigned = feats.withColumn("tile_id", walk(F.col("x"), F.col("y")))
    todo = assigned.select("tile_id", *slim_cols, "bytes")
    timed("assign", lambda: _noop(todo))
    pre = todo.repartition(_n_parts(sc, r.n_rows), "tile_id").sortWithinPartitions("tile_id")
    timed("tile_shuffle", lambda: _noop(pre))
    rows = timed("encode", lambda: encode_tiles_stream(pre, None)
                 .select("tile_id", "n_features", "checksum").collect())
    return cum, {x["tile_id"]: (int(x["n_features"]), x["checksum"]) for x in rows}


def _p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _last_stage_reading(log, label: str):
    """Tasks of the last stage of ``label`` that read shuffle rows."""
    stages = {
        sid: ts for sid, ts in log.stages_of(label).items()
        if any(t.shuffle_read_records for t in ts)
    }
    return [t for t in stages[max(stages)] if t.shuffle_read_records] if stages else []


def event_metrics(log, tiles_n: int) -> dict[str, float]:
    m: dict[str, float] = {}
    scan = log.stages_of("prefix.scan")
    m["scan.rows"] = sum(t.input_records for t in scan[max(scan)]) if scan else 0
    m["kd_rank.shuffle_write_bytes"] = sum(
        log.total(lbl, "shuffle_write_bytes") for lbl in ("kd_rank.levels", "kd_rank.finish")
    )
    fin = [t.run_ms / 1e3 for t in _last_stage_reading(log, "kd_rank.finish")]
    m["kd_rank.finish_task_max_s"] = max(fin, default=0.0)
    m["kd_rank.finish_task_p50_s"] = _p50(fin)
    m["tile_shuffle.write_bytes"] = log.total("encode", "shuffle_write_bytes")
    m["tile_shuffle.spill_bytes"] = log.total("encode", "spill_bytes")
    parts = [t.shuffle_read_records for t in _last_stage_reading(log, "encode")]
    m["tile_shuffle.part_rows_max_over_p50"] = max(parts) / _p50(parts) if parts else 0.0
    enc = log.stages_of("prefix.encode")
    if enc and tiles_n:
        tasks = enc[max(enc)]
        m["encode.task_ms_per_tile"] = sum(t.run_ms for t in tasks) / tiles_n
        m["encode.task_jvm_cpu_ms_per_tile"] = sum(t.cpu_ns for t in tasks) / 1e6 / tiles_n
    m["finish.jobs"] = log.job_count("finish")
    m["jvm.gc_s"] = sum(log.total(lbl, "gc_ms") for lbl in LABELS_TRACED) / 1e3
    return m


def _finish_cells(tile_ids, levels: int) -> int:
    """Cells handed to the local kd finisher: after ``levels`` distributed
    levels, each finished leaf path extends its cell's path."""
    return len({t[:levels] for t in tile_ids if len(t) > levels})


def traced_mode(name: str, kwargs: dict, table: str, seed: int, gen_s: float) -> dict:
    import checks
    import eventlog
    import kernel
    import procstat
    import harness
    from tracing import Phases, Spans, traced_calls

    run_id = f"{name}-s{seed}"
    log_dir = os.path.join(harness.WORK, "eventlog", run_id)
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    r = harness.Runner(kwargs, table)
    spans = Spans(run_id)
    errs: list[str] = []
    tally = {"attempted": 0, "failed": 0}

    def checked(out: str, stats: dict) -> dict:
        tiles, e = r.check(out, stats)
        tally["attempted"] += 1
        tally["failed"] += bool(e)
        errs.extend(e)
        return tiles

    def untraced() -> float:
        out = r.out_dir()
        t0 = time.perf_counter()
        stats = r.call(out)
        wall = time.perf_counter() - t0
        checked(out, stats)
        shutil.rmtree(out, ignore_errors=True)
        return wall

    steal0 = procstat.steal_s()
    with spans.span("session.start") as s_start:
        r.open(log_dir)
    untraced()  # warm-up; its tile set becomes the reference
    base = [untraced(), untraced()]

    with spans.span("prefixes") as s_pre:
        cum, prefix_tiles = prefixes(r, harness.KD_TREE_MAX, spans, s_pre)
    tally["attempted"] += 1
    if prefix_tiles != r.ref_tiles:
        tally["failed"] += 1
        errs.append("composed prefixes: tile set differs from run_tiler's")

    out = r.out_dir()
    counters: dict = {}
    cpu0 = procstat.tree_cpu_s()
    with spans.span("run_tiler") as root:
        with traced_calls(Phases(spans, root, r.spark.sparkContext), counters):
            stats = r.call(out)
    cpu = procstat.tree_cpu_s() - cpu0
    # checked() also compares the traced call's tile set with the untraced one
    traced_tiles = checked(out, stats)
    sink_bytes = sum(
        procstat.dir_bytes(os.path.join(out, d)) for d in ("tiles", "tiles_files")
    )
    got = checks.tile_payloads(
        out, checks.sample_ids(traced_tiles), kwargs["tile_sink"] == "files"
    )
    batches = {tid: batch for tid, (_blob, batch) in got.items()}
    shutil.rmtree(out, ignore_errors=True)
    base.append(untraced())

    jvm_mb = max((procstat.vm_hwm_mb(p) for p in procstat.jvm_pids()), default=0.0)
    harness.shutdown(r.spark)
    steal = procstat.steal_s() - steal0
    [app] = os.listdir(log_dir)
    log = eventlog.parse(os.path.join(log_dir, app))

    ref = r.ref_tiles or {}
    sizes = [v[0] for v in ref.values()]
    wall = root.dur
    m = {k: 0.0 for k in UNITS}
    m.update(event_metrics(log, len(sizes)))
    m.update({
        "session.start_s": s_start.dur,
        "session.core_util": cpu / (harness.CORES * wall),
        "scan.s": cum["scan"],
        # Spark's input-bytes counter misreads local parquet scans (a few
        # KB for a 10 MB table), so the scanned bytes are the files' size
        "scan.bytes": procstat.dir_bytes(table),
        "kd_tree.leaf_rows_max": max(sizes, default=0),
        "kd_tree.leaf_rows_p50": _p50(sizes),
        "kd_rank.levels": counters["kd_rank.levels"],
        "sink.bytes": sink_bytes,
        "finish.s": spans.total("finish"),
        "jvm.peak_rss_mb": jvm_mb,
        "host.steal_s": steal,
        "trace.overhead_frac": wall / statistics.median(base) - 1.0,
        "gen_s": gen_s,
    })
    if kwargs["exact"]:
        m["kd_rank.s"] = cum["kd_rank"]
        m["kd_rank.finish_cells"] = _finish_cells(ref, counters["kd_rank.levels"])
        m["kd_rank.join_s"] = cum["assign"] - cum["scan"]
    else:
        m["kd_tree.sample_s"] = cum["kd_tree.sample"]
        m["kd_tree.assign_s"] = cum["assign"] - cum["scan"]
    m.update(kernel.measure(batches, r.inp, r.index))
    m["tile_shuffle.s"] = cum["tile_shuffle"] - cum["assign"]
    m["encode.s"] = cum["encode"] - cum["tile_shuffle"]
    m["sink.s"] = spans.total("encode") - cum["encode"]
    m["encode.boundary_ms_per_tile"] = m["encode.task_ms_per_tile"] - m["kernel.ms_per_tile"]

    os.makedirs(os.path.join(harness.WORK, "trace"), exist_ok=True)
    spans.write(os.path.join(harness.WORK, "trace", f"{run_id}.spans.jsonl"))
    harness.diag("trace", finish=stats.get("finish"), base_s=base,
             traced_s=wall, levels=counters["kd_rank.levels"], errors=errs[:5])
    return {
        "correct": not errs,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": {k: (float(v), UNITS[k]) for k, v in m.items()},
    }
