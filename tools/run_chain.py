#!/usr/bin/env python
"""One bracketed scaling chain, certified by a DURING-RUN canary.

North-rule evidence protocol, round 4. The host is a shared, non-stationary
VM: rounds 1-3 proved that a 30 s kernel burst BEFORE/AFTER a 5-minute Spark
run cannot attribute the run's window (BENCH/BASELINE.md history). This
runner therefore measures host weather CONCURRENTLY with every run:

  chain  = lo, (hi, lo) x SCALE_PAIRS        (bracketed; fresh JVM each)
  canary = tools/canary.py — the job's own tile kernel at ~3% duty on
           reserved CPUs, sampled every ~4 s for each run's whole duration

Each bracketed estimate i scores hi_i against the MEAN of its two
surrounding lo runs (unbiased under linear drift):
  eff_i = (mean(lo_i.sec, lo_{i+1}.sec) / hi_i.sec) / (cores_hi / cores_lo)

SELECTION RULE — declared here, in advance of any recorded data:
  bench.py reports the scaling record of the FIRST chain (file order ==
  chronological) in BENCH/scaling_chains.jsonl whose
    (a) config matches the bench config (cores pair, copies, input rows)
        and whose job_fingerprint equals the CURRENT source fingerprint,
    (b) every run in the chain satisfies RUN_CLEAN (below), and
    (c) it carries >= SCALE_PAIRS bracketed estimates.
  If no such chain exists, bench.py runs one live chain and reports it
  (certified iff clean). EVERY chain ever run is appended to the log —
  none deleted, none outcome-selected. A chain writes its per-run canary
  series under BENCH/canary/ and gates on them; each chain record keeps
  their summaries, and the series of earlier chains are in git history.

RUN_CLEAN — gate version 2 (the chain record carries gate.version; the
selection rule only accepts chains recorded under the CURRENT gate, since
earlier chains never collected the evidence the current gate reads).

v1 (reserved-CPU canary only) was proven co-temporal but NOT co-located:
chain 20260817T141737_p2h3 certified with a hi run of 111.7 s (clean-window
norm ~76 s) while its canary — pinned to CPUs 8-11, disjoint from the
job's — read a healthy 61.7 med / 56.1 p10. Host weather that lands on the
job's own vCPUs (steal focused there, per-core frequency / memory-bandwidth
deficits) is invisible from other CPUs. v2 therefore adds a CO-LOCATED
probe (tools/co_canary.py) on the job's pinned CPUs and gates on both:

  reserved canary (unchanged): n >= 5 spanning >= 70% of the run,
      median tps >= CANARY_MED_MIN, p10 >= CANARY_P10_MIN;
  co-located probe: n >= COLO_MIN_SAMPLES bursts spanning >=
      COLO_MIN_SPAN of the run, CPU-seconds/tile median <=
      COLO_CPU_MED_MAX and p90 <= COLO_CPU_P90_MAX, job-CPU steal
      fraction mean <= COLO_STEAL_MEAN_MAX and p90 <= COLO_STEAL_P90_MAX.

v2 thresholds were fixed 2026-08-17 ~15:40 UTC from probe calibration
measured BEFORE any v2 chain ran (BENCH/BASELINE.md "Gate v2"): idle
cpu_tile med 0.0479 / p90 0.0525 s; under full per-CPU timeshare
contention (the co-located regime) med 0.0528 / p90 0.0562 s; job-CPU
steal in an ordinary window mean ~0.02. The gates still read ONLY host
state — never the job's own efficiency — so no outcome-based selection is
possible.

GATE v3 — DECLARED 2026-08-18 (round 5) BEFORE ANY v3 CHAIN RAN, from the
round-4 calibration recorded after v22 certified (BENCH/BASELINE.md
"Round-5 candidates" + BENCH/io_calib_windows.jsonl). Round-4 residual:
one certified hi run stretched ~25% with idle-level cpu_tile and zero
steal — the JVM was blocked on STORAGE (shared-VM disk throttling),
invisible to both CPU probes. v3 adds a co-located storage probe
(tools/io_probe.py, 64 KiB incompressible write + fsync every
IO_INTERVAL s on the same filesystem as the job's input/spill, plus
/proc/diskstats deltas for its backing device) and gates on the fsync
MEDIAN only: per the calibration, fsync p90/max are contaminated by the
job's OWN healthy tile-sink bursts (idle med 6.6 ms but p90 215 ms DURING
a healthy run), while the median moves only 6.6 -> 8.8 ms under a healthy
job and sits in 1.4-20.5 ms across all 24 ambient windows; a sustained
host throttle pushes it to tens-hundreds of ms. Declared thresholds:
  io probe: n >= IO_MIN_SAMPLES spanning >= IO_MIN_SPAN of the run,
      fsync_ms median <= IO_FSYNC_MED_MAX (= 40 ms — 2x above every
      ambient window, far below a sustained-throttle signature).
The signal is host-state only (identical probe load at every parallelism
level, ~0.001% of device bandwidth) — no outcome selection possible.

GATE v4 — DECLARED 2026-08-22 (round 6 START) BEFORE ANY v4 CHAIN RAN,
from (a) the round-5 full-log calibration (57 chains: the v3 canary floor
med>=55/p10>=42 admitted hi runs stretched 25-60% — BENCH/BASELINE.md
"Round-6 candidate declarations", including the logged counterexample that
a raised floor alone cannot catch) and (b) a fresh probe calibration run
TODAY against the round-6 kernel (the delta-codec change makes every
tile-kernel-based threshold scale-shift: idle reserved-canary tps now ~80
vs ~60-70 on the round-5 kernel; calibration windows in
/tmp-recorded series, summarized below and in BENCH/BASELINE.md). Three
changes, all fixed here in advance of any recorded v4 chain:

1. Canary floors re-expressed on the new kernel's tps scale and RAISED
   relative to idle: med >= 62.0 AND p10 >= 45.0 (idle norm ~80; healthy
   1-core-run window read med 75.2; a degraded window that inflated a hi
   run +30% read med 57.3, another +60% read med 32.5 — both now clearly
   BELOW the floor at the new kernel's resolution, where the round-5
   kernel read such windows at an indistinguishable 60-61).
2. Job-CPU steal tightened: mean <= 0.035 (was 0.05), p90 <= 0.12 (was
   0.15). Both degraded calibration windows today read steal_mean
   0.033-0.044 with healthy cpu-sec/tile — the v3 threshold passed them.
   Round-5 certified-clean runs read steal_mean 0.0006-0.019, so 0.035
   keeps ~2x headroom over every observed healthy window.
3. NEW co-located PSI probe (tools/psi_probe.py): /proc/pressure io/memory
   stall fractions sampled every 6 s. Gate: io `full` stall fraction MEAN
   over the run <= 0.02 AND memory `full` MEAN <= 0.01 (n >= 5 spanning
   >= 60%). Calibration: idle means 0.000; during healthy runs the job's
   own write-back bursts reach io_full 0.03-0.095 in ISOLATED intervals
   but run MEANS stay <= 0.005; a sustained host I/O throttle or balloon
   reclaim (the round-4 v22 hole and the round-5 invisible-mode
   candidates) integrates to means far above 0.02. The PSI signal reads
   kernel stall accounting for the whole guest — it sees bursty
   write-back blocking BETWEEN fsync probe samples and memory-reclaim
   stalls no v3 probe measures. The measured job is a fixed function of a
   fixed input at fixed parallelism, so its healthy stall envelope is a
   calibration constant; exceedances are host weather (same fixed-job
   argument that admits the v2 cpu-sec/tile probe).
Colo cpu-sec/tile thresholds re-calibrated on the new kernel: healthy
contended med 0.0455-0.0495 / p90 0.0554-0.0562 (insensitive to the
observed weather modes, retained as the silicon-slowdown catcher):
med <= 0.062, p90 <= 0.075 (same ~25-35% headroom rule as v2).
"""
from __future__ import annotations

import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CANARY_PROCS = 4
CANARY_INTERVAL = 4.0
CANARY_CPU_BASE = 8
# gate v4 floors, NEW-KERNEL tps scale (module docstring item 1; idle ~80)
CANARY_MED_MIN = 62.0
CANARY_P10_MIN = 45.0
CANARY_MIN_SAMPLES = 5
CANARY_MIN_SPAN = 0.70

# co-located probe thresholds (gate v2 shape, v4 re-calibration: new-kernel
# contended-healthy cpu_tile med 0.0455-0.0495 / p90 0.0554-0.0562; steal
# tightened per the round-6 degraded-window calibration — docstring item 2)
GATE_VERSION = 4
COLO_INTERVAL = 6.0
COLO_TILES = 2
COLO_CPU_MED_MAX = 0.062
COLO_CPU_P90_MAX = 0.075
COLO_STEAL_MEAN_MAX = 0.035
COLO_STEAL_P90_MAX = 0.12
COLO_MIN_SAMPLES = 5
COLO_MIN_SPAN = 0.60

# gate v3: co-located storage probe thresholds (module docstring; declared
# round 5 from the round-4 calibration BEFORE any v3 chain ran)
IO_INTERVAL = 6.0
IO_FSYNC_MED_MAX = 40.0  # ms
IO_MIN_SAMPLES = 5
IO_MIN_SPAN = 0.60

# gate v4: co-located PSI (pressure-stall) probe thresholds (docstring
# item 3; declared from today's idle + healthy-run calibration BEFORE any
# v4 chain ran)
PSI_INTERVAL = 6.0
PSI_IO_FULL_MEAN_MAX = 0.02
PSI_MEM_FULL_MEAN_MAX = 0.01
PSI_MIN_SAMPLES = 5
PSI_MIN_SPAN = 0.60

CHAINS_LOG = os.path.join(REPO, "BENCH", "scaling_chains.jsonl")
RUNS_LOG = os.path.join(REPO, "BENCH", "scaling_runs.jsonl")
CANARY_DIR = os.path.join(REPO, "BENCH", "canary")

# the files that DEFINE the measured job: a chain recorded against different
# source bytes is stale evidence and the selection rule rejects it
_JOB_FILES = [
    "py3dtilers_spark/plans/tiler_job.py",
    "py3dtilers_spark/operators/kd_tree.py",
    "py3dtilers_spark/operators/kd_rank.py",
    "py3dtilers_spark/operators/hierarchy.py",
    "py3dtilers_spark/operators/indexing.py",
    "py3dtilers_spark/functions/imaging.py",
    "py3dtilers_spark/session.py",
    "tools/scaling_run.py",
]


def job_fingerprint() -> str:
    h = hashlib.sha256()
    for rel in _JOB_FILES:
        with open(os.path.join(REPO, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _pctl(xs: list, q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    i = q * (len(xs) - 1)
    lo, hi = int(i), min(int(i) + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


def canary_stats(path: str, t0: float, t1: float) -> dict:
    """Summarize the canary series over [t0, t1] (warmup excluded)."""
    tps, span_lo, span_hi = [], None, None
    try:
        with open(path) as fh:
            for line in fh:
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if rec.get("warm") or not (t0 <= rec["t"] <= t1):
                    continue
                tps.append(rec["tps"])
                span_lo = rec["t"] if span_lo is None else span_lo
                span_hi = rec["t"]
    except OSError:
        pass
    dur = max(t1 - t0, 1e-9)
    span = ((span_hi - span_lo) / dur) if tps and span_hi is not None else 0.0
    return {
        "n": len(tps),
        "med": round(statistics.median(tps), 1) if tps else 0.0,
        "p10": round(_pctl(tps, 0.10), 1) if tps else 0.0,
        "min": round(min(tps), 1) if tps else 0.0,
        "max": round(max(tps), 1) if tps else 0.0,
        "span": round(span, 3),
    }


def colo_stats(path: str, t0: float, t1: float) -> dict:
    """Summarize the co-located probe series over [t0, t1] (warmup
    bursts excluded): CPU-seconds/tile distribution + job-CPU steal."""
    cts, steals, span_lo, span_hi = [], [], None, None
    try:
        with open(path) as fh:
            for line in fh:
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if rec.get("warm") or not (t0 <= rec["t"] <= t1):
                    continue
                cts.extend(rec["cpu_tile"])
                steals.append(rec["steal"])
                span_lo = rec["t"] if span_lo is None else span_lo
                span_hi = rec["t"]
    except OSError:
        pass
    dur = max(t1 - t0, 1e-9)
    span = ((span_hi - span_lo) / dur) if steals and span_hi is not None else 0.0
    return {
        "n": len(steals),
        "cpu_med": round(statistics.median(cts), 4) if cts else 0.0,
        "cpu_p90": round(_pctl(cts, 0.90), 4) if cts else 0.0,
        "cpu_max": round(max(cts), 4) if cts else 0.0,
        "steal_mean": round(statistics.mean(steals), 4) if steals else 0.0,
        "steal_p90": round(_pctl(steals, 0.90), 4) if steals else 0.0,
        "steal_max": round(max(steals), 4) if steals else 0.0,
        "span": round(span, 3),
    }


def io_stats(path: str, t0: float, t1: float) -> dict:
    """Summarize the storage-probe series over [t0, t1] (gate v3)."""
    fs, span_lo, span_hi = [], None, None
    try:
        with open(path) as fh:
            for line in fh:
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if not (t0 <= rec["t"] <= t1):
                    continue
                fs.append(rec["fsync_ms"])
                span_lo = rec["t"] if span_lo is None else span_lo
                span_hi = rec["t"]
    except OSError:
        pass
    dur = max(t1 - t0, 1e-9)
    span = ((span_hi - span_lo) / dur) if fs and span_hi is not None else 0.0
    return {
        "n": len(fs),
        "fsync_med": round(statistics.median(fs), 3) if fs else 0.0,
        "fsync_p90": round(_pctl(fs, 0.90), 3) if fs else 0.0,
        "fsync_max": round(max(fs), 3) if fs else 0.0,
        "span": round(span, 3),
    }


def psi_stats(path: str, t0: float, t1: float) -> dict:
    """Summarize the PSI probe series over [t0, t1] (gate v4). Sentinel
    records of an unreadable /proc/pressure are counted in ``unavailable``,
    not as samples, so a host without PSI fails the minimum-sample rule."""
    io_f, mem_f, span_lo, span_hi = [], [], None, None
    unavailable = 0
    try:
        with open(path) as fh:
            for line in fh:
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if not (t0 <= rec["t"] <= t1):
                    continue
                if rec.get("psi_unavailable"):
                    unavailable += 1
                    continue
                io_f.append(rec["io_full"])
                mem_f.append(rec["mem_full"])
                span_lo = rec["t"] if span_lo is None else span_lo
                span_hi = rec["t"]
    except OSError:
        pass
    dur = max(t1 - t0, 1e-9)
    span = ((span_hi - span_lo) / dur) if io_f and span_hi is not None else 0.0
    return {
        "n": len(io_f),
        "io_full_mean": round(statistics.mean(io_f), 4) if io_f else 0.0,
        "io_full_max": round(max(io_f), 4) if io_f else 0.0,
        "mem_full_mean": round(statistics.mean(mem_f), 4) if mem_f else 0.0,
        "mem_full_max": round(max(mem_f), 4) if mem_f else 0.0,
        "span": round(span, 3),
        "unavailable": unavailable,
    }


def run_clean(
    c: dict, colo: dict | None = None, io: dict | None = None,
    psi: dict | None = None,
) -> bool:
    """Gate v4: reserved canary AND co-located CPU probe AND co-located
    storage probe AND PSI stall probe must all be clean (probes absent ->
    judged on the rest, for direct callers that predate them)."""
    canary_ok = (
        c["n"] >= CANARY_MIN_SAMPLES
        and c["span"] >= CANARY_MIN_SPAN
        and c["med"] >= CANARY_MED_MIN
        and c["p10"] >= CANARY_P10_MIN
    )
    if colo is not None:
        canary_ok = canary_ok and (
            colo["n"] >= COLO_MIN_SAMPLES
            and colo["span"] >= COLO_MIN_SPAN
            and colo["cpu_med"] <= COLO_CPU_MED_MAX
            and colo["cpu_p90"] <= COLO_CPU_P90_MAX
            and colo["steal_mean"] <= COLO_STEAL_MEAN_MAX
            and colo["steal_p90"] <= COLO_STEAL_P90_MAX
        )
    if io is not None:
        canary_ok = canary_ok and (
            io["n"] >= IO_MIN_SAMPLES
            and io["span"] >= IO_MIN_SPAN
            and io["fsync_med"] <= IO_FSYNC_MED_MAX
        )
    if psi is not None:
        canary_ok = canary_ok and (
            psi["n"] >= PSI_MIN_SAMPLES
            and psi["span"] >= PSI_MIN_SPAN
            and psi["io_full_mean"] <= PSI_IO_FULL_MEAN_MAX
            and psi["mem_full_mean"] <= PSI_MEM_FULL_MEAN_MAX
        )
    return canary_ok


def run_with_canary(
    cores: int, input_path: str, out_root: str, n_rows: int,
    kd_max: int, canary_file: str,
) -> dict:
    """One pinned scaling run (fresh JVM) with a live canary; returns the
    run JSON + canary summary + clean verdict."""
    os.makedirs(os.path.dirname(canary_file), exist_ok=True)
    # own process group per child so a killed chain cannot leave orphaned
    # pool workers / JVMs competing with the NEXT chain's pinned CPUs (the
    # reserved-CPU canary cannot see job-CPU-local contention, so orphans
    # would silently bias estimates)
    can = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "tools", "canary.py"),
         str(CANARY_PROCS), canary_file, str(CANARY_INTERVAL),
         str(CANARY_CPU_BASE)],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True,
    )
    # co-located probe on the job's own pinned CPUs (scaling_run.py pins to
    # the TOP `cores` CPUs): the gate-v2 signals, see module docstring
    ncpu = os.cpu_count() or cores
    job_cpus = ",".join(str(c) for c in range(ncpu - cores, ncpu))
    colo_file = canary_file.replace(".jsonl", "_colo.jsonl")
    colo = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "tools", "co_canary.py"),
         colo_file, job_cpus, str(COLO_INTERVAL), str(COLO_TILES)],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True,
    )
    # gate-v3 storage probe: fsync latency on the filesystem holding the
    # job's INPUT (and Spark's local/spill dirs) — the real disk; the tile
    # sink itself targets /dev/shm, which has no device to throttle
    io_file = canary_file.replace(".jsonl", "_io.jsonl")
    io_p = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "tools", "io_probe.py"),
         "probe", io_file, os.path.dirname(input_path) or tempfile.gettempdir(),
         str(IO_INTERVAL)],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True,
    )
    # gate-v4 PSI probe: kernel pressure-stall accounting (io/memory), the
    # signal the per-probe samplers cannot synthesize (module docstring)
    psi_file = canary_file.replace(".jsonl", "_psi.jsonl")
    psi_p = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "tools", "psi_probe.py"),
         psi_file, str(PSI_INTERVAL)],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True,
    )
    out = os.path.join(out_root, f"c{cores}")
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    run_p = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "tools", "scaling_run.py"),
         str(cores), input_path, out, str(n_rows), str(kd_max)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    try:
        out_s, err_s = run_p.communicate()
    finally:
        t1 = time.time()
        # start_new_session makes each child its own process-group leader, so
        # signal pgid == p.pid directly: os.getpgid(p.pid) raises
        # ProcessLookupError once communicate() has reaped the leader, which
        # would leave its still-live grandchildren (JVM, forked workers)
        # unsignalled — the orphan class that poisons later runs in the chain
        for p in (can, colo, io_p, psi_p, run_p):
            try:
                os.killpg(p.pid, signal.SIGTERM)
            except (ProcessLookupError, PermissionError, OSError):
                pass
        for p in (can, colo, io_p, psi_p):
            try:
                p.wait(timeout=30)
            except Exception:
                try:
                    os.killpg(p.pid, signal.SIGKILL)
                except OSError:
                    pass
    if run_p.returncode != 0:
        raise RuntimeError(f"scaling run c{cores} failed:\n{err_s[-4000:]}")
    run = json.loads(out_s.strip().splitlines()[-1])
    # skip the canary's first ~2 samples worth of JVM/session startup? No:
    # the run's wall clock INCLUDES startup, so the window gate covers it too
    c = canary_stats(canary_file, t0, t1)
    co = colo_stats(colo_file, t0, t1)
    io = io_stats(io_file, t0, t1)
    psi = psi_stats(psi_file, t0, t1)
    rec = {"run": run, "canary": c, "colo": co, "io": io, "psi": psi,
           "clean": run_clean(c, co, io, psi),
           "t0": round(t0, 1), "t1": round(t1, 1),
           "canary_file": os.path.relpath(canary_file, REPO)}
    try:
        os.makedirs(os.path.dirname(RUNS_LOG), exist_ok=True)
        with open(RUNS_LOG, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
    except OSError:
        pass
    return rec


def run_chain(
    n_lo: int, n_hi: int, input_path: str, n_rows: int,
    kd_max: int, copies: int, pairs: int, label: str = "",
    abort_on_dirty: bool = False,
) -> dict:
    """Run one full bracketed chain; append the record to CHAINS_LOG.

    abort_on_dirty stops after the first canary-dirty run: a chain with any
    dirty run can never certify (the gate reads only host weather, never the
    job's efficiency), so finishing it buys no evidence — aborting lets the
    sampler try again sooner. The partial chain is still appended to the log
    with aborted=True; it simply fails the >= pairs-estimates requirement,
    exactly as a completed dirty chain fails the all-clean requirement."""
    chain_id = time.strftime("%Y%m%dT%H%M%S") + (f"_{label}" if label else "")
    out_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    out_root = tempfile.mkdtemp(prefix="chain_tiles_", dir=out_base)
    fp = job_fingerprint()
    runs: list[dict] = []

    def _one(cores: int, idx: int) -> dict:
        cf = os.path.join(CANARY_DIR, f"{chain_id}_r{idx}_c{cores}.jsonl")
        return run_with_canary(cores, input_path, out_root, n_rows, kd_max, cf)

    # pre-flight: another live scaling_run/canary would compete for the
    # pinned CPUs and silently bias this chain — refuse to start over it
    probe = subprocess.run(
        ["pgrep", "-f", "scaling_run.py|tools/canary.py|tools/co_canary.py"],
        capture_output=True, text=True,
    )
    others = [p for p in probe.stdout.split() if p and int(p) != os.getpid()]
    if others:
        raise RuntimeError(f"live scaling processes exist: {others}")

    t_start = time.time()
    err = None
    aborted = False
    try:
        runs.append(_one(n_lo, 0))
        if abort_on_dirty and not runs[-1]["clean"]:
            aborted = True
        else:
            for i in range(pairs):
                runs.append(_one(n_hi, 2 * i + 1))
                if abort_on_dirty and not runs[-1]["clean"]:
                    aborted = True
                    break
                runs.append(_one(n_lo, 2 * i + 2))
                if abort_on_dirty and not runs[-1]["clean"]:
                    aborted = True
                    break
    except Exception as e:  # record partial chains too — they are evidence
        err = str(e)[-500:]
    finally:
        shutil.rmtree(out_root, ignore_errors=True)

    estimates = []
    i = 0
    while 2 * i + 2 < len(runs):
        lo_a, hi, lo_b = runs[2 * i], runs[2 * i + 1], runs[2 * i + 2]
        lo_sec = (lo_a["run"]["sec"] + lo_b["run"]["sec"]) / 2.0
        eff = (lo_sec / hi["run"]["sec"]) / (n_hi / n_lo)
        estimates.append(
            {
                "eff": round(eff, 3),
                "lo_sec_bracket": round(lo_sec, 3),
                "hi_sec": hi["run"]["sec"],
                "clean": lo_a["clean"] and hi["clean"] and lo_b["clean"],
            }
        )
        i += 1

    clean = (
        err is None
        and len(estimates) >= pairs
        and all(r["clean"] for r in runs)
    )
    chain = {
        "chain_id": chain_id,
        "t_start": round(t_start, 1),
        "config": {
            "cores_lo": n_lo, "cores_hi": n_hi, "copies": copies,
            "n_rows": n_rows, "kd_max": kd_max, "pairs": pairs,
            "job_fingerprint": fp,
        },
        "gate": {
            "version": GATE_VERSION,
            "med_min": CANARY_MED_MIN, "p10_min": CANARY_P10_MIN,
            "min_samples": CANARY_MIN_SAMPLES, "min_span": CANARY_MIN_SPAN,
            "colo_cpu_med_max": COLO_CPU_MED_MAX,
            "colo_cpu_p90_max": COLO_CPU_P90_MAX,
            "colo_steal_mean_max": COLO_STEAL_MEAN_MAX,
            "colo_steal_p90_max": COLO_STEAL_P90_MAX,
            "io_fsync_med_max": IO_FSYNC_MED_MAX,
            "io_min_samples": IO_MIN_SAMPLES,
            "io_min_span": IO_MIN_SPAN,
            "psi_io_full_mean_max": PSI_IO_FULL_MEAN_MAX,
            "psi_mem_full_mean_max": PSI_MEM_FULL_MEAN_MAX,
            "psi_min_samples": PSI_MIN_SAMPLES,
            "psi_min_span": PSI_MIN_SPAN,
        },
        "runs": runs,
        "estimates": estimates,
        "clean": clean,
        "aborted": aborted,
        "efficiency": (
            round(statistics.median(e["eff"] for e in estimates), 3)
            if estimates else None
        ),
        "error": err,
        "wall_sec": round(time.time() - t_start, 1),
    }
    try:
        os.makedirs(os.path.dirname(CHAINS_LOG), exist_ok=True)
        with open(CHAINS_LOG, "a") as fh:
            fh.write(json.dumps(chain) + "\n")
    except OSError:
        pass
    return chain


def find_certified_chain(
    n_lo: int, n_hi: int, copies: int, n_rows: int, pairs: int,
    kd_max: int | None = None,
) -> dict | None:
    """Apply the declared selection rule: first clean, config-matching,
    fingerprint-current chain in the log. kd_max changes tile sizes and
    hence the measured seconds, so it is part of the config match (None
    accepts any, for backward compatibility with direct callers)."""
    fp = job_fingerprint()
    try:
        with open(CHAINS_LOG) as fh:
            for line in fh:
                try:
                    ch = json.loads(line)
                except json.JSONDecodeError:
                    continue
                cfg = ch.get("config", {})
                if (
                    ch.get("clean")
                    # a chain recorded under an older gate never collected
                    # the evidence the current gate reads — stale, exactly
                    # like a stale job fingerprint
                    and ch.get("gate", {}).get("version") == GATE_VERSION
                    and len(ch.get("estimates", [])) >= pairs
                    and cfg.get("cores_lo") == n_lo
                    and cfg.get("cores_hi") == n_hi
                    and cfg.get("copies") == copies
                    and cfg.get("n_rows") == n_rows
                    and (kd_max is None or cfg.get("kd_max") == kd_max)
                    and cfg.get("job_fingerprint") == fp
                ):
                    return ch
    except OSError:
        pass
    return None


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--pairs", type=int, default=None)
    ap.add_argument("--label", default="")
    ap.add_argument("--abort-on-dirty", action="store_true")
    args = ap.parse_args()

    import bench  # lazy: bench imports the query registry

    n_lo, n_hi = bench.SCALE_N, 4 * bench.SCALE_N
    pairs = args.pairs if args.pairs is not None else bench.SCALE_PAIRS
    input_path = os.path.join(
        tempfile.gettempdir(),
        f"bench_input_x{bench.SCALE_COPIES}_{bench._sf_of(bench.SF_DIR)}",
    )
    n_rows = bench.materialize_input(input_path)
    ch = run_chain(
        n_lo, n_hi, input_path, n_rows, bench.KD_MAX,
        bench.SCALE_COPIES, pairs, label=args.label,
        abort_on_dirty=args.abort_on_dirty,
    )
    print(json.dumps({
        "chain_id": ch["chain_id"], "clean": ch["clean"],
        "efficiency": ch["efficiency"],
        "estimates": [(e["eff"], e["clean"]) for e in ch["estimates"]],
        "canaries": [
            (r["run"]["cores"], r["canary"]["med"], r["canary"]["p10"],
             r["clean"]) for r in ch["runs"]
        ],
        "colo": [
            (r["run"]["cores"], r.get("colo", {}).get("cpu_med"),
             r.get("colo", {}).get("steal_mean")) for r in ch["runs"]
        ],
        "error": ch["error"],
    }))


if __name__ == "__main__":
    main()
