#!/usr/bin/env python
"""CO-LOCATED pressure-stall (PSI) probe — gate v4 (scaling protocol).

Round-5 residual (BENCH/BASELINE.md round-6 candidates + the logged
counterexample): hi runs stretched 25-60% in windows where EVERY declared
v3 signal read healthy — reserved-canary tps, job-CPU cpu-sec/tile,
/proc/stat steal, and the storage probe's fsync median. The kernel's
pressure-stall accounting is the signal those probes cannot synthesize:
/proc/pressure/{io,memory,cpu} integrates the time RUNNABLE-OR-BLOCKED
tasks actually lost to io waits / memory reclaim / cpu contention,
system-wide, including stalls that are invisible per-probe (bursty
write-back throttling between fsync samples, balloon reclaim, host-side
dirty-page backpressure).

The probe samples the three PSI files every INTERVAL seconds and records
the per-interval stall FRACTION (delta of the `total=` stall microseconds
over the wall interval):

  {"t": ..., "io_some": f, "io_full": f, "mem_some": f, "mem_full": f,
   "cpu_some": f}

A host where a PSI file cannot be read (CONFIG_PSI off, no permission)
gives no signal, not a healthy one: such an interval is written as
{"t": ..., "psi_unavailable": true}, which psi_stats counts apart from the
samples, so the gate's minimum-sample rule fails the run.

Protocol note (declared with gate v4, tools/run_chain.py): the measured
job is a FIXED function of a fixed input at a fixed parallelism, run on
otherwise-idle guest CPUs; its own healthy stall profile is measured in
calibration BEFORE any gated chain, and the gate threshold sits far above
it. A window where io/memory stall fractions exceed that envelope is host
weather (device throttle, balloon reclaim), not a property the job can
influence — the same fixed-job argument that admits the co-located
cpu-sec/tile probe. Zero overhead: two file reads per sample.

Usage: psi_probe.py OUT_FILE [INTERVAL_S]
Runs until SIGTERM/SIGINT (the chain runner owns its lifetime).
"""
from __future__ import annotations

import json
import os
import signal
import sys
import time

_PSI_DIR = "/proc/pressure"


def _read_psi(res: str) -> dict[str, int] | None:
    """{'some': total_us, 'full': total_us} for one resource, or None when
    the file cannot be read. A missing line reads as 0 (e.g.
    /proc/pressure/cpu has no `full` line on older kernels)."""
    out = {"some": 0, "full": 0}
    try:
        with open(os.path.join(_PSI_DIR, res)) as fh:
            for line in fh:
                parts = line.split()
                if parts and parts[0] in out:
                    for tok in parts[1:]:
                        if tok.startswith("total="):
                            out[parts[0]] = int(tok[6:])
    except (OSError, ValueError):
        return None
    return out


def _sample(prev: dict, cur: dict, t_now: float, dt_us: float) -> dict:
    """One probe record: per-resource stall fractions over the interval, or
    the ``psi_unavailable`` sentinel when any reading is missing."""
    if None in prev.values() or None in cur.values():
        return {"t": round(t_now, 2), "psi_unavailable": True}

    def frac(res: str, kind: str) -> float:
        return round((cur[res][kind] - prev[res][kind]) / dt_us, 5)

    return {
        "t": round(t_now, 2),
        "io_some": frac("io", "some"),
        "io_full": frac("io", "full"),
        "mem_some": frac("memory", "some"),
        "mem_full": frac("memory", "full"),
        "cpu_some": frac("cpu", "some"),
    }


def main() -> None:
    out_file = sys.argv[1]
    interval = float(sys.argv[2]) if len(sys.argv) > 2 else 6.0

    stop = {"v": False}
    signal.signal(signal.SIGTERM, lambda *_: stop.update(v=True))
    signal.signal(signal.SIGINT, lambda *_: stop.update(v=True))

    fd = os.open(out_file, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
    prev = {r: _read_psi(r) for r in ("io", "memory", "cpu")}
    t_prev = time.time()
    while not stop["v"]:
        time.sleep(interval)
        if stop["v"]:
            break
        t_now = time.time()
        cur = {r: _read_psi(r) for r in ("io", "memory", "cpu")}
        rec = _sample(prev, cur, t_now, max((t_now - t_prev) * 1e6, 1.0))
        prev, t_prev = cur, t_now
        os.write(fd, (json.dumps(rec) + "\n").encode())


if __name__ == "__main__":
    main()
