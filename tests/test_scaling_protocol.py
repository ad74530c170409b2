"""Scaling evidence protocol (tools/run_chain.py): the RUN_CLEAN gate, the
canary series summary, and the declared first-certified-chain selection rule
are pure functions — pin them without Spark."""
import json

from tools import run_chain as rc


def _series(path, tps_list, t0=1000.0, dt=4.0, warm_first=True):
    with open(path, "w") as fh:
        if warm_first:
            fh.write(json.dumps({"t": t0 - dt, "burst_sec": 1.0, "tps": 5.0,
                                 "warm": True}) + "\n")
        for i, tps in enumerate(tps_list):
            fh.write(json.dumps({"t": t0 + i * dt, "burst_sec": 0.1,
                                 "tps": tps}) + "\n")


def test_canary_stats_excludes_warmup_and_window(tmp_path):
    p = str(tmp_path / "c.jsonl")
    _series(p, [70, 72, 68, 74, 71, 69, 73, 70, 72, 71])
    c = rc.canary_stats(p, 1000.0, 1000.0 + 9 * 4.0)
    assert c["n"] == 10          # warmup line dropped
    assert 68 <= c["med"] <= 74
    assert c["span"] >= 0.99
    # out-of-window samples dropped
    c2 = rc.canary_stats(p, 1000.0, 1012.0)
    assert c2["n"] == 4


def test_run_clean_rule(tmp_path):
    healthy = {"n": 20, "med": 70.0, "p10": 60.0, "min": 50.0, "max": 80.0,
               "span": 0.95}
    assert rc.run_clean(healthy)
    # sustained degradation: median collapses
    assert not rc.run_clean({**healthy, "med": 45.0})
    # degradation inside the run: p10 collapses even if median holds
    assert not rc.run_clean({**healthy, "p10": 30.0})
    # canary died early: span too small
    assert not rc.run_clean({**healthy, "span": 0.5})
    assert not rc.run_clean({**healthy, "n": 3})


def test_run_clean_v2_colocated_gate():
    canary = {"n": 20, "med": 70.0, "p10": 60.0, "min": 50.0, "max": 80.0,
              "span": 0.95}
    colo_ok = {"n": 12, "span": 0.9, "cpu_med": 0.053, "cpu_p90": 0.060,
               "steal_mean": 0.01, "steal_p90": 0.05}
    assert rc.run_clean(canary, colo_ok)
    # silicon slowdown: cpu-seconds/tile inflates (p2h3 failure mode)
    assert not rc.run_clean(canary, {**colo_ok, "cpu_med": 0.075})
    assert not rc.run_clean(canary, {**colo_ok, "cpu_p90": 0.095})
    # host descheduling focused on the job's CPUs: steal
    assert not rc.run_clean(canary, {**colo_ok, "steal_mean": 0.07})
    assert not rc.run_clean(canary, {**colo_ok, "steal_p90": 0.20})
    # probe died / sparse coverage
    assert not rc.run_clean(canary, {**colo_ok, "n": 2})
    assert not rc.run_clean(canary, {**colo_ok, "span": 0.3})
    # both gates must hold — a dirty canary is not rescued by a clean probe
    assert not rc.run_clean({**canary, "p10": 30.0}, colo_ok)


def test_run_clean_v3_storage_gate(tmp_path):
    canary = {"n": 20, "med": 70.0, "p10": 60.0, "min": 50.0, "max": 80.0,
              "span": 0.95}
    colo_ok = {"n": 12, "span": 0.9, "cpu_med": 0.053, "cpu_p90": 0.060,
               "steal_mean": 0.01, "steal_p90": 0.05}
    io_ok = {"n": 10, "span": 0.85, "fsync_med": 9.0, "fsync_p90": 120.0,
             "fsync_max": 400.0}
    assert rc.run_clean(canary, colo_ok, io_ok)
    # v22 failure mode: sustained device throttle inflates the fsync MEDIAN
    assert not rc.run_clean(canary, colo_ok, {**io_ok, "fsync_med": 80.0})
    # probe died / sparse coverage
    assert not rc.run_clean(canary, colo_ok, {**io_ok, "n": 2})
    assert not rc.run_clean(canary, colo_ok, {**io_ok, "span": 0.3})
    # a healthy job's own sink bursts contaminate p90/max — must NOT trip
    assert rc.run_clean(canary, colo_ok, {**io_ok, "fsync_p90": 456.0,
                                          "fsync_max": 999.0})
    # the storage gate cannot rescue a dirty CPU probe
    assert not rc.run_clean(canary, {**colo_ok, "cpu_med": 0.075}, io_ok)
    # io_stats summarizer: median over the window
    p = str(tmp_path / "io.jsonl")
    with open(p, "w") as fh:
        for i, ms in enumerate([5.0, 7.0, 9.0, 11.0, 300.0]):
            fh.write(json.dumps({"t": 1000.0 + i * 6.0, "fsync_ms": ms,
                                 "util": 0.1, "await_ms": 2.0}) + "\n")
    s = rc.io_stats(p, 1000.0, 1024.0)
    assert s["n"] == 5 and s["fsync_med"] == 9.0 and s["span"] >= 0.99


def _chain(chain_id, clean, fp, n_est=3, cores=(1, 4), copies=3, n_rows=100,
           gate_version=rc.GATE_VERSION):
    return {
        "chain_id": chain_id,
        "clean": clean,
        "config": {
            "cores_lo": cores[0], "cores_hi": cores[1], "copies": copies,
            "n_rows": n_rows, "kd_max": 500, "pairs": 3,
            "job_fingerprint": fp,
        },
        "gate": {"version": gate_version},
        "estimates": [{"eff": 0.9, "clean": clean}] * n_est,
        "efficiency": 0.9,
        "runs": [],
    }


def test_first_certified_chain_selected(tmp_path, monkeypatch):
    fp = rc.job_fingerprint()
    log = str(tmp_path / "chains.jsonl")
    with open(log, "w") as fh:
        # dirty chain first, then stale-fingerprint clean chain, then the
        # first VALID clean chain, then a later clean chain (must NOT win)
        fh.write(json.dumps(_chain("c1_dirty", False, fp)) + "\n")
        fh.write(json.dumps(_chain("c2_stale", True, "deadbeef")) + "\n")
        # clean + current fingerprint but recorded under an OLDER gate —
        # never collected the evidence the current gate reads (stale)
        fh.write(json.dumps(
            _chain("c2b_old_gate", True, fp,
                   gate_version=rc.GATE_VERSION - 1)) + "\n")
        fh.write(json.dumps(_chain("c3_first_valid", True, fp)) + "\n")
        fh.write(json.dumps(_chain("c4_later", True, fp)) + "\n")
    monkeypatch.setattr(rc, "CHAINS_LOG", log)
    ch = rc.find_certified_chain(1, 4, 3, 100, 3)
    assert ch["chain_id"] == "c3_first_valid"
    # config mismatch -> no chain
    assert rc.find_certified_chain(2, 8, 3, 100, 3) is None
    # too few estimates -> no chain
    with open(log, "w") as fh:
        fh.write(json.dumps(_chain("short", True, fp, n_est=2)) + "\n")
    assert rc.find_certified_chain(1, 4, 3, 100, 3) is None


def test_job_fingerprint_tracks_source(monkeypatch):
    fp1 = rc.job_fingerprint()
    assert len(fp1) == 16
    # the fingerprint covers the files that define the measured job
    assert "py3dtilers_spark/plans/tiler_job.py" in rc._JOB_FILES
    assert "tools/scaling_run.py" in rc._JOB_FILES


def test_psi_unreadable_is_no_signal_not_clean(tmp_path, monkeypatch):
    """An unreadable /proc/pressure yields sentinel records, which psi_stats
    counts apart from the samples, so the PSI gate fails instead of passing
    on zeros."""
    from tools import psi_probe

    monkeypatch.setattr(psi_probe, "_PSI_DIR", str(tmp_path / "missing"))
    assert psi_probe._read_psi("io") is None
    prev = {r: psi_probe._read_psi(r) for r in ("io", "memory", "cpu")}
    p = str(tmp_path / "psi.jsonl")
    with open(p, "w") as fh:
        for i in range(10):
            rec = psi_probe._sample(prev, prev, 1000.0 + 6.0 * i, 6e6)
            assert rec == {"t": 1000.0 + 6.0 * i, "psi_unavailable": True}
            fh.write(json.dumps(rec) + "\n")
    psi = rc.psi_stats(p, 1000.0, 1054.0)
    assert (psi["n"], psi["unavailable"]) == (0, 10)
    canary = {"n": 20, "med": 70.0, "p10": 60.0, "min": 50.0, "max": 80.0,
              "span": 0.95}
    assert not rc.run_clean(canary, psi=psi)
    # the same window with readable, idle PSI passes
    idle = {"some": 0, "full": 0}
    real = {r: idle for r in ("io", "memory", "cpu")}
    with open(p, "w") as fh:
        for i in range(10):
            fh.write(json.dumps(
                psi_probe._sample(real, real, 1000.0 + 6.0 * i, 6e6)) + "\n")
    assert rc.run_clean(canary, psi=rc.psi_stats(p, 1000.0, 1054.0))
