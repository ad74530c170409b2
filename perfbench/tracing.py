"""Spans for the traced run, kept in memory and written once at the end.

A span has a name, a start and an end (``time.perf_counter`` seconds), the
id of the span that caused it and the id of the run it belongs to.
``traced_calls`` wraps the module functions that ``run_tiler`` calls, so
each layer of one pipeline run becomes a phase span under the run's root
span, and every Spark job started inside a phase carries the phase name as
its job description (which the event log records, see ``eventlog``).
"""
from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Spans:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []

    def open(self, name: str, parent: Span | None = None) -> Span:
        s = Span(len(self.spans), name, time.perf_counter(), None,
                 parent.id if parent else None, self.run_id)
        self.spans.append(s)
        return s

    @staticmethod
    def close(span: Span) -> None:
        span.end = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, parent: Span | None = None):
        s = self.open(name, parent)
        try:
            yield s
        finally:
            self.close(s)

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.spans if s.name == name)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


class Phases:
    """One open phase span at a time under ``root``; switching phase closes
    the current span and labels the Spark jobs that follow."""

    def __init__(self, spans: Spans, root: Span, sc):
        self.spans, self.root, self.sc = spans, root, sc
        self.cur: Span | None = None

    def switch(self, name: str) -> None:
        if self.cur is not None:
            self.spans.close(self.cur)
        self.cur = self.spans.open(name, self.root)
        self.sc.setJobDescription(name)

    def end(self) -> None:
        if self.cur is not None:
            self.spans.close(self.cur)
            self.cur = None
        self.sc.setJobDescription(None)


# (module, function, phase while it runs, phase after it returns or None).
# Module functions are looked up by run_tiler at call time, so patching the
# attribute on the module that run_tiler reads is enough.
def _call_points():
    from py3dtilers_spark.operators import hierarchy
    from py3dtilers_spark.plans import tiler_job

    return [
        (tiler_job, "kd_sample_walk", "kd_tree.sample", "kd_tree.assign"),
        (tiler_job, "kd_assign", "kd_rank.levels", "kd_rank.finish"),
        (tiler_job, "tile_tree", "finish", None),
        (tiler_job, "encode_tiles_stream", "encode", None),
        (tiler_job, "manifest", "finish", None),
        (hierarchy, "write_manifest_sharded", "finish", None),
    ]


# per-level steps of the exact kd rank loop: counted, not phased
_LEVEL_STEPS = ("_rank_step", "_window_step")


@contextlib.contextmanager
def traced_calls(phases: Phases, counters: dict):
    """Patch the call points for the duration of one traced run.

    The tile write ends the ``encode`` phase: the jobs after it (metadata
    read, lineage, tree and manifest) are the finish. ``counters`` receives
    ``kd_rank.levels``, the number of distributed rank levels that ran.
    """
    from pyspark.sql.readwriter import DataFrameWriter

    from py3dtilers_spark.operators import kd_rank

    saved = []

    def patch(obj, name, fn):
        saved.append((obj, name, getattr(obj, name)))
        setattr(obj, name, fn)

    def phased(orig, during, after):
        def call(*a, **kw):
            phases.switch(during)
            out = orig(*a, **kw)
            if after:
                phases.switch(after)
            return out

        return call

    for mod, name, during, after in _call_points():
        patch(mod, name, phased(getattr(mod, name), during, after))

    def counted(orig):
        def call(*a, **kw):
            counters["kd_rank.levels"] += 1
            return orig(*a, **kw)

        return call

    counters["kd_rank.levels"] = 0
    for name in _LEVEL_STEPS:
        if hasattr(kd_rank, name):
            patch(kd_rank, name, counted(getattr(kd_rank, name)))

    write_parquet = DataFrameWriter.parquet

    def parquet(self, *a, **kw):
        out = write_parquet(self, *a, **kw)
        if phases.cur is not None and phases.cur.name == "encode":
            phases.switch("finish")
        return out

    patch(DataFrameWriter, "parquet", parquet)
    try:
        phases.switch("scan")
        yield
    finally:
        phases.end()
        for obj, name, orig in reversed(saved):
            setattr(obj, name, orig)
