"""Self-tests of the benchmark's event-log reader and span writer.

    python3 -m pytest perfbench -q

``testdata/eventlog_small.jsonl`` is a recorded Spark event log of a
two-job local[2] application, trimmed to the events and fields the reader
uses: job 0 ``scan`` (a noop write of 2000 rows), job 1 ``tile_shuffle``
(a repartition + sort of the same rows, so one shuffle map stage and one
reading stage) and job 2 without a description (a count).
"""
from __future__ import annotations

import json
import os
import sys
from pathlib import Path

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import layers  # noqa: E402
import tracing  # noqa: E402
from tracing import Phases, Span, Spans  # noqa: E402

LOG = os.path.join(HERE, "testdata", "eventlog_small.jsonl")


def test_jobs_and_tasks_are_grouped_by_description():
    log = eventlog.parse(LOG)
    assert log.jobs == {0: "scan", 1: "tile_shuffle", 2: ""}
    assert log.job_count("scan") == 1
    assert len(log.tasks_of("scan")) == 2
    assert log.total("scan", "input_records") == 2000
    assert log.total("scan", "shuffle_write_bytes") == 0
    assert all(t.run_ms > 0 and t.cpu_ns > 0 for t in log.tasks_of("tile_shuffle"))


def test_shuffle_stage_writes_and_the_next_stage_reads():
    log = eventlog.parse(LOG)
    stages = log.stages_of("tile_shuffle")
    assert sorted(stages) == [1, 2]
    assert sum(t.shuffle_write_bytes for t in stages[1]) > 0
    assert sum(t.shuffle_read_records for t in stages[1]) == 0
    reading = layers._last_stage_reading(log, "tile_shuffle")
    assert {t.stage for t in reading} == {2}
    assert sum(t.shuffle_read_records for t in reading) == 2000


def test_task_without_metrics_counts_as_zero(tmp_path):
    p = tmp_path / "log.jsonl"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 7,
         "Properties": {eventlog.DESC: "encode"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3},
         "Properties": {eventlog.DESC: "encode"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Info": {"Failed": True}},
    ]
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n\n")
    log = eventlog.parse(str(p))
    [t] = log.tasks_of("encode")
    assert t.run_ms == 0 and t.shuffle_read_records == 0
    assert layers._last_stage_reading(log, "encode") == []


def test_spans_round_trip_through_the_file(tmp_path):
    spans = Spans("wl-s1")
    with spans.span("run_tiler") as root:
        with spans.span("encode", root):
            pass
    path = str(tmp_path / "spans.jsonl")
    spans.write(path)
    back = [Span(**json.loads(line)) for line in Path(path).read_text().splitlines()]
    assert back == spans.spans
    assert [s.parent for s in back] == [None, root.id]
    assert {s.run_id for s in back} == {"wl-s1"}
    assert all(s.end >= s.start for s in back)


class _FakeContext:
    def __init__(self):
        self.descriptions = []

    def setJobDescription(self, value):
        self.descriptions.append(value)


def test_phases_tile_the_root_and_label_jobs():
    spans, sc = Spans("r"), _FakeContext()
    root = spans.open("run_tiler")
    phases = Phases(spans, root, sc)
    phases.switch("scan")
    phases.switch("encode")
    phases.switch("finish")
    phases.end()
    spans.close(root)
    kids = [s for s in spans.spans if s.parent == root.id]
    assert [s.name for s in kids] == ["scan", "encode", "finish"]
    assert all(s.end is not None for s in kids)
    assert all(x.end <= y.start for x, y in zip(kids, kids[1:]))
    assert sc.descriptions == ["scan", "encode", "finish", None]


def test_traced_calls_patch_the_call_points_and_restore_them():
    """The wrapped names exist in the package, and leaving the block puts
    the package's own functions back."""
    from pyspark.sql.readwriter import DataFrameWriter

    points = [(mod, name) for mod, name, _during, _after in tracing._call_points()]
    before = [getattr(mod, name) for mod, name in points] + [DataFrameWriter.parquet]
    spans, sc = Spans("r"), _FakeContext()
    counters: dict = {}
    with tracing.traced_calls(Phases(spans, spans.open("run_tiler"), sc), counters):
        during = [getattr(mod, name) for mod, name in points]
        assert all(a is not b for a, b in zip(during, before))
    after = [getattr(mod, name) for mod, name in points] + [DataFrameWriter.parquet]
    assert after == before
    assert counters == {"kd_rank.levels": 0}
    assert sc.descriptions == ["scan", None]
