"""The event-log reducer, on a small canned log."""

import json
import os

import pyarrow as pa
import pytest

from perfbench.trace import (
    Tracer,
    assign_jobs,
    read_event_log,
    reduce_events,
    union_s,
)

CANNED = os.path.join(os.path.dirname(__file__), "data", "events_canned.jsonl")


@pytest.fixture
def rolling_zstd(tmp_path):
    """The canned log laid out as Spark 4 writes it: a zstd rolling
    directory, split into two numbered files."""
    with open(CANNED, "rb") as f:
        lines = f.read().splitlines(keepends=True)
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for i, chunk in enumerate((lines[:5], lines[5:]), start=1):
        with pa.CompressedOutputStream(str(d / f"events_{i}_local-1.zstd"), "zstd") as out:
            out.write(b"".join(chunk))
    return tmp_path


def test_zstd_rolling_log_decodes_in_roll_order(rolling_zstd):
    with open(CANNED) as f:
        assert read_event_log(str(rolling_zstd)) == [json.loads(line) for line in f]


def test_reduce_jobs_and_stage_metrics(rolling_zstd):
    red = reduce_events(read_event_log(str(rolling_zstd)))
    jobs, stages = red["jobs"], red["stages"]
    assert jobs[0] == {
        "group": "dedup-scale/g02/1",
        "submit": 1000,
        "end": 2500,
        "stages": [0, 1],
        "ok": True,
    }
    assert jobs[1]["group"] is None and jobs[1]["ok"] is False
    s0, s1 = stages[0], stages[1]
    assert s0["tasks"] == 2
    assert s0["run_s"] == pytest.approx(1.0)
    assert s0["cpu_s"] == pytest.approx(0.8)
    assert s0["gc_s"] == pytest.approx(0.01)
    assert s0["shuffle_write_bytes"] == 1500
    assert s0["peak_exec_memory_bytes"] == 8192
    assert (s0["input_rows"], s0["input_bytes"]) == (150, 8000)
    assert not s0["python"]
    assert s1["python"]
    assert (s1["py_sent_bytes"], s1["py_recv_bytes"], s1["py_rows"]) == (2048, 1024, 12)
    assert s1["shuffle_read_bytes"] == 1500
    assert s1["shuffle_fetch_wait_s"] == pytest.approx(0.02)
    assert s1["spill_disk_bytes"] == 64
    assert s1["output_bytes"] == 300


def test_union_of_intervals():
    assert union_s([]) == 0.0
    assert union_s([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_s([(3, 4), (0, 10)]) == pytest.approx(10.0)


def test_jobs_go_to_the_innermost_span():
    tr = Tracer()
    tr.spans = [
        {"name": "job", "start": 0.5, "end": 4.0, "parent": None},
        {"name": "plans.build", "start": 0.9, "end": 2.0, "parent": 0},
        {"name": "plans.execute", "start": 2.0, "end": 3.9, "parent": 0},
    ]
    jobs = {0: {"submit": 1000}, 1: {"submit": 3000}, 2: {"submit": 3950}, 3: {"submit": 9000}}
    assert assign_jobs(tr.spans, jobs) == {1: [0], 2: [1], 0: [2]}


def test_tracer_nests_spans():
    tr = Tracer()
    with tr.span("job", job="g02"):
        with tr.span("plans.build"):
            pass
    job, build = tr.spans
    assert build["parent"] == 0 and job["parent"] is None
    assert job["start"] <= build["start"] <= build["end"] <= job["end"]
    assert job["job"] == "g02"
