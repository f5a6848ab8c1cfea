import json

import pytest

from xspbench.eventlog import PY_RETURNED, PY_SENT, event_files, reduce_dir, reduce_events, union_s


def _task(stage, run_ms, cpu_ns, gc_ms=0, shuffle=0, mem_spill=0, disk_spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Memory Bytes Spilled": mem_spill,
            "Disk Bytes Spilled": disk_spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def _job(jid, group, start_ms, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": start_ms, "Stage IDs": stages, "Properties": props}


def _stage_done(sid, accs=()):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": sid,
        "Accumulables": [{"Name": n, "Value": str(v)} for n, v in accs]}}


CANNED = [
    {"Event": "SparkListenerLogStart"},
    _job(0, "a", 1_000, [0, 1]),
    _task(0, 200, 150_000_000, gc_ms=10, shuffle=500),
    _task(0, 300, 250_000_000, shuffle=700),
    _stage_done(0, [(PY_SENT, 1000), (PY_RETURNED, 400), ("other", 7)]),
    _task(1, 100, 50_000_000, mem_spill=64, disk_spill=32),
    _stage_done(1),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2_000},
    # stage 2 is listed by job 1 but skipped: no task, no completion
    _job(1, "a", 2_500, [1, 2, 3]),
    _task(3, 50, 10_000_000),
    _stage_done(3),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3_000},
    _job(2, "b", 3_000, [4]),
    _task(4, 40, 30_000_000),
    _stage_done(4, [(PY_SENT, 5)]),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 3_500},
    # jobs outside any group (e.g. the streaming engine's) are ignored
    _job(3, None, 4_000, [5]),
    _task(5, 999, 999),
    {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 4_100},
]


def test_reduce_canned_log():
    groups = reduce_events(json.dumps(e) for e in CANNED)
    assert set(groups) == {"a", "b"}
    a = groups["a"]
    assert a.run_s == pytest.approx(0.65)
    assert a.cpu_s == pytest.approx(0.46)
    assert a.gc_s == pytest.approx(0.01)
    assert a.shuffle_bytes == 1200
    assert a.spill_bytes == 96
    assert a.python_bytes == 1400
    assert a.job_spans == [(1.0, 2.0), (2.5, 3.0)]
    b = groups["b"]
    assert (b.cpu_s, b.python_bytes, b.job_spans) == (pytest.approx(0.03), 5, [(3.0, 3.5)])
    assert union_s(a.job_spans) == pytest.approx(1.5)


def test_reduce_dir_reads_the_rolling_layout(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "appstatus_local-1").write_text("")
    lines = [json.dumps(e) + "\n" for e in CANNED]
    (app / "events_1_local-1").write_text("".join(lines[:8]))
    (app / "events_2_local-1").write_text("".join(lines[8:]))
    groups, size = reduce_dir(str(tmp_path))
    assert len(groups["a"].job_spans) == 2 and groups["b"].python_bytes == 5
    assert size == sum(len(x) for x in lines)
    assert [p.rsplit("/", 1)[1] for p in event_files(str(tmp_path))] == [
        "events_1_local-1", "events_2_local-1"]


def test_event_files_orders_rolled_files_numerically(tmp_path):
    app = tmp_path / "eventlog_v2_x"
    app.mkdir()
    for i in (1, 2, 10):
        (app / f"events_{i}_x").write_text("")
    assert [p.rsplit("_", 2)[1] for p in event_files(str(tmp_path))] == ["1", "2", "10"]


def test_event_files_requires_a_log(tmp_path):
    with pytest.raises(FileNotFoundError):
        event_files(str(tmp_path))


@pytest.mark.parametrize("spans,lo,hi,want", [
    ([], float("-inf"), float("inf"), 0.0),
    ([(0, 1), (2, 3)], float("-inf"), float("inf"), 2.0),
    ([(0, 2), (1, 3)], float("-inf"), float("inf"), 3.0),
    ([(0, 5), (1, 2)], float("-inf"), float("inf"), 5.0),
    ([(0, 2), (1, 3)], 0.5, 2.5, 2.0),
    ([(0, 1)], 2, 3, 0.0),
])
def test_union_s(spans, lo, hi, want):
    assert union_s(spans, lo, hi) == pytest.approx(want)
