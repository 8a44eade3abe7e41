"""Span arithmetic and the event-log / streaming reducers."""

import os

import pytest

from perfbench import tracing

DATA = os.path.join(os.path.dirname(__file__), "data")
OPS = [{"id": "op0", "start": 1000.0, "end": 1001.0},
       {"id": "op1", "start": 1002.0, "end": 1003.0}]


def test_union_length_merges_overlaps():
    assert tracing.union_length([]) == 0.0
    assert tracing.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert tracing.union_length([(5, 6), (0, 10)]) == pytest.approx(10.0)


def test_self_time_subtracts_covered_child_time():
    spans = [
        {"op": "op0", "name": "op", "start": 0.0, "end": 10.0, "parent": None},
        {"op": "op0", "name": "a", "start": 1.0, "end": 4.0, "parent": 0},
        {"op": "op0", "name": "b", "start": 3.0, "end": 6.0, "parent": 0},
        {"op": "op0", "name": "c", "start": 3.5, "end": 4.5, "parent": 2},
    ]
    # op: 10 - |[1, 6]| = 5; a: no children; b: 3 - 1 = 2; c: leaf
    assert tracing.self_times(spans) == pytest.approx([5.0, 3.0, 2.0, 1.0])


def test_tracer_records_parents_and_op_ids():
    tr = tracing.Tracer(True)
    tr.op = "op7"
    with tr.span("op"):
        with tr.span("operators.plan"):
            pass
    assert [(s["name"], s["parent"], s["op"]) for s in tr.spans] == [
        ("op", None, "op7"), ("operators.plan", 0, "op7")]
    assert all(s["end"] >= s["start"] for s in tr.spans)
    off = tracing.Tracer(False)
    with off.span("op"):
        pass
    assert off.spans == []


def test_reducer_on_canned_event_log():
    log = tracing.read_event_log(os.path.join(DATA, "eventlog_small.jsonl"))
    assert sorted(log["jobs"]) == [0, 1, 2]
    rows = tracing.reduce_ops(OPS, log)
    op0, op1 = rows["op0"], rows["op1"]
    # op0: its own job group; stage 1 was skipped (never completed)
    assert (op0["spark.jobs"], op0["spark.stages"], op0["spark.tasks"]) == (1, 1, 2)
    assert op0["spark.executor_run_s"] == pytest.approx(0.38)
    assert op0["spark.executor_cpu_s"] == pytest.approx(0.33)
    assert op0["spark.gc_s"] == pytest.approx(0.02)
    assert op0["spark.shuffle_write_bytes"] == 4000
    assert op0["spark.spill_bytes"] == 3072
    assert op0["spark.task_skew"] == pytest.approx(1.5)  # 0.3 s over median 0.2 s
    assert op0["driver.outside_jobs_s"] == pytest.approx(0.6)  # 1 s minus job 0.1..0.5
    # op1: a stream-thread job, attributed by its submission time
    assert (op1["spark.jobs"], op1["spark.tasks"]) == (1, 1)
    assert op1["spark.shuffle_read_bytes"] == 1500
    assert op1["spark.task_skew"] == pytest.approx(1.0)
    assert op1["driver.outside_jobs_s"] == pytest.approx(0.8)


def test_streaming_progress_attributed_by_trigger_time():
    progress = [
        {"ts": 1002.5, "durationMs": {"queryPlanning": 40, "addBatch": 300, "walCommit": 7},
         "state_rows": 25, "state_commit_ms": 3},
        {"ts": 1002.9, "durationMs": {"addBatch": 100}, "state_rows": 5, "state_commit_ms": 1},
        {"ts": 1004.0, "durationMs": {"addBatch": 999}, "state_rows": 1, "state_commit_ms": 1},
    ]
    rows = tracing.reduce_streaming(OPS, progress)
    assert rows["op0"]["streaming.batches"] == 0
    op1 = rows["op1"]
    assert op1["streaming.batches"] == 2
    assert op1["streaming.addBatch_ms"] == 400
    assert op1["streaming.queryPlanning_ms"] == 40
    assert op1["streaming.walCommit_ms"] == 7
    assert (op1["streaming.state_rows"], op1["streaming.state_commit_ms"]) == (30, 4)


def test_dir_counters(tmp_path):
    (tmp_path / "t" / "week_start=2016-01-03").mkdir(parents=True)
    (tmp_path / "t" / "week_start=2016-01-03" / "part-0.parquet").write_bytes(b"x" * 10)
    (tmp_path / "t" / ".part-0.parquet.crc").write_bytes(b"x")
    (tmp_path / "t" / "_SUCCESS").write_bytes(b"")
    assert list(tracing.data_files(str(tmp_path)).values()) == [10]
    (tmp_path / "a1").mkdir()
    (tmp_path / "a1" / tracing.ARTIFACT_MARKER).write_text("k")
    (tmp_path / "a2").mkdir()
    assert tracing.count_markers(str(tmp_path)) == 1
