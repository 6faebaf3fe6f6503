"""Unit tests for the benchmark's metric helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json

import pytest

from perfbench.metrics import OpCounter, nearest_rank, slot_idle_frac, tail_percentile
from perfbench.trace import Span, parse_event_log, spark_stats_by_span, sum_stats


def test_tail_percentile_picks_highest_with_ten_beyond():
    # 1000 samples: p99 leaves exactly 10 beyond it, p99.9 only 1
    t = tail_percentile([float(i) for i in range(1, 1001)])
    assert (t.pct, t.value, t.n) == (99.0, 990.0, 1000)
    # 200 samples: p95 leaves 10 beyond, p99 only 2
    t = tail_percentile([float(i) for i in range(1, 201)])
    assert (t.pct, t.value, t.n) == (95.0, 190.0, 200)
    # 20 samples: only the median leaves ten beyond
    t = tail_percentile([float(i) for i in range(1, 21)])
    assert (t.pct, t.value, t.n) == (50.0, 10.0, 20)


def test_tail_percentile_small_sample_reports_max():
    t = tail_percentile([3.0, 1.0, 2.0])
    assert (t.pct, t.value, t.n) == (100.0, 3.0, 3)
    with pytest.raises(ValueError):
        tail_percentile([])


def test_nearest_rank_is_order_free():
    assert nearest_rank([5.0, 1.0, 4.0, 2.0, 3.0], 50) == 3.0
    assert nearest_rank([5.0, 1.0, 4.0, 2.0, 3.0], 100) == 5.0
    assert nearest_rank([5.0, 1.0, 4.0, 2.0, 3.0], 1) == 1.0


def test_slot_idle_frac_bounds():
    assert slot_idle_frac(task_s=4.0, wall_s=4.0, slots=2) == pytest.approx(0.5)
    assert slot_idle_frac(task_s=9.0, wall_s=4.0, slots=2) == 0.0  # clamped
    assert slot_idle_frac(task_s=0.0, wall_s=0.0, slots=2) == 0.0  # idle layer


def _job(job_id, group, submit_ms, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return json.dumps({"Event": "SparkListenerJobStart", "Job ID": job_id,
                       "Submission Time": submit_ms, "Stage IDs": stages,
                       "Properties": props})


def _task(stage, launch, finish, shuffle_write=0, shuffle_read=0, spill=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_read},
            "Disk Bytes Spilled": spill, "Memory Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": 100}, "Output Metrics": {"Bytes Written": 0},
        },
    })


def test_slot_idle_frac_from_event_log_fragment():
    # span 0 ("build") ran 10 s of wall; its job has a map stage (0) and a
    # reduce stage (1). A second application (a new SparkContext) reuses
    # job id 0 and stage id 0; its job (streaming: engine-set group) falls
    # in span 1 by submission time.
    spans = [
        Span(sid=0, parent=None, layer="index.build", name="build", spark=True,
             t0=0.0, t1=10.0, w0=1000.0, w1=1010.0),
        Span(sid=1, parent=None, layer="streaming.incremental", name="append",
             spark=True, t0=20.0, t1=24.0, w0=1020.0, w1=1024.0),
    ]
    lines = [
        '{"Event":"SparkListenerApplicationStart"}',
        _job(0, "perfbench-0", 1_000_100, [0, 1]),
        _task(0, 1_000_200, 1_004_200, shuffle_write=500),   # 4 s map
        _task(0, 1_000_200, 1_003_200, shuffle_write=300),   # 3 s map
        _task(1, 1_004_300, 1_009_300, shuffle_read=800, spill=64),  # 5 s reduce
        '{"Event":"SparkListenerApplicationStart"}',
        _job(0, "6a1f-stream-run-id", 1_021_000, [0]),
        _task(0, 1_021_100, 1_022_100),  # 1 s
    ]
    stats = spark_stats_by_span(parse_event_log(lines), spans)
    b = stats[0]
    assert (b.jobs, b.map_task_s, b.reduce_task_s) == (1, 7.0, 5.0)
    assert (b.shuffle_write_bytes, b.spill_bytes) == (800, 64)
    # 12 busy slot-seconds of 20 available
    assert slot_idle_frac(b.task_s, spans[0].dur, 2) == pytest.approx(0.4)
    s = stats[1]
    assert (s.jobs, s.task_s) == (1, 1.0)
    assert slot_idle_frac(s.task_s, spans[1].dur, 2) == pytest.approx(0.875)
    assert sum_stats(stats.values()).task_s == pytest.approx(13.0)


def test_op_counter_counts_exceptions_and_mismatches():
    logged = []
    ops = OpCounter(log=logged.append)
    assert ops.run("ok", lambda: 7) == 7
    assert ops.run("boom", lambda: 1 / 0) is None
    assert ops.check("equal", [1, 2] == [1, 2])
    assert not ops.check("wrong result", [(1, 0.5)] == [(1, 0.25)], "detail")
    assert (ops.attempted, ops.failed) == (4, 2)
    assert any("ZeroDivisionError" in m for m in logged)
    assert any(m.startswith("check wrong result failed") for m in logged)
