"""Tests of the benchmark's pure metric code; no Spark session needed.

    python3 -m pytest gridbench/test_metrics.py -q
"""

from __future__ import annotations

import json

import pytest

from metrics import (
    Job,
    Span,
    attribute_jobs,
    covered_within,
    driver_time,
    end_to_end,
    layer_table,
    outside_batch,
    percentile,
    self_time,
    state_update_batches,
    supported_percentiles,
    trigger_ms,
    union_length,
)
from tracing import read_event_log


def test_percentile_interpolates_between_ranks():
    assert percentile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert percentile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.5
    assert percentile([10.0, 20.0], 0.9) == pytest.approx(19.0)
    assert percentile([7.0], 0.9) == 7.0
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_tail_needs_ten_samples_beyond_it():
    assert set(supported_percentiles([1.0] * 99)) == {"p50"}
    tail = supported_percentiles([float(i) for i in range(100)])
    assert set(tail) == {"p50", "p90"}
    assert tail["p90"] == pytest.approx(89.1)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10.0
    assert union_length([(1, 1), (5, 4)]) == 0.0
    assert covered_within(1, 4, [(0, 2), (3, 9)]) == 2.0


def test_self_time_subtracts_the_union_of_children():
    parent = Span(1, "refresh", 0.0, 10.0)
    kids = [Span(2, "a", 1.0, 4.0, parent=1), Span(3, "b", 3.0, 6.0, parent=1),
            Span(4, "grandchild", 1.0, 9.0, parent=2)]
    assert self_time(parent, [parent, *kids]) == pytest.approx(5.0)
    assert self_time(kids[0], [parent, *kids]) == pytest.approx(0.0)


def test_driver_time_is_span_minus_job_intervals_clipped_to_it():
    s = Span(1, "tick", 10.0, 20.0)
    jobs = [Job(1, 8.0, 12.0), Job(2, 11.0, 13.0), Job(3, 18.0, 25.0)]
    # covered: [10, 13] and [18, 20] -> 5 s of 10
    assert driver_time(s, jobs) == pytest.approx(5.0)
    assert driver_time(s, []) == pytest.approx(10.0)


def _spans():
    op = Span(1, "refresh", 0.0, 10.0, op=1)
    tile = Span(2, "history", 2.0, 5.0, parent=1, op=1,
                layer="operators.history")
    ingest = Span(3, "dedup_ingest", 20.0, 30.0, op=2,
                  layer="operators.dedup_index")
    return [op, tile, ingest]


def test_attribution_by_job_group():
    spans = _spans()
    att = attribute_jobs([Job(1, 3.0, 4.0, group=spans[1].group),
                          Job(2, 3.0, 4.0, group=spans[0].group)], spans, {})
    assert [j.job_id for j in att.by_span[2]] == [1]
    assert [j.job_id for j in att.by_span[1]] == [2]
    assert att.unattributed == []


def test_attribution_of_streaming_jobs_by_run_id():
    spans = _spans()
    # the micro-batch job runs after the query started inside span 3; its
    # group is the query's runId, not a span's
    att = attribute_jobs([Job(7, 29.0, 29.5, group="run-a")], spans,
                         {"run-a": 21.0})
    assert [j.job_id for j in att.by_span[3]] == [7]


def test_attribution_of_thread_submitted_jobs_to_innermost_open_span():
    spans = _spans()
    att = attribute_jobs([Job(1, 3.0, 3.5), Job(2, 7.0, 7.5)], spans, {})
    assert [j.job_id for j in att.by_span[2]] == [1]   # inside the tile
    assert [j.job_id for j in att.by_span[1]] == [2]   # after it closed


def test_jobs_that_cannot_be_attributed_are_counted():
    spans = _spans()
    att = attribute_jobs([Job(1, 15.0, 16.0), Job(2, 3.0, 4.0, group="x")],
                         spans, {})
    assert sorted(j.job_id for j in att.unattributed) == [1, 2]
    assert att.by_span == {}


def test_outside_batch_is_wall_minus_trigger_execution():
    assert outside_batch(2.5, [1000.0, 700.0]) == pytest.approx(800.0)
    assert outside_batch(1.0, []) == pytest.approx(1000.0)


def test_layer_table_sums_spans_and_zeroes_absent_layers():
    spans = _spans()
    jobs = [Job(1, 2.5, 3.5, group=spans[1].group, tasks=4, exec_cpu_ms=30.0,
                gc_ms=2.0, shuffle_bytes=100, spill_bytes=0)]
    t = layer_table(spans, attribute_jobs(jobs, spans, {}),
                    ("operators.history", "operators.dashboard"))
    assert t["operators.history.calls"] == 1
    assert t["operators.history.wall_ms"] == pytest.approx(3000.0)
    assert t["operators.history.driver_ms"] == pytest.approx(2000.0)
    assert t["operators.history.tasks"] == 4
    assert t["operators.history.shuffle_bytes"] == 100
    assert t["operators.dashboard.calls"] == 0
    assert "operators.dedup_index.calls" not in t


def test_event_log_reader(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "gridbench-4"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 5_000_000, "JVM GC Time": 3,
            "Disk Bytes Spilled": 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 1_000_000, "JVM GC Time": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 3000, "Stage IDs": [2], "Properties": {}},
    ]
    log = tmp_path / "eventlog_v2_local-1"
    log.mkdir()
    (log / "events_1_local-1").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    j0, j1 = read_event_log(tmp_path)
    assert (j0.submit, j0.end, j0.group) == (1.0, 2.5, "gridbench-4")
    assert (j0.tasks, j0.exec_cpu_ms, j0.gc_ms) == (2, 6.0, 3)
    assert (j0.shuffle_bytes, j0.spill_bytes) == (64, 10)
    assert j1.group is None and j1.tasks == 0


def _result(samples, values):
    return {"setup_s": 30.0, "peak_rss_mb": 900.0, "values": values,
            "samples": samples,
            "slots": {"batch_ms": "drain_batch_ms", "ingest_ms": "tick_ms",
                      "query_ms": "refresh_ms"}}


def test_end_to_end_maps_slots_to_the_workloads_operations():
    out = end_to_end(_result(
        {"drain": [9000.0], "drain_batch_ms": [900.0, 1000.0, 950.0],
         "tick_ms": [2000.0, 2200.0, 2100.0], "refresh_ms": [3000.0]},
        {"rows_per_s": 26000.0}))
    assert set(out) == {"setup_s", "rows_per_s", "batch_ms.p50",
                        "ingest_ms.p50", "query_ms.p50"}
    assert out["batch_ms.p50"]["value"] == 950.0
    assert out["batch_ms.p50"]["n"] == 3
    assert out["ingest_ms.p50"]["source"] == "tick_ms"
    assert out["rows_per_s"]["unit"] == "rows/s"


def test_end_to_end_reports_failed_operations_as_missing_not_crashing():
    # the drain raised: no drain samples, no throughput; every tick failed
    out = end_to_end(_result({"refresh_ms": [3000.0, 3100.0]}, {}))
    assert out["rows_per_s"] == {"value": None, "unit": "rows/s", "n": 0}
    assert out["batch_ms.p50"]["value"] is None
    assert out["ingest_ms.p50"]["n"] == 0
    assert out["query_ms.p50"]["value"] == 3050.0
    assert out["setup_s"]["value"] == 30.0


def test_drain_samples_leave_out_state_creation_and_the_sentinel():
    def batch(bid, rows, ms):
        return {"batchId": bid, "numInputRows": rows,
                "durationMs": {"triggerExecution": ms}}
    events = [batch(3, 39600, 950), batch(0, 39600, 1400),
              batch(1, 39600, 1000), batch(5, 0, 300),
              batch(4, 1, 200), batch(2, 39600, 980)]
    assert trigger_ms(state_update_batches(events)) == [1000.0, 980.0,
                                                        950.0]
