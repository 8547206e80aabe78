"""Self-tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import statistics

import pytest

from checks import digest, mismatches
from harness import driver_mem_spec, median, percentile
from tracing import (Span, coverage, covered_seconds, group_stats, phase_metrics,
                     phase_rows, read_event_log)

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "tiny_eventlog.json")


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 5.0
    assert median(xs) == 3.0
    assert percentile(xs, 75) == 4.0
    assert percentile([1.0, 2.0], 75) == pytest.approx(1.75)
    # statistics.quantiles(method="inclusive") uses the same interpolation
    ys = [0.3, 1.7, 2.2, 9.1, 4.4, 5.0, 0.9]
    q1, q2, q3 = statistics.quantiles(ys, n=4, method="inclusive")
    assert (percentile(ys, 25), percentile(ys, 50), percentile(ys, 75)) == pytest.approx((q1, q2, q3))
    with pytest.raises(ValueError):
        percentile([], 50)


def test_digest_is_order_independent_and_content_sensitive():
    rows = [("AAA_s0_0", "a" * 32), ("AAA_s0_1", "b" * 32), ("BBB_t1_0", "c" * 32)]
    assert digest(rows) == digest(list(reversed(rows)))
    assert digest(rows) != digest(rows[:2])
    assert digest(rows) != digest([("AAA_s0_0", "b" * 32), ("AAA_s0_1", "a" * 32), rows[2]])
    assert digest([]) == "0" * 32


def test_mismatches_counts_wrong_missing_extra_and_duplicate_rows():
    expected = {"d1": "b1", "d2": "b2"}
    assert mismatches(expected, [("d1", "b1"), ("d2", "b2")]) == 0
    assert mismatches(expected, [("d1", "b1")]) == 1                             # missing
    assert mismatches(expected, [("d1", "b1"), ("d2", "b9")]) == 1               # wrong block
    assert mismatches(expected, [("d1", "b1"), ("d2", "b2"), ("d3", "b3")]) == 1  # extra
    assert mismatches(expected, [("d1", "b1"), ("d1", "b1"), ("d2", "b2")]) == 1  # twice


def test_driver_mem_spec_from_meminfo(tmp_path):
    p = tmp_path / "meminfo"
    p.write_text("MemTotal:       16000000 kB\nMemFree:         1000 kB\n")
    assert driver_mem_spec(str(p)) == "2048m"
    p.write_text("MemTotal:       5000000 kB\n")
    assert driver_mem_spec(str(p)) == f"{int(5000000 / 1024 * 0.3)}m"
    p.write_text("MemTotal:       1000 kB\n")
    assert driver_mem_spec(str(p)) == "1024m"


def test_covered_seconds_unions_and_clips():
    assert covered_seconds([], 0, 10) == 0
    assert covered_seconds([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered_seconds([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered_seconds([(11, 12)], 0, 10) == 0


def test_event_log_phase_rows_from_captured_log():
    """The fixture is a trimmed event log of one traced ingest op: an
    assignment call and the append of its output, each its own job group."""
    events = read_event_log(FIXTURE)
    with open(FIXTURE.replace(".json", "_spans.json")) as f:
        spans = [Span(**s) for s in json.load(f)]
    groups = group_stats(events)
    rows = phase_rows(spans, groups)
    by_phase = {r["phase"]: r for r in rows}
    assert set(by_phase) == {"spatial_join.assign", "manifest.append"}
    for r in rows:
        g = groups[r["tag"]]
        assert r["jobs"] == len(g["jobs"]) > 0
        assert r["tasks"] == g["tasks"] > 0
        assert 0 <= r["driver_gap_s"] <= r["wall_s"]
        assert 0 <= r["plan_s"] <= r["wall_s"]
        assert r["failed_tasks"] == 0
        assert r["executor_run_s"] > 0 and r["jvm_cpu_s"] > 0
    # the assignment runs the PIP kernel in Python after a cell equi-join
    assign = by_phase["spatial_join.assign"]
    assert assign["python_run_s"] > 0
    assert assign["join_rows"] > 0
    assert assign["shuffle_write_mb"] > 0
    # job time plus driver gaps is the phase wall time, and the phases fill the op
    assert 0.95 <= coverage(spans, rows) <= 1.05
    metrics = phase_metrics(rows)
    assert metrics["spatial_join.assign.jobs"] == assign["jobs"]
    assert metrics["blocker.pre.wall_s"] == 0.0  # not run by this workload
