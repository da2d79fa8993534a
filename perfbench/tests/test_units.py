"""Unit tests of the benchmark's percentile, self-time and status-store
rollup code on hand-built inputs (no Spark)."""

import json
import os
import statistics

import pytest

import run
from benchstats import median, quantile, spread
from sparkstats import rollup
from tracing import Span, Tracer, covered, self_times


def test_quantile_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert quantile(xs, 0.0) == 1.0
    assert quantile(xs, 1.0) == 5.0
    assert median(xs) == 3.0
    assert quantile(xs, 0.9) == pytest.approx(4.6)
    assert median([1.0, 2.0]) == 1.5
    assert quantile([7.0], 0.9) == 7.0


def test_quantile_rejects_empty_and_bad_q():
    with pytest.raises(ValueError):
        quantile([], 0.5)
    with pytest.raises(ValueError):
        quantile([1.0], 1.5)


def test_spread_uses_statistics_quartiles():
    xs = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.2, 10.1, 9.9, 10.4]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert spread(xs) == pytest.approx((q3 - q1) / med)


def test_covered_merges_overlaps():
    assert covered([]) == 0.0
    assert covered([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert covered([(2, 3), (0, 1)]) == pytest.approx(2.0)


def test_self_time_subtracts_children_only_once():
    spans = [
        Span(0, None, 1, "iteration", 0.0, 10.0),
        Span(1, 0, 1, "dataset.rechunk", 1.0, 4.0),
        Span(2, 1, 1, "rechunk_plan.plan_stages", 1.5, 2.0),
        Span(3, 0, 1, "zarr_io.to_zarr", 5.0, 9.0),
        Span(4, 0, 1, "zarr_io.to_zarr", 8.0, 9.5),  # overlaps its sibling
    ]
    st = self_times(spans)
    assert st["iteration"] == pytest.approx(10.0 - 3.0 - 4.5)
    assert st["dataset.rechunk"] == pytest.approx(2.5)
    assert st["rechunk_plan.plan_stages"] == pytest.approx(0.5)
    assert st["zarr_io.to_zarr"] == pytest.approx(4.0 + 1.5)


def test_tracer_records_parents_groups_and_wrapped_calls():
    ticks = iter(range(100))
    tr = Tracer(clock=lambda: float(next(ticks)))

    class Owner:
        @staticmethod
        def plan(n):
            return list(range(n))

    tr.instrument([(Owner, "plan", "plan", lambda a, k, out: {"n": len(out)})])
    Owner.plan(3)  # not recording: no span
    assert tr.spans == []
    tr.recording, tr.trace, tr.group = True, 7, "pb-op0"
    with tr.span("iteration"):
        Owner.plan(4)
    tr.restore()
    assert Owner.plan(2) == [0, 1]
    root, child = tr.spans
    assert (root.parent, child.parent) == (None, root.id)
    assert {root.trace, child.trace} == {7}
    assert child.group == "pb-op0" and child.attrs == {"n": 4}
    assert child.seconds == 1.0


def _stage(sid, status="COMPLETE", attempt=0, run_ms=1000, cpu_ns=400_000_000,
           sw=0, sr=0, spill=0, tasks=4):
    return {"stageId": sid, "attemptId": attempt, "status": status,
            "numCompleteTasks": tasks, "executorRunTime": run_ms,
            "executorCpuTime": cpu_ns, "shuffleWriteBytes": sw,
            "shuffleReadBytes": sr, "diskBytesSpilled": spill}


def test_rollup_sums_one_group_and_skips_skipped_stages():
    jobs = [
        {"jobId": 0, "jobGroup": "a", "stageIds": [0, 1],
         "submissionTime": 100_000, "completionTime": 101_000},
        {"jobId": 1, "jobGroup": "a", "stageIds": [1, 2],
         "submissionTime": 100_500, "completionTime": 102_000},
        {"jobId": 2, "jobGroup": "b", "stageIds": [3],
         "submissionTime": 100_000, "completionTime": 109_000},
    ]
    stages = [
        _stage(0, sw=2_000_000),
        _stage(1, attempt=0, status="FAILED", run_ms=99_000),
        _stage(1, attempt=1, sr=2_000_000, spill=1_000_000, tasks=2),
        _stage(2, status="SKIPPED", run_ms=0, tasks=0),
        _stage(3, run_ms=50_000),
    ]
    r = rollup(jobs, stages, "a", window=(99.5, 103.0))
    assert (r["jobs"], r["stages"], r["tasks"]) == (2, 2, 6)
    assert r["run_s"] == pytest.approx(2.0)
    assert r["cpu_s"] == pytest.approx(0.8)
    assert r["wait_s"] == pytest.approx(1.2)
    assert r["shuffle_write_mb"] == pytest.approx(2.0)
    assert r["shuffle_read_mb"] == pytest.approx(2.0)
    assert r["spill_mb"] == pytest.approx(1.0)
    assert r["map_run_s"] == pytest.approx(1.0)
    assert r["reduce_run_s"] == pytest.approx(1.0)
    # jobs cover 100.0-102.0 of the 3.5 s window
    assert r["driver_gap_s"] == pytest.approx(1.5)


def test_per_pass_sums_medians_over_operation_names():
    rows = [("a", {"x": 1.0}), ("a", {"x": 3.0}), ("a", {"x": 100.0}),
            ("b", {"x": 2.0, "y": 1.0})]
    out = run.per_pass(rows)
    assert out["x"] == pytest.approx(3.0 + 2.0)
    assert out["y"] == pytest.approx(0.0 + 1.0)


def test_benchmark_json_names_the_reported_metrics():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
