"""Event-log folding on a canned snippet, and span bookkeeping."""

import json

import pytest

from perfbench.trace import Span, Tracer, fold, read_jobs, union_length


def _task(stage, run_ms, cpu_ns, gc_ms, sw, rr, lr, spill, inp):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": rr,
                                     "Local Bytes Read": lr},
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": 64, "Records Read": inp},
        },
    }


#: two jobs 1 s apart; job 1 reuses job 0's shuffle stage 0 (skipped)
EVENTS = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 999_000},
    {"Event": "SparkListenerJobStart", "Job ID": 0,
     "Submission Time": 1_000_000, "Stage IDs": [0, 1]},
    _task(0, 100, 50_000_000, 5, 1000, 0, 0, 0, 4096),
    _task(0, 120, 60_000_000, 0, 1100, 0, 0, 0, 4096),
    _task(1, 30, 10_000_000, 0, 0, 0, 2100, 0, 0),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_000_400},
    {"Event": "SparkListenerJobStart", "Job ID": 1,
     "Submission Time": 1_001_000, "Stage IDs": [0, 2]},
    _task(2, 40, 20_000_000, 1, 0, 0, 2100, 512, 0),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_001_200},
    # a job still running when the log ends is dropped
    {"Event": "SparkListenerJobStart", "Job ID": 2,
     "Submission Time": 1_002_000, "Stage IDs": [3]},
]


def _jobs():
    return read_jobs(json.dumps(e) + "\n" for e in EVENTS)


def test_read_jobs_folds_task_metrics_per_job():
    j0, j1 = _jobs()
    assert (j0.job_id, j0.start, j0.end, j0.tasks) == (0, 1000.0, 1000.4, 3)
    assert j0.metrics["run_s"] == pytest.approx(0.25)
    assert j0.metrics["cpu_s"] == pytest.approx(0.12)
    assert j0.metrics["gc_s"] == pytest.approx(0.005)
    assert j0.metrics["shuffle_write_bytes"] == 2100
    assert j0.metrics["shuffle_read_bytes"] == 2100
    assert j0.metrics["input_records"] == 8192
    assert (j1.tasks, j1.metrics["spill_bytes"]) == (1, 512)


def test_fold_splits_span_into_job_and_driver_time():
    span = Span("pass", 999.9, 1001.5)
    m = fold(span, _jobs())
    assert (m["exec.jobs"], m["exec.stages"], m["exec.tasks"]) == (2, 3, 4)
    assert m["exec.job_s"] == pytest.approx(0.6)
    assert m["driver_only_s"] == pytest.approx(1.0)
    assert m["exec.job_s"] + m["driver_only_s"] == pytest.approx(span.wall)


def test_fold_takes_only_jobs_submitted_inside_the_span():
    m = fold(Span("late", 1000.5, 1002.5), _jobs())
    assert m["exec.jobs"] == 1 and m["exec.tasks"] == 1


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_tracer_nests_spans_and_restores_patches():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    t = Tracer()
    t.wrap(mod, "f", "layer.f")
    with t.span("pass"):
        with t.span("job"):
            assert mod.f(1) == 2
        assert mod.f(2) == 3
    t.restore()
    assert mod.f(3) == 4 and len(t.spans) == 4
    assert t.totals(0)["layer.f"][0] == 2
    assert [s.name for s in t.within(1)] == ["layer.f"]


def test_disabled_tracer_records_nothing():
    t = Tracer()
    t.enabled = False
    with t.span("pass") as s:
        assert s is None
    assert t.spans == []


def test_layers_take_untimed_spans_out_of_the_pass():
    from perfbench.bench import _layers

    t = Tracer()
    # job 1 runs inside the untimed check; only job 0 is the pass's own
    t.spans = [Span("pass", 999.9, 1001.5),
               Span("untimed", 1000.9, 1001.3, parent=0)]
    m = _layers(t, [(False, 1.0, None), (True, 1.2, 0)], _jobs())
    assert (m["exec.jobs"], m["exec.tasks"]) == (1, 3)
    assert m["pass_span_s"] == pytest.approx(1.2)
    assert m["exec.job_s"] == pytest.approx(0.4)
    assert m["exec.job_s"] + m["driver_only_s"] == pytest.approx(m["pass_span_s"])
    assert m["trace.overhead_s"] == pytest.approx(0.2)


def test_mrbg_layers_read_storage_growth_per_delta():
    from perfbench.bench import MB, _mrbg_layers

    attrs = {"affected_keys": 5, "affected_edges": 100, "edges_rows": 900}
    deltas = [
        Span("mrbg.apply_delta", 999.9, 1000.5, attrs=dict(
            attrs, size_class="small", held_before=10 * MB,
            stored_after=16 * MB, held_after=13 * MB)),
        Span("mrbg.apply_delta", 1000.9, 1001.5, attrs=dict(
            attrs, size_class="large", held_before=13 * MB,
            stored_after=19 * MB, held_after=13 * MB)),
    ]
    m = _mrbg_layers(deltas, _jobs())
    assert (m["mrbg.small.pinned_mb"], m["mrbg.small.kept_mb"]) == (6, 3)
    assert (m["mrbg.large.pinned_mb"], m["mrbg.large.kept_mb"]) == (6, 0)
    assert m["mrbg.pinned_mb_per_delta"] == pytest.approx(6)
    assert m["mrbg.kept_mb_per_delta"] == pytest.approx(1.5)
    assert m["mrbg.shuffle_bytes_per_delta"] == pytest.approx(1050)
    assert m["mrbg.bytes_per_affected_edge"] == pytest.approx(10.5)
