"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json

import pytest

from perfbench import stats, trace


# ---------------------------------------------------------------- percentiles


@pytest.mark.parametrize(
    "n, pct",
    [
        (1, 50.0),
        (19, 50.0),
        (20, 50.0),  # p75 would leave 5 beyond it
        (39, 50.0),
        (40, 75.0),
        (99, 75.0),
        (100, 90.0),
        (199, 90.0),
        (200, 95.0),
        (999, 95.0),
        (1000, 99.0),
        (10_000, 99.9),
    ],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct


def test_summarize_names_its_tail():
    s = stats.summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100
    assert s["tail_pct"] == "p90"
    assert s["p50"] == pytest.approx(50.5)
    assert s["tail"] == pytest.approx(90.1)
    assert stats.summarize([3.0])["tail_pct"] == "p50"
    assert stats.pct_name(99.9) == "p99_9"


def test_percentile_interpolates_between_ranks():
    assert stats.percentile([4.0, 1.0, 3.0, 2.0], 50) == pytest.approx(2.5)
    assert stats.percentile([1.0, 2.0], 0) == 1.0
    assert stats.percentile([1.0, 2.0], 100) == 2.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


# ---------------------------------------------------------------- open loop


def test_open_loop_freshness_on_a_synthetic_schedule():
    # 10 events/s from t0=100 starting at offset 50: offset o is due at
    # 100 + (o - 50) / 10. Two triggers finish at 101.0 and 102.0.
    got = stats.open_loop_freshness(
        [(50, 55, 101.0), (55, 60, 102.0)], t0=100.0, rate=10.0, o0=50
    )
    want = [1.0, 0.9, 0.8, 0.7, 0.6, 1.5, 1.4, 1.3, 1.2, 1.1]
    assert got == pytest.approx(want)
    assert stats.open_loop_freshness([], 0.0, 1.0, 0) == []


# ---------------------------------------------------------------- spans


def test_self_time_subtracts_direct_children_only():
    spans = [
        trace.Span("pipeline.run", 0.0, 10.0),
        trace.Span("pipeline.apply_batch", 2.0, 5.0, parent=0),
        trace.Span("merge.merge_into", 3.0, 4.0, parent=1),
        trace.Span("checkpoints.commit", 6.0, 7.0, parent=0),
    ]
    own = [trace.length(iv) for iv in trace.self_intervals(spans)]
    assert own == pytest.approx([6.0, 2.0, 1.0, 1.0])


def test_tracer_nests_spans_through_one_stack():
    t = trace.Tracer()
    with t.span("a"):
        with t.span("b"):
            with t.span("c"):
                pass
        with t.span("d"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [
        ("a", None), ("b", 0), ("c", 1), ("d", 0)
    ]
    assert all(s.end >= s.start for s in t.spans)


def test_install_wraps_public_callables_and_restores_them():
    pipeline = pytest.importorskip("omniparser_spark.cdc.pipeline")
    from omniparser_spark.lake import merge

    run, merge_into = pipeline.CdcPipeline.run, merge.merge_into
    t = trace.Tracer()
    with t.install():
        assert pipeline.CdcPipeline.run is not run
        # the name imported into the pipeline module is wrapped too
        assert pipeline.merge_into is not merge_into
        assert pipeline.merge_into.__wrapped__ is merge_into
    assert pipeline.CdcPipeline.run is run
    assert pipeline.merge_into is merge_into
    assert merge.merge_into is merge_into


# ---------------------------------------------------------------- event log


def _ev(kind, **fields):
    return json.dumps({"Event": kind, **fields})


def _task(stage, launch_ms, finish_ms, shuffle=0, output=0):
    return _ev(
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms},
            "Task Metrics": {
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Output Metrics": {"Bytes Written": output},
            },
        },
    )


CANNED_LOG = [
    # job 0: tagged merge.merge_into, runs 1.0-2.0 s, stages 0 and 1
    _ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000,
        "Stage IDs": [0, 1], "Properties": {trace.SPAN_PROPERTY: "merge.merge_into"}}),
    _task(0, 1000, 1500, shuffle=100),
    _task(1, 1500, 2000, output=40),
    _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 2000}),
    # job 1: lists stage 1 again (skipped) and runs stage 2, untagged
    # but inside the traced window -> unattributed
    _ev("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 2500,
        "Stage IDs": [1, 2], "Properties": {}}),
    _task(2, 2500, 2750),
    _ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 2750}),
    # job 2: untagged, outside the window (set-up) -> ignored
    _ev("SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 9000,
        "Stage IDs": [3]}),
    _task(3, 9000, 9900, output=7),
    _ev("SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 9900}),
    "",
]


def test_event_log_attributes_jobs_and_tasks_to_spans():
    log = trace.parse_event_log(CANNED_LOG)
    assert log.stage_job == {0: 0, 1: 0, 2: 1, 3: 2}
    spans = [
        trace.Span("pipeline.apply_batch", 0.5, 3.0),
        trace.Span("merge.merge_into", 0.8, 2.2, parent=0),
    ]
    m = trace.layer_metrics(spans, log, [(0.5, 3.0)])
    assert m["merge.merge_into.jobs"] == 1
    assert m["merge.merge_into.tasks"] == 2
    assert m["merge.merge_into.task_s"] == pytest.approx(1.0)
    assert m["merge.merge_into.shuffle_bytes"] == 100
    assert m["merge.merge_into.output_bytes"] == 40
    assert m["merge.merge_into.self_s"] == pytest.approx(1.4)
    # its own job covers 1.0-2.0 of its 0.8-2.2 self time
    assert m["merge.merge_into.driver_s"] == pytest.approx(0.4)
    # apply_batch: 2.5 s minus the 1.4 s child; it launched no job
    assert m["pipeline.apply_batch.self_s"] == pytest.approx(1.1)
    assert m["pipeline.apply_batch.driver_s"] == pytest.approx(1.1)
    assert m["pipeline.apply_batch.calls"] == 1
    assert m["trace.unattributed_task_s"] == pytest.approx(0.25)
    assert m["trace.attributed_frac"] == pytest.approx(1.0 / 1.25)
    assert m["table.commit.calls"] == 0
    # set-up job 2 counts toward output bytes only when its window is asked for
    assert trace.output_bytes(log, trace.jobs_in_window(log, [(8.0, 10.0)])) == 7
    assert trace.output_bytes(log, trace.jobs_in_window(log, [(0.5, 3.0)])) == 40


def test_subtract_intervals():
    assert trace.subtract([(0, 10)], [(2, 3), (2.5, 4), (9, 12)]) == [(0, 2), (4, 9)]
    assert trace.subtract([(0, 1)], []) == [(0, 1)]
    assert trace.subtract([(0, 1)], [(0, 1)]) == []
