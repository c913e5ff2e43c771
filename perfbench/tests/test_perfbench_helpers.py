"""The benchmark's own helpers, without Spark: the event-log reducer, the
median helper, span self times, failure counting and the oracle check."""

from __future__ import annotations

import json
import os
import types

import pytest

import fixture
import layers
import telemetry
from telemetry import Tracer, median_and_count, reduce_event_log, union_seconds


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def _task(stage, run_ms, cpu_ns, gc_ms, wbytes=0, wrec=0, rbytes=0, spill=0):
    return _ev(
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms,
                "Disk Bytes Spilled": spill,
                "Shuffle Write Metrics": {
                    "Shuffle Bytes Written": wbytes,
                    "Shuffle Records Written": wrec,
                },
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": rbytes},
            },
        },
    )


CANNED_LOG = [
    _ev("SparkListenerApplicationStart", Timestamp=0),
    _ev(
        "SparkListenerJobStart",
        **{
            "Job ID": 0,
            "Submission Time": 10_000,
            "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "u1"},
        },
    ),
    _task(0, 100, 50_000_000, 5, wbytes=2 * 1024 * 1024, wrec=10),
    _task(0, 300, 150_000_000, 15, wbytes=1024 * 1024, wrec=5),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
    _task(1, 200, 100_000_000, 0, rbytes=3 * 1024 * 1024, spill=1024 * 1024),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1}}),
    _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 11_500}),
    # a streaming micro-batch: its group is the query's run id
    _ev(
        "SparkListenerJobStart",
        **{
            "Job ID": 1,
            "Submission Time": 20_000,
            "Stage IDs": [2],
            "Properties": {"spark.jobGroup.id": "run-abc"},
        },
    ),
    _task(2, 40, 20_000_000, 0),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 2}}),
    _ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 20_500}),
    "",
]


def test_reducer_folds_a_canned_log_per_job_group():
    figs = reduce_event_log(CANNED_LOG)
    u1 = figs["u1"]
    assert (u1.jobs, u1.stages, u1.tasks) == (1, 2, 3)
    assert u1.run_s == pytest.approx(0.6)
    assert u1.cpu_s == pytest.approx(0.3)
    assert u1.gc_s == pytest.approx(0.02)
    assert u1.shuffle_write_mb == pytest.approx(3.0)
    assert u1.shuffle_write_records == 15
    assert u1.shuffle_read_mb == pytest.approx(3.0)
    assert u1.spill_mb == pytest.approx(1.0)
    assert u1.job_spans == [(10.0, 11.5)]
    assert figs["run-abc"].tasks == 1


def test_reducer_gives_foreign_groups_to_the_unit_running_at_the_time():
    figs = reduce_event_log(
        CANNED_LOG, known={"u1", "u2"}, group_of_time=lambda t: "u2" if t >= 15 else None
    )
    assert "run-abc" not in figs
    assert figs["u2"].jobs == 1 and figs["u2"].job_spans == [(20.0, 20.5)]
    assert figs["u1"].tasks == 3


def test_median_and_count():
    assert median_and_count([]) == (0.0, 0)
    assert median_and_count([3.0]) == (3.0, 1)
    assert median_and_count([5.0, 1.0, 3.0]) == (3.0, 3)
    assert median_and_count([4.0, 1.0, 2.0, 3.0]) == (2.5, 4)


def test_union_of_overlapping_intervals():
    assert union_seconds([]) == 0.0
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)


def test_self_times_add_up_to_the_root():
    tr = Tracer(enabled=True)
    root = tr.begin("unit", "u")
    with tr.span("plan.build"):
        with tr.span("inner"):
            pass
    with tr.span("action"):
        pass
    tr.end(root)
    selfs = tr.self_times()
    assert sum(selfs.values()) == pytest.approx(root.seconds)
    assert all(s.unit == "u" for s in tr.spans)
    assert tr.spans[2].parent == tr.spans[1].id


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []


def test_unit_accounting_splits_the_action():
    tr = Tracer(enabled=True)
    root = tr.begin("unit", "u1", kind="query")
    action = tr.begin("action")
    tr.end(action)
    tr.end(root)
    action.start, action.end = 10.0, 12.0
    root.start, root.end = 9.5, 12.0
    figs = reduce_event_log(CANNED_LOG)
    (row,) = layers.unit_accounting(tr, figs)
    assert row["jobs_busy_s"] == pytest.approx(1.5)
    assert row["action"]["collect_s"] == pytest.approx(0.5)
    assert row["residual_s"] == pytest.approx(0.0)


def test_a_raising_unit_is_counted_as_failed():
    import run
    from workloads import Unit

    class Raising:
        name = "w"

        def __init__(self):
            self.ctx = types.SimpleNamespace(probe=types.SimpleNamespace(tracer=Tracer(False)))

        def run(self, unit, unit_id):
            raise ValueError("boom")

    outcome = run.run_unit(Raising(), Unit("q", "query"), "w:1:0:q", 1, False)
    assert outcome.failed and "boom" in outcome.error


def test_streaming_figures_sum_batches_and_keep_last_state():
    progress = [
        {"runId": "a", "numInputRows": 10, "durationMs": {"addBatch": 500, "walCommit": 20,
         "commitOffsets": 30, "queryPlanning": 100},
         "stateOperators": [{"commitTimeMs": 7, "numRowsTotal": 3, "memoryUsedBytes": 1048576}]},
        {"runId": "a", "numInputRows": 0, "durationMs": {"addBatch": 100},
         "stateOperators": [{"commitTimeMs": 3, "numRowsTotal": 5, "memoryUsedBytes": 2097152}]},
    ]
    f = layers.streaming_figures(progress)
    assert f["streaming.batches"] == 2 and f["streaming.input_rows"] == 10
    assert f["streaming.add_batch_s"] == pytest.approx(0.6)
    assert f["streaming.commit_s"] == pytest.approx(0.05)
    assert f["streaming.state_commit_s"] == pytest.approx(0.01)
    assert f["streaming.state_rows"] == 5
    assert f["streaming.state_mem_mb"] == pytest.approx(2.0)


def test_fixture_is_a_function_of_the_seed():
    a = fixture.build_tables(0.001, 7)
    b = fixture.build_tables(0.001, 7)
    c = fixture.build_tables(0.001, 8)
    assert all(a[t].equals(b[t]) for t in fixture.TABLES)
    assert not a["orders"].equals(c["orders"])
    assert a["documents"].num_rows == 500


def test_a_tampered_result_is_caught(tmp_path):
    from oracle import OracleCache

    sf = fixture.write_fixture(str(tmp_path / "sf"), 0.001, 3)
    oracle = OracleCache(sf)
    try:
        cols, rows = oracle.answer("lineitem_stats_by_flag")
        assert rows
        assert oracle.compare("lineitem_stats_by_flag", cols, list(rows)) == []
        tampered = [tuple(r) for r in rows]
        first = list(tampered[0])
        i = next(k for k, v in enumerate(first) if isinstance(v, (int, float)))
        first[i] = first[i] + 1
        tampered[0] = tuple(first)
        assert oracle.compare("lineitem_stats_by_flag", cols, tampered)
        assert oracle.compare("lineitem_stats_by_flag", cols, tampered[1:])
    finally:
        oracle.close()


def test_cpu_snapshot_reads_this_process():
    snap = telemetry.cpu_snapshot(os.getpid(), None)
    assert snap["tree"] > 0 and snap["host_total"] >= snap["host_busy"] > 0
    other = telemetry.host_other_cpu_frac(telemetry.cpu_delta(snap, snap))
    assert other == 0.0


def test_benchmark_json_matches_what_the_runs_print():
    import run
    from conftest import ROOT
    from ecommerce_event_pipeline_spark.registry import queries
    from workloads import WORKLOADS

    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json next to perfbench/")
    with open(path) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    listed = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    names = run.all_layer_metrics(queries())
    assert listed == [(n, layers.LAYER_METRICS.get(n, "s")) for n in names]
