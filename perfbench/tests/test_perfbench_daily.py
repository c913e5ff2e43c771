"""The daily_batch inputs and checks: defect injection without Spark, and
one tiny day through the pipeline with Spark."""

from __future__ import annotations

import glob
import os

import pytest

import daily
from conftest import ROOT


def _session(sid, types, platform="web", t0=0):
    rows = []
    for i, t in enumerate(types):
        r = {
            "event_id": f"{sid}-{i}",
            "event_type": t,
            "user_id": "U000001",
            "session_id": sid,
            "timestamp": f"2026-03-05T10:{t0 + i:02d}:00",
            "platform": platform,
            "device_type": "mobile" if platform != "web" else "desktop",
        }
        if t == "page_view":
            r["page_type"] = "home"
        if t == "search":
            r["result_count"] = 3
        if t == "purchase":
            r["total_amount"] = 1000.0
        rows.append(r)
    return rows


def _day():
    rows = []
    shapes = [
        ["page_view", "click", "add_to_cart"],
        ["page_view", "search", "click", "add_to_cart", "purchase"],
        ["search", "page_view", "click"],
    ]
    for i in range(300):
        platform = ("web", "ios", "android")[i % 3]
        rows += _session(f"s{i:03d}", shapes[i % 3], platform)
    return rows


def test_each_defect_lands_once_in_its_own_session():
    base = _day()
    rows, counts = daily.inject_defects(base, seed=5)
    assert set(counts) == set(daily.CHECKS) and all(0 <= c <= 3 for c in counts.values())
    assert counts["q6_order_amount"] == 1  # 100 purchases allow one defect
    missing_page_type = [r for r in rows if r["event_type"] == "page_view" and "page_type" not in r]
    assert len(missing_page_type) == counts["q1_required_fields"]
    assert len(rows) - len({r["event_id"] for r in rows}) == counts["q2_duplicate_event_id"]
    assert sum(r.get("result_count") == -1 for r in rows) == counts["q3_value_range"]
    orphans = {r["session_id"] for r in rows} - {r["session_id"] for r in base}
    assert len(orphans) == counts["q4_funnel_sequence"]
    assert sum(r["timestamp"].startswith("2019") for r in rows) == counts["q5_timestamp_validity"]
    assert sum(r.get("total_amount") == 1100.0 for r in rows) == counts["q6_order_amount"]
    bad_device = [r for r in rows if r["platform"] != "web" and r["device_type"] == "desktop"]
    assert len(bad_device) == counts["q7_platform_consistency"]
    assert daily.inject_defects(base, seed=5) == (rows, counts)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    from ecommerce_event_pipeline_spark.session import get_spark

    tmp = tmp_path_factory.mktemp("spark")
    yield get_spark(
        "perfbench-tests",
        extra_conf={
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def test_a_tiny_day_passes_its_checks_and_tampering_is_caught(spark, tmp_path):
    import telemetry
    from probe import Probe
    from workloads import Unit

    ((path, injected),) = daily.make_days(spark, [("2026-03-05", 9)], 300, str(tmp_path))
    expected = daily.expected_marts(path)
    assert expected["raw_events"][0] > 100
    unit = Unit("2026-03-05", "day", ("2026-03-05", path, injected))
    probe = Probe(spark, telemetry.Tracer(enabled=False))
    result, out_dir = probe.run_day(unit, "t:1:0:day", str(tmp_path / "out"))
    assert daily.check_day(result, injected, expected, out_dir) == []

    wrong = dict(injected, q6_order_amount=injected["q6_order_amount"] + 1)
    assert daily.check_day(result, wrong, expected, out_dir)

    victim = sorted(glob.glob(os.path.join(out_dir, "mart_orders", "*", "*.parquet")))[0]
    os.remove(victim)
    problems = daily.check_day(result, injected, expected, out_dir)
    assert any(p.startswith("mart_orders") for p in problems)
