"""Inputs and output checks for the ``daily_batch`` workload.

A day is generated with the program's own ``sources.generator`` (which
yields a quality-clean day), then a seeded handful of defects is injected,
each one tripping exactly one of the seven quality checks by exactly one
failed record, and the day is written as ``events_YYYYMMDD.jsonl``.

The check after a run compares three things against numbers computed
independently of Spark:

- each check's ``failed_records`` against the defects injected for it;
- each mart's row count against DuckDB's count of its grouping keys over
  the same JSONL file;
- the amount sums (order totals, purchase amounts, product revenue, event
  counts) against DuckDB sums over the same JSONL file.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
from collections import defaultdict

import duckdb
import numpy as np

#: check name in the quality report -> injection kind
CHECKS = (
    "q1_required_fields",
    "q2_duplicate_event_id",
    "q3_value_range",
    "q4_funnel_sequence",
    "q5_timestamp_validity",
    "q6_order_amount",
    "q7_platform_consistency",
)


def _session_index(rows: list[dict]) -> dict[str, list[int]]:
    idx: dict[str, list[int]] = defaultdict(list)
    for i, r in enumerate(rows):
        idx[r["session_id"]].append(i)
    return idx


def inject_defects(rows: list[dict], seed: int) -> tuple[list[dict], dict[str, int]]:
    """Return (rows with defects, injected count per check).

    Every defect goes into its own session, so no two defects interact:

    - q1: a page_view loses its required ``page_type``;
    - q2: a page_view is emitted twice with the same ``event_id``;
    - q3: a search gets ``result_count = -1``;
    - q4: the add_to_cart of a cart-without-purchase session moves to a
      session of its own, which then has a cart but no prior view;
    - q5: a page_view's timestamp moves to 2019 (outside [2020, 2030]);
    - q6: a purchase's ``total_amount`` is off by 100;
    - q7: an ios/android event reports a desktop device.

    Each check gets one to three defects, and never more than 1% of its
    population, so the quality gate still passes.
    """
    rng = np.random.default_rng(seed)
    rows = [dict(r) for r in rows]
    sessions = _session_index(rows)
    order = list(sessions)
    rng.shuffle(order)
    used: set[str] = set()
    # the gate passes at up to 1% failed per check: on a tiny day a check
    # whose population is under 100 gets no defect
    purchases = sum(r["event_type"] == "purchase" for r in rows)
    population = dict.fromkeys(CHECKS, len(rows))
    population.update(q4_funnel_sequence=len(sessions), q6_order_amount=purchases)
    counts = {c: min(int(rng.integers(1, 4)), population[c] // 100) for c in CHECKS}
    extra: list[tuple[int, dict]] = []

    def pick(pred) -> tuple[str, int]:
        for sid in order:
            if sid in used:
                continue
            members = sessions[sid]
            types = [rows[i]["event_type"] for i in members]
            hit = pred(rows, members, types)
            if hit is not None:
                used.add(sid)
                return sid, hit
        raise RuntimeError("day too small for the requested defects")

    def first_of(kind):
        def pred(rows, members, types):
            for i, t in zip(members, types):
                if t == kind:
                    return i
            return None

        return pred

    for _ in range(counts["q1_required_fields"]):
        _, i = pick(first_of("page_view"))
        rows[i].pop("page_type", None)
    for _ in range(counts["q2_duplicate_event_id"]):
        _, i = pick(first_of("page_view"))
        extra.append((i, dict(rows[i])))
    for _ in range(counts["q3_value_range"]):
        _, i = pick(first_of("search"))
        rows[i]["result_count"] = -1
    for _ in range(counts["q4_funnel_sequence"]):

        def cart_no_purchase(rows, members, types):
            if "purchase" in types or "add_to_cart" not in types:
                return None
            return members[types.index("add_to_cart")]

        sid, i = pick(cart_no_purchase)
        rows[i]["session_id"] = hashlib.md5(f"{sid}/orphan".encode()).hexdigest()
    for _ in range(counts["q5_timestamp_validity"]):
        _, i = pick(first_of("page_view"))
        rows[i]["timestamp"] = "2019" + rows[i]["timestamp"][4:]
    for _ in range(counts["q6_order_amount"]):
        _, i = pick(first_of("purchase"))
        rows[i]["total_amount"] = rows[i]["total_amount"] + 100.0

    def mobile(rows, members, types):
        i = members[0]
        return i if rows[i]["platform"] in ("ios", "android") else None

    for _ in range(counts["q7_platform_consistency"]):
        _, i = pick(mobile)
        rows[i]["device_type"] = "desktop"

    for pos, row in sorted(extra, key=lambda e: e[0], reverse=True):
        rows.insert(pos + 1, row)
    return rows, counts


def write_jsonl(rows: list[dict], path: str) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps({k: v for k, v in r.items() if v is not None}))
            f.write("\n")


def make_days(
    spark, days: list[tuple[str, int]], n_users: int, out_dir: str
) -> list[tuple[str, dict]]:
    """Generate, corrupt and write each ``(date, seed)`` day, all in one
    Spark job; returns (path, injected counts) per day."""
    from functools import reduce

    from pyspark.sql import functions as F

    from ecommerce_event_pipeline_spark.schemas import EVENT_SCHEMA
    from ecommerce_event_pipeline_spark.sources.generator import generate_events

    names = [f.name for f in EVENT_SCHEMA.fields]
    frames = [
        generate_events(spark, ds, n_users=n_users, seed=seed).select(
            F.lit(k).alias("_day"), *names
        )
        for k, (ds, seed) in enumerate(days)
    ]
    by_day: list[list[dict]] = [[] for _ in days]
    for r in reduce(lambda a, b: a.unionByName(b), frames).toArrow().to_pylist():
        by_day[r.pop("_day")].append(r)
    out = []
    for (ds, seed), rows in zip(days, by_day):
        rows.sort(key=lambda r: (r["timestamp"], r["event_id"]))
        rows, counts = inject_defects(rows, seed)
        path = os.path.join(out_dir, f"events_{ds.replace('-', '')}.jsonl")
        write_jsonl(rows, path)
        out.append((path, counts))
    return out


_EVENTS_SQL = """
SELECT *, CAST(ts AS DATE) AS event_date, hour(ts) AS event_hour FROM (
  SELECT *, TRY_CAST("timestamp" AS TIMESTAMP) AS ts
  FROM read_json('{path}', format='newline_delimited', columns={{
    event_id: 'VARCHAR', event_type: 'VARCHAR', user_id: 'VARCHAR',
    session_id: 'VARCHAR', "timestamp": 'VARCHAR', platform: 'VARCHAR',
    product_id: 'VARCHAR', order_id: 'VARCHAR', total_amount: 'DOUBLE',
    extra_data: 'VARCHAR'}})
)
"""

#: mart -> (DuckDB expectation over the input, the same figures over the output)
_MART_SQL = {
    "raw_events": (
        "SELECT count(*), 0.0 FROM ev",
        "SELECT count(*), 0.0 FROM out",
    ),
    "mart_funnel_daily": (
        "SELECT count(*), 0.0 FROM (SELECT DISTINCT event_date, platform FROM ev)",
        "SELECT count(*), 0.0 FROM out",
    ),
    "mart_user_daily": (
        "SELECT (SELECT count(*) FROM (SELECT DISTINCT user_id, event_date FROM ev)),"
        " coalesce(sum(total_amount) FILTER (WHERE event_type = 'purchase'), 0.0) FROM ev",
        "SELECT count(*), sum(total_purchase_amount) FROM out",
    ),
    "mart_orders": (
        "SELECT count(*), coalesce(sum(total_amount), 0.0) FROM ev"
        " WHERE event_type = 'purchase' AND order_id IS NOT NULL",
        "SELECT count(*), coalesce(sum(total_amount), 0.0) FROM out",
    ),
    "mart_product_daily": (
        "SELECT (SELECT count(*) FROM (SELECT DISTINCT product_id, event_date FROM items)),"
        " coalesce(sum(quantity * unit_price) FILTER (WHERE kind = 'purchase'), 0.0)"
        " FROM items",
        "SELECT count(*), sum(revenue) FROM out",
    ),
    "hourly_traffic": (
        "SELECT (SELECT count(*) FROM (SELECT DISTINCT event_date, event_hour, platform"
        " FROM ev)), CAST(count(event_id) AS DOUBLE) FROM ev",
        "SELECT count(*), CAST(sum(event_count) AS DOUBLE) FROM out",
    ),
    "session_patterns": (
        "SELECT (SELECT count(*) FROM (SELECT DISTINCT session_id, user_id, platform"
        " FROM ev)), CAST(count(*) AS DOUBLE) FROM ev",
        "SELECT count(*), CAST(sum(event_count) AS DOUBLE) FROM out",
    ),
}

_ITEMS_SQL = """
CREATE VIEW items AS
SELECT event_date, event_type AS kind, product_id,
       NULL::INTEGER AS quantity, NULL::DOUBLE AS unit_price
FROM ev WHERE event_type IN ('click', 'add_to_cart') AND product_id IS NOT NULL
UNION ALL
SELECT event_date, 'purchase', it.product_id, it.quantity, it.unit_price
FROM (
  SELECT event_date, unnest(from_json(extra_data,
      '{"products": [{"product_id": "VARCHAR", "quantity": "INTEGER",
                      "unit_price": "DOUBLE"}]}').products) AS it
  FROM ev WHERE event_type = 'purchase' AND extra_data IS NOT NULL
) WHERE it.product_id IS NOT NULL
"""


def expected_marts(jsonl_path: str) -> dict[str, tuple[int, float]]:
    """DuckDB's (row count, amount sum) per output, computed from the JSONL."""
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW ev AS " + _EVENTS_SQL.format(path=jsonl_path))
        con.execute(_ITEMS_SQL)
        out = {}
        for name, (sql, _) in _MART_SQL.items():
            n, amount = con.sql(sql).fetchone()
            out[name] = (int(n), float(amount))
        return out
    finally:
        con.close()


def observed_marts(output_dir: str) -> dict[str, tuple[int, float]]:
    con = duckdb.connect()
    try:
        out = {}
        for name, (_, sql) in _MART_SQL.items():
            pattern = os.path.join(output_dir, name, "**", "*.parquet")
            if not glob.glob(pattern, recursive=True):
                out[name] = (0, 0.0)
                continue
            con.execute(
                f"CREATE OR REPLACE VIEW out AS SELECT * FROM read_parquet('{pattern}',"
                " hive_partitioning = true)"
            )
            n, amount = con.sql(sql).fetchone()
            out[name] = (int(n), float(amount or 0.0))
        return out
    finally:
        con.close()


def check_day(result, injected: dict[str, int], expected: dict, output_dir: str) -> list[str]:
    """Problems with one ``run_for_date`` result; empty when it is correct."""
    problems = []
    if result.status != "SUCCESS":
        problems.append(f"status {result.status}")
    failed = {r["check_name"]: int(r["failed_records"]) for r in result.quality}
    for check in CHECKS:
        if failed.get(check) != injected[check]:
            problems.append(
                f"{check}: failed_records={failed.get(check)} injected={injected[check]}"
            )
    if not problems:
        observed = observed_marts(output_dir)
        for name, (n, amount) in expected.items():
            got_n, got_amount = observed[name]
            if got_n != n or not math.isclose(got_amount, amount, rel_tol=1e-9, abs_tol=1e-6):
                problems.append(f"{name}: rows/sum {got_n}/{got_amount!r} expected {n}/{amount!r}")
    return problems
