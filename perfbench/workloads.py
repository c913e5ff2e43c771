"""The workloads: what set-up builds, what one pass runs, how each unit's
output is checked.

A *unit* is one call the benchmark times: a day through the pipeline, one
registered query, a shared-base build, or one streaming drain. A *pass* is
the workload's fixed list of units, in a fixed order. Set-up runs one
whole pass untimed, so every timed pass runs plans the session has already
compiled. Output checks run after the timed body, never inside it.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from dataclasses import dataclass, field

import daily
import fixture

#: containment over every shingle-sharing pair: the heaviest dedup path
#: at 10x and the target of ROADMAP direction 2's prefix bound
CORPUS_QUERIES = ("doc_containment_pairs",)

#: five of the nine streaming jobs, one per kind of state: a tumbling
#: window, watermark dedup, a stream-static join, Python group state and a
#: stream-stream join (the four left out repeat the window, session and
#: Python state of these, and a pass of all nine does not fit the budget)
STREAMING_QUERIES = (
    "streaming_hourly_traffic",
    "streaming_dedup",
    "streaming_enriched_traffic",
    "streaming_user_state",
    "streaming_attribution_join",
)


@dataclass
class Unit:
    """One timed call. ``run(ctx)`` returns what ``check`` needs later."""

    name: str
    kind: str  # query | stream | day | base
    arg: object = None


@dataclass
class Outcome:
    unit: Unit
    unit_id: str
    pass_no: int
    traced: bool
    start: float
    end: float
    value: object = None
    error: str | None = None
    problems: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def failed(self) -> bool:
        return self.error is not None or bool(self.problems)


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx

    # -- set-up ------------------------------------------------------------
    def make_inputs(self) -> None:
        """Generate this workload's inputs under ``ctx.work`` from the seed."""
        raise NotImplementedError

    def warm_units(self) -> list[Unit]:
        """Run once, untimed, in set-up (pass 0): a plan's first run in a
        session pays for code generation and class loading that later runs
        do not, so the timed passes start warm."""
        return self.pass_units(0)

    # -- the timed body ----------------------------------------------------
    def pass_units(self, pass_no: int) -> list[Unit]:
        """The pass's units, in a fixed order."""
        raise NotImplementedError

    def before_pass(self, pass_no: int) -> None:
        """Untimed preparation of a pass."""

    def run(self, unit: Unit, unit_id: str):
        raise NotImplementedError

    # -- after the body ----------------------------------------------------
    def check(self, outcomes: list[Outcome]) -> None:
        """Fill ``problems`` of every outcome; a mismatch marks it failed."""


class QueryWorkload(Workload):
    """Registered queries over a generated fixture, checked against their
    DuckDB oracles (answers cached per query: the fixture is fixed)."""

    names: tuple = ()
    kind = "query"
    #: the scale of the generated fixture (see fixture.build_tables)
    scale: float

    def make_inputs(self) -> None:
        self.sf_dir = fixture.write_fixture(
            os.path.join(self.ctx.work, "fixture"), self.scale, self.ctx.seed
        )

    def pass_units(self, pass_no: int) -> list[Unit]:
        return [Unit(n, self.kind) for n in self.names]

    def sf_for_pass(self, pass_no: int) -> str:
        return self.sf_dir

    def run(self, unit: Unit, unit_id: str):
        return self.ctx.probe.run_query(unit, unit_id, self.sf_for_pass(self.ctx.pass_no))

    def check(self, outcomes: list[Outcome]) -> None:
        from oracle import OracleCache

        oracle = OracleCache(self.sf_dir)
        try:
            for o in outcomes:
                if o.error is not None or o.unit.kind == "base":
                    continue
                cols, rows = o.value
                o.problems = oracle.compare(o.unit.name, cols, rows)
                o.value = len(rows)
        finally:
            oracle.close()


class CorpusCuration(QueryWorkload):
    """Each pass rebuilds the shared bases inside the timed region, as a
    daily curation job would: one unit per ``registry.SHARED_BASES`` entry,
    in their dependency order, then the queries. The pass reads its own
    copy of the fixture, so no base built by an earlier pass is reused."""

    name = "corpus_curation"
    scale = 0.002
    names = CORPUS_QUERIES

    def base_units(self) -> list[Unit]:
        from ecommerce_event_pipeline_spark.registry import SHARED_BASES

        return [Unit(fn.__name__, "base", fn) for fn in SHARED_BASES]

    def pass_units(self, pass_no: int) -> list[Unit]:
        return self.base_units() + super().pass_units(pass_no)

    def sf_for_pass(self, pass_no: int) -> str:
        return os.path.join(self.ctx.work, f"corpus_pass{pass_no}")

    def before_pass(self, pass_no: int) -> None:
        self.ctx.spark.catalog.clearCache()
        shutil.copytree(self.sf_dir, self.sf_for_pass(pass_no), dirs_exist_ok=True)

    def run(self, unit: Unit, unit_id: str):
        if unit.kind != "base":
            return super().run(unit, unit_id)
        return self.ctx.probe.build_base(unit, unit_id, self.sf_for_pass(self.ctx.pass_no))

    def check(self, outcomes: list[Outcome]) -> None:
        super().check(outcomes)
        from oracle import OracleCache

        oracle = OracleCache(self.sf_dir)
        try:
            expected = {name: oracle.count(sql) for name, sql in base_count_sql(oracle.sql).items()}
        finally:
            oracle.close()
        for o in outcomes:
            if o.unit.kind != "base" or o.error is not None:
                continue
            want = expected.get(o.unit.name)
            if o.value <= 0 or (want is not None and o.value != want):
                o.problems = [f"{o.unit.name}: {o.value} rows, expected {want or 'some'}"]


def base_count_sql(oracles: dict[str, str]) -> dict[str, str]:
    """DuckDB row counts of the shared bases. The n-gram pair table and the
    SimHash fingerprints are exactly what ``ngram_jaccard_pairs`` and
    ``simhash_fingerprints`` return, so their oracles count them; the MinHash
    candidates are approximate by design and are only required non-empty."""

    def rows_of(name: str) -> str:
        return f"SELECT count(*) FROM ({oracles[name].strip().rstrip(';')})"

    return {
        "_synthetic_event_log": "SELECT (SELECT count(*) FROM orders) + (SELECT count(*)"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey)",
        "_shingle_sets_shared": "SELECT count(*) FROM documents",
        "_ngram_pairs_shared": rows_of("ngram_jaccard_pairs"),
        "_simhash_shared": rows_of("simhash_fingerprints"),
    }


class StreamDrain(QueryWorkload):
    name = "stream_drain"
    scale = 0.001
    names = STREAMING_QUERIES
    kind = "stream"


class DailyBatch(Workload):
    """Generated days, with seeded quality defects, one per unit. Set-up
    generates a warm day and the days of a pass, all distinct; every pass
    runs the same days, each run into a fresh output directory."""

    name = "daily_batch"
    users = 2000
    days = 2

    def make_inputs(self) -> None:
        in_dir = os.path.join(self.ctx.work, "days")
        os.makedirs(in_dir, exist_ok=True)
        # Wednesdays a week apart: the generator's activity share depends on
        # the weekday, and a day's size should not depend on the seed
        first = dt.date(2026, 3, 4) + dt.timedelta(weeks=self.ctx.seed % 52)
        days = [
            ((first + dt.timedelta(weeks=k)).isoformat(), self.ctx.seed * 1000 + k)
            for k in range(self.days + 1)
        ]
        made = daily.make_days(self.ctx.spark, days, self.users, in_dir)
        self.day_units = [
            Unit(ds, "day", (ds, path, injected)) for (ds, _), (path, injected) in zip(days, made)
        ]

    def warm_units(self) -> list[Unit]:
        # every day runs the same plans, so one day of its own warms them
        return self.day_units[:1]

    def pass_units(self, pass_no: int) -> list[Unit]:
        return self.day_units[1:]

    def run(self, unit: Unit, unit_id: str):
        out_dir = os.path.join(self.ctx.work, "out", unit_id.replace(":", "_"))
        return self.ctx.probe.run_day(unit, unit_id, out_dir)

    def check(self, outcomes: list[Outcome]) -> None:
        expected: dict[str, dict] = {}
        for o in outcomes:
            if o.error is not None:
                continue
            _, path, injected = o.unit.arg
            if path not in expected:
                expected[path] = daily.expected_marts(path)
            result, out_dir = o.value
            o.problems = daily.check_day(result, injected, expected[path], out_dir)


WORKLOADS = {w.name: w for w in (DailyBatch, CorpusCuration, StreamDrain)}
