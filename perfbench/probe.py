"""Calls into the program, with spans when the run is traced.

Each unit enters the program only through public functions: a registered
query function, an entry of ``registry.SHARED_BASES``,
``readers.load_events_jsonl`` and ``pipeline.run_for_date``. In a traced
run, ``set_tracing`` also wraps the functions
``pipeline.run_for_date`` calls by name (``QualityValidator``,
``write_partitioned_parquet``), so the day's time splits into ingest,
quality checks, mart writes and raw-event writes without changing the
program. The untraced run installs nothing.
"""

from __future__ import annotations

import json
import os

from telemetry import Tracer

PRODUCT_MARTS = ("mart_product_daily", "mart_orders")


def write_layer(path: str) -> str:
    """The layer a ``write_partitioned_parquet`` call belongs to."""
    name = os.path.basename(path.rstrip("/"))
    if name == "raw_events":
        return "sources.writers.raw_events"
    if name in PRODUCT_MARTS:
        return "operators.products.write"
    return "operators.marts.write"


class Probe:
    def __init__(self, spark, tracer: Tracer):
        from ecommerce_event_pipeline_spark import registry

        self.spark = spark
        self.tracer = tracer
        self.registry = registry
        self.queries = registry.queries()
        self._phase = None
        self._restore: list = []
        self.progress: list[dict] = []
        self._listener = None

    # -- layer wrappers (traced run only) ----------------------------------
    def phase(self, name: str | None) -> None:
        """End the open phase span, if any, and open ``name`` when given.
        Phases split one call into the consecutive stretches between the
        wrapped calls it makes."""
        if self._phase is not None:
            self.tracer.end(self._phase)
            self._phase = None
        if name is not None:
            self._phase = self.tracer.begin(name)

    def set_tracing(self, on: bool, listen: bool = False) -> None:
        """Turn spans, job groups and the layer wrappers on or off; with
        ``listen`` also collect streaming progress reports."""
        self.tracer.enabled = on
        if on and not self._restore:
            self._install_layer_wrappers()
        elif not on and self._restore:
            for mod, attr, value in self._restore:
                setattr(mod, attr, value)
            self._restore = []
        if on and listen and self._listener is None:
            self._listener = self._make_listener()
            self.spark.streams.addListener(self._listener)
        elif not on and self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def _install_layer_wrappers(self) -> None:
        from ecommerce_event_pipeline_spark import pipeline

        probe = self
        base_validator = pipeline.QualityValidator
        base_write = pipeline.write_partitioned_parquet

        class TracedValidator(base_validator):
            def __init__(self, events):
                # run_for_date builds the validator right after the events
                # are read and cached: ingest ends, the checks begin
                probe.phase("quality.checks.run_all")
                super().__init__(events)

        def traced_write(df, path, partition_col="event_date"):
            probe.phase(None)
            with probe.tracer.span(write_layer(path)):
                return base_write(df, path, partition_col=partition_col)

        pipeline.QualityValidator = TracedValidator
        pipeline.write_partitioned_parquet = traced_write
        self._restore = [
            (pipeline, "QualityValidator", base_validator),
            (pipeline, "write_partitioned_parquet", base_write),
        ]

    def _make_listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress

        class ProgressListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return ProgressListener()

    def _job_group(self, unit_id: str) -> None:
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(unit_id, unit_id)

    # -- units -------------------------------------------------------------
    def run_query(self, unit, unit_id: str, sf_dir: str):
        """A registered query: build the DataFrame, then collect it."""
        tr = self.tracer
        self._job_group(unit_id)
        build = "streaming.drain" if unit.kind == "stream" else "plan.build"
        with tr.span(build):
            df = self.queries[unit.name](self.spark, sf_dir)
        with tr.span("action") as action:
            rows = [tuple(r) for r in df.collect()]
        if action is not None:
            action.attrs["rows"] = len(rows)
            action.attrs["catalyst_s"] = catalyst_seconds(df)
        return df.columns, rows

    def build_base(self, unit, unit_id: str, sf_dir: str) -> int:
        """Materialize one ``registry.SHARED_BASES`` entry; its row count."""
        self._job_group(unit_id)
        with self.tracer.span("shared_bases.build"):
            return unit.arg(self.spark, sf_dir).count()

    def run_day(self, unit, unit_id: str, out_dir: str):
        """One day: read the JSONL, then the whole pipeline into ``out_dir``."""
        from ecommerce_event_pipeline_spark.pipeline import run_for_date
        from ecommerce_event_pipeline_spark.sources.readers import load_events_jsonl

        ds, path, _ = unit.arg
        self._job_group(unit_id)
        if self.tracer.enabled:
            self.phase("sources.readers.ingest")
        try:
            events = load_events_jsonl(self.spark, path)
            result = run_for_date(self.spark, ds, out_dir, events=events)
        finally:
            self.phase(None)
        return result, out_dir


def catalyst_seconds(df) -> float:
    """Analysis + optimization + planning time of the DataFrame's last
    execution, from Spark's ``QueryPlanningTracker``."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total / 1000.0
