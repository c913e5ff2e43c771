"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload daily_batch --seed 1 --seconds 5 --trace 0

Run it from the repository root. One client process drives Spark
``local[nproc]`` in a closed loop: the next unit starts when the previous
one has returned. The run

1. sets up: starts the session, generates the inputs from ``--seed`` and
   runs one untimed warm pass (``setup_s``);
2. runs passes over the workload's units until ``--seconds`` have passed,
   always finishing the pass it is in;
3. checks every unit's output against an answer computed without Spark;
4. prints a detail line, then the result line.

With ``--trace 1`` the body runs traced (spans, job groups, Spark event
log, streaming listener) and the result line carries the per-layer figures
of its passes. An overhead probe follows outside the body: every unit runs
once traced and once untraced on warm passes, and ``trace_overhead_frac``
is the traced runs' time over the untraced runs' minus one. Spans and
per-unit accounting go to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

import layers
import telemetry
from probe import Probe
from workloads import WORKLOADS, Outcome

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
PROGRAM = "ecommerce_event_pipeline_spark"

#: a run whose host spent more than this share of its CPU time outside the
#: benchmark's process tree during the body is flagged as contaminated: on
#: a 4-vCPU guest, where that share is mostly steal time, passes ran about
#: 25% slower at 0.05 (the timing bounds) and 1.5-1.8x slower at 0.1-0.17
CONTAMINATION_BOUND = 0.05

END_TO_END = {"setup_s": "s", "wall_s": "s", "unit_p50_s": "s"}


class SetupError(Exception):
    """The run cannot start; nothing is measured."""


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def heap_mb() -> int:
    """A quarter of the host's memory, between 1 and 8 GB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(1024, min(8192, total_kb // 4096))


def check_environment() -> None:
    if os.environ.get("SPARK_GRAFT_PLAN_ONLY"):
        raise SetupError(
            "SPARK_GRAFT_PLAN_ONLY is set: fan-out pins would be disabled and "
            "timings unrepresentative; unset it"
        )
    if not os.path.isdir(os.path.join(ROOT, PROGRAM)):
        raise SetupError(f"{PROGRAM}/ not found next to perfbench/: run from a checkout")
    if not os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py")):
        raise SetupError("tools/check_oracle.py not found: the output checks need it")


def configure(work: str) -> dict:
    """Process environment for the program, Spark and its Python workers;
    returns the provenance figures it fixed."""
    nproc = len(os.sched_getaffinity(0))
    heap = heap_mb()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap}m"
    os.environ["SPARK_GRAFT_CACHE_EVENTS"] = "1"
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # an import may already have cached /tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit starts before the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # workers unpickle functions defined in the program's modules
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {"nproc": nproc, "heap_mb": heap}


def start_session(work: str, trace: bool):
    from ecommerce_event_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
        f"-XX:-UsePerfData -Dderby.system.home={tmp}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark("perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it forked)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def versions(spark) -> dict:
    import duckdb
    import pyspark

    return {
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
    }


class Context:
    def __init__(self, spark, seed: int, work: str, probe):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.probe = probe
        self.pass_no = 0


def run_unit(wl, unit, unit_id: str, pass_no: int, traced: bool) -> Outcome:
    tracer = wl.ctx.probe.tracer
    span = tracer.begin("unit", unit_id, kind=unit.kind)
    start = time.perf_counter()
    value, error = None, None
    try:
        value = wl.run(unit, unit_id)
    except Exception as exc:  # a failing unit is counted, never dropped
        error = f"{type(exc).__name__}: {exc}"
        print(f"unit {unit_id} raised:\n{traceback.format_exc()}", file=sys.stderr)
    end = time.perf_counter()
    tracer.end(span)
    return Outcome(unit, unit_id, pass_no, traced, start, end, value, error)


def run_body(wl, seconds: float, traced: bool) -> tuple[list, list]:
    """The timed body: passes until ``seconds`` have passed, at least one.
    Returns (outcomes, wall seconds of each pass)."""
    outcomes, passes = [], []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        pass_no = len(passes) + 1
        wl.ctx.pass_no = pass_no
        wl.before_pass(pass_no)
        start = time.perf_counter()
        for i, unit in enumerate(wl.pass_units(pass_no)):
            unit_id = f"{wl.name}:{pass_no}:{i}:{unit.name}"
            outcomes.append(run_unit(wl, unit, unit_id, pass_no, traced))
        passes.append(time.perf_counter() - start)
    return outcomes, passes


def overhead_probe(wl, first_pass_no: int) -> tuple[float, list]:
    """Tracing overhead measured on warm passes after the traced body.

    Every unit runs once traced and once untraced, in two passes over one
    fixed order; a unit is traced in the first pass when its position is
    even, so half the units meet tracing first and the warm-up trend from
    pass to pass cancels. Returns (traced over untraced seconds minus one,
    the outcomes).
    """
    probe = wl.ctx.probe
    order = wl.pass_units(first_pass_no)
    seconds = {True: 0.0, False: 0.0}
    outcomes = []
    for j, parity in enumerate((0, 1)):
        pass_no = first_pass_no + j
        wl.ctx.pass_no = pass_no
        wl.before_pass(pass_no)
        for i, unit in enumerate(order):
            on = (i + parity) % 2 == 0
            probe.set_tracing(on)
            o = run_unit(wl, unit, f"{wl.name}:{pass_no}:{i}:{unit.name}", pass_no, on)
            seconds[on] += o.seconds
            outcomes.append(o)
    probe.set_tracing(False)
    return seconds[True] / seconds[False] - 1.0, outcomes


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        check_environment()
    except SetupError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, detail = measure(args, work)
    except SetupError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps(result))
    return 0


def measure(args, work: str):
    provenance = configure(work)
    me = os.getpid()
    t_setup = time.perf_counter()
    spark = start_session(work, bool(args.trace))
    try:
        jvm = telemetry.jvm_pid(me)
        provenance.update(versions(spark))
        session_s = time.perf_counter() - t_setup
        tracer = telemetry.Tracer(enabled=False)
        probe = Probe(spark, tracer)
        ctx = Context(spark, args.seed, work, probe)
        wl = WORKLOADS[args.workload](ctx)
        t_inputs = time.perf_counter()
        wl.make_inputs()
        inputs_s = time.perf_counter() - t_inputs
        wl.before_pass(0)
        warm_s = 0.0
        for i, warm in enumerate(wl.warm_units()):
            o = run_unit(wl, warm, f"{wl.name}:0:{i}:{warm.name}", 0, False)
            if o.error is not None:
                raise SetupError(f"warm unit {warm.name} failed: {o.error}")
            warm_s += o.seconds
        setup_s = time.perf_counter() - t_setup
        provenance.update(inputs_s=inputs_s, warm_units_s=warm_s)

        load_start = telemetry.loadavg()
        probe.set_tracing(bool(args.trace), listen=True)
        cpu0 = telemetry.cpu_snapshot(me, jvm)
        body_t0 = time.time()
        outcomes, passes = run_body(wl, args.seconds, bool(args.trace))
        body_t1 = time.time()
        cpu1 = telemetry.cpu_snapshot(me, jvm)
        load_end = telemetry.loadavg()
        rss = telemetry.vm_hwm_mb(jvm)
        cpu = telemetry.cpu_delta(cpu0, cpu1)
        probe.set_tracing(False)
        checked = list(outcomes)
        if args.trace:
            body_spans, body_progress = len(tracer.spans), len(probe.progress)
            overhead, probed = overhead_probe(wl, len(passes) + 1)
            checked += probed

        wl.check(checked)
    finally:
        stop_session(spark)

    failed = sum(1 for o in checked if o.failed)
    for o in checked:
        if o.failed:
            print(f"unit {o.unit_id} failed: {o.error or o.problems}", file=sys.stderr)
    unit_s = [o.seconds for o in outcomes]
    wall_s, n_passes = telemetry.median_and_count(passes)
    unit_p50, n_units = telemetry.median_and_count(unit_s)
    other = telemetry.host_other_cpu_frac(cpu)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "session_start_s": session_s,
        "setup_s": setup_s,
        "wall_s": wall_s,
        "wall_samples": n_passes,
        "unit_p50_s": unit_p50,
        "unit_samples": n_units,
        "failed_frac": failed / len(checked),
        "jvm_peak_rss_mb": rss,
        "body_s": body_t1 - body_t0,
        "host_other_cpu_frac": other,
        "contaminated": other > CONTAMINATION_BOUND,
        "loadavg": [load_start, load_end],
        **provenance,
    }
    metrics = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "unit_p50_s": unit_p50,
    }
    result = {
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()},
    }
    if args.trace:
        per_layer = traced_figures(
            args, work, wl, outcomes, len(passes), cpu, body_spans, body_progress
        )
        per_layer["jvm_peak_rss_mb"] = rss
        per_layer["trace_overhead_frac"] = overhead
        per_layer["host_other_cpu_frac"] = other
        detail["trace_file"] = per_layer.pop("_trace_file")
        result["metrics"] = {
            k: {"value": v, "unit": layers.LAYER_METRICS.get(k, "s")}
            for k, v in per_layer.items()
        }
    units = [
        {"unit": o.unit_id, "seconds": o.seconds, "traced": o.traced, "failed": o.failed}
        for o in checked
    ]
    save(args, detail, result, units)
    return result, detail


def traced_figures(args, work, wl, outcomes, n_passes, cpu, n_spans, n_progress) -> dict:
    """Per-layer figures of the traced body: its first ``n_spans`` spans and
    ``n_progress`` streaming reports (the overhead probe comes after)."""
    probe = wl.ctx.probe
    queries = probe.queries
    tracer = telemetry.Tracer(enabled=True)
    tracer.spans = probe.tracer.spans[:n_spans]
    body_units = [
        {
            "unit_id": o.unit_id,
            "name": o.unit.name,
            "kind": o.unit.kind,
            "module": getattr(queries.get(o.unit.name), "__module__", ""),
            "seconds": o.seconds,
        }
        for o in outcomes
    ]
    windows = sorted((s.start, s.end, s.unit) for s in tracer.spans if s.name == "unit")

    def group_of_time(t: float):
        for start, end, unit in windows:
            if start <= t <= end:
                return unit
        return None

    lines = telemetry.read_event_log(os.path.join(work, "eventlog"))
    jobs = telemetry.reduce_event_log(
        lines, known={u["unit_id"] for u in body_units}, group_of_time=group_of_time
    )
    accounting = layers.unit_accounting(tracer, jobs)
    out = layers.layer_metrics(tracer, jobs, accounting, body_units, n_passes)
    # local mode: executor tasks are threads of the driver JVM
    out["driver.cpu_s"] = max(0.0, cpu["jvm"] / n_passes - out["exec.cpu_s"])
    out["pyworker.cpu_s"] = cpu["pyworker"] / n_passes
    streaming = layers.streaming_figures(probe.progress[:n_progress])
    out.update({k: v / n_passes for k, v in streaming.items()})
    if wl.name == "daily_batch":
        days = [o for o in outcomes if o.error is None]
        in_bytes = sum(os.path.getsize(o.unit.arg[1]) for o in days)
        figs = layers.output_figures([o.value[1] for o in days], in_bytes)
        out["sources.writers.files"] = figs["sources.writers.files"] / n_passes
        out["sources.writers.output_mb"] = figs["sources.writers.output_mb"] / n_passes
        out["sources.writers.bytes_per_input_byte"] = figs["sources.writers.bytes_per_input_byte"]
    full = {name: 0.0 for name in all_layer_metrics(queries)}
    full.update(out)
    trace_file = os.path.join(
        WORK_ROOT, "results", f"trace-{args.workload}-seed{args.seed}.json"
    )
    os.makedirs(os.path.dirname(trace_file), exist_ok=True)
    residual = max((abs(r["residual_s"]) for r in accounting), default=0.0)
    with open(trace_file, "w") as f:
        json.dump(
            {
                "spans": tracer.dump(),
                "units": accounting,
                "max_residual_s": residual,
                "per_layer": full,
                "streaming_progress": probe.progress[:n_progress],
            },
            f,
        )
    full["_trace_file"] = trace_file
    return full


def all_layer_metrics(queries: dict) -> list[str]:
    """Every per-layer metric a traced run prints, in the order
    BENCHMARK.json lists them."""
    names = [q for w in WORKLOADS.values() for q in getattr(w, "names", ())]
    modules = sorted({layers.module_metric(queries[q].__module__) for q in names})
    return list(layers.LAYER_METRICS) + [layers.query_metric(q) for q in names] + modules


def save(args, detail: dict, result: dict, units: list) -> None:
    out = os.path.join(WORK_ROOT, "results")
    os.makedirs(out, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out, name), "w") as f:
        json.dump({"detail": detail, "result": result, "units": units}, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
