"""Closed-loop driver: set-up, host canary, timed loop, traced run.

One client runs a workload's op schedule back to back until the run's
seconds are up, then finishes the round in progress. Untraced runs give
the end-to-end metrics. A traced run installs the layer wrappers of
``trace.py`` and records half the ops of each kind, so the traced and
untraced ops of one run give the tracing overhead. After its loop, a
traced run also measures the workload's side stream (the curation
batches, or the append-table scans) for the layers only it exercises.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

from perfbench import trace as trace_mod
from perfbench.workloads import ROUND_END, WORKLOADS

SETUP_REPS = 3

END_TO_END_UNITS = {
    "setup_s": "s",
    "main_op_p50_ms": "ms",
    "heavy_op_p50_ms": "ms",
    "point_op_p50_ms": "ms",
    "work_per_s": "1/s",
}


def start_spark(app: str = "perfbench"):
    from flink_table_store_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app)
    return spark, time.perf_counter() - t0


def host_canary(spark, cpus: int) -> float:
    """Fixed-size CPU calibration (chained xxhash64, no shuffle, no I/O),
    sized so that each core hashes the same number of rows whatever the
    core count. Its seconds are recorded beside the results, not gated."""
    from pyspark.sql import functions as F

    h = F.col("id")
    for j in range(8):
        h = F.xxhash64(h, F.lit(j))

    def canary(rows: int):
        spark.range(0, rows, 1, 4 * cpus).select(h.alias("h")).select(
            F.expr("bit_xor(h)")
        ).collect()

    canary(1000)  # compile the plan once, untimed
    t0 = time.perf_counter()
    canary(500_000 * cpus)
    return time.perf_counter() - t0


def _prepare(workload, work_dir: str) -> float:
    """Prepare the workload's table state SETUP_REPS times, each in a
    fresh warehouse, and keep the last. The first preparation also runs
    the workload's warm-up ops. Returns the median seconds."""
    from flink_table_store_spark.catalog import Catalog

    times = []
    for rep in range(SETUP_REPS):
        catalog = Catalog(os.path.join(work_dir, f"setup{rep}"))
        t0 = time.perf_counter()
        workload.prepare(catalog, rep)
        times.append(time.perf_counter() - t0)
        if rep:
            shutil.rmtree(os.path.join(work_dir, f"setup{rep - 1}"), ignore_errors=True)
    return statistics.median(times)


def _loop(workload, spark, seconds: float, tracer, max_ops: int | None):
    """Run the schedule until ``seconds`` have passed and the round in
    progress is done, or until ``max_ops`` ops have run."""
    lat: dict[str, list[float]] = defaultdict(list)
    traced_lat: dict[str, list[float]] = defaultdict(list)
    seen: dict[str, int] = defaultdict(int)
    attempted = failed = 0
    mark = (lambda: trace_mod.max_execution_id(spark)) if tracer else None
    schedule = workload.ops()
    deadline = time.perf_counter() + seconds
    while max_ops is None or attempted < max_ops:
        op = next(schedule)
        if op is ROUND_END:
            if time.perf_counter() >= deadline:
                break
            continue
        # T U U T per op kind: half the ops traced, in an order that
        # cancels a linear drift (state growing over the run) between
        # the traced and the untraced halves
        traced = tracer is not None and seen[op.kind] % 4 in (0, 3)
        seen[op.kind] += 1
        attempted += 1
        try:
            t0 = time.perf_counter()
            if traced:
                tracer.active = True
                try:
                    with tracer.op(op.kind, mark if op.spark else None):
                        out = op.run()
                finally:
                    tracer.active = False
            else:
                out = op.run()
            dt = time.perf_counter() - t0
            ok = op.check(out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failed += 1
            continue
        (traced_lat if traced else lat)[op.kind].append(dt)
        if not ok:
            print(f"perfbench: oracle rejected a {op.kind} result", file=sys.stderr)
            failed += 1
    return lat, traced_lat, attempted, failed


def overhead_ratio(lat: dict, traced_lat: dict) -> float:
    """Traced ÷ untraced op time, each op kind weighted by its count."""
    num = den = 0.0
    for kind, un in lat.items():
        tr = traced_lat.get(kind)
        if not un or not tr:
            continue
        n = len(un) + len(tr)
        num += n * statistics.mean(tr)
        den += n * statistics.mean(un)
    return num / den if den else math.nan


def _traced_layers(spark, tracer, first_exec: int, filtered_kinds) -> dict:
    tracer.attribute_executions(trace_mod.read_executions(spark, first_exec))
    return trace_mod.layer_metrics(tracer, filtered_kinds)


def run_side(spark, side, work_dir: str, trace_path: str | None = None) -> dict:
    """A workload's side stream under the layer wrappers: its warm-up
    ops, then ``side.timed_ops`` ops, half of each kind traced."""
    from flink_table_store_spark.catalog import Catalog

    tracer = trace_mod.Tracer()
    trace_mod.install_layers(tracer)
    try:
        # after the wrappers: the curation writer binds the dedup
        # functions when it is built
        side.prepare(Catalog(work_dir))
        first_exec = trace_mod.max_execution_id(spark)
        lat, traced_lat, attempted, failed = _loop(
            side, spark, math.inf, tracer, side.timed_ops
        )
    finally:
        tracer.uninstall()
    layers = _traced_layers(spark, tracer, first_exec, set())
    if trace_path:
        tracer.dump(trace_path)
    return {
        "attempted": attempted + len(side.warmup),
        "failed": failed + side.warmup.count(False),
        "layers": {k: layers[k] for k in side.layers},
        "self_s_min": layers["op.self_s_min"],
        "report": side.report(
            {k: lat.get(k, []) + traced_lat.get(k, []) for k in set(lat) | set(traced_lat)}
        ),
    }


def run_workload(
    spark,
    name: str,
    seed: int,
    seconds: float,
    trace: bool,
    work_dir: str,
    tiny: bool = False,
    max_ops: int | None = None,
    trace_path: str | None = None,
) -> dict:
    """Prepare, measure and check one workload. Returns the contract
    metrics (end-to-end, or per-layer when traced), a report of the
    named per-workload metrics, and the op counts."""
    workload = WORKLOADS[name](spark, seed, tiny)
    setup_s = _prepare(workload, work_dir)
    tracer = None
    if trace:
        tracer = trace_mod.Tracer()
        trace_mod.install_layers(tracer)
        first_exec = trace_mod.max_execution_id(spark)
    try:
        lat, traced_lat, attempted, failed = _loop(
            workload, spark, seconds, tracer, max_ops
        )
    finally:
        if tracer:
            tracer.uninstall()
    # the last (untimed) op reads the whole table back against the oracle
    attempted += 1
    try:
        ok = workload.verify_all()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        ok = False
    failed += not ok
    # the checked ops of the set-up count too
    attempted += len(workload.warmup)
    failed += workload.warmup.count(False)
    contract, report = workload.summarize(
        {k: lat.get(k, []) + traced_lat.get(k, []) for k in set(lat) | set(traced_lat)}
        if trace else lat
    )
    report["setup_s"] = (setup_s, "s")
    result = {
        "samples": {
            k: len(lat.get(k, [])) + len(traced_lat.get(k, []))
            for k in set(lat) | set(traced_lat)
        },
    }
    if not trace:
        metrics = dict(contract, setup_s=setup_s)
        result["metrics"] = {
            k: {"value": metrics[k], "unit": u} for k, u in END_TO_END_UNITS.items()
        }
    else:
        layers = _traced_layers(spark, tracer, first_exec, workload.filtered_kinds)
        layers["trace.overhead_ratio"] = overhead_ratio(lat, traced_lat)
        self_s_min = layers.pop("op.self_s_min")
        if trace_path:
            tracer.dump(trace_path)
        side = run_side(
            spark, workload.side_stream(), os.path.join(work_dir, "side"),
            trace_path and trace_path.replace(".json", "-side.json"),
        )
        attempted += side["attempted"]
        failed += side["failed"]
        layers.update(side["layers"])
        report.update(side["report"])
        self_s_min = min(self_s_min, side["self_s_min"])
        report["op.self_s_min"] = (self_s_min, "s")
        result["layers"] = layers
    report["failed_ops_ratio"] = (failed / attempted, "ratio")
    result.update(attempted=attempted, failed=failed)
    result["report"] = {k: {"value": v, "unit": u} for k, (v, u) in report.items()}
    return result
