"""Table-store benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload upsert_stream --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. It starts one local Spark session
(``local[nproc / 2]``), runs the host canary, prepares the workload's table
state three times (``setup_s`` is the median; the first also runs the
untimed warm-up rounds), runs the closed loop for ``--seconds`` and then
to the end of the round in progress, and checks every result against
the generator's oracle.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is the per-workload report with the named metrics.
Everything the run writes goes under ``.perfbench_work/`` in the
checkout; traced runs leave their spans in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOAD_NAMES = ("upsert_stream", "pk_read_mix")


def _configure_env(run_dir: str, cpus: int) -> None:
    """Keep every file the run writes inside the checkout and size the
    session for this host (the package's 16g driver default does not fit
    a small machine)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(mem_gb // 4)))}g",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={tmp}" pyspark-shell'
        ),
    })


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _number(v: float) -> float | None:
    return None if v is None or (isinstance(v, float) and math.isnan(v)) else v


def _layer_value(v: float | None) -> float:
    """A per-layer figure the run could not measure (no op of its kind)
    reads 0."""
    return v if v is not None and math.isfinite(v) else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    # Spark task threads on half the cores: the client, the JVM's GC and
    # JIT threads and other tenants of a shared host get the rest, so a
    # job does not wait on a descheduled task thread
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    # the checkout root, not this directory, leads the import path (a
    # module here must not shadow a standard one)
    sys.path[0] = ROOT
    try:
        import flink_table_store_spark  # noqa: F401  the program under test
    except ImportError as exc:
        print(f"perfbench: the table store package is not here: {exc}", file=sys.stderr)
        return 2
    _configure_env(run_dir, cpus)
    from perfbench import harness
    from perfbench.trace import PER_LAYER_UNITS

    spark = None
    try:
        spark, session_s = harness.start_spark()
        canary_s = harness.host_canary(spark, cpus)
        trace_path = None
        if args.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            trace_path = os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.json"
            )
        res = harness.run_workload(
            spark, args.workload, args.seed, args.seconds, bool(args.trace),
            os.path.join(run_dir, "wh"), trace_path=trace_path,
        )
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    report = dict(res["report"])
    report["spark.session_start_s"] = {"value": session_s, "unit": "s"}
    report["host.canary_s"] = {"value": canary_s, "unit": "s"}
    if args.trace:
        layers = dict(res["layers"])
        layers["spark.session_start_s"] = session_s
        layers["host.canary_s"] = canary_s
        metrics = {
            k: {"value": _layer_value(layers.get(k)), "unit": u}
            for k, u in PER_LAYER_UNITS.items()
        }
    else:
        metrics = {k: dict(v, value=_number(v["value"])) for k, v in res["metrics"].items()}
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "samples": res["samples"],
        "report": {k: dict(v, value=_number(v["value"])) for k, v in report.items()},
    }))
    failed = res["failed"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
