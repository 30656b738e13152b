"""Driver vs Spark branch of the byte bound, per table size.

``localread.LOCAL_READ_MAX_BYTES`` decides whether ``to_df`` reads, and
whether a deduplicate compaction rewrites, on the driver (the bucket
kernel, no Spark job) or in Spark. This tool measures both branches of
four operations on q1-shaped primary-key tables (4 buckets) of each
requested size, so the bound can be set from a crossover measured the
same way every time:

* key read        ``to_df(item_id = k).collect()``
* merged read     ``to_df().agg(sum(price)).collect()``
* universal       ``compact(full=False, trigger_runs=2)``
* full            ``compact(full=True)``

Each table is a fully compacted base of N rows plus two level-0 runs
that each update 10 % of the keys. Reads run on one table; each
compaction runs on a fresh copy of it. The bound is set to 1 TiB for
the driver branch and to 0 for the Spark branch. Spark runs on
``local[$SPARK_GRAFT_CPUS]`` (default 2); the printed ``bytes`` are the
data files the operation selects (the figure the bound is compared
with).

Usage: SPARK_GRAFT_CPUS=2 python tools/bench_driver_crossover.py [--reps 5] [rows ...]
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from flink_table_store_spark import localread  # noqa: E402
from flink_table_store_spark import predicate as P  # noqa: E402
from flink_table_store_spark.catalog import Catalog  # noqa: E402
from flink_table_store_spark.session import get_spark  # noqa: E402
from flink_table_store_spark.table import Table  # noqa: E402
from perfbench.workloads import Q1_DDL, q1_frame  # noqa: E402

BRANCHES = {"driver": 1 << 40, "spark": 0}


def _live(t):
    snap = t.snapshots.latest()
    return t.manifests.read_live_entries(snap.base_manifest_list, snap.delta_manifest_list)


def _build(spark, catalog, n: int) -> Table:
    t = catalog.create_table(
        f"db.q1_{n}", Q1_DDL, primary_keys=["item_id"], options={"bucket": "4"}
    )
    rng = np.random.default_rng(n)
    t.write(spark.createDataFrame(q1_frame(np.arange(n), 1, rng), Q1_DDL))
    t.refresh().compact(spark, full=True)
    for version in (2, 3):
        ids = np.sort(rng.choice(n, size=max(1, n // 10), replace=False))
        t.refresh().write(spark.createDataFrame(q1_frame(ids, version, rng), Q1_DDL))
    return t.refresh()


def _median_ms(fn, reps: int) -> float:
    times = []
    for i in range(reps + 1):  # the first call warms up
        t0 = time.perf_counter()
        fn(i)
        if i:
            times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1000


def _compaction(spark, t: Table, scratch: str, rewritten: list, **kwargs):
    """A run of ``kwargs`` compaction on a fresh copy of ``t``; appends
    the bytes of the files it rewrote to ``rewritten``."""
    def run(i: int) -> None:
        path = os.path.join(scratch, f"copy{time.monotonic_ns()}")
        shutil.copytree(t.path, path)
        copy = Table(path)
        before = {e.file_name: e.file_size for e in _live(copy)}
        copy.compact(spark, **kwargs)
        after = {e.file_name for e in _live(copy.refresh())}
        rewritten.append(sum(size for name, size in before.items() if name not in after))
        shutil.rmtree(path, ignore_errors=True)

    return run


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("rows", type=int, nargs="*", default=[2000, 8000, 16000, 32000])
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    spark = get_spark("driver-crossover", shuffle_partitions=int(os.environ["SPARK_GRAFT_CPUS"]))
    spark.sparkContext.setLogLevel("ERROR")
    scratch = tempfile.mkdtemp(prefix="crossover-")
    catalog = Catalog(os.path.join(scratch, "wh"))
    print(f"local[{spark.sparkContext.defaultParallelism}], median of {args.reps} runs, ms")
    print(f"{'rows':>7} {'op':<11} {'bytes':>9} {'driver':>8} {'spark':>8}")
    try:
        for n in args.rows:
            t = _build(spark, catalog, n)
            total = sum(e.file_size for e in _live(t))
            key = int(n // 2)
            key_bytes = sum(
                e.file_size
                for e in t.read_builder().with_filter(P.equal("item_id", key)).plan().entries
            )
            uni, full = [], []
            ops = {
                "key read": (
                    [key_bytes],
                    lambda i: t.to_df(spark, predicate=P.equal("item_id", key + i)).collect(),
                ),
                "merged": ([total], lambda i: t.to_df(spark).agg(F.sum("price")).collect()),
                # trigger_runs=2 picks the two level-0 runs of a bucket when
                # their sizes are within the 1 % size ratio, else all its runs
                "universal": (
                    uni, _compaction(spark, t, scratch, uni, full=False, trigger_runs=2)
                ),
                "full": (full, _compaction(spark, t, scratch, full, full=True)),
            }
            for name, (nbytes, fn) in ops.items():
                ms = {}
                for branch, bound in BRANCHES.items():
                    localread.LOCAL_READ_MAX_BYTES = bound
                    ms[branch] = _median_ms(fn, args.reps)
                print(
                    f"{n:>7} {name:<11} {max(nbytes):>9} {ms['driver']:>8.1f} {ms['spark']:>8.1f}",
                    flush=True,
                )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
