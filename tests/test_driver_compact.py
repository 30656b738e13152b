"""Both branches of compaction's byte bound.

A deduplicate or first-row compaction whose picked files total at most
``localread.LOCAL_READ_MAX_BYTES`` folds each (partition, bucket) with
the bucket reader on the driver and writes through the Arrow sink, with
no Spark job; ``spark_branch()`` (bound 0) forces the Spark rewrite.
Twin tables get the same writes, one compacts on each branch, and both
must then read the same rows and hold the same manifest
``(partition, bucket, level, row_count, min_seq, max_seq)`` multiset.
A full compaction compares without the sequence columns: its Spark
branch gives the rows fresh sequence numbers, the driver branch keeps
theirs (no older run survives in a rewritten bucket either way).
"""

from __future__ import annotations

import collections
import contextlib
import os
import random

import pandas as pd
import pyarrow.parquet as pq
import pytest

from flink_table_store_spark import predicate as P
from flink_table_store_spark.manifest import MAX_LEVEL

SCENARIOS = {
    # (runs of (first key, last key) written oldest first, compact kwargs)
    "whole": ([(0, 60), (30, 90)], {"full": False, "trigger_runs": 2}),
    "partial": ([(0, 2000), (0, 40), (20, 60)], {"full": False, "trigger_runs": 3}),
    "full": ([(0, 60), (30, 90), (10, 50)], {"full": True}),
}
ENGINES = {
    "deduplicate": {},
    "deduplicate_seq": {"sequence.field": "ver"},
    "first_row": {"merge-engine": "first-row"},
    "first_row_seq": {"merge-engine": "first-row", "sequence.field": "ver"},
}
DDL = "k bigint, v string, ver bigint"


def _write(spark, t, rows, ddl):
    """Write ``rows`` (the table's columns, then a row kind) as one
    driver-local frame, so both twins get the same sequence numbers."""
    names = [f.split()[0] for f in ddl.split(", ")] + ["rk"]
    pdf = pd.DataFrame.from_records(rows, columns=names)
    t.write(spark.createDataFrame(pdf, ddl + ", rk string"), row_kind_col="rk")
    return t.refresh()


def _live(t):
    snap = t.snapshots.latest()
    return t.manifests.read_live_entries(snap.base_manifest_list, snap.delta_manifest_list)


def _manifest(t, with_seq=True):
    return collections.Counter(
        (tuple(sorted(e.partition.items())), e.bucket, e.level, e.row_count)
        + ((e.min_seq, e.max_seq) if with_seq else ())
        for e in _live(t)
    )


def _rows(t, spark):
    return sorted(map(tuple, t.refresh().to_df(spark).collect()), key=repr)


def _jobs(spark, fn) -> set:
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    fn()
    return set(tracker.getJobIdsForGroup(None)) - before


def _compact_twins(spark, spark_branch, make, writes, **kwargs):
    """Build the twin tables with ``make(branch)`` and ``writes(t)``,
    compact one on the driver and one forced onto Spark; return them
    after checking which of them ran Spark jobs."""
    out = {}
    for branch, forced in (("driver", contextlib.nullcontext), ("spark", spark_branch)):
        t = writes(make(branch))
        n_files = len(_live(t))
        with forced():
            jobs = _jobs(spark, lambda: t.compact(spark, **kwargs))
        t = t.refresh()
        assert len(_live(t)) < n_files, "the compaction must rewrite runs"
        assert (branch == "spark") == bool(jobs), (branch, jobs)
        out[branch] = t
    return out["driver"], out["spark"]


@pytest.mark.parametrize("scenario", sorted(SCENARIOS))
@pytest.mark.parametrize("engine", sorted(ENGINES))
def test_driver_and_spark_compactions_agree(spark, warehouse, spark_branch, engine, scenario):
    runs, kwargs = SCENARIOS[scenario]
    opts = {"bucket": "2", **ENGINES[engine]}
    rng = random.Random(f"{engine}-{scenario}")
    batches = [
        [
            # out-of-order versions; every seventh key a retract
            (k, f"r{i}-{k}", rng.randint(0, 9), "-D" if (k + i) % 7 == 0 else "+I")
            for k in range(lo, hi)
        ]
        for i, (lo, hi) in enumerate(runs)
    ]

    def make(branch):
        return warehouse.create_table(
            f"db.agree_{engine}_{scenario}_{branch}", DDL, primary_keys=["k"], options=opts
        )

    def writes(t):
        for rows in batches:
            t = _write(spark, t, rows, DDL)
        return t

    driver, spark_side = _compact_twins(spark, spark_branch, make, writes, **kwargs)
    assert _rows(driver, spark) == _rows(spark_side, spark)
    full = kwargs["full"]
    assert _manifest(driver, not full) == _manifest(spark_side, not full)
    levels = {e.level for e in _live(driver)}
    assert levels == ({0} if scenario == "partial" else {MAX_LEVEL}), levels


def test_partitioned_default_and_escaped_partition_values(spark, warehouse, spark_branch):
    """String partition values ``None`` and ``''`` (both the default
    partition, read back as NULL) and ``'a/b'`` (an escaped directory)
    compact alike on both branches, for each kind of pick."""
    ddl = "k bigint, p string, v bigint"
    parts = [None, "", "a/b", "x"]
    for scenario, (runs, kwargs) in SCENARIOS.items():

        def make(branch, scenario=scenario):
            return warehouse.create_table(
                f"db.part_{scenario}_{branch}", ddl, primary_keys=["k", "p"],
                partition_keys=["p"], options={"bucket": "2"},
            )

        def writes(t, runs=runs):
            for i, (lo, hi) in enumerate(runs):
                rows = [
                    (k, parts[k % 4], i * 10**6 + k, "-D" if (k + i) % 5 == 0 else "+I")
                    for k in range(lo, min(hi, lo + 400))
                ]
                t = _write(spark, t, rows, ddl)
            return t

        driver, spark_side = _compact_twins(spark, spark_branch, make, writes, **kwargs)
        rows = _rows(driver, spark)
        assert rows == _rows(spark_side, spark), scenario
        assert {r[1] for r in rows} == {None, "a/b", "x"}, scenario
        full = kwargs["full"]
        assert _manifest(driver, not full) == _manifest(spark_side, not full), scenario


def test_deletion_vectors_and_map_column(spark, warehouse, spark_branch):
    """Deletion-vectored rows stay deleted through either rewrite, the
    rewritten files' vectors are dropped, and a ``map<string,bigint>``
    column round-trips."""
    ddl = "k bigint, m map<string,bigint>, v bigint"
    for scenario in ("whole", "full"):
        runs, kwargs = SCENARIOS[scenario]

        def make(branch, scenario=scenario):
            return warehouse.create_table(
                f"db.dvmap_{scenario}_{branch}", ddl, primary_keys=["k"],
                options={"bucket": "2", "deletion-vectors.enabled": "true"},
            )

        def writes(t, runs=runs):
            for i, (lo, hi) in enumerate(runs):
                rows = [
                    (k, {f"a{k % 3}": k, "b": i} if k % 4 else None, i, "+I")
                    for k in range(lo, hi)
                ]
                t = _write(spark, t, rows, ddl)
            # positions of every version of keys 40..44
            t._delete_with_dv(spark, P.between("k", 40, 44))
            t = t.refresh()
            assert t.snapshots.latest().dv_files
            return t

        driver, spark_side = _compact_twins(spark, spark_branch, make, writes, **kwargs)
        rows = _rows(driver, spark)
        assert rows == _rows(spark_side, spark), scenario
        keys = {r[0] for r in rows}
        assert not keys & set(range(40, 45)) and len(keys) == 85, scenario
        assert dict(next(r for r in rows if r[0] == 1)[1]) == {"a1": 1, "b": 0}
        dvs = [t.snapshots.latest().dv_files for t in (driver, spark_side)]
        assert dvs[0] == dvs[1] and not dvs[0], "every vectored file was rewritten"
        full = kwargs["full"]
        assert _manifest(driver, not full) == _manifest(spark_side, not full), scenario


def test_partial_pick_keeps_retract_winners(spark, warehouse):
    """A partial pick on the driver keeps ``-D`` winners at level 0 with
    their sequence numbers, so they still hide their keys' rows in the
    untouched older run."""
    t = warehouse.create_table(
        "db.partial_retract", "k bigint, v string", primary_keys=["k"], options={"bucket": "2"}
    )
    t = _write(spark, t, [(k, f"old{k}", "+I") for k in range(2000)], "k bigint, v string")
    t = _write(spark, t, [(k, None, "-D") for k in range(10)], "k bigint, v string")
    t = _write(spark, t, [(k, f"new{k}", "+I") for k in range(5, 15)], "k bigint, v string")

    def retracts(entries) -> dict:
        out = {}
        for e in entries:
            tbl = pq.read_table(os.path.join(t.path, e.file_name)).to_pydict()
            for k, kind, seq in zip(tbl["k"], tbl["_VALUE_KIND"], tbl["_SEQUENCE_NUMBER"]):
                if kind == "-D":
                    out[k] = seq
        return out

    before = retracts(_live(t))
    old = {e.file_name for e in _live(t) if e.row_count > 900}
    assert len(old) == 2 and sorted(before) == list(range(10))
    assert not _jobs(spark, lambda: t.compact(spark, full=False, trigger_runs=3))
    t = t.refresh()
    live = _live(t)
    assert old <= {e.file_name for e in live}, "the older run stays untouched"
    new = [e for e in live if e.file_name not in old]
    assert new and all(e.level == 0 for e in new)
    # keys 5..9 were deleted, then re-inserted by the newest run
    assert retracts(new) == {k: s for k, s in before.items() if k < 5}
    rows = dict(map(tuple, t.to_df(spark).collect()))
    assert len(rows) == 1995 and not set(range(5)) & set(rows)
    assert all(rows[k] == f"new{k}" for k in range(5, 15))


@pytest.mark.parametrize(
    "opts",
    [
        {"merge-engine": "partial-update"},
        {"merge-engine": "aggregation", "fields.v.aggregate-function": "sum"},
        {"file-index.bloom-filter.columns": "v"},
    ],
    ids=["partial-update", "aggregation", "bloom-index"],
)
def test_other_tables_compact_through_spark(spark, warehouse, opts):
    """The bucket reader refuses to rewrite partial-update and
    aggregation runs, so they compact in Spark; a bloom-indexed table
    folds on the driver and writes through the Spark sink. All three
    still compact to the right rows."""
    ddl = "k bigint, v bigint"
    name = opts.get("merge-engine", "bloom").replace("-", "_")
    t = warehouse.create_table(
        f"db.other_{name}", ddl, primary_keys=["k"], options={"bucket": "2", **opts}
    )
    for n, kwargs in enumerate(({"full": False, "trigger_runs": 2}, {"full": True})):
        for _ in range(3):
            t = _write(spark, t, [(k, 1, "+I") for k in range(50)], ddl)
        assert _jobs(spark, lambda: t.compact(spark, **kwargs))
        t = t.refresh()
        assert {e.level for e in _live(t)} == {MAX_LEVEL}
        want = 3 * (n + 1) if opts.get("merge-engine") == "aggregation" else 1
        assert sorted(map(tuple, t.to_df(spark).collect())) == [(k, want) for k in range(50)]


@pytest.mark.parametrize("pk", [True, False], ids=["pk", "append"])
def test_char_varchar_columns_read_and_compact(spark, warehouse, spark_branch, pk):
    """CHAR/VARCHAR columns read as STRING on both branches of ``to_df``
    and through both compactions on both branches."""
    ddl = "k bigint, v varchar(5), c char(3)"
    for branch, forced in (("driver", contextlib.nullcontext), ("spark", spark_branch)):
        t = warehouse.create_table(
            f"db.chars_{int(pk)}_{branch}", ddl, primary_keys=["k"] if pk else None,
            options={"bucket": "2"} if pk else None,
        )
        for i in range(3):
            t.write(spark.createDataFrame(
                [(k, f"v{i}", "ab") for k in range(5)], "k bigint, v string, c string"
            ))
        t = t.refresh()
        want = sorted((k, f"v{i}", "ab") for k in range(5) for i in ([2] if pk else range(3)))
        with forced():
            assert sorted(map(tuple, t.to_df(spark).collect())) == want
            t.compact(spark, full=False, trigger_runs=2)
            assert sorted(map(tuple, t.refresh().to_df(spark).collect())) == want
            t.refresh().compact(spark, full=True)
            assert sorted(map(tuple, t.refresh().to_df(spark).collect())) == want
