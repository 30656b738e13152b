"""The deduplicate / first-row winner fold (merge_engines.fold_winner).

- Tied sequences: two writers that staged the same sequence numbers on
  the same keys must still yield, per key, exactly ONE staged row,
  whole — on reads, full compaction and universal compaction, with the
  compaction folded on the driver and in Spark.
- Both branches of the one-shuffle gates (full compaction and the
  universal ``pre_part`` gate, keyed on ``defaultParallelism``) give
  the same rows, and the executed write plan has the expected number
  of exchanges on each side. These tables are small enough to compact
  on the driver, so the compactions run forced onto Spark.
"""

from __future__ import annotations

import contextlib
import re

import pytest
from pyspark import SparkContext

from flink_table_store_spark.write import max_sequence, stage_and_collect

ENGINES = ["deduplicate", "first-row"]
DDL = "k bigint, a bigint, b string"
N_KEYS = 200


def _stage_tied(spark, t, n=N_KEYS):
    """Two writers stage the same keys from the same base sequence, so
    key k carries the same ``_SEQUENCE_NUMBER`` in both runs, with
    different payloads; both then commit as level-0 runs."""
    latest = t.snapshots.latest()
    base = latest.next_sequence if latest else 0
    staged = []
    for w in (1, 2):
        rows = [(k, w * 1000 + k, f"w{w}") for k in range(n)]
        df = spark.createDataFrame(rows, DDL).coalesce(1)
        staged.append(stage_and_collect(df, t.path, t.schema, base_sequence=base))
    assert [(e.min_seq, e.max_seq) for e in staged[0]] == [
        (e.min_seq, e.max_seq) for e in staged[1]
    ]
    for entries in staged:
        t.committer.commit(
            entries, t.schema.id, next_sequence=max_sequence(entries) + 1
        )
    return t.refresh()


def _assert_whole_rows(rows, keys):
    assert sorted(r.k for r in rows) == sorted(keys), "one row per key"
    for r in rows:
        w = int(r.b[1:])
        assert r.a == w * 1000 + r.k, f"torn row {r}"


@pytest.mark.parametrize("engine", ENGINES)
def test_tied_sequence_winner_is_whole_row(spark, warehouse, spark_branch, engine):
    opts = {"bucket": "2", "merge-engine": engine}
    t = warehouse.create_table(f"db.tie_{engine}", DDL, primary_keys=["k"], options=opts)
    t = _stage_tied(spark, t)
    _assert_whole_rows(t.to_df(spark).collect(), range(N_KEYS))

    # each compaction folds on the driver, then forced onto Spark
    for branch, forced in (("driver", contextlib.nullcontext), ("spark", spark_branch)):
        full = warehouse.create_table(
            f"db.tie_full_{branch}_{engine}", DDL, primary_keys=["k"], options=opts
        )
        full = _stage_tied(spark, full)
        with forced():
            full.compact(spark, full=True)
        _assert_whole_rows(full.refresh().to_df(spark).collect(), range(N_KEYS))

        # universal: a whole-bucket pick (only the two tied runs) and a
        # partial pick (a big older run on other keys stays untouched)
        uni = warehouse.create_table(
            f"db.tie_uni_{branch}_{engine}", DDL, primary_keys=["k"], options=opts
        )
        uni = _stage_tied(spark, uni)
        with forced():
            uni.compact(spark, full=False, trigger_runs=2)
        _assert_whole_rows(uni.refresh().to_df(spark).collect(), range(N_KEYS))

        part = warehouse.create_table(
            f"db.tie_part_{branch}_{engine}", DDL, primary_keys=["k"], options=opts
        )
        old = [(k, k, "w0") for k in range(N_KEYS, N_KEYS + 5000)]
        part.write(spark.createDataFrame(old, DDL))
        part = _stage_tied(spark, part.refresh())
        n_runs = len(_live(part))
        with forced():
            part.compact(spark, full=False, trigger_runs=3)
        part = part.refresh()
        assert len(_live(part)) < n_runs, "universal compaction must rewrite runs"
        rows = part.to_df(spark).collect()
        _assert_whole_rows(rows, range(N_KEYS + 5000))


def _live(t):
    snap = t.snapshots.latest()
    return t.manifests.read_live_entries(
        snap.base_manifest_list, snap.delta_manifest_list
    )


def _write_exchanges(spark, fn) -> list[int]:
    """Run ``fn``; return, per data-file write it executed, the number
    of Exchange nodes in the final (executed) plan."""
    store = spark._jsparkSession.sharedState().statusStore()

    def newest_first():
        lst = store.executionsList()
        for i in range(lst.size() - 1, -1, -1):
            yield lst.apply(i)

    before = next((e.executionId() for e in newest_first()), -1)
    fn()
    counts = []
    for e in newest_first():
        if e.executionId() <= before:
            break
        tree = e.physicalPlanDescription().split("== Initial Plan ==")[0]
        if "WriteFiles" in tree:
            counts.append(len(re.findall(r"(?<![A-Za-z])Exchange \(\d+\)", tree)))
    return counts


def _gate_table(spark, warehouse, name, engine, n_writes):
    t = warehouse.create_table(
        name, DDL, primary_keys=["k"], options={"bucket": "2", "merge-engine": engine}
    )
    for i in range(n_writes):
        t.write(spark.createDataFrame([(k, i * 1000 + k, f"w{i}") for k in range(50)], DDL))
    return t.refresh()


@pytest.mark.parametrize("engine", ENGINES)
@pytest.mark.parametrize("full", [True, False], ids=["full", "universal"])
def test_one_shuffle_gate_both_branches(spark, warehouse, monkeypatch, spark_branch, engine, full):
    """1 partition x 2 buckets: ``defaultParallelism`` 1 takes the
    one-shuffle branch (one exchange on (partition, bucket), the fold
    and the write ride on it), a huge parallelism the two-shuffle one
    (fold keyed on the PK, then the write repartition)."""
    got = {}
    for parallelism, want_exchanges in ((1, 1), (10**6, 2)):
        name = f"db.gate_{engine.replace('-', '_')}_{int(full)}_{want_exchanges}"
        t = _gate_table(spark, warehouse, name, engine, n_writes=3)
        # patched around the compaction only: a huge parallelism would
        # also slice the test's own createDataFrame inputs
        with monkeypatch.context() as m, spark_branch():
            m.setattr(
                SparkContext, "defaultParallelism", property(lambda self: parallelism)
            )
            counts = _write_exchanges(
                spark, lambda: t.compact(spark, full=full, trigger_runs=2)
            )
        assert counts == [want_exchanges], (parallelism, counts)
        t = t.refresh()
        assert all(e.level > 0 for e in _live(t))
        got[parallelism] = sorted(map(tuple, t.to_df(spark).collect()))
    winner = 2 if engine == "deduplicate" else 0
    assert got[1] == got[10**6] == [(k, winner * 1000 + k, f"w{winner}") for k in range(50)]
