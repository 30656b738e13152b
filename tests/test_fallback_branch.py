"""scan.fallback-branch (FallbackReadFileStoreTable.java): partitions
missing from the main branch read from the fallback branch — the
main/backfill dual-branch deployment."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import types as T

from flink_table_store_spark import predicate as P

KV = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("pt", T.StringType()),
    ]
)


@pytest.fixture()
def dual(spark, warehouse):
    t = warehouse.create_table(
        "db.fb", KV, partition_keys=["pt"], primary_keys=["k", "pt"],
        options={"bucket": "2", "scan.fallback-branch": "backfill"},
    )
    # seed main so a branch point exists, then branch
    t.write(spark.createDataFrame([(40, "new-d", "z")], KV))
    t.create_branch("backfill")
    bt = t.use_branch("backfill")
    # backfill branch holds historical partitions x, y (plus inherited z)
    bt.write(spark.createDataFrame(
        [(1, "old-a", "x"), (2, "old-b", "x"), (3, "old-c", "y")], KV))
    # main gains a fresh y partition (overriding backfill's y)
    t.write(spark.createDataFrame([(30, "new-c", "y")], KV))
    return t, bt


def test_missing_partitions_read_from_fallback(spark, dual):
    t, _ = dual
    got = sorted((r.k, r.v, r.pt) for r in t.to_df(spark).collect())
    # x comes from backfill; y from MAIN only (present there); z from main
    assert got == [
        (1, "old-a", "x"), (2, "old-b", "x"),
        (30, "new-c", "y"), (40, "new-d", "z"),
    ]


def test_predicate_pushes_into_both_branches(spark, dual):
    t, _ = dual
    got = sorted(
        (r.k, r.pt)
        for r in t.to_df(spark, predicate=P.equal("pt", "x")).collect()
    )
    assert got == [(1, "x"), (2, "x")]
    got = t.to_df(spark, predicate=P.equal("pt", "y")).collect()
    assert [(r.k, r.v) for r in got] == [(30, "new-c")]


def test_writes_to_main_shadow_fallback(spark, dual):
    t, _ = dual
    # main gains partition x -> fallback's x disappears from the union
    t.write(spark.createDataFrame([(10, "new-a", "x")], KV))
    got = sorted((r.k, r.pt) for r in t.to_df(spark).collect())
    assert got == [(10, "x"), (30, "y"), (40, "z")]


def test_travel_and_limit_stay_single_branch(spark, dual):
    t, _ = dual
    one = t.to_df(spark, snapshot_id=1)
    assert sorted(r.pt for r in one.collect()) == ["z"]
    assert t.to_df(spark, limit=1).count() == 1


def test_file_creation_cutoff_stays_single_branch(spark, dual):
    """A cut plan would make main's partitions whose files all predate
    the cutoff (y) look absent and pull their rows in from the
    fallback; the cutoff reads the main branch only, like limit/TopN."""
    t, _ = dual
    cut = int(time.time() * 1000)
    time.sleep(0.01)
    t.write(spark.createDataFrame([(41, "newer-d", "z")], KV))
    got = t.read_builder().with_file_creation_time(cut).to_df(spark)
    assert sorted((r.k, r.pt) for r in got.collect()) == [(41, "z")]


def test_branch_itself_reads_plain(spark, dual):
    _, bt = dual
    assert bt.to_df(spark).count() == 4  # x,x,y + inherited z


def test_shared_schema_lineage_keeps_fallback_valid(spark, warehouse):
    """This engine shares one schema lineage across branches (the
    branch snapshot pins a schema_id), so a fallback pair can never
    diverge in columns — evolution through either handle is visible to
    both, and the union keeps working."""
    t = warehouse.create_table(
        "db.mm", KV, partition_keys=["pt"], primary_keys=["k", "pt"],
        options={"bucket": "1", "scan.fallback-branch": "b"},
    )
    t.write(spark.createDataFrame([(0, "seed", "s")], KV))
    t.create_branch("b")
    bt = t.use_branch("b")
    bt.evolve_schema([{"action": "add_column", "name": "extra", "type": "bigint"}])
    bt2 = warehouse.get_table("db.mm").use_branch("b")
    bt2.write(spark.createDataFrame(
        [(1, "a", "q", 5)], "k bigint, v string, pt string, extra bigint"))
    main = warehouse.get_table("db.mm")
    main.write(spark.createDataFrame(
        [(2, "b", "r", None)], "k bigint, v string, pt string, extra bigint"))
    got = sorted((r.k, r.pt, r.extra) for r in main.to_df(spark).collect())
    # q falls back to branch b; r and s read from main (s was seeded
    # pre-evolution: its extra is NULL by evolution read)
    assert got == [(0, "s", None), (1, "q", 5), (2, "r", None)]
