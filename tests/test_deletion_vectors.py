"""Deletion vectors (P10): positional deletes without file rewrites."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_table_store_spark import predicate as P


@pytest.fixture()
def t(spark, warehouse):
    df = spark.createDataFrame(
        [(i, f"u{i % 3}", float(i)) for i in range(100)], "id bigint, pt string, v double"
    )
    table = warehouse.create_table(
        "db.dv",
        df.schema,
        partition_keys=["pt"],
        options={"deletion-vectors.enabled": "true"},
    )
    table.write(df)
    return table


def _files(t):
    snap = t.snapshots.latest()
    return {
        os.path.basename(e.file_name)
        for e in t.manifests.read_live_entries(snap.base_manifest_list, snap.delta_manifest_list)
    }


def test_dv_delete_no_rewrite(spark, t):
    before = _files(t)
    snap = t.delete(spark, P.less_than("id", 10))
    assert _files(t) == before  # no data file touched
    assert snap.dv_files, "DV sidecar recorded in snapshot"
    # delete-row count recorded at commit (reference DataFileMeta
    # deleteRowCount): row_count() never re-reads the DV files
    assert snap.dv_row_count == 10
    got = t.to_df(spark)
    assert got.count() == 90
    assert got.agg(F.min("id")).collect()[0][0] == 10


def test_dv_delete_idempotent_and_stacking(spark, t):
    t.delete(spark, P.less_than("id", 10))
    s2 = t.delete(spark, P.less_than("id", 10))  # no new matches
    assert t.snapshots.latest_id() == s2.id
    t.delete(spark, P.greater_or_equal("id", 95))
    assert t.to_df(spark).count() == 85
    assert len(t.snapshots.latest().dv_files) == 2


def test_limit_counts_live_rows_not_file_rows(spark, warehouse):
    """Limit pushdown stops planning once file row counts cover the
    limit; under DVs those counts overcount the live rows, so a limited
    read must still return ``limit`` rows while that many are live."""
    table = warehouse.create_table(
        "db.dvlim", "id bigint", options={"deletion-vectors.enabled": "true"}
    )
    for lo in (0, 10):  # two files of 10 rows
        table.write(spark.range(lo, lo + 10).coalesce(1))
    table.delete(spark, P.less_than("id", 8))
    table.delete(spark, P.between("id", 10, 17))  # 2 live rows per file
    assert table.snapshots.latest().dv_files
    rb = table.read_builder().with_limit(3)
    assert rb.to_arrow().num_rows == 3
    assert len(rb.to_pandas()) == 3
    assert rb.to_df(spark).count() == 3


def test_dv_time_travel_sees_undeleted(spark, t):
    t.delete(spark, P.equal("id", 50))
    assert t.to_df(spark).count() == 99
    assert t.to_df(spark, snapshot_id=1).count() == 100  # DV scoped per snapshot


def test_dv_count_stats(spark, t):
    assert t.count_rows() == 100
    t.delete(spark, P.less_than("id", 20))
    assert t.count_rows() == 80  # exact: manifest total minus live DV rows
    assert t.min_max("id") is None  # stats unsafe under DV


def test_compaction_materializes_dv(spark, t):
    t.delete(spark, P.less_than("id", 10))
    t.write(spark.createDataFrame([(1000, "u0", 0.0)], "id bigint, pt string, v double"))
    t.compact(spark, full=True)
    snap = t.snapshots.latest()
    assert snap.dv_files == []  # all DV'd files rewritten → consolidated away
    assert t.to_df(spark).count() == 91
    assert t.to_df(spark).agg(F.min("id")).collect()[0][0] == 10


def test_dv_files_survive_orphan_cleanup(spark, t):
    t.delete(spark, P.equal("id", 3))
    removed = t.remove_orphan_files(older_than_millis=10**15)
    assert removed == []
    assert t.to_df(spark).count() == 99


def test_cow_update_applies_dv(spark, t):
    t.delete(spark, P.less_than("id", 98))
    t.update(spark, P.equal("id", 99), {"v": F.lit(-1.0)})
    rows = sorted((r.id, r.v) for r in t.to_df(spark).collect())
    assert rows == [(98, 98.0), (99, -1.0)]


def test_concurrent_dv_commit_not_overwritten(spark, warehouse):
    """ADVICE r2: a DV delete that loses the snapshot CAS race to a
    concurrent DV commit must re-derive its replacement set against the
    winner — not silently drop the winner's DV file."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id bigint, v double"
    )
    t = warehouse.create_table(
        "db.dvrace", df.schema, options={"deletion-vectors.enabled": "true"}
    )
    t.write(df)
    t = t.refresh()

    orig_try = t.committer.snapshots.try_commit
    state = {"raced": False}

    def flaky_try_commit(snap):
        if not state["raced"]:
            state["raced"] = True
            # a concurrent writer lands its own DV delete first …
            warehouse.get_table("db.dvrace").delete(spark, P.equal("id", 1))
            return False  # … and we lose the CAS race
        return orig_try(snap)

    t.committer.snapshots.try_commit = flaky_try_commit
    t.delete(spark, P.equal("id", 2))
    t = t.refresh()
    snap = t.snapshots.latest()
    assert len(snap.dv_files) == 2, "both DV files must survive the race"
    rows = {r.id for r in t.to_df(spark).collect()}
    assert rows == set(range(20)) - {1, 2}
    # recorded delete-row count reflects BOTH deletes
    assert snap.dv_row_count == 2


def test_delete_force_produce_changelog(spark, warehouse):
    """delete.force-produce-changelog: an append-table DELETE persists
    -D changelog rows (none are produced otherwise)."""
    from flink_table_store_spark import predicate as P
    from flink_table_store_spark.streaming.changelog import persisted_changelog

    t = warehouse.create_table(
        "db.dfc", "k bigint, v string",
        options={"delete.force-produce-changelog": "true"},
    )
    t.write(spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k bigint, v string"
    ))
    snap = t.delete(spark, P.less_than("k", 3))
    cl = persisted_changelog(spark, t, snap.id)
    rows = sorted((r.rowkind, r.k) for r in cl.collect())
    assert rows == [("-D", 0), ("-D", 1), ("-D", 2)]
    # remaining data intact
    assert t.refresh().to_df(spark).count() == 7
    # partition-only (metadata) deletes produce changelog too
    t2 = warehouse.create_table(
        "db.dfc2", "k bigint, p string", partition_keys=["p"],
        options={"delete.force-produce-changelog": "true"},
    )
    t2.write(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, p string"))
    snap2 = t2.delete(spark, P.equal("p", "a"))
    cl2 = persisted_changelog(spark, t2, snap2.id)
    assert [(r.rowkind, r.k) for r in cl2.collect()] == [("-D", 1)]


def test_data_file_prefix(spark, warehouse):
    import os
    import pyarrow as pa

    t = warehouse.create_table(
        "db.dfp", "k bigint, v string",
        options={"data-file.prefix": "part-"},
    )
    t.write(spark.createDataFrame([(1, "a")], "k bigint, v string"))
    t.write_arrow(pa.table({"k": [2], "v": ["b"]}))
    names = [
        n
        for _r, _d, files in os.walk(os.path.join(t.path, "data"))
        for n in files
        if n.endswith(".parquet")
    ]
    assert names and all(n.startswith("part-") for n in names)
    assert t.to_df(spark).count() == 2
