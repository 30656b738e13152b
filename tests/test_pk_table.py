"""Primary-key table tests: merge-on-read, merge engines, row-level ops,
compaction, incremental reads (SURVEY M2/M3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_table_store_spark import predicate as P

DDL = "k bigint, v string, n double"


def mkdf(spark, rows):
    return spark.createDataFrame(rows, DDL)


@pytest.fixture()
def t(spark, warehouse):
    return warehouse.create_table(
        "db.pk", DDL, primary_keys=["k"], options={"bucket": "2"}
    )


def test_upsert_last_wins(spark, t):
    t.write(mkdf(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    t.write(mkdf(spark, [(2, "b2", 2.5), (3, "c", 3.0)]))
    got = {r.k: (r.v, r.n) for r in t.to_df(spark).collect()}
    assert got == {1: ("a", 1.0), 2: ("b2", 2.5), 3: ("c", 3.0)}


def test_within_batch_last_wins(spark, t):
    # same key twice in one batch: input order decides (sequence number)
    df = spark.createDataFrame([(1, "first", 1.0), (1, "second", 2.0)], DDL).coalesce(1)
    t.write(df)
    [row] = t.to_df(spark).collect()
    assert row.v == "second"


def test_delete_rows_via_row_kind(spark, t):
    t.write(mkdf(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    t.delete(spark, P.equal("k", 1))
    assert [r.k for r in t.to_df(spark).collect()] == [2]


def test_update(spark, t):
    t.write(mkdf(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    t.update(spark, P.equal("k", 2), {"n": F.lit(99.0)})
    got = {r.k: r.n for r in t.to_df(spark).collect()}
    assert got == {1: 1.0, 2: 99.0}


def test_merge_into(spark, t):
    t.write(mkdf(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    src = mkdf(spark, [(2, "B", 20.0), (3, "C", 30.0)])
    t.merge_into(spark, src, on=["k"], when_matched_update="*")
    got = {r.k: r.v for r in t.to_df(spark).collect()}
    assert got == {1: "a", 2: "B", 3: "C"}


def test_merge_into_delete(spark, t):
    t.write(mkdf(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    src = mkdf(spark, [(1, "x", 0.0)])
    t.merge_into(spark, src, on=["k"], when_matched_delete=True, when_not_matched_insert=False)
    assert [r.k for r in t.to_df(spark).collect()] == [2]


@pytest.mark.slow
def test_compaction_preserves_and_reduces_files(spark, t):
    for i in range(4):
        t.write(mkdf(spark, [(j, f"v{i}", float(i)) for j in range(5)]))
    before = t.to_df(spark).orderBy("k").collect()
    snap = t.compact(spark, full=True)
    assert snap.commit_kind == "COMPACT"
    after = t.to_df(spark).orderBy("k").collect()
    assert before == after
    entries = t.manifests.read_live_entries(
        t.snapshots.latest().base_manifest_list, t.snapshots.latest().delta_manifest_list
    )
    by_bucket = {}
    for e in entries:
        by_bucket.setdefault(e.bucket, []).append(e)
    assert all(len(v) == 1 for v in by_bucket.values())


def test_upsert_after_compaction_still_wins(spark, t):
    t.write(mkdf(spark, [(1, "old", 1.0)]))
    t.compact(spark, full=True)
    t.write(mkdf(spark, [(1, "new", 2.0)]))
    [row] = t.to_df(spark).collect()
    assert row.v == "new"


def test_incremental_read(spark, t):
    t.write(mkdf(spark, [(1, "a", 1.0)]))
    t.write(mkdf(spark, [(2, "b", 2.0)]))
    t.write(mkdf(spark, [(1, "a3", 3.0)]))
    inc = t.incremental_read(spark, 1, 3)
    got = {r.k: r.v for r in inc.collect()}
    assert got == {1: "a3", 2: "b"}


def test_audit_log_rowkinds(spark, t):
    t.write(mkdf(spark, [(1, "a", 1.0)]))
    t.delete(spark, P.equal("k", 1))
    kinds = {r.rowkind for r in t.audit_log(spark).collect()}
    assert kinds == {"+I", "-D"}


def test_bucket_layout_is_stable(spark, t):
    t.write(mkdf(spark, [(i, "x", 0.0) for i in range(20)]))
    t.write(mkdf(spark, [(i, "y", 1.0) for i in range(20)]))
    snap = t.snapshots.latest()
    entries = t.manifests.read_live_entries(snap.base_manifest_list, snap.delta_manifest_list)
    # same key set written twice → same buckets touched; merged read has 20 rows
    assert {e.bucket for e in entries} <= {0, 1}
    assert t.to_df(spark).count() == 20
    assert all(r.v == "y" for r in t.to_df(spark).collect())


def test_aggregation_merge_engine(spark, warehouse):
    t = warehouse.create_table(
        "db.agg",
        "k bigint, s bigint, mx double, last string",
        primary_keys=["k"],
        options={
            "bucket": "2",
            "merge-engine": "aggregation",
            "fields.s.aggregate-function": "sum",
            "fields.mx.aggregate-function": "max",
            "fields.last.aggregate-function": "last_non_null_value",
        },
    )
    t.write(spark.createDataFrame([(1, 10, 5.0, "x"), (2, 1, 1.0, None)], "k bigint, s bigint, mx double, last string"))
    t.write(spark.createDataFrame([(1, 5, 3.0, None), (2, 2, 9.0, "z")], "k bigint, s bigint, mx double, last string"))
    got = {r.k: (r.s, r.mx, r.last) for r in t.to_df(spark).collect()}
    assert got == {1: (15, 5.0, "x"), 2: (3, 9.0, "z")}


def test_partial_update_engine(spark, warehouse):
    t = warehouse.create_table(
        "db.pu",
        "k bigint, a string, b string",
        primary_keys=["k"],
        options={"bucket": "2", "merge-engine": "partial-update"},
    )
    t.write(spark.createDataFrame([(1, "a1", None)], "k bigint, a string, b string"))
    t.write(spark.createDataFrame([(1, None, "b2")], "k bigint, a string, b string"))
    [row] = t.to_df(spark).collect()
    assert (row.a, row.b) == ("a1", "b2")


def test_first_row_engine(spark, warehouse):
    t = warehouse.create_table(
        "db.fr", DDL, primary_keys=["k"], options={"bucket": "2", "merge-engine": "first-row"}
    )
    t.write(mkdf(spark, [(1, "first", 1.0)]))
    t.write(mkdf(spark, [(1, "second", 2.0)]))
    [row] = t.to_df(spark).collect()
    assert row.v == "first"


@pytest.mark.filterwarnings("error::FutureWarning")
def test_schema_evolution(spark, warehouse):
    t = warehouse.create_table("db.evo", "k bigint, a string", primary_keys=["k"], options={"bucket": "1"})
    t.write(spark.createDataFrame([(1, "x")], "k bigint, a string"))
    t.evolve_schema(
        [
            {"action": "rename_column", "name": "a", "new_name": "a2"},
            {"action": "add_column", "name": "b", "type": "double"},
        ]
    )
    t.write(spark.createDataFrame([(2, "y", 2.0)], "k bigint, a2 string, b double"))
    got = {r.k: (r.a2, r.b) for r in t.to_df(spark).collect()}
    assert got == {1: ("x", None), 2: ("y", 2.0)}


def test_concurrent_writers_conflict_retry(spark, warehouse):
    """Two interleaved committers must serialize via snapshot CAS."""
    import threading

    t = warehouse.create_table("db.conc", DDL, primary_keys=["k"], options={"bucket": "1"})
    errs = []

    def work(i):
        try:
            tt = warehouse.get_table("db.conc")
            tt.write(mkdf(spark, [(i, f"w{i}", float(i))]))
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert t.snapshots.latest_id() == 4
    assert t.to_df(spark).count() == 4


def test_sequence_field_orders_versions(spark, warehouse):
    """sequence.field (T12): the user column defines version order —
    a later write with an OLDER version must not win."""
    t = warehouse.create_table(
        "db.seqf",
        "k bigint, v string, ver bigint",
        primary_keys=["k"],
        options={"bucket": "2", "sequence.field": "ver"},
    )
    t.write(spark.createDataFrame([(1, "new", 10), (2, "x", 5)], "k bigint, v string, ver bigint"))
    t.write(spark.createDataFrame([(1, "stale", 3), (2, "y", 7)], "k bigint, v string, ver bigint"))
    got = {r.k: (r.v, r.ver) for r in t.to_df(spark).collect()}
    assert got == {1: ("new", 10), 2: ("y", 7)}


def test_bloom_filter_option_roundtrip(spark, warehouse):
    t = warehouse.create_table(
        "db.bloom",
        "id bigint, s string",
        options={"file-index.bloom-filter.columns": "s"},
    )
    t.write(spark.createDataFrame([(i, f"s{i}") for i in range(100)], "id bigint, s string"))
    from flink_table_store_spark import predicate as P

    assert t.to_df(spark, predicate=P.equal("s", "s42")).count() == 1


def test_read_optimized_skips_level0(spark, warehouse):
    t = warehouse.create_table(
        "db.ro", "k bigint, v string", primary_keys=["k"], options={"bucket": "2"}
    )
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))
    t.compact(spark, full=True)
    t.write(spark.createDataFrame([(1, "a2"), (3, "c")], "k bigint, v string"))
    full = {r.k: r.v for r in t.to_df(spark).collect()}
    ro = {r.k: r.v for r in t.read_optimized(spark).collect()}
    assert full == {1: "a2", 2: "b", 3: "c"}
    assert ro == {1: "a", 2: "b"}  # stale-but-merge-free view
    assert t.system_table(spark, "ro").count() == 2


def test_rescale_changes_bucket_count(spark, warehouse):
    t = warehouse.create_table(
        "db.rescale", "k bigint, v double", primary_keys=["k"], options={"bucket": "2"}
    )
    t.write(spark.createDataFrame([(i, float(i)) for i in range(100)], "k bigint, v double"))
    t.rescale(spark, 8)
    snap = t.snapshots.latest()
    buckets = {
        e.bucket
        for e in t.manifests.read_live_entries(snap.base_manifest_list, snap.delta_manifest_list)
    }
    assert len(buckets) == 8
    assert t.to_df(spark).count() == 100
    # upserts after rescale land in the new layout and still dedup
    t.write(spark.createDataFrame([(5, -5.0)], "k bigint, v double"))
    assert {r.v for r in t.to_df(spark).where("k = 5").collect()} == {-5.0}


def test_analyze_statistics(spark, warehouse):
    t = warehouse.create_table("db.stats", "k bigint, s string")
    t.write(spark.createDataFrame([(i, None if i % 10 == 0 else f"s{i}") for i in range(100)], "k bigint, s string"))
    st = t.analyze(spark)
    assert st["rowCount"] == 100
    assert st["columns"]["s"]["nulls"] == 10
    assert abs(st["columns"]["k"]["ndv"] - 100) <= 5  # approx
    assert t.statistics()["rowCount"] == 100
    assert t.system_table(spark, "statistics").count() == 2


def test_aggregation_new_field_aggregators(spark, warehouse):
    t = warehouse.create_table(
        "db.agg2",
        "k bigint, bits array<int>, uniq binary, items array<struct<id:int,val:string>>",
        primary_keys=["k"],
        options={
            "bucket": "1",
            "merge-engine": "aggregation",
            "fields.bits.aggregate-function": "rbm32",
            "fields.uniq.aggregate-function": "theta_sketch",
            "fields.items.aggregate-function": "nested_update",
            "fields.items.nested-key": "id",
        },
    )
    from flink_table_store_spark.functions import sketches as S

    ddl = "k bigint, bits array<int>, uniq binary, items array<struct<id:int,val:string>>"
    t.write(
        spark.createDataFrame(
            [(1, [3, 1], S.theta_sketch_of(["a", "b"]), [(10, "x"), (11, "y")])], ddl
        )
    )
    t.write(
        spark.createDataFrame(
            [(1, [2, 1], S.theta_sketch_of(["b", "c"]), [(10, "x2"), (12, "z")])], ddl
        )
    )
    [row] = t.to_df(spark).collect()
    # rbm32: bitmap union == sorted distinct int set
    assert row.bits == [1, 2, 3]
    # nested_update with nested-key: latest version per id wins
    got = {e.id: e.val for e in row.items}
    assert got == {10: "x2", 11: "y", 12: "z"}
    # theta_sketch on a binary field: SERIALIZED DataSketches theta
    # sketches union (FieldThetaSketchAgg contract) — distinct {a,b,c}
    assert S.theta_estimate(bytes(row.uniq)) == 3.0


def test_theta_sketch_kmv_array_field(spark, warehouse):
    """array<bigint> theta_sketch fields hold REAL KMV sketches: the k
    smallest distinct hashes. Union keeps the k smallest; estimates are
    exact below k and within KMV error above it."""
    from pyspark.sql import functions as F

    from flink_table_store_spark.operators.merge_engines import (
        theta_sketch_build,
        theta_sketch_estimate,
    )

    k = 64
    t = warehouse.create_table(
        "db.theta_kmv",
        "g bigint, sk array<bigint>",
        primary_keys=["g"],
        options={
            "bucket": "1",
            "merge-engine": "aggregation",
            "fields.sk.aggregate-function": "theta_sketch",
            "fields.sk.theta-sketch.k": str(k),
        },
    )
    # two batches of pre-sketched values with overlap: 0..599 and 300..899
    for lo, hi in ((0, 600), (300, 900)):
        batch = (
            spark.range(lo, hi)
            .select(F.lit(1).alias("g"), F.col("id").alias("v"))
            .groupBy("g")
            .agg(theta_sketch_build("v", k).alias("sk"))
        )
        t.write(batch)
    [row] = t.to_df(spark).collect()
    assert len(row.sk) == k and row.sk == sorted(row.sk)  # k smallest, sorted
    est = (
        spark.createDataFrame([(list(row.sk),)], "sk array<bigint>")
        .select(theta_sketch_estimate("sk", k).alias("e"))
        .collect()[0]
        .e
    )
    assert 600 <= est <= 1350  # true distinct = 900; KMV rse ~ 1/sqrt(k-2)

    # exact below k: 10 distinct values -> estimate exactly 10
    small = (
        spark.range(0, 10)
        .select(F.lit(1).alias("g"), F.col("id").alias("v"))
        .groupBy("g")
        .agg(theta_sketch_build("v", k).alias("sk"))
        .select(theta_sketch_estimate("sk", k).alias("e"))
        .collect()[0]
        .e
    )
    assert small == 10.0


def test_aggregation_sum_retract_and_remove_on_delete(spark, warehouse):
    from flink_table_store_spark.schema import ROW_KIND

    t = warehouse.create_table(
        "db.agg3",
        "k bigint, s bigint",
        primary_keys=["k"],
        options={
            "bucket": "1",
            "merge-engine": "aggregation",
            "fields.s.aggregate-function": "sum",
            "aggregation.remove-record-on-delete": "true",
        },
    )
    t.write(spark.createDataFrame([(1, 10), (2, 7)], "k bigint, s bigint"))
    # -U retracts its payload from the sum (FieldSumAgg.retract)
    t.write(
        spark.createDataFrame([(1, 4, "-U")], "k bigint, s bigint, rk string"),
        row_kind_col="rk",
    )
    got = {r.k: r.s for r in t.to_df(spark).collect()}
    assert got == {1: 6, 2: 7}
    # trailing -D removes the whole record (remove-record-on-delete)
    t.write(
        spark.createDataFrame([(2, 0, "-D")], "k bigint, s bigint, rk string"),
        row_kind_col="rk",
    )
    got = {r.k: r.s for r in t.to_df(spark).collect()}
    assert got == {1: 6}


def test_value_filter_does_not_resurrect_old_versions(spark, warehouse):
    """Value-column stats pruning must act on whole buckets: per-file
    pruning could drop the newest version of a key and resurrect the
    older one (KeyValueFileStoreScan whole-bucket rule)."""
    t = warehouse.create_table(
        "db.vf", "k bigint, v bigint", primary_keys=["k"], options={"bucket": "1"}
    )
    t.write(spark.createDataFrame([(1, 10)], "k bigint, v bigint"))
    t.write(spark.createDataFrame([(1, 20)], "k bigint, v bigint"))
    assert t.to_df(spark, predicate=P.equal("v", 10)).collect() == []
    [r] = t.to_df(spark, predicate=P.equal("v", 20)).collect()
    assert (r.k, r.v) == (1, 20)
    # key predicates still prune per file; value predicates prune whole
    # non-matching buckets
    from flink_table_store_spark import read as read_mod

    t2 = warehouse.create_table(
        "db.vf2", "k bigint, v bigint", primary_keys=["k"], options={"bucket": "4"}
    )
    t2.write(spark.createDataFrame([(i, i * 10) for i in range(8)], "k bigint, v bigint"))
    snap = t2.snapshots.latest()
    es = t2.manifests.read_live_entries(snap.base_manifest_list, snap.delta_manifest_list)
    assert read_mod.plan_scan(es, t2.schema, P.equal("v", 30)).file_count() < len(es)
    assert read_mod.plan_scan(es, t2.schema, P.equal("k", 3)).file_count() < len(es)


def test_aggregation_collect_count_hll_compaction_associative(spark, warehouse):
    """collect concatenates input ARRAYS (FieldCollectAgg.java agg());
    count and binary hll_sketch stay correct ACROSS a compaction — the
    compacted row carries a partial result that must fold as a partial,
    not re-count/re-sketch as one new input (round-5 wrong-answer
    fixes)."""
    from pyspark.sql import functions as F

    t = warehouse.create_table(
        "db.agg_assoc",
        "k bigint, vs array<bigint>, ds array<bigint>, n bigint, h binary",
        primary_keys=["k"],
        options={
            "bucket": "1",
            "merge-engine": "aggregation",
            "fields.vs.aggregate-function": "collect",
            "fields.ds.aggregate-function": "collect_distinct",
            "fields.n.aggregate-function": "count",
            "fields.h.aggregate-function": "hll_sketch",
        },
    )
    ddl = "k bigint, vs array<bigint>, ds array<bigint>, n bigint, h binary"

    def row(vs, ds, lo, hi):
        sk = (
            spark.range(lo, hi)
            .agg(F.expr("hll_sketch_agg(id)").alias("h"))
            .collect()[0]
            .h
        )
        return (1, vs, ds, 1, bytes(sk))

    t.write(spark.createDataFrame([row([1, 2], [5, 6, 5], 0, 100)], ddl))
    t.write(spark.createDataFrame([row([3], [6, 7], 50, 200)], ddl))
    t = t.refresh()
    [r] = t.to_df(spark).collect()
    assert r.vs == [1, 2, 3] and r.ds == [5, 6, 7] and r.n == 2

    t.compact(spark)
    t = t.refresh()
    t.write(spark.createDataFrame([row([4], [5, 8], 150, 300)], ddl))
    t = t.refresh()
    [r] = t.to_df(spark).collect()
    assert r.vs == [1, 2, 3, 4], "collect must concatenate across a compaction"
    assert r.ds == [5, 6, 7, 8]
    assert r.n == 3, "count must fold the compacted partial count"
    est = (
        spark.createDataFrame([(bytes(r.h),)], "h binary")
        .select(F.expr("hll_sketch_estimate(h)").alias("e"))
        .collect()[0]
        .e
    )
    assert est == 300, "binary hll_sketch must UNION stored sketches"


def test_ignore_delete_option(spark, warehouse):
    """ignore-delete (CoreOptions.IGNORE_DELETE + per-engine fallback
    keys): -D/-U records drop at write, so a CDC stream carrying
    deletes cannot remove rows from the table."""
    from flink_table_store_spark.schema import ROW_KIND

    for opts in ({"ignore-delete": "true"},
                 {"merge-engine": "first-row", "first-row.ignore-delete": "true"}):
        name = "db.igd" + ("f" if "merge-engine" in opts else "d")
        t = warehouse.create_table(
            name, "k bigint, v string", primary_keys=["k"],
            options={"bucket": "1", **opts},
        )
        t.write(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))
        deletes = spark.createDataFrame(
            [(1, "a", "-D")], "k bigint, v string, _row_kind string")
        t.write(deletes, row_kind_col=ROW_KIND)
        got = sorted((r.k, r.v) for r in t.to_df(spark).collect())
        assert got == [(1, "a"), (2, "b")], (name, got)
    # without the option the same delete applies
    t2 = warehouse.create_table(
        "db.noigd", "k bigint, v string", primary_keys=["k"],
        options={"bucket": "1"},
    )
    t2.write(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))
    t2.write(spark.createDataFrame(
        [(1, "a", "-D")], "k bigint, v string, _row_kind string"),
        row_kind_col=ROW_KIND)
    assert [r.k for r in t2.to_df(spark).collect()] == [2]


def test_ignore_update_before_option(spark, warehouse):
    from flink_table_store_spark.schema import ROW_KIND

    t = warehouse.create_table(
        "db.iub", "k bigint, v string", primary_keys=["k"],
        options={"bucket": "1", "ignore-update-before": "true"},
    )
    t.write(spark.createDataFrame([(1, "a")], "k bigint, v string"))
    # a (-U old, +U new) CDC pair: -U drops, +U applies; -D still deletes
    t.write(spark.createDataFrame(
        [(1, "a", "-U"), (1, "a2", "+U"), (9, "z", "-D")],
        "k bigint, v string, _row_kind string"), row_kind_col=ROW_KIND)
    assert [(r.k, r.v) for r in t.to_df(spark).collect()] == [(1, "a2")]
    t.write(spark.createDataFrame(
        [(1, "x", "-D")], "k bigint, v string, _row_kind string"),
        row_kind_col=ROW_KIND)
    assert t.to_df(spark).count() == 0
