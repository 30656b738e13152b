"""Native format surface (S11/S13/S16 via the PySpark Python DataSource
API): parity of ``spark.read.format('ftss')`` / ``readStream`` /
``df.write.format('ftss')`` against the engine's own Python API, on PK,
append, DV, and schema-evolved tables (reference connector surface:
paimon-spark PaimonBaseScan.scala:66-71, sources/PaimonMicroBatchStream
.scala:33-78, commands/PaimonSparkWriter.scala)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_table_store_spark import predicate as P

KV = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("pt", T.StringType()),
    ]
)


def _rows(df, *cols):
    cols = cols or df.columns
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _parity(spark, table, path, **options):
    reader = spark.read.format("ftss")
    for k, v in options.items():
        reader = reader.option(k, v)
    fmt = reader.load(path)
    api = table.to_df(spark)
    assert fmt.columns == api.columns
    assert _rows(fmt) == _rows(api)
    return fmt


class TestBatchRead:
    @pytest.mark.slow
    def test_pk_merge_parity(self, spark, warehouse):
        t = warehouse.create_table(
            "db.kv", KV, partition_keys=["pt"], primary_keys=["k", "pt"],
            options={"bucket": "4"},
        )
        t.write(spark.createDataFrame([(1, "a", "x"), (2, "b", "x"), (3, "c", "y")], KV))
        t.write(spark.createDataFrame([(2, "b2", "x"), (4, "d", "y")], KV))
        fmt = _parity(spark, t, t.path)
        assert _rows(fmt, "k", "v") == [(1, "a"), (2, "b2"), (3, "c"), (4, "d")]

    def test_append_table_parity(self, spark, warehouse):
        t = warehouse.create_table("db.ap", KV, partition_keys=["pt"])
        t.write(spark.createDataFrame([(1, "a", "x"), (2, "b", "y")], KV))
        t.write(spark.createDataFrame([(1, "a2", "x")], KV))
        fmt = _parity(spark, t, t.path)
        assert len(fmt.collect()) == 3

    def test_dv_table_parity(self, spark, warehouse):
        t = warehouse.create_table(
            "db.dv", KV, primary_keys=["k"],
            options={"bucket": "2", "deletion-vectors.enabled": "true"},
        )
        t.write(spark.createDataFrame([(i, f"v{i}", "x") for i in range(20)], KV))
        t.compact(spark)  # single run → raw-convertible path
        t.delete(spark, P.less_than("k", 5))
        fmt = _parity(spark, warehouse.get_table("db.dv"), t.path)
        assert sorted(r.k for r in fmt.collect()) == list(range(5, 20))

    def test_schema_evolution_parity(self, spark, warehouse):
        t = warehouse.create_table("db.ev", KV, primary_keys=["k"], options={"bucket": "1"})
        t.write(spark.createDataFrame([(1, "a", "x")], KV))
        t.evolve_schema([
            {"action": "rename_column", "name": "v", "new_name": "val"},
            {"action": "add_column", "name": "w", "type": "double"},
        ])
        t = warehouse.get_table("db.ev")
        t.write(spark.createDataFrame(
            [(2, "b", "y", 1.5)], "k bigint, val string, pt string, w double"
        ))
        fmt = _parity(spark, t, t.path)
        got = {r.k: (r.val, r.w) for r in fmt.collect()}
        assert got == {1: ("a", None), 2: ("b", 1.5)}

    def test_time_travel_options(self, spark, warehouse):
        t = warehouse.create_table("db.tt", KV, primary_keys=["k"], options={"bucket": "1"})
        t.write(spark.createDataFrame([(1, "a", "x")], KV))
        t.write(spark.createDataFrame([(1, "a2", "x"), (2, "b", "x")], KV))
        t.create_tag("v1", snapshot_id=1)
        v1 = spark.read.format("ftss").option("version_as_of", "1").load(t.path)
        assert _rows(v1, "k", "v") == [(1, "a")]
        tag = spark.read.format("ftss").option("tag", "v1").load(t.path)
        assert _rows(tag, "k", "v") == [(1, "a")]
        assert _rows(spark.read.format("ftss").load(t.path), "k", "v") == [
            (1, "a2"), (2, "b"),
        ]

    @pytest.mark.slow
    def test_incremental_between_options(self, spark, warehouse):
        """The reference's incremental read options
        (SparkConnectorOptions incremental-between /
        -between-timestamp / -to-auto-tag) through the format reader:
        parity with Table.incremental_read on PK and append tables."""
        t = warehouse.create_table(
            "db.inc", KV, primary_keys=["k"], options={"bucket": "2"}
        )
        t.write(spark.createDataFrame([(1, "a", "x"), (2, "b", "x")], KV))
        t.write(spark.createDataFrame([(2, "b2", "x"), (3, "c", "y")], KV))
        t.write(spark.createDataFrame([(4, "d", "y")], KV))
        t = t.refresh()
        t.create_tag("snap2", snapshot_id=2)
        fmt = (
            spark.read.format("ftss")
            .option("incremental-between", "1,3")
            .load(t.path)
        )
        api = t.incremental_read(spark, 1, 3)
        assert _rows(fmt) == _rows(api)
        assert _rows(fmt, "k", "v") == [(2, "b2"), (3, "c"), (4, "d")]
        tag = (
            spark.read.format("ftss")
            .option("incremental-to-auto-tag", "snap2")
            .load(t.path)
        )
        assert _rows(tag, "k", "v") == [(2, "b2"), (3, "c")]
        ts2 = t.snapshots.load(2).time_millis
        by_ts = (
            spark.read.format("ftss")
            .option("incremental-between-timestamp", f"0,{ts2}")
            .load(t.path)
        )
        assert _rows(by_ts) == _rows(t.incremental_read(spark, 0, 2))
        # append table: each delta file reads raw
        ta = warehouse.create_table("db.inca", KV)
        ta.write(spark.createDataFrame([(1, "a", "x")], KV))
        ta.write(spark.createDataFrame([(2, "b", "y")], KV))
        fmt_a = (
            spark.read.format("ftss")
            .option("incremental-between", "1,2")
            .load(ta.path)
        )
        assert _rows(fmt_a, "k", "v") == [(2, "b")]

    def test_filter_pushdown_prunes_partitions(self, spark, warehouse):
        """The pushed WHERE reaches the planner: partition pruning drops
        the other partition's files from partitions() (and results stay
        correct because Spark re-applies every filter)."""
        from flink_table_store_spark.sources.datasource import (
            FtssReader,
            _filters_to_predicate,
        )
        from pyspark.sql.datasource import EqualTo, GreaterThan

        t = warehouse.create_table(
            "db.pr", KV, partition_keys=["pt"], primary_keys=["k", "pt"],
            options={"bucket": "2"},
        )
        t.write(spark.createDataFrame(
            [(i, f"v{i}", "x" if i % 2 else "y") for i in range(10)], KV
        ))
        r_all = FtssReader({"path": t.path}, KV)
        n_all = len(r_all.partitions())
        r_pruned = FtssReader({"path": t.path}, KV)
        r_pruned.pushFilters([EqualTo(("pt",), "x")])
        n_pruned = len(r_pruned.partitions())
        assert 0 < n_pruned < n_all
        # translation covers comparison shapes
        pred = _filters_to_predicate([EqualTo(("pt",), "x"), GreaterThan(("k",), 3)])
        assert pred.fields() == {"pt", "k"}
        got = _rows(
            spark.read.format("ftss").load(t.path).where("pt = 'x' AND k > 3"),
            "k",
        )
        assert got == [(5,), (7,), (9,)]

    def test_empty_table(self, spark, warehouse):
        t = warehouse.create_table("db.empty", KV, primary_keys=["k"])
        df = spark.read.format("ftss").load(t.path)
        assert df.count() == 0
        assert df.columns == ["k", "v", "pt"]


class TestWrite:
    def test_append_and_merge(self, spark, warehouse):
        t = warehouse.create_table(
            "db.w", KV, partition_keys=["pt"], primary_keys=["k", "pt"],
            options={"bucket": "4"},
        )
        spark.createDataFrame([(1, "a", "x"), (2, "b", "y")], KV) \
            .write.format("ftss").mode("append").save(t.path)
        spark.createDataFrame([(2, "b2", "y"), (3, "c", "x")], KV) \
            .write.format("ftss").mode("append").save(t.path)
        t = warehouse.get_table("db.w")
        assert _rows(t.to_df(spark), "k", "v") == [
            (1, "a"), (2, "b2"), (3, "c"),
        ]
        # format write buckets exactly like the engine writer: one more
        # engine-side write and the merge still lines up per bucket
        t.write(spark.createDataFrame([(3, "c2", "x")], KV))
        assert _rows(t.to_df(spark), "k", "v") == [
            (1, "a"), (2, "b2"), (3, "c2"),
        ]

    def test_bucket_layout_matches_engine_writer(self, spark, warehouse):
        """Same rows written via format and via Table.write land in the
        SAME buckets (the xxhash64 parity contract — a mismatch would
        split a key across buckets and corrupt merges)."""
        rows = [(i, f"v{i}", "x") for i in range(50)]
        ta = warehouse.create_table("db.ba", KV, primary_keys=["k"], options={"bucket": "8"})
        spark.createDataFrame(rows, KV).write.format("ftss").mode("append").save(ta.path)
        tb = warehouse.create_table("db.bb", KV, primary_keys=["k"], options={"bucket": "8"})
        tb.write(spark.createDataFrame(rows, KV))

        def layout(t):
            snap = t.snapshots.latest()
            es = t.manifests.read_live_entries(snap.base_manifest_list, snap.delta_manifest_list)
            out = {}
            for e in es:
                out.setdefault(e.bucket, 0)
                out[e.bucket] += e.row_count
            return out

        assert layout(warehouse.get_table("db.ba")) == layout(warehouse.get_table("db.bb"))

    def test_overwrite_dynamic_partitions(self, spark, warehouse):
        t = warehouse.create_table("db.ow", KV, partition_keys=["pt"])
        t.write(spark.createDataFrame([(1, "a", "x"), (2, "b", "y")], KV))
        spark.createDataFrame([(9, "z", "x")], KV) \
            .write.format("ftss").mode("overwrite").save(t.path)
        # partition x replaced, partition y untouched (INSERT OVERWRITE
        # dynamic semantics)
        assert _rows(warehouse.get_table("db.ow").to_df(spark), "k", "v", "pt") == [
            (2, "b", "y"), (9, "z", "x"),
        ]

    def test_overwrite_unpartitioned_truncates(self, spark, warehouse):
        t = warehouse.create_table("db.ow2", KV, primary_keys=["k"], options={"bucket": "1"})
        t.write(spark.createDataFrame([(1, "a", "x")], KV))
        spark.createDataFrame([(7, "g", "z")], KV) \
            .write.format("ftss").mode("overwrite").save(t.path)
        assert _rows(warehouse.get_table("db.ow2").to_df(spark), "k") == [(7,)]

    def test_write_guards(self, spark, warehouse):
        dyn = warehouse.create_table("db.dyn", KV, primary_keys=["k"], options={"bucket": "-1"})
        with pytest.raises(Exception, match="table.write"):
            spark.createDataFrame([(1, "a", "x")], KV) \
                .write.format("ftss").mode("append").save(dyn.path)


class TestStreamRead:
    @pytest.mark.slow
    def test_full_then_deltas_across_restart(self, spark, warehouse):
        t = warehouse.create_table("db.s", KV, primary_keys=["k"], options={"bucket": "2"})
        t.write(spark.createDataFrame([(1, "a", "x"), (2, "b", "x")], KV))
        ckpt, out = tempfile.mkdtemp(), tempfile.mkdtemp()

        def drain():
            q = (
                spark.readStream.format("ftss").load(t.path)
                .writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)
            return _rows(spark.read.parquet(out), "k", "v")

        assert drain() == [(1, "a"), (2, "b")]
        t.write(spark.createDataFrame([(2, "b2", "x"), (3, "c", "x")], KV))
        t.compact(spark)  # COMPACT snapshots add no stream rows
        t.write(spark.createDataFrame([(4, "d", "x")], KV))
        assert drain() == [
            (1, "a"), (2, "b"), (2, "b2"), (3, "c"), (4, "d"),
        ]

    @pytest.mark.slow
    def test_from_snapshot_mode_and_consumer(self, spark, warehouse):
        t = warehouse.create_table("db.s2", KV, primary_keys=["k"], options={"bucket": "1"})
        t.write(spark.createDataFrame([(1, "a", "x")], KV))
        t.write(spark.createDataFrame([(2, "b", "x")], KV))
        ckpt, out = tempfile.mkdtemp(), tempfile.mkdtemp()
        q = (
            spark.readStream.format("ftss")
            .option("scan.mode", "from-snapshot")
            .option("scan.snapshot-id", "2")
            .option("consumer-id", "c1")
            .load(t.path)
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        assert _rows(spark.read.parquet(out), "k", "v") == [(2, "b")]
        # consumer cursor mirrored for expiry safety (T11). Spark's
        # single-batch availableNow fallback may stop before invoking
        # commit(), so drive the callback directly.
        from flink_table_store_spark.sources.datasource import FtssStreamReader

        FtssStreamReader({"path": t.path, "consumer-id": "c1"}, KV).commit(
            {"snapshot": 2, "full": False}
        )
        assert t.snapshots.read_consumer("c1") == 3

    def test_stream_delta_parity_with_snapshot_stream(self, spark, warehouse):
        """One micro-batch over snapshots (1, 3] equals the engine's own
        SnapshotStream deltas for snapshots 2+3 (merged per snapshot
        range, -D dropped)."""
        from flink_table_store_spark.sources.datasource import FtssStreamReader
        import pyarrow as pa

        t = warehouse.create_table("db.s3", KV, primary_keys=["k"], options={"bucket": "2"})
        t.write(spark.createDataFrame([(1, "a", "x")], KV))
        t.write(spark.createDataFrame([(2, "b", "x"), (3, "c", "x")], KV))
        t.write(spark.createDataFrame([(3, "c2", "x")], KV))
        r = FtssStreamReader({"path": t.path}, KV)
        parts = r.partitions({"snapshot": 1, "full": False}, {"snapshot": 3, "full": False})
        rows = []
        for p in parts:
            for b in r.read(p):
                rows.extend(pa.Table.from_batches([b]).to_pylist())
        got = sorted((x["k"], x["v"]) for x in rows)
        assert got == [(2, "b"), (3, "c2")]
        # empty range → no partitions
        assert r.partitions({"snapshot": 3, "full": False}, {"snapshot": 3, "full": False}) == []


class TestWriteGuardTypes:
    def test_interval_bucket_key_rejected_at_plan_time(self, spark, warehouse):
        """Base-token match, not prefix: an `interval day` bucket key
        must not slip past the guard on the 'int' prefix and fail
        mid-task in spark_xxhash64 (round-7 advisory)."""
        import pytest as _pytest
        from pyspark.sql import types as T

        sch = T.StructType(
            [
                T.StructField("k", T.DayTimeIntervalType(0, 0)),
                T.StructField("v", T.StringType()),
            ]
        )
        t = warehouse.create_table(
            "db.iv", sch, primary_keys=["k"], options={"bucket": "2"}
        )
        df = spark.createDataFrame(
            [(__import__("datetime").timedelta(days=1), "a")], sch
        )
        with _pytest.raises(Exception, match="Spark-side hash|table.write"):
            df.write.format("ftss").mode("append").save(t.path)

    def test_parenthesized_unsupported_type_rejected(self, spark, warehouse):
        """The base-token split must see through parentheses: a
        decimal(10,2) bucket key is rejected with the plan-time error,
        not a crash in the tokenizer."""
        import pytest as _pytest
        from pyspark.sql import types as T

        sch = T.StructType(
            [
                T.StructField("k", T.DecimalType(10, 2)),
                T.StructField("v", T.StringType()),
            ]
        )
        t = warehouse.create_table(
            "db.dec", sch, primary_keys=["k"], options={"bucket": "2"}
        )
        from decimal import Decimal

        df = spark.createDataFrame([(Decimal("1.50"), "a")], sch)
        with _pytest.raises(Exception, match="Spark-side hash|table.write"):
            df.write.format("ftss").mode("append").save(t.path)


@pytest.mark.slow
def test_scan_option_spellings(spark, warehouse):
    """CoreOptions travel spellings on the format surface:
    scan.snapshot-id / scan.tag-name / scan.version /
    scan.file-creation-time-millis."""
    t = warehouse.create_table("db.scanopt", "k bigint, v string")
    t.write(spark.createDataFrame([(1, "a")], "k bigint, v string"))
    t.write(spark.createDataFrame([(2, "b")], "k bigint, v string"))
    t.create_tag("rel-1", snapshot_id=1)

    def rd(k, v):  # a FRESH reader each time: .option() mutates
        return spark.read.format("ftss").option(k, v).load(t.path)

    assert rd("scan.snapshot-id", "1").count() == 1
    assert rd("scan.tag-name", "rel-1").count() == 1
    # scan.version: numeric existing snapshot, else tag name
    assert rd("scan.version", "2").count() == 2
    assert rd("scan.version", "rel-1").count() == 1
    # file-creation filter: a future cutoff drops every file
    import time

    cut = int(time.time() * 1000) + 60_000
    assert rd("scan.file-creation-time-millis", str(cut)).count() == 0
    assert rd("scan.file-creation-time-millis", "0").count() == 2


def test_with_file_creation_time_builder(spark, warehouse):
    import time

    t = warehouse.create_table("db.fct", "k bigint")
    t.write(spark.createDataFrame([(1,)], "k bigint"))
    old_cut = int(time.time() * 1000)
    time.sleep(0.01)
    t.write(spark.createDataFrame([(2,)], "k bigint"))
    rb = t.read_builder().with_file_creation_time(old_cut)
    rows = sorted(r["k"] for r in rb.to_arrow().to_pylist())
    assert rows == [2]  # only the file created after the cutoff
    # the Spark read plans the same cutoff
    assert sorted(r.k for r in rb.to_df(spark).collect()) == [2]
