"""Local no-Spark read path (localread.py — pypaimon table_read.py
parity): to_arrow / to_arrow_batch_reader / to_pandas / to_duckdb over
the same planner + pyarrow bucket readers the Spark paths use."""

from __future__ import annotations

import os
import subprocess
import sys

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


def _mk_pk(spark, warehouse, name="db.kv"):
    t = warehouse.create_table(
        name, KV, partition_keys=["pt"], primary_keys=["k", "pt"],
        options={"bucket": "4"},
    )
    t.write(spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "x"), (3, "c", "y"), (4, "d", "y")], KV))
    t.write(spark.createDataFrame([(2, "b2", "x"), (5, "e", "y")], KV))
    return t


def _rows(obj):
    if hasattr(obj, "to_pylist"):
        return sorted((r["k"], r["v"], r["pt"]) for r in obj.to_pylist())
    return sorted((r.k, r.v, r.pt) for r in obj.collect())


class TestToArrow:
    def test_pk_merge_parity_with_spark_path(self, spark, warehouse):
        t = _mk_pk(spark, warehouse)
        assert _rows(t.to_arrow()) == _rows(t.to_df(spark))
        assert _rows(t.to_arrow()) == [
            (1, "a", "x"), (2, "b2", "x"), (3, "c", "y"), (4, "d", "y"), (5, "e", "y"),
        ]

    def test_predicate_exact_not_just_pruning(self, spark, warehouse):
        t = _mk_pk(spark, warehouse)
        # v is not a stats-prunable key for file skipping within the
        # bucket; the local path must still apply the filter EXACTLY
        got = t.read_builder().with_filter(P.equal("v", "b2")).to_arrow()
        assert got.num_rows == 1 and got.to_pylist()[0]["k"] == 2
        # partition predicate prunes AND filters
        got = t.read_builder().with_filter(P.equal("pt", "y")).to_arrow()
        assert sorted(r["k"] for r in got.to_pylist()) == [3, 4, 5]

    def test_projection_limit_and_types(self, spark, warehouse):
        t = _mk_pk(spark, warehouse)
        rb = t.read_builder().with_projection(["v", "k"]).with_limit(2)
        got = rb.to_arrow()
        assert got.column_names == ["v", "k"]
        assert got.num_rows == 2
        import pyarrow as pa

        assert got.schema.field("k").type == pa.int64()

    def test_time_travel(self, spark, warehouse):
        t = _mk_pk(spark, warehouse)
        first = t.read_builder().with_snapshot(1).to_arrow()
        assert sorted(r["k"] for r in first.to_pylist()) == [1, 2, 3, 4]
        assert [r["v"] for r in first.to_pylist() if r["k"] == 2] == ["b"]

    def test_dv_table(self, spark, warehouse):
        t = warehouse.create_table(
            "db.dv", KV, primary_keys=["k", "pt"], partition_keys=["pt"],
            options={"bucket": "2", "deletion-vectors.enabled": "true"},
        )
        t.write(spark.createDataFrame(
            [(i, f"v{i}", "x") for i in range(10)], KV))
        t.delete(spark, P.isin("k", [2, 5, 7]))
        assert sorted(r["k"] for r in t.to_arrow().to_pylist()) == [0, 1, 3, 4, 6, 8, 9]
        assert _rows(t.to_arrow()) == _rows(t.to_df(spark))

    def test_schema_evolution(self, spark, warehouse):
        t = warehouse.create_table("db.ev", KV, primary_keys=["k", "pt"],
                                   partition_keys=["pt"], options={"bucket": "1"})
        t.write(spark.createDataFrame([(1, "a", "x")], KV))
        t.evolve_schema([{"action": "add_column", "name": "extra", "type": "bigint"}])
        t2 = warehouse.get_table("db.ev")
        t2.write(spark.createDataFrame(
            [(2, "b", "x", 42)], "k bigint, v string, pt string, extra bigint"))
        got = {r["k"]: r["extra"] for r in t2.to_arrow().to_pylist()}
        assert got == {1: None, 2: 42}

    def test_empty_table(self, spark, warehouse):
        t = warehouse.create_table("db.empty", KV)
        got = t.to_arrow()
        assert got.num_rows == 0 and got.column_names == ["k", "v", "pt"]

    def test_append_table(self, spark, warehouse):
        t = warehouse.create_table("db.ap", KV, partition_keys=["pt"])
        t.write(spark.createDataFrame([(1, "a", "x"), (1, "a", "x")], KV))
        assert t.to_arrow().num_rows == 2  # append keeps duplicates


class TestOtherSurfaces:
    def test_batch_reader_streams_and_matches(self, spark, warehouse):
        t = _mk_pk(spark, warehouse)
        rdr = t.read_builder().to_arrow_batch_reader()
        tbl = rdr.read_all()
        assert _rows(tbl) == _rows(t.to_arrow())
        # limit short-circuits
        rb = t.read_builder().with_limit(3)
        assert rb.to_arrow_batch_reader().read_all().num_rows == 3

    def test_to_pandas(self, spark, warehouse):
        t = _mk_pk(spark, warehouse)
        pdf = t.to_pandas()
        assert sorted(pdf["k"].tolist()) == [1, 2, 3, 4, 5]

    def test_to_duckdb(self, spark, warehouse):
        t = _mk_pk(spark, warehouse)
        con = t.read_builder().to_duckdb("kv")
        n, = con.sql("SELECT count(*) FROM kv WHERE pt = 'y'").fetchone()
        assert n == 3

    def test_raw_predicate_refused(self, spark, warehouse):
        t = _mk_pk(spark, warehouse)
        rb = t.read_builder().with_filter(P.raw(F.col("k") > 1))
        with pytest.raises(ValueError, match="local"):
            rb.to_arrow()

    def test_privileged_table_guards_local_reads(self, spark, warehouse):
        from flink_table_store_spark.privilege import (
            NoPrivilegeException,
            PrivilegedCatalog,
            init_file_based_privilege,
        )

        _mk_pk(spark, warehouse)
        init_file_based_privilege(warehouse, "rp")
        root = PrivilegedCatalog(warehouse, "root", "rp")
        root.create_privileged_user("u", "up")
        nobody = PrivilegedCatalog(type(warehouse)(warehouse.warehouse), "u", "up")
        with pytest.raises(NoPrivilegeException):
            nobody.get_table("db.kv").to_arrow()

    def test_truly_sparkless_subprocess(self, spark, warehouse):
        """The whole point: a fresh process that NEVER creates a
        SparkSession reads the table (incl. the PK merge) and gets the
        same rows. Guards against an accidental session dependency
        creeping into the local path."""
        t = _mk_pk(spark, warehouse)
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        script = f"""
import sys
sys.path.insert(0, {repo!r})
from flink_table_store_spark.catalog import Catalog
from flink_table_store_spark import predicate as P
from pyspark.sql import SparkSession
cat = Catalog({warehouse.warehouse!r})
t = cat.get_table("db.kv")
tbl = t.read_builder().with_filter(P.equal("pt", "x")).to_arrow()
assert SparkSession.getActiveSession() is None, "a SparkSession was created!"
print(sorted((r['k'], r['v']) for r in tbl.to_pylist()))
"""
        out = subprocess.run(
            [sys.executable, "-c", script], capture_output=True, text=True,
            timeout=120,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        assert out.stdout.strip() == "[(1, 'a'), (2, 'b2')]"


class TestLocalWrite:
    def test_write_arrow_roundtrip_no_spark(self, spark, warehouse):
        """Write via pyarrow only (subprocess, no session), read back on
        BOTH paths: upsert semantics must hold across runtimes."""
        t = _mk_pk(spark, warehouse, "db.w")
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        script = f"""
import sys
sys.path.insert(0, {repo!r})
import pyarrow as pa
from flink_table_store_spark.catalog import Catalog
from pyspark.sql import SparkSession
t = Catalog({warehouse.warehouse!r}).get_table("db.w")
t.write_arrow(pa.table({{"k": [2, 9], "v": ["b3", "i"], "pt": ["x", "y"]}}))
assert SparkSession.getActiveSession() is None
print("ok")
"""
        out = subprocess.run([sys.executable, "-c", script],
                             capture_output=True, text=True, timeout=120)
        assert out.returncode == 0, out.stderr[-2000:]
        expect = [(1, "a", "x"), (2, "b3", "x"), (3, "c", "y"), (4, "d", "y"),
                  (5, "e", "y"), (9, "i", "y")]
        t2 = warehouse.get_table("db.w")
        assert _rows(t2.to_arrow()) == expect
        assert _rows(t2.to_df(spark)) == expect

    def test_write_pandas_and_cast(self, spark, warehouse):
        import numpy as np
        import pandas as pd

        t = warehouse.create_table("db.pdw", KV, primary_keys=["k", "pt"],
                                   partition_keys=["pt"], options={"bucket": "2"})
        # int32 input must upcast to the table's bigint, not write narrow
        pdf = pd.DataFrame({"k": np.array([1, 2], dtype="int32"),
                            "v": ["a", "b"], "pt": ["x", "x"]})
        t.write_arrow(pdf)
        got = t.to_arrow()
        import pyarrow as pa

        assert got.schema.field("k").type == pa.int64()
        assert sorted(r["k"] for r in got.to_pylist()) == [1, 2]

    def test_overwrite_dynamic_partition(self, spark, warehouse):
        import pyarrow as pa

        t = warehouse.create_table("db.ow", KV, partition_keys=["pt"])
        t.write_arrow(pa.table({"k": [1, 2], "v": ["a", "b"], "pt": ["x", "y"]}))
        t.write_arrow(pa.table({"k": [9], "v": ["z"], "pt": ["x"]}), overwrite=True)
        assert _rows(t.to_arrow()) == [(2, "b", "y"), (9, "z", "x")]

    def test_column_mismatch_refused(self, spark, warehouse):
        import pyarrow as pa

        t = warehouse.create_table("db.cm", KV)
        with pytest.raises(ValueError, match="must match table columns"):
            t.write_arrow(pa.table({"k": [1], "v": ["a"]}))

    def test_privileged_guard(self, spark, warehouse):
        import pyarrow as pa

        from flink_table_store_spark.privilege import (
            NoPrivilegeException,
            PrivilegedCatalog,
            init_file_based_privilege,
        )

        warehouse.create_table("db.pg", KV)
        init_file_based_privilege(warehouse, "rp")
        root = PrivilegedCatalog(warehouse, "root", "rp")
        root.create_privileged_user("u", "up")
        root.grant_privilege("u", "SELECT", "db", "pg")
        u = PrivilegedCatalog(type(warehouse)(warehouse.warehouse), "u", "up")
        with pytest.raises(NoPrivilegeException):
            u.get_table("db.pg").write_arrow(
                pa.table({"k": [1], "v": ["a"], "pt": ["x"]}))


@pytest.mark.parametrize(
    "ddl, want",
    [
        ("struct<a:decimal(10,2),b:int>", "struct<a: decimal128(10, 2), b: int32>"),
        ("map<decimal(10,2),bigint>", "map<decimal128(10, 2), int64>"),
        (
            "struct<a:map<int,decimal(5,1)>,b:array<decimal(4,2)>>",
            "struct<a: map<int32, decimal128(5, 1)>, b: list<item: decimal128(4, 2)>>",
        ),
    ],
)
def test_arrow_type_commas_inside_decimal(ddl, want):
    from flink_table_store_spark.localread import _arrow_type

    assert str(_arrow_type(ddl)) == want


def test_decimal_inside_struct_and_map_round_trips_without_spark_job(spark, warehouse):
    """``write_arrow``, ``to_arrow()`` and the driver branch of
    ``to_df`` take a table with a decimal inside a struct and as a map
    key, and start no Spark job."""
    import decimal

    import pyarrow as pa

    ddl = "k bigint, s struct<a:decimal(10,2),b:int>, m map<decimal(10,2),bigint>"
    t = warehouse.create_table("db.nested_dec", ddl, primary_keys=["k"], options={"bucket": "2"})
    d = decimal.Decimal
    rows = [
        {"k": 1, "s": {"a": d("1.25"), "b": 7}, "m": [(d("2.50"), 3)]},
        {"k": 2, "s": None, "m": None},
        {"k": 3, "s": {"a": None, "b": None}, "m": [(d("-0.01"), 1), (d("9.99"), 2)]},
    ]
    schema = pa.schema(
        [
            ("k", pa.int64()),
            ("s", pa.struct([("a", pa.decimal128(10, 2)), ("b", pa.int32())])),
            ("m", pa.map_(pa.decimal128(10, 2), pa.int64())),
        ]
    )
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    t.write_arrow(pa.Table.from_pylist(rows, schema))
    t = t.refresh()
    got = t.to_arrow()
    # the driver branch's frame is a LocalRelation: collecting it starts
    # no job either, where the Spark branch's scan would
    collected = sorted(
        (r.asDict(recursive=True) for r in t.to_df(spark).collect()), key=lambda r: r["k"]
    )
    assert set(tracker.getJobIdsForGroup(None)) == before
    assert sorted(got.to_pylist(), key=lambda r: r["k"]) == rows
    assert [r["s"] for r in collected] == [
        {"a": d("1.25"), "b": 7}, None, {"a": None, "b": None}
    ]
    assert [r["m"] for r in collected] == [
        {d("2.50"): 3}, None, {d("-0.01"): 1, d("9.99"): 2}
    ]
