"""Plan construction cost in the Python client (performance contract).

Every PySpark ``Column`` call is several py4j round-trips to the JVM,
so code that builds one ``Column`` per table column makes the fixed
cost of every commit, key read and compaction grow with the schema
width. The engine builds its hot-path plans from SQL strings
instead; these tests pin that:

- round-trip budgets for a PK key-read plan (``to_df`` forced onto
  its Spark branch), a driver-branch key read with its ``collect()``,
  a one-row commit (from
  a row list, which the Spark sink writes, and from a pandas frame,
  which the Arrow sink writes) and a universal compaction on a
  q1-shaped table (11 columns, PK ``item_id``, 4 buckets), and the
  same counts on a table three times as wide;
- the ``parse_type`` memo (equal to the JVM parser, no shared mutable
  state, zero round-trips for a repeated ``spark_schema()``);
- both branches of the ``_cast_to_schema`` fast path.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import threading

import pandas as pd
import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import types as T

from flink_table_store_spark import predicate as P
from flink_table_store_spark.schema import from_spark_schema, parse_type
from flink_table_store_spark.write import _cast_to_schema

LONGS = [
    "item_id", "category_id", "seller_id", "price", "quantity",
    "stock", "views", "rating", "version",
]


def _ddl(extra_longs: int = 0) -> str:
    cols = LONGS + [f"extra_{i}" for i in range(extra_longs)]
    return ", ".join(f"{c} bigint" for c in cols) + ", item_name string, ts timestamp"


def _rows(keys, version: int, width: int):
    ts = dt.datetime(2024, 1, 1) + dt.timedelta(minutes=version)
    return [
        (k,) + tuple(version * 10 + i for i in range(width - 3)) + (f"item-{k}", ts)
        for k in keys
    ]


@contextlib.contextmanager
def _count_round_trips(monkeypatch):
    """Counts py4j commands this thread sends while the block runs.
    Releases of Python-side proxies go out from py4j's finalizer thread
    whenever it gets to them, off the caller's path: not counted."""
    n = [0]
    send = ClientServerConnection.send_command
    caller = threading.get_ident()

    def counting(self, command):
        if threading.get_ident() == caller:
            n[0] += 1
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        yield n


def _second_call_cost(monkeypatch, fn) -> int:
    """Round-trips of the second of two identical calls: the first one
    pays one-off costs (JVM class lookups, the DDL memo)."""
    fn(0)
    with _count_round_trips(monkeypatch) as n:
        fn(1)
    return n[0]


def _costs(spark, warehouse, monkeypatch, spark_branch, extra_longs: int) -> dict[str, int]:
    ddl = _ddl(extra_longs)
    width = len(LONGS) + extra_longs + 2
    opts = {"bucket": "4"}

    def table(name):
        return warehouse.create_table(
            f"db.{name}_{extra_longs}", ddl, primary_keys=["item_id"], options=opts
        )

    def batches(t):
        t.write(spark.createDataFrame(_rows(range(200), 1, width), ddl))
        t.write(spark.createDataFrame(_rows(range(100, 300), 2, width), ddl))
        return t.refresh()

    reader = batches(table("read"))
    one = [spark.createDataFrame(_rows([7 + i], 3 + i, width), ddl) for i in (0, 1)]
    writer = table("write")
    # a pandas frame is driver-local: the Arrow sink writes it
    names = LONGS + [f"extra_{i}" for i in range(extra_longs)] + ["item_name", "ts"]
    local = [
        spark.createDataFrame(
            pd.DataFrame.from_records(_rows([7 + i], 3 + i, width), columns=names), ddl
        )
        for i in (0, 1)
    ]
    local_writer = table("local_write")
    pairs = [batches(table(f"compact{i}")) for i in (0, 1)]
    driver_pairs = [batches(table(f"driver_compact{i}")) for i in (0, 1)]

    def spark_read(i):
        with spark_branch():
            return reader.to_df(spark, predicate=P.equal("item_id", 7 + i))

    def spark_compact(i):
        with spark_branch():
            pairs[i].compact(spark, full=False, trigger_runs=2)

    def driver_read(i):
        rows = reader.to_df(spark, predicate=P.equal("item_id", 7 + i)).collect()
        assert [r.item_id for r in rows] == [7 + i]

    return {
        "read": _second_call_cost(monkeypatch, spark_read),
        "driver_read": _second_call_cost(monkeypatch, driver_read),
        "write": _second_call_cost(
            monkeypatch,
            lambda i: writer.write(one[i], commit_identifier=f"point-{i}"),
        ),
        "local_write": _second_call_cost(
            monkeypatch,
            lambda i: local_writer.write(local[i], commit_identifier=f"point-{i}"),
        ),
        "spark_compact": _second_call_cost(monkeypatch, spark_compact),
        "driver_compact": _second_call_cost(
            monkeypatch,
            lambda i: driver_pairs[i].compact(spark, full=False, trigger_runs=2),
        ),
    }


def test_plan_build_round_trip_budget(spark, warehouse, monkeypatch, spark_branch):
    """Budgets on the q1 shape (one Column per table column cost about
    800 / 555 / 1700 round-trips), and the same count at 33 columns."""
    q1 = _costs(spark, warehouse, monkeypatch, spark_branch, extra_longs=0)
    assert q1["read"] <= 300, q1
    assert q1["driver_read"] <= 300, q1
    assert q1["write"] <= 150, q1
    assert q1["local_write"] <= 150, q1
    assert q1["spark_compact"] <= 600, q1
    assert q1["driver_compact"] <= 600, q1
    wide = _costs(spark, warehouse, monkeypatch, spark_branch, extra_longs=22)
    assert wide == q1


DDLS = [
    "bigint",
    "string",
    "timestamp",
    "decimal(15,2)",
    "array<string>",
    "map<string,bigint>",
    "struct<a:int,b:struct<c:string,d:array<double>>,e:map<int,struct<f:date>>>",
]


@pytest.mark.parametrize("ddl", DDLS)
def test_parse_type_memo_matches_parser(spark, ddl):
    want = T._parse_datatype_string(ddl)
    assert parse_type(ddl) == want
    assert parse_type(ddl) == want


def test_parse_type_memo_returns_unshared_containers(spark):
    ddl = "struct<a:int,b:array<struct<c:string>>>"
    first = parse_type(ddl)
    first.add("z", T.LongType())
    first["b"].dataType.elementType.add("y", T.IntegerType())
    again = parse_type(ddl)
    assert again == T._parse_datatype_string(ddl)
    assert again.names == ["a", "b"]
    assert again["b"].dataType.elementType.names == ["c"]


def test_repeated_spark_schema_makes_no_round_trips(spark, monkeypatch):
    schema = from_spark_schema(T._parse_datatype_string(_ddl(3)))
    first = schema.spark_schema()
    with _count_round_trips(monkeypatch) as n:
        second = schema.spark_schema()
    assert n[0] == 0
    assert second == first


def _optimized_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="extended")
    return buf.getvalue().split("== Optimized Logical Plan ==")[1].split("==")[0]


def test_cast_to_schema_conformant_frame_is_not_cast(spark):
    schema = from_spark_schema(
        T._parse_datatype_string("item_id bigint, name string, price bigint")
    )
    df = spark.createDataFrame([(1, "a", 10)], "item_id bigint, name string, price bigint")
    assert _cast_to_schema(df, schema) is df
    # same names and types in another order, plus a dropped column and
    # a kept extra: reordered and pruned, still no cast
    wide = spark.createDataFrame(
        [(10, "x", "a", 1, "+I")],
        "price bigint, junk string, name string, item_id bigint, _VALUE_KIND string",
    )
    out = _cast_to_schema(wide, schema, extra=["_VALUE_KIND", "_absent"])
    assert out.columns == ["item_id", "name", "price", "_VALUE_KIND"]
    assert "cast(" not in _optimized_plan(out).lower()
    assert [tuple(r) for r in out.collect()] == [(1, "a", 10, "+I")]


def test_cast_to_schema_non_conformant_frame_is_cast(spark, warehouse):
    ddl = "item_id bigint, name string, price bigint"
    schema = from_spark_schema(T._parse_datatype_string(ddl))
    df = spark.createDataFrame(
        [(1, "a", 10, "junk"), (2, "b", 20, "junk")],
        "ITEM_ID int, name string, price bigint, extra string",
    )
    out = _cast_to_schema(df, schema)
    assert out.columns == ["item_id", "name", "price"]
    assert out.schema == T._parse_datatype_string(ddl)
    assert "cast(" in _optimized_plan(out).lower()
    assert sorted(tuple(r) for r in out.collect()) == [(1, "a", 10), (2, "b", 20)]

    # and through a real write, on a PK and an append table
    for pk in (["item_id"], []):
        t = warehouse.create_table(
            f"db.cast_{len(pk)}", ddl, primary_keys=pk,
            options={"bucket": "2"} if pk else {},
        )
        t.write(df)
        got = t.refresh().to_df(spark)
        assert got.schema == T._parse_datatype_string(ddl)
        assert sorted(tuple(r) for r in got.collect()) == [(1, "a", 10), (2, "b", 20)]
