"""The two write sinks of ``write.stage_and_collect`` give one answer.

A frame whose rows already sit on the driver (Catalyst folds it to a
``LocalRelation``) is written by pyarrow on the driver; any other frame
goes through a Spark file-write job. Each case writes the same pandas
rows twice: once as the local frame (Arrow sink) and once behind
``localCheckpoint()``, which is not local (Spark sink). The two tables
must read back the same rows and hold the same manifest layout:
``(partition, bucket, level, row_count)`` per live file.

The two local writers, ``Table.write_arrow`` and ``format("ftss")``,
write their files through the same Arrow sink, so the same rows
written by ``table.write``, ``write_arrow`` and ``ftss`` give one
answer too, down to the files' encoding, and rows of one key written
by different writers merge.
"""

from __future__ import annotations

import collections
import datetime as dt
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T
from pyspark.sql.readwriter import DataFrameWriter

from flink_table_store_spark import fileindex
from flink_table_store_spark import predicate as P
from flink_table_store_spark import write as W


@pytest.fixture()
def sinks(monkeypatch):
    """The sink each ``stage_and_collect`` call took, in call order."""
    calls: list[str] = []
    for name in ("_arrow_sink", "_spark_sink"):

        def spy(*args, _orig=getattr(W, name), _name=name, **kwargs):
            calls.append(_name)
            return _orig(*args, **kwargs)

        monkeypatch.setattr(W, name, spy)
    return calls


def _entries(t):
    snap = t.snapshots.latest()
    return t.manifests.read_live_entries(snap.base_manifest_list, snap.delta_manifest_list)


def _layout(t) -> collections.Counter:
    return collections.Counter(
        (tuple(sorted(e.partition.items())), e.bucket, e.level, e.row_count)
        for e in _entries(t)
    )


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _frame(spark, pdf, ddl, sink):
    df = spark.createDataFrame(pdf, ddl)
    return df if sink == "arrow" else df.localCheckpoint()


def _both(spark, warehouse, sinks, name, ddl, batches, write_kw=None, **create):
    """Writes ``batches`` into one table per sink; asserts both read
    back the same rows and layout, and returns the two tables."""
    tables = {}
    for sink in ("arrow", "spark"):
        t = warehouse.create_table(f"db.{name}_{sink}", ddl, **create)
        for pdf in batches:
            sinks.clear()
            t.refresh().write(_frame(spark, pdf, ddl, sink), **(write_kw or {}))
            assert sinks == [f"_{sink}_sink"]
        tables[sink] = t.refresh()
    a, s = tables["arrow"], tables["spark"]
    assert _rows(a.to_df(spark)) == _rows(s.to_df(spark))
    assert _layout(a) == _layout(s)
    return a, s


def test_partitioned_pk_table_odd_partition_values(spark, warehouse, sinks):
    ddl = "k bigint, p string, d date, t timestamp, v double"
    parts = [None, "", "a/b", "x=y", "sp ace", "q#%"]
    first = pd.DataFrame(
        {
            "k": range(12),
            "p": [parts[i % len(parts)] for i in range(12)],
            "d": [dt.date(2024, 1, 1 + i % 3) for i in range(12)],
            "t": [dt.datetime(2024, 1, 1, 12, i % 2, 30) for i in range(12)],
            "v": [float(i) for i in range(12)],
        }
    )
    second = first.iloc[::2].assign(v=lambda f: f.v + 100)
    a, s = _both(
        spark, warehouse, sinks, "pt", ddl, [first, second],
        primary_keys=["k", "p", "d", "t"], partition_keys=["p", "d", "t"],
        options={"bucket": "2"},
    )
    # null and '' share the default partition, as partitionBy makes them
    assert {e.partition["p"] for e in _entries(a)} == set(parts[1:])
    # the same directories on disk
    dirs = {
        sink: sorted({os.path.dirname(e.file_name) for e in _entries(t)})
        for sink, t in (("arrow", a), ("spark", s))
    }
    assert dirs["arrow"] == dirs["spark"]
    # partition predicates prune the same way on both
    for pred in (P.equal("p", "a/b"), P.is_null("p"), P.equal("d", dt.date(2024, 1, 2))):
        assert _rows(a.to_df(spark, predicate=pred)) == _rows(s.to_df(spark, predicate=pred))
        assert _rows(a.to_df(spark, predicate=pred))


def test_default_partition_is_one_file_per_bucket(spark, warehouse, sinks):
    """Hundreds of rows whose partition values are NULL or ''
    (pyarrow's group_by on several keys once split NULL keys over many
    groups): each sink writes one file per (partition, bucket)."""
    ddl = "k bigint, p string, v bigint"
    pdf = pd.DataFrame({"k": range(400), "p": [[None, "", "x"][k % 3] for k in range(400)]})
    a, _s = _both(
        spark, warehouse, sinks, "default_pt", ddl, [pdf.assign(v=pdf.k)],
        primary_keys=["k", "p"], partition_keys=["p"], options={"bucket": "2"},
    )
    assert sorted((e.partition["p"], e.bucket) for e in _entries(a)) == [
        ("", 0), ("", 1), ("x", 0), ("x", 1)
    ]


def test_odd_column_names(spark, warehouse, sinks):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("p q", T.StringType()),
            T.StructField("x.y", T.StringType()),
            T.StructField("q`t", T.LongType()),
        ]
    )
    pdf = pd.DataFrame(
        {"id": range(9), "p q": ["a", "b=c", None] * 3, "x.y": list("abcdefghi"), "q`t": range(9)}
    )
    _both(
        spark, warehouse, sinks, "odd", schema, [pdf, pdf.iloc[::3]],
        primary_keys=["id", "p q"], partition_keys=["p q"], options={"bucket": "2"},
    )


def test_row_kind_column_under_ignore_delete(spark, warehouse, sinks):
    ddl = "k bigint, v string, rk string"
    first = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"], "rk": ["+I"] * 3})
    second = pd.DataFrame(
        {"k": [1, 2, 2, 3], "v": ["a0", "b0", "b1", "c0"], "rk": ["-U", "-U", "+U", "-D"]}
    )
    a, _s = _both(
        spark, warehouse, sinks, "rk", ddl, [first, second],
        write_kw={"row_kind_col": "rk"},
        primary_keys=["k"], options={"bucket": "2", "ignore-delete": "true"},
    )
    assert sorted((r.k, r.v) for r in a.to_df(spark).collect()) == [
        (1, "a"), (2, "b1"), (3, "c"),
    ]


def test_sql_expression_column_default(spark, warehouse, sinks):
    ddl = "k bigint, v string, n int"
    pdf = pd.DataFrame({"k": [1, 2, 3], "v": [None, "x", None], "n": [None, 7, None]})
    a, _s = _both(
        spark, warehouse, sinks, "dflt", ddl, [pdf],
        primary_keys=["k"],
        options={
            "bucket": "2",
            "fields.v.default-value": "concat('d', 'ef')",
            "fields.n.default-value": "length('abc') * 2",
        },
    )
    assert sorted(tuple(r) for r in a.to_df(spark).collect()) == [
        (1, "def", 6), (2, "x", 7), (3, "def", 6),
    ]


def test_bucketed_append_table(spark, warehouse, sinks):
    ddl = "k bigint, p string, v string"
    pdf = pd.DataFrame(
        {"k": range(40), "p": ["a", "b"] * 20, "v": [f"v{i}" for i in range(40)]}
    )
    _both(
        spark, warehouse, sinks, "bapp", ddl, [pdf, pdf.iloc[:7]],
        partition_keys=["p"], options={"bucket": "3", "bucket-key": "k"},
    )


def test_mod_bucket_function_table(spark, warehouse, sinks):
    ddl = "k bigint, v string"
    pdf = pd.DataFrame({"k": range(-5, 15), "v": [f"v{i}" for i in range(20)]})
    a, _s = _both(
        spark, warehouse, sinks, "mod", ddl, [pdf, pdf.iloc[3:9].assign(v="new")],
        primary_keys=["k"], options={"bucket": "4", "bucket-function.type": "mod"},
    )
    for e in _entries(a):
        assert e.stats["k"]["min"] % 4 == e.bucket == e.stats["k"]["max"] % 4


def test_sidecar_bitmap_index_table(spark, warehouse, sinks):
    ddl = "k bigint, c string"
    pdf = pd.DataFrame({"k": range(30), "c": [f"c{i % 5}" for i in range(30)]})
    a, s = _both(
        spark, warehouse, sinks, "bm", ddl, [pdf, pdf.iloc[5:9]],
        primary_keys=["k"],
        options={
            "bucket": "2",
            fileindex.BITMAP_COLUMNS_OPTION: "c",
            fileindex.IN_MANIFEST_THRESHOLD_OPTION: "1",
        },
    )
    for t in (a, s):
        assert all(fileindex.INDEX_KEY in e.stats for e in _entries(t))
    pred = P.equal("c", "c3")
    assert _rows(a.to_df(spark, predicate=pred)) == _rows(s.to_df(spark, predicate=pred))
    # a local frame filtered to no rows is still a LocalRelation: it
    # stages nothing and commits no file
    before = _layout(a)
    sinks.clear()
    a.write(spark.createDataFrame(pdf, ddl).where("k < 0"))
    assert sinks == ["_arrow_sink"]
    assert _layout(a.refresh()) == before


@pytest.mark.parametrize(
    "options",
    [
        {fileindex.BLOOM_COLUMNS_OPTION: "v"},
        {"file.format": "orc"},
        {"parquet.page.size": "65536"},
        {"file.compression": "lz4"},
    ],
    ids=["bloom", "orc", "parquet-option", "codec"],
)
def test_tables_only_the_spark_sink_writes(spark, warehouse, sinks, options):
    ddl = "k bigint, v string"
    name = "db.spark_only_" + "_".join(options).replace(".", "_").replace("-", "_")
    t = warehouse.create_table(name, ddl, primary_keys=["k"], options=dict(options, bucket="2"))
    t.write(spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}), ddl))
    assert sinks == ["_spark_sink"]
    assert sorted(tuple(r) for r in t.refresh().to_df(spark).collect()) == [(1, "a"), (2, "b")]


def test_both_timestamp_kinds_take_the_spark_sink(spark, warehouse, sinks):
    ddl = "k bigint, t timestamp, n timestamp_ntz"
    ts = dt.datetime(2024, 5, 6, 7, 8, 9)
    t = warehouse.create_table("db.two_ts", ddl, primary_keys=["k"], options={"bucket": "1"})
    t.write(spark.createDataFrame(pd.DataFrame({"k": [1], "t": [ts], "n": [ts]}), ddl))
    assert sinks == ["_spark_sink"]
    assert [tuple(r) for r in t.refresh().to_df(spark).collect()] == [(1, ts, ts)]


@pytest.mark.parametrize(
    "options, codec",
    [({}, "ZSTD"), ({"file.compression": "snappy"}, "SNAPPY")],
    ids=["session-codec", "table-codec"],
)
def test_arrow_sink_files_match_the_spark_encoding(spark, warehouse, sinks, options, codec):
    """The session's codec (or ``file.compression``), parquet-mr's
    dictionary choice per column, INT96 timestamps and no stored Arrow
    schema: the Arrow sink's file reads like the Spark sink's."""
    ddl = "k bigint, rating int, t timestamp"
    pdf = pd.DataFrame(
        {
            "k": range(500),
            "rating": [i % 5 for i in range(500)],
            "t": [dt.datetime(2024, 1, 1)] * 500,
        }
    )
    files = {}
    for sink in ("arrow", "spark"):
        t = warehouse.create_table(
            f"db.enc_{sink}_{len(options)}", ddl, primary_keys=["k"],
            options=dict(options, bucket="1"),
        )
        t.write(_frame(spark, pdf, ddl, sink))
        (e,) = _entries(t.refresh())
        files[sink] = pq.ParquetFile(os.path.join(t.path, e.file_name))
    assert sinks == ["_arrow_sink", "_spark_sink"]
    md = files["arrow"].metadata
    assert b"ARROW:schema" not in (md.metadata or {})
    for sink, pf in files.items():
        rg = pf.metadata.row_group(0)
        chunks = {rg.column(i).path_in_schema: rg.column(i) for i in range(rg.num_columns)}
        assert {c.compression for c in chunks.values()} == {codec}, sink
        assert chunks["t"].physical_type == "INT96", sink
        assert not chunks["k"].has_dictionary_page, sink
        assert chunks["rating"].has_dictionary_page, sink


def test_local_one_row_write_runs_no_spark_write_job(spark, warehouse, monkeypatch):
    def refuse(self, *args, **kwargs):
        raise AssertionError("DataFrameWriter.save called")

    monkeypatch.setattr(DataFrameWriter, "save", refuse)
    ddl = "k bigint, v string"
    t = warehouse.create_table("db.one_row", ddl, primary_keys=["k"], options={"bucket": "4"})
    one = spark.createDataFrame(pd.DataFrame({"k": [7], "v": ["x"]}), ddl)
    t.write(one)
    assert [tuple(r) for r in t.refresh().to_df(spark).collect()] == [(7, "x")]
    with pytest.raises(AssertionError, match="DataFrameWriter.save"):
        t.refresh().write(one.localCheckpoint())


WRITERS = ("write", "write_arrow", "ftss")


def _write_with(spark, t, pdf, ddl, writer):
    if writer == "write":
        t.write(spark.createDataFrame(pdf, ddl))
    elif writer == "write_arrow":
        t.write_arrow(pdf)
    else:
        # one task, so one file per (partition, bucket) as the others
        spark.createDataFrame(pdf, ddl).coalesce(1).write.format("ftss").mode("append").save(t.path)


def _files(t) -> collections.Counter:
    """Per live file: its place, and how it is encoded."""
    out = collections.Counter()
    for e in _entries(t):
        pf = pq.ParquetFile(os.path.join(t.path, e.file_name))
        rg = pf.metadata.row_group(0)
        chunks = [rg.column(i) for i in range(rg.num_columns)]
        out[
            (
                tuple(sorted(e.partition.items())),
                os.path.dirname(e.file_name),
                e.bucket,
                frozenset(c.compression for c in chunks),
                frozenset(c.path_in_schema for c in chunks if c.has_dictionary_page),
                tuple(sorted((c.path_in_schema, c.physical_type) for c in chunks)),
                b"ARROW:schema" in (pf.metadata.metadata or {}),
            )
        ] += 1
    return out


@pytest.mark.parametrize("kind", ["pk", "bucketed_append"])
def test_three_writers_write_the_same_files(spark, warehouse, sinks, kind):
    ddl = "k bigint, s string, i int, d date, b boolean, v string, t timestamp"
    strings = [None, "", "a b", "a/b"]
    first = pd.DataFrame(
        {
            "k": range(32),
            "s": [strings[n % 4] for n in range(32)],
            "i": [(1, -2)[n % 2] for n in range(32)],
            "d": [dt.date(2024, 1, 1 + n % 3) for n in range(32)],
            "b": [n % 5 == 0 for n in range(32)],
            "v": [f"v{n % 3}" for n in range(32)],
            "t": [dt.datetime(2024, 1, 1, n % 4) for n in range(32)],
        }
    )
    second = first.iloc[::3].assign(v="new")
    keys = ["k", "s", "i", "d", "b"]
    create = (
        {"primary_keys": keys, "options": {"bucket": "2"}}
        if kind == "pk"
        else {"options": {"bucket": "2", "bucket-key": "k"}}
    )
    tables = {}
    for writer in WRITERS:
        t = warehouse.create_table(
            f"db.{kind}_{writer}", ddl, partition_keys=["s", "i", "d", "b"], **create
        )
        for pdf in (first, second):
            sinks.clear()
            _write_with(spark, t.refresh(), pdf, ddl, writer)
            if writer != "ftss":  # a Python worker writes ftss' files
                assert sinks == ["_arrow_sink"]
        tables[writer] = t.refresh()
    w = tables["write"]
    # null and '' share the default partition
    assert {e.partition["s"] for e in _entries(w)} == {"", "a b", "a/b"}
    for writer in ("write_arrow", "ftss"):
        t = tables[writer]
        assert _rows(t.to_df(spark)) == _rows(w.to_df(spark)), writer
        assert _layout(t) == _layout(w), writer
        assert _files(t) == _files(w), writer
    assert not any(f[-1] for f in _files(w))


@pytest.mark.parametrize("writer", ["write_arrow", "ftss"])
@pytest.mark.parametrize(
    "typ, value, spelled",
    [
        ("string", "a b", True),
        ("int", -7, True),
        ("date", dt.date(2024, 2, 29), True),
        ("boolean", False, True),
        ("timestamp", dt.datetime(2024, 1, 1, 12), False),
        ("double", 1e20, False),
    ],
)
def test_one_key_from_two_writers_reads_back_one_row(spark, warehouse, writer, typ, value, spelled):
    """``table.write`` and then a local writer write one key into one
    partition. The local writers refuse, at plan time, partition keys
    whose values Arrow spells unlike Spark's CAST(... AS STRING)
    (``1e+20`` against ``1.0E20``): their row would land in a second
    partition and never merge with the first."""
    ddl = f"k bigint, p {typ}, v string"
    t = warehouse.create_table(
        "db.mixed", ddl, primary_keys=["k", "p"], partition_keys=["p"], options={"bucket": "2"}
    )
    t.write(spark.createDataFrame(pd.DataFrame({"k": [1], "p": [value], "v": ["old"]}), ddl))
    new = pd.DataFrame({"k": [1], "p": [value], "v": ["new"]})
    if spelled:
        _write_with(spark, t.refresh(), new, ddl, writer)
    else:
        with pytest.raises(Exception, match=r"partition keys \['p'\].*table\.write\(\)") as err:
            _write_with(spark, t.refresh(), new, ddl, writer)
        assert writer == "ftss" or err.type is ValueError
        assert not os.listdir(os.path.join(t.path, "staging"))
    t = t.refresh()
    want = (1, value, "new" if spelled else "old")
    assert [tuple(r) for r in t.to_df(spark).collect()] == [want]
    assert t.to_arrow().column("v").to_pylist() == [want[2]]


def test_local_writers_refuse_a_codec_pyarrow_writes_unlike_spark(spark, warehouse):
    t = warehouse.create_table(
        "db.lz4", "k bigint, v string", primary_keys=["k"],
        options={"bucket": "2", "file.compression": "lz4"},
    )
    with pytest.raises(ValueError, match="lz4.*table\\.write\\(\\)"):
        t.write_arrow(pd.DataFrame({"k": [1], "v": ["a"]}))
