"""The two write sinks of ``write.stage_and_collect`` give one answer.

A frame whose rows already sit on the driver (Catalyst folds it to a
``LocalRelation``) is written by pyarrow on the driver; any other frame
goes through a Spark file-write job. Each case writes the same pandas
rows twice: once as the local frame (Arrow sink) and once behind
``localCheckpoint()``, which is not local (Spark sink). The two tables
must read back the same rows and hold the same manifest layout:
``(partition, bucket, level, row_count)`` per live file.

A local frame's write starts no Spark job: its rows reach Python as
Arrow from the driver JVM, and its system columns, buckets included,
are built in Arrow with the sequence numbers a Spark projection would
give them.

The two local writers, ``Table.write_arrow`` and ``format("ftss")``,
write their files through the same Arrow sink, so the same rows
written by ``table.write``, ``write_arrow`` and ``ftss`` give one
answer too, down to the files' encoding, and rows of one key written
by different writers merge.
"""

from __future__ import annotations

import collections
import contextlib
import datetime as dt
import decimal
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
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
    if len(pdf):
        df = spark.createDataFrame(pdf, ddl)
    else:
        # pyspark makes an empty pandas frame an RDD; an empty Arrow
        # table stays a LocalRelation
        df = spark.createDataFrame(to_arrow_schema(T._parse_datatype_string(ddl)).empty_table())
    return df if sink == "arrow" else df.localCheckpoint()


@contextlib.contextmanager
def _no_spark_job(spark):
    """Asserts the block starts no Spark job."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    yield
    assert set(tracker.getJobIdsForGroup(None)) - before == set()


def _both(
    spark, warehouse, sinks, name, ddl, batches, write_kw=None, jobless=False, **create
):
    """Writes ``batches`` into one table per sink; asserts both read
    back the same rows and layout, and returns the two tables. With
    ``jobless``, the Arrow sink's writes must start no Spark job."""
    tables = {}
    for sink in ("arrow", "spark"):
        t = warehouse.create_table(f"db.{name}_{sink}", ddl, **create)
        for pdf in batches:
            sinks.clear()
            frame = _frame(spark, pdf, ddl, sink)
            jobs = _no_spark_job(spark) if jobless and sink == "arrow" else contextlib.nullcontext()
            with jobs:
                t.refresh().write(frame, **(write_kw or {}))
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


def _kept_sequence_numbers(t) -> list[tuple]:
    """``(k, v, _SEQUENCE_NUMBER)`` of every row in the live files."""
    out = []
    for e in _entries(t):
        path = os.path.join(t.path, e.file_name)
        part = pq.read_table(path, columns=["k", "v", "_SEQUENCE_NUMBER"])
        out += [tuple(r.values()) for r in part.to_pylist()]
    return sorted(out)


_DOUBLES = [1e20, 0.5, None, -2.0, 1e-7]
JOBLESS_SHAPES = {
    "one_row": (
        "k bigint, v string",
        [pd.DataFrame({"k": [7], "v": ["x"]}), pd.DataFrame({"k": [7], "v": ["y"]})],
        {},
        {"primary_keys": ["k"], "options": {"bucket": "4"}},
    ),
    "thousand_rows": (
        "k bigint, v string, t timestamp",
        [
            pd.DataFrame(
                {
                    "k": range(1000),
                    "v": [f"v{i % 7}" for i in range(1000)],
                    "t": [dt.datetime(2024, 1, 1, i % 24) for i in range(1000)],
                }
            ),
            pd.DataFrame(
                {"k": range(900, 1200), "v": ["new"] * 300, "t": [dt.datetime(2024, 2, 1)] * 300}
            ),
        ],
        {},
        {"primary_keys": ["k"], "options": {"bucket": "4"}},
    ),
    "row_kinds": (
        "k bigint, v string, rk string",
        [
            pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"], "rk": ["+I"] * 3}),
            pd.DataFrame(
                {"k": [1, 2, 2, 3, 4], "v": ["a0", "b0", "b1", "c0", "d"],
                 "rk": ["-U", "-U", "+U", "-D", "+I"]}
            ),
        ],
        {"row_kind_col": "rk"},
        {"primary_keys": ["k"], "options": {"bucket": "2", "ignore-delete": "true"}},
    ),
    "empty": (
        "k bigint, v string",
        [
            pd.DataFrame({"k": pd.Series([], dtype="int64"), "v": pd.Series([], dtype=object)}),
            pd.DataFrame({"k": [1], "v": ["a"]}),
        ],
        {},
        {"primary_keys": ["k"], "options": {"bucket": "2"}},
    ),
    "double_partition": (
        "k bigint, p double, v string",
        [
            pd.DataFrame(
                {"k": range(10), "p": [_DOUBLES[i % 5] for i in range(10)],
                 "v": [f"v{i}" for i in range(10)]}
            ),
            pd.DataFrame({"k": [0, 1], "p": [1e20, 0.5], "v": ["new", "new"]}),
        ],
        {},
        {"primary_keys": ["k", "p"], "partition_keys": ["p"], "options": {"bucket": "2"}},
    ),
}


@pytest.mark.parametrize("shape", list(JOBLESS_SHAPES))
def test_local_write_starts_no_spark_job(spark, warehouse, sinks, shape):
    """A pandas frame's ``t.write`` starts no Spark job, for one row, a
    thousand rows, retracting row kinds a table drops, no rows, and a
    ``double`` partition key (whose directory Spark spells ``1.0E20``,
    Arrow ``1e+20``); its rows and layout match the Spark sink's. The
    sequence numbers are those a Spark projection gives a
    one-partition ``LocalRelation``: the snapshot's next sequence plus
    the row's position among the rows the write keeps."""
    ddl, batches, write_kw, create = JOBLESS_SHAPES[shape]
    a, _s = _both(
        spark, warehouse, sinks, f"jobless_{shape}", ddl, batches,
        write_kw=write_kw, jobless=True, **create,
    )
    dropped = {"-D", "-U"} if create["options"].get("ignore-delete") else set()
    kept = [
        (k, v)
        for pdf in batches
        for k, v, kind in zip(pdf.k, pdf.v, pdf.get("rk", ["+I"] * len(pdf)))
        if kind not in dropped
    ]
    assert _kept_sequence_numbers(a) == sorted((k, v, n) for n, (k, v) in enumerate(kept))
    if shape == "double_partition":
        assert {e.partition["p"] for e in _entries(a)} == {"1.0E20", "0.5", "", "-2.0", "1.0E-7"}


def test_local_relation_converts_as_to_arrow(spark):
    """The driver JVM's Arrow conversion of a ``LocalRelation`` (used by
    local writes instead of a collect job) equals ``DataFrame.toArrow``
    in schema and rows, timestamps under a non-UTC session time zone
    included, and an empty relation keeps its schema."""
    ddl = (
        "a bigint, b int, s string, d date, bo boolean, x double, dec decimal(10,2), "
        "bin binary, arr array<int>, m map<string,bigint>, st struct<p:int,q:string>, t timestamp"
    )
    names = [f.split(" ")[0] for f in ddl.split(", ")]
    row = (
        1, 2, "é x", dt.date(2024, 1, 2), True, -0.5, decimal.Decimal("3.25"), b"\x00ab",
        [1, None], {"k": 3}, (1, "z"), dt.datetime(2024, 1, 1, 12, 30),
    )
    pdf = pd.DataFrame.from_records([row, (None,) * len(row)], columns=names)
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        for df in (spark.createDataFrame(pdf, ddl), spark.createDataFrame(pdf, ddl).where("a < 0")):
            plan = df._jdf.queryExecution().optimizedPlan()
            assert plan.nodeName() == "LocalRelation"
            got, want = W._local_arrow(spark, plan), df.toArrow()
            assert got.schema == want.schema
            assert got.equals(want)
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert got.num_rows == 0 and want.num_rows == 0


def _draw(typ: str, rng, n: int) -> pa.Array:
    """``n`` values of the Spark type ``typ``, one in ten NULL, edge
    values included."""
    ints = {"bigint": np.int64, "int": np.int32, "smallint": np.int16, "tinyint": np.int8}
    nulls = rng.random(n) < 0.1
    if typ in ints:
        info = np.iinfo(ints[typ])
        vals = rng.integers(info.min, info.max, n, dtype=ints[typ], endpoint=True)
        vals[:4] = [0, -1, info.min, info.max]
        return pa.array(vals, mask=nulls)
    if typ == "boolean":
        return pa.array(rng.random(n) < 0.5, mask=nulls)
    if typ == "date":
        days = rng.integers(-50_000, 50_000, n).astype(np.int32)
        return pa.array(days, mask=nulls).view(pa.date32())
    if typ == "timestamp":
        micros = rng.integers(-4 * 10**15, 4 * 10**15, n)
        return pa.array(micros, mask=nulls).view(pa.timestamp("us", tz="UTC"))
    if typ in ("float", "double"):
        dtype = np.float32 if typ == "float" else np.float64
        vals = (rng.standard_normal(n) * 10.0 ** rng.integers(-30, 30, n)).astype(dtype)
        negative_nan = np.array([np.nan], dtype).view(np.int32 if typ == "float" else np.int64)
        negative_nan |= np.array(1, negative_nan.dtype) << (8 * negative_nan.itemsize - 1)
        vals[:6] = [0.0, -0.0, np.nan, np.inf, -np.inf, negative_nan.view(dtype)[0]]
        return pa.array(vals, mask=nulls)
    assert typ == "string"
    alphabet = list("ab z09") + ["é", "€", "😀", "ß"]
    lengths = rng.integers(0, 80, n)
    return pa.array(
        ["".join(rng.choice(alphabet, length)) for length in lengths], mask=nulls
    )


@pytest.mark.parametrize(
    "typ",
    "bigint int smallint tinyint boolean date float double timestamp string".split(),
)
def test_bucket_kernel_matches_spark(spark, warehouse, typ):
    """``write.bucket_column``'s numpy xxhash64 gives the bucket
    ``bucket_expr`` gives in Spark, for every key type the local writers
    accept, over a two-column key holding NULLs: -0.0 and every NaN
    hash as Java normalises them, strings as UTF-8 of any length."""
    rng = np.random.default_rng(sum(map(ord, typ)))
    n = 5000
    rows = pa.table({"k": _draw(typ, rng, n), "j": _draw("bigint", rng, n)})
    t = warehouse.create_table(
        f"db.kernel_{typ}", f"k {typ}, j bigint", options={"bucket": "7", "bucket-key": "k,j"}
    )
    assert W.bucket_column(rows, t.schema).to_pylist() == _spark_buckets(spark, rows, t)


def _spark_buckets(spark, rows, t) -> list[int]:
    frame = spark.createDataFrame(rows).select(W.bucket_expr(t.schema).alias("b"))
    return [r.b for r in frame.collect()]


@pytest.mark.parametrize("typ", ["bigint", "int"])
def test_mod_bucket_kernel_matches_spark(spark, warehouse, typ):
    rng = np.random.default_rng(5)
    rows = pa.table({"k": _draw(typ, rng, 5000)})
    t = warehouse.create_table(
        f"db.kernel_mod_{typ}", f"k {typ}, v string", primary_keys=["k"],
        options={"bucket": "6", "bucket-function.type": "mod"},
    )
    assert W.bucket_column(rows, t.schema).to_pylist() == _spark_buckets(spark, rows, t)
