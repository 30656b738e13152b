"""Local (no-Spark) read path: table → Arrow / pandas / DuckDB.

Mirrors pypaimon's TableRead surface (paimon-python pypaimon/read/
table_read.py: to_arrow:78, to_arrow_batch_reader:56, to_pandas:175,
to_duckdb:179): small reads — notebooks, services, tests, CI — should
not need a SparkSession. The plan comes from the SAME ReadBuilder
planner the Spark path uses (snapshot resolution, manifest pruning,
stats skipping, time travel), and each per-bucket split runs the same
pyarrow bucket reader the native format surface runs executor-side
(DV-scoped, merge-on-read, schema-evolution aware) — one code path,
two runtimes.

Semantics: the ReadBuilder predicate is applied EXACTLY here (pruning
first, then `Predicate.to_arrow_expr` on the merged batches — SQL WHERE
null handling), projection and limit after. This is a DRIVER-LOCAL
reader: splits stream through a thread pool (pyarrow releases the GIL
on IO/decode), so it scales to what one machine should read — use
``to_df(spark)`` for anything bigger.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa

    from flink_table_store_spark.table import ReadBuilder

# ReadBuilder.to_df reads a plan, and Table.compact folds a deduplicate
# or first-row pick, whose data files total at most this many bytes on
# the driver (plan_tasks/plan_rewrite and read_tasks into a
# LocalRelation) instead of in a Spark job. A full merged read of a q1
# table costs the same on both branches at about 1.4 MB of files on
# local[2] and 1.0 MB on local[4] (key reads favour the driver at every
# size); the bound sits at half the smaller figure, as more executor
# cores move the crossover further down. Compaction crosses over much
# higher: a deduplicate compaction of up to 7 MB of q1 files still ran
# 2-3x faster on the driver on local[2] and local[4]
# (tools/bench_driver_crossover.py). See CHANGES.md.
LOCAL_READ_MAX_BYTES = 1 << 19


def _arrow_type(ddl: str) -> "pa.DataType":
    """Engine DDL type string → pyarrow type, without a SparkSession
    (StructType.fromDDL parses via the JVM — unusable on a no-Spark
    path). Matches the arrow types Spark's to_arrow_schema produces so
    the local reader and the format surface agree byte-for-byte."""
    import pyarrow as pa

    s = ddl.strip().lower()
    if s.startswith("array<") and s.endswith(">"):
        return pa.list_(_arrow_type(s[6:-1]))
    if s.startswith("map<") and s.endswith(">"):
        key, value = _top_level_split(s[4:-1], maxsplit=1)
        return pa.map_(_arrow_type(key), _arrow_type(value))
    if s.startswith("struct<") and s.endswith(">"):
        fields = []
        for part in _top_level_split(s[7:-1]):
            name, _, typ = part.partition(":")
            fields.append(pa.field(name.strip().strip("`"), _arrow_type(typ)))
        return pa.struct(fields)
    if s.startswith("decimal"):
        p, sc = (s[s.index("(") + 1 : s.rindex(")")].split(",") + ["0"])[:2] \
            if "(" in s else ("10", "0")
        return pa.decimal128(int(p), int(sc))
    if s.startswith(("varchar", "char")):
        return pa.string()
    base = {
        "bigint": pa.int64(), "long": pa.int64(), "int": pa.int32(),
        "integer": pa.int32(), "smallint": pa.int16(), "short": pa.int16(),
        "tinyint": pa.int8(), "byte": pa.int8(), "string": pa.string(),
        "boolean": pa.bool_(), "float": pa.float32(), "double": pa.float64(),
        "date": pa.date32(), "binary": pa.binary(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if s in base:
        return base[s]
    raise ValueError(f"local read: unsupported DDL type {ddl!r}")


def _top_level_split(s: str, maxsplit: int = -1) -> list[str]:
    """``s`` split on the commas outside any ``<...>`` or ``(...)``: the
    fields of a struct or the key and value of a map, whose types may
    hold commas themselves (``decimal(10,2)``, ``map<int,string>``)."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        depth += ch in "<("
        depth -= ch in ">)"
        if ch == "," and depth == 0 and maxsplit != len(parts):
            parts.append(s[start:i])
            start = i + 1
    return parts + [s[start:]]


def _table_arrow_schema(schema) -> "pa.Schema":
    import pyarrow as pa

    return pa.schema([pa.field(f.name, _arrow_type(f.type)) for f in schema.fields])


def plan_tasks(rb: "ReadBuilder", plan) -> "tuple[list, pa.Schema]":
    """The bucket tasks of ``plan`` (built from ``rb``, without
    data-evolution patches) and the Arrow schema they read. The
    predicate prunes files, buckets, and rows where the bucket reader
    knows it is false; the projection narrows the columns read. Opens no
    data file: raises ValueError on a plan the bucket reader refuses
    (``bucketed_join._side_spec``/``_files``)."""
    import pyarrow as pa

    from flink_table_store_spark.sources.datasource import _partitions

    t = rb._table
    arrow_schema = _table_arrow_schema(t.schema)
    # projection pushdown: the per-task readers load only the selected
    # columns plus whatever the predicate needs (the residual filter
    # runs after the merge); bucket_tasks adds merge keys itself
    needed = None
    if rb._projection is not None:
        pf = rb._predicate.fields() if rb._predicate is not None else set()
        if pf is None:
            pf = set()
        needed = list(dict.fromkeys(list(rb._projection) + sorted(pf)))
        arrow_schema = pa.schema(
            [f for f in arrow_schema if f.name in set(needed)]
        )
    return _partitions(t, plan, rb._predicate, columns=needed), arrow_schema


def plan_rewrite(table, snapshot, entries: list, whole: bool) -> "tuple[list, pa.Schema]":
    """The bucket tasks that fold a compaction's picked runs
    ``entries`` of ``snapshot`` (its deletion vectors apply), one per
    (partition, bucket), and the Arrow schema they read: the table's
    columns, then ``_VALUE_KIND``, ``_SEQUENCE_NUMBER`` and the stored
    ``_bucket``. ``whole``: the pick is every run of its buckets, so
    retract winners drop; otherwise they stay to cancel older rows.
    Opens no data file: raises ValueError on runs the bucket reader
    refuses to rewrite (``bucketed_join._side_spec``/``_files``)."""
    import pyarrow as pa

    from flink_table_store_spark.operators.bucketed_join import bucket_tasks
    from flink_table_store_spark.read import ScanPlan
    from flink_table_store_spark.schema import SEQUENCE_NUMBER, VALUE_KIND
    from flink_table_store_spark.sources.datasource import FtssInputPartition
    from flink_table_store_spark.write import BUCKET_COL

    plan = ScanPlan(merge_entries=list(entries), snapshot=snapshot)
    tasks = bucket_tasks(table, plan, rewrite="whole" if whole else "partial")
    arrow_schema = pa.schema(
        list(_table_arrow_schema(table.schema))
        + [
            pa.field(VALUE_KIND, pa.string()),
            pa.field(SEQUENCE_NUMBER, pa.int64()),
            pa.field(BUCKET_COL, pa.int32()),
        ]
    )
    return [FtssInputPartition(spec, b) for spec, b in tasks], arrow_schema


def read_tasks(parts: list, arrow_schema: "pa.Schema", max_workers: int = 8) -> "pa.Table":
    """Read ``plan_tasks``' tasks on a thread pool into one Arrow table."""
    import pyarrow as pa

    from flink_table_store_spark.sources.datasource import _read_partition

    def _one(p) -> list:
        return list(_read_partition(p, arrow_schema))

    batches: list = []
    if parts:
        with ThreadPoolExecutor(max_workers=min(max_workers, len(parts))) as ex:
            for bs in ex.map(_one, parts):
                batches.extend(bs)
    return (
        pa.Table.from_batches(batches, schema=arrow_schema)
        if batches
        else arrow_schema.empty_table()
    )


def read_arrow(rb: "ReadBuilder", max_workers: int = 8) -> "pa.Table":
    """Materialize the scan as one pyarrow Table."""
    plan = rb.plan()
    if plan.patch_entries:
        return _read_stitched_arrow(rb, plan)
    tbl = read_tasks(*plan_tasks(rb, plan), max_workers=max_workers)
    if rb._predicate is not None:
        tbl = tbl.filter(rb._predicate.to_arrow_expr())
    if rb._projection is not None:
        tbl = tbl.select(rb._projection)
    if rb._limit is not None:
        tbl = tbl.slice(0, rb._limit)
    return tbl


def read_arrow_batch_reader(rb: "ReadBuilder") -> "pa.RecordBatchReader":
    """Streaming variant: one split in flight at a time, constant
    memory in the number of splits (pypaimon to_arrow_batch_reader)."""
    import pyarrow as pa

    from flink_table_store_spark.sources.datasource import (
        _partitions,
        _read_partition,
    )

    t = rb._table
    arrow_schema = _table_arrow_schema(t.schema)
    parts = _partitions(t, rb.plan(), rb._predicate)
    expr = rb._predicate.to_arrow_expr() if rb._predicate is not None else None
    proj = rb._projection
    out_schema = (
        arrow_schema
        if proj is None
        else pa.schema([arrow_schema.field(c) for c in proj])
    )
    limit = rb._limit

    def _gen():
        remaining = limit
        for p in parts:
            for b in _read_partition(p, arrow_schema):
                tb = pa.Table.from_batches([b], schema=arrow_schema)
                if expr is not None:
                    tb = tb.filter(expr)
                if proj is not None:
                    tb = tb.select(proj)
                if remaining is not None:
                    tb = tb.slice(0, remaining)
                    remaining -= tb.num_rows
                for ob in tb.to_batches():
                    if ob.num_rows:
                        yield ob
                if remaining is not None and remaining <= 0:
                    return

    return pa.RecordBatchReader.from_batches(out_schema, _gen())


def read_pandas(rb: "ReadBuilder"):
    return read_arrow(rb).to_pandas()


def read_duckdb(rb: "ReadBuilder", table_name: str, connection=None):
    """Register the scan as a DuckDB view and return the connection
    (pypaimon to_duckdb)."""
    import duckdb

    con = connection or duckdb.connect(database=":memory:")
    con.register(table_name, read_arrow(rb))
    return con


def _read_stitched_arrow(rb: "ReadBuilder", plan) -> "pa.Table":
    """Data-evolution tables on the local path: read base files with
    their row ids, overlay column patches (highest sequence wins).
    Covers the common local case — parquet base files of the CURRENT
    schema generation without deletion vectors; anything else raises
    toward the Spark path, which handles the full matrix."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    t = rb._table
    schema = t.schema
    snap = plan.snapshot
    if snap and snap.dv_files:
        raise ValueError(
            "local read of a data-evolution table with deletion vectors "
            "— use table.to_df(spark)"
        )
    arrow_schema = _table_arrow_schema(schema)
    pt_keys = list(schema.partition_keys)

    def _one(e) -> pa.Table:
        if e.schema_id != schema.id:
            raise ValueError(
                "local read of a data-evolution table with mixed schema "
                "generations — use table.to_df(spark)"
            )
        tb = pq.read_table(os.path.join(t.path, e.file_name))
        # partition values live in the directory, not the file
        for k in pt_keys:
            if k not in tb.column_names:
                v = e.partition.get(k)
                ftype = arrow_schema.field(k).type
                tb = tb.append_column(
                    k, pa.array([v] * tb.num_rows).cast(ftype)
                )
        if "_ROW_ID" not in tb.column_names:
            if e.first_row_id is None:
                raise ValueError(
                    f"base file {e.file_name} has neither a stored "
                    "_ROW_ID nor a first_row_id"
                )
            tb = tb.append_column(
                "_ROW_ID",
                pa.array(
                    range(e.first_row_id, e.first_row_id + tb.num_rows),
                    pa.int64(),
                ),
            )
        cols = [f.name for f in arrow_schema] + ["_ROW_ID"]
        return tb.select(cols).cast(
            pa.schema(list(arrow_schema) + [pa.field("_ROW_ID", pa.int64())])
        )

    parts = [_one(e) for e in plan.raw_entries]
    base = (
        pa.concat_tables(parts)
        if parts
        else pa.schema(
            list(arrow_schema) + [pa.field("_ROW_ID", pa.int64())]
        ).empty_table()
    )
    # per patched column: highest (max_seq, file) wins per _ROW_ID
    cols: list[str] = []
    for e in plan.patch_entries:
        for c in e.patch_cols:
            if c not in cols:
                cols.append(c)
    bdf = base.to_pandas()
    for c in cols:
        ents = sorted(
            (e for e in plan.patch_entries if c in e.patch_cols),
            key=lambda e: (e.max_seq, e.file_name),
        )
        newest: dict = {}
        for e in ents:  # ascending: later files overwrite earlier
            ptb = pq.read_table(
                os.path.join(t.path, e.file_name), columns=["_ROW_ID", c]
            )
            ids = ptb.column("_ROW_ID").to_pylist()
            vals = ptb.column(c).to_pylist()
            newest.update(zip(ids, vals))
        if newest:
            mask = bdf["_ROW_ID"].isin(newest)
            bdf.loc[mask, c] = bdf.loc[mask, "_ROW_ID"].map(newest)
    out = pa.Table.from_pandas(bdf, preserve_index=False).cast(
        pa.schema(list(arrow_schema) + [pa.field("_ROW_ID", pa.int64())])
    )
    if rb._predicate is not None:
        out = out.filter(rb._predicate.to_arrow_expr())
    out = out.drop_columns(["_ROW_ID"])
    if rb._projection is not None:
        out = out.select(rb._projection)
    if rb._limit is not None:
        out = out.slice(0, rb._limit)
    return out
