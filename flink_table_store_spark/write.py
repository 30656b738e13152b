"""Write path: bucketed parquet is staged, the driver commits.

Mirrors the reference two-phase shape (SURVEY §3.2/§3.3):
``PaimonSparkWriter.write`` repartitions by (partition, bucket)
(PaimonSparkWriter.scala:108,165-185), per-task writers produce data
files whose metadata flows back to the driver (the CommitMessage hop,
table/sink/BatchTableWrite.java:33), and the driver commits
(FileStoreCommitImpl). Here the executor side is a plain Spark
parquet write into a staging dir — Catalyst/Tungsten do the shuffle
and encoding — or, for rows already on the driver, a pyarrow write
there; the driver turns staged files into manifest entries. Sequence
numbers mirror MergeTreeWriter.java:111 (monotonic per table,
assigned at write).

Scale note: the driver-side stats collection walks one parquet footer
per staged file (no data read). At 100 TB / millions of files per
commit this hop is the same O(files) the reference's CommitMessage
serialization pays; footer walks could further be distributed with a
small Spark job over file names if ever needed.
"""

from __future__ import annotations

import os
import shutil
import urllib.parse
import uuid
from typing import TYPE_CHECKING, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_table_store_spark import fileindex
from flink_table_store_spark.manifest import KIND_ADD, ManifestEntry, collect_parquet_stats
from flink_table_store_spark.schema import (
    KIND_INSERT,
    ROW_KIND,
    SEQUENCE_NUMBER,
    VALUE_KIND,
    TableSchema,
    parse_type,
    quote_ident,
    select_exprs,
)
from flink_table_store_spark.session import PARQUET_CODEC
from flink_table_store_spark.snapshot import now_millis
from flink_table_store_spark.xxh64 import kernel_hashes, spark_xxhash64, spark_xxhash64_columns

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa
    from pyspark.sql.types import StructType

BUCKET_COL = "_bucket"
DATA_DIR = "data"
# BucketMode.POSTPONE_MODE (BucketMode.java:69-73): bucket = -2 defers
# bucketing to compaction; ingest is shuffle-free
POSTPONE_BUCKET = -2


def bucket_keys(schema: TableSchema) -> list[str]:
    """Columns hashed to pick the bucket: the ``bucket-key`` option if
    set (must be a subset of the primary key on PK tables — reference
    CoreOptions BUCKET_KEY), else the trimmed primary key. A bucket-key
    narrower than the PK is what makes two fact tables co-partitionable
    on a shared join key (join_bucketed)."""
    raw = schema.options.get("bucket-key", "")
    keys = [c.strip() for c in raw.split(",") if c.strip()]
    if keys:
        if schema.primary_keys and not set(keys) <= set(schema.primary_keys):
            raise ValueError(
                f"bucket-key {keys} must be a subset of primary key {schema.primary_keys}"
            )
        return keys
    return schema.trimmed_primary_keys()


def bucket_function_type(schema: TableSchema) -> str:
    """``bucket-function.type`` (CoreOptions.java:140-153): ``default``
    (hash) or ``mod`` — floorMod(key, n) over a SINGLE INT/BIGINT
    bucket key (ModBucketFunction.java), which keeps consecutive keys
    in adjacent buckets (range-query friendly layouts)."""
    t = schema.options.get("bucket-function.type", "default").lower()
    if t not in ("default", "mod"):
        raise ValueError(
            f"unknown bucket-function.type {t!r} (default / mod)"
        )
    if t == "mod":
        keys = bucket_keys(schema)
        if len(keys) != 1 or schema.field(keys[0]).type.lower() not in (
            "int", "integer", "bigint", "smallint", "tinyint",
        ):
            raise ValueError(
                "bucket-function.type=mod needs a single INT/BIGINT "
                f"bucket key (got {keys})"
            )
    return t


def bucket_expr(schema: TableSchema, num_buckets: int | None = None):
    """Stable bucket assignment: pmod(xxhash64(bucket-key), n).

    The reference hashes the bucket-key BinaryRow with murmur
    (DefaultBucketFunction.java:30-34); our engine defines its own
    stable hash — Spark's xxhash64 built-in — shared by the writer and
    the bucketed-join layout (SURVEY §4.3 item 6).
    ``bucket-function.type=mod`` uses floorMod of the single numeric
    key instead (NULL keys land in bucket 0 — a defined bucket beats a
    null directory). ``bucket_column`` is the same function in numpy."""
    return F.expr(_bucket_sql(schema, num_buckets))


def _bucket_sql(
    schema: TableSchema, num_buckets: int | None = None, keys: list[str] | None = None
) -> str:
    """``bucket_expr`` as SQL over the bucket-key values ``keys`` (SQL
    expressions; the quoted key columns by default)."""
    n = num_buckets if num_buckets is not None else schema.num_buckets()
    keys = keys or [quote_ident(k) for k in bucket_keys(schema)]
    if bucket_function_type(schema) == "mod":
        return f"CAST(coalesce(pmod(CAST({keys[0]} AS BIGINT), {n}), 0) AS INT)"
    return f"CAST(pmod(xxhash64({', '.join(keys)}), {n}) AS INT)"


def _bucketed(schema: TableSchema) -> bool:
    """Whether the table's files sit in buckets: every primary-key table,
    and append tables with a ``bucket-key`` and a fixed bucket count
    (BucketMode.BUCKET_APPEND)."""
    return bool(schema.primary_keys) or bool(
        schema.options.get("bucket-key") and schema.num_buckets() > 0
    )


def unhashed_bucket_keys(schema: TableSchema) -> list[str]:
    """The bucket keys whose type ``bucket_column`` cannot hash (any but
    integral, boolean, date, float, double, timestamp and string); none
    when the layout is unbucketed or postponed. Refuses a misconfigured
    ``bucket-key`` or mod function."""
    if not _bucketed(schema) or schema.num_buckets() == POSTPONE_BUCKET:
        return []
    bucket_function_type(schema)
    return [k for k in bucket_keys(schema) if not kernel_hashes(schema.field(k).type)]


def bucket_column(tbl: "pa.Table", schema: TableSchema) -> "pa.Array":
    """``bucket_expr`` over the rows ``tbl`` in numpy: every row in the
    postpone bucket, floorMod of the key (``mod``), or Spark's
    ``xxhash64`` of the bucket keys (``xxh64.spark_xxhash64_columns``,
    for key types not in ``unhashed_bucket_keys``) modulo the bucket
    count."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = schema.num_buckets()
    if n == POSTPONE_BUCKET:
        return pa.array(np.full(tbl.num_rows, POSTPONE_BUCKET, np.int32))
    keys = bucket_keys(schema)
    if bucket_function_type(schema) == "mod":
        key = tbl.column(keys[0]).cast(pa.int64())
        out = np.mod(pc.fill_null(key, 0).to_numpy(), n)
        out[~pc.is_valid(key).to_numpy()] = 0
    else:
        columns = [(tbl.column(k), schema.field(k).type) for k in keys]
        out = np.mod(spark_xxhash64_columns(columns, tbl.num_rows), n)
    return pa.array(out.astype(np.int32))


def system_columns(tbl: "pa.Table", schema: TableSchema, base_sequence: int) -> "pa.Table":
    """The rows ``tbl`` with the system columns the table's layout
    stores, built in Arrow: on a primary-key table ``_VALUE_KIND`` (the
    row-kind column ``tbl`` carries under that name, else ``+I``), the
    rows the write drops removed (``_dropped_kinds``; a NULL kind too,
    as SQL's ``NOT IN`` drops it) and ``_SEQUENCE_NUMBER``
    ``base_sequence`` + the row's position among those kept, unless
    ``tbl`` carries them; on a bucketed layout ``_bucket``
    (``bucket_column``), unless ``tbl`` carries it. The columns built
    here are non-nullable, as Spark types a literal and a cast sequence
    (parquet ``REQUIRED``, no definition levels). Shared by the Arrow
    route of ``stage_and_collect`` and the ``format("ftss")`` /
    ``write_arrow`` tasks."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if schema.primary_keys:
        if VALUE_KIND not in tbl.column_names:
            kinds = pa.repeat(KIND_INSERT, tbl.num_rows)
            tbl = tbl.append_column(pa.field(VALUE_KIND, kinds.type, nullable=False), kinds)
        dropped = _dropped_kinds(schema)
        if dropped:
            kinds = tbl.column(VALUE_KIND)
            keep = pc.and_(pc.is_valid(kinds), pc.invert(pc.is_in(kinds, pa.array(dropped))))
            tbl = tbl.filter(keep)
        if SEQUENCE_NUMBER not in tbl.column_names:
            seq = np.arange(base_sequence, base_sequence + tbl.num_rows, dtype=np.int64)
            tbl = tbl.append_column(
                pa.field(SEQUENCE_NUMBER, pa.int64(), nullable=False), pa.array(seq)
            )
    if _bucketed(schema) and BUCKET_COL not in tbl.column_names:
        tbl = tbl.append_column(
            pa.field(BUCKET_COL, pa.int32(), nullable=False), bucket_column(tbl, schema)
        )
    return tbl


def bucket_of(schema: TableSchema, values: dict) -> int | None:
    """``bucket_expr`` in Python for one row of a fixed-bucket layout:
    the bucket of the bucket-key values ``values`` (``{column: value}``),
    floorMod of the key for ``bucket-function.type=mod`` and Spark's
    ``xxhash64`` otherwise, whose running hash skips NULL fields. None
    when the pure-Python hash does not cover a key's type
    (``xxh64.spark_xxhash64``)."""
    n = schema.num_buckets()
    keys = bucket_keys(schema)
    if bucket_function_type(schema) == "mod":
        v = values.get(keys[0])
        return int(v) % n if v is not None else 0
    h = spark_xxhash64(
        [(values[k], schema.field(k).type.lower()) for k in keys if values.get(k) is not None]
    )
    return None if h is None else h % n


def apply_column_defaults(df: DataFrame, schema: TableSchema) -> DataFrame:
    """Column DEFAULTs substitute for NULL at WRITE time (reference
    TableWriteImpl.wrapDefaultValue / casting/DefaultValueRow.java:
    isNullAt = row null AND default null). Applied on the user write
    APIs only — maintenance rewrites must never rewrite stored nulls
    that predate a default."""
    defaults = [(f.name, f.type, f.default_value) for f in schema.fields if f.default_value is not None]
    if not defaults:
        return df
    eng = schema.options.get("merge-engine", "deduplicate")
    if schema.primary_keys and eng in ("partial-update", "aggregation"):
        # NULL is semantic for these engines (skip-update / identity)
        raise ValueError(
            f"column defaults are not supported with merge-engine={eng} "
            "(NULL means 'no update' there)"
        )
    for name, typ, dv in defaults:
        if name in df.columns:
            df = df.withColumn(
                name, F.coalesce(F.col(name).cast(typ), F.expr(dv).cast(typ))
            )
    return df


def parse_default_literal(dv: str):
    """Plain-literal subset of default expressions for the Arrow-based
    writers (no Spark to evaluate SQL): ints, floats, booleans, single-
    quoted strings, NULL. Returns (ok, value)."""
    t = dv.strip()
    low = t.lower()
    if low == "null":
        return True, None
    if low in ("true", "false"):
        return True, low == "true"
    if len(t) >= 2 and t[0] == "'" and t[-1] == "'":
        return True, t[1:-1].replace("''", "'")
    try:
        return True, int(t)
    except ValueError:
        pass
    try:
        return True, float(t)
    except ValueError:
        return False, None


def _field_values(df: DataFrame, schema: TableSchema) -> list[str]:
    """The SQL value of each table field over ``df``: the column as it
    is when every field already has its type, else a cast."""
    have = {f.name: f.dataType for f in df.schema.fields}
    if all(have.get(f.name) == parse_type(f.type) for f in schema.fields):
        return [quote_ident(f.name) for f in schema.fields]
    return [f"CAST({quote_ident(f.name)} AS {f.type})" for f in schema.fields]


def _cast_to_schema(df: DataFrame, schema: TableSchema, extra: list[str] = ()) -> DataFrame:
    """``df`` as the table's fields (cast, renamed, in order) plus the
    ``extra`` columns it has. Each PySpark ``Column`` costs several JVM
    round-trips on every commit, so a frame that already has the exact
    names and types comes back as is (or reordered), and a cast goes
    through one SQL string."""
    extra = [c for c in extra if c in df.columns]
    names = schema.field_names() + extra
    values = _field_values(df, schema)
    if df.columns == names and values == [quote_ident(c) for c in schema.field_names()]:
        return df
    return select_exprs(
        df,
        [f"{v} AS {quote_ident(f)}" for v, f in zip(values, schema.field_names())]
        + [quote_ident(c) for c in extra],
    )


def stage_and_collect(
    df: "DataFrame | pa.Table",
    table_path: str,
    schema: TableSchema,
    base_sequence: int = 0,
    row_kind_col: str | None = None,
    target_level: int = 0,
    keep_cols: list[str] | None = None,
    preserve_seq: bool = False,
    pre_partitioned: bool = False,
    spark: SparkSession | None = None,
) -> list[ManifestEntry]:
    """Write ``df`` into the table's data layout; return manifest entries.

    PK tables get system columns ``_SEQUENCE_NUMBER`` / ``_VALUE_KIND``
    and a ``_bucket`` assignment, then one shuffle on
    (partition, bucket) so each (partition, bucket) is written by one
    task → one level-``target_level`` file per commit per bucket (the
    LSM run, SURVEY §2.1 S16).

    Two sinks stage the files, in the same ``<k=v>/_bucket=<n>/``
    layout. A frame whose rows already sit on the driver
    (``createDataFrame`` from pandas, SQL ``VALUES``) runs no Spark job
    (Paimon commits on the coordinator; pypaimon writes Arrow
    in-process): it gets one projection (``_local_projection``: the
    cast to the table's types and Spark's own directory string of each
    partition key), and when Catalyst's optimized plan of that
    projection is a ``LocalRelation`` its rows become a pyarrow Table in
    the driver JVM (``_local_arrow``), their system columns are built in
    Arrow (``system_columns``) and pyarrow writes one file per
    (partition, bucket) (``_arrow_sink``), in the Spark sink's codec,
    zstd level, dictionary choice and timestamp encoding. Every other
    frame, and every table whose files pyarrow cannot write as Spark
    does (``_spark_sink_only``, ``arrow_codec``), goes through one Spark
    file-write job. Everything after staging (file indexes, footer
    stats, the move into ``data/``) is shared.

    ``df`` may also be a pyarrow Table of rows already on the driver,
    with ``spark`` the session: a primary-key rewrite's rows with
    ``preserve_seq``, holding the table's columns, ``_VALUE_KIND``,
    ``_SEQUENCE_NUMBER`` and ``_bucket`` (a driver compaction). The
    Arrow sink writes them as they stand, less the row kinds the write
    drops, with no round trip through the JVM, unless the table has file indexes (built
    by a Spark job over the frame), files only the Spark sink writes
    (``_spark_sink_only``, ``arrow_codec``) or partition keys the Arrow
    sink cannot spell (``unspelled_partition_keys``); then the table
    becomes a frame first (``createDataFrame``). The Arrow sink's third
    caller, ``write_rows``, writes the rows of ``format("ftss")`` tasks
    and of ``Table.write_arrow`` the same way, without a session.

    ``pre_partitioned=True``: the caller guarantees ``df`` already
    carries ``_bucket`` AND is hash-partitioned on (partition, bucket)
    — the write-side repartition is skipped (r12 one-shuffle
    compaction). Layout stays correct even if the guarantee is broken
    (partitionBy routes rows by value); only file counts would suffer.
    """
    pk = bool(schema.primary_keys)
    pt_cols = list(schema.partition_keys)
    fmt = schema.file_format()
    staging = os.path.join(table_path, "staging", uuid.uuid4().hex)
    if not isinstance(df, DataFrame):
        codec = None if _spark_sink_only(schema, fmt) else arrow_codec(schema, spark)
        if (
            codec is not None
            and pk
            and preserve_seq
            and {VALUE_KIND, SEQUENCE_NUMBER, BUCKET_COL} <= set(df.column_names)
            and not fileindex.bloom_columns(schema.options)
            and not fileindex.bitmap_columns(schema.options)
            and not unspelled_partition_keys(schema)
        ):
            rows = _arrow_rows(system_columns(df, schema, base_sequence), schema)
            _arrow_sink(rows, *codec, staging, pt_cols + [BUCKET_COL])
            return _finish_staged(spark, None, staging, table_path, schema, target_level, fmt)
        df = spark.createDataFrame(df)

    kind = None
    if pk:
        if row_kind_col and row_kind_col in df.columns:
            kind = row_kind_col
        elif ROW_KIND in df.columns:
            kind = ROW_KIND
    codec = None if _spark_sink_only(schema, fmt) else arrow_codec(schema, df.sparkSession)
    rows = None if codec is None else _local_rows(df, schema, kind, preserve_seq, keep_cols)
    if rows is not None:
        rows = system_columns(rows, schema, base_sequence)
        partition_by = pt_cols + ([BUCKET_COL] if BUCKET_COL in rows.column_names else [])
        _arrow_sink(_arrow_rows(rows, schema), *codec, staging, partition_by)
        return _finish_staged(
            df.sparkSession, lambda: _frame_schema(rows, schema), staging, table_path, schema,
            target_level, fmt,
        )

    if pk:
        if kind != VALUE_KIND:  # maintenance rewrites carry it already
            df = df.withColumn(
                VALUE_KIND, F.expr(quote_ident(kind) if kind else f"'{KIND_INSERT}'")
            )
        dropped = _dropped_kinds(schema)
        if dropped:
            df = df.where(f"NOT ({VALUE_KIND} IN ({', '.join(repr(k) for k in dropped)}))")
        extra_sys = [VALUE_KIND] + ([SEQUENCE_NUMBER] if preserve_seq else [])
        df = _cast_to_schema(df, schema, extra=extra_sys + [BUCKET_COL])
        # partial compaction (preserve_seq) carries ORIGINAL sequence
        # numbers so merge-on-read ordering against untouched runs is
        # unchanged (the reference's rewriters keep KeyValue
        # sequenceNumber); otherwise input order within source
        # partitions is preserved by monotonically_increasing_id,
        # assigned BEFORE the bucket shuffle
        if not (preserve_seq and SEQUENCE_NUMBER in df.columns):
            df = df.withColumn(
                SEQUENCE_NUMBER,
                F.expr(f"CAST({base_sequence} + monotonically_increasing_id() AS BIGINT)"),
            )
        # fixed-bucket hash; postpone mode (every row in the postpone
        # bucket, NO key shuffle at ingest — compaction redistributes
        # later and arrives here with BUCKET_COL pre-assigned); dynamic-
        # bucket tables arrive pre-assigned
        # (operators/dynamic_bucket.assign_buckets)
        postpone_write = False
        if BUCKET_COL not in df.columns:
            postpone_write = schema.num_buckets() == POSTPONE_BUCKET
            df = df.withColumn(
                BUCKET_COL,
                F.lit(POSTPONE_BUCKET) if postpone_write else bucket_expr(schema),
            )
        shuffle = not postpone_write and not pre_partitioned
        partition_by = pt_cols + [BUCKET_COL]
    else:
        # keep_cols: extra stored columns a maintenance rewrite carries
        # through (e.g. the materialized _ROW_ID of row-tracking
        # compaction); ordinary reads drop them by projection
        df = _cast_to_schema(df, schema, extra=list(keep_cols or []))
        partition_by = pt_cols
        shuffle = _bucketed(schema)
        if shuffle:
            # bucketed APPEND table (reference BucketMode.BUCKET_APPEND:
            # bucket-key without primary keys, AppendOnlyFileStore.java
            # bucketMode): rows distribute by the shared bucket hash so
            # two such tables co-partition for join_bucketed and bucket
            # predicates prune scans — same hash as PK tables
            df = df.withColumn(BUCKET_COL, bucket_expr(schema))
            partition_by = pt_cols + [BUCKET_COL]

    if shuffle:
        df = df.repartition(*[F.expr(quote_ident(c)) for c in partition_by])
    _spark_sink(df, staging, schema, fmt, partition_by)
    return _finish_staged(
        df.sparkSession, lambda: df.schema, staging, table_path, schema, target_level, fmt
    )


def _local_rows(
    df: DataFrame, schema: TableSchema, kind: str | None, preserve_seq: bool, keep_cols
) -> "pa.Table | None":
    """The columns of ``_local_projection`` as a pyarrow Table when
    ``df``'s rows sit on the driver, else None. When every column is one
    of the frame's as it stands, the frame's own rows are converted and
    the columns picked in Arrow; otherwise the projection runs in
    Catalyst, and ``ConvertToLocalRelation`` evaluates it on the
    driver. A plan that reads files has no row bound (``maxRows``), so
    compactions and other rewrites skip the projection and the
    optimizer pass (10-13 ms on a universal compaction of a 4-bucket q1
    table); a frame that is a bare ``LocalRelation`` (``createDataFrame``
    from pandas) skips the optimizer pass too."""
    import pyarrow as pa

    qe = df._jdf.queryExecution()
    plan = qe.analyzed()
    bare = plan.nodeName() == "LocalRelation"
    if not bare and not plan.maxRows().isDefined():
        return None
    cols = _local_projection(df, schema, kind, preserve_seq, keep_cols)
    picks = [column for _name, column, _sql in cols]
    if None in picks:
        df = select_exprs(df, [f"{sql} AS {quote_ident(name)}" for name, _c, sql in cols])
        qe, bare = df._jdf.queryExecution(), False
    if not bare:
        plan = qe.optimizedPlan()
        if plan.nodeName() != "LocalRelation":
            return None
    tbl = _local_arrow(df.sparkSession, plan)
    if None in picks:
        return tbl
    return pa.table([tbl.column(c) for c in picks], names=[name for name, _c, _sql in cols])


def _local_projection(
    df: DataFrame, schema: TableSchema, kind: str | None, preserve_seq: bool, keep_cols
) -> list[tuple[str, str | None, str]]:
    """The one projection a frame gets on the way to the Arrow sink, as
    ``(name, frame column or None, SQL)`` per output column: the
    table's fields, cast to their types unless the frame has them all
    already; on a primary-key table the row-kind column ``kind`` as
    ``_VALUE_KIND``, and the ``_SEQUENCE_NUMBER`` (with
    ``preserve_seq``) and ``_bucket`` the frame carries; on an append
    table the ``keep_cols`` it carries; ``bucket_expr`` when
    ``bucket_column`` cannot hash a bucket key
    (``unhashed_bucket_keys``); and one directory string per partition
    key (``_PT_DIR``), Spark's own ``CAST(... AS STRING)`` with ``''``
    as null, as ``partitionBy`` writes them."""
    names = schema.field_names()
    values = dict(zip(names, _field_values(df, schema)))
    have = set(df.columns)
    cols = [(c, c if values[c] == quote_ident(c) else None, values[c]) for c in names]
    if schema.primary_keys:
        carried = ([SEQUENCE_NUMBER] if preserve_seq else []) + [BUCKET_COL]
        cols += [(VALUE_KIND, kind, quote_ident(kind))] if kind else []
    else:
        carried = list(keep_cols or ())
    cols += [(c, c, quote_ident(c)) for c in carried if c in have]
    if unhashed_bucket_keys(schema) and BUCKET_COL not in {name for name, _c, _s in cols}:
        keys = [values[k] for k in bucket_keys(schema)]
        cols.append((BUCKET_COL, None, _bucket_sql(schema, keys=keys)))
    cols += [
        (_PT_DIR.format(i), None, f"NULLIF(CAST({values[c]} AS STRING), '')")
        for i, c in enumerate(schema.partition_keys)
    ]
    return cols


# the JVM handles _local_arrow calls, per py4j gateway view:
# [(jvm, ArrowConverters, PythonRDD)]
_JVM_ARROW: list = []


def _local_arrow(spark: SparkSession, plan) -> "pa.Table":
    """The rows of the optimized ``LocalRelation`` ``plan`` as a pyarrow
    Table, with no Spark job: ``ArrowConverters`` encodes them as Arrow
    in the driver JVM, and ``PythonRDD.serveIterator`` streams the bytes
    over a local socket (a py4j ``byte[]`` return of ~100 KB stalls for
    tens of ms). The Arrow types are those ``DataFrame.toArrow`` gives,
    timestamps in UTC."""
    import pyarrow as pa
    from pyspark.serializers import NoOpSerializer
    from pyspark.util import _load_from_socket

    jvm = spark._jvm
    if not _JVM_ARROW or _JVM_ARROW[0][0] is not jvm:
        pkg = jvm.org.apache.spark
        conv = getattr(getattr(pkg.sql.execution.arrow, "ArrowConverters$"), "MODULE$")
        _JVM_ARROW[:] = [(jvm, conv, pkg.api.python.PythonRDD)]
    _view, conv, served = _JVM_ARROW[0]
    schema = plan.schema()
    # one IPC stream (schema and batch): no row or byte cap per batch
    batches = conv.toBatchWithSchemaIterator(
        plan.data().iterator(), schema, 0, (1 << 63) - 1, "UTC", True, False
    )
    info = served.serveIterator(batches, "serve local rows as Arrow")
    streams = list(_load_from_socket((info[0], info[1]), NoOpSerializer()))
    info[2].getResult()  # raises what the serving thread raised
    if not streams:
        streams = [conv.createEmptyArrowBatch(schema, "UTC", True, False)]
    return pa.concat_tables([pa.ipc.open_stream(s).read_all() for s in streams])


def _frame_schema(rows: "pa.Table", schema: TableSchema) -> "StructType":
    """The Spark schema of the staged rows ``rows`` without the
    ``_PT_DIR`` strings: the frame the Spark sink would have written."""
    from pyspark.sql.pandas.types import from_arrow_schema

    pt_dirs = [_PT_DIR.format(i) for i in range(len(schema.partition_keys))]
    return from_arrow_schema(rows.drop_columns(pt_dirs).schema)


def _finish_staged(
    spark: SparkSession,
    frame_schema: "Callable[[], StructType] | None",
    staging: str,
    table_path: str,
    schema: TableSchema,
    target_level: int,
    fmt: str,
) -> list[ManifestEntry]:
    """stage_and_collect's tail over the files staged under ``staging``:
    file indexes, per-file stats, the move into ``data/``, the manifest
    entries. ``frame_schema`` gives the Spark schema of the rows written,
    which spares the Spark jobs over the staged files an inference pass;
    None lets them infer it."""
    # file indexes (P9): ONE distributed job computes every configured
    # column's bloom bitset + bitmap value-set per staged file and writes
    # sidecar `.index` files executor-side; only sub-threshold indexes
    # embed in the manifest (fileindex.build_indexes docstring)
    indexes: dict = {}
    idx_cols = [
        c
        for c in fileindex.bloom_columns(schema.options)
        if c not in schema.partition_keys
    ]
    bm_cols = [
        c
        for c in fileindex.bitmap_columns(schema.options)
        if c not in schema.partition_keys
    ]
    stats_exclude = set(schema.partition_keys) | {BUCKET_COL}
    if idx_cols or bm_cols:
        indexes = fileindex.build_indexes(
            spark,
            staging,
            idx_cols,
            bm_cols,
            fileindex.bloom_bits(schema.options),
            fmt,
            fileindex.in_manifest_threshold(schema.options),
            with_stats=True,
            stats_exclude=stats_exclude,
            # the staged layout is exactly what was just written —
            # passing the schema skips the read-side inference job
            schema=frame_schema() if frame_schema and fmt in ("parquet", "orc") else None,
        )

    # per-file stats: fused into the index job when one ran (the driver
    # then walks NO footers — one job per indexed commit, reference
    # CommitMessage/DataFileMeta shape); else parquet footers driver-side
    # below commit.distributed-stats-threshold staged files and one
    # distributed aggregation above it (or always, for footerless
    # formats) — the commit-side twin of the scan planner's distributed
    # manifest switch
    stats_by_path = {
        p: (m["rc"], m["stats"]) for p, m in indexes.items() if "rc" in m
    } or None
    if stats_by_path is None:
        # VARIANT columns (F6): Spark 4 writes the new parquet VARIANT
        # logical type, which pyarrow's footer reader rejects ("Thrift
        # LogicalType that is not recognized") — stats for such tables
        # must come from the distributed Spark job (Spark reads its own
        # files fine; variant itself is unstatable and excluded).
        # Checked on the PARSED type tree — a field merely NAMED
        # "variant_x" must not disable the cheap footer walk.
        has_variant = any("variant" in _type_names(parse_type(f.type)) for f in schema.fields)
        distributed = fmt != "parquet" or has_variant
        if not distributed:
            thr = int(schema.options.get("commit.distributed-stats-threshold", "1000"))
            n_staged = sum(
                1
                for _d, _s, files in os.walk(staging)
                for fn in files
                if fn.endswith(f".{fmt}")
            )
            distributed = n_staged > thr
        if distributed:
            stats_by_path = collect_stats_distributed(
                spark, staging, fmt, exclude=stats_exclude,
                # the staged layout is exactly what was just written —
                # passing the schema skips the read-side inference job
                # (r12; same as build_indexes). VARIANT columns stay on
                # inference: Spark must re-derive its own encoding.
                schema=None if has_variant or not frame_schema else frame_schema(),
            )
    entries = _collect_staged(staging, table_path, schema, target_level, indexes, fmt, stats_by_path)
    shutil.rmtree(staging, ignore_errors=True)
    return entries


def _spark_sink(
    df: DataFrame, staging: str, schema: TableSchema, fmt: str, partition_by: list[str]
) -> None:
    """The executor-side sink: one Spark file-write job into ``staging``,
    one directory per ``partition_by`` value."""
    writer = df.write.mode("overwrite").format(fmt)
    # file indexes (P9): format-native bloom filters per configured
    # column (reference bloomfilter/BloomFilterFileIndexFactory.java:29;
    # here the index lives IN the parquet footer / orc stripe metadata
    # and the reader's row-group filter uses it natively)
    bloom_cols = schema.options.get("file-index.bloom-filter.columns")
    if bloom_cols:
        if fmt == "parquet":
            for c in bloom_cols.split(","):
                # dotted struct-leaf paths get the engine-side sidecar
                # index only; the parquet-native writer option addresses
                # top-level columns
                if "." not in c:
                    writer = writer.option(f"parquet.bloom.filter.enabled#{c.strip()}", "true")
        elif fmt == "orc":
            writer = writer.option("orc.bloom.filter.columns", bloom_cols)
    comp = schema.options.get("file.compression")
    if comp:
        # CoreOptions FILE_COMPRESSION (reference default zstd; here the
        # engine honors the option and otherwise keeps Spark's codec)
        writer = writer.option("compression", comp)
        zlevel = schema.options.get("file.compression.zstd-level")
        if zlevel and fmt == "parquet" and comp.lower() == "zstd":
            writer = writer.option("parquet.compression.codec.zstd.level", zlevel)
    blk = schema.options.get("file.block-size")
    if blk:
        writer = writer.option(
            "parquet.block.size" if fmt == "parquet" else "orc.stripe.size", blk
        )
    for k, v in schema.options.items():
        if k.startswith(f"{fmt}."):
            writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(staging)


# pyarrow's name for each Spark parquet codec it writes the same way
_ARROW_CODECS = {
    "none": "none",
    "uncompressed": "none",
    "snappy": "snappy",
    "gzip": "gzip",
    "zstd": "zstd",
}
# parquet-mr's default levels; pyarrow's own are zstd 1 and zlib 9
_DEFAULT_LEVELS = {"zstd": 3, "gzip": 6}


def _dropped_kinds(schema: TableSchema) -> tuple[str, ...]:
    """The row kinds a primary-key write drops. CoreOptions.IGNORE_DELETE
    (+ per-engine fallback keys): retract records (isRetract: -D and -U)
    from e.g. CDC streams, so the table keeps the last non-delete value.
    CoreOptions.IGNORE_UPDATE_BEFORE: -U alone (redundant for upsert
    streams whose +U carries the full row); -D still deletes."""
    opts = schema.options
    engine = opts.get("merge-engine", "deduplicate")
    if any(opts.get(k) == "true" for k in ("ignore-delete", f"{engine}.ignore-delete")):
        return ("-D", "-U")
    if opts.get("ignore-update-before") == "true":
        return ("-U",)
    return ()


def _spark_sink_only(schema: TableSchema, fmt: str) -> bool:
    """True when only the Spark sink writes the table's files as Spark
    does: other formats, parquet-native bloom filters (pyarrow writes
    none), ``parquet.*`` or ``file.block-size`` writer options, VARIANT
    columns, and tables with both timestamp kinds (Spark stores
    TIMESTAMP as INT96 and TIMESTAMP_NTZ as INT64; pyarrow picks one
    encoding per file). ``write_rows`` writes such tables' files with
    pyarrow all the same."""
    opts = schema.options
    if (
        fmt != "parquet"
        or opts.get("file-index.bloom-filter.columns")
        or opts.get("file.block-size")
        or any(k.startswith("parquet.") for k in opts)
    ):
        return True
    kinds: set[str] = set()
    for f in schema.fields:
        kinds |= _type_names(parse_type(f.type))
    return "variant" in kinds or {"timestamp", "timestamp_ntz"} <= kinds


def arrow_codec(schema: TableSchema, spark: SparkSession | None = None):
    """``(codec, level)`` with which pyarrow writes the table's parquet
    files as the Spark sink does, or None for a codec pyarrow does not
    write as Spark does. The codec is the table's ``file.compression``,
    else the session's parquet codec, else (no session)
    ``session.PARQUET_CODEC``, the one the engine's sessions are built
    with; the level is ``file.compression.zstd-level`` or parquet-mr's
    default."""
    opts = schema.options
    comp = opts.get("file.compression")
    session = spark.conf.get("spark.sql.parquet.compression.codec", "snappy") if spark else None
    codec = _ARROW_CODECS.get((comp or session or PARQUET_CODEC).lower())
    if codec is None:
        return None
    level = _DEFAULT_LEVELS.get(codec)
    if comp and codec == "zstd" and opts.get("file.compression.zstd-level"):
        level = int(opts["file.compression.zstd-level"])
    return codec, level


# Spark types whose CAST(... AS STRING) Arrow's cast to string spells alike
_ARROW_SPELLED = frozenset(
    "tinyint byte smallint short int integer bigint long string varchar char date boolean".split()
)


def unspelled_partition_keys(schema: TableSchema) -> list[str]:
    """The partition keys whose directory string Arrow would spell
    unlike Spark's ``CAST(... AS STRING)``: any type but integral,
    string, date and boolean (Arrow writes ``1e+20`` and
    ``2024-01-01T12:00:00+00:00`` where Spark writes ``1.0E20`` and
    ``2024-01-01 12:00:00``, so the rows of one partition would land in
    two)."""
    return [
        k
        for k in schema.partition_keys
        if schema.field(k).type.strip().lower().split("(")[0] not in _ARROW_SPELLED
    ]


def _arrow_rows(tbl: "pa.Table", schema: TableSchema) -> "pa.Table":
    """The rows ``tbl`` ready for the Arrow sink: with one ``_PT_DIR``
    string per partition key. Strings ``tbl`` carries (Spark's, from
    ``_local_projection``) stay; the others are Arrow's cast to string,
    which spells the keys ``unspelled_partition_keys`` passes as Spark
    does."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for i, c in enumerate(schema.partition_keys):
        if _PT_DIR.format(i) in tbl.column_names:
            continue
        s = pc.cast(tbl.column(c), pa.string())
        tbl = tbl.append_column(
            _PT_DIR.format(i), pc.if_else(pc.equal(s, ""), pa.scalar(None, pa.string()), s)
        )
    return tbl


def write_rows(
    tbl: "pa.Table", table_path: str, schema: TableSchema, codec: tuple, staging: str
) -> list[ManifestEntry]:
    """Write the rows ``tbl`` as level-0 files through the Arrow sink,
    with no Spark session: ``format("ftss")`` tasks and
    ``Table.write_arrow``. ``tbl`` holds the table's columns and the
    system columns of ``system_columns``; ``codec`` is ``arrow_codec``'s,
    and no partition key may be in ``unspelled_partition_keys``. The
    files are staged under ``staging``, which is removed afterwards,
    and their footers walked into the manifest entries returned; the
    files themselves are moved into ``data/``."""
    partition_by = list(schema.partition_keys)
    if BUCKET_COL in tbl.column_names:
        partition_by.append(BUCKET_COL)
    try:
        _arrow_sink(_arrow_rows(tbl, schema), *codec, staging, partition_by)
        return _collect_staged(staging, table_path, schema, 0)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _type_names(dt) -> set[str]:
    """``typeName()`` of every type in a PARSED type tree."""
    from pyspark.sql import types as T

    out = {dt.typeName()}
    if isinstance(dt, T.StructType):
        for f in dt.fields:
            out |= _type_names(f.dataType)
    elif isinstance(dt, T.ArrayType):
        out |= _type_names(dt.elementType)
    elif isinstance(dt, T.MapType):
        out |= _type_names(dt.keyType) | _type_names(dt.valueType)
    return out


# the Arrow sink's directory string of partition key i
_PT_DIR = "__pt{}"
# ExternalCatalogUtils.charToEscape (non-Windows): the characters Spark
# percent-encodes in a partition directory name
_PATH_ESCAPES = frozenset('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(1, 0x20)}


def _escape_path_name(s: str) -> str:
    """``ExternalCatalogUtils.escapePathName``: the directory name that
    ``partitionBy`` writes and ``parse_partition`` unquotes."""
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPES else c for c in s)


def _arrow_sink(
    tbl: "pa.Table",
    codec: str,
    level: int | None,
    staging: str,
    partition_by: list[str],
) -> None:
    """The driver-local sink: pyarrow writes the rows ``tbl``
    (``_arrow_rows``) as one
    parquet file per (partition, bucket) into ``staging``, in
    ``partitionBy``'s layout, with no repartition and no Spark write
    job. Timestamps are stored as Spark stores them by default, as
    INT96 (which carries no footer stats), unless the rows hold a
    TIMESTAMP_NTZ, which Spark stores as INT64."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(staging, exist_ok=True)
    if tbl.num_rows == 0:
        return
    # the column holding each directory's value: the partition keys'
    # strings, then the bucket
    dirs = [c if c == BUCKET_COL else _PT_DIR.format(i) for i, c in enumerate(partition_by)]
    data = tbl.drop_columns(list(dict.fromkeys(partition_by + dirs)))
    int96 = not any(_naive_timestamps(f.type) for f in data.schema)
    if dirs:
        # pyarrow's group_by on several keys splits NULL keys over many
        # groups (one file each); a directory string is never '' (NULLIF),
        # so '' stands for the default partition
        groups = (
            pa.table(
                [tbl.column(d) if d == BUCKET_COL else pc.fill_null(tbl.column(d), "") for d in dirs],
                names=dirs,
            )
            .append_column("__i", pa.array(range(tbl.num_rows), pa.int64()))
            .group_by(dirs, use_threads=False)
            .aggregate([("__i", "list")])
        )
        keys, rows = groups.select(dirs).to_pylist(), groups.column("__i_list")
    else:
        keys, rows = [{}], [None]
    for n, (key, idx) in enumerate(zip(keys, rows)):
        rel = [
            _escape_path_name(name)
            + "="
            + ("__HIVE_DEFAULT_PARTITION__" if key[d] == "" else _escape_path_name(str(key[d])))
            for name, d in zip(partition_by, dirs)
        ]
        out = os.path.join(staging, *rel)
        os.makedirs(out, exist_ok=True)
        part = data if idx is None else data.take(idx.values)
        pq.write_table(
            part,
            os.path.join(out, f"part-{n:05d}.parquet"),
            compression=codec,
            compression_level=level,
            use_dictionary=_dictionary_columns(part, int96),
            use_deprecated_int96_timestamps=int96,
            store_schema=False,
        )


def _naive_timestamps(typ) -> bool:
    """Whether the Arrow type ``typ`` holds a timestamp without a time
    zone (a TIMESTAMP_NTZ) anywhere in its tree."""
    import pyarrow as pa

    if pa.types.is_timestamp(typ):
        return typ.tz is None
    return any(_naive_timestamps(typ.field(i).type) for i in range(typ.num_fields))


def _dictionary_columns(tbl, int96: bool) -> list[str]:
    """The columns parquet-mr writes dictionary-encoded: those whose
    dictionary plus bit-packed indices come out smaller than the plain
    values (``DictionaryValuesWriter.isCompressionSatisfying``), which
    parquet-mr decides on its first page; the first 32768 values stand
    in for it. pyarrow would dictionary-encode every column, which made
    1000-row q1 L0 files a quarter larger. Booleans and nested columns
    stay plain."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out = []
    for name, col in zip(tbl.column_names, tbl.slice(0, 1 << 15).columns):
        typ = col.type
        rows = len(col) - col.null_count
        if pa.types.is_nested(typ) or pa.types.is_boolean(typ) or rows == 0:
            continue
        distinct = pc.count_distinct(col).as_py()
        try:
            width = 12 if int96 and pa.types.is_timestamp(typ) else typ.bit_width // 8
            plain, dictionary = width * rows, width * distinct
        except ValueError:  # strings and binaries: length-prefixed values
            plain = (pc.sum(pc.binary_length(col)).as_py() or 0) + 4 * rows
            dictionary = plain * distinct / max(rows, 1)
        indices = rows * max(1, (distinct - 1).bit_length()) / 8
        if indices + dictionary < plain:
            out.append(name)
    return out


def collect_stats_distributed(
    spark, staging: str, fmt: str, exclude: set[str] | None = None,
    schema=None,
) -> dict[str, tuple[int, dict]]:
    """{staged-file-abs-path: (row_count, per-column {min,max,nulls})}
    via one Spark aggregation grouped on ``_metadata.file_path`` —
    the executor-side twin of the parquet footer walk. ``exclude``
    skips partition-directory columns whose values spark.read re-infers
    by type (stats on them could mismatch the real column; the manifest
    entry's partition map is authoritative)."""
    import urllib.parse as _up

    from flink_table_store_spark.manifest import _json_safe, statable_columns

    reader = spark.read.format(fmt)
    if schema is not None:
        # the writer knows the exact staged schema — skip the
        # footer-sampling inference job (r12; at >1000 staged files the
        # sampling pass itself opens many footers)
        reader = reader.schema(schema)
    df = reader.load(staging)
    statable = [c for c, _t in statable_columns(df.schema, exclude)]
    aggs = [F.count(F.lit(1)).alias("__rc")]
    for c in statable:
        aggs += [
            F.min(F.col(c)).alias(f"__mn_{c}"),
            F.max(F.col(c)).alias(f"__mx_{c}"),
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nu_{c}"),
        ]
    rows = (
        df.groupBy(F.col("_metadata.file_path").alias("__f")).agg(*aggs).collect()
    )
    out: dict[str, tuple[int, dict]] = {}
    for r in rows:
        stats = {
            c: {
                "min": _json_safe(r[f"__mn_{c}"]),
                "max": _json_safe(r[f"__mx_{c}"]),
                "nulls": r[f"__nu_{c}"],
            }
            for c in statable
        }
        # _metadata.file_path is a URI: unquote percent-encoded chars so the
        # key matches os.path.abspath(src) even for paths with spaces etc.
        path = _up.unquote(_up.urlparse(r["__f"]).path) or r["__f"]
        out[path] = (r["__rc"], stats)
    return out


def _collect_staged(
    staging: str,
    table_path: str,
    schema: TableSchema,
    level: int,
    indexes: dict | None = None,
    fmt: str = "parquet",
    stats_by_path: dict[str, tuple[int, dict]] | None = None,
) -> list[ManifestEntry]:
    data_root = os.path.join(table_path, DATA_DIR)
    entries: list[ManifestEntry] = []
    now = now_millis()
    ext = f".{fmt}"
    for dirpath, _dirs, files in os.walk(staging):
        for fn in files:
            if not fn.endswith(ext):
                continue
            src = os.path.join(dirpath, fn)
            rel_dir = os.path.relpath(dirpath, staging)
            partition, bucket = parse_partition(rel_dir)
            if stats_by_path is not None:
                key = os.path.abspath(src)
                hit = stats_by_path.get(key) or stats_by_path.get(os.path.realpath(src))
                if hit is None:
                    # A stats miss must not silently drop the file from the
                    # commit (path-mapping mismatch ≠ empty file). Fall back
                    # to the parquet footer, else a per-file row count; rows
                    # with no stats commit with min/max=None — no pruning,
                    # but no data loss.
                    if fmt == "parquet":
                        try:
                            rc, _sz, st = collect_parquet_stats(src)
                        except OSError:
                            # pyarrow cannot read VARIANT-typed footers
                            rc, st = _fallback_row_count(src, fmt), {}
                        hit = (rc, st)
                    else:
                        hit = (_fallback_row_count(src, fmt), {})
                row_count, stats = hit
            else:
                row_count, _size, stats = collect_parquet_stats(src)
            if row_count == 0:
                continue
            # metadata.stats-mode (+ fields.<f>.stats-mode): system
            # columns are exempt — the sequence high-water mark and row
            # kinds are structural, not user stats
            from flink_table_store_spark.manifest import apply_stats_mode

            _sys = {
                k: v
                for k, v in stats.items()
                if k in (SEQUENCE_NUMBER, VALUE_KIND)
            }
            stats = apply_stats_mode(
                schema.options,
                {k: v for k, v in stats.items() if k not in _sys},
            )
            stats.update(_sys)
            # CoreOptions DATA_FILE_PREFIX (default "data-")
            new_name = (
                f"{schema.options.get('data-file.prefix', 'data-')}"
                f"{uuid.uuid4().hex}{ext}"
            )
            rel_parts = [] if rel_dir == "." else rel_dir.split(os.sep)
            dest_dir = os.path.join(data_root, *rel_parts)
            os.makedirs(dest_dir, exist_ok=True)
            dest = os.path.join(dest_dir, new_name)
            os.replace(src, dest)
            info = (indexes or {}).get(os.path.abspath(src))
            if info:
                for col, idx in info.get("inline", {}).items():
                    stats.setdefault(col, {"min": None, "max": None, "nulls": 0}).update(idx)
                sidecar_src = src + fileindex.INDEX_SUFFIX
                if info.get("sidecar") and os.path.exists(sidecar_src):
                    os.replace(sidecar_src, dest + fileindex.INDEX_SUFFIX)
                    stats[fileindex.INDEX_KEY] = {
                        "file": os.path.relpath(dest, table_path) + fileindex.INDEX_SUFFIX,
                        "cols": info["sidecar"],
                    }
            size = os.path.getsize(dest)
            seq_stats = stats.get(SEQUENCE_NUMBER, {})
            entries.append(
                ManifestEntry(
                    kind=KIND_ADD,
                    partition=partition,
                    bucket=bucket,
                    level=level,
                    file_name=os.path.relpath(dest, table_path),
                    row_count=row_count,
                    file_size=size,
                    min_seq=seq_stats.get("min", 0) or 0,
                    max_seq=seq_stats.get("max", 0) or 0,
                    schema_id=schema.id,
                    stats=stats,
                    creation_time=now,
                )
            )
    return entries


def _fallback_row_count(src: str, fmt: str) -> int:
    """Per-file row count for a staged file that missed the distributed
    stats map (only reached on a path-mapping mismatch or a genuinely
    empty part file — never the hot path)."""
    if fmt == "parquet":
        # reached only when pyarrow rejected the footer (VARIANT
        # logical type); duckdb's reader tolerates unknown logical types
        import duckdb

        return duckdb.sql(
            f"select count(*) from parquet_scan('{src}')"
        ).fetchone()[0]
    if fmt == "orc":
        import pyarrow.orc as _orc

        return _orc.ORCFile(src).nrows
    if fmt == "avro":
        try:
            import fastavro

            with open(src, "rb") as f:
                return sum(1 for _ in fastavro.reader(f))
        except Exception:
            return 0
    # text-based formats (csv/json/text): staged writes emit no headers,
    # so non-empty lines == rows
    with open(src, "rb") as f:
        return sum(1 for line in f if line.strip())


def parse_partition(rel_dir: str) -> tuple[dict[str, str], int]:
    """The manifest partition strings and the bucket of a staged file's
    directory ``rel_dir`` (``k=v/.../_bucket=n``, relative to the
    staging root)."""
    partition: dict[str, str] = {}
    bucket = 0
    if rel_dir == ".":
        return partition, bucket
    for seg in rel_dir.split(os.sep):
        if "=" not in seg:
            continue
        k, v = seg.split("=", 1)
        v = urllib.parse.unquote(v)
        if k == BUCKET_COL:
            bucket = int(v)
        else:
            partition[k] = "" if v == "__HIVE_DEFAULT_PARTITION__" else v
    return partition, bucket


def max_sequence(entries: list[ManifestEntry]) -> int:
    return max((e.max_seq for e in entries), default=0)
