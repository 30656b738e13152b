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
from typing import TYPE_CHECKING

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
from flink_table_store_spark.snapshot import now_millis

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa

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
    null directory)."""
    n = num_buckets if num_buckets is not None else schema.num_buckets()
    keys = [quote_ident(k) for k in bucket_keys(schema)]
    if bucket_function_type(schema) == "mod":
        return F.expr(f"CAST(coalesce(pmod(CAST({keys[0]} AS BIGINT), {n}), 0) AS INT)")
    return F.expr(f"CAST(pmod(xxhash64({', '.join(keys)}), {n}) AS INT)")


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


def _cast_to_schema(df: DataFrame, schema: TableSchema, extra: list[str] = ()) -> DataFrame:
    """``df`` as the table's fields (cast, renamed, in order) plus the
    ``extra`` columns it has. Each PySpark ``Column`` costs several JVM
    round-trips on every commit, so a frame that already has the exact
    names and types comes back as is (or reordered), and a cast goes
    through one SQL string."""
    extra = [c for c in extra if c in df.columns]
    names = schema.field_names() + extra
    have = {f.name: f.dataType for f in df.schema.fields}
    if all(have.get(f.name) == parse_type(f.type) for f in schema.fields):
        if df.columns == names:
            return df
        return select_exprs(df, [quote_ident(c) for c in names])
    return select_exprs(
        df,
        [
            f"CAST({quote_ident(f.name)} AS {f.type}) AS {quote_ident(f.name)}"
            for f in schema.fields
        ]
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
    layout. When Catalyst's optimized plan of the frame to write is a
    ``LocalRelation`` (``createDataFrame`` from pandas, SQL ``VALUES``),
    its rows, system columns and buckets were all computed on the
    driver: the Arrow sink takes them as Arrow and pyarrow writes one
    file per (partition, bucket), with no shuffle and no Spark job
    beyond the collect (Paimon commits on the coordinator; pypaimon
    writes Arrow in-process). It writes the Spark sink's codec, zstd
    level, dictionary choice and timestamp encoding. Every other frame,
    and every table whose files pyarrow cannot write as Spark does
    (``_arrow_sink_options``), goes through one Spark file-write job.
    Everything after staging (file indexes, footer stats, the move into
    ``data/``) is shared.

    ``df`` may also be a pyarrow Table of rows already on the driver,
    with ``spark`` the session: a primary-key rewrite's rows with
    ``preserve_seq``, holding the table's columns, ``_VALUE_KIND``,
    ``_SEQUENCE_NUMBER`` and ``_bucket`` (a driver compaction). The
    Arrow sink writes them as they stand, with no round trip through
    the JVM (``_arrow_rows``); any other such table becomes a frame
    first (``createDataFrame``).

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
        rows = _arrow_rows(df, schema, fmt, spark) if pk and preserve_seq else None
        if rows is not None:
            _arrow_sink(*rows, staging, pt_cols + [BUCKET_COL])
            return _finish_staged(spark, None, staging, table_path, schema, target_level, fmt)
        df = spark.createDataFrame(df)

    if pk:
        if row_kind_col and row_kind_col in df.columns:
            kind = row_kind_col
        elif ROW_KIND in df.columns:
            kind = ROW_KIND
        else:
            kind = None
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
        shuffle = bool(schema.options.get("bucket-key")) and schema.num_buckets() > 0
        if shuffle:
            # bucketed APPEND table (reference BucketMode.BUCKET_APPEND:
            # bucket-key without primary keys, AppendOnlyFileStore.java
            # bucketMode): rows distribute by the shared bucket hash so
            # two such tables co-partition for join_bucketed and bucket
            # predicates prune scans — same hash as PK tables
            df = df.withColumn(BUCKET_COL, bucket_expr(schema))
            partition_by = pt_cols + [BUCKET_COL]

    arrow = _arrow_sink_options(df, schema, fmt)
    if arrow is not None:
        frame, *codec = arrow
        _arrow_sink(frame.toArrow(), *codec, staging, partition_by)
    else:
        if shuffle:
            df = df.repartition(*[F.expr(quote_ident(c)) for c in partition_by])
        _spark_sink(df, staging, schema, fmt, partition_by)
    return _finish_staged(df.sparkSession, df, staging, table_path, schema, target_level, fmt)


def _finish_staged(
    spark: SparkSession,
    frame: DataFrame | None,
    staging: str,
    table_path: str,
    schema: TableSchema,
    target_level: int,
    fmt: str,
) -> list[ManifestEntry]:
    """stage_and_collect's tail over the files staged under ``staging``:
    file indexes, per-file stats, the move into ``data/``, the manifest
    entries. ``frame`` is the frame written, whose schema spares the
    Spark jobs over the staged files an inference pass; None (rows
    written from Arrow) lets them infer it."""
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
            schema=frame.schema if frame is not None and fmt in ("parquet", "orc") else None,
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
                schema=None if has_variant or frame is None else frame.schema,
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


def _arrow_codec(spark: SparkSession, schema: TableSchema, fmt: str):
    """``(codec, level, int96)`` when pyarrow can write the table's files
    as the Spark sink does, else None. The Spark sink writes other
    formats, parquet-native bloom filters (pyarrow writes none),
    ``parquet.*`` or ``file.block-size`` writer options, VARIANT
    columns, codecs pyarrow does not write as Spark does, and tables
    with both timestamp kinds (Spark stores TIMESTAMP as INT96 and
    TIMESTAMP_NTZ as INT64; pyarrow picks one encoding per file).
    ``int96``: store timestamps as Spark does by default, as INT96,
    which carries no footer stats."""
    opts = schema.options
    if (
        fmt != "parquet"
        or opts.get("file-index.bloom-filter.columns")
        or opts.get("file.block-size")
        or any(k.startswith("parquet.") for k in opts)
    ):
        return None
    kinds: set[str] = set()
    for f in schema.fields:
        kinds |= _type_names(parse_type(f.type))
    if "variant" in kinds or {"timestamp", "timestamp_ntz"} <= kinds:
        return None
    comp = opts.get("file.compression")
    name = comp or spark.conf.get("spark.sql.parquet.compression.codec", "snappy")
    codec = _ARROW_CODECS.get(name.lower())
    if codec is None:
        return None
    level = _DEFAULT_LEVELS.get(codec)
    if comp and codec == "zstd" and opts.get("file.compression.zstd-level"):
        level = int(opts["file.compression.zstd-level"])
    return codec, level, "timestamp_ntz" not in kinds


def _arrow_sink_options(df: DataFrame, schema: TableSchema, fmt: str):
    """``(frame, codec, level, int96)`` for the Arrow sink when ``df`` is
    driver-local (``_driver_local``) and pyarrow can write what the
    table asks for (``_arrow_codec``), else None. ``frame`` is ``df``
    plus one directory string per partition key (``_PT_DIR``), Spark's
    own ``CAST(... AS STRING)`` with ``''`` as null, as ``partitionBy``
    writes them."""
    codec = _arrow_codec(df.sparkSession, schema, fmt)
    if codec is None:
        return None
    if schema.partition_keys:
        # projected before the check, so the collect reuses the
        # optimized plan instead of folding every row a second time
        df = select_exprs(
            df,
            ["*"]
            + [
                f"NULLIF(CAST({quote_ident(c)} AS STRING), '') AS {_PT_DIR.format(i)}"
                for i, c in enumerate(schema.partition_keys)
            ],
        )
    if not _driver_local(df):
        return None
    return (df, *codec)


def _arrow_rows(tbl: "pa.Table", schema: TableSchema, fmt: str, spark: SparkSession):
    """``(table, codec, level, int96)`` for the Arrow sink to write the
    driver rows ``tbl`` (see stage_and_collect) as they stand, or None
    when they must become a frame: the table has file indexes (built by
    a Spark job over the frame), its files need the Spark sink
    (``_arrow_codec``), or a partition key is of a type whose string
    pyarrow may spell unlike Spark's ``CAST(... AS STRING)``. ``table``
    is ``tbl`` without the row kinds the write drops (``_dropped_kinds``)
    and with the ``_PT_DIR`` strings of ``_arrow_sink_options``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    codec = _arrow_codec(spark, schema, fmt)
    if (
        codec is None
        or fileindex.bloom_columns(schema.options)
        or fileindex.bitmap_columns(schema.options)
        or not {VALUE_KIND, SEQUENCE_NUMBER, BUCKET_COL} <= set(tbl.column_names)
    ):
        return None
    for i, c in enumerate(schema.partition_keys):
        typ = tbl.schema.field(c).type
        if not (
            pa.types.is_integer(typ)
            or pa.types.is_string(typ)
            or pa.types.is_date32(typ)
            or pa.types.is_boolean(typ)
        ):
            return None
        s = pc.cast(tbl.column(c), pa.string())
        tbl = tbl.append_column(
            _PT_DIR.format(i), pc.if_else(pc.equal(s, ""), pa.scalar(None, pa.string()), s)
        )
    dropped = _dropped_kinds(schema)
    if dropped:
        tbl = tbl.filter(pc.invert(pc.is_in(tbl.column(VALUE_KIND), pa.array(dropped))))
    return (tbl, *codec)


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


def _driver_local(df: DataFrame) -> bool:
    """True when Catalyst's optimized plan of ``df`` is a
    ``LocalRelation``: its rows already sit on the driver
    (``createDataFrame`` from pandas, SQL ``VALUES``), and
    ``ConvertToLocalRelation`` evaluated every projection and filter
    above them there, system columns, sequence numbers and buckets
    included. A plan that reads files has no row bound (``maxRows``), so
    compactions and other rewrites skip the optimizer pass (10-13 ms on
    a universal compaction of a 4-bucket q1 table)."""
    qe = df._jdf.queryExecution()
    return (
        qe.analyzed().maxRows().isDefined()
        and qe.optimizedPlan().nodeName() == "LocalRelation"
    )


# the Arrow sink's directory string of partition key i
_PT_DIR = "__pt{}"
# ExternalCatalogUtils.charToEscape (non-Windows): the characters Spark
# percent-encodes in a partition directory name
_PATH_ESCAPES = frozenset('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(1, 0x20)}


def _escape_path_name(s: str) -> str:
    """``ExternalCatalogUtils.escapePathName``: the directory name that
    ``partitionBy`` writes and ``_parse_partition`` unquotes."""
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPES else c for c in s)


def _arrow_sink(
    tbl: "pa.Table",
    codec: str,
    level: int | None,
    int96: bool,
    staging: str,
    partition_by: list[str],
) -> None:
    """The driver-local sink: pyarrow writes the rows ``tbl`` (a
    collected ``_arrow_sink_options`` frame, or ``_arrow_rows``) as one
    parquet file per (partition, bucket) into ``staging``, in
    ``partitionBy``'s layout, with no repartition and no Spark write
    job."""
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
            partition, bucket = _parse_partition(rel_dir)
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


def _parse_partition(rel_dir: str) -> tuple[dict[str, str], int]:
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
