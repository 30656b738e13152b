"""Native Spark format surface: ``spark.read.format("ftss")`` via the
PySpark Python DataSource API (``pyspark.sql.datasource``, Spark 4).

The reference exposes its tables to Spark as a plain format string with
DSv2 pushdown and a micro-batch stream
(paimon-spark/.../spark/PaimonBaseScan.scala:66-71 scan + pushdown;
sources/PaimonMicroBatchStream.scala:33-78 snapshot-cursor offsets;
commands/PaimonSparkWriter.scala two-phase write). This module is that
connector re-expressed without a JVM extension:

    spark.dataSource.register(FtssDataSource)
    spark.read.format("ftss").load(path)                        # batch
    spark.read.format("ftss").option("tag", "v1").load(path)    # travel
    spark.read.format("ftss") \
        .option("incremental-between", "3,5").load(path)        # delta
    spark.readStream.format("ftss").load(path)                  # stream
    df.write.format("ftss").mode("append").save(path)           # commit

Architecture (the same planner/executor split as the engine's own API):

* ``partitions()`` runs DRIVER-side: ``ReadBuilder.plan`` — snapshot
  resolution, manifest pruning, stats skipping — becomes bucket tasks
  through ``bucketed_join.bucket_tasks``: one
  ``InputPartition`` per merge group (partition, bucket) and one per
  raw-convertible file, each carrying a plain picklable spec.
  Incremental and streaming reads plan ``Table.delta_plan`` the same
  way.
* ``read()`` runs EXECUTOR-side: the bucketed-join pyarrow bucket
  reader (``read_bucket_side`` — DV-scoped, schema-evolution-aware,
  full merge-engine folds) yields Arrow RecordBatches straight into
  Spark's columnar exchange.
* Filters arrive through ``pushFilters`` and are translated to the
  engine predicate AST for manifest/stats/partition pruning; every
  filter is ALSO returned to Spark, which re-evaluates it post-scan —
  pruning is an IO optimization, never a correctness dependency
  (the same stance as the reference's SupportsPushDownV2Filters).
* The stream reader's offsets are snapshot ids
  (PaimonMicroBatchStream's PaimonSourceOffset without the split
  index: planning is cheap enough per batch), with a pending-full
  marker for latest-full startup; COMPACT snapshots are skipped
  (DeltaFollowUpScanner).
* The writer is the two-phase commit: executor tasks write bucketed
  parquet files + footer stats and return manifest-entry commit
  messages; ``commit()`` on the driver performs the ordinary CAS
  commit (including the REST arbiter when the path belongs to a
  REST-loaded table? — no: the format surface addresses tables by
  PATH, so commits take the direct filesystem CAS; catalog-managed
  commits stay on ``Table.write``).

Known deltas vs the engine's Python API (documented, structural to the
Python DataSource API): no column pruning hook (the reader produces
the full schema; Catalyst prunes after the exchange), no
KeyGroupedPartitioning report (bucketed joins still need
``join_bucketed``/SqlSession), and the writer computes buckets with
the pure-Python xxhash64 parity helper per row — correct but slower
than ``Table.write``'s JVM-side shuffle; large ingest should prefer
``Table.write``.
"""

from __future__ import annotations

import os
import uuid as _uuid
from dataclasses import dataclass, field as _dc_field
from typing import TYPE_CHECKING, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringContains,
    StringEndsWith,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

if TYPE_CHECKING:
    from flink_table_store_spark.table import Table

FORMAT_NAME = "ftss"


def _load_table(options) -> "Table":
    """Resolve the target table from reader/writer options (driver)."""
    from flink_table_store_spark.table import Table

    path = options.get("path")
    if not path:
        raise ValueError(
            f"format('{FORMAT_NAME}') needs a table path: .load('/warehouse/db.db/t')"
        )
    branch = options.get("branch")
    return Table(path, branch=branch or None)


def _arrow_schema(spark_schema: StructType):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema)


# --------------------------------------------------------------------------
# batch read
# --------------------------------------------------------------------------


class FtssInputPartition(InputPartition):
    """One scan task: a merge group (PK bucket) or one raw file. ``spec``
    is the bucketed-join task spec (plain dicts, picklable); ``bucket``
    selects the group inside ``spec['buckets']``."""

    def __init__(self, spec: dict, bucket: int):
        self.spec = spec
        self.bucket = bucket


def _incremental_range(table: "Table", options) -> tuple[int, int] | None:
    """Resolve the reference's incremental read options to a snapshot
    range (start, end] — option names mirror paimon-spark's
    ``incremental-between`` / ``incremental-between-timestamp`` /
    ``incremental-to-auto-tag`` (SparkConnectorOptions)."""
    if v := options.get("incremental-between"):
        a, b = (int(x.strip()) for x in str(v).split(","))
        return a, b
    if v := options.get("incremental-between-timestamp"):
        t1, t2 = (int(x.strip()) for x in str(v).split(","))
        s1 = table.snapshots.for_timestamp(t1)
        s2 = table.snapshots.for_timestamp(t2)
        return (s1.id if s1 else 0), (s2.id if s2 else 0)
    if v := options.get("incremental-to-auto-tag"):
        snap = table.snapshots.tag(str(v))
        return snap.id - 1, snap.id
    return None


def _partitions(
    table: "Table", plan, predicate=None, columns: list[str] | None = None
) -> list[FtssInputPartition]:
    """One input partition per bucket task of ``plan``
    (DataTableBatchScan.plan → DataSplit[] analogue;
    PaimonBatch.planInputPartitions). ``columns`` narrows the per-task
    read to a column subset (the local no-Spark reader's projection
    pushdown; the Spark format surface always reads the full schema and
    lets Catalyst prune after the exchange)."""
    from flink_table_store_spark.operators.bucketed_join import bucket_tasks

    sel_cols = None
    if columns:
        wanted = set(columns)
        sel_cols = [c for c in table.schema.field_names() if c in wanted]
    tasks = bucket_tasks(table, plan, sel_cols, pred=predicate)
    return [FtssInputPartition(spec, bucket) for spec, bucket in tasks]


def _plan_incremental_partitions(
    table: "Table", start: int, end: int
) -> list[FtssInputPartition]:
    """Partitions for rows ADDED in snapshots (start, end]
    (Table.delta_plan). File pruning is skipped — Catalyst re-applies
    every filter above the scan."""
    return _partitions(table, table.delta_plan(start, end))


def _plan_input_partitions(
    table: "Table", predicate, options
) -> list[FtssInputPartition]:
    """Driver-side planning of a format-surface read: the read options
    become a ReadBuilder, whose plan becomes the input partitions."""
    inc = _incremental_range(table, options)
    if inc is not None:
        return _plan_incremental_partitions(table, *inc)
    from flink_table_store_spark.chain import is_chain_table

    if is_chain_table(table.schema) and table.branch_name is None:
        # the chain planner is Spark-DataFrame-side (chain.py); the
        # format surface's per-task pyarrow readers would silently
        # read the EMPTY main branch
        raise NotImplementedError(
            "the 'ftss' format cannot read a chain table's main view — "
            "read via table.to_df(spark), or address a branch "
            "(path '.../table', branch option / t$branch_<name>)"
        )
    rb = table.read_builder().with_filter(predicate)
    if options.get("version_as_of"):
        rb = rb.with_snapshot(int(options.get("version_as_of")))
    if options.get("timestamp_as_of"):
        rb = rb.with_timestamp(int(options.get("timestamp_as_of")))
    if options.get("tag"):
        rb = rb.with_tag(options.get("tag"))
    # the reference's CoreOptions travel spellings (scan.* — usable as
    # table or read options by a reference user)
    if options.get("scan.snapshot-id"):
        rb = rb.with_snapshot(int(options.get("scan.snapshot-id")))
    if options.get("scan.timestamp-millis"):
        rb = rb.with_timestamp(int(options.get("scan.timestamp-millis")))
    if options.get("scan.tag-name"):
        rb = rb.with_tag(options.get("scan.tag-name"))
    if options.get("scan.version"):
        rb = rb.with_version(options.get("scan.version"))
    if options.get("scan.file-creation-time-millis"):
        rb = rb.with_file_creation_time(
            int(options.get("scan.file-creation-time-millis"))
        )
    return _partitions(table, rb.plan(), predicate)


def _read_partition(partition: FtssInputPartition, arrow_schema) -> Iterator:
    """Executor-side: merged bucket read → Arrow batches in the declared
    schema's column order."""
    import pyarrow as pa

    from flink_table_store_spark.operators.bucketed_join import read_bucket_side

    if partition is None:
        return  # empty plan: Spark sends one default partition
    pdf = read_bucket_side(partition.spec, partition.bucket)
    if pdf is None or len(pdf) == 0:
        return
    cols = [f.name for f in arrow_schema]
    tbl = pa.Table.from_pandas(pdf[cols], schema=arrow_schema, preserve_index=False)
    yield from tbl.to_batches(max_chunksize=1 << 16)


def _filters_to_predicate(filters: list[Filter]):
    """Translate the pushable subset of Spark Filters to the engine
    Predicate AST (SparkV2FilterConverter.scala:32 in reverse). Nested
    column paths join to the dotted form the stats layer resolves."""
    from flink_table_store_spark import predicate as P

    preds = []
    for f in filters:
        try:
            col = ".".join(f.attribute)
            if isinstance(f, EqualTo):
                preds.append(P.equal(col, f.value))
            elif isinstance(f, GreaterThan):
                preds.append(P.greater_than(col, f.value))
            elif isinstance(f, GreaterThanOrEqual):
                preds.append(P.greater_or_equal(col, f.value))
            elif isinstance(f, LessThan):
                preds.append(P.less_than(col, f.value))
            elif isinstance(f, LessThanOrEqual):
                preds.append(P.less_or_equal(col, f.value))
            elif isinstance(f, In):
                preds.append(P.isin(col, list(f.values)))
            elif isinstance(f, IsNull):
                preds.append(P.is_null(col))
            elif isinstance(f, IsNotNull):
                preds.append(P.is_not_null(col))
            elif isinstance(f, StringStartsWith):
                preds.append(P.starts_with(col, f.value))
            elif isinstance(f, StringEndsWith):
                preds.append(P.ends_with(col, f.value))
            elif isinstance(f, StringContains):
                preds.append(P.contains(col, f.value))
        except Exception:
            continue  # an untranslatable filter simply doesn't prune
    if not preds:
        return None
    return preds[0] if len(preds) == 1 else P.and_(*preds)


class FtssReader(DataSourceReader):
    def __init__(self, options, spark_schema: StructType):
        self._options = dict(options)
        self._spark_schema = spark_schema
        self._predicate = None

    def pushFilters(self, filters):
        self._predicate = _filters_to_predicate(list(filters))
        # every filter is re-evaluated by Spark post-scan: pruning is an
        # IO shortcut, Catalyst keeps the correctness contract
        return filters

    def partitions(self):
        table = _load_table(self._options)
        return _plan_input_partitions(table, self._predicate, self._options)

    def read(self, partition):
        yield from _read_partition(partition, _arrow_schema(self._spark_schema))


# --------------------------------------------------------------------------
# streaming read
# --------------------------------------------------------------------------


class FtssStreamReader(DataSourceStreamReader):
    """Micro-batch source over the snapshot log. Offset =
    ``{"snapshot": N, "full": bool}`` — N is the last consumed snapshot
    id; ``full`` marks a pending latest-full initial scan
    (PaimonMicroBatchStream.scala:33-78; startup modes T1)."""

    def __init__(self, options, spark_schema: StructType):
        self._options = dict(options)
        self._spark_schema = spark_schema

    def initialOffset(self) -> dict:
        t = _load_table(self._options)
        mode = self._options.get("scan.mode", "latest-full")
        latest = t.snapshots.latest_id() or 0
        if mode in ("latest-full", "default"):
            return {"snapshot": latest, "full": latest > 0}
        if mode == "latest":
            return {"snapshot": latest, "full": False}
        if mode == "from-snapshot":
            sid = int(self._options.get("scan.snapshot-id", 1))
            return {"snapshot": sid - 1, "full": False}
        if mode == "from-snapshot-full":
            sid = int(self._options.get("scan.snapshot-id", 1))
            return {"snapshot": sid, "full": True}
        if mode == "from-timestamp":
            ts = int(self._options.get("scan.timestamp-millis", 0))
            snap = t.snapshots.for_timestamp(ts)
            return {"snapshot": snap.id if snap else 0, "full": False}
        raise ValueError(
            f"unknown scan.mode {mode!r} for the stream source "
            "(latest-full/latest/from-snapshot/from-snapshot-full/from-timestamp; "
            "other startup modes: streaming.source.SnapshotStream)"
        )

    def latestOffset(self) -> dict:
        t = _load_table(self._options)
        return {"snapshot": t.snapshots.latest_id() or 0, "full": False}

    def partitions(self, start: dict, end: dict):
        t = _load_table(self._options)
        parts: list[FtssInputPartition] = []
        if start.get("full"):
            # pending full scan AT start["snapshot"], then deltas after
            opts = dict(self._options)
            opts["version_as_of"] = str(start["snapshot"])
            parts.extend(_plan_input_partitions(t, None, opts))
        lo, hi = int(start["snapshot"]), int(end["snapshot"])
        if hi > lo:
            # expired snapshots were read by the full scan; compactions
            # move rows (DeltaFollowUpScanner)
            parts.extend(_plan_incremental_partitions(t, lo, hi))
        return parts

    def read(self, partition):
        yield from _read_partition(partition, _arrow_schema(self._spark_schema))

    def commit(self, end: dict) -> None:
        # Spark's checkpoint owns the cursor; optionally mirror it into
        # the table's consumer dir for expiry safety (T11 consumer-ids)
        cid = self._options.get("consumer-id")
        if cid:
            t = _load_table(self._options)
            t.snapshots.write_consumer(cid, int(end["snapshot"]) + 1)

    def stop(self) -> None:
        pass


# --------------------------------------------------------------------------
# write
# --------------------------------------------------------------------------


@dataclass
class FtssCommitMessage(WriterCommitMessage):
    entries: list = _dc_field(default_factory=list)  # ManifestEntry.__dict__s
    files: list = _dc_field(default_factory=list)  # abs paths (for abort)


class FtssWriter(DataSourceArrowWriter):
    """Two-phase commit through the format surface: tasks write bucketed
    parquet + footer stats (the CommitMessage hop,
    BatchTableWrite.java:33), the driver commits with the ordinary CAS
    (FileStoreCommitImpl). ``mode("overwrite")`` is dynamic-partition
    overwrite on partitioned tables (INSERT OVERWRITE semantics,
    PaimonDynamicPartitionOverwriteCommand), full-table otherwise."""

    def __init__(self, options, spark_schema: StructType, overwrite: bool):
        from flink_table_store_spark.write import POSTPONE_BUCKET, bucket_keys

        self._options = dict(options)
        self._overwrite = overwrite
        t = _load_table(self._options)
        schema = t.schema
        if schema.file_format() != "parquet":
            raise ValueError(
                f"format('{FORMAT_NAME}') writes parquet; table format is "
                f"{schema.file_format()} — use table.write()"
            )
        n = schema.num_buckets()
        if n == -1 and schema.primary_keys:
            # -1 on an append table means bucket-unaware, not dynamic
            raise ValueError(
                "dynamic-bucket tables need the key index writer — use table.write()"
            )
        if schema.options.get("upsert-key") and not overwrite:
            # upsert semantics need the merge join (table.py
            # _upsert_write); a plain format-surface append would
            # silently duplicate keys
            raise ValueError(
                "upsert-key tables need the merge writer — use "
                "table.write() (or mode('overwrite') for INSERT "
                "OVERWRITE semantics)"
            )
        from flink_table_store_spark.chain import is_chain_table

        if is_chain_table(schema) and t.branch_name is None:
            # Table.write delegates chain main-view writes to the
            # snapshot branch; the format surface addresses one branch
            raise ValueError(
                "chain table main view: write a branch instead — path "
                "option branch=snapshot/delta (or t$branch_<name>)"
            )
        names = [f.name for f in spark_schema.fields]
        expect = schema.field_names()
        if names != expect:
            raise ValueError(
                f"input columns {names} must match table columns {expect}"
            )
        latest = t.snapshots.latest()
        self._path = t.path
        self._pk = bool(schema.primary_keys)
        self._partition_keys = list(schema.partition_keys)
        # bucketed layouts: fixed-bucket PK tables AND bucketed append
        # tables (bucket-key without PK) — a bucketed-append write that
        # ignored the hash would break co-location for join_bucketed
        self._bucketed = self._pk or bool(
            schema.options.get("bucket-key") and n > 0
        )
        self._bucket_keys = (
            [(k, schema.field(k).type) for k in bucket_keys(schema)]
            if self._bucketed
            else []
        )
        supported = {
            "bigint", "long", "int", "integer", "smallint", "short",
            "tinyint", "byte", "string", "varchar", "char", "boolean",
            "date", "double", "float", "timestamp",
        }
        for k, ddl in self._bucket_keys:
            # exact base-token match (DDL up to any '(' or space): a
            # prefix test would let e.g. `interval day` slip through on
            # the 'int' prefix and fail mid-task in spark_xxhash64
            base = ddl.strip().lower().split("(")[0].split(" ")[0].split("<")[0]
            if base not in supported:
                # fail at plan time, not mid-task: a misplaced bucket
                # would corrupt merges
                raise ValueError(
                    f"bucket key {k} ({ddl}) needs the Spark-side hash — "
                    "use table.write() for this table"
                )
        self._n_buckets = n
        self._postpone = n == POSTPONE_BUCKET
        self._base_seq = latest.next_sequence if latest else 0
        self._schema_id = schema.id
        self._table_schema_json = schema.to_dict()
        # CoreOptions FILE_COMPRESSION on the pyarrow writer (the Spark
        # write path maps the same option onto the parquet codec)
        self._compression = schema.options.get("file.compression")
        zl = schema.options.get("file.compression.zstd-level")
        self._compression_level = int(zl) if zl else None
        self._schema_options = dict(schema.options)
        from flink_table_store_spark.write import bucket_function_type

        self._mod_bucket = bucket_function_type(schema) == "mod"

    # --- executor side ---

    def write(self, iterator):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        from flink_table_store_spark.manifest import (
            KIND_ADD,
            collect_parquet_stats,
        )
        from flink_table_store_spark.schema import (
            KIND_INSERT,
            SEQUENCE_NUMBER,
            VALUE_KIND,
        )
        from flink_table_store_spark.snapshot import now_millis
        from flink_table_store_spark.write import BUCKET_COL, DATA_DIR
        from flink_table_store_spark.xxh64 import spark_xxhash64

        batches = [b for b in iterator]
        if not batches:
            return FtssCommitMessage()
        tbl = pa.Table.from_batches(batches)
        n_rows = tbl.num_rows
        # unique, order-preserving sequence numbers across tasks — the
        # monotonically_increasing_id layout (partition id << 33 + row)
        tid = TaskContext.get().partitionId() if TaskContext.get() else 0
        seq0 = self._base_seq + (tid << 33)

        if self._pk:
            tbl = tbl.append_column(
                SEQUENCE_NUMBER, pa.array(range(seq0, seq0 + n_rows), pa.int64())
            )
            tbl = tbl.append_column(
                VALUE_KIND, pa.array([KIND_INSERT] * n_rows, pa.string())
            )
        if self._bucketed:
            if self._postpone:
                bucket_arr = [-2] * n_rows
            elif self._mod_bucket:
                # ModBucketFunction: floorMod of the single numeric key
                k = self._bucket_keys[0][0]
                vals = tbl.column(k).to_pylist()
                bucket_arr = [
                    (int(v) % self._n_buckets) if v is not None else 0
                    for v in vals
                ]
            else:
                cols = {k: tbl.column(k).to_pylist() for k, _t in self._bucket_keys}
                types = [t for _k, t in self._bucket_keys]
                keys = [k for k, _t in self._bucket_keys]
                bucket_arr = []
                for i in range(n_rows):
                    # Spark's xxhash64 SKIPS null fields (seed carries)
                    h = spark_xxhash64(
                        [
                            (cols[k][i], t)
                            for k, t in zip(keys, types)
                            if cols[k][i] is not None
                        ]
                    )
                    if h is None:
                        # a misplaced bucket would corrupt merges — the
                        # JVM-side writer handles every key type
                        raise ValueError(
                            f"bucket-key types {types} need the Spark-side "
                            "hash — use table.write() for this table"
                        )
                    bucket_arr.append(h % self._n_buckets)
            tbl = tbl.append_column(BUCKET_COL, pa.array(bucket_arr, pa.int32()))

        import pandas as pd  # noqa: F401  (group keys via pyarrow filter)

        group_cols = list(self._partition_keys) + (
            [BUCKET_COL] if self._bucketed else []
        )
        entries, files = [], []
        now = now_millis()

        def _emit(sub_tbl, pt_vals: dict, bucket: int):
            if sub_tbl.num_rows == 0:
                return
            rel_parts = [DATA_DIR]
            for k in self._partition_keys:
                v = pt_vals[k]
                seg = (
                    "__HIVE_DEFAULT_PARTITION__"
                    if v is None
                    else _quote_pt(_fmt_pt(v))
                )
                rel_parts.append(f"{k}={seg}")
            if self._bucketed:
                rel_parts.append(f"{BUCKET_COL}={bucket}")
            dest_dir = os.path.join(self._path, *rel_parts)
            os.makedirs(dest_dir, exist_ok=True)
            name = (
                f"{self._schema_options.get('data-file.prefix', 'data-')}"
                f"{_uuid.uuid4().hex}.parquet"
            )
            dest = os.path.join(dest_dir, name)
            drop = [c for c in (self._partition_keys + [BUCKET_COL]) if c in sub_tbl.column_names]
            kw = {}
            if self._compression:
                kw["compression"] = self._compression
                if self._compression_level is not None:
                    kw["compression_level"] = self._compression_level
            pq.write_table(sub_tbl.drop_columns(drop), dest, **kw)
            rc, size, stats = collect_parquet_stats(dest)
            seq_stats = stats.get(SEQUENCE_NUMBER, {})
            from flink_table_store_spark.manifest import apply_stats_mode

            _sys = {
                k: v
                for k, v in stats.items()
                if k in (SEQUENCE_NUMBER, "_VALUE_KIND")
            }
            stats = apply_stats_mode(
                self._schema_options,
                {k: v for k, v in stats.items() if k not in _sys},
            )
            stats.update(_sys)
            files.append(dest)
            entries.append(
                {
                    "kind": KIND_ADD,
                    "partition": {
                        k: ("" if pt_vals[k] is None else _fmt_pt(pt_vals[k]))
                        for k in self._partition_keys
                    },
                    "bucket": bucket,
                    "level": 0,
                    "file_name": os.path.relpath(dest, self._path),
                    "row_count": rc,
                    "file_size": size,
                    "min_seq": seq_stats.get("min", 0) or 0,
                    "max_seq": seq_stats.get("max", 0) or 0,
                    "schema_id": self._schema_id,
                    "stats": stats,
                    "creation_time": now,
                }
            )

        if not group_cols:
            _emit(tbl, {}, 0)
        else:
            import pyarrow.compute as pc

            key_tbl = tbl.select(group_cols)
            seen: dict[tuple, None] = dict.fromkeys(
                tuple(r[c] for c in group_cols) for r in key_tbl.to_pylist()
            )
            for key in seen:
                mask = None
                for c, v in zip(group_cols, key):
                    m = (
                        pc.is_null(tbl.column(c))
                        if v is None
                        else pc.equal(tbl.column(c), v)
                    )
                    mask = m if mask is None else pc.and_(mask, m)
                sub = tbl.filter(mask)
                pt_vals = dict(zip(group_cols, key))
                bucket = int(pt_vals.pop(BUCKET_COL)) if self._bucketed else 0
                _emit(sub, pt_vals, bucket)
        return FtssCommitMessage(entries=entries, files=files)

    # --- driver side ---

    def commit(self, messages):
        from flink_table_store_spark import predicate as P
        from flink_table_store_spark.manifest import ManifestEntry
        from flink_table_store_spark.snapshot import COMMIT_APPEND
        from flink_table_store_spark.table import Table

        entries = [
            ManifestEntry(**d)
            for m in messages
            if m is not None
            for d in m.entries
        ]
        t = Table(self._path, branch=self._options.get("branch") or None)
        if self._overwrite:
            filt = None
            if self._partition_keys and entries:
                seen = {
                    tuple(sorted(e.partition.items())) for e in entries
                }
                preds = []
                for items in seen:
                    leafs = [P.equal(k, v) for k, v in items]
                    preds.append(leafs[0] if len(leafs) == 1 else P.and_(*leafs))
                filt = preds[0] if len(preds) == 1 else P.or_(*preds)
            t.committer.commit_overwrite(entries, self._schema_id, filt)
            return
        # same high-water formula as Table.write
        next_seq = (
            max((e.max_seq for e in entries), default=0) + 1
            if entries
            else self._base_seq
        )
        t.committer.commit(
            entries,
            self._schema_id,
            kind=COMMIT_APPEND,
            commit_identifier=self._options.get("commit-identifier", ""),
            next_sequence=next_seq,
            assign_row_ids=t.row_tracking_enabled(),
        )

    def abort(self, messages):
        for m in messages:
            if m is None:
                continue
            for p in m.files:
                try:
                    os.unlink(p)
                except FileNotFoundError:
                    pass


def _fmt_pt(v) -> str:
    """Partition value → the directory/manifest string form the engine's
    readers parse back (schema.typed_partition)."""
    import datetime as _dt

    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (_dt.date, _dt.datetime)):
        return v.isoformat()
    return str(v)


def _quote_pt(s: str) -> str:
    import urllib.parse

    return urllib.parse.quote(s, safe="")


# --------------------------------------------------------------------------
# the DataSource
# --------------------------------------------------------------------------


class FtssDataSource(DataSource):
    """The engine as a native Spark format (S11/S13/S16 through
    pyspark.sql.datasource)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        # a DDL STRING, not a StructType: this method runs in a
        # session-less python worker where DDL parsing has no JVM;
        # Spark parses the returned string driver-side
        schema = _load_table(self.options).schema
        return ", ".join(f"`{f.name}` {f.type}" for f in schema.fields)

    def reader(self, schema: StructType):
        return FtssReader(self.options, schema)

    def streamReader(self, schema: StructType):
        return FtssStreamReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool):
        return FtssWriter(self.options, schema, overwrite)


def register_data_source(spark) -> None:
    """Make ``format("ftss")`` available on a session (idempotent)."""
    spark.dataSource.register(FtssDataSource)
