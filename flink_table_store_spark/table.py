"""Table facade: the user-facing API (reference Table.java:50 surface).

Read side mirrors ReadBuilder (paimon-core ReadBuilder.java:76-179):
``table.read_builder().with_filter(p).with_projection(cols)
.with_limit(n).to_df(spark)``. Write side mirrors
BatchWriteBuilder/BatchTableCommit (two-phase: executors stage files,
driver commits). Row-level ops implement the three strategies of
DeleteFromPaimonTableCommand.scala:35-104 (metadata-only → rewrite →
PK upsert) re-expressed as DataFrame jobs.
"""

from __future__ import annotations

import functools
import os
import re
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_table_store_spark import fileindex
from flink_table_store_spark import read as read_mod
from flink_table_store_spark.commit import FileStoreCommit
from flink_table_store_spark.fileio import read_json
from flink_table_store_spark.manifest import (
    KIND_ADD,
    KIND_DELETE,
    MAX_LEVEL,
    ManifestEntry,
    ManifestManager,
)
from flink_table_store_spark.operators import merge_engines
from flink_table_store_spark import predicate as P_mod
from flink_table_store_spark.predicate import Predicate
from flink_table_store_spark.schema import (
    KIND_DELETE as ROWKIND_DELETE,
    KIND_INSERT,
    KIND_UPDATE_AFTER,
    ROW_KIND,
    SEQUENCE_NUMBER,
    VALUE_KIND,
    SchemaManager,
    TableSchema,
    quote_ident,
    scan_type,
)
from flink_table_store_spark.snapshot import (
    COMMIT_APPEND,
    COMMIT_COMPACT,
    Snapshot,
    SnapshotManager,
    now_millis,
)
from flink_table_store_spark.write import (
    BUCKET_COL,
    POSTPONE_BUCKET,
    bucket_expr,
    max_sequence,
    stage_and_collect,
)


def parse_duration_ms(dur: str) -> int:
    """'1 d' / '30min' / '500 ms' style duration (the reference's
    TimeUtils.parseDuration subset used across options) to millis."""
    m = re.fullmatch(r"\s*(\d+)\s*(ms|s|sec|m|min|h|d)?\s*", dur)
    if not m:
        raise ValueError(f"cannot parse duration: {dur!r}")
    n, unit = int(m.group(1)), (m.group(2) or "ms")
    return n * {
        "ms": 1, "s": 1000, "sec": 1000, "m": 60_000,
        "min": 60_000, "h": 3_600_000, "d": 86_400_000,
    }[unit]


def _is_partition_only(predicate: Predicate, schema: TableSchema) -> bool:
    """True iff every leaf of the predicate references a partition key
    (the metadata-only DELETE detector,
    OptimizeMetadataOnlyDeleteFromPaimonTable.scala:52)."""
    from flink_table_store_spark.predicate import And, Leaf, Or

    if isinstance(predicate, Leaf):
        return predicate.field in schema.partition_keys
    if isinstance(predicate, (And, Or)):
        return all(_is_partition_only(c, schema) for c in predicate.children)
    return False


class ReadBuilder:
    """Scan configuration builder (ReadBuilder.java:76-179)."""

    def __init__(self, table: "Table"):
        self._table = table
        self._predicate: Predicate | None = None
        self._projection: list[str] | None = None
        self._limit: int | None = None
        self._snapshot_id: int | None = None
        self._tag: str | None = None
        self._timestamp_ms: int | None = None
        self._watermark: int | None = None
        self._topn: tuple[str, int, bool] | None = None
        self._file_creation_ms: int | None = None

    def with_filter(self, predicate: Predicate | None) -> "ReadBuilder":
        if predicate is None:
            return self
        self._predicate = predicate if self._predicate is None else (self._predicate & predicate)
        return self

    def with_projection(self, cols: list[str]) -> "ReadBuilder":
        self._projection = cols
        return self

    def with_limit(self, n: int) -> "ReadBuilder":
        self._limit = n
        return self

    def with_version(self, version: str) -> "ReadBuilder":
        """VERSION AS OF / ``scan.version``: a snapshot id when the
        string is numeric and such a snapshot exists, else a tag name
        (the reference's version resolution order)."""
        v = str(version)
        if v.isdigit() and self._table.snapshots.exists(int(v)):
            return self.with_snapshot(int(v))
        return self.with_tag(v)

    def with_file_creation_time(self, ts_millis: int) -> "ReadBuilder":
        """``scan.file-creation-time-millis``: only data files created
        AFTER this time are read (CoreOptions — a file filter, not time
        travel; stale partitions drop out without partition math)."""
        self._file_creation_ms = int(ts_millis)
        return self

    def with_snapshot(self, snapshot_id: int) -> "ReadBuilder":
        self._snapshot_id = snapshot_id
        return self

    def with_tag(self, tag: str) -> "ReadBuilder":
        self._tag = tag
        return self

    def with_timestamp(self, ts_millis: int) -> "ReadBuilder":
        self._timestamp_ms = ts_millis
        return self

    def with_watermark(self, watermark: int) -> "ReadBuilder":
        self._watermark = watermark
        return self

    def with_topn(self, col: str, n: int, desc: bool = True) -> "ReadBuilder":
        """ORDER BY col LIMIT n with file pruning by stats (O2 TopN
        pushdown, ReadBuilder.withTopN / TopNDataSplitEvaluator). Only
        append tables prune (a PK delta could retract rows from other
        files); PK tables still get the ordered limit."""
        self._topn = (col, n, desc)
        return self

    def _resolve_snapshot(self) -> Snapshot | None:
        t = self._table
        if self._snapshot_id is not None:
            return t.snapshots.load(self._snapshot_id)
        if self._tag is not None:
            return t.snapshots.tag(self._tag)
        if self._timestamp_ms is not None:
            return t.snapshots.for_timestamp(self._timestamp_ms)
        if self._watermark is not None:
            return t.snapshots.for_watermark(self._watermark)
        return t.snapshots.latest()

    def plan(self, spark: SparkSession | None = None) -> read_mod.ScanPlan:
        """The scan plan every reader builds on: the snapshot (resolved
        once, returned on the plan) → live entries → file-creation
        cutoff → partition/bucket/stats pruning (read.plan_scan). With a
        session, large manifests plan distributed (_plan_entries) and
        =/IN literals over bloom-indexed columns get their plan-time
        positions so pruning can skip files."""
        t = self._table
        snap = self._resolve_snapshot()
        if snap is None:
            return read_mod.ScanPlan()
        if spark is not None and self._predicate is not None:
            fileindex.attach_bloom_positions(spark, self._predicate, t.schema)
        entries = self._plan_entries(spark, snap)
        if self._file_creation_ms is not None:
            entries = [
                e for e in entries if e.creation_time > self._file_creation_ms
            ]
        if t.schema.options.get("scan.plan-sort-partition") == "true":
            # CoreOptions SCAN_PLAN_SORT_PARTITION: splits ordered by
            # partition value so batch output of an append table comes
            # back partition-ordered
            entries = sorted(
                entries,
                key=lambda e: tuple(
                    str(e.partition.get(k, ""))
                    for k in t.schema.partition_keys
                ),
            )
        # limit pushdown counts file rows; DVs make those overcount the
        # live rows, so a DV snapshot plans every file
        limit = None if snap.dv_files else self._limit
        plan = read_mod.plan_scan(entries, t.schema, self._predicate, limit, t.path)
        plan.snapshot = snap
        return plan

    # --- local (no-Spark) materialization — pypaimon TableRead parity
    # (paimon-python pypaimon/read/table_read.py:56-186) ---

    def _refuse_local_chain(self) -> None:
        # a chain table's MAIN branch holds no data — a local read of it
        # would silently return nothing; the chain planner is Spark-side
        # (chain.py). Branch reads (use_branch) stay local-readable.
        from flink_table_store_spark import chain as chain_mod

        t = self._table
        if chain_mod.is_chain_table(t.schema) and t.branch_name is None:
            raise NotImplementedError(
                "local no-Spark read of a chain table's main view is not "
                "supported — read via Spark (to_df), or read a branch "
                "directly: table.use_branch('snapshot'/'delta').to_arrow()"
            )

    def to_arrow(self):
        from flink_table_store_spark import localread

        self._refuse_local_chain()
        return localread.read_arrow(self)

    def to_arrow_batch_reader(self):
        from flink_table_store_spark import localread

        self._refuse_local_chain()
        return localread.read_arrow_batch_reader(self)

    def to_pandas(self):
        from flink_table_store_spark import localread

        self._refuse_local_chain()
        return localread.read_pandas(self)

    def to_duckdb(self, table_name: str, connection=None):
        from flink_table_store_spark import localread

        self._refuse_local_chain()
        return localread.read_duckdb(self, table_name, connection)

    def _plan_entries(self, spark: SparkSession, snap: Snapshot) -> list:
        """Live-entry planning with an automatic driver↔distributed
        switch: above `scan.manifest.distributed-threshold` entry rows
        (footer probe, default 100k) the ADD/DELETE merge and pruning
        run as a Spark job and the driver materializes only survivors
        (reference: SnapshotReaderImpl parallel manifest scan)."""
        t = self._table
        thr = int(t.schema.options.get("scan.manifest.distributed-threshold", "100000"))
        if (
            spark is not None
            and t.manifests.total_entry_rows(snap.base_manifest_list, snap.delta_manifest_list)
            > thr
        ):
            pred = self._predicate
            per_file_safe = True
            if pred is not None and t.schema.primary_keys:
                flds = pred.fields()
                keyish = set(t.schema.partition_keys) | set(t.schema.trimmed_primary_keys())
                per_file_safe = flds is not None and flds <= keyish
            elif pred is not None and t.data_evolution_enabled():
                # base-file stats are pre-patch: distributed stats
                # pruning is only safe on partition columns (never
                # patched); plan_scan re-applies the same guard for the
                # entries that come back
                flds = pred.fields()
                per_file_safe = flds is not None and flds <= set(
                    t.schema.partition_keys
                )
            return t.manifests.live_entries_distributed(
                spark,
                snap.base_manifest_list,
                snap.delta_manifest_list,
                predicate=pred,
                per_file_stats_safe=per_file_safe,
                table_path=t.path,
            )
        return t.manifests.read_live_entries(snap.base_manifest_list, snap.delta_manifest_list)

    def to_df(self, spark: SparkSession) -> DataFrame:
        """The scan as a Spark DataFrame, from one of two branches
        picked by the plan, with the same rows and schema either way.

        - Driver branch: a plan with no data-evolution patches, no
          ``Raw`` predicate, selected data files totalling at most
          ``localread.LOCAL_READ_MAX_BYTES`` and accepted by the bucket
          reader is read on the driver (``localread.plan_tasks`` and
          ``read_tasks``) into a ``LocalRelation``: filters,
          projections and limits on top fold into it, so collecting a
          key read starts no Spark job. An error while reading the
          files is raised; only the reader's refusal of the plan falls
          back to the Spark branch.
        - Spark branch: every other plan builds a Spark scan and merge
          (``read.build_dataframe``).

        Both apply the predicate, projection and limit as Spark's WHERE,
        SELECT and LIMIT (``read.finish_scan``)."""
        t = self._table
        from flink_table_store_spark import chain as chain_mod

        if chain_mod.is_chain_table(t.schema) and t.branch_name is None:
            if (
                self._snapshot_id is not None
                or self._tag is not None
                or self._timestamp_ms is not None
                or self._watermark is not None
            ):
                # the main branch of a chain table holds no data — a
                # travel read of it would silently return nothing; travel
                # names a point on ONE branch (use_branch(...) first)
                raise ValueError(
                    "time travel on a chain table addresses a single "
                    "branch — use table.use_branch('snapshot'/'delta') "
                    "and travel there"
                )
            df = chain_mod.chain_read(
                spark, t, self._predicate, self._projection
            )
            if self._topn is not None:
                col, n, desc = self._topn
                df = df.orderBy(
                    F.col(col).desc() if desc else F.col(col).asc()
                ).limit(n)
            if self._limit is not None:
                df = df.limit(self._limit)
            return df
        plan = self.plan(spark)
        snap = plan.snapshot
        if (
            self._topn is not None
            and not t.is_primary_key_table()
            and not (snap and snap.dv_files)
            # a residual predicate or DV makes file row counts overcount
            # the qualifying rows — the coverage bound would be unsound
            and self._predicate is None
            # base stats are pre-patch: ordering on a patched column
            # could keep the wrong files
            and not plan.patch_entries
        ):
            col, n, desc = self._topn
            plan.raw_entries = read_mod.prune_topn(plan.raw_entries, col, n, desc)
        if plan.patch_entries:
            # data evolution: overlay column patches by _ROW_ID, then
            # apply predicate/projection/limit on the STITCHED rows
            df = t._read_stitched(
                spark,
                plan,
                snap,
                predicate=self._predicate,
                projection=self._projection,
                limit=self._limit,
            )
        else:
            df = self._driver_df(spark, plan)
        if df is None:
            df = read_mod.build_dataframe(
                spark,
                t.path,
                plan,
                t.schema,
                t.all_schemas(),
                predicate=self._predicate,
                projection=self._projection,
                limit=self._limit,
                dv_files=snap.dv_files if snap else None,
            )
        if self._topn is not None:
            col, n, desc = self._topn
            df = df.orderBy(F.col(col).desc() if desc else F.col(col).asc()).limit(n)
        return self._with_fallback_branch(spark, df, plan)

    def _driver_df(self, spark: SparkSession, plan) -> DataFrame | None:
        """to_df's driver branch over ``plan``, or None when the plan
        is above the byte bound, the predicate is ``Raw`` or the bucket
        reader refuses the plan (``localread.plan_tasks``'s ValueError,
        raised before a file is opened). Errors while reading the files
        propagate."""
        from flink_table_store_spark import localread

        t, pred = self._table, self._predicate
        if pred is not None and pred.fields() is None:
            return None
        if sum(e.file_size for e in plan.entries) > localread.LOCAL_READ_MAX_BYTES:
            return None
        try:
            tasks = localread.plan_tasks(self, plan)
        except ValueError:
            return None
        tbl = localread.read_tasks(*tasks)
        # the Spark branch of an empty plan declares the table's schema
        schema = scan_type(t.schema.spark_schema(), nullable=bool(plan.entries))
        schema = T.StructType([f for f in schema.fields if f.name in tbl.column_names])
        df = spark.createDataFrame(tbl, schema)
        return read_mod.finish_scan(df, t.schema, pred, self._projection, self._limit)

    def _with_fallback_branch(self, spark, df, plan):
        """``scan.fallback-branch`` (FallbackReadFileStoreTable.java):
        partitions ABSENT from this branch read from the fallback
        branch instead — the main/backfill dual-branch deployment.
        Applies to plain latest scans only (a snapshot id / tag /
        timestamp names a point on ONE branch; TopN/limit bounds and the
        file-creation cutoff shape per-branch plans — a cut plan would
        hide partitions the main branch owns — so they bail too). The
        fallback must agree on columns and partition keys
        (validateFallbackBranch)."""
        t = self._table
        fb = t.schema.options.get("scan.fallback-branch")
        if (
            not fb
            or (t.branch_name or "") == fb
            or not t.schema.partition_keys
            or self._snapshot_id is not None
            or self._tag is not None
            or self._timestamp_ms is not None
            or self._watermark is not None
            or self._limit is not None
            or self._topn is not None
            or self._file_creation_ms is not None
        ):
            return df
        fb_table = Table(t.path, t.name, branch=fb)
        fb_plan = fb_table.read_builder().with_filter(self._predicate).plan(spark)
        if fb_plan.snapshot is None:
            return df
        if fb_table.schema.field_names() != t.schema.field_names() or (
            fb_table.schema.partition_keys != t.schema.partition_keys
        ):
            raise ValueError(
                f"scan.fallback-branch {fb!r}: branch schemas differ — "
                "align columns/partition keys first (validateFallbackBranch)"
            )
        main_parts = {
            tuple(sorted(e.partition.items()))
            for e in plan.raw_entries + plan.merge_entries
        }
        keep = lambda e: tuple(sorted(e.partition.items())) not in main_parts  # noqa: E731
        fb_plan.raw_entries = [e for e in fb_plan.raw_entries if keep(e)]
        fb_plan.merge_entries = [e for e in fb_plan.merge_entries if keep(e)]
        if not fb_plan.raw_entries and not fb_plan.merge_entries:
            return df
        fb_df = read_mod.build_dataframe(
            spark,
            t.path,
            fb_plan,
            fb_table.schema,
            fb_table.all_schemas(),
            predicate=self._predicate,
            projection=self._projection,
            limit=None,
            dv_files=fb_plan.snapshot.dv_files,
        )
        return df.unionByName(fb_df)


class _MatchNoPartition:
    """Overwrite filter matching nothing: a dynamic partition overwrite
    of an empty batch replaces no partitions (reference dynamic
    semantics), instead of wiping the table."""

    def test_partition(self, partition) -> bool:
        return False


_MATCH_NO_PARTITION = _MatchNoPartition()


class Table:
    def __init__(self, path: str, name: str | None = None, branch: str | None = None):
        self.path = path
        self.name = name or os.path.basename(path)
        self.branch_name = branch
        self.schema_manager = SchemaManager(path)
        self.snapshots = SnapshotManager(path, branch=branch)
        self.manifests = ManifestManager(path)
        self.committer = FileStoreCommit(path, branch=branch)
        self._schema: TableSchema | None = None
        self._dynamic_options: dict[str, str] = {}
        self._apply_commit_options()
        # Iceberg compat (iceberg.py): no-op unless the table sets
        # `metadata.iceberg.storage = table-location`
        from flink_table_store_spark import iceberg as _iceberg

        self.committer.callbacks.append(lambda snap: _iceberg.on_commit(self, snap))
        # reference TableCommitImpl: every commit also triggers
        # option-driven snapshot expiration (sync mode)
        self.committer.callbacks.append(lambda snap: self._auto_expire())

    def _apply_commit_options(self) -> None:
        """Derive the committer's knobs from the (possibly dynamically
        overlaid) schema options — called at construction and again by
        with_dynamic_options so per-call `options` reach commit-time
        behavior too (the reference's Table.copy(options) contract)."""
        try:
            opts = self.schema.options
            self.committer.manifest_merge_min_count = int(
                opts.get("manifest.merge-min-count", "30")
            )
            # commit knobs (CoreOptions commit.max-retries /
            # min-retry-wait / max-retry-wait / user-prefix)
            if opts.get("commit.max-retries"):
                self.committer.max_retries = int(opts["commit.max-retries"])
            from flink_table_store_spark.markdone import duration_ms as _dur

            if opts.get("commit.min-retry-wait"):
                self.committer.min_retry_wait_ms = _dur(
                    opts["commit.min-retry-wait"]
                )
            if opts.get("commit.max-retry-wait"):
                self.committer.max_retry_wait_ms = _dur(
                    opts["commit.max-retry-wait"]
                )
            if opts.get("commit.user-prefix"):
                import uuid as _uuid

                self.committer.commit_user = (
                    f"{opts['commit.user-prefix']}-{_uuid.uuid4().hex[:12]}"
                )
        except Exception:
            pass  # schema not readable yet (table being created)

    # --- metadata ---

    @property
    def schema(self) -> TableSchema:
        if self._schema is None:
            loaded = self.schema_manager.latest()
            if loaded is None:
                raise RuntimeError(f"table {self.name} has no schema")
            if self._dynamic_options:
                # dynamic options (the reference's Table.copy(options) /
                # every procedure's `options` argument): an IN-MEMORY
                # overlay on this Table instance, never persisted; it
                # survives refresh() because the overlay re-applies
                # after every schema reload
                import dataclasses as _dc

                loaded = _dc.replace(
                    loaded, options={**loaded.options, **self._dynamic_options}
                )
            self._schema = loaded
        return self._schema

    def with_dynamic_options(self, options: dict[str, str]) -> "Table":
        """Overlay per-operation options on this Table instance
        (PROCEDURE `options => 'k1=v1,k2=v2'` / dynamic option hints).
        Nothing is written to the schema on disk."""
        self._dynamic_options = {
            **self._dynamic_options,
            **{str(k): str(v) for k, v in options.items()},
        }
        self._schema = None
        self._apply_commit_options()
        return self

    def refresh(self) -> "Table":
        self._schema = None
        return self

    def all_schemas(self) -> dict[int, TableSchema]:
        out = {}
        latest = self.schema_manager.latest_id() or 0
        for i in range(latest + 1):
            try:
                out[i] = self.schema_manager.load(i)
            except FileNotFoundError:
                pass
        return out

    def is_primary_key_table(self) -> bool:
        return bool(self.schema.primary_keys)

    def evolve_schema(self, changes: list[dict[str, Any]]) -> TableSchema:
        s = self.schema_manager.evolve(changes)
        self._schema = s
        return s

    # --- read ---

    def read_builder(self) -> ReadBuilder:
        return ReadBuilder(self)

    def to_df(
        self,
        spark: SparkSession,
        predicate: Predicate | None = None,
        projection: list[str] | None = None,
        limit: int | None = None,
        snapshot_id: int | None = None,
        tag: str | None = None,
        timestamp_ms: int | None = None,
    ) -> DataFrame:
        rb = self.read_builder()
        if predicate is not None:
            rb.with_filter(predicate)
        if projection is not None:
            rb.with_projection(projection)
        if limit is not None:
            rb.with_limit(limit)
        if snapshot_id is not None:
            rb.with_snapshot(snapshot_id)
        if tag is not None:
            rb.with_tag(tag)
        if timestamp_ms is not None:
            rb.with_timestamp(timestamp_ms)
        return rb.to_df(spark)

    def tag_partition_view(
        self,
        spark: SparkSession,
        predicate: Predicate | None = None,
        projection: list[str] | None = None,
        limit: int | None = None,
    ) -> DataFrame:
        """``metastore.tag-to-partition`` (upsert-to-partitioned.md:44-136):
        the Hive-engine relation of a non-partitioned PK table — a
        partitioned view whose virtual partition column maps to the TAG
        name, one union branch per tag, so a ``WHERE dt='2023-10-16'``
        filter constant-folds every other branch away (Catalyst
        PruneFilters: the per-branch ``lit(tag)`` comparison becomes
        FALSE → empty relation, no scan). With ``.preview`` the LIVE
        table joins the view under the current period's name, so
        unfinished days are queryable early. A SEPARATE relation from
        ``to_df`` (the reference exposes it to Hive only) — the engine's
        own reads/mutations always see the live table; the SQL surface
        routes plain SELECTs here when the option is set."""
        col = self.schema.options.get("metastore.tag-to-partition")
        if not col:
            raise ValueError(
                "tag_partition_view needs the metastore.tag-to-partition "
                "option"
            )
        return self._tag_to_partition_df(spark, col, predicate, projection, limit)

    def _tag_to_partition_df(
        self, spark, col, predicate, projection, limit
    ) -> DataFrame:
        import datetime as _dt

        tags = self.snapshots.tags()
        parts: list[DataFrame] = []
        for name in sorted(tags):
            df = self.to_df(
                spark, predicate=predicate, projection=projection, tag=name
            )
            parts.append(df.withColumn(col, F.lit(name)))
        preview = self.schema.options.get("metastore.tag-to-partition.preview")
        if preview and self.snapshots.latest() is not None:
            period = self.schema.options.get("tag.creation-period", "daily")
            now = _dt.datetime.utcnow()
            pname = now.strftime(
                "%Y-%m-%d" if period == "daily" else "%Y-%m-%d %H"
            )
            if pname not in tags:
                live = self.to_df(
                    spark,
                    predicate=predicate,
                    projection=projection,
                    snapshot_id=self.snapshots.latest().id,
                )
                parts.append(live.withColumn(col, F.lit(pname)))
        if not parts:
            import pyspark.sql.types as T

            base = self.schema.spark_schema()
            fields = [
                f for f in base.fields
                if projection is None or f.name in set(projection)
            ] + [T.StructField(col, T.StringType())]
            return spark.createDataFrame([], T.StructType(fields))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.limit(limit) if limit is not None else out

    def to_arrow(self, predicate: Predicate | None = None,
                 projection: list[str] | None = None):
        """Local no-Spark read (pypaimon table_read.to_arrow parity);
        ``read_builder()`` exposes the full option set."""
        rb = self.read_builder()
        if predicate is not None:
            rb.with_filter(predicate)
        if projection is not None:
            rb.with_projection(projection)
        return rb.to_arrow()

    def to_pandas(self, predicate: Predicate | None = None,
                  projection: list[str] | None = None):
        rb = self.read_builder()
        if predicate is not None:
            rb.with_filter(predicate)
        if projection is not None:
            rb.with_projection(projection)
        return rb.to_pandas()

    def write_arrow(
        self, data, overwrite: bool = False, commit_identifier: str = ""
    ) -> None:
        """Local no-Spark write: pyarrow Table / RecordBatch / pandas →
        one committed snapshot (pypaimon write_arrow/write_pandas
        parity; see localwrite.py)."""
        from flink_table_store_spark import localwrite

        localwrite.write_arrow(self, data, overwrite, commit_identifier)

    # --- aggregate pushdown from manifest stats (SURVEY §2.4 A1) ---

    def count_rows(self, predicate: Predicate | None = None) -> int | None:
        """COUNT(*) answered from manifests without reading data files.
        Returns None when not answerable exactly (PK table, which needs
        the merge; or residual predicate beyond partitions)."""
        if self.is_primary_key_table():
            return None
        snap = self.snapshots.latest()
        if snap is None:
            return 0
        entries = [
            e
            for e in self.manifests.read_live_entries(
                snap.base_manifest_list, snap.delta_manifest_list
            )
            if not e.patch_cols  # data-evolution patches hold no rows
        ]
        if predicate is None:
            return sum(e.row_count for e in entries) - self._dv_row_count(snap)
        if snap.dv_files:
            return None  # per-partition DV attribution needs the sidecar scan
        if _is_partition_only(predicate, self.schema):
            return sum(e.row_count for e in entries if predicate.test_partition(e.partition))
        return None

    def min_max(self, col: str) -> tuple[Any, Any] | None:
        if self.is_primary_key_table():
            return None
        snap = self.snapshots.latest()
        if snap is None:
            return None
        if snap.dv_files:
            return None  # file stats may reference DV-deleted rows
        from flink_table_store_spark.manifest import merge_entry_stats

        all_entries = self.manifests.read_live_entries(
            snap.base_manifest_list, snap.delta_manifest_list
        )
        if any(e.patch_cols and col in e.patch_cols for e in all_entries):
            return None  # base stats are pre-patch for this column
        entries = [e for e in all_entries if not e.patch_cols]
        if any(
            col not in e.stats
            or e.stats[col].get("nulls", 0)
            # counts mode stores no bounds; truncated bounds are
            # pruning-safe but NOT exact answers (metadata.stats-mode)
            or e.stats[col].get("min") is None
            or e.stats[col].get("max") is None
            or e.stats[col].get("trunc")
            for e in entries
        ):
            return None
        return merge_entry_stats(entries, col)

    def max_pt(self) -> str | None:
        """sys.max_pt: latest non-empty partition (PaimonFunctions.scala:188)."""
        from flink_table_store_spark import chain as chain_mod

        if chain_mod.is_chain_table(self.schema) and self.branch_name is None:
            # the main branch holds no data; the chain view's latest
            # partition is the max across both branches
            vals = [
                v
                for b in chain_mod._branch_names(self.schema)
                if b in self.branches()
                for v in [self.use_branch(b).max_pt()]
                if v is not None
            ]
            return max(vals) if vals else None
        snap = self.snapshots.latest()
        if snap is None or not self.schema.partition_keys:
            return None
        entries = self.manifests.read_live_entries(snap.base_manifest_list, snap.delta_manifest_list)
        key = self.schema.partition_keys[0]
        vals = [e.partition.get(key) for e in entries if e.row_count > 0]
        return max(vals) if vals else None

    # --- write ---

    def _chain_write_target(self) -> "Table | None":
        """On a chain table's MAIN view, writes land on the snapshot
        branch — the reference wraps the snapshot-branch table and
        delegates newWrite to it (ChainGroupReadTable extends
        FallbackReadFileStoreTable extends DelegatedFileStoreTable:
        newWrite → wrapped). A main-branch commit would be INVISIBLE to
        chain reads — silent data loss."""
        from flink_table_store_spark import chain as chain_mod

        if not chain_mod.is_chain_table(self.schema) or self.branch_name:
            return None
        sb, _ = chain_mod._branch_names(self.schema)
        if sb not in self.branches():
            raise RuntimeError(
                f"chain table {self.name}: snapshot branch {sb!r} does "
                "not exist — create the snapshot and delta branches "
                "first (create_branch, see chain-table.md)"
            )
        return self.use_branch(sb)

    def write(
        self,
        df: DataFrame,
        overwrite: bool = False,
        overwrite_partition_filter: Predicate | None = None,
        row_kind_col: str | None = None,
        commit_identifier: str = "",
        watermark: int | None = None,
    ) -> Snapshot:
        """Append/upsert a DataFrame (INSERT INTO / INSERT OVERWRITE)."""
        chain_target = self._chain_write_target()
        if chain_target is not None:
            return chain_target.write(
                df,
                overwrite=overwrite,
                overwrite_partition_filter=overwrite_partition_filter,
                row_kind_col=row_kind_col,
                commit_identifier=commit_identifier,
                watermark=watermark,
            )
        if (
            self.schema.options.get("upsert-key")
            and not self.is_primary_key_table()
            and not overwrite  # INSERT OVERWRITE keeps replace semantics
        ):
            return self._upsert_write(df)
        if (
            self.is_primary_key_table()
            and self.schema.partition_keys
            and self.schema.options.get("cross-partition-update") == "true"
        ):
            # cross-partition PK update (J5): global key→partition index
            # emits -D retractions into a moved key's old partition
            from flink_table_store_spark.operators.cross_partition import (
                prepare_cross_partition_batch,
            )

            from flink_table_store_spark.schema import ROW_KIND as _RK

            df = prepare_cross_partition_batch(df.sparkSession, df, self.path, self.schema)
            row_kind_col = _RK
        rk_field = self.schema.options.get("rowkind.field")
        if rk_field and row_kind_col is None and self.is_primary_key_table():
            # CoreOptions.ROWKIND_FIELD (sequence-rowkind.md:64-75): a
            # DATA column carries the changelog kind, so a batch frame
            # with CDC-style markers lands without the CDC connector.
            # The column stays in the row; invalid kinds fail the write
            # loudly (RowKind.fromShortString throws in the reference)
            if rk_field not in df.columns:
                raise ValueError(
                    f"rowkind.field {rk_field!r} is not a column of the "
                    f"written DataFrame ({df.columns})"
                )
            row_kind_col = "__rowkind_from_field"
            valid = F.col(rk_field).isin("+I", "-U", "+U", "-D")
            df = df.withColumn(
                row_kind_col,
                F.when(valid, F.col(rk_field)).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit(
                                f"rowkind.field {rk_field}: invalid row"
                                " kind (expect +I/-U/+U/-D), got "
                            ),
                            F.coalesce(
                                F.col(rk_field).cast("string"), F.lit("NULL")
                            ),
                        )
                    )
                ),
            )
        if self.is_primary_key_table() and self.schema.num_buckets() == -1:
            # dynamic bucket mode (S18): key→bucket via persistent index
            from flink_table_store_spark.operators.dynamic_bucket import assign_buckets

            df = assign_buckets(df.sparkSession, df, self.path, self.schema)
        from flink_table_store_spark.write import apply_column_defaults

        df = apply_column_defaults(df, self.schema)
        latest = self.snapshots.latest()
        base_seq = latest.next_sequence if latest else 0
        entries = stage_and_collect(
            df, self.path, self.schema, base_sequence=base_seq, row_kind_col=row_kind_col
        )
        next_seq = max_sequence(entries) + 1 if entries else base_seq
        if (
            not entries
            and not overwrite
            and self.schema.options.get("snapshot.ignore-empty-commit") == "true"
            and self.schema.options.get("commit.force-create-snapshot") != "true"
        ):
            # SNAPSHOT_IGNORE_EMPTY_COMMIT: an empty batch produces no
            # snapshot (honored only when explicitly set — streaming
            # identifier tracking wants empty commits recorded)
            return self.snapshots.latest()
        if overwrite:
            if (
                overwrite_partition_filter is None
                and self.schema.partition_keys
                and self.schema.options.get("dynamic-partition-overwrite")
                != "false"
            ):
                # dynamic partition overwrite (CoreOptions default TRUE;
                # PaimonDynamicPartitionOverwriteCommand — the format
                # surface and local writer already behave this way):
                # only partitions present in the new data are replaced.
                # Empty input replaces nothing. dynamic-partition-
                # overwrite=false restores whole-table replacement.
                seen = {tuple(sorted(e.partition.items())) for e in entries}
                if not seen:
                    overwrite_partition_filter = _MATCH_NO_PARTITION
                else:
                    preds = []
                    for items in seen:
                        leafs = [P_mod.equal(k, v) for k, v in items]
                        preds.append(
                            leafs[0] if len(leafs) == 1 else P_mod.and_(*leafs)
                        )
                    overwrite_partition_filter = (
                        preds[0] if len(preds) == 1 else P_mod.or_(*preds)
                    )
            snap = self.committer.commit_overwrite(
                entries, self.schema.id, overwrite_partition_filter
            )
            self._maybe_mark_done_end_input(entries)
            return snap
        snap = self.committer.commit(
            entries,
            self.schema.id,
            kind=COMMIT_APPEND,
            commit_identifier=commit_identifier,
            watermark=watermark,
            next_sequence=next_seq,
            assign_row_ids=self.row_tracking_enabled(),
        )
        self._maybe_mark_done_end_input(entries)
        if (
            self.is_primary_key_table()
            and self.schema.options.get("changelog-producer") == "lookup"
        ):
            # lookup producer (LookupChangelogMergeFunctionWrapper): the
            # per-commit diff is computed ONCE at write time and persisted;
            # every consumer then reads plain changelog files
            from flink_table_store_spark.streaming.changelog import (
                persist_lookup_changelog,
            )

            persist_lookup_changelog(df.sparkSession, self.refresh(), snap.id)
        if self.schema.options.get("end-input.check-partition-expire") == "true":
            # CoreOptions END_INPUT_CHECK_PARTITION_EXPIRE: batch jobs
            # check partition expiration when their input ends
            try:
                self.refresh().expire_partitions()
            except ValueError:
                pass  # no expiration-time configured: nothing to check
        fc = self.schema.options.get("full-compaction.delta-commits")
        if fc and int(fc) > 0:
            # CoreOptions.FULL_COMPACTION_DELTA_COMMITS: "for batch
            # write, full compaction will be triggered with each commit
            # as long as this value is greater than 0"
            compacted = self.refresh().compact(df.sparkSession, full=True)
            return compacted if compacted is not None else snap
        if self.schema.options.get("commit.force-compact") == "true":
            # CoreOptions COMMIT_FORCE_COMPACT: compaction after every
            # batch commit (ordinary triggers, not necessarily full)
            compacted = self.refresh().compact(df.sparkSession, full=False)
            return compacted if compacted is not None else snap
        return snap

    def _auto_expire(self) -> None:
        """Post-commit snapshot expiration (TableCommitImpl: a commit
        expires snapshots by the retention options). Cheap no-op until
        the history exceeds ``snapshot.num-retained.min``; with default
        options nothing younger than ``snapshot.time-retained`` (1 h)
        ever expires. Always executes inline — the reference's
        ``snapshot.expire.execution-mode=async`` thread is a deployment
        detail, the observable contract (expiry happens by the next
        commit) is the same."""
        opts = self.schema.options
        if opts.get("tag.time-expire-enabled", "true") != "false":
            # TagTimeExpire runs at commit in the reference's
            # TagAutoManager; O(tags) tiny-JSON reads
            self.snapshots.expire_tags_by_time()
        r_min = int(opts.get("snapshot.num-retained.min", "10"))
        if len(self.snapshots.snapshot_ids()) <= r_min:
            return
        self.expire_snapshots()

    def _maybe_mark_done_end_input(self, entries) -> None:
        """``partition.end-input-to-done`` (CoreOptions.java:1139): a
        batch write marks every partition it touched as done when its
        input ends — here, at commit, since one batch ``write()`` IS
        the whole job."""
        if (
            self.schema.options.get("partition.end-input-to-done") != "true"
            or not self.schema.partition_keys
        ):
            return
        import json as _json

        from flink_table_store_spark import markdone

        seen: dict[str, dict] = {}
        for e in entries:
            if e.partition:
                seen[_json.dumps(e.partition, sort_keys=True)] = e.partition
        if seen:
            markdone.mark_done(self, list(seen.values()))

    def row_tracking_enabled(self) -> bool:
        """Append tables with ``row-tracking.enabled`` get stable per-row
        ids assigned at commit (RowTrackingTable; _ROW_ID in
        SpecialFields.java:79-94)."""
        return (
            self.schema.options.get("row-tracking.enabled") == "true"
            and not self.is_primary_key_table()
        )

    def upsert(self, df: DataFrame, **kw) -> Snapshot:
        if not self.is_primary_key_table():
            raise RuntimeError("upsert requires a primary-key table")
        return self.write(df, **kw)

    # --- row-level ops (DeleteFromPaimonTableCommand.scala:35-104) ---

    def delete(
        self, spark: SparkSession, predicate: Predicate, use_dv: bool | None = None
    ) -> Snapshot:
        chain_target = self._chain_write_target()
        if chain_target is not None:
            # DelegatedFileStoreTable semantics: row ops on a chain
            # table's main view operate on the snapshot-branch table
            return chain_target.delete(spark, predicate)
        schema = self.schema
        live_patched = self._live_patched_cols()
        if live_patched:
            flds = predicate.fields()
            if flds is None or flds & live_patched:
                raise ValueError(
                    "DELETE predicate touches data-evolution-patched "
                    f"columns {sorted(live_patched)} — positions would be "
                    "computed from pre-patch values; run compact() first"
                )
        if self.is_primary_key_table():
            # strategy 3: PK upsert of -D rows (their kinds ARE the
            # changelog under the input producer — no forcing needed)
            rows = self.to_df(spark, predicate=predicate).select(*schema.field_names())
            return self.write(rows.withColumn(ROW_KIND, F.lit(ROWKIND_DELETE)), row_kind_col=ROW_KIND)
        staging_cl = None
        if schema.options.get("delete.force-produce-changelog") == "true":
            # CoreOptions DELETE_FORCE_PRODUCE_CHANGELOG: materialize the
            # doomed rows BEFORE the delete as -D changelog (append
            # tables produce none otherwise); persisted post-commit
            # under the snapshot's deterministic prefix so
            # persisted_changelog / incremental changelog reads find it
            import uuid as _uuid

            staging_cl = os.path.join(
                self.path, "staging", f"dcl-{_uuid.uuid4().hex}"
            )
            self.to_df(spark, predicate=predicate).select(
                F.lit(ROWKIND_DELETE).alias("rowkind"), *schema.field_names()
            ).write.parquet(staging_cl)
        if schema.partition_keys and _is_partition_only(predicate, schema):
            # strategy 1: metadata-only delete (OptimizeMetadataOnlyDelete…:52)
            snap = self.committer.commit_overwrite([], schema.id, predicate)
        else:
            dv_enabled = (
                use_dv
                if use_dv is not None
                else schema.options.get("deletion-vectors.enabled") == "true"
            )
            if dv_enabled:
                # strategy 2a: deletion vectors — record positions, rewrite nothing
                snap = self._delete_with_dv(spark, predicate)
            else:
                # strategy 2b: copy-on-write rewrite of touched files
                cond = predicate.to_column(schema.field_names())
                snap = self._rewrite_files(spark, predicate, lambda df: df.where(~cond))
        if staging_cl is not None:
            import shutil as _shutil
            import uuid as _uuid

            import pyarrow.parquet as _pq

            cl_dir = os.path.join(self.path, "changelog")
            os.makedirs(cl_dir, exist_ok=True)
            for fn in sorted(os.listdir(staging_cl)):
                if not fn.endswith(".parquet"):
                    continue
                src = os.path.join(staging_cl, fn)
                if _pq.ParquetFile(src).metadata.num_rows == 0:
                    continue
                os.replace(
                    src,
                    os.path.join(
                        cl_dir,
                        f"changelog-s{snap.id}-{_uuid.uuid4().hex}.parquet",
                    ),
                )
            _shutil.rmtree(staging_cl, ignore_errors=True)
        return snap

    def _delete_with_dv(self, spark: SparkSession, predicate: Predicate) -> Snapshot:
        """DELETE via deletion vectors (deletionvectors/DeletionVector.java:44):
        a Spark job finds matching (file, row position) pairs in the files
        the predicate might touch; positions land in a sidecar parquet
        under index/; the commit only updates the snapshot's DV list.

        At 100 TB this writes O(deleted rows) instead of rewriting
        O(touched files) of data — the point of DVs.
        """
        import shutil as _shutil
        import uuid as _uuid

        import pyarrow.parquet as _pq

        snap = self.snapshots.latest()
        schema = self.schema
        if snap is None:
            raise RuntimeError("empty table")
        entries = self.manifests.read_live_entries(snap.base_manifest_list, snap.delta_manifest_list)
        touched = [
            e
            for e in entries
            # patch files are column overlays, not row sources: a DV on
            # one would drop PATCH rows by position and lose updates
            if not e.patch_cols
            and predicate.test_partition(e.partition)
            and predicate.test(e.stats, e.row_count)
        ]
        if not touched:
            return snap
        # read WITH the current DVs applied so re-deleting is idempotent
        df = read_mod._read_files(
            spark,
            self.path,
            touched,
            schema,
            self.all_schemas(),
            with_system=False,
            dv=read_mod.dv_dataframe(spark, self.path, snap.dv_files),
            keep_meta=True,
        )
        positions = df.where(predicate.to_column(self.schema.field_names())).select(
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias("file_name"),
            F.col("_metadata.row_index").alias("pos"),
        )
        staging = os.path.join(self.path, "staging", _uuid.uuid4().hex)
        positions.write.parquet(staging)
        tbl = _pq.read_table(staging, columns=["file_name", "pos"])
        _shutil.rmtree(staging, ignore_errors=True)
        if tbl.num_rows == 0:
            return snap
        index_dir = os.path.join(self.path, "index")
        os.makedirs(index_dir, exist_ok=True)
        name = f"dv-{_uuid.uuid4().hex}.parquet"
        _pq.write_table(tbl, os.path.join(index_dir, name), compression="zstd")
        # bucket coverage of this sidecar: which buckets' files it holds
        # positions for (DataSplit-scoped DV lookup — a bucket task opens
        # only sidecars covering its bucket). pc.unique first: only the
        # distinct file names transit to Python, not O(deleted rows).
        import pyarrow.compute as _pc

        bucket_of = {os.path.basename(e.file_name): e.bucket for e in entries}
        coverage = sorted(
            {
                bucket_of[fn]
                for fn in _pc.unique(tbl.column("file_name")).to_pylist()
                if fn in bucket_of
            }
        )
        # The DV set and delete-row count are re-derived INSIDE the CAS
        # retry loop against the snapshot the commit actually lands on:
        # a concurrent DV commit that wins the race keeps its DV files
        # in the set instead of being silently overwritten (ADVICE r2).
        live = {os.path.basename(e.file_name) for e in entries}

        def _resolve_dv(latest: Snapshot | None) -> tuple[list[str], int, dict]:
            base_dv = list(latest.dv_files) if latest is not None else []
            new_set = base_dv if name in base_dv else base_dv + [name]
            if latest is None:
                live_set: set[str] = set()
            elif latest.id == snap.id:
                live_set = live
            else:
                live_set = {
                    os.path.basename(e.file_name)
                    for e in self.manifests.read_live_entries(
                        latest.base_manifest_list, latest.delta_manifest_list
                    )
                }
            buckets = dict(latest.dv_buckets) if latest is not None else {}
            buckets[name] = coverage
            return new_set, self._dv_count_files(new_set, live_set), buckets

        return self.committer.commit(
            [],
            schema.id,
            kind=COMMIT_APPEND,
            dv_resolver=_resolve_dv,
        )

    def _dv_row_count(self, snap: Snapshot) -> int:
        """Number of DV'd positions in LIVE files. Snapshots record the
        count at commit (reference stores per-file deleteRowCount,
        DataFileMeta.java:97-166); the vectorized pyarrow derivation is
        the fallback for snapshots written without it."""
        if snap.dv_row_count is not None:
            return snap.dv_row_count
        if not snap.dv_files:
            return 0
        live = {
            os.path.basename(e.file_name)
            for e in self.manifests.read_live_entries(
                snap.base_manifest_list, snap.delta_manifest_list
            )
        }
        return self._dv_count_files(snap.dv_files, live)

    def _dv_count_files(self, dv_files: list[str], live: set[str]) -> int:
        """Distinct (file, pos) across DV sidecars restricted to live
        files — vectorized pyarrow compute, no per-row Python."""
        import pyarrow as _pa
        import pyarrow.compute as _pc

        if not dv_files:
            return 0
        t = self._read_dv_table(dv_files)
        t = t.filter(
            _pc.is_in(
                t.column("file_name"),
                value_set=_pa.array(sorted(live), type=_pa.string()),
            )
        )
        return t.group_by(["file_name", "pos"]).aggregate([]).num_rows

    def _read_dv_table(self, dv_files: list[str]):
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        tables = [
            _pq.read_table(os.path.join(self.path, "index", n), columns=["file_name", "pos"])
            for n in dv_files
        ]
        return _pa.concat_tables(tables)

    def update(
        self, spark: SparkSession, predicate: Predicate, assignments: dict[str, Any]
    ) -> Snapshot:
        """UPDATE SET col=expr WHERE pred; expr values are Columns or literals."""
        chain_target = self._chain_write_target()
        if chain_target is not None:
            return chain_target.update(spark, predicate, assignments)
        schema = self.schema

        def apply_set(df: DataFrame) -> DataFrame:
            for k, v in assignments.items():
                df = df.withColumn(k, v if hasattr(v, "_jc") or "Column" in type(v).__name__ else F.lit(v))
            # a row-tracking CoW rewrite carries _ROW_ID through the update
            keep = schema.field_names() + [c for c in ("_ROW_ID",) if c in df.columns]
            return df.select(*[F.col(quote_ident(c)) for c in keep])

        if self.is_primary_key_table():
            rows = apply_set(self.to_df(spark, predicate=predicate))
            return self.write(rows.withColumn(ROW_KIND, F.lit(KIND_UPDATE_AFTER)), row_kind_col=ROW_KIND)
        if self.data_evolution_enabled():
            # data-evolution append tables update by COLUMN PATCH, not
            # copy-on-write: only the assigned columns hit storage
            return self.update_columns(spark, predicate, assignments)
        cond = predicate.to_column(schema.field_names())
        return self._rewrite_files(
            spark,
            predicate,
            lambda df: df.where(~cond).unionByName(apply_set(df.where(cond))),
        )

    def merge_into(
        self,
        spark: SparkSession,
        source: DataFrame,
        on: list[str],
        when_matched_update: dict[str, Any] | str | None = None,
        when_matched_delete: bool = False,
        when_not_matched_insert: bool = True,
    ) -> Snapshot:
        """MERGE INTO (MergeIntoPaimonTable.scala:45-51): route source rows
        into +U / -D / +I by join outcome, then one upsert write."""
        if not self.is_primary_key_table():
            raise RuntimeError("MERGE INTO requires a primary-key table")
        chain_target = self._chain_write_target()
        if chain_target is not None:
            return chain_target.merge_into(
                spark, source, on,
                when_matched_update=when_matched_update,
                when_matched_delete=when_matched_delete,
                when_not_matched_insert=when_not_matched_insert,
            )
        schema = self.schema
        target = self.to_df(spark)
        matched = source.alias("s").join(target.alias("t"), on=on, how="inner")

        outs = []
        if when_matched_delete:
            outs.append(
                matched.select(*[F.col(c) if c in on else F.col(f"t.{c}") for c in schema.field_names()])
                .withColumn(ROW_KIND, F.lit(ROWKIND_DELETE))
            )
        elif when_matched_update is not None:
            if when_matched_update == "*":  # UPDATE SET * — take the source row
                cols = [F.col(c) if c in on else F.col(f"s.{c}") for c in schema.field_names()]
            else:
                cols = [
                    (when_matched_update[c].alias(c) if c in when_matched_update
                     else (F.col(c) if c in on else F.col(f"t.{c}").alias(c)))
                    for c in schema.field_names()
                ]
            outs.append(matched.select(*cols).withColumn(ROW_KIND, F.lit(KIND_UPDATE_AFTER)))
        if when_not_matched_insert:
            outs.append(
                source.join(target.select(*on), on=on, how="left_anti")
                .select(*schema.field_names())
                .withColumn(ROW_KIND, F.lit(KIND_INSERT))
            )
        from functools import reduce

        allrows = reduce(lambda a, b: a.unionByName(b), outs)
        return self.write(allrows, row_kind_col=ROW_KIND)

    def _upsert_write(self, df: DataFrame) -> Snapshot:
        """SQL Upsert for NON-PK tables (reference docs/content/spark/
        sql-upsert.md; RewriteUpsertTable.scala:38-129 rewrites INSERT
        INTO an `upsert-key` table into a MERGE):

        - match on NULL-SAFE equality of the upsert-key columns (unlike
          a primary key, key values may be null);
        - with `sequence.field`: the batch first dedupes per key
          (largest sequence wins), and a matched target row is replaced
          only when EVERY sequence field is <= the source's (the
          reference ANDs per-field `t.s <= s.s`, not a lexicographic
          compare — a NULL comparison keeps the target, matching MERGE
          condition semantics);
        - without it: matched targets are simply replaced;
        - a matched source becomes the update of each matched target
          row (it never also appends); unmatched sources append.

        Scale shape: one null-safe join between the TOUCHED files' rows
        and the (deduplicated) batch — files whose stats cannot contain
        any batch key are never rewritten (isin stats/partition prune
        over the first key column, skipped when the key set is large or
        nullable), Spark broadcasts the small batch side, and the
        rewritten files plus the appended remainder land in ONE
        copy-on-write commit (DELETE+ADD entries, the row-level DELETE
        machinery's shape).
        """
        from flink_table_store_spark import predicate as P
        from flink_table_store_spark.write import (
            apply_column_defaults,
            stage_and_collect,
        )

        spark = df.sparkSession
        schema = self.schema
        names = schema.field_names()
        uk = [c.strip() for c in schema.options["upsert-key"].split(",") if c.strip()]
        seqf = [
            c.strip()
            for c in schema.options.get("sequence.field", "").split(",")
            if c.strip()
        ]
        if self.row_tracking_enabled():
            raise NotImplementedError(
                "upsert-key on a row-tracking table is not supported yet "
                "(updated rows keep ids, appended rows need fresh ones)"
            )
        if self._live_patched_cols():
            raise ValueError(
                "upsert write on a table with live data-evolution patches "
                "would lose patched values — run compact() first"
            )
        s = apply_column_defaults(df.select(*names), schema)
        seq_desc = merge_engines.seq_descending(schema)
        if seqf:
            # "if the values are the same, the input order will be used
            # to determine which one is the last one" (sql-upsert.md) —
            # the monotonic id pins input order so ties are deterministic.
            # sort-order=descending flips the version direction only; a
            # NULL version stays OLDEST in both orders (the reference
            # comparator takes its null branch before the direction flip,
            # GenerateUtils.scala:332-341), so nulls always sort last here
            w = Window.partitionBy(*[F.col(k) for k in uk]).orderBy(
                *[
                    (
                        F.col(c).asc_nulls_last()
                        if seq_desc
                        else F.col(c).desc_nulls_last()
                    )
                    for c in seqf
                ],
                F.col("__in_order").desc(),
            )
            s = (
                s.withColumn("__in_order", F.monotonically_increasing_id())
                .withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn", "__in_order")
            )
        snap = self.snapshots.latest()
        live = (
            [
                e
                for e in self.manifests.read_live_entries(
                    snap.base_manifest_list, snap.delta_manifest_list
                )
            ]
            if snap is not None
            else []
        )
        base_seq = snap.next_sequence if snap else 0
        if live:
            # the batch feeds three actions (prune keys, the merge
            # join, the anti-join append) — pin it so an expensive
            # upstream isn't recomputed per action
            s = s.localCheckpoint()

        def _append_only() -> Snapshot:
            entries = stage_and_collect(s, self.path, schema, base_sequence=base_seq)
            return self.committer.commit(entries, schema.id, kind=COMMIT_APPEND)

        if not live:
            return _append_only()
        # stats/partition prune: files that cannot contain ANY batch key
        # keep their entries untouched (sound: a False stats test = the
        # file's min/max range excludes every batch value). Small key
        # sets prune by exact isin; larger ones by the [min, max]
        # envelope (coarser but O(1) per file instead of O(keys))
        prune = None
        head = s.select(uk[0]).distinct().limit(10_001).collect()
        vals = [r[0] for r in head]
        if vals and all(v is not None for v in vals):
            if len(vals) <= 100:
                prune = P.isin(uk[0], vals)
            elif len(vals) <= 10_000:
                prune = P.between(uk[0], min(vals), max(vals))
        touched = [
            e
            for e in live
            if prune is None
            or (prune.test_partition(e.partition) and prune.test(e.stats, e.row_count))
        ]
        if not touched:
            return _append_only()
        t = read_mod.build_dataframe(
            spark,
            self.path,
            read_mod.ScanPlan(raw_entries=touched),
            schema,
            self.all_schemas(),
            dv_files=snap.dv_files,
        )
        s2 = s.select(*[F.col(c).alias(f"__s_{c}") for c in names]).withColumn(
            "__s_present", F.lit(1)
        )
        cond = functools.reduce(
            lambda a, b: a & b,
            [F.col(k).eqNullSafe(F.col(f"__s_{k}")) for k in uk],
        )
        if not seqf:
            # MERGE cardinality: several batch rows sharing a key that
            # matches existing rows is ambiguous without a sequence
            dup = s.groupBy(*[F.col(k) for k in uk]).count().where(F.col("count") > 1)
            dup2 = dup.select(*[F.col(k).alias(f"__s_{k}") for k in uk])
            if t.join(F.broadcast(dup2), cond, "left_semi").take(1):
                raise ValueError(
                    "upsert batch has multiple rows for an upsert key that "
                    "matches existing rows — set sequence.field to define "
                    "the winner"
                )
        joined = t.join(F.broadcast(s2), cond, "left")
        if seqf:
            # the incoming row replaces iff its version is >= the
            # existing one under the table's order — LEXICOGRAPHIC
            # across the sequence fields (UserDefinedSeqComparator is a
            # multi-field record comparator), not a per-field AND, which
            # would wrongly keep (1,5) against incoming (2,3). The
            # struct comparison also gives the reference's NULL
            # semantics for free: a NULL field sorts lowest (oldest) in
            # both orders (descending is an order-reversing numeric
            # image that maps NULL to NULL), so an existing NULL version
            # always loses and a NULL-vs-NULL tie falls to the batch row
            wins = F.struct(
                *merge_engines.seq_order_exprs(joined, schema, seqf)
            ) <= F.struct(
                *merge_engines.seq_order_exprs(
                    joined, schema, [f"__s_{c}" for c in seqf]
                )
            )
        else:
            wins = F.lit(True)
        replace = F.col("__s_present").isNotNull() & wins
        updated = joined.select(
            *[
                F.when(replace, F.col(f"__s_{c}")).otherwise(F.col(c)).alias(c)
                for c in names
            ]
        )
        appended = s.alias("s").join(
            t.select(*[F.col(k).alias(f"__s_{k}") for k in uk]),
            cond,
            "left_anti",
        )
        combined = updated.unionByName(appended.select(*names))
        entries = stage_and_collect(combined, self.path, schema, base_sequence=base_seq)
        deletes = []
        for e in touched:
            d = ManifestEntry(**{**e.__dict__})
            d.kind = KIND_DELETE
            deletes.append(d)
        return self.committer.commit(deletes + entries, schema.id, kind=COMMIT_APPEND)

    def _rewrite_files(self, spark: SparkSession, predicate: Predicate, transform) -> Snapshot:
        """Copy-on-write: rewrite only files that MIGHT contain matches."""
        snap = self.snapshots.latest()
        schema = self.schema
        if snap is None:
            raise RuntimeError("empty table")
        if self._live_patched_cols():
            raise ValueError(
                "copy-on-write rewrite on a table with live data-evolution "
                "patches would lose or duplicate patched values — run "
                "compact() to materialize them first"
            )
        entries = self.manifests.read_live_entries(snap.base_manifest_list, snap.delta_manifest_list)
        touched = [
            e
            for e in entries
            if predicate.test_partition(e.partition) and predicate.test(e.stats, e.row_count)
        ]
        if not touched:
            return snap
        row_ids = self.row_tracking_enabled()
        if row_ids:
            # CoW rewrites carry surviving rows' _ROW_ID as a stored
            # column, exactly like compaction — a delete/update must not
            # reassign ids (SpecialFields row-id stability)
            df = self._rows_with_ids(spark, touched, snap.dv_files)
        else:
            plan = read_mod.ScanPlan(raw_entries=touched)
            df = read_mod.build_dataframe(
                spark, self.path, plan, schema, self.all_schemas(), dv_files=snap.dv_files
            )
        new_df = transform(df)
        latest = self.snapshots.latest()
        new_entries = stage_and_collect(
            new_df,
            self.path,
            schema,
            base_sequence=latest.next_sequence if latest else 0,
            keep_cols=["_ROW_ID"] if row_ids else None,
        )
        deletes = []
        for e in touched:
            d = ManifestEntry(**{**e.__dict__})
            d.kind = KIND_DELETE
            deletes.append(d)
        return self.committer.commit(deletes + new_entries, schema.id, kind=COMMIT_APPEND)

    # --- compaction (SURVEY §4.2; UniversalCompaction.java:42-103) ---

    def _record_expire_keep(self):
        """Row-keep predicate for record-level expire (reference
        io/RecordLevelExpire.java; options `record-level.expire-time` +
        `record-level.time-field`): rows whose time field is older than
        the TTL drop LAZILY during compaction (PK tables; the docs'
        no-promptness contract). INT = epoch seconds, BIGINT = seconds
        or auto-detected millis (>= 1e12), TIMESTAMP converted; a NULL
        time never expires. Returns None when the feature is off."""
        opts = self.schema.options
        dur = opts.get("record-level.expire-time")
        if not dur or not self.is_primary_key_table():
            return None
        fld = opts.get("record-level.time-field")
        if not fld:
            raise ValueError(
                "You should set record-level.time-field for record-level expire."
            )
        typ = self.schema.field(fld).type.lower()
        import re as _re
        import time as _time

        m = _re.fullmatch(r"\s*(\d+)\s*(ms|s|sec|m|min|h|d)?\s*", dur)
        if not m:
            raise ValueError(f"cannot parse record-level.expire-time: {dur!r}")
        n, unit = int(m.group(1)), (m.group(2) or "s")
        seconds = n * {"ms": 0.001, "s": 1, "sec": 1, "m": 60, "min": 60,
                       "h": 3600, "d": 86400}[unit]
        cutoff = int(_time.time() - seconds)
        c = F.col(fld)
        if typ in ("int", "integer"):
            ts = c.cast("bigint")
        elif typ in ("bigint", "long"):
            ts = F.when(
                c >= F.lit(1_000_000_000_000), (c / 1000).cast("bigint")
            ).otherwise(c)
        elif typ.startswith("timestamp"):
            ts = F.unix_timestamp(c)
        else:
            raise ValueError(
                "record-level time field must be INT, BIGINT or TIMESTAMP, "
                f"got {typ}"
            )
        return c.isNull() | (ts >= F.lit(cutoff))

    def _live_patched_cols(self) -> set[str]:
        snap = self.snapshots.latest()
        if snap is None or not self.data_evolution_enabled():
            return set()
        out: set[str] = set()
        for e in self.manifests.read_live_entries(
            snap.base_manifest_list, snap.delta_manifest_list
        ):
            if e.patch_cols:
                out.update(e.patch_cols)
        return out

    def compact(
        self,
        spark: SparkSession,
        full: bool = True,
        trigger_runs: int = 5,
        partition_filter: Predicate | None = None,
        partition_idle_time_ms: int | None = None,
    ) -> Snapshot | None:
        """Rewrite buckets into a single max-level run. ``full=False``
        runs UNIVERSAL compaction (UniversalCompaction.java:42-125) for
        deduplicate-engine PK tables: per bucket, the newest run prefix
        picked by (1) max size amplification, (2) size ratio, (3)
        sorted-run count is merged PARTIALLY — O(selected runs), not
        O(bucket) — keeping -D rows (they must still cancel unmerged
        older runs, MergeTreeCompactRewriter dropDelete=false) and
        preserving sequence numbers. Other engines/append tables fall
        back to whole-bucket merges on the run-count trigger.

        ``partition_filter`` restricts the rewrite to matching
        partitions (CompactProcedure's ``partitions``/``where`` —
        partition-only predicates; at scale you compact one day's
        partition, not the table). ``partition_idle_time_ms`` compacts
        only partitions whose NEWEST file is older than the duration
        (the procedure's ``partition_idle_time`` — skip partitions
        still receiving writes).

        The rewrite of a primary-key table takes one of two branches,
        with the same rows, levels and buckets either way:

        - Driver branch (``_driver_compact``): when the picked files
          total at most ``localread.LOCAL_READ_MAX_BYTES``, the bucket
          reader folds each (partition, bucket) on the driver and
          ``stage_and_collect`` writes the Arrow result through its
          Arrow sink, with no Spark job. A full compaction takes it
          only with a fixed bucket layout that every rewritten file was
          written in, and without row tracking, data-evolution patches,
          ``record-level.expire-time`` or
          ``changelog-producer=full-compaction``.
        - Spark branch: every other rewrite, and every pick the bucket
          reader refuses before it opens a file (it rewrites only
          deduplicate and first-row tables). An error while reading
          the files is raised, not retried on Spark."""
        chain_target = self._chain_write_target()
        if chain_target is not None:
            # file compaction of the main view = the snapshot branch's
            # (chain compaction across branches is chain.chain_compact)
            return chain_target.compact(
                spark, full=full, trigger_runs=trigger_runs,
                partition_filter=partition_filter,
                partition_idle_time_ms=partition_idle_time_ms,
            )
        if (
            not self.is_primary_key_table()
            and self.schema.options.get("clustering.incremental", "").lower()
            == "true"
        ):
            # incremental-clustering.md:90-94: with clustering.incremental
            # on, compaction IS an incremental clustering run (ordinary
            # compaction would disrupt the clustered layout);
            # compact(full=True) reclusters everything
            if partition_filter is not None or partition_idle_time_ms is not None:
                raise ValueError(
                    "partition-scoped compact is not supported on an "
                    "incremental-clustering table (the cluster spans "
                    "partitions) — use sort_compact"
                )
            return self.sort_compact(spark, incremental=not full)
        snap = self.snapshots.latest()
        if snap is None:
            return None
        schema = self.schema
        entries = self.manifests.read_live_entries(snap.base_manifest_list, snap.delta_manifest_list)
        if partition_filter is not None:
            if not _is_partition_only(partition_filter, schema):
                raise ValueError(
                    "compact partition filter must reference only "
                    f"partition columns {schema.partition_keys}"
                )
            entries = [
                e for e in entries if partition_filter.test_partition(e.partition)
            ]
        if partition_idle_time_ms is not None:
            cutoff = int(time.time() * 1000) - partition_idle_time_ms
            newest: dict[tuple, int] = {}
            for e in entries:
                k = tuple(sorted(e.partition.items()))
                newest[k] = max(newest.get(k, 0), e.creation_time or 0)
            entries = [
                e
                for e in entries
                if newest[tuple(sorted(e.partition.items()))] <= cutoff
            ]
        patches = [e for e in entries if e.patch_cols]
        entries = [e for e in entries if not e.patch_cols]
        if (
            not full
            and self.is_primary_key_table()
            # deduplicate/first-row fold by their (effective-sequence)
            # winner; partial-update/aggregation fold when every field
            # function is newest-prefix associative (fold_supported)
            and merge_engines.fold_supported(schema)
            # full-compaction changelog producers diff at compaction
            # time — the legacy whole-bucket path writes that changelog
            and schema.options.get("changelog-producer") != "full-compaction"
            # row-tracking rewrites must carry stored _ROW_IDs — the
            # legacy path does (_rows_with_ids)
            and not self.row_tracking_enabled()
            # record-level expire drops rows during whole-bucket rewrites
            # — partial folds would postpone expiry indefinitely
            and not schema.options.get("record-level.expire-time")
            and not any(e.bucket == POSTPONE_BUCKET for e in entries)
        ):
            return self._compact_universal(spark, snap, entries, trigger_runs)
        patched_parts = {tuple(sorted(e.partition.items())) for e in patches}
        by_bucket: dict[tuple, list[ManifestEntry]] = {}
        for e in entries:
            by_bucket.setdefault((tuple(sorted(e.partition.items())), e.bucket), []).append(e)

        to_compact: list[ManifestEntry] = []
        for _k, group in by_bucket.items():
            needs = len(group) > 1 or (group and group[0].level == 0)
            if full:
                # a partition with live patches always rewrites: full
                # compaction MATERIALIZES patched values and retires the
                # patch files (DataEvolutionCompactTask)
                if needs or _k[0] in patched_parts:
                    to_compact.extend(group)
            elif len(group) >= trigger_runs:
                to_compact.extend(group)
        if not to_compact:
            return snap

        pk = self.is_primary_key_table()
        new_entries = None
        layouts: dict[int, bool] = {}
        if (
            pk
            and not patches
            and not self.row_tracking_enabled()
            and not schema.options.get("record-level.expire-time")
            and schema.options.get("changelog-producer") != "full-compaction"
            # a fixed bucket layout that every rewritten file was
            # written in: its stored bucket is the one its keys hash to
            and schema.num_buckets() > 0
            and all(
                read_mod.same_bucket_layout(self.path, schema, e.schema_id, layouts)
                for e in to_compact
            )
        ):
            new_entries = self._driver_compact(spark, snap, to_compact, [])
        consumed_patches: list[ManifestEntry] = []
        if new_entries is None:
            new_entries, consumed_patches = self._spark_compact(
                spark, snap, to_compact, patches, full
            )
        latest = self.snapshots.latest()
        # compacted rows keep sequence semantics: the Spark rewrite gives
        # them fresh low seqs and the driver rewrite keeps theirs, but no
        # older run survives in their buckets, so ordering vs future
        # commits (which use next_sequence from the snapshot) stays correct.
        deletes = []
        for e in to_compact + consumed_patches:
            d = ManifestEntry(**{**e.__dict__})
            d.kind = KIND_DELETE
            deletes.append(d)
        # DV maintenance: compacted files materialized their deletes, so
        # keep only DV rows for files that survive this commit
        new_dv, new_dv_count, new_dv_buckets = self._consolidate_dv(
            snap,
            survivors={os.path.basename(e.file_name) for e in entries}
            - {os.path.basename(e.file_name) for e in to_compact},
            bucket_of={os.path.basename(e.file_name): e.bucket for e in entries},
        )
        # changelog-producer=full-compaction: persist the diff vs the
        # previous compaction's state as changelog files referenced by
        # this snapshot, so N consumers read files instead of each
        # recomputing a two-sided merge (FullChangelogMergeTreeCompact-
        # Rewriter.java; Snapshot.changelogManifestList)
        cl_files: list[str] = []
        if pk and schema.options.get("changelog-producer") == "full-compaction":
            cl_files = self._write_compaction_changelog(spark, snap)
        return self.committer.commit(
            deletes + new_entries,
            schema.id,
            kind=COMMIT_COMPACT,
            next_sequence=latest.next_sequence if latest else 0,
            dv_files=new_dv,
            changelog_files=cl_files,
            dv_row_count=new_dv_count,
            dv_buckets=new_dv_buckets,
        )

    def _spark_compact(
        self,
        spark: SparkSession,
        snap: Snapshot,
        to_compact: list,
        patches: list,
        full: bool,
    ) -> tuple[list[ManifestEntry], list[ManifestEntry]]:
        """compact()'s rewrite of ``to_compact`` in Spark jobs: the new
        MAX_LEVEL entries, and the patch files a full compaction of a
        data-evolution table materialized (they retire with the runs)."""
        schema = self.schema
        pk = self.is_primary_key_table()
        row_ids = self.row_tracking_enabled()
        one_shuffle = False
        consumed_patches: list[ManifestEntry] = []
        if row_ids:
            # row-id stability under maintenance (SpecialFields row-id
            # semantics): carry each surviving row's id through the
            # rewrite as a stored _ROW_ID column; the rewritten entries
            # commit with first_row_id=None and readers use the column
            merged = self._rows_with_ids(spark, to_compact, snap.dv_files)
            if full and patches:
                rewritten_parts = {
                    tuple(sorted(e.partition.items())) for e in to_compact
                }
                consumed_patches = [
                    e
                    for e in patches
                    if tuple(sorted(e.partition.items())) in rewritten_parts
                ]
                # materialize CURRENT values; consumed patch files retire
                merged = self._apply_patches(spark, merged, consumed_patches)
        elif (
            pk
            and schema.num_buckets() > 0
            # scale-adaptive gate (guide §2.5): the single
            # (partition, bucket) exchange caps the fold's parallelism
            # at the number of distinct groups — fine at scale
            # (thousands of partition-buckets), but on a small table it
            # starves the cores (bench-measured: 8 buckets on 32 cores
            # ran the fold 8-way and compact regressed 1.15→2.0 s).
            # Below the session's parallelism the old two-shuffle plan
            # (fold keyed on the full PK, then the write repartition)
            # is faster and stays.
            and len({tuple(sorted(e.partition.items())) for e in to_compact})
            * schema.num_buckets()
            >= spark.sparkContext.defaultParallelism
        ):
            # r12 one-shuffle compaction (guide §2.4): assign the
            # CURRENT layout's bucket from the key VALUES (bucket_expr
            # is generation-independent, so mid-rescale runs merge
            # correctly — a key's rows always map to one new bucket),
            # shuffle ONCE on (partition, bucket), and run the merge
            # fold WITH the bucket in its grouping key:
            # hash(partition, bucket) already co-locates every
            # (partition, bucket, key) group, so Catalyst adds no
            # second exchange, and stage_and_collect skips its
            # write-side repartition (pre_partitioned). The old shape
            # shuffled the full table bytes twice — once for the merge
            # fold (keyed on the PK) and once for the write layout.
            dv = read_mod.dv_dataframe(spark, self.path, snap.dv_files or [])
            runs = read_mod._read_files(
                spark, self.path, to_compact, schema, self.all_schemas(),
                with_system=True, dv=dv,
            )
            runs = runs.withColumn(BUCKET_COL, bucket_expr(schema))
            runs = runs.repartition(
                *[F.expr(quote_ident(c)) for c in list(schema.partition_keys) + [BUCKET_COL]]
            )
            merged = merge_engines.merge_view(
                runs, schema, group_extra=[BUCKET_COL]
            )
            one_shuffle = True
        else:
            plan = read_mod.ScanPlan(merge_entries=to_compact) if pk else read_mod.ScanPlan(raw_entries=to_compact)
            merged = read_mod.build_dataframe(
                spark, self.path, plan, schema, self.all_schemas(), dv_files=snap.dv_files
            )
        keep = self._record_expire_keep()
        if keep is not None:
            # record-level expire: expired rows simply don't survive the
            # whole-bucket rewrite (no older runs remain to resurrect them)
            merged = merged.where(keep)
        if pk and schema.num_buckets() == POSTPONE_BUCKET:
            # postpone mode (S19): THIS is where bucketing happens — the
            # rewrite assigns real buckets (postpone.bucket-num) so
            # post-compaction reads get bucket pruning + raw splits
            n = int(schema.options.get("postpone.bucket-num", "4"))
            merged = merged.withColumn(BUCKET_COL, bucket_expr(schema, n))
        new_entries = stage_and_collect(
            merged,
            self.path,
            schema,
            target_level=MAX_LEVEL,
            keep_cols=["_ROW_ID"] if row_ids else None,
            pre_partitioned=one_shuffle,
        )
        return new_entries, consumed_patches

    @staticmethod
    def _pick_universal(runs: list, amp_pct: int, size_ratio: int, trigger: int):
        """UniversalCompaction.pick (UniversalCompaction.java:42-103):
        ``runs`` oldest..newest. Returns the newest-run prefix to merge,
        or None. Order of triggers mirrors the reference: (1) size
        amplification — everything-but-the-oldest outgrowing the oldest
        run by ``amp_pct`` forces a full merge; (2) size ratio — newest
        runs accumulate while the next older run is within
        ``size_ratio``% of the candidate total; (3) run count — merge
        just enough newest runs to drop below ``trigger``."""
        n = len(runs)
        if n < max(trigger, 2):
            return None
        oldest = runs[0].file_size or 1
        newer = sum(e.file_size for e in runs[1:])
        if newer * 100 > amp_pct * oldest:
            return list(runs)
        sel = [runs[-1]]
        total = runs[-1].file_size
        for e in reversed(runs[:-1]):
            if e.file_size * 100 <= total * (100 + size_ratio):
                sel.append(e)
                total += e.file_size
            else:
                break
        if len(sel) >= 2:
            return sel
        k = n - trigger + 2  # leaves trigger-1 runs after the merge
        return list(runs[-k:]) if k >= 2 else None

    @staticmethod
    def _fold_seq_guard(
        selected: list, older: list, seq_cols: list[str],
        descending: bool = False,
    ) -> bool:
        """True iff file stats PROVE every selected row's user version is
        >= every unselected older row's version in this bucket, so the
        selection is a true suffix of the effective (version..., seq)
        order and a partial fold cannot re-attribute a field above an
        older run's intermediate version (ties fall to the input
        sequence, and the selected runs hold the higher sequences by
        construction). Conservative on any missing stat or NULL version
        (unordered against everything). With multiple sequence fields
        the comparison must be STRICT on the first column — per-column
        min/max cannot resolve a lexicographic tie."""
        col = seq_cols[0]
        strict = len(seq_cols) > 1

        def _rng(e):
            st = (e.stats or {}).get(col)
            if not st or st.get("min") is None or st.get("max") is None:
                return None
            if st.get("nulls"):
                return None
            return st["min"], st["max"]

        try:
            if descending:
                # sort-order=descending: newest = SMALLEST version, so
                # the suffix condition flips — every selected version
                # must be <= every unselected older version
                hi_sel = None
                for e in selected:
                    r = _rng(e)
                    if r is None:
                        return False
                    hi_sel = r[1] if hi_sel is None else max(hi_sel, r[1])
                lo_old = None
                for e in older:
                    r = _rng(e)
                    if r is None:
                        return False
                    lo_old = r[0] if lo_old is None else min(lo_old, r[0])
                if lo_old is None:
                    return True
                return hi_sel < lo_old if strict else hi_sel <= lo_old
            lo_sel = None
            for e in selected:
                r = _rng(e)
                if r is None:
                    return False
                lo_sel = r[0] if lo_sel is None else min(lo_sel, r[0])
            hi_old = None
            for e in older:
                r = _rng(e)
                if r is None:
                    return False
                hi_old = r[1] if hi_old is None else max(hi_old, r[1])
            if hi_old is None:
                return True  # no older runs at all
            return lo_sel > hi_old if strict else lo_sel >= hi_old
        except TypeError:
            # mixed stat types across schema generations — anywhere,
            # including within one side's min/max folds
            return False

    def _compact_universal(
        self, spark: SparkSession, snap: Snapshot, entries: list, trigger_runs: int
    ) -> Snapshot:
        """Partial universal compaction: merge ONLY the picked newest
        runs per bucket. Non-whole merges keep -D winners (they must
        still cancel rows in unmerged older runs —
        MergeTreeCompactRewriter dropDelete=false) and PRESERVE sequence
        numbers so merge-on-read ordering against the untouched runs is
        unchanged. deduplicate/first-row fold to the winner row by
        effective sequence; partial-update/aggregation fold through
        merge_engines.fold_runs (retract/delete keys pass through). A
        whole-bucket pick whose output is fully merged (-D rows dropped
        or absent) commits at MAX_LEVEL like the reference's pick
        outputLevel (UniversalCompaction.java outputLevel), so
        plan_scan's single-run raw shortcut engages on the next read.

        The rewrite takes one of two branches, as ``compact`` says
        (``_driver_compact``, else ``_spark_compact_universal``)."""
        schema = self.schema
        opts = schema.options
        engine = opts.get("merge-engine", "deduplicate")
        amp = int(opts.get("compaction.max-size-amplification-percent", "200"))
        ratio = int(opts.get("compaction.size-ratio", "1"))
        trigger = int(opts.get("num-sorted-run.compaction-trigger", str(trigger_runs)))
        by_bucket: dict[tuple, list[ManifestEntry]] = {}
        for e in entries:
            by_bucket.setdefault((tuple(sorted(e.partition.items())), e.bucket), []).append(e)
        # whole and partial picks are processed as SEPARATE DataFrames:
        # a whole group drops its -D rows and commits at MAX_LEVEL, a
        # partial group keeps them at level 0 — EXACTLY per
        # (partition, bucket), with no cross-partition bucket-number
        # conservatism (every partition shares bucket ids, so a
        # bucket-int intersection would never finalize anything on a
        # partitioned table)
        # sequence.field on partial-update/aggregation: a PARTIAL fold is
        # sound only when the selected runs form a true suffix of the
        # effective (version, seq) order — i.e. no unselected older run
        # holds an intermediate version that a folded last-non-null
        # field would wrongly outrank. Per-bucket file stats on the
        # version column decide; a failed guard PROMOTES the pick to the
        # whole bucket (a full per-bucket merge is always sound and
        # keeps maintenance bounded on out-of-order version streams).
        seq_field = opts.get("sequence.field")
        seq_guard_cols = (
            [c.strip() for c in seq_field.split(",") if c.strip()]
            if seq_field and engine in ("partial-update", "aggregation")
            else None
        )
        selected_whole: list[ManifestEntry] = []
        selected_partial: list[ManifestEntry] = []
        for (_ptk, _bucket), group in by_bucket.items():
            runs = sorted(group, key=lambda e: (e.max_seq, e.file_name))
            pick = self._pick_universal(runs, amp, ratio, trigger)
            if not pick:
                continue
            if len(pick) == len(runs):
                selected_whole.extend(pick)
                continue
            if seq_guard_cols is not None and not self._fold_seq_guard(
                pick,
                [e for e in runs if e not in pick],
                seq_guard_cols,
                descending=merge_engines.seq_descending(self.schema),
            ):
                selected_whole.extend(runs)
                continue
            selected_partial.extend(pick)
        selected = selected_whole + selected_partial
        if not selected:
            return snap
        new_entries = self._driver_compact(spark, snap, selected_whole, selected_partial)
        if new_entries is None:
            new_entries = self._spark_compact_universal(
                spark, snap, selected_whole, selected_partial
            )
        deletes = []
        for e in selected:
            d = ManifestEntry(**{**e.__dict__})
            d.kind = KIND_DELETE
            deletes.append(d)
        live_names = {os.path.basename(e.file_name) for e in entries}
        sel_names = {os.path.basename(e.file_name) for e in selected}
        dv_files, dv_count, dv_bkts = self._consolidate_dv(
            snap,
            live_names - sel_names,
            bucket_of={os.path.basename(e.file_name): e.bucket for e in entries},
        )
        return self.committer.commit(
            deletes + new_entries,
            schema.id,
            kind=COMMIT_COMPACT,
            next_sequence=snap.next_sequence,
            dv_files=dv_files,
            dv_row_count=dv_count,
            dv_buckets=dv_bkts,
        )

    def _driver_compact(
        self, spark: SparkSession, snap: Snapshot, whole: list, partial: list
    ) -> list[ManifestEntry] | None:
        """The new entries of a compaction's rewrite on the driver, or
        None when the ``whole``-bucket and ``partial`` picks total more
        than ``localread.LOCAL_READ_MAX_BYTES`` or the bucket reader
        refuses them (``localread.plan_rewrite``'s ValueError, raised
        before a file is opened). Each pick's winners, with their
        sequence numbers, kinds and stored buckets, go to
        ``stage_and_collect`` as Arrow: a whole pick drops retract
        winners and lands at MAX_LEVEL, a partial one keeps them at
        level 0."""
        from flink_table_store_spark import localread

        if sum(e.file_size for e in whole + partial) > localread.LOCAL_READ_MAX_BYTES:
            return None
        try:
            picks = [
                (localread.plan_rewrite(self, snap, runs, whole=is_whole), level)
                for runs, is_whole, level in ((whole, True, MAX_LEVEL), (partial, False, 0))
                if runs
            ]
        except ValueError:
            return None
        new_entries: list[ManifestEntry] = []
        for tasks, level in picks:
            new_entries += stage_and_collect(
                localread.read_tasks(*tasks),
                self.path,
                self.schema,
                row_kind_col=VALUE_KIND,
                target_level=level,
                preserve_seq=True,
                spark=spark,
            )
        return new_entries

    def _spark_compact_universal(
        self,
        spark: SparkSession,
        snap: Snapshot,
        selected_whole: list,
        selected_partial: list,
    ) -> list[ManifestEntry]:
        """_compact_universal's rewrite in Spark jobs: the new entries
        of folding the whole-bucket picks (MAX_LEVEL, or level 0 for a
        partial-update/aggregation group a retract leaves unresolved)
        and the partial picks (level 0, sequence numbers kept)."""
        schema = self.schema
        engine = schema.options.get("merge-engine", "deduplicate")
        dv = read_mod.dv_dataframe(spark, self.path, snap.dv_files)
        # MUST match fold_runs' unfoldable set: a bucket whose retract
        # rows pass through the fold but get written at MAX_LEVEL would
        # be served verbatim by the single-run raw-read shortcut
        bad_kinds = list(merge_engines.UNFOLDABLE_KINDS)
        new_entries: list[ManifestEntry] = []
        # r12 one-shuffle universal compaction (guide §2.4), winner-fold
        # engines only: pre-shuffle the selected runs ONCE on their
        # STORED (partition, bucket) — partial merges stay within the
        # stored layout by design — and let the fold's groupBy(keys +
        # bucket) run exchange-free on top (hash(partition, bucket)
        # co-locates every key group; the aggregate preserves the
        # partitioning, so stage_and_collect skips its repartition).
        # fold_runs output is a UNION (folded ∪ passthrough) whose
        # branches interleave (partition, bucket) groups across tasks —
        # it keeps the old two-shuffle shape so each bucket still lands
        # in one file. Same scale-adaptive gate as full compaction
        # (guide §2.5): below the session parallelism the single-group
        # exchange would starve cores.
        pre_part = engine in ("deduplicate", "first-row") and (
            len(
                {
                    (tuple(sorted(e.partition.items())), e.bucket)
                    for e in selected_whole + selected_partial
                }
            )
            >= spark.sparkContext.defaultParallelism
        )

        def _prepart(d):
            if not pre_part:
                return d
            return d.repartition(
                *[F.expr(quote_ident(c)) for c in list(schema.partition_keys) + [BUCKET_COL]]
            )

        if selected_whole:
            df = read_mod._read_files(
                spark, self.path, selected_whole, schema, self.all_schemas(),
                with_system=True, dv=dv,
            )
            if engine in ("deduplicate", "first-row"):
                # no unmerged older run remains in any of these groups:
                # drop every retract winner (-D and -U — DropDeleteReader
                # keeps only RowKind.isAdd), like a full compaction
                merged = merge_engines.fold_winner(
                    _prepart(df), schema, [BUCKET_COL], keep_system=True
                ).where(merge_engines.NOT_RETRACT)
                residual = None
            else:
                # persist: the fold (file read + window + groupBy) feeds
                # TWO write actions below — without it each
                # stage_and_collect would recompute the whole merge
                folded = merge_engines.fold_runs(df, schema, BUCKET_COL).persist()
                # groups whose rows include a retract/delete pass
                # through unfolded and stay NON-final (their elision /
                # retraction resolves at read or at a full compaction);
                # everything else is fully merged — raw-readable
                bad = (
                    df.where(F.col(VALUE_KIND).isin(bad_kinds))
                    .select(*schema.partition_keys, BUCKET_COL)
                    .distinct()
                )
                on = list(schema.partition_keys) + [BUCKET_COL]
                # eqNullSafe, not USING-column equality: a NULL
                # partition value must still match its bad-group row,
                # or an unresolved -D group would finalize at MAX_LEVEL
                b = F.broadcast(bad.alias("bad"))
                fa = folded.alias("f")
                cond = functools.reduce(
                    lambda a, c: a & F.col(f"f.{c}").eqNullSafe(F.col(f"bad.{c}")),
                    on[1:],
                    F.col(f"f.{on[0]}").eqNullSafe(F.col(f"bad.{on[0]}")),
                )
                merged = fa.join(b, on=cond, how="left_anti")
                residual = fa.join(b, on=cond, how="left_semi")
            new_entries += stage_and_collect(
                merged,
                self.path,
                schema,
                row_kind_col=VALUE_KIND,
                target_level=MAX_LEVEL,
                preserve_seq=True,
                pre_partitioned=pre_part,
            )
            if residual is not None:
                new_entries += stage_and_collect(
                    residual,
                    self.path,
                    schema,
                    row_kind_col=VALUE_KIND,
                    target_level=0,
                    preserve_seq=True,
                )
                folded.unpersist()
        if selected_partial:
            df = read_mod._read_files(
                spark, self.path, selected_partial, schema, self.all_schemas(),
                with_system=True, dv=dv,
            )
            if engine in ("deduplicate", "first-row"):
                # keep -D winners: they must still cancel rows in the
                # unmerged older runs (MergeTreeCompactRewriter
                # dropDelete=false)
                merged = merge_engines.fold_winner(
                    _prepart(df), schema, [BUCKET_COL], keep_system=True
                )
            else:
                merged = merge_engines.fold_runs(df, schema, BUCKET_COL)
            new_entries += stage_and_collect(
                merged,
                self.path,
                schema,
                row_kind_col=VALUE_KIND,
                target_level=0,
                preserve_seq=True,
                pre_partitioned=pre_part,
            )
        return new_entries

    def _write_compaction_changelog(self, spark: SparkSession, snap: Snapshot) -> list[str]:
        """Diff the merged state at the previous full compaction against
        the current state and persist it under changelog/. Baseline = the
        newest earlier COMPACT snapshot (state is compaction-invariant,
        so an empty-changelog compaction is a valid baseline too); no
        baseline = first compaction = full +I image."""
        import uuid as _uuid

        from flink_table_store_spark.streaming.changelog import changelog_diff

        baseline = 0
        for sid in reversed(self.snapshots.snapshot_ids()):
            if sid > snap.id:
                continue
            s = self.snapshots.load(sid)
            if s.commit_kind == COMMIT_COMPACT:
                baseline = sid
                break
        diff = changelog_diff(spark, self, baseline, snap.id)
        staging = os.path.join(self.path, "staging", f"cl-{_uuid.uuid4().hex}")
        diff.write.mode("overwrite").parquet(staging)
        cl_dir = os.path.join(self.path, "changelog")
        os.makedirs(cl_dir, exist_ok=True)
        out: list[str] = []
        import pyarrow.parquet as _pq

        for fn in os.listdir(staging):
            if not fn.endswith(".parquet"):
                continue
            src = os.path.join(staging, fn)
            if _pq.ParquetFile(src).metadata.num_rows == 0:
                continue
            name = f"changelog-{_uuid.uuid4().hex}.parquet"
            os.replace(src, os.path.join(cl_dir, name))
            out.append(name)
        import shutil as _shutil

        _shutil.rmtree(staging, ignore_errors=True)
        return out

    def rewrite_file_index(self, spark: SparkSession) -> Snapshot | None:
        """Rebuild file indexes for live data files WITHOUT rewriting the
        data (RewriteFileIndexProcedure: 'rewrite the file index' only).
        One distributed job recomputes every configured column's index
        over the existing files, refreshes the sidecar .index files, and
        commits the same data files with updated index stats. In-place
        sidecar refresh is snapshot-safe: index consultation is always
        might-contain-conservative and bloom bitsets carry their size m,
        so older snapshots can never be wrongly pruned."""
        snap = self.snapshots.latest()
        if snap is None:
            return None
        schema = self.schema
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
        if not idx_cols and not bm_cols:
            return snap
        entries = [
            e
            for e in self.manifests.read_live_entries(
                snap.base_manifest_list, snap.delta_manifest_list
            )
            # patch files hold only (_ROW_ID, patched cols): indexing the
            # configured data columns over them is meaningless and would
            # read columns they don't store
            if not e.patch_cols
        ]
        if not entries:
            return snap
        by_fmt: dict[str, list[ManifestEntry]] = {}
        for e in entries:
            by_fmt.setdefault(e.file_name.rsplit(".", 1)[-1], []).append(e)
        indexes: dict[str, dict] = {}
        for fmt, group in by_fmt.items():
            paths = [os.path.join(self.path, e.file_name) for e in group]
            indexes.update(
                fileindex.build_indexes(
                    spark,
                    paths,
                    idx_cols,
                    bm_cols,
                    fileindex.bloom_bits(schema.options),
                    fmt,
                    fileindex.in_manifest_threshold(schema.options),
                )
            )
        deletes, adds = [], []
        for e in entries:
            info = indexes.get(os.path.abspath(os.path.join(self.path, e.file_name)))
            if info is None:
                continue
            d = ManifestEntry(**{**e.__dict__})
            d.kind = KIND_DELETE
            deletes.append(d)
            a = ManifestEntry(**{**e.__dict__})
            a.kind = KIND_ADD
            stats = {}
            for col, st in e.stats.items():
                if col == fileindex.INDEX_KEY:
                    continue
                stats[col] = {k: v for k, v in st.items() if k not in ("bloom", "values")}
            for col, idx in info.get("inline", {}).items():
                stats.setdefault(col, {"min": None, "max": None, "nulls": 0}).update(idx)
            if info.get("sidecar"):
                stats[fileindex.INDEX_KEY] = {
                    "file": e.file_name + fileindex.INDEX_SUFFIX,
                    "cols": info["sidecar"],
                }
            a.stats = stats
            adds.append(a)
        if not adds:
            return snap
        latest = self.snapshots.latest()
        return self.committer.commit(
            deletes + adds,
            schema.id,
            kind=COMMIT_COMPACT,
            next_sequence=latest.next_sequence if latest else 0,
        )

    def _consolidate_dv(
        self,
        snap: Snapshot,
        survivors: set[str],
        bucket_of: dict[str, int] | None = None,
    ) -> tuple[list[str], int, dict[str, list[int]]]:
        """Rewrite the DV sidecar set down to positions in surviving
        files; ([], 0, {}) if nothing remains (rewrite_file_index
        procedure). Vectorized pyarrow filter — no per-row Python loops.
        Returns (dv file names, distinct delete-row count, per-file
        bucket coverage) so the commit can record dv_row_count and
        dv_buckets; coverage comes from ``bucket_of`` (basename →
        bucket) when the caller knows it."""
        import uuid as _uuid

        import pyarrow as _pa
        import pyarrow.compute as _pc
        import pyarrow.parquet as _pq

        if not snap.dv_files:
            return [], 0, {}
        t = self._read_dv_table(snap.dv_files)
        keep = t.filter(
            _pc.is_in(
                t.column("file_name"),
                value_set=_pa.array(sorted(survivors), type=_pa.string()),
            )
        )
        if keep.num_rows == 0:
            return [], 0, {}
        distinct = keep.group_by(["file_name", "pos"]).aggregate([])
        name = f"dv-{_uuid.uuid4().hex}.parquet"
        _pq.write_table(
            distinct,
            os.path.join(self.path, "index", name),
            compression="zstd",
        )
        coverage: dict[str, list[int]] = {}
        if bucket_of is not None:
            touched = {
                bucket_of[fn]
                for fn in _pc.unique(distinct.column("file_name")).to_pylist()
                if fn in bucket_of
            }
            coverage[name] = sorted(touched)
        return [name], distinct.num_rows, coverage

    def doctor(self, spark: SparkSession, check_orphans: bool = False) -> dict:
        """Operability health report (doctor.doctor): manifest
        amplification, small files / runs per bucket, DV ratio, index
        coverage, consumer lag, optional orphan count — with actionable
        findings. The daily audit a 100 TB operator runs."""
        from flink_table_store_spark.doctor import doctor as _doctor

        return _doctor(spark, self, check_orphans=check_orphans)

    def row_tracking_df(self, spark: SparkSession) -> DataFrame:
        """$row_tracking (RowTrackingTable): the table's rows with their
        stable ``_ROW_ID``. For freshly written files ids are derived,
        not stored: the manifest entry carries its commit-assigned
        ``first_row_id`` and a row's id is first_row_id + its position
        (``_metadata.row_index``). Compaction rewrites MATERIALIZE the
        ids as a stored ``_ROW_ID`` column (SpecialFields row-id
        stability contract), so ids survive maintenance; such entries
        commit with first_row_id=None and read the stored column."""
        if not self.row_tracking_enabled():
            raise RuntimeError(
                "row tracking requires an append table with row-tracking.enabled=true"
            )
        from pyspark.sql import types as T

        out_schema = T.StructType(
            self.schema.spark_schema().fields + [T.StructField("_ROW_ID", T.LongType())]
        )
        snap = self.snapshots.latest()
        if snap is None:
            return spark.createDataFrame([], out_schema)
        entries = self.manifests.read_live_entries(
            snap.base_manifest_list, snap.delta_manifest_list
        )
        if not entries:
            return spark.createDataFrame([], out_schema)
        base_entries = [e for e in entries if not e.patch_cols]
        df = self._rows_with_ids(spark, base_entries, snap.dv_files)
        # $row_tracking shows CURRENT values: data-evolution patches apply
        return self._apply_patches(
            spark, df, [e for e in entries if e.patch_cols]
        )

    def _rows_with_ids(
        self, spark: SparkSession, entries: list, dv_files: list[str] | None = None
    ) -> DataFrame:
        """Data columns + ``_ROW_ID`` for ``entries``: derived from
        first_row_id + row position for ordinary files, read from the
        stored column for compaction-rewritten files (first_row_id is
        None). Deletion vectors apply so a DV'd row's id never
        resurrects through a rewrite."""
        dv = read_mod.dv_dataframe(spark, self.path, dv_files or [])
        df = read_mod._read_files(
            spark, self.path, entries, self.schema, self.all_schemas(),
            with_system=False, dv=dv, keep_meta=True, with_row_id=True,
        )
        # Spark's _metadata.file_path renders the local scheme as
        # "file:/abs/path" (single slash)
        id_map = spark.createDataFrame(
            [
                (
                    f"file:{os.path.abspath(os.path.join(self.path, e.file_name))}",
                    e.first_row_id,
                )
                for e in entries
                if e.first_row_id is not None
            ]
            or [("", None)],
            "__fp string, __first bigint",
        )
        return (
            df.withColumn("__fp", F.col("_metadata.file_path"))
            .withColumn("__ri", F.col("_metadata.row_index"))
            .join(F.broadcast(id_map), "__fp", "left")
            .withColumn(
                "_ROW_ID",
                F.coalesce(
                    F.col("_ROW_ID"), (F.col("__first") + F.col("__ri")).cast("long")
                ),
            )
            .drop("__fp", "__ri", "__first", "_metadata")
        )

    # --- data evolution: column patches stitched by _ROW_ID -------------
    # (reference: append/dataevolution/, operation/DataEvolutionSplitRead
    # .java, table/source/DataEvolutionSplitGenerator.java — UPDATE on
    # row-tracking append tables writes only the changed COLUMNS as patch
    # files sharing the rows' id range; reads overlay them on the base)

    def data_evolution_enabled(self) -> bool:
        return (
            self.row_tracking_enabled()
            and self.schema.options.get("data-evolution.enabled") == "true"
        )

    def _apply_patches(
        self, spark: SparkSession, base: DataFrame, patches: list[ManifestEntry]
    ) -> DataFrame:
        """Overlay ``patches`` onto ``base`` (which carries _ROW_ID).
        Per patched COLUMN, the value from the highest-sequence patch
        containing that column wins; rows a patch doesn't mention keep
        their base value (presence-flagged join, so a patch can set
        NULL). One broadcast-prio join per distinct patched column —
        parquet column pruning keeps each pass at (_ROW_ID, col)."""
        if not patches:
            return base
        cols: list[str] = []
        for e in patches:
            for c in e.patch_cols:
                if c not in cols:
                    cols.append(c)
        for c in cols:
            ents = [e for e in patches if c in e.patch_cols]
            paths = [os.path.join(self.path, e.file_name) for e in ents]
            prio = spark.createDataFrame(
                [
                    (f"file:{os.path.abspath(p)}", e.max_seq)
                    for p, e in zip(paths, ents)
                ],
                "__fp string, __prio bigint",
            )
            pdf = (
                spark.read.parquet(*paths)
                .select("_ROW_ID", F.col(c).alias("__pv"))
                .withColumn("__fp", F.col("_metadata.file_path"))
                .join(F.broadcast(prio), "__fp")
            )
            w = Window.partitionBy("_ROW_ID").orderBy(
                F.desc("__prio"), F.desc("__fp")
            )
            latest = (
                pdf.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .select(
                    F.col("_ROW_ID").alias("__pid"),
                    "__pv",
                    F.lit(True).alias("__hit"),
                )
            )
            base = (
                base.join(latest, base["_ROW_ID"] == latest["__pid"], "left")
                .withColumn(
                    c,
                    F.when(F.col("__hit"), F.col("__pv")).otherwise(F.col(c)),
                )
                .drop("__pid", "__pv", "__hit")
            )
        return base

    def _read_stitched(
        self,
        spark: SparkSession,
        plan: "read_mod.ScanPlan",
        snap,
        predicate: Predicate | None = None,
        projection: list[str] | None = None,
        limit: int | None = None,
        keep_row_id: bool = False,
    ) -> DataFrame:
        """Scan of a data-evolution table: base rows with ids → patch
        overlay → residual predicate → projection/limit. The predicate
        runs on POST-patch values (plan_scan already disabled stats/
        bucket pruning for patched columns)."""
        base = self._rows_with_ids(spark, plan.raw_entries, snap.dv_files if snap else None)
        df = self._apply_patches(spark, base, plan.patch_entries)
        if predicate is not None:
            df = df.where(predicate.to_column(self.schema.field_names()))
        if not keep_row_id:
            df = df.drop("_ROW_ID")
        if projection is not None:
            df = df.select(*projection)
        if limit is not None:
            df = df.limit(limit)
        return df

    def update_columns(
        self,
        spark: SparkSession,
        predicate: Predicate | None,
        assignments: dict[str, Any],
    ) -> Snapshot:
        """UPDATE for data-evolution append tables that writes COLUMN
        PATCH files instead of rewriting rows: the wide-table update
        path (only the changed columns hit storage — at 100 TB, an
        update of one feature column writes ~1/n_cols of the bytes a
        row rewrite would). Assignments map column → Spark Column or
        SQL expression string, evaluated on the CURRENT (stitched)
        values; predicate None updates every row."""
        schema = self.schema
        if schema.primary_keys:
            raise ValueError("PK tables update by upsert — use table.update()")
        if not self.data_evolution_enabled():
            raise ValueError(
                "update_columns needs row-tracking.enabled=true and "
                "data-evolution.enabled=true on an append table"
            )
        if schema.options.get("metadata.iceberg.storage"):
            raise ValueError(
                "data evolution is incompatible with Iceberg-compatible "
                "storage — external readers cannot stitch patch files"
            )
        names = set(schema.field_names())
        for c in assignments:
            if c not in names:
                raise ValueError(f"unknown column {c}")
            if c in schema.partition_keys:
                raise ValueError(f"cannot patch partition column {c}")
        snap = self.snapshots.latest()
        if snap is None:
            raise RuntimeError("empty table")
        entries = self.manifests.read_live_entries(
            snap.base_manifest_list, snap.delta_manifest_list
        )
        plan = read_mod.ScanPlan(
            raw_entries=[e for e in entries if not e.patch_cols],
            patch_entries=[e for e in entries if e.patch_cols],
        )
        rows = self._read_stitched(spark, plan, snap, keep_row_id=True)
        if predicate is not None:
            rows = rows.where(predicate.to_column(self.schema.field_names()))
        upd_cols = sorted(assignments)
        exprs = [
            (F.expr(v) if isinstance(v, str) else v).alias(c)
            for c, v in sorted(assignments.items())
        ]
        pt_cols = list(schema.partition_keys)
        patch_df = rows.select(*pt_cols, F.col("_ROW_ID"), *exprs)
        # stage like the ordinary writer: partition dirs, footer stats
        import uuid as _uuid

        from flink_table_store_spark.manifest import collect_parquet_stats
        from flink_table_store_spark.snapshot import now_millis
        from flink_table_store_spark.write import DATA_DIR
        from flink_table_store_spark.write import _parse_partition as _w_parse_partition

        staging = os.path.join(self.path, "staging", _uuid.uuid4().hex)
        w = patch_df.write.mode("overwrite").format("parquet")
        if pt_cols:
            w = w.partitionBy(*pt_cols)
        w.save(staging)
        latest = self.snapshots.latest()
        next_seq = latest.next_sequence if latest else 0
        new_entries: list[ManifestEntry] = []
        now = now_millis()
        import shutil as _shutil

        for dirpath, _dirs, files in os.walk(staging):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                src = os.path.join(dirpath, fn)
                rc, size, stats = collect_parquet_stats(src)
                if rc == 0:
                    continue
                rel_dir = os.path.relpath(dirpath, staging)
                rel_parts = [] if rel_dir == "." else rel_dir.split(os.sep)
                dest_dir = os.path.join(self.path, DATA_DIR, *rel_parts)
                os.makedirs(dest_dir, exist_ok=True)
                name = f"patch-{_uuid.uuid4().hex}.parquet"
                dest = os.path.join(dest_dir, name)
                os.replace(src, dest)
                partition, _b = _w_parse_partition(rel_dir)
                new_entries.append(
                    ManifestEntry(
                        kind=KIND_ADD,
                        partition=partition,
                        bucket=0,
                        level=0,
                        file_name=os.path.relpath(dest, self.path),
                        row_count=rc,
                        file_size=size,
                        min_seq=next_seq,
                        max_seq=next_seq,
                        schema_id=schema.id,
                        stats=stats,
                        creation_time=now,
                        patch_cols=upd_cols,
                    )
                )
        _shutil.rmtree(staging, ignore_errors=True)
        return self.committer.commit(
            new_entries,
            schema.id,
            kind=COMMIT_APPEND,
            next_sequence=next_seq + 1,
        )

    def read_optimized(self, spark: SparkSession) -> DataFrame:
        """$ro (ReadOptimizedTable.java:64): read only buckets that are a
        single compacted run — zero merge cost, possibly stale keys that
        still sit in level-0. The latency/freshness trade the reference
        offers OLAP engines."""
        snap = self.snapshots.latest()
        if snap is None:
            return spark.createDataFrame([], self.schema.spark_schema())
        entries = self.manifests.read_live_entries(snap.base_manifest_list, snap.delta_manifest_list)
        by_bucket: dict[tuple, list[ManifestEntry]] = {}
        for e in entries:
            if e.level > 0:  # $ro ignores unmerged level-0 runs
                by_bucket.setdefault((tuple(sorted(e.partition.items())), e.bucket), []).append(e)
        plan = read_mod.ScanPlan()
        for g in by_bucket.values():
            if len(g) == 1:
                plan.raw_entries.append(g[0])
            else:
                plan.merge_entries.extend(g)
        return read_mod.build_dataframe(
            spark, self.path, plan, self.schema, self.all_schemas(), dv_files=snap.dv_files
        )

    def rescale(
        self,
        spark: SparkSession,
        num_buckets: int | None = None,
        partition_filter: Predicate | None = None,
    ) -> Snapshot | None:
        """Change the bucket count of a PK table (RescaleProcedure):
        re-hash and rewrite rows in one OVERWRITE commit, schema option
        updated first so the writer and future reads agree.

        ``partition_filter`` rescales only matching partitions — the
        reference procedure's ``partitions``/``where``, the progressive
        path for tables too large to rewrite at once. Until every
        partition is rescaled the table mixes bucket layouts; scans,
        bucket pruning and point lookups stay correct (entries from
        other schema generations are treated as layout-less —
        read.same_bucket_layout) while bucketed joins refuse loudly.
        ``num_buckets=None`` re-applies the CURRENT option (converging
        a partially-rescaled table); postpone-bucket tables require an
        explicit count (the reference's check) and keep writing
        postponed — rescale assigns their real buckets like compaction
        does, at the new ``postpone.bucket-num``."""
        if not self.is_primary_key_table():
            raise RuntimeError("rescale applies to PK tables")
        if partition_filter is not None and not _is_partition_only(
            partition_filter, self.schema
        ):
            raise ValueError(
                "rescale partition filter must reference only partition "
                f"columns {self.schema.partition_keys}"
            )
        postpone = self.schema.num_buckets() == POSTPONE_BUCKET
        if postpone and num_buckets is None:
            raise ValueError(
                "When rescaling postpone bucket tables, you must provide "
                "the resulting bucket number."
            )
        df = self.to_df(spark, predicate=partition_filter)
        if num_buckets is not None:
            key = "postpone.bucket-num" if postpone else "bucket"
            if self.schema.options.get(key) != str(num_buckets):
                self.evolve_schema(
                    [{"action": "set_option", "key": key, "value": str(num_buckets)}]
                )
        if postpone:
            # assign real buckets exactly like whole-bucket compaction
            n = int(self.schema.options["postpone.bucket-num"])
            df = df.withColumn(BUCKET_COL, bucket_expr(self.schema, n))
        entries = stage_and_collect(df, self.path, self.schema)
        return self.committer.commit_overwrite(
            entries, self.schema.id, partition_filter
        )

    # --- ANALYZE / statistics (§4.1 Stats→CBO; stats store paimon-core stats/) ---

    def analyze(self, spark: SparkSession, columns: list[str] | None = None) -> dict:
        """Compute and persist table+column statistics
        (AnalyzeTableColumnCommand): row count, per-column ndv/nulls/
        min/max/avg_len — one distributed aggregate pass."""
        from flink_table_store_spark.fileio import write_json

        schema = self.schema
        cols = columns or [
            f.name for f in schema.fields if not f.type.startswith(("array", "map", "struct"))
        ]
        df = self.to_df(spark)
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs += [
                F.approx_count_distinct(c).alias(f"{c}__ndv"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
                F.min(c).cast("string").alias(f"{c}__min"),
                F.max(c).cast("string").alias(f"{c}__max"),
                F.avg(F.length(F.col(c).cast("string"))).alias(f"{c}__avglen"),
            ]
        row = df.agg(*aggs).collect()[0].asDict()
        stats = {
            "snapshotId": self.snapshots.latest_id(),
            "rowCount": row["__rows"],
            "columns": {
                c: {
                    "ndv": row[f"{c}__ndv"],
                    "nulls": row[f"{c}__nulls"],
                    "min": row[f"{c}__min"],
                    "max": row[f"{c}__max"],
                    "avgLen": row[f"{c}__avglen"],
                }
                for c in cols
            },
        }
        d = os.path.join(self.path, "statistics")
        os.makedirs(d, exist_ok=True)
        write_json(os.path.join(d, f"stats-{stats['snapshotId']}.json"), stats)
        return stats

    def statistics(self) -> dict | None:
        """Latest persisted statistics ($statistics system table data)."""
        d = os.path.join(self.path, "statistics")
        if not os.path.isdir(d):
            return None
        names = sorted(
            (n for n in os.listdir(d) if n.startswith("stats-")),
            key=lambda n: int(n[6:-5]),
        )
        return read_json(os.path.join(d, names[-1])) if names else None

    def export_iceberg(self, snapshot_id: int | None = None) -> str | None:
        """Write Iceberg v2 metadata for a snapshot (default: latest)
        under ``<table>/metadata/`` — on-demand form of the
        ``metadata.iceberg.storage = table-location`` commit callback
        (IcebergCommitCallback analogue, iceberg.py). Returns the
        vN.metadata.json path. Deletion-vector tables publish their DV
        positions as Iceberg position-delete files."""
        from flink_table_store_spark import iceberg as _iceberg

        snap = (
            self.snapshots.load(snapshot_id)
            if snapshot_id is not None
            else self.snapshots.latest()
        )
        if snap is None:
            return None
        return _iceberg.export_snapshot(self, snap)

    # --- system tables (SystemTableLoader; SURVEY §2.1 S10) ---

    def system_table(self, spark: SparkSession, name: str) -> DataFrame:
        """``t$snapshots``-style metadata tables as DataFrames."""
        from flink_table_store_spark.sources.system_tables import system_table

        return system_table(spark, self, name)

    # --- branches (reference BranchManager; branch shares data+manifests,
    #     owns its snapshot/tag/consumer dirs) ---

    def _branch_root(self, name: str) -> str:
        return os.path.join(self.path, "branch", f"branch-{name}")

    def branches(self) -> dict[str, dict[str, Any]]:
        root = os.path.join(self.path, "branch")
        if not os.path.isdir(root):
            return {}
        out = {}
        for n in sorted(os.listdir(root)):
            if n.startswith("branch-"):
                meta = os.path.join(root, n, "meta.json")
                out[n[len("branch-"):]] = (
                    read_json(meta) if os.path.exists(meta) else {"fromSnapshot": 0, "createTime": 0}
                )
        return out

    def create_branch(self, name: str, snapshot_id: int | None = None) -> "Table":
        """Fork a branch from a snapshot (default: latest). The branch
        starts with a copy of that snapshot and commits independently."""
        from flink_table_store_spark.fileio import write_json
        from flink_table_store_spark.snapshot import now_millis

        sid = snapshot_id if snapshot_id is not None else self.snapshots.latest_id()
        root = self._branch_root(name)
        if os.path.isdir(root):
            raise RuntimeError(f"branch {name} already exists")
        bsm = SnapshotManager(self.path, branch=name)
        os.makedirs(bsm.dir, exist_ok=True)
        if sid is not None:
            snap = self.snapshots.load(sid)
            if not bsm.try_commit(snap):
                raise RuntimeError(f"branch {name} already exists")
        # sid None: EMPTY branch from an empty table (reference
        # BranchManager.createBranch allows it — the chain-table setup
        # creates snapshot/delta branches right after CREATE TABLE)
        write_json(os.path.join(root, "meta.json"), {"fromSnapshot": sid or 0, "createTime": now_millis()})
        return self.use_branch(name)

    def use_branch(self, name: str) -> "Table":
        return Table(self.path, name=self.name, branch=name)

    def delete_branch(self, name: str) -> None:
        import shutil

        shutil.rmtree(self._branch_root(name), ignore_errors=True)

    def fast_forward(self, name: str) -> None:
        """Promote a branch to main (FastForwardProcedure): replace main
        snapshots newer than the fork point with the branch's.

        Hardened against the delete-then-copy race: branch snapshots are
        FIRST staged as ``.ff-tmp`` files in main's snapshot dir (same
        filesystem), then the flip is per-file-atomic ``os.replace``
        after the diverged main snapshots are removed. A crash mid-flip
        leaves recoverable tmp files and an intact prefix; a concurrent
        commit that lands mid-flip is detected afterwards and surfaced
        instead of being silently interleaved."""
        from flink_table_store_spark.fileio import write_json

        meta = self.branches().get(name)
        if meta is None:
            raise RuntimeError(f"no branch {name}")
        fork = meta["fromSnapshot"]
        bsm = SnapshotManager(self.path, branch=name)
        branch_ids = [sid for sid in bsm.snapshot_ids() if sid > fork]
        os.makedirs(self.snapshots.dir, exist_ok=True)
        # stage everything before touching main history; then REPLACE
        # first (overwriting diverged main ids with branch versions) and
        # only delete main-only ids afterwards — a crash at any point
        # leaves every main id present (old or new version), never a
        # hole, so the finally-cleanup of unflipped tmps is always safe.
        tmps: list[tuple[int, str]] = []
        try:
            for sid in branch_ids:
                tmp = os.path.join(self.snapshots.dir, f"snapshot-{sid}.ff-tmp")
                write_json(tmp, bsm.load(sid).to_dict())
                tmps.append((sid, tmp))
            for sid, tmp in list(tmps):
                os.replace(tmp, os.path.join(self.snapshots.dir, f"snapshot-{sid}"))
                tmps.remove((sid, tmp))
            main_only = [
                sid
                for sid in self.snapshots.snapshot_ids()
                if sid > fork and sid not in set(branch_ids)
            ]
            for sid in main_only:
                self.snapshots.delete(sid)
        finally:
            for _sid, tmp in tmps:
                if os.path.exists(tmp):
                    os.unlink(tmp)
        expected = {sid for sid in self.snapshots.snapshot_ids()}
        foreign = expected - set(branch_ids) - {sid for sid in expected if sid <= fork}
        if foreign:
            raise RuntimeError(
                f"fast_forward({name}): concurrent commit(s) {sorted(foreign)} "
                "landed during the flip; reconcile before continuing"
            )

    def sort_compact(
        self,
        spark: SparkSession,
        cols: list[str] | None = None,
        strategy: str | None = None,
        bits: int = 16,
        num_files: int | None = None,
        incremental: bool = False,
    ) -> Snapshot | None:
        """Cluster the table by ORDER/ZORDER/HILBERT over ``cols`` for
        data skipping (CompactProcedure.java:112 sort path,
        TableSorter.java:30-82). Full rewrite by default: range-
        repartition on the curve key so each output file covers a tight
        key range.

        ``incremental=True`` (O6, append/cluster/ + docs/content/
        append-table/incremental-clustering.md): rewrite only files
        added since the last clustering — clustered output carries
        level 5, so the unclustered set is exactly the level-0 entries.
        Each pass produces one new sorted run; a periodic full pass
        merges runs. At 100 TB this converts clustering from an
        O(table) rewrite per run into O(new data)."""
        from flink_table_store_spark.manifest import merge_entry_stats
        from flink_table_store_spark.operators.zorder import sort_key

        if self.is_primary_key_table():
            raise RuntimeError("sort_compact targets append tables (PK order is the LSM key)")
        opts = self.schema.options
        if cols is None:
            raw = opts.get("clustering.columns") or opts.get("clustering-columns")
            if not raw:
                raise ValueError(
                    "no clustering columns: pass cols or set the "
                    "clustering.columns table option"
                )
            cols = [c.strip() for c in raw.split(",") if c.strip()]
        if strategy is None:
            # incremental-clustering.md:78-82: explicit option, else
            # decided by column count — order/1, zorder/<5, hilbert/>=5
            strategy = opts.get("clustering.strategy") or (
                "order"
                if len(cols) == 1
                else ("zorder" if len(cols) < 5 else "hilbert")
            )
        if self._live_patched_cols():
            raise ValueError(
                "sort_compact on a table with live data-evolution patches "
                "— run compact() to materialize them first"
            )
        snap = self.snapshots.latest()
        if snap is None:
            return None
        schema = self.schema
        live = self.manifests.read_live_entries(snap.base_manifest_list, snap.delta_manifest_list)
        entries = [e for e in live if e.level == 0] if incremental else live
        if not entries:
            return snap
        ranges = [merge_entry_stats(entries, c) for c in cols]
        row_ids = self.row_tracking_enabled()
        if row_ids:
            # clustering rewrites preserve _ROW_ID the same way compact
            # does — materialized column, first_row_id stays None
            df = self._rows_with_ids(spark, entries, snap.dv_files)
        else:
            plan = read_mod.ScanPlan(raw_entries=entries)
            df = read_mod.build_dataframe(
                spark, self.path, plan, schema, self.all_schemas(), dv_files=snap.dv_files
            )
        key = sort_key(df, cols, ranges, strategy, bits)
        n = num_files or max(spark.sparkContext.defaultParallelism, 1)
        clustered = (
            df.withColumn("__sk", key)
            .repartitionByRange(n, F.col("__sk"))
            .sortWithinPartitions("__sk")
            .drop("__sk")
        )
        new_entries = stage_and_collect(
            clustered,
            self.path,
            schema,
            target_level=5,
            keep_cols=["_ROW_ID"] if row_ids else None,
        )
        deletes = []
        for e in entries:
            d = ManifestEntry(**{**e.__dict__})
            d.kind = KIND_DELETE
            deletes.append(d)
        untouched = {os.path.basename(e.file_name) for e in live} - {
            os.path.basename(e.file_name) for e in entries
        }
        dv_files, dv_count, dv_bkts = self._consolidate_dv(
            snap,
            untouched,
            bucket_of={os.path.basename(e.file_name): e.bucket for e in live},
        )
        return self.committer.commit(
            deletes + new_entries,
            schema.id,
            kind=COMMIT_COMPACT,
            dv_files=dv_files,
            dv_row_count=dv_count,
            dv_buckets=dv_bkts,
        )

    # --- snapshot management ---

    def create_tag(
        self,
        name: str,
        snapshot_id: int | None = None,
        time_retained: str | int | None = None,
    ) -> None:
        """``time_retained`` (a duration string or millis) bounds the
        tag's lifetime (Tag.java tagTimeRetained); absent, the
        ``tag.default-time-retained`` table option applies."""
        from flink_table_store_spark.markdone import duration_ms

        if time_retained is None:
            time_retained = self.schema.options.get("tag.default-time-retained")
        ms = (
            duration_ms(time_retained)
            if isinstance(time_retained, str)
            else time_retained
        )
        self.snapshots.create_tag(name, snapshot_id, time_retained_ms=ms)
        handler = getattr(self, "tag_partition_handler", None)
        ttp = self.schema.options.get("metastore.tag-to-partition")
        if handler is not None and ttp:
            # upsert-to-partitioned: every tag becomes a metastore
            # partition of the mirror (HiveCatalog attaches the handler)
            handler.create_partitions([{ttp: name}])

    def delete_tag(self, name: str) -> None:
        self.snapshots.delete_tag(name)

    def create_tag_from_timestamp(self, name: str, ts_millis: int) -> None:
        """CreateTagFromTimestampProcedure: tag the latest snapshot at or
        before ``ts_millis``."""
        snap = self.snapshots.for_timestamp(ts_millis)
        if snap is None:
            raise RuntimeError(f"no snapshot at or before {ts_millis}")
        self.snapshots.create_tag(name, snap.id)

    def rename_tag(self, old: str, new: str) -> None:
        self.snapshots.rename_tag(old, new)

    def replace_tag(self, name: str, snapshot_id: int | None = None) -> None:
        self.snapshots.replace_tag(name, snapshot_id)

    def expire_tags(self, older_than_millis: int) -> list[str]:
        return self.snapshots.expire_tags(older_than_millis)

    def rollback_to_watermark(self, watermark: int) -> None:
        """RollbackToWatermarkProcedure: roll back to the latest snapshot
        whose persisted watermark <= the given one (T7)."""
        snap = self.snapshots.for_watermark(watermark)
        if snap is None:
            raise RuntimeError(f"no snapshot with watermark <= {watermark}")
        self.rollback_to(snap.id)

    def compact_manifest(self) -> Snapshot:
        """CompactManifestProcedure: fold the inherited base+delta
        manifest files into one consolidated base manifest."""
        return self.committer.commit(
            [], self.schema.id, kind=COMMIT_COMPACT, fold_manifests=True
        )

    def purge_files(self) -> Snapshot:
        """PurgeFilesProcedure: truncate the table — commit an OVERWRITE
        that deletes every live file (data files become orphans and are
        reclaimed by expire + remove_orphan_files)."""
        return self.committer.commit_overwrite([], self.schema.id, None)

    def remove_unexisting_files(self, dry_run: bool = False) -> list[str]:
        """RemoveUnexistingFilesProcedure: repair manifests that reference
        files missing from storage (e.g. manually deleted) by committing
        DELETE entries for them."""
        snap = self.snapshots.latest()
        if snap is None:
            return []
        entries = self.manifests.read_live_entries(
            snap.base_manifest_list, snap.delta_manifest_list
        )
        missing = [
            e for e in entries if not os.path.exists(os.path.join(self.path, e.file_name))
        ]
        if missing and not dry_run:
            deletes = []
            for e in missing:
                d = ManifestEntry(**{**e.__dict__})
                d.kind = KIND_DELETE
                deletes.append(d)
            self.committer.commit(deletes, self.schema.id, kind=COMMIT_COMPACT)
        return [e.file_name for e in missing]

    def rollback_to(self, snapshot_id: int) -> None:
        """Drop snapshots newer than ``snapshot_id`` (Table.rollbackTo)."""
        for sid in self.snapshots.snapshot_ids():
            if sid > snapshot_id:
                self.snapshots.delete(sid)

    def expire_snapshots(
        self,
        retain_last: int | None = None,
        *,
        retain_min: int | None = None,
        retain_max: int | None = None,
        older_than_millis: int | None = None,
        max_deletes: int | None = None,
    ) -> list[int]:
        """Expire old snapshots (ExpireSnapshotsImpl.java:44-96).

        ``retain_last=N`` is the legacy API form: keep the newest N
        unconditionally. With no arguments the reference's option-driven
        algorithm runs: snapshots beyond ``snapshot.num-retained.max``
        are forced out regardless of age; the remaining candidates
        expire only while older than ``snapshot.time-retained``
        (default 1 h), never cutting below ``snapshot.num-retained.min``
        (default 10), at most ``snapshot.expire.limit`` (default 50)
        per call. Tagged snapshots stay readable through their tag
        copies; active consumers pin everything from their cursor
        onward (ConsumerManager.java:168).

        Reclaims storage like the reference does at expire time
        (ExpireSnapshotsImpl.expireUntil → deleteExpiredDataFiles):
        newly-unreferenced files are computed from the EXPIRED snapshots'
        delta manifests — O(expired commits), never a tree walk. A file
        whose DELETE entry sits in a delta at id ≤ earliest-retained was
        referenced only by now-expired snapshots; it is deleted unless a
        tag or branch still references it."""
        ids = self.snapshots.snapshot_ids()
        if not ids:
            return []
        n = len(ids)
        opts = self.schema.options
        if retain_last is not None:
            r_min = r_max = retain_last
            cutoff = None
            limit = max_deletes if max_deletes is not None else n
        else:
            from flink_table_store_spark.markdone import duration_ms

            r_min = (
                retain_min
                if retain_min is not None
                else int(opts.get("snapshot.num-retained.min", "10"))
            )
            r_max = (
                retain_max
                if retain_max is not None
                else int(opts.get("snapshot.num-retained.max", str(2**31 - 1)))
            )
            cutoff = older_than_millis
            if cutoff is None:
                cutoff = now_millis() - duration_ms(
                    opts.get("snapshot.time-retained", "1 h")
                )
            limit = (
                max_deletes
                if max_deletes is not None
                else int(opts.get("snapshot.expire.limit", "50"))
            )
        if r_min < 1:
            raise ValueError(f"retainMin ({r_min}) must be at least 1")
        if r_max < r_min:
            raise ValueError(
                f"retainMax ({r_max}) must not be less than retainMin ({r_min})"
            )
        cons_exp = opts.get("consumer.expiration-time")
        if cons_exp:
            # stale consumers stop pinning before retention is computed
            # (TableCommitImpl expires consumers ahead of snapshots)
            from flink_table_store_spark.markdone import duration_ms as _dur

            self.snapshots.expire_consumers(_dur(cons_exp))
        earliest, latest = ids[0], ids[-1]
        # num-retained.max forces everything below min_keep out
        # regardless of age; candidates in [min_keep, max_excl) are
        # time-gated — stop at the first young-enough snapshot
        min_keep = ids[n - r_max] if n > r_max else earliest
        max_excl = ids[n - r_min] if n > r_min else earliest
        consumers = self.snapshots.consumers()
        if consumers:
            max_excl = min(max_excl, min(consumers.values()))
        max_excl = min(max_excl, ids[limit] if limit < n else latest + 1)
        end = max_excl
        if cutoff is not None:
            for sid in (i for i in ids if min_keep <= i < max_excl):
                try:
                    s = self.snapshots.load(sid)
                except FileNotFoundError:
                    continue
                if s.time_millis >= cutoff:
                    end = sid
                    break
        expired = [i for i in ids if i < end]
        if not expired:
            return expired
        retained_ids = [i for i in ids if i >= end]
        # decoupled changelog lifecycle (ExpireChangelogImpl / Changelog-
        # Manager): with changelog.num-retained.max set, an expired
        # snapshot that produced changelog is preserved as a
        # changelog/changelog-<id> metadata entry and its changelog
        # files outlive the snapshot until expire_changelogs prunes them
        # by the (longer) changelog retention.
        cl_max = self.schema.options.get("changelog.num-retained.max")
        preserved_sids: set[int] = set()
        if cl_max is not None:
            import glob as _glob

            for sid in expired:
                s = self.snapshots.load(sid)
                has_cl = bool(s.changelog_files) or bool(
                    _glob.glob(
                        os.path.join(self.path, "changelog", f"changelog-s{sid}-*.parquet")
                    )
                )
                if has_cl:
                    self.snapshots.write_changelog_entry(s)
                    preserved_sids.add(sid)
        self._reclaim_expired_files(expired, retained_ids, preserved_sids)
        for sid in expired:
            self.snapshots.delete(sid)
        if cl_max is not None:
            self.expire_changelogs(int(cl_max))
        return expired

    def expire_changelogs(
        self,
        retain_last: int,
        retain_min: int | None = None,
        older_than_millis: int | None = None,
    ) -> list[int]:
        """Prune PRESERVED changelog entries (snapshots already expired,
        changelog kept) down to the newest ``retain_last`` — counting the
        live snapshot history too, like the reference's changelog
        retention window (ExpireChangelogImpl.java; CoreOptions
        changelog.num-retained.max). ``changelog.num-retained.min``
        entries always survive; ``changelog.time-retained`` expires by
        age inside the count window. A registered consumer pins
        everything from its cursor onward."""
        import glob as _glob

        entry_ids = self.snapshots.changelog_entry_ids()
        if not entry_ids:
            return []
        opts = self.schema.options
        if retain_min is None and opts.get("changelog.num-retained.min"):
            retain_min = int(opts["changelog.num-retained.min"])
        if older_than_millis is None and opts.get("changelog.time-retained"):
            from flink_table_store_spark.markdone import duration_ms

            older_than_millis = now_millis() - duration_ms(
                opts["changelog.time-retained"]
            )
        live_ids = self.snapshots.snapshot_ids()
        horizon = sorted(entry_ids + live_ids)[-retain_last:] if retain_last > 0 else []
        keep_above = horizon[0] if horizon else (live_ids[0] if live_ids else 0)
        if older_than_millis is not None:
            # age gate widens the doomed set, but never below the
            # count floors (num-retained.max still binds from above)
            for sid in sorted(entry_ids):
                if sid >= keep_above:
                    try:
                        s = self.snapshots.load_changelog_entry(sid)
                    except FileNotFoundError:
                        continue
                    if s.time_millis < older_than_millis:
                        keep_above = sid + 1
                    else:
                        break
        if retain_min is not None:
            all_ids = sorted(entry_ids + live_ids)
            floor_ids = all_ids[-retain_min:] if retain_min > 0 else []
            if floor_ids:
                keep_above = min(keep_above, floor_ids[0])
        consumers = self.snapshots.consumers()
        if consumers:
            keep_above = min(keep_above, min(consumers.values()))
        doomed = [sid for sid in entry_ids if sid < keep_above]
        for sid in doomed:
            s = self.snapshots.load_changelog_entry(sid)
            for n in s.changelog_files:
                try:
                    os.unlink(os.path.join(self.path, "changelog", n))
                except FileNotFoundError:
                    pass
            for p in _glob.glob(
                os.path.join(self.path, "changelog", f"changelog-s{sid}-*.parquet")
            ):
                try:
                    os.unlink(p)
                except FileNotFoundError:
                    pass
            self.snapshots.delete_changelog_entry(sid)
        return doomed

    def _protected_refs(self) -> tuple[set[str], set[str], set[str], set[str]]:
        """(data files, manifest files, dv files, changelog files) still
        referenced by tags or branches — never reclaimed at expire."""
        snaps: list[Snapshot] = list(self.snapshots.tags().values())
        for b in self.branches():
            bsm = SnapshotManager(self.path, branch=b)
            snaps += [bsm.load(i) for i in bsm.snapshot_ids()]
            snaps += list(bsm.tags().values())
        data: set[str] = set()
        manifests: set[str] = set()
        dv: set[str] = set()
        cl: set[str] = set()
        for s in snaps:
            dv.update(s.dv_files)
            cl.update(s.changelog_files)
            for lst in (s.base_manifest_list, s.delta_manifest_list):
                if not lst:
                    continue
                manifests.add(lst)
                for m in self.manifests.read_manifest_list(lst):
                    manifests.add(m)
                    data.update(e.file_name for e in self.manifests.read_manifest(m))
        return data, manifests, dv, cl

    def _reclaim_expired_files(
        self,
        expired: list[int],
        retained_ids: list[int],
        preserved_changelog_sids: set[int] | None = None,
    ) -> None:
        """Delete data files, manifests, DV and changelog files that only
        expired snapshots reference. Candidate data files come from
        DELETE entries in delta manifests of snapshots ≤ the earliest
        retained id (their ADD-side references are all expired)."""
        p_data, p_manifests, p_dv, p_cl = self._protected_refs()
        expired_snaps = [self.snapshots.load(sid) for sid in expired]
        earliest_retained = self.snapshots.load(retained_ids[0])

        candidates: set[str] = set()
        for s in expired_snaps + [earliest_retained]:
            for e in self.manifests.read_entries(s.delta_manifest_list):
                if e.kind == KIND_DELETE:
                    candidates.add(e.file_name)
        # The reference's skipping-set (ExpireSnapshotsImpl.expireUntil):
        # a DELETE entry can coexist with an ADD of the SAME file name in
        # one delta (rewrite_file_index does this), so a candidate may
        # still be live in the earliest retained snapshot — never unlink
        # files the retained history can still read.
        earliest_live = {
            e.file_name
            for e in self.manifests.read_live_entries(
                earliest_retained.base_manifest_list,
                earliest_retained.delta_manifest_list,
            )
        }
        touched_dirs: set[str] = set()
        for rel in candidates - p_data - earliest_live:
            for path in (os.path.join(self.path, rel), os.path.join(self.path, rel) + ".index"):
                try:
                    os.unlink(path)
                    touched_dirs.add(os.path.dirname(path))
                except FileNotFoundError:
                    pass
        if self.schema.options.get("snapshot.clean-empty-directories") == "true":
            # CoreOptions SNAPSHOT_CLEAN_EMPTY_DIRECTORIES: expired
            # partition/bucket dirs disappear with their last file
            # (walk upward until the data root or a non-empty dir)
            data_root = os.path.join(self.path, "data")
            for d in sorted(touched_dirs, key=len, reverse=True):
                while (
                    d.startswith(data_root + os.sep)
                    and os.path.isdir(d)
                    and not os.listdir(d)
                ):
                    os.rmdir(d)
                    d = os.path.dirname(d)

        # manifests referenced only by expired snapshots
        retained_manifests: set[str] = set(p_manifests)
        for sid in retained_ids:
            s = self.snapshots.load(sid)
            for lst in (s.base_manifest_list, s.delta_manifest_list):
                if not lst:
                    continue
                retained_manifests.add(lst)
                retained_manifests.update(self.manifests.read_manifest_list(lst))
        doomed_manifests: set[str] = set()
        for s in expired_snaps:
            for lst in (s.base_manifest_list, s.delta_manifest_list):
                if not lst or lst in retained_manifests:
                    continue
                doomed_manifests.add(lst)
                doomed_manifests.update(
                    m
                    for m in self.manifests.read_manifest_list(lst)
                    if m not in retained_manifests
                )
        for m in doomed_manifests:
            try:
                os.unlink(os.path.join(self.path, "manifest", m))
            except FileNotFoundError:
                pass

        # DV / changelog sidecars referenced only by expired snapshots
        retained_dv: set[str] = set(p_dv)
        retained_cl: set[str] = set(p_cl)
        for sid in retained_ids:
            s = self.snapshots.load(sid)
            retained_dv.update(s.dv_files)
            retained_cl.update(s.changelog_files)
        preserved = preserved_changelog_sids or set()
        for s in expired_snaps:
            for n in set(s.dv_files) - retained_dv:
                try:
                    os.unlink(os.path.join(self.path, "index", n))
                except (FileNotFoundError, IsADirectoryError):
                    pass
            if s.id in preserved:
                continue  # changelog outlives the snapshot (decoupled)
            for n in set(s.changelog_files) - retained_cl:
                try:
                    os.unlink(os.path.join(self.path, "changelog", n))
                except FileNotFoundError:
                    pass
        # lookup-producer changelog files (name-keyed by snapshot id):
        # reclaim those of expired ids not still alive as a tag/branch copy
        import glob as _glob

        protected_sids = set(retained_ids) | preserved
        protected_sids.update(s.id for s in self.snapshots.tags().values())
        for b in self.branches():
            protected_sids.update(SnapshotManager(self.path, branch=b).snapshot_ids())
        for sid in expired:
            if sid in protected_sids:
                continue
            for p in _glob.glob(
                os.path.join(self.path, "changelog", f"changelog-s{sid}-*.parquet")
            ):
                try:
                    os.unlink(p)
                except FileNotFoundError:
                    pass

    def _partition_value_time(
        self, part: dict[str, str], opts: dict | None = None
    ) -> int | None:
        """values-time strategy: epoch millis extracted from the
        partition VALUES via ``partition.timestamp-pattern`` (default:
        the single partition column) and ``partition.timestamp-
        formatter`` (Java-style yyyy/MM/dd/HH/mm/ss tokens; default
        tries ISO then compact forms) — reference
        utils/PartitionTimeExtractor.java. None = not parseable.
        ``opts`` lets expire_partitions apply per-call formatter/pattern
        overrides without mutating the schema."""
        import datetime as _dt

        opts = opts if opts is not None else self.schema.options
        pattern = opts.get("partition.timestamp-pattern")
        if pattern:
            text = re.sub(
                r"\$(\w+)", lambda m: str(part.get(m.group(1), "")), pattern
            )
        elif len(self.schema.partition_keys) == 1:
            text = str(part.get(self.schema.partition_keys[0], ""))
        else:
            return None
        fmt = opts.get("partition.timestamp-formatter")
        if fmt:
            py = fmt
            for java, strp in (
                ("yyyy", "%Y"), ("MM", "%m"), ("dd", "%d"),
                ("HH", "%H"), ("mm", "%M"), ("ss", "%S"),
            ):
                py = py.replace(java, strp)
            candidates = [py]
        else:
            candidates = ["%Y-%m-%d %H:%M:%S", "%Y-%m-%d", "%Y%m%d"]
        for c in candidates:
            try:
                dt = _dt.datetime.strptime(text, c)
                return int(dt.replace(tzinfo=_dt.timezone.utc).timestamp() * 1000)
            except ValueError:
                continue
        return None

    def expire_partitions(
        self,
        older_than_millis: int | None = None,
        partition_filter: Predicate | None = None,
        strategy: str | None = None,
        expiration_time: str | None = None,
        timestamp_formatter: str | None = None,
        timestamp_pattern: str | None = None,
        max_expires: int | None = None,
    ) -> list[dict]:
        """Drop whole partitions by age or by predicate
        (ExpirePartitionsProcedure): a metadata-only OVERWRITE commit
        deleting every file of the matching partitions.

        ``strategy`` (or ``partition.expiration-strategy``, manage-
        partitions.md:36-47): ``update-time`` (default here — age of
        the newest file) or ``values-time`` (time parsed from the
        partition VALUES; partitions whose values don't parse never
        expire, the reference's safe behavior). With no explicit
        ``older_than_millis``, the ``partition.expiration-time``
        duration option supplies the cutoff."""
        snap = self.snapshots.latest()
        if snap is None:
            return []
        opts = self.schema.options
        if timestamp_formatter or timestamp_pattern:
            # per-call overrides of the values-time parsing options
            # (ExpirePartitionsProcedure's timestamp_formatter /
            # timestamp_pattern arguments)
            opts = dict(opts)
            if timestamp_formatter:
                opts["partition.timestamp-formatter"] = timestamp_formatter
            if timestamp_pattern:
                opts["partition.timestamp-pattern"] = timestamp_pattern
        if expiration_time is not None and older_than_millis is None:
            older_than_millis = int(time.time() * 1000) - parse_duration_ms(
                expiration_time
            )
            if strategy is None:
                # the procedure's expiration_time implies values-time by
                # default, like the option-driven path
                strategy = opts.get(
                    "partition.expiration-strategy", "values-time"
                )
        option_driven = (
            older_than_millis is None
            and partition_filter is None
            and bool(opts.get("partition.expiration-time"))
        )
        # reference default (manage-partitions.md:40): values-time when
        # the expiry comes from the table options; explicit
        # older_than_millis API calls keep comparing file update times
        strategy = strategy or opts.get("partition.expiration-strategy") or (
            "values-time" if option_driven else "update-time"
        )
        if strategy not in ("update-time", "values-time"):
            raise ValueError(f"unknown partition.expiration-strategy {strategy!r}")
        if older_than_millis is None and partition_filter is None:
            dur = opts.get("partition.expiration-time")
            if dur:
                try:
                    millis = parse_duration_ms(dur)
                except ValueError:
                    raise ValueError(
                        f"cannot parse partition.expiration-time: {dur!r}"
                    ) from None
                older_than_millis = int(time.time() * 1000) - millis
        entries = self.manifests.read_live_entries(snap.base_manifest_list, snap.delta_manifest_list)
        newest: dict[str, int] = {}
        parts: dict[str, dict] = {}
        import json as _json

        for e in entries:
            k = _json.dumps(e.partition, sort_keys=True)
            parts[k] = e.partition
            newest[k] = max(newest.get(k, 0), e.creation_time)
        doomed = []
        for k, pt in parts.items():
            if partition_filter is not None and not partition_filter.test_partition(pt):
                continue
            if older_than_millis is not None:
                if strategy == "values-time":
                    vt = self._partition_value_time(pt, opts)
                    if vt is None or vt >= older_than_millis:
                        continue
                elif newest[k] >= older_than_millis:
                    continue
            if partition_filter is None and older_than_millis is None:
                continue  # refuse to expire everything implicitly
            doomed.append(pt)
        if not doomed:
            return []
        from flink_table_store_spark.predicate import or_

        if option_driven or max_expires is not None:
            # CoreOptions PARTITION_EXPIRATION_MAX_NUM (default 100) /
            # the procedure's max_expires: bound one run's deletions,
            # oldest (by last update) first
            doomed.sort(
                key=lambda pt: newest[_json.dumps(pt, sort_keys=True)]
            )
            max_num = (
                max_expires
                if max_expires is not None
                else int(opts.get("partition.expiration-max-num", "100"))
            )
            doomed = doomed[:max_num]
        # PARTITION_EXPIRATION_BATCH_SIZE: metadata-delete commits carry
        # at most this many partitions each (bounded predicate size)
        batch_size = int(opts.get("partition.expiration-batch-size", "1000"))
        for i in range(0, len(doomed), batch_size):
            chunk = doomed[i : i + batch_size]
            preds = []
            for pt in chunk:
                leafs = [P_mod.equal(k, v) for k, v in pt.items()]
                preds.append(leafs[0] if len(leafs) == 1 else P_mod.and_(*leafs))
            self.committer.commit_overwrite(
                [], self.schema.id, or_(*preds) if len(preds) > 1 else preds[0]
            )
        return doomed

    def mark_partition_done(self, partition) -> list[str]:
        """Mark partition(s) done (MarkPartitionDoneProcedure): run every
        configured ``partition.mark-done-action`` (default success-file
        — a ``_SUCCESS`` JSON in the partition directory) and record the
        marker ``done_partitions()`` polls. Accepts a dict, a
        ``'k=v,k2=v2'`` spec, or the procedure's ``;``-separated
        multi-partition string."""
        from flink_table_store_spark import markdone

        parts = markdone.parse_partition_spec(
            partition, self.schema.partition_keys
        )
        return markdone.mark_done(self, parts)

    def done_partitions(self) -> list[dict]:
        d = os.path.join(self.path, "partition_mark")
        if not os.path.isdir(d):
            return []
        return [read_json(os.path.join(d, n))["partition"] for n in sorted(os.listdir(d))]

    def remove_orphan_files(
        self,
        dry_run: bool = False,
        spark: SparkSession | None = None,
        older_than_millis: int | None = None,
    ) -> list[str]:
        """Delete data/manifest files referenced by no retained snapshot or
        tag (RemoveOrphanFilesProcedure).

        ``older_than_millis``: only files MODIFIED before this epoch-ms
        cutoff are candidates; defaults to now − 1 day, the reference's
        safety lag (OrphanFilesClean.olderThanMillis) — a writer's
        staged-but-uncommitted files must never be reaped mid-commit.

        With a SparkSession the DATA-side reconciliation is distributed
        (the reference's distributed orphan clean, RemoveOrphanFiles-
        Procedure `mode=distributed`): every manifest parquet is read in
        ONE Spark scan for the referenced set, the data tree is listed
        through Spark's parallel file index, and only the orphan names
        come back to the driver. Metadata dirs (manifest/index/
        changelog — O(commits), small) stay driver-side either way."""
        if older_than_millis is None:
            older_than_millis = int(time.time() * 1000) - 86_400_000
        referenced: set[str] = set()
        manifest_names: set[str] = set()
        snaps = [self.snapshots.load(i) for i in self.snapshots.snapshot_ids()]
        snaps += list(self.snapshots.tags().values())
        for b in self.branches():
            bsm = SnapshotManager(self.path, branch=b)
            snaps += [bsm.load(i) for i in bsm.snapshot_ids()]
            snaps += list(bsm.tags().values())
        for s in snaps:
            for dvn in s.dv_files:
                referenced.add(os.path.join("index", dvn))
            for cln in s.changelog_files:
                referenced.add(os.path.join("changelog", cln))
            for lst in (s.base_manifest_list, s.delta_manifest_list):
                if not lst:
                    continue
                referenced.add(os.path.join("manifest", lst))
                for m in self.manifests.read_manifest_list(lst):
                    referenced.add(os.path.join("manifest", m))
                    manifest_names.add(m)

        data_orphans: list[str] = []
        if spark is not None and manifest_names:
            data_orphans = self._data_orphans_distributed(
                spark, manifest_names, older_than_millis
            )
        else:
            for m in manifest_names:
                for e in self.manifests.read_manifest(m):
                    referenced.add(e.file_name)
                    ptr = e.stats.get(fileindex.INDEX_KEY)
                    if ptr:
                        referenced.add(ptr["file"])

        # lookup-producer changelog files are keyed by snapshot id in
        # their name, not recorded in the snapshot JSON: referenced while
        # that snapshot exists anywhere (main, branch, or tag copy)
        live_sids = {s.id for s in snaps}
        sid_pat = re.compile(r"^changelog-s(\d+)-")

        orphans: list[str] = list(data_orphans)
        scan_dirs = (
            ("manifest", "index", "changelog")
            if spark is not None and manifest_names
            else ("manifest", "data", "index", "changelog")
        )
        for sub in scan_dirs:
            root = os.path.join(self.path, sub)
            for dirpath, _d, files in os.walk(root):
                # the dynamic-bucket hash index is append-only state owned
                # by the writer, not referenced per-snapshot
                if "hash-index" in dirpath:
                    continue
                for fn in files:
                    m = sid_pat.match(fn)
                    if m and int(m.group(1)) in live_sids:
                        continue
                    full = os.path.join(dirpath, fn)
                    rel = os.path.relpath(full, self.path)
                    if rel in referenced:
                        continue
                    try:
                        if os.path.getmtime(full) * 1000 >= older_than_millis:
                            continue  # too fresh: possibly mid-commit
                    except OSError:
                        continue
                    orphans.append(rel)
        if not dry_run:
            for rel in orphans:
                os.unlink(os.path.join(self.path, rel))
        return orphans

    def _data_orphans_distributed(
        self,
        spark: SparkSession,
        manifest_names: set[str],
        older_than_millis: int,
    ) -> list[str]:
        """data/ orphans via one manifest-parquet scan + parallel listing
        + left-anti join; only orphan names reach the driver. Any file
        name in ANY manifest (ADD or DELETE kind) counts as referenced —
        an earlier snapshot may still read it. Files modified at or
        after ``older_than_millis`` are excluded executor-side (the
        safety lag rides the listing's modificationTime, no extra
        stat calls)."""
        data_root = os.path.join(self.path, "data")
        if not os.path.isdir(data_root):
            return []
        mpaths = [os.path.join(self.path, "manifest", m) for m in sorted(manifest_names)]
        ent = spark.read.parquet(*mpaths).select("file_name", "stats")
        refs = ent.select("file_name").unionByName(
            ent.select(
                F.get_json_object("stats", f"$.{fileindex.INDEX_KEY}.file").alias(
                    "file_name"
                )
            ).where(F.col("file_name").isNotNull())
        )
        listing = (
            spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true")
            .load(data_root)
            .where(
                F.unix_millis(F.col("modificationTime")) < F.lit(older_than_millis)
            )
            .select(
                F.regexp_replace(
                    F.col("path"), "^file:" + re.escape(self.path.rstrip("/")) + "/?", ""
                ).alias("file_name")
            )
        )
        return [
            r["file_name"]
            for r in listing.join(refs, on="file_name", how="left_anti").collect()
        ]

    # --- incremental / changelog reads (SURVEY §2.9 T6, T5) ---

    def delta_entries(self, snapshot_id: int) -> list[ManifestEntry]:
        s = self.snapshots.load(snapshot_id)
        # data-evolution patches carry no rows: incremental/streaming
        # consumers see row-adding files only
        return [
            e
            for e in self.manifests.read_entries(s.delta_manifest_list)
            if e.kind == KIND_ADD and not e.patch_cols
        ]

    def delta_plan(self, start: int, end: int) -> read_mod.ScanPlan:
        """The row-adding files of the snapshots in (start, end], as a
        plan: PK tables merge them per bucket, append tables read them
        raw. Expired snapshots contribute nothing, nor do COMPACT ones:
        compaction moves rows, it adds none. No pruning, and no
        snapshot on the plan, so no DVs: a delta file's rows are the
        snapshot's NEW rows as committed, DVs describe the merged
        state."""
        entries: list[ManifestEntry] = []
        for sid in range(start + 1, end + 1):
            if (
                self.snapshots.exists(sid)
                and self.snapshots.load(sid).commit_kind != COMMIT_COMPACT
            ):
                entries.extend(self.delta_entries(sid))
        if self.is_primary_key_table():
            return read_mod.ScanPlan(merge_entries=entries)
        return read_mod.ScanPlan(raw_entries=entries)

    def incremental_read(
        self,
        spark: SparkSession,
        start_snapshot: int,
        end_snapshot: int,
        scan_mode: str | None = None,
    ) -> DataFrame:
        """Rows added in snapshots (start, end]; PK tables return the
        merged view of the delta (IncrementalDeltaStartingScanner.java:55).

        ``scan_mode`` / the ``incremental-between-scan-mode`` table
        option (CoreOptions.java:1360, sql-query.md:96): ``auto``
        (default — changelog when the table produces changelog files,
        else delta), ``delta`` (newly changed files, merged view),
        ``changelog`` (the persisted changelog rows of the range, shaped
        like $audit_log: a leading ``rowkind`` column, retracts
        included)."""
        mode = (
            scan_mode
            or self.schema.options.get("incremental-between-scan-mode", "auto")
        ).lower()
        if mode not in ("auto", "delta", "changelog"):
            raise ValueError(
                f"unknown incremental-between-scan-mode {mode!r} "
                "(auto / delta / changelog)"
            )
        if mode == "auto":
            producer = self.schema.options.get("changelog-producer", "none")
            mode = "changelog" if producer not in ("", "none") else "delta"
        if mode == "changelog":
            from flink_table_store_spark.streaming.changelog import (
                input_changelog,
                persisted_changelog,
            )

            if self.schema.options.get("changelog-producer") == "input":
                # input producer: the writes' own rows ARE the changelog
                # (no separate files) — replay with persisted row kinds
                return input_changelog(
                    spark, self, start_snapshot, end_snapshot
                )
            parts = []
            for sid in range(start_snapshot + 1, end_snapshot + 1):
                df = persisted_changelog(spark, self, sid)
                if df is not None:
                    parts.append(df)
            if not parts:
                import pyspark.sql.types as T

                fields = [T.StructField("rowkind", T.StringType())] + list(
                    self.schema.spark_schema().fields
                )
                return spark.createDataFrame([], T.StructType(fields))
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out
        plan = self.delta_plan(start_snapshot, end_snapshot)
        return read_mod.build_dataframe(
            spark, self.path, plan, self.schema, self.all_schemas()
        )

    def incremental_read_between_timestamps(
        self, spark: SparkSession, ts1_millis: int, ts2_millis: int
    ) -> DataFrame:
        """paimon_incremental_between_timestamp TVF (S22): rows added in
        snapshots committed within (ts1, ts2]."""
        s1 = self.snapshots.for_timestamp(ts1_millis)
        s2 = self.snapshots.for_timestamp(ts2_millis)
        return self.incremental_read(spark, s1.id if s1 else 0, s2.id if s2 else 0)

    def incremental_read_to_tag(self, spark: SparkSession, tag: str) -> DataFrame:
        """paimon_incremental_to_auto_tag-style read: delta between the
        tag's predecessor snapshot and the tag."""
        snap = self.snapshots.tag(tag)
        return self.incremental_read(spark, snap.id - 1, snap.id)

    def audit_log(
        self, spark: SparkSession, start_snapshot: int | None = None, end_snapshot: int | None = None
    ) -> DataFrame:
        """$audit_log: delta rows with a ``rowkind`` column
        (AuditLogTable.java:88)."""
        schema = self.schema
        last = self.snapshots.latest_id() or 0
        lo = start_snapshot if start_snapshot is not None else 0
        hi = end_snapshot if end_snapshot is not None else last
        df = read_mod._read_files(
            spark,
            self.path,
            self.delta_plan(lo, hi).entries,
            schema,
            self.all_schemas(),
            with_system=True,
        )
        if df is None:
            from pyspark.sql import types as T

            fields = schema.spark_schema().fields + [T.StructField("rowkind", T.StringType())]
            return spark.createDataFrame([], T.StructType(fields))
        kind_col = F.col(VALUE_KIND) if VALUE_KIND in df.columns else F.lit(KIND_INSERT)
        return df.withColumn("rowkind", kind_col).select("rowkind", *schema.field_names())
