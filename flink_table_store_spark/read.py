"""Read path: driver-side scan planning + merge-on-read DataFrames.

Mirrors the reference read lifecycle (SURVEY §3.1):
snapshot → manifest entries → partition pruning → file-stats pruning →
split generation → raw read vs merge read. Planning is pure Python on
the driver (like DataTableBatchScan.plan, DataTableBatchScan.java:
44-127); execution is Spark's vectorized parquet reader plus a
declarative merge transform (vs MergeFileSplitRead.java:220-231 /
RawFileSplitRead.java:71).

Pruning order (cheapest first): partition values → file min/max stats
→ limit truncation — same order as SnapshotReaderImpl. Files whose
bucket holds a single already-compacted run skip the merge entirely
(the rawConvertible split path, DataSplit.java:61-80).

Schema evolution: entries carry their writer ``schema_id``; files are
read per schema generation and adapted to the current schema by
field-id mapping (rename) + Catalyst cast (widen) + null fill (add) —
replacing SchemaEvolutionUtil/IndexCastMapping + the casting/ rules.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field as dc_field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_table_store_spark.manifest import ManifestEntry
from flink_table_store_spark.operators.merge_engines import merge_view
from flink_table_store_spark.predicate import Predicate
from flink_table_store_spark.schema import (
    ROW_ID_COL,
    SEQUENCE_NUMBER,
    VALUE_KIND,
    TableSchema,
    quote_ident,
    scan_type,
    select_exprs,
)
from flink_table_store_spark.snapshot import Snapshot
from flink_table_store_spark.write import BUCKET_COL, DATA_DIR, POSTPONE_BUCKET


@dataclass
class ScanPlan:
    raw_entries: list[ManifestEntry] = dc_field(default_factory=list)
    merge_entries: list[ManifestEntry] = dc_field(default_factory=list)
    # data evolution: column-patch files overlaid on the raw rows by
    # _ROW_ID (never part of raw/merge — every consumer of data rows
    # sees only real row sources)
    patch_entries: list[ManifestEntry] = dc_field(default_factory=list)
    # the snapshot the plan was made from (None: empty table, or a plan
    # not made by ReadBuilder.plan) — its DVs apply to these entries
    snapshot: Snapshot | None = None

    @property
    def entries(self) -> list[ManifestEntry]:
        return self.raw_entries + self.merge_entries

    def file_count(self) -> int:
        return len(self.raw_entries) + len(self.merge_entries)

    def row_count_upper_bound(self) -> int:
        return sum(e.row_count for e in self.entries)


def _stats_test(e: ManifestEntry, predicate: Predicate, table_path: str | None) -> bool:
    """Inline stats first (free), then — only for surviving files whose
    manifest entry points at a sidecar index over a predicated column —
    load the sidecar and re-test (fileindex.stats_with_sidecar)."""
    from flink_table_store_spark import fileindex

    if not predicate.test(e.stats, e.row_count):
        return False
    merged = fileindex.stats_with_sidecar(table_path, e, predicate)
    if merged is None:
        return True
    return predicate.test(merged, e.row_count)


def _bucket_candidates(
    predicate: Predicate | None, schema: TableSchema
) -> set[int] | None:
    """Buckets that can hold rows matching ``predicate``, or None when
    not decidable (prune nothing). Sound because only TOP-LEVEL
    conjuncts contribute: an ``=``/``IN`` leaf there must hold for every
    matching row, so rows can only live in the hashed buckets. Applies
    to hash-assigned layouts only — fixed-bucket PK and bucketed-append
    tables; dynamic-bucket (index-assigned) and cross-partition tables
    never qualify (num_buckets ≤ 0 / option guard)."""
    from flink_table_store_spark.predicate import And, Leaf
    from flink_table_store_spark.write import bucket_keys
    from flink_table_store_spark.xxh64 import spark_xxhash64

    n = schema.num_buckets()
    if predicate is None or n <= 0:
        return None
    if schema.options.get("cross-partition-update") == "true":
        return None
    try:
        keys = bucket_keys(schema)
    except ValueError:
        return None
    if not keys:
        return None
    # equality constraints from the top-level conjunction
    eqs: dict[str, set] = {}
    conjuncts = list(predicate.children) if isinstance(predicate, And) else [predicate]
    for c in conjuncts:
        if isinstance(c, Leaf) and c.field in keys:
            if c.op == "=" and len(c.literals) == 1:
                vals = {c.literals[0]}
            elif c.op == "in":
                vals = set(c.literals)
            else:
                continue
            cur = eqs.get(c.field)
            eqs[c.field] = vals if cur is None else (cur & vals)
    if any(k not in eqs for k in keys):
        return None
    combos = 1
    for k in keys:
        combos *= len(eqs[k])
    if combos == 0 or combos > 64:
        return None if combos else set()  # contradictory conjuncts: no bucket
    import itertools

    from flink_table_store_spark.write import bucket_function_type

    try:
        mod_fn = bucket_function_type(schema) == "mod"
    except ValueError:
        return None  # misconfigured: don't prune
    types = [schema.field(k).type.lower() for k in keys]
    buckets: set[int] = set()
    for combo in itertools.product(*[sorted(eqs[k], key=repr) for k in keys]):
        # writer parity: xxhash64 skips null fields (seed carries); a
        # null literal can't match rows anyway, so skip the combo
        if any(v is None for v in combo):
            continue
        if mod_fn:
            buckets.add(int(combo[0]) % n)
            continue
        h = spark_xxhash64(
            [(v, t) for v, t in zip(combo, types) if v is not None]
        )
        if h is None:  # a type the pure-python hash doesn't cover
            return None
        buckets.add(h % n)
    return buckets


def plan_scan(
    entries: list[ManifestEntry],
    schema: TableSchema,
    predicate: Predicate | None = None,
    limit: int | None = None,
    table_path: str | None = None,
) -> ScanPlan:
    """Prune manifest entries and split them into raw vs merge groups.

    Stats pruning granularity on PK tables mirrors the reference
    (KeyValueFileStoreScan): predicates over key/partition columns prune
    per file (every version of a key shares them, so dropping a
    non-matching file cannot change the merge); predicates over VALUE
    columns prune only whole (partition, bucket) groups — dropping a
    single file could resurrect an older version of a key whose newest
    value fails the filter.
    """
    pk = bool(schema.primary_keys)
    patches = [e for e in entries if e.patch_cols]
    live = [e for e in entries if not e.patch_cols]
    patched_cols: set[str] = set()
    for e in patches:
        patched_cols.update(e.patch_cols)
    per_file_safe = True
    if predicate is not None:
        live = [e for e in live if predicate.test_partition(e.partition)]
        patches = [e for e in patches if predicate.test_partition(e.partition)]
        if patched_cols:
            flds = predicate.fields()
            if flds is None or flds & patched_cols:
                # base-file stats describe PRE-patch values for these
                # columns — pruning (or bucket routing) on them could
                # drop a row whose PATCHED value matches
                per_file_safe = False
        if pk and per_file_safe:
            flds = predicate.fields()
            keyish = set(schema.partition_keys) | set(schema.trimmed_primary_keys())
            per_file_safe = flds is not None and flds <= keyish
        if per_file_safe:
            live = [e for e in live if _stats_test(e, predicate, table_path)]
        cands = _bucket_candidates(predicate, schema) if per_file_safe else None
        if cands is not None and table_path is not None:
            # prune whole buckets for =/IN predicates covering the full
            # bucket-key (writer-parity hash; LocalTableQuery-style
            # routing generalized to scans). Entries written under a
            # DIFFERENT bucket layout (pre-rescale generations, other
            # bucket-key) keep unpruned — their bucket ids don't mean
            # the same thing; negative buckets (postpone) always stay.
            _layout_cache: dict[int, bool] = {}

            def _same_layout(sid: int) -> bool:
                return same_bucket_layout(table_path, schema, sid, _layout_cache)

            live = [
                e
                for e in live
                if e.bucket < 0 or e.bucket in cands or not _same_layout(e.schema_id)
            ]

    plan = ScanPlan()
    plan.patch_entries = patches
    if not pk:
        plan.raw_entries = list(live)
        if limit is not None and predicate is None:
            # limit pushdown: stop planning once enough rows are covered
            # (DataTableBatchScan.applyPushDownLimit:105-138)
            picked, covered = [], 0
            for e in sorted(plan.raw_entries, key=lambda e: e.file_name):
                picked.append(e)
                covered += e.row_count
                if covered >= limit:
                    break
            plan.raw_entries = picked
        return plan

    # postpone-mode files (bucket -2) hold rows for EVERY bucket, so no
    # bucket may take the single-run raw shortcut while any are live
    has_postpone = any(e.bucket == POSTPONE_BUCKET for e in live)
    by_bucket: dict[tuple, list[ManifestEntry]] = {}
    for e in live:
        by_bucket.setdefault((tuple(sorted(e.partition.items())), e.bucket), []).append(e)
    for _k, group in by_bucket.items():
        if predicate is not None and not per_file_safe and not has_postpone:
            # whole-bucket value-stats pruning: drop the group only when
            # NO file in it can match (filterWholeBucketByStats)
            if not any(_stats_test(e, predicate, table_path) for e in group):
                continue
        if len(group) == 1 and group[0].level > 0 and not has_postpone:
            plan.raw_entries.append(group[0])  # single compacted run → no merge
        else:
            plan.merge_entries.extend(group)
    return plan


def same_bucket_layout(
    table_path: str | None, schema, sid: int, cache: dict[int, bool]
) -> bool:
    """Whether schema generation ``sid`` wrote files under the CURRENT
    (bucket, bucket-key) layout. Entries of a different generation
    (pre-rescale, changed bucket-key) carry bucket ids that do not mean
    the same thing: bucket pruning, point-lookup routing and bucketed
    joins must treat them as layout-less. Unknown generations answer
    False (never prune)."""
    got = cache.get(sid)
    if got is not None:
        return got
    if sid == schema.id or table_path is None:
        got = sid == schema.id
    else:
        from flink_table_store_spark.schema import SchemaManager

        layout = (
            schema.options.get("bucket"),
            schema.options.get("bucket-key", ""),
        )
        try:
            s = SchemaManager(table_path).load(sid)
            got = (
                s.options.get("bucket"),
                s.options.get("bucket-key", ""),
            ) == layout
        except OSError:
            got = False  # unknown generation: never prune
    cache[sid] = got
    return got


def dv_dataframe(spark: SparkSession, table_path: str, dv_files: list[str]) -> DataFrame | None:
    """Union of deletion-vector sidecars: (file_name, pos) of deleted rows.
    File names are basenames — globally unique (uuid), so position joins
    need no path normalization."""
    if not dv_files:
        return None
    paths = [os.path.join(table_path, "index", n) for n in dv_files]
    return spark.read.parquet(*paths).select("file_name", "pos").dropDuplicates()


def _apply_dv(df: DataFrame, dv: DataFrame | None) -> DataFrame:
    """Drop rows whose (file, row position) is deletion-vectored — the
    ApplyDeletionVectorReader equivalent, expressed as a broadcast
    anti-join on ``_metadata`` columns (no data rewrite).

    Scale: the DV side is one short row per deleted row position, tiny
    next to data; broadcast keeps the scan shuffle-free."""
    if dv is None:
        return df
    fb = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    cond = (F.col("__dv_fb") == dv["file_name"]) & (F.col("__dv_pos") == dv["pos"])
    return (
        df.withColumn("__dv_fb", fb)
        .withColumn("__dv_pos", F.col("_metadata.row_index"))
        .join(F.broadcast(dv), on=cond, how="left_anti")
        .drop("__dv_fb", "__dv_pos")
    )


def prune_topn(
    entries: list[ManifestEntry], col: str, n: int, desc: bool = True
) -> list[ManifestEntry]:
    """File pruning for ORDER BY col LIMIT n (TopN pushdown,
    TopNDataSplitEvaluator.java:42-54).

    Sound bound: every row in a file is ≥ the file's min (≤ its max),
    so accumulating files by min (desc) until non-null rows cover n
    yields a value bound; files whose max is below it cannot contribute
    to the top n. Nulls are conservative: they never count toward
    coverage, and files are kept on the bound test alone."""
    stats = {id(e): e.stats.get(col) for e in entries}
    if any(
        s is None or s.get("min") is None or s.get("max") is None for s in stats.values()
    ):
        return entries  # a file without stats could hold anything
    if desc:
        order = sorted(entries, key=lambda e: stats[id(e)]["min"], reverse=True)
        covered, bound = 0, None
        for e in order:
            covered += e.row_count - stats[id(e)].get("nulls", 0)
            if covered >= n:
                bound = stats[id(e)]["min"]
                break
        if bound is None:
            return entries
        return [e for e in entries if not stats[id(e)]["max"] < bound]
    order = sorted(entries, key=lambda e: stats[id(e)]["max"])
    covered, bound = 0, None
    for e in order:
        covered += e.row_count - stats[id(e)].get("nulls", 0)
        if covered >= n:
            bound = stats[id(e)]["max"]
            break
    if bound is None:
        return entries
    return [e for e in entries if not stats[id(e)]["min"] > bound]


def _read_files(
    spark: SparkSession,
    table_path: str,
    entries: list[ManifestEntry],
    current: TableSchema,
    schemas: dict[int, TableSchema],
    with_system: bool,
    dv: DataFrame | None = None,
    keep_meta: bool = False,
    with_row_id: bool = False,
) -> DataFrame | None:
    """Read entries grouped by writer schema generation, adapt each
    generation to the current schema, union."""
    if not entries:
        return None
    base = os.path.join(table_path, DATA_DIR)
    # files carry their format in the name suffix (like the reference's
    # DataFilePathFactory), so mixed-format tables — e.g. after a
    # `file.format` option evolution — read each generation natively
    by_schema: dict[tuple[int, str], list[str]] = {}
    for e in entries:
        fmt = e.file_name.rsplit(".", 1)[-1]
        by_schema.setdefault((e.schema_id, fmt), []).append(
            os.path.join(table_path, e.file_name)
        )
    parts: list[DataFrame] = []
    pk = bool(current.primary_keys)
    for (sid, fmt), paths in sorted(by_schema.items()):
        reader = spark.read.option("basePath", base).format(fmt)
        if fmt in ("parquet", "orc"):
            # the stored layout of EVERY generation is fully known from
            # its writer schema (writer contract: data fields minus
            # partition keys, plus _VALUE_KIND/_SEQUENCE_NUMBER on PK
            # tables; partition and _bucket as directory columns), so an
            # explicit schema skips Spark's footer-sampling inference at
            # plan time — and, critically for with_row_id, inference
            # SAMPLES one footer: mixing rewrite files (stored _ROW_ID)
            # with fresh files (no column) in one generation would
            # flakily drop the column whenever the sampled file lacks it
            reader = reader.schema(
                _stored_schema(schemas.get(sid, current), pk, with_row_id)
            )
        df = reader.load(paths)
        df = _apply_dv(df, dv)
        df = _adapt(
            df, schemas.get(sid, current), current, with_system, keep_meta, with_row_id
        )
        parts.append(df)
    return reduce(lambda a, b: a.unionByName(b), parts)


def _stored_schema(schema: TableSchema, pk: bool, with_row_id: bool = False) -> T.StructType:
    """Spark schema of current-generation data files as stored on disk:
    data fields (partition keys resolve from directory names with their
    declared types), plus the PK writer's system columns. With
    ``with_row_id``, the compaction-materialized ``_ROW_ID`` column is
    included (null for files written without one)."""
    fields = list(scan_type(schema.spark_schema(), nullable=False).fields)
    if pk:
        fields.append(T.StructField(VALUE_KIND, T.StringType()))
        fields.append(T.StructField(SEQUENCE_NUMBER, T.LongType()))
        fields.append(T.StructField(BUCKET_COL, T.IntegerType()))
    if with_row_id:
        fields.append(T.StructField(ROW_ID_COL, T.LongType()))
    return T.StructType(fields)


def _evolve_cast(col, old_ddl: str, new_ddl: str, old_subs=None, new_subs=None):
    """Adapt a stored column to the current type. Plain types take a
    Catalyst cast; STRUCT evolution (nested add/drop/update_type/rename
    — SchemaChange.java:84-163 nested column ops) rebuilds the struct
    BY SUBFIELD ID when both generations carry nested ids (DataField
    subs — a renamed leaf still reads its old-name data), falling back
    to name matching for pre-nested-id generations: matching leaves
    adapt recursively, added leaves null-fill, dropped leaves vanish,
    and a NULL struct stays null (a bare struct() of nulls would not)."""
    from flink_table_store_spark.schema import parse_type

    if old_ddl == new_ddl and old_subs == new_subs:
        return col
    return _evolve_cast_dt(col, parse_type(old_ddl), parse_type(new_ddl), old_subs, new_subs)


def _evolve_cast_dt(col, old_dt, new_dt, old_subs=None, new_subs=None):
    if old_dt == new_dt and not (old_subs and new_subs and old_subs != new_subs):
        return col
    if isinstance(old_dt, T.StructType) and isinstance(new_dt, T.StructType):
        by_id = (
            {v["id"]: (k, v.get("subs")) for k, v in old_subs.items()}
            if old_subs
            else {}
        )
        parts = []
        for nf in new_dt.fields:
            meta = (new_subs or {}).get(nf.name)
            old_name = child_old_subs = None
            if meta is not None and old_subs is not None:
                hit = by_id.get(meta["id"])
                if hit is not None:
                    old_name, child_old_subs = hit
            elif nf.name in old_dt.names:  # legacy name matching
                old_name = nf.name
            if old_name is not None and old_name in old_dt.names:
                parts.append(
                    _evolve_cast_dt(
                        col[old_name],
                        old_dt[old_name].dataType,
                        nf.dataType,
                        child_old_subs,
                        (meta or {}).get("subs"),
                    ).alias(nf.name)
                )
            else:
                parts.append(F.lit(None).cast(nf.dataType).alias(nf.name))
        return F.when(col.isNotNull(), F.struct(*parts))
    return col.cast(new_dt)


def _adapt(
    df: DataFrame,
    writer_schema: TableSchema,
    current: TableSchema,
    with_system: bool,
    keep_meta: bool = False,
    with_row_id: bool = False,
) -> DataFrame:
    if writer_schema.id == current.id:
        # fast path — files of the CURRENT generation (the common case:
        # every scan, every file, unless schema evolution happened) need
        # no renames and no casts; avoid building an n_cols × py4j
        # cast/alias expression tree per scan. The system columns come
        # in _stored_schema's order, so a plain scan returns untouched;
        # otherwise one constant-cost select fixes column order / drops
        # extra stored columns.
        names = current.field_names()
        have = df.columns
        if with_system:
            names += [s for s in (VALUE_KIND, SEQUENCE_NUMBER) if s in have]
            if BUCKET_COL in have:
                names.append(BUCKET_COL)
        if with_row_id and ROW_ID_COL in have:
            names.append(ROW_ID_COL)
        elif with_row_id:
            df = df.withColumn(ROW_ID_COL, F.expr("CAST(NULL AS BIGINT)"))
            have = df.columns
            names.append(ROW_ID_COL)
        if keep_meta:
            names.append("_metadata")
        if have == names:
            return df
        return select_exprs(df, [quote_ident(c) for c in names])
    by_id = {f.id: f for f in writer_schema.fields}
    cols = []
    for f in current.fields:
        old = by_id.get(f.id)
        if old is not None and old.name in df.columns:
            cols.append(
                _evolve_cast(F.col(old.name), old.type, f.type, old.subs, f.subs).alias(f.name)
            )
        else:
            cols.append(F.lit(None).cast(f.type).alias(f.name))
    if with_system:
        for s in (VALUE_KIND, SEQUENCE_NUMBER):
            if s in df.columns:
                cols.append(F.col(s))
        if BUCKET_COL in df.columns:
            cols.append(F.col(BUCKET_COL))
    if with_row_id:
        cols.append(
            F.col(ROW_ID_COL)
            if ROW_ID_COL in df.columns
            else F.lit(None).cast("long").alias(ROW_ID_COL)
        )
    if keep_meta:
        cols.append(F.col("_metadata"))
    return df.select(*cols)


def _read_rowgroups(
    spark: SparkSession,
    table_path: str,
    items: list[tuple[ManifestEntry, list[int]]],
    schema: TableSchema,
    columns: list[str] | None = None,
) -> DataFrame:
    """Selective parquet scan: each task reads ONLY the chosen row
    groups of its file via pyarrow — the IO-skipping half of the
    reference's in-file range-bitmap pruning. One spec row per file,
    partition values re-attached from the manifest entry. ``columns``
    restricts the pyarrow read to the projection ∪ predicate set so a
    2-column query over a wide table pays 2 columns of IO, matching
    the column pruning Catalyst gives the normal scan path."""
    import json as _json

    sel_fields = [f for f in schema.fields if columns is None or f.name in columns]
    pt_types = {k: schema.field(k).type for k in schema.partition_keys}
    stored = [f.name for f in sel_fields if f.name not in schema.partition_keys]
    field_order = [f.name for f in sel_fields]
    ddl = ", ".join(f"`{f.name}` {f.type}" for f in sel_fields)
    specs = [
        (
            _json.dumps(
                {
                    "path": os.path.join(table_path, e.file_name),
                    "rgs": sel,
                    "partition": e.partition,
                }
            ),
        )
        for e, sel in items
    ]
    base = spark.createDataFrame(specs, "spec string").repartition(min(len(specs), 64))

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def _run(batches):
        import json
        import sys as _sys

        import pyarrow.parquet as pq

        if pkg_root not in _sys.path:
            _sys.path.insert(0, pkg_root)
        from flink_table_store_spark.schema import typed_partition

        for pdf in batches:
            for s in pdf["spec"]:
                d = json.loads(s)
                tbl = pq.ParquetFile(d["path"]).read_row_groups(
                    d["rgs"], columns=stored
                )
                out = tbl.to_pandas()
                for k, v in d["partition"].items():
                    if k in field_order:
                        out[k] = typed_partition(v, pt_types[k])
                yield out[field_order]

    return base.mapInPandas(_run, ddl)


def build_dataframe(
    spark: SparkSession,
    table_path: str,
    plan: ScanPlan,
    schema: TableSchema,
    schemas: dict[int, TableSchema],
    predicate: Predicate | None = None,
    projection: list[str] | None = None,
    limit: int | None = None,
    keep_system_cols: bool = False,
    dv_files: list[str] | None = None,
) -> DataFrame:
    """Assemble the result DataFrame: raw scan ∪ merge-on-read view,
    then residual filter / projection / limit (Catalyst prunes columns
    and pushes the residual filter into the parquet scan)."""
    pk = bool(schema.primary_keys)
    out_fields = schema.field_names()
    dv = dv_dataframe(spark, table_path, dv_files or [])
    # defensive: data-evolution patch files are column overlays, never
    # row sources — a plan built outside plan_scan must not read them
    # as rows (the stitched path reads plan.patch_entries explicitly)
    plan = ScanPlan(
        raw_entries=[e for e in plan.raw_entries if not e.patch_cols],
        merge_entries=[e for e in plan.merge_entries if not e.patch_cols],
        patch_entries=plan.patch_entries,
    )

    # row-granular pruning (reference range-bitmap/bsi inside-file skip):
    # surviving files whose sidecar row-group value sets prune SOME row
    # groups move to a pyarrow selective scan that reads only the
    # selected groups; [] selections drop the file entirely. Applies to
    # append tables without DVs, current generation, parquet only — the
    # residual predicate below re-filters rows either way.
    rg_items: list[tuple[ManifestEntry, list[int]]] = []
    raw_entries = plan.raw_entries
    if predicate is not None and not pk and not dv_files:
        from flink_table_store_spark import fileindex

        kept: list[ManifestEntry] = []
        for e in raw_entries:
            sel = (
                fileindex.rowgroup_selection(table_path, e, predicate)
                if e.schema_id == schema.id and e.file_name.endswith(".parquet")
                else None
            )
            if sel is None:
                kept.append(e)
            elif sel:
                rg_items.append((e, sel))
        raw_entries = kept

    raw = _read_files(spark, table_path, raw_entries, schema, schemas, with_system=pk, dv=dv)
    merge = _read_files(spark, table_path, plan.merge_entries, schema, schemas, with_system=True, dv=dv)

    parts: list[DataFrame] = []
    if rg_items:
        # prune the pyarrow read to projection ∪ predicate columns (the
        # union's residual filter still needs the predicate columns);
        # unionByName(allowMissingColumns) null-fills the rest, which the
        # final .select(projection) drops
        need: list[str] | None = None
        if projection:
            pfields = predicate.fields()
            if pfields is not None:
                wanted = set(projection) | set(pfields)
                need = [c for c in schema.field_names() if c in wanted]
        parts.append(_read_rowgroups(spark, table_path, rg_items, schema, need))
    if raw is not None:
        if pk and not keep_system_cols:
            raw = select_exprs(raw, [quote_ident(c) for c in out_fields])
        parts.append(raw)
    if merge is not None:
        if pk:
            merged = merge_view(merge, schema)
            if keep_system_cols:
                # caller wants hidden cols (e.g. audit log): redo without merge
                merged = merge
            parts.append(merged)
        else:
            parts.append(merge)

    if not parts:
        spark_schema = schema.spark_schema()
        df = spark.createDataFrame([], schema=spark_schema)
    else:
        df = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
    return finish_scan(df, schema, predicate, projection, limit)


def finish_scan(
    df: DataFrame,
    schema: TableSchema,
    predicate: Predicate | None,
    projection: list[str] | None,
    limit: int | None,
) -> DataFrame:
    """The residual WHERE, projection and limit on top of a scan's rows:
    the Spark read (build_dataframe) and the driver read
    (ReadBuilder.to_df) share them, so both answer with Spark's SQL
    semantics."""
    if predicate is not None:
        df = df.where(predicate.to_column(schema.field_names()))
    if projection:
        df = df.select(*projection)
    if limit is not None:
        df = df.limit(limit)
    return df
