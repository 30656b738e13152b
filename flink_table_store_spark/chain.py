"""Chain table reads: incremental-ODS full/incremental/hybrid views.

Reference semantics (paimon-core table/ChainGroupReadTable.java:1-355,
utils/ChainTableUtils.java, docs/content/primary-key-table/chain-table.md
:28-148): a PK table with ``chain-table.enabled=true`` keeps FULL dumps
on a *snapshot* branch and per-period CHANGES on a *delta* branch
(``scan.fallback-snapshot-branch`` / ``scan.fallback-delta-branch``,
written via ``t.use_branch('snapshot'/'delta')``). A read of the main
table then answers "the full dataset as-of partition P" for EVERY
partition, without anyone materializing dailies:

- a partition present on the snapshot branch is *complete* — read it
  directly (ChainGroupReadTable.plan() first loop);
- a delta-only partition P chains: find the latest snapshot partition
  S < P (ChainTableUtils.findFirstLatestPartitions), merge-on-read S's
  rows with every delta partition in (S, P] (triangular/linear
  predicates when no S exists → all deltas <= P), and surface the
  merged rows AS partition P (ChainSplit carries the queried
  partition; readers materialize partition columns from it).

Spark-first shape: chain *planning* is a driver metadata pass over the
two branches' manifests (one partition-group list, same scale class as
the reference's plan loop — O(partitions), not O(rows)); each group is
a branch-pruned pre-merge read whose partition columns are overwritten
to P, and the cross-branch version order is expressed as a sequence
struct ``(original partition ..., file sequence)`` so the ordinary
merge engines (merge_engines.merge_view — map-side-combining
``max_by``) produce the chained view with ONE shuffle per group and no
global sort. ``sequence.field``, when set (the reference's documented
chain-table setup), takes precedence exactly as on a plain PK table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_table_store_spark import read as read_mod
from flink_table_store_spark.predicate import Predicate, sub_predicate
from flink_table_store_spark.schema import SEQUENCE_NUMBER, TableSchema, typed_partition

SNAPSHOT_BRANCH_OPT = "scan.fallback-snapshot-branch"
DELTA_BRANCH_OPT = "scan.fallback-delta-branch"


def is_chain_table(schema: TableSchema) -> bool:
    """CoreOptions.isChainTable (``chain-table.enabled``)."""
    return schema.options.get("chain-table.enabled", "false").lower() == "true"


def validate_chain_schema(schema: TableSchema) -> None:
    if not schema.primary_keys:
        raise ValueError("chain-table.enabled requires a primary-key table")
    if not schema.partition_keys:
        raise ValueError("chain-table.enabled requires a partitioned table")


def _branch_names(schema: TableSchema) -> tuple[str, str]:
    return (
        schema.options.get(SNAPSHOT_BRANCH_OPT, "snapshot"),
        schema.options.get(DELTA_BRANCH_OPT, "delta"),
    )


def _part_key(schema: TableSchema, part: dict[str, str]) -> tuple:
    """Typed, order-preserving partition sort key (the reference
    compares partitions with a codegen RecordComparator over the
    logical partition row type); the default partition (NULL) sorts
    first."""
    vals = (typed_partition(part.get(k), schema.field(k).type) for k in schema.partition_keys)
    return tuple((v is not None, v) for v in vals)


def _branch_entries(spark: SparkSession, bt) -> tuple[list, object]:
    snap = bt.snapshots.latest()
    if snap is None:
        return [], None
    rb = bt.read_builder()
    return rb._plan_entries(spark, snap), snap


def _premerge(
    spark: SparkSession,
    bt,
    entries: list,
    snap,
    want: set[tuple],
    predicate: Predicate | None,
) -> DataFrame | None:
    """Pre-merge rows (with _VALUE_KIND/_SEQUENCE_NUMBER) of the given
    partitions of one branch. DVs apply; merge is deferred to the
    chain group so versions from BOTH branches rank together."""
    schema = bt.schema
    sel = [e for e in entries if _part_key(schema, e.partition) in want]
    if not sel:
        return None
    plan = read_mod.plan_scan(sel, schema, predicate, None, bt.path)
    if not plan.raw_entries and not plan.merge_entries:
        return None
    return read_mod.build_dataframe(
        spark,
        bt.path,
        plan,
        schema,
        bt.all_schemas(),
        predicate=predicate,
        keep_system_cols=True,
        dv_files=snap.dv_files if snap else None,
    )


def _chain_plan(
    spark: SparkSession,
    table,
    predicate: Predicate | None = None,
    max_views: int | None = None,
):
    """Shared chain planner → ``(snapshot_table, has_complete, views,
    merged_df)`` where ``views`` is the list of delta-only output
    partitions (oldest first) and ``merged_df`` is ONE DataFrame
    holding every view's chained rows.

    Scale shape: the naive plan is one subplan per view (the reference
    emits per-partition ChainSplits) — plan size and file reads grow
    linearly with the partition count, and a year of dailies is a
    365-way union. Instead the planner is SET-BASED: each branch is
    read ONCE (pruned to the partitions any view needs), every row is
    fanned out to the views it contributes to through a broadcast
    (source partition → view partition) mapping join — the mapping is
    driver metadata, O(sources × views) tiny rows — and a single merge
    aggregation groups by (view partition, key). Constant plan size,
    each file read once, ONE shuffle for the whole chain view; the
    row fan-out equals what per-view plans would read anyway (chain
    semantics: a dump contributes to every view until the next dump).
    """
    from flink_table_store_spark.operators.merge_engines import merge_view
    from flink_table_store_spark.table import Table

    schema = table.schema
    validate_chain_schema(schema)
    sb, db = _branch_names(schema)
    branches = table.branches()
    for b in (sb, db):
        if b not in branches:
            raise RuntimeError(
                f"chain table {table.name}: branch {b!r} does not exist — "
                "create the snapshot and delta branches first "
                "(create_branch, see chain-table.md)"
            )
    snap_t = Table(table.path, table.name, branch=sb)
    delta_t = Table(table.path, table.name, branch=db)
    for bt in (snap_t, delta_t):
        if bt.schema.field_names() != schema.field_names() or (
            bt.schema.partition_keys != schema.partition_keys
        ):
            raise ValueError(
                f"chain table: branch {bt.branch_name!r} schema differs "
                "from the main table (branch schemas must be consistent)"
            )

    snap_entries, snap_snap = _branch_entries(spark, snap_t)
    delta_entries, delta_snap = _branch_entries(spark, delta_t)
    snap_parts: dict[tuple, dict[str, str]] = {}
    for e in snap_entries:
        snap_parts.setdefault(_part_key(schema, e.partition), e.partition)
    delta_parts: dict[tuple, dict[str, str]] = {}
    for e in delta_entries:
        delta_parts.setdefault(_part_key(schema, e.partition), e.partition)

    remaining = sorted(k for k in delta_parts if k not in snap_parts)
    snap_keys = sorted(snap_parts)
    pk_cols = set(schema.trimmed_primary_keys()) - set(schema.partition_keys)
    # safe to push into a chain group's pre-merge branch scans:
    # partition columns are about to be rewritten and value columns may
    # change across versions, so both stay residual-only
    pk_pred = sub_predicate(predicate, lambda leaf: leaf.field in pk_cols)
    part_cols = list(schema.partition_keys)

    # views the read must answer (predicate-pruned, oldest first):
    # (key, output partition, latest snapshot partition strictly before)
    views: list[tuple[tuple, dict, tuple | None]] = []
    for pkey in remaining:
        p_out = delta_parts[pkey]
        if predicate is not None and not predicate.test_partition(p_out):
            continue
        s_key = None
        for k in snap_keys:
            if k < pkey:
                s_key = k
            else:
                break
        views.append((pkey, p_out, s_key))
    if max_views is not None:
        views = views[:max_views]
    view_parts = [p for _, p, _ in views]
    if not views:
        return snap_t, (snap_parts or None), view_parts, None

    # driver-side source→view mapping (tiny: one row per contributing
    # (source partition, view) pair — findFirstLatestPartitions +
    # getDeltaPartitions collapsed into data)
    tgt_cols = [f"__chain_tgt_{i}" for i in range(len(part_cols))]
    map_rows: list[tuple] = []
    need_snap: set[tuple] = set()
    need_delta: set[tuple] = set()
    for pkey, p_out, s_key in views:
        tgt = tuple(p_out.get(k) for k in part_cols)
        if s_key is not None:
            need_snap.add(s_key)
            map_rows.append(
                ("s", *(snap_parts[s_key].get(k) for k in part_cols), *tgt)
            )
        lo = s_key if s_key is not None else ()
        for q in delta_parts:
            if lo < q <= pkey:
                need_delta.add(q)
                map_rows.append(
                    ("d", *(delta_parts[q].get(k) for k in part_cols), *tgt)
                )

    srcs: list[DataFrame] = []
    sdf = _premerge(spark, snap_t, snap_entries, snap_snap, need_snap, pk_pred)
    if sdf is not None:
        srcs.append(sdf.withColumn("__chain_src", F.lit("s")))
    ddf = _premerge(
        spark, delta_t, delta_entries, delta_snap, need_delta, pk_pred
    )
    if ddf is not None:
        srcs.append(ddf.withColumn("__chain_src", F.lit("d")))
    if not srcs:
        return snap_t, (snap_parts or None), view_parts, None
    src = srcs[0]
    for s in srcs[1:]:
        src = src.unionByName(s, allowMissingColumns=True)

    map_ddl = ", ".join(
        ["__chain_src string"]
        + [f"`{k}` string" for k in part_cols]
        + [f"{c} string" for c in tgt_cols]
    )
    mapping = spark.createDataFrame(map_rows, map_ddl).select(
        "__chain_src",
        *[F.col(k).cast(schema.field(k).type).alias(k) for k in part_cols],
        *tgt_cols,
    )
    fanned = src.join(F.broadcast(mapping), on=["__chain_src"] + part_cols)
    # chain version order: original partition first (a dump sorts below
    # every delta after it), file sequence breaks ties — captured
    # BEFORE the partition columns are rewritten to the view partition
    fanned = fanned.withColumn(
        SEQUENCE_NUMBER,
        F.struct(*[F.col(c) for c in part_cols], F.col(SEQUENCE_NUMBER)),
    )
    for k, tc in zip(part_cols, tgt_cols):
        fanned = fanned.withColumn(k, F.col(tc).cast(schema.field(k).type))
    fanned = fanned.drop("__chain_src", *tgt_cols)
    # ONE merge aggregation: _key_cols = partition keys + trimmed PK,
    # so grouping by (view partition, key) falls out of merge_view
    return snap_t, (snap_parts or None), view_parts, merge_view(fanned, schema)


def chain_read(
    spark: SparkSession,
    table,
    predicate: Predicate | None = None,
    projection: list[str] | None = None,
) -> DataFrame:
    """The chain view of the whole table (ChainTableBatchScan.plan):
    complete snapshot-branch partitions read directly; every delta-only
    partition P becomes merge(latest snapshot S < P, deltas in (S, P])
    surfaced as partition P. Groups a partition predicate rules out are
    never planned (driver-side ``test_partition`` on the OUTPUT
    partition — the reference prunes the same way, on the queried
    partition, because that is what the merged rows will carry)."""
    schema = table.schema
    snap_t, has_complete, _views, merged = _chain_plan(spark, table, predicate)
    parts: list[DataFrame] = []
    # complete partitions: the snapshot branch read IS the answer —
    # full predicate/projection pushdown, normal per-branch MoR
    if has_complete:
        rb = snap_t.read_builder()
        if predicate is not None:
            rb.with_filter(predicate)
        if projection:
            rb.with_projection(projection)
        parts.append(rb.to_df(spark))
    if merged is not None:
        if predicate is not None:
            merged = merged.where(predicate.to_column(schema.field_names()))
        if projection:
            merged = merged.select(*projection)
        parts.append(merged)

    if not parts:
        spark_schema = schema.spark_schema()
        empty = spark.createDataFrame([], schema=spark_schema)
        return empty.select(*projection) if projection else empty
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def chain_compact(
    spark: SparkSession,
    table,
    max_partitions: int | None = None,
    expire_deltas: bool = False,
) -> list[dict]:
    """Materialize chained views as full dumps on the snapshot branch —
    the docs' periodic (e.g. weekly) compaction that "builds a global
    chain table within the lifecycle" (chain-table.md:41; the reference
    defers chain compact — "it will be supported later" — so this is
    the engine's composition of chain planning + INSERT OVERWRITE).

    The chained views of the delta-only partitions (oldest
    ``max_partitions`` of them, all by default) are written to the
    snapshot branch as ONE dynamic-partition OVERWRITE commit — atomic:
    a failed run changes nothing, a successful one makes every covered
    partition *complete* at once. Reads then serve them directly and
    the delta partitions at or before the newest compacted one can be
    dropped by retention. Returns the compacted partition dicts,
    oldest first."""
    from flink_table_store_spark import predicate as P

    schema = table.schema
    snap_t, _, views, merged = _chain_plan(
        spark, table, None, max_views=max_partitions
    )
    if merged is None or not views:
        return []
    filt = P.or_(
        *[
            P.and_(*[P.equal(k, p.get(k)) for k in schema.partition_keys])
            for p in views
        ]
    )
    snap_t.write(merged, overwrite=True, overwrite_partition_filter=filt)
    if expire_deltas:
        # delta partitions at or before the NEWEST compacted view are
        # unreachable forever: views <= it are complete, and every
        # later view chains from the new dump, needing only deltas
        # strictly after it. Drop them by EXACT partition equality
        # (listed partitions, no ordered string comparison) — a
        # metadata-only overwrite-delete on the delta branch.
        from flink_table_store_spark.table import Table

        _sb, db = _branch_names(schema)
        delta_t = Table(table.path, table.name, branch=db)
        max_key = _part_key(schema, views[-1])
        seen: dict[tuple, dict] = {}
        for e in _branch_entries(spark, delta_t)[0]:
            k = _part_key(schema, e.partition)
            if k <= max_key:
                seen.setdefault(k, dict(e.partition))
        drop = list(seen.values())
        if drop:
            dfilt = P.or_(
                *[
                    P.and_(
                        *[
                            P.equal(k, p.get(k))
                            for k in schema.partition_keys
                        ]
                    )
                    for p in drop
                ]
            )
            delta_t.committer.commit_overwrite([], delta_t.schema.id, dfilt)
    return [dict(p) for p in views]
