"""Lookup joins + point queries (SURVEY §2.3 J1/J2).

J1 — the reference's Flink lookup join (FileStoreLookupFunction.java:79,
lookup():263) does stream-side point lookups against the table with a
refreshing local cache (full / partial modes). Spark-native shape: a
stream-static join where the static side is re-resolved per micro-batch
and broadcast — Structured Streaming re-plans the static side each
trigger, so the join always sees the latest snapshot; ``LookupTable``
adds the reference's refresh-interval semantics for driver-side reuse.

J2 — point query (LocalTableQuery.java:64,175-186): bucket pruning
makes a PK lookup touch only 1/num_buckets of the files, then file
stats prune further — the LSM point-read path without an LSM.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_table_store_spark import predicate as P


class LookupTable:
    """Refreshing dimension-side handle for lookup joins
    (FullCacheLookupTable semantics: re-resolve the snapshot at most
    every ``refresh_interval_sec``)."""

    def __init__(self, spark: SparkSession, table, refresh_interval_sec: float = 10.0):
        self.spark = spark
        self.table = table
        self.refresh_interval_sec = refresh_interval_sec
        self._df: DataFrame | None = None
        self._snapshot_id: int | None = None
        self._loaded_at = 0.0

    def df(self) -> DataFrame:
        now = time.monotonic()
        if self._df is not None and now - self._loaded_at < self.refresh_interval_sec:
            return self._df
        latest = self.table.snapshots.latest_id()
        if self._df is None or latest != self._snapshot_id:
            self._df = self.table.to_df(self.spark)
            self._snapshot_id = latest
        self._loaded_at = now
        return self._df

    def join(self, stream_df: DataFrame, on, how: str = "left") -> DataFrame:
        """Enrich a (streaming or batch) DataFrame; dimension side is
        broadcast — the executor-local cache of the reference."""
        return stream_df.join(F.broadcast(self.df()), on=on, how=how)


def lookup_join(
    spark: SparkSession, stream_df: DataFrame, table, on, how: str = "left"
) -> DataFrame:
    """One-shot stream-static lookup join against the latest snapshot."""
    return stream_df.join(F.broadcast(table.to_df(spark)), on=on, how=how)


# executor-process bucket cache for lookup_join_partial: a Python worker
# that already merged a dim bucket for one batch reuses it for the next
# (the per-task-manager local store of PrimaryKeyPartialLookupTable).
# Keyed by (table-path@snapshot, bucket); FIFO-bounded.
_BUCKET_CACHE: dict = {}
_BUCKET_CACHE_CAP = 16


def lookup_join_partial(
    spark: SparkSession,
    probe_df: DataFrame,
    table,
    on: list[tuple[str, str]],
    how: str = "left",
    right_cols: list[str] | None = None,
) -> DataFrame:
    """Lookup join against a dimension TOO BIG to broadcast
    (PrimaryKeyPartialLookupTable.java semantics, Spark-native shape):
    the probe side takes ONE shuffle on the dim's bucket function
    (cheap — the probe batch is the small side), and each task reads
    only ITS buckets of the dim through the bucketed merged reader
    (DV-scoped, evolution-aware, merge-engine folds), memoized per
    executor process across batches. The dimension is never broadcast
    and never shuffled: per-batch IO is O(probed buckets), not O(dim).

    ``on`` pairs (probe column, dim PK column) covering the dim's
    trimmed primary key, bucket-key columns first — same contract a
    point lookup needs to route to one bucket."""
    from flink_table_store_spark.operators.bucketed_join import (
        PKG_ROOT,
        bucket_spec,
    )
    from flink_table_store_spark.write import bucket_keys

    schema = table.schema
    if not table.is_primary_key_table():
        raise RuntimeError("lookup_join_partial requires a primary-key dim table")
    n = schema.num_buckets()
    if n <= 0:
        raise RuntimeError("lookup_join_partial requires a fixed-bucket dim table")
    if how not in ("left", "inner"):
        raise ValueError("lookup_join_partial supports how='left'|'inner'")
    dim_keys = schema.trimmed_primary_keys()
    if sorted(p[1] for p in on) != sorted(dim_keys):
        raise ValueError(f"on must cover the dim primary key {dim_keys}, got {on}")
    bkeys = bucket_keys(schema)
    probe_of = {d: p for p, d in on}
    probe_bkey_cols = [probe_of[k] for k in bkeys]

    right_cols = right_cols or [c for c in schema.field_names() if c not in dim_keys]
    clash = set(right_cols) & set(probe_df.columns)
    if clash:
        raise ValueError(f"rename probe columns colliding with dim output: {sorted(clash)}")
    # the cache token names the snapshot the plan was made from: one
    # resolution, even when a concurrent commit lands mid-call
    plan = table.read_builder().plan(spark)
    snap = plan.snapshot
    spec = bucket_spec(
        table, plan, list(dict.fromkeys(right_cols + dim_keys)), dim_keys
    )
    probe_names = probe_df.columns
    probe_keys = [p for p, _d in on]
    dim_key_list = [d for _p, d in on]
    # token also pins the cached frame's SHAPE: column selection and the
    # __dk_i rename order are baked into the frame, so a same-snapshot
    # call with different right_cols / key order must miss the cache
    token = "|".join(
        [
            table.path,
            str(snap.id if snap else 0),
            ",".join(dim_key_list),
            ",".join(right_cols),
        ]
    )
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in probe_df.schema.fields]
        + [f"`{c}` {schema.field(c).type}" for c in right_cols]
    )
    pkg_root, cap = PKG_ROOT, _BUCKET_CACHE_CAP
    inner = how == "inner"
    # integer-typed right columns must go back to Arrow as NULLABLE ints
    # after a left join introduces misses (float64-NaN would corrupt)
    int_rights = [
        c
        for c in right_cols
        if schema.field(c).type.lower().split("(")[0]
        in ("tinyint", "smallint", "int", "integer", "bigint")
    ]

    def _run(batches):
        import sys as _sys

        if pkg_root not in _sys.path:
            _sys.path.insert(0, pkg_root)
        import pandas as _pd

        from flink_table_store_spark.operators import lookup as _L
        from flink_table_store_spark.operators.bucketed_join import read_bucket_side

        def bucket_frame(b):
            ck = (token, b)
            hit = _L._BUCKET_CACHE.get(ck)
            if hit is None:
                raw = read_bucket_side(spec, int(b))
                cols = list(dict.fromkeys(right_cols + dim_key_list))
                if raw is None:
                    raw = _pd.DataFrame(columns=cols)
                # collision-proof merge keys: dim PK columns renamed so a
                # probe column with the same name never suffixes to _x/_y
                hit = raw[cols].rename(
                    columns={d: f"__dk_{i}" for i, d in enumerate(dim_key_list)}
                )
                # integer payloads go NULLABLE Int64 BEFORE the merge: a
                # left-join miss would otherwise upcast int64→float64 and
                # round values above 2^53 (Int64 survives the merge with
                # pd.NA instead)
                for c in int_rights:
                    if hit[c].dtype.kind in "iu":
                        hit[c] = hit[c].astype("Int64")
                while len(_L._BUCKET_CACHE) >= cap:
                    _L._BUCKET_CACHE.pop(next(iter(_L._BUCKET_CACHE)))
                _L._BUCKET_CACHE[ck] = hit
            return hit

        dk_names = [f"__dk_{i}" for i in range(len(dim_key_list))]
        for pdf in batches:
            if pdf.empty:
                continue
            outs = []
            for b, grp in pdf.groupby("__b", sort=False):
                dim = bucket_frame(b)
                merged = grp.drop(columns=["__b"]).merge(
                    dim,
                    left_on=probe_keys,
                    right_on=dk_names,
                    how="inner" if inner else "left",
                )
                outs.append(merged[probe_names + right_cols])
            if outs:
                yield _pd.concat(outs, ignore_index=True)

    # hash with the DIM's bucket-key types: Spark xxhash64 is
    # type-sensitive (int32 and int64 of the same value hash apart), so
    # an uncast int probe against a bigint dim key would route every row
    # to the wrong bucket and silently miss — same guard join_bucketed
    # enforces, expressed as a lossless upcast here
    dim_bkey_types = {k: schema.field(k).type for k in bkeys}
    bucket_col = F.pmod(
        F.xxhash64(
            *[
                F.col(p).cast(dim_bkey_types[k])
                for p, k in zip(probe_bkey_cols, bkeys)
            ]
        ),
        F.lit(n),
    ).cast("int")
    probed = probe_df.withColumn("__b", bucket_col).repartition(
        min(n, 32), F.col("__b")
    )
    return probed.mapInPandas(_run, out_schema)


class PartialLookupTable:
    """Partial-cache point-lookup table for HUGE dimension sides — the
    PrimaryKeyPartialLookupTable analogue (paimon-flink/.../lookup/
    PrimaryKeyPartialLookupTable.java + LocalTableQuery.java:64): a
    probe fetches and memoizes ONLY the probed key's bucket, keyed by
    (snapshot id, bucket). Repeated lookups against cached buckets read
    ZERO new files; a snapshot refresh invalidates only what changed.
    Per-process memoization plays the reference's per-task-manager
    local lookup store; the bucket read reuses the bucketed join's
    merged reader (DV-scoped, schema-evolution-aware, merge-engine
    folds). Requires a fixed-bucket PK table — dynamic/postpone bucket
    modes have no static key→bucket function to probe."""

    def __init__(self, spark: SparkSession, table, refresh_interval_sec: float = 10.0):
        if not table.is_primary_key_table():
            raise RuntimeError("PartialLookupTable requires a primary-key table")
        if table.schema.num_buckets() <= 0:
            raise RuntimeError(
                "PartialLookupTable requires a fixed-bucket table "
                "(dynamic/postpone bucket keys have no static bucket function)"
            )
        self.spark = spark
        self.table = table
        self.refresh_interval_sec = refresh_interval_sec
        self._snap_id: int | None = None
        self._loaded_at = 0.0
        self._spec: dict | None = None
        # (snapshot id, bucket) -> {pk tuple: row dict}
        self._buckets: dict[tuple[int, int], dict] = {}
        self.stats = {"files_opened": 0, "bucket_loads": 0, "hits": 0, "misses": 0}

    def _refresh(self) -> None:
        now = time.monotonic()
        if self._spec is not None and now - self._loaded_at < self.refresh_interval_sec:
            return
        latest = self.table.snapshots.latest_id()
        if self._spec is None or latest != self._snap_id:
            from flink_table_store_spark.operators.bucketed_join import bucket_spec

            t = self.table.refresh() if latest != self._snap_id else self.table
            self.table = t
            # the cache key is the snapshot the plan was made from — a
            # commit landing mid-refresh must not label old files with a
            # newer id (sticky-stale cache)
            plan = t.read_builder().plan(self.spark)
            keys = t.schema.trimmed_primary_keys()
            self._spec = bucket_spec(t, plan, keys=keys)
            self._snap_id = plan.snapshot.id if plan.snapshot else None
            # drop cached buckets of older snapshots
            self._buckets = {
                k: v for k, v in self._buckets.items() if k[0] == self._snap_id
            }
        self._loaded_at = now

    def _bucket(self, key_values: dict) -> int:
        """Writer-parity bucket id, driver-side (shared hash — see
        bucket_for_key). Loud refusal instead of a Spark fallback when
        this table runs SparkSession-free (the lookup service)."""
        return bucket_for_key(self.table, key_values, self.spark)

    def _load_bucket(self, bucket: int) -> dict:
        from flink_table_store_spark.operators.bucketed_join import read_bucket_side

        ck = (self._snap_id, bucket)
        cached = self._buckets.get(ck)
        if cached is not None:
            self.stats["hits"] += 1
            return cached
        self.stats["misses"] += 1
        self.stats["bucket_loads"] += 1
        self.stats["files_opened"] += len(self._spec["buckets"].get(bucket, []))
        pdf = read_bucket_side(self._spec, bucket)
        keys = self.table.schema.trimmed_primary_keys()
        rows: dict = {}
        if pdf is not None:
            for rec in pdf.to_dict("records"):
                rows[tuple(rec[k] for k in keys)] = rec
        self._buckets[ck] = rows
        return rows

    def lookup(self, key_values: dict) -> dict | None:
        """Point lookup: merged row dict for the PK, or None."""
        self._refresh()
        keys = self.table.schema.trimmed_primary_keys()
        missing = [k for k in keys if k not in key_values]
        if missing:
            raise ValueError(f"missing key columns: {missing}")
        rows = self._load_bucket(self._bucket(key_values))
        return rows.get(tuple(key_values[k] for k in keys))

    def lookup_batch(self, batch: list[dict]) -> list[dict | None]:
        return [self.lookup(kv) for kv in batch]


def bucket_for_key(table, key_values: dict, spark: SparkSession | None = None) -> int:
    """THE writer-parity bucket id for literal key values — the single
    hash shared by PartialLookupTable, the lookup-service server, and
    RemoteLookupClient (a split implementation is how client and server
    drift into routing the same key to different shards).

    NULL key fields are SKIPPED, matching Spark ``xxhash64`` null
    semantics exactly: the writer's bucket_expr (write.py) hashes with
    ``F.xxhash64(cols...)``, whose running hash is unchanged by a null
    input — so an all-null key hashes to the seed, same as Spark.
    Pure-python when every non-null value's type is supported; a 1-row
    Spark eval only when a session is available, else a loud refusal —
    a SparkSession-free server process must never limp into the Spark
    fallback (reference paimon-service routes by the same fixed hash on
    both halves, RemoteTableQuery.java / KvQueryTableBootstrapper)."""
    schema = table.schema
    from flink_table_store_spark.write import bucket_keys
    from flink_table_store_spark.xxh64 import spark_xxhash64

    n = schema.num_buckets()
    if n <= 0:
        # dynamic (-1) / postpone (-2) layouts have no fixed writer
        # hash — a modulo against them would route silently wrong
        raise ValueError(
            f"bucket_for_key requires a fixed-bucket table (bucket={n})"
        )
    keys = bucket_keys(schema)
    from flink_table_store_spark.write import bucket_function_type

    if bucket_function_type(schema) == "mod":
        v = key_values.get(keys[0])
        return (int(v) % n) if v is not None else 0
    h = spark_xxhash64(
        [
            (key_values.get(k), schema.field(k).type.lower())
            for k in keys
            if key_values.get(k) is not None
        ]
    )
    if h is None:
        if spark is None:
            raise ValueError(
                f"bucket-key types of {keys} not supported by the "
                "pure-python hash and no SparkSession for the 1-row "
                "fallback — cannot route this key"
            )
        return _bucket_of(spark, table, key_values)
    return h % n


def _bucket_of(spark: SparkSession, table, key_values: dict) -> int:
    """Bucket id for literal key values — one 1-row Spark expression
    eval, reusing the writer's exact hash (write.py bucket_expr)."""
    from flink_table_store_spark.write import bucket_expr

    schema = table.schema
    keys = schema.trimmed_primary_keys()
    row = spark.createDataFrame(
        [tuple(key_values[k] for k in keys)],
        ", ".join(f"{k} {schema.field(k).type}" for k in keys),
    )
    n = schema.num_buckets()
    if n == -2:  # postpone mode: compacted files use postpone.bucket-num
        n = int(schema.options.get("postpone.bucket-num", "4"))
    return row.select(bucket_expr(schema, n).alias("b")).collect()[0].b


def point_lookup(spark: SparkSession, table, key_values: dict) -> list:
    """table.lookup(pk): bucket-pruned merged read of one key.

    Planning reads manifests only; the data read touches the key's
    bucket alone (LookupLevels-style pruning), then min/max key stats
    drop non-overlapping files.
    """
    if not table.is_primary_key_table():
        raise RuntimeError("point_lookup requires a primary-key table")
    from flink_table_store_spark import read as read_mod

    schema = table.schema
    keys = schema.trimmed_primary_keys()
    missing = [k for k in keys if k not in key_values]
    if missing:
        raise ValueError(f"missing key columns: {missing}")
    bucket = _bucket_of(spark, table, key_values)
    snap = table.snapshots.latest()
    if snap is None:
        return []
    pred = None
    for k in keys:
        leaf = P.equal(k, key_values[k])
        pred = leaf if pred is None else P.and_(pred, leaf)
    entries = table.manifests.read_live_entries(snap.base_manifest_list, snap.delta_manifest_list)
    # postpone-bucket files (-2) can hold any key: always scanned; so
    # can files written under a DIFFERENT bucket layout (pre-rescale
    # generations) — their bucket ids don't mean the same thing
    _cache: dict[int, bool] = {}
    entries = [
        e
        for e in entries
        if e.bucket in (bucket, -2)
        or not read_mod.same_bucket_layout(table.path, schema, e.schema_id, _cache)
    ]
    plan = read_mod.plan_scan(entries, schema, pred, table_path=table.path)
    df = read_mod.build_dataframe(
        spark,
        table.path,
        plan,
        schema,
        table.all_schemas(),
        predicate=pred,
        dv_files=snap.dv_files,
    )
    return df.collect()
