"""Storage-partitioned (bucketed) join — shuffle-free fact-to-fact joins.

The reference reports ``KeyGroupedPartitioning`` from its DSv2 scan so
Spark elides the exchange when joining two co-bucketed Paimon tables
(paimon-spark PaimonScan.scala:139-141, proven by
sql/BucketedTableQueryTest.scala). A pure-Python planner cannot report
output partitioning to Catalyst, so this operator exploits the shared
layout directly: both tables hash the same join key with the same
bucket function (write.bucket_expr — pmod(xxhash64(bucket-key), n)),
therefore bucket *b* of the left table can only ever match bucket *b*
of the right table.

Execution shape — the plan the reference's bucketed join gets, with
zero Exchange nodes:

    spark.range(n_buckets, numPartitions=n_buckets)   # 1 row/partition
      .mapInPandas(join_bucket)                       # narrow, Arrow

Each task reads ONLY its bucket's data files from BOTH tables straight
off shared storage (pyarrow), applies deletion vectors (scoped to its
own bucket's files) and the table's merge engine locally — deduplicate,
first-row or partial-update, with sequence.field ordering (a bucket is
memory-bounded by design — the same contract the reference's merge
readers rely on) — and hash-joins in pandas (inner/left/right/outer).
An optional ``group_by``/``agg`` runs aggregation inside the same tasks
when the grouping contains the bucket keys, so join + groupBy together
stay at zero Exchange. At 100 TB this is `n_buckets` independent
co-located tasks and no shuffle of either fact table; the non-bucketed
alternative pays a full exchange of both sides.
"""

from __future__ import annotations

import os
import re
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession

from flink_table_store_spark import read as read_mod
from flink_table_store_spark.predicate import sub_predicate
from flink_table_store_spark.operators.merge_engines import (
    MERGE_FUNCS,
    field_merges,
    remove_record_groups,
    seq_descending,
    sequence_groups,
)
from flink_table_store_spark.schema import (
    KIND_DELETE,
    SEQUENCE_NUMBER,
    VALUE_KIND,
    typed_partition,
)
from flink_table_store_spark.write import BUCKET_COL, POSTPONE_BUCKET, bucket_keys

# repo root (…/flink_table_store_spark/operators/ → two levels up) — shipped
# into executor closures so workers can import the package from shared
# storage even when the session was not started from the repo directory
PKG_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def dv_positions_for(dv_paths: list[str], basenames: list[str]) -> dict[str, set]:
    """{file basename: deleted row positions} restricted to ``basenames``
    (one bucket's data files). The restriction is pushed into the parquet
    read (``filters=[("file_name","in",...)]``) and grouping is pyarrow
    compute — a task's DV cost is O(its bucket's deleted rows), not
    O(table's deleted rows) × n_buckets (the reference scopes DV indexes
    per DataSplit the same way, DataSplit.java:61-80)."""
    import pyarrow.parquet as pq

    dels: dict[str, set] = {}
    if not basenames:
        return dels
    names = sorted(set(basenames))
    for p in dv_paths:
        try:
            t = pq.read_table(
                p, columns=["file_name", "pos"], filters=[("file_name", "in", names)]
            )
        except OSError:
            continue
        if t.num_rows == 0:
            continue
        agg = t.group_by("file_name").aggregate([("pos", "list")])
        for fn, poss in zip(
            agg.column("file_name").to_pylist(), agg.column("pos_list").to_pylist()
        ):
            dels.setdefault(fn, set()).update(poss)
    return dels


def _structural_fold(
    vals, codes, n_groups: int, func: str, nested_key: tuple,
    delimiter: str = ",", distinct: bool = False, count_limit=None,
) -> list:
    """Fold one structural aggregator column (listagg / collect /
    collect_distinct / merge_map / nested_update) over pre-computed
    group codes WITHOUT per-group ``groupby().apply``: one stable sort
    makes groups contiguous, then the per-group finish is a native
    Arrow kernel (``binary_join`` for listagg, offset-composed list
    flatten for the list aggregators) or a single linear pass
    (merge_map update, keyed nested_update dedup). Semantics match
    the former per-group lambdas exactly (reference
    FieldListaggAgg/FieldCollectAgg/FieldMergeMapAgg/
    FieldNestedUpdateAgg); ``vals`` carries the retract-masked payload
    (nulls = absent). Returns a plain list indexed by group code."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    is_map = func == "merge_map"
    if func == "listagg":
        valid = np.fromiter(
            (not pd.isna(x) for x in vals), dtype=bool, count=len(vals)
        )
    else:
        # list/map payloads: arrays (Arrow ships array columns as
        # ndarray/list, map columns as pair-lists); scalars count as
        # single elements for collect (FieldCollectAgg accepts both)
        valid = np.fromiter(
            (
                isinstance(x, (list, np.ndarray))
                or (is_map and isinstance(x, dict))
                or (func in ("collect", "collect_distinct") and not pd.isna(x))
                for x in vals
            ),
            dtype=bool,
            count=len(vals),
        )
    idx = np.flatnonzero(valid)
    cv = codes[idx]
    order = np.argsort(cv, kind="stable")  # stable: sequence order kept in-group
    vv = vals[idx[order]]
    cv_s = cv[order]
    if len(cv_s):
        starts = np.concatenate(([0], np.flatnonzero(np.diff(cv_s)) + 1))
        ends = np.concatenate((starts[1:], [len(cv_s)]))
        gids = cv_s[starts]
    else:
        starts = ends = gids = np.array([], dtype=np.int64)

    if func == "listagg":
        out: list = [""] * n_groups
        if len(vv) and distinct:
            # fields.<f>.distinct: split by the WHOLE delimiter, drop
            # empty tokens, keep first occurrences (FieldListaggAgg)
            for s_, e_, g in zip(starts, ends, gids):
                seen: set = set()
                toks: list = []
                for x in vv[s_:e_]:
                    for t in str(x).split(delimiter):
                        if t and t not in seen:
                            seen.add(t)
                            toks.append(t)
                out[g] = delimiter.join(toks)
        elif len(vv):
            sarr = pa.array([str(x) for x in vv], type=pa.string())
            offs = pa.array(
                np.concatenate((starts, [len(vv)])).astype(np.int32), type=pa.int32()
            )
            joined = pc.binary_join(
                pa.ListArray.from_arrays(offs, sarr), delimiter
            ).to_pylist()
            for g, j in zip(gids, joined):
                out[g] = j
        return out

    if is_map:
        # later entries win, in sequence order (FieldMergeMapAgg);
        # single linear pass over the sorted pairs
        out = [{} for _ in range(n_groups)]
        for s, e, g in zip(starts, ends, gids):
            acc: dict = {}
            for x in vv[s:e]:
                acc.update(x if isinstance(x, dict) else dict(x))
            out[g] = acc
        return out

    # collect / collect_distinct / nested_update: per-group flatten of
    # the row lists over the argsort-contiguous slices. Measured
    # (tools/bench_fold.py, r7 adjudication): composing Arrow list
    # offsets first LOSES 3-10x here — ``pa.array`` must re-infer 100k
    # Python/ndarray row payloads before the offset trick can run, and
    # that inference costs more than the flatten it saves. Vs the r5
    # per-group ``groupby().apply``: 2-4x faster in the many-small-
    # groups regime (per-PK folds — the common case), ~0.6-0.9x in the
    # few-huge-groups regime where apply's per-group constant amortizes
    # (absolute gap there ~30ms/100k rows — not worth an adaptive
    # switch).
    out = [[] for _ in range(n_groups)]
    if not len(vv):
        return out
    flat = [
        [
            v
            for x in vv[s:e]
            for v in (
                x.tolist()
                if isinstance(x, np.ndarray)
                else (x if isinstance(x, list) else [x])
            )
        ]
        for s, e in zip(starts, ends)
    ]
    if func == "collect":
        for g, lst in zip(gids, flat):
            out[g] = lst
    elif func == "collect_distinct":
        for g, lst in zip(gids, flat):
            seen: set = set()
            ded = []
            for x in lst:
                kx = str(x)
                if kx not in seen:
                    seen.add(kx)
                    ded.append(x)
            out[g] = ded
    elif func == "nested_partial_update":
        # per nested key: later rows' non-null fields overwrite, keys in
        # first-appearance order (FieldNestedPartialUpdateAgg)
        for g, lst in zip(gids, flat):
            accs: dict = {}
            for x in lst:
                if x is None:
                    continue
                key = tuple((x or {}).get(k) for k in nested_key)
                acc_row = accs.setdefault(key, dict.fromkeys(x.keys()))
                for fk, fv in x.items():
                    if fv is not None:
                        acc_row[fk] = fv
            out[g] = list(accs.values())
    else:  # nested_update
        if not nested_key:
            for g, lst in zip(gids, flat):
                # fields.<f>.count-limit caps the nested table's rows
                out[g] = lst if count_limit is None else lst[:count_limit]
        else:
            # latest version per nested key, original relative order of
            # survivors preserved (FieldNestedUpdateAgg keyed mode)
            for g, lst in zip(gids, flat):
                seen = set()
                acc_l: list = []
                for x in reversed(lst):
                    key = tuple((x or {}).get(k) for k in nested_key)
                    if key in seen:
                        continue
                    seen.add(key)
                    acc_l.append(x)
                kept = list(reversed(acc_l))
                out[g] = kept if count_limit is None else kept[:count_limit]
    return out


def fold_aggregation(
    pdf, key_cols: list[str], fields: dict, seqc: str, kindc: str,
    remove_on_delete: bool = False,
):
    """Pandas replica of the Catalyst per-field folds (reference
    AggregateMergeFunction.java:49) over one bucket's rows: ``fields``
    maps value columns to their ``merge_engines.field_merges`` entries,
    ``remove_on_delete`` is that table's flag. ``pdf`` is already
    stable-sorted by the effective sequence; retract rows (``-U``/
    ``-D``) subtract for sum/count and are ignored by the other
    aggregators (FieldIgnoreRetractAgg). Returns merged rows with key +
    value columns. All folds share ONE groupby over shaped working
    columns so every result aligns on the same group index."""
    import numpy as np
    import pandas as pd

    from flink_table_store_spark.functions import sketches as _S

    pdf = pdf.reset_index(drop=True)
    retract = pdf[kindc].isin(("-D", "-U")).to_numpy()
    keep_mask = ~retract
    ords = np.arange(len(pdf), dtype=float)
    # scalar-or-array presence test: pd.isna on a list/ndarray returns
    # an elementwise ARRAY (ambiguous in boolean context) — an array
    # value is always "present"
    present = lambda x: (  # noqa: E731
        isinstance(x, (list, np.ndarray)) or (x is not None and not pd.isna(x))
    )
    value_cols = [
        c
        for c in pdf.columns
        if c not in set(key_cols) | {seqc, kindc} and c in fields
    ]
    work = pdf[key_cols].copy()
    plan: list[tuple[str, str]] = []  # (out col, op)
    for c in value_cols:
        func = fields[c].func
        ig = fields[c].ignore_retract
        col = pdf[c]
        if fields[c].exact_int:
            # integral folds must NOT transit float64 (nullable int64
            # coerces to float64 in pandas and rounds above 2^53): fold
            # through the nullable Int64 extension dtype instead — exact,
            # and Arrow maps it straight back to a nullable bigint
            col = col.astype("Int64")
        masked = col.where(keep_mask)  # payload null on retract rows
        w = f"__w_{c}"
        if func == "sum":
            work[w] = masked if ig else col.where(keep_mask, -col)
            plan.append((c, "sum"))
        elif func == "count":
            # associative count, as the Catalyst fold computes it: first
            # non-retract row contributes its stored value (a partial
            # count from compaction/folding), later non-null rows ±1
            work[w] = np.where(col.notna(), np.where(retract, 0 if ig else -1, 1), 0)
            work[f"__b_{c}"] = np.where(keep_mask, ords, np.nan)
            plan.append((c, "count"))
        elif func == "product":
            work[w] = masked
            plan.append((c, "prod"))
        elif func in ("min", "bool_and"):
            work[w] = masked
            plan.append((c, "min"))
        elif func in ("max", "bool_or"):
            work[w] = masked
            plan.append((c, "max"))
        elif func in ("first_value", "last_value"):
            # ordinal of the first/last NON-RETRACT row; payload (nulls
            # included) looked up afterwards
            work[w] = np.where(keep_mask, ords, np.nan)
            plan.append((c, "pick_first" if func == "first_value" else "pick_last"))
        elif func in ("first_non_null_value", "first_not_null_value"):
            work[w] = masked
            plan.append((c, "first"))
        elif func in ("last_non_null_value", "primary-key"):
            work[w] = masked
            plan.append((c, "last"))
        else:  # structural folds and sketch unions
            work[w] = masked
            plan.append((c, "fn"))
    work["__ups_ord"] = np.where(retract, -1.0, ords)
    work["__del_ord"] = np.where(pdf[kindc].to_numpy() == KIND_DELETE, ords, -1.0)

    def _sketch_union(m):
        binary = m.type.lower() == "binary"

        def _sk(s):
            vals = [x for x in s if present(x)]
            if binary:
                vals = [bytes(x) for x in vals]
                if m.func == "rbm32":
                    return _S.rbm32_union(vals)
                if m.func == "rbm64":
                    return _S.rbm64_union(vals)
                if m.func == "hll_sketch":
                    return _S.hll_union(vals)
                return _S.theta_union(vals, k=m.theta_k)
            flat = sorted({int(v) for x in vals for v in x})
            return flat[: m.theta_k] if m.func == "theta_sketch" else flat

        return _sk

    gb = work.groupby(key_cols, sort=False, dropna=False)
    results: dict[str, pd.Series] = {}
    col_np = {
        c: pdf[c].to_numpy(dtype=object)
        for c, op in plan
        if op.startswith("pick") or op == "count"
    }
    # group codes for the structural folds (computed once, lazily):
    # gb.ngroup() numbers groups in first-appearance order, which is
    # exactly the order of gb.size().index under sort=False
    _grp_cache: dict = {}

    def _group_codes():
        if not _grp_cache:
            _grp_cache["index"] = gb.size().index
            _grp_cache["codes"] = gb.ngroup().to_numpy()
        return _grp_cache["codes"], _grp_cache["index"]
    for c, op in plan:
        w = f"__w_{c}"
        if op == "sum":
            results[c] = gb[w].sum(min_count=1)
        elif op == "count":
            cnt = gb[w].sum()
            pick = gb[f"__b_{c}"].min()
            valid = pick.dropna().astype(int)
            base = pd.Series(col_np[c][valid.to_numpy()], index=valid.index).reindex(pick.index)
            base_num = base.map(lambda x: 0 if pd.isna(x) else int(x))
            # the base row's own +1 is already inside cnt when non-null
            adj = base.notna().astype(int)
            results[c] = base_num + cnt - adj
        elif op == "prod":
            results[c] = gb[w].prod(min_count=1)
        elif op == "min":
            results[c] = gb[w].min()
        elif op == "max":
            results[c] = gb[w].max()
        elif op == "first":
            results[c] = gb[w].first()
        elif op == "last":
            results[c] = gb[w].last()
        elif op in ("pick_first", "pick_last"):
            pick = gb[w].min() if op == "pick_first" else gb[w].max()
            valid = pick.dropna().astype(int)
            got = pd.Series(col_np[c][valid.to_numpy()], index=valid.index)
            results[c] = got.reindex(pick.index)
        else:  # fn
            m = fields[c]
            if MERGE_FUNCS[m.func].sketch_on:
                # sketch unions are real per-group math (numpy/wire
                # format); the per-group call IS the work
                results[c] = gb[w].apply(_sketch_union(m))
            else:
                # structural folds (listagg/collect/merge_map/
                # nested_update): Arrow kernels + one linear pass, no
                # per-group pandas apply
                codes, gindex = _group_codes()
                folded = _structural_fold(
                    work[w].to_numpy(dtype=object),
                    codes,
                    len(gindex),
                    m.func,
                    m.nested_key,
                    delimiter=m.delimiter,
                    distinct=m.distinct,
                    count_limit=m.count_limit,
                )
                results[c] = pd.Series(folded, index=gindex, dtype=object)
    ups_ord = gb["__ups_ord"].max()
    merged = (
        pd.concat(results, axis=1)
        if results
        else pd.DataFrame(index=ups_ord.index)
    )
    if remove_on_delete:
        # keep when the key has NO -D row at all (merge_view's left join
        # yields NULL __del_seq → kept, even for all-retract groups), or
        # when an upsert postdates the latest -D
        del_ord = gb["__del_ord"].max()
        keep = (del_ord < 0) | (ups_ord > del_ord)
        merged = merged[keep.reindex(merged.index, fill_value=True)]
    merged.index.names = list(key_cols)
    return merged.reset_index()


def _keep_mask(pred, pdf):
    """Row mask for a pushed WHERE conjunct: True = the predicate is
    definitely TRUE for the row. Rows where it is false OR unknown
    (NULL) may be dropped — SQL's WHERE drops them too — and any
    evaluation failure keeps the row (the retained WHERE re-filters),
    so this is purely an IO/width optimization, never a correctness
    dependency."""
    import numpy as np

    n = len(pdf)
    ones = np.ones(n, dtype=bool)
    kids = getattr(pred, "children", None)
    if kids is not None:
        masks = [_keep_mask(c, pdf) for c in kids]
        out = masks[0]
        is_and = type(pred).__name__ == "And"
        for m in masks[1:]:
            out = (out & m) if is_and else (out | m)
        return out
    op = getattr(pred, "op", None)
    if op is None or getattr(pred, "field", None) not in pdf.columns:
        return ones  # Raw / unknown shape: keep everything
    col = pdf[pred.field]
    lits = list(pred.literals)

    import pandas.api.types as pt

    def lit_ok(lit):
        # EXPLICIT literal/column compatibility: pandas ==/isin on a
        # mismatched type is silently all-False (it never raises like
        # the ordered ops do), which would wrongly drop every row; a
        # string compared with a date column, or a float with a decimal
        # one, is cast by Spark but not by pandas
        if lit is None:
            return False
        if isinstance(lit, bool):
            return pt.is_bool_dtype(col) or col.dtype == object
        if isinstance(lit, float):
            return pt.is_integer_dtype(col) and lit == lit
        if isinstance(lit, (int, Decimal)):
            return pt.is_numeric_dtype(col) or col.dtype == object
        if isinstance(lit, str):
            return pt.infer_dtype(col, skipna=True) in ("string", "empty")
        return True

    try:
        if op == "is_null":
            return col.isna().to_numpy(dtype=bool)
        if pt.is_float_dtype(col):
            # pandas reads NULL and NaN alike; Spark orders NaN above
            # every number and keeps it for IS NOT NULL
            return ones
        if op == "is_not_null":
            return col.notna().to_numpy(dtype=bool)
        notna = col.notna()
        if op in ("starts_with", "ends_with", "contains"):
            if not isinstance(lits[0], str) or not hasattr(col, "str"):
                return ones
            if op == "contains":
                m = col.str.contains(lits[0], regex=False, na=False)
            else:
                f = "startswith" if op == "starts_with" else "endswith"
                m = getattr(col.str, f)(lits[0], na=False)
            return (notna & m).to_numpy(dtype=bool, na_value=False)
        if not all(lit_ok(x) for x in lits):
            return ones
        if op == "in":
            m = col.isin(lits)
        elif op == "not_in":
            m = ~col.isin(lits)
        elif op == "between":
            m = (col >= lits[0]) & (col <= lits[1])
        else:
            import operator as _op

            m = {
                "=": _op.eq, "<>": _op.ne, "<": _op.lt,
                "<=": _op.le, ">": _op.gt, ">=": _op.ge,
            }[op](col, lits[0])
        if hasattr(m, "fillna"):
            m = m.fillna(False)
        return (notna & m).to_numpy(dtype=bool, na_value=False)
    except (TypeError, ValueError, AttributeError, KeyError):
        return ones


_INTEGRAL = ("tinyint", "smallint", "int", "integer", "bigint")


def _arrow_exact(leaf, ddl: str | None) -> bool:
    """Whether pyarrow evaluates ``leaf`` exactly as Spark's WHERE does
    on a column of DDL type ``ddl``: int literals against an integral
    column, string literals against a string column (both compare UTF-8
    bytes), never a NULL literal. Other types and literals (casts,
    float NaN ordering, dates against strings) may differ."""
    if ddl in _INTEGRAL and leaf.op not in ("starts_with", "ends_with", "contains"):
        return all(isinstance(v, int) and not isinstance(v, bool) for v in leaf.literals)
    if ddl == "string" or (ddl or "").startswith("varchar"):
        return all(isinstance(v, str) for v in leaf.literals)
    return False


def _side_spec(table, plan, cols, keys, pred, rewrite=None) -> dict:
    """What the bucket reader (``read_bucket_side``) needs about one
    table side, as picklable values, from a ``ReadBuilder.plan``;
    ``buckets`` is left empty for bucket_spec/bucket_tasks to fill.
    The plan's snapshot supplies the deletion vectors: a plan without
    one (Table.delta_plan) reads its files as committed.

    ``rewrite`` folds a compaction's picked runs instead of reading
    rows: each winner comes back with its ``_VALUE_KIND``,
    ``_SEQUENCE_NUMBER`` and stored ``_bucket``; ``"whole"`` (no older
    run is left in the bucket) drops retract winners as a read does,
    ``"partial"`` keeps them to cancel rows in the untouched older runs.

    Raises ValueError, before any task runs, on live data-evolution
    patches (the bucket reader cannot stitch them onto their base rows),
    on a ``rewrite`` of anything but a deduplicate or first-row table
    and, when the plan has files to merge, on field merge functions the
    kernel cannot fold. A plan without them (a fully compacted table)
    reads its files as plain rows, as ``to_df`` does."""
    if plan.patch_entries:
        raise ValueError(
            "the bucket reader cannot stitch data-evolution patch files — "
            "read via table.to_df(spark), or compact() to materialize the "
            "patches first"
        )
    schema = table.schema
    sel_cols = list(cols) if cols is not None else schema.field_names()
    jkeys = list(keys)
    key_cols = list(schema.partition_keys) + schema.trimmed_primary_keys()
    seq_fields = [
        c.strip()
        for c in schema.options.get("sequence.field", "").split(",")
        if c.strip()
    ]
    pk = bool(schema.primary_keys)
    engine = schema.options.get("merge-engine", "deduplicate")
    if rewrite is not None and not (pk and engine in ("deduplicate", "first-row")):
        raise ValueError(
            f"the bucket reader rewrites deduplicate and first-row runs only, not {engine!r}"
        )
    if pk and seq_descending(schema):
        # the Catalyst fold's refusal (merge_engines.seq_order_exprs)
        for c in seq_fields:
            ty = schema.field(c).type.lower()
            if not ty.startswith(_INTEGRAL + ("float", "double", "decimal", "timestamp", "date")):
                raise ValueError(
                    "sequence.field.sort-order=descending needs numeric/"
                    f"timestamp/date sequence fields; {c!r} is {ty}"
                )
    seq_groups: dict = {}
    rr_groups: list = []
    merges = None
    if pk and engine in ("partial-update", "aggregation"):
        merges = field_merges(schema)
        bad = sorted(f for f, m in merges.fields.items() if not m.kernel)
        if bad and plan.merge_entries:
            raise ValueError(
                f"cannot fold aggregate-function(s) of fields {bad} "
                "in the local (pandas) merge — read via table.to_df(spark), "
                "or compact(full=True) the table first"
            )
        if bad:
            # nothing to merge, and these functions cannot fold: read
            # each bucket's one compacted run as plain rows
            pk = False
        if engine == "partial-update":
            seq_groups = sequence_groups(schema)
            rr_groups = sorted(remove_record_groups(schema)) if seq_groups else []
    # the reader evaluates leaves on top-level columns only: Raw leaves
    # (a py4j-backed Column, unpicklable in the task closure) and
    # struct-leaf paths drop out, leaving a weaker filter the caller's
    # own predicate completes
    top = set(schema.field_names())
    pred = sub_predicate(pred, lambda leaf: leaf.field in top)
    pred_fields = sorted(pred.fields()) if pred is not None else []
    key_types = (
        {c: schema.field(c).type.lower() for c in schema.trimmed_primary_keys()}
        if pk
        else {}
    )
    # (abs path, bucket coverage | None): a task consults only sidecars
    # covering its bucket; None (pre-coverage snapshots) = all buckets
    snap = plan.snapshot
    dv_paths = (
        [
            (os.path.join(table.path, "index", n), snap.dv_buckets.get(n))
            for n in snap.dv_files
        ]
        if snap is not None
        else []
    )
    # {schema_id: {current name: name in that generation | None}}: the
    # by-field-id rename/add mapping read._adapt applies
    maps: dict[int, dict[str, str | None]] = {}
    live_sids = {e.schema_id for e in plan.entries}
    for sid, s in table.all_schemas().items():
        by_id = {f.id: f for f in s.fields}
        maps[sid] = {f.name: by_id[f.id].name if f.id in by_id else None for f in schema.fields}
        for f in schema.fields if sid in live_sids else ():
            old = by_id.get(f.id)
            if old is not None and (
                old.subs != f.subs or (old.type != f.type and "<" in old.type + f.type)
            ):
                # read._evolve_cast rebuilds evolved structs by subfield
                # id; the bucket reader maps top-level columns only
                raise ValueError(
                    f"the bucket reader cannot evolve nested column {f.name!r} "
                    f"across schema generations — read via table.to_df(spark), "
                    "or compact() the table first"
                )
    spec = {
        "buckets": {},
        "dv": dv_paths,
        "maps": maps,
        "pk": pk,
        "engine": engine,
        # merge_engines.TableMerges: per-field merge functions of an
        # aggregation / partial-update table
        "merges": merges,
        "seq_groups": seq_groups,
        "rr_groups": rr_groups,
        "key_cols": key_cols,
        "seq_fields": seq_fields,
        "seq_desc": seq_descending(schema),
        "partition_keys": list(schema.partition_keys),
        # a pushed WHERE conjunct filters rows POST-merge in the task,
        # shrinking the join width; its fields must be read even when
        # not selected
        "pred": pred,
        # its conjuncts over key columns that Arrow evaluates as Spark
        # does filter each file's rows BEFORE the merge: every version
        # of a key shares its key values
        "key_pred": sub_predicate(
            pred, lambda leaf: _arrow_exact(leaf, key_types.get(leaf.field))
        ),
        # merge keys + user sequence columns (incl. sequence-group
        # version columns) must be read even when not selected (the
        # local merge orders/groups by them)
        "need": list(
            dict.fromkeys(
                list(sel_cols)
                + jkeys
                + pred_fields
                + (
                    (
                        key_cols
                        + seq_fields
                        # group keys may be comma-joined multi-field specs
                        + [
                            c.strip()
                            for g in seq_groups
                            for c in str(g).split(",")
                            if c.strip()
                        ]
                    )
                    if pk
                    else []
                )
            )
        ),
        "out_need": list(dict.fromkeys(list(sel_cols) + jkeys)),
        "rewrite": rewrite,
    }
    return spec


def _files(table, entries) -> list[dict]:
    schema = table.schema
    pt_types = {k: schema.field(k).type for k in schema.partition_keys}
    out = []
    for e in entries:
        if not e.file_name.endswith(".parquet"):
            raise ValueError(
                "the bucket reader reads parquet files with pyarrow; "
                f"{e.file_name} is not parquet — read via "
                "table.to_df(spark) or use a regular join"
            )
        out.append(
            {
                "path": os.path.join(table.path, e.file_name),
                "schema_id": e.schema_id,
                "partition": {
                    k: typed_partition(v, pt_types[k])
                    for k, v in e.partition.items()
                },
            }
        )
    return out


def bucket_spec(table, plan, cols=None, keys=(), pred=None) -> dict:
    """One table side of a bucketed join or lookup: a spec whose files
    are grouped by bucket across all partitions, read bucket by bucket
    with ``read_bucket_side(spec, bucket)``.

    ``cols`` are the output columns (default: all of them), ``keys``
    join keys read along with them, ``pred`` a filter each task applies
    after its merge (see _keep_mask). Postpone-bucket files and files of
    another bucket layout cannot be grouped that way and raise
    ValueError, as do live data-evolution patches."""
    spec = _side_spec(table, plan, cols, keys, pred)
    layout_cache: dict[int, bool] = {}
    for e in plan.entries:
        if e.bucket == POSTPONE_BUCKET:
            raise ValueError(
                "postpone-bucket files are live — run compact() first"
            )
        if not read_mod.same_bucket_layout(
            table.path, table.schema, e.schema_id, layout_cache
        ):
            # a mid-rescale table mixes bucket layouts: co-grouping by
            # bucket id would join rows hashed under DIFFERENT counts
            raise ValueError(
                "files from a different bucket layout (schema generation "
                f"{e.schema_id}) are live — finish the rescale or use a "
                "regular join"
            )
        spec["buckets"].setdefault(e.bucket, []).extend(_files(table, [e]))
    return spec


def bucket_tasks(table, plan, cols=None, pred=None, rewrite=None) -> list[tuple[dict, int]]:
    """The scan tasks of the format surface, local reads and driver
    compactions over ``plan``: ``(spec, bucket)`` pairs, one per
    (partition, bucket) merge group and one per raw file. A raw file (a
    single compacted run, or an append table's file) needs no merge, so
    its task reads it as plain rows. ``cols`` and ``pred`` as in
    bucket_spec, ``rewrite`` as in _side_spec; live data-evolution
    patches raise ValueError."""
    spec = _side_spec(table, plan, cols, (), pred, rewrite)
    groups: dict[tuple, list] = {}
    for e in plan.merge_entries:
        groups.setdefault(
            (tuple(sorted(e.partition.items())), e.bucket), []
        ).append(e)
    return [
        (dict(spec, buckets={b: _files(table, es)}), b)
        for (_pt, b), es in groups.items()
    ] + [
        (
            dict(spec, pk=False, buckets={e.bucket: _files(table, [e])}),
            e.bucket,
        )
        for e in plan.raw_entries
    ]


def read_bucket_side(spec: dict, bucket: int):
    """Read + locally merge ONE table side's bucket (executor-side).
    Returns a pandas frame of ``spec["out_need"]`` columns (plus the
    system columns and ``_bucket`` of a ``rewrite``), or None when
    the bucket holds no files. Applies deletion vectors scoped to the
    bucket's files, schema-evolution field maps, and the table's merge
    engine (deduplicate / first-row / partial-update / aggregation)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    # integral columns with nulls come back as pandas NULLABLE extension
    # ints, not float64: pyarrow's default to_pandas turns a nullable
    # int64 into float64, silently rounding values above 2^53 before any
    # local merge/fold runs (the same hazard fileindex string-ships stats
    # around). Float columns holding NaN come back as extension floats:
    # numpy float64 spells NULL as NaN, and Arrow would read every NaN
    # back as NULL. Arrow maps both straight back on output.
    int_dtypes = {
        pa.int8(): pd.Int8Dtype(),
        pa.int16(): pd.Int16Dtype(),
        pa.int32(): pd.Int32Dtype(),
        pa.int64(): pd.Int64Dtype(),
    }
    float_dtypes = {pa.float32(): pd.Float32Dtype(), pa.float64(): pd.Float64Dtype()}
    ext_dtypes = {**int_dtypes, **float_dtypes}

    def _needs_ext(tbl, fld) -> bool:
        if fld.type in int_dtypes:
            return tbl.column(fld.name).null_count > 0
        return fld.type in float_dtypes and pc.any(pc.is_nan(tbl.column(fld.name))).as_py()

    seqc, kindc = SEQUENCE_NUMBER, VALUE_KIND
    # open only the DV sidecars covering THIS bucket (unknown coverage =
    # consult): file-open overhead is O(own DV files), not O(all)
    my_dv = [p for p, cov in spec["dv"] if cov is None or bucket in cov]
    dels = (
        dv_positions_for(
            my_dv,
            [os.path.basename(f["path"]) for f in spec["buckets"].get(bucket, [])],
        )
        if my_dv
        else {}
    )
    key_expr = spec["key_pred"].to_arrow_expr() if spec.get("key_pred") else None
    map_cols: set[str] = set()
    frames = []
    for f in spec["buckets"].get(bucket, []):
        fmap = spec["maps"].get(f["schema_id"], {})
        stored = {}  # out_name -> stored name (None = null-fill)
        for c in spec["need"]:
            if c in spec["partition_keys"]:
                continue
            stored[c] = fmap.get(c, c)
        cols = [s for s in stored.values() if s is not None]
        if spec["pk"]:
            cols += [seqc, kindc]
        tbl = pq.read_table(f["path"], columns=list(dict.fromkeys(cols)))
        d = dels.get(os.path.basename(f["path"]))
        if d:
            # deletion-vector positions index the file's stored rows
            live = np.ones(tbl.num_rows, dtype=bool)
            live[[p for p in d if p < tbl.num_rows]] = False
            tbl = tbl.filter(live)
        n = tbl.num_rows
        # one Arrow table of current names: renamed, null-filled and
        # partition columns, then the system columns
        out = {c: tbl.column(s) if s is not None else pa.nulls(n) for c, s in stored.items()}
        for k, v in f["partition"].items():
            if k in spec["need"] or k in spec["key_cols"]:
                out[k] = pa.repeat(v, n) if v is not None else pa.nulls(n)
        if spec["pk"]:
            out[seqc] = tbl.column(seqc)
            out[kindc] = tbl.column(kindc)
        tbl = pa.table(out)
        if key_expr is not None:
            try:
                tbl = tbl.filter(key_expr)
            except pa.ArrowException:
                pass  # an IO shortcut only: the WHERE re-filters
        map_cols.update(fld.name for fld in tbl.schema if pa.types.is_map(fld.type))
        # only columns that need it pay the extension-dtype conversion;
        # null-free ints stay plain numpy int64 (faster groupby/merge
        # keys), and pandas promotes int64+Int64 to Int64 on concat so
        # mixed files stay exact
        ext = [fld.name for fld in tbl.schema if _needs_ext(tbl, fld)]
        pdf = tbl.drop_columns(ext).to_pandas()
        if ext:
            fixed = tbl.select(ext).to_pandas(types_mapper=ext_dtypes.get)
            pdf = pd.concat([pdf, fixed], axis=1)
        frames.append(pdf)
    if not frames:
        return None
    pdf = pd.concat(frames, ignore_index=True)
    if spec["pk"]:
        # local merge, same semantics as merge_engines.merge_view:
        # effective sequence = (sequence.field cols, _SEQUENCE_NUMBER);
        # after the stable sort, row position IS the sequence.
        # na_position='first': merge_view orders by a struct of
        # (sequence.field cols, seq) and Spark ranks NULL lowest
        # (oldest); pandas defaults to NULL-last (newest), which would
        # let a NULL-versioned row win
        # sequence.field.sort-order=descending: user versions sort
        # reversed (smallest = newest); input seq still ascending, and
        # NULL versions stay first (oldest) either way
        asc = [not spec.get("seq_desc")] * len(spec["seq_fields"]) + [True]
        pdf = pdf.sort_values(
            spec["seq_fields"] + [seqc], ascending=asc,
            kind="stable", na_position="first",
        ).reset_index(drop=True)
        if spec["engine"] in ("deduplicate", "first-row"):
            keep = "last" if spec["engine"] == "deduplicate" else "first"
            pdf = pdf.drop_duplicates(subset=spec["key_cols"], keep=keep)
            if spec.get("rewrite") != "partial":
                # retract winners (-D and -U) hide the record, matching
                # DropDeleteReader's RowKind.isAdd filter
                pdf = pdf[~pdf[kindc].isin((KIND_DELETE, "-U"))]
        elif spec["engine"] == "aggregation":
            merges = spec["merges"]
            pdf = fold_aggregation(
                pdf, spec["key_cols"], merges.fields, seqc, kindc,
                merges.remove_on_delete,
            )
        else:  # partial-update: per-column last non-null in order
            pdf["__ord"] = range(len(pdf))
            groups = spec.get("seq_groups") or {}
            gcols_of = {
                g: [c.strip() for c in str(g).split(",") if c.strip()]
                for g in groups
            }
            gseq_cols = [
                c for g in groups for c in gcols_of[g] if c in pdf.columns
            ]
            retract_mask = pdf[kindc].isin((KIND_DELETE, "-U"))
            if gseq_cols:
                # -D AND -U carrying a group sequence are GROUP
                # retracts; one with ALL group sequences null is a
                # NO-OP — under sequence groups there is no whole-row
                # delete (retractWithSequenceGroup skips empty groups;
                # merge_engines parity)
                noop_mask = retract_mask & pdf[gseq_cols].isna().all(axis=1)
                body = pdf[~noop_mask]
                ups = body[~body[kindc].isin((KIND_DELETE, "-U"))]
                del_rows = pdf.iloc[0:0]
            else:
                # -D removes the record when latest; -U is silently
                # ignored (the reference's removeRecordOnDelete branch
                # returns without acting on UPDATE_BEFORE)
                row_del_mask = pdf[kindc] == KIND_DELETE
                body = pdf[~retract_mask]
                ups = body
                del_rows = pdf[row_del_mask]
            gb = ups.groupby(spec["key_cols"], sort=False, dropna=False)
            merged = gb.last()  # pandas last() skips nulls per column
            # sequence-groups (PartialUpdateMergeFunction.java:65-107):
            # a group's fields take the WHOLE winning row's values (nulls
            # included) from the row with the max non-null (group-seq,
            # seq); keys with no non-null group-seq leave the group null
            # — exact max_by(f, CASE WHEN g IS NOT NULL THEN struct(g,
            # seq) END) parity with merge_engines._partial_update.
            # The group's latest activity INCLUDING -D decides
            # retraction: fields null out, or (remove-record-on-
            # sequence-group) the whole row drops.
            rr = set(spec.get("rr_groups") or ())
            pu_aggs = spec["merges"].fields
            for g, fields in groups.items():
                gcols = [c for c in gcols_of[g] if c in pdf.columns]
                if not gcols:
                    continue
                # value fields (no aggregator) take the winning
                # NON-RETRACT row's values, nulls included
                cols = [
                    c
                    for c in fields
                    if c in ups.columns
                    and c not in spec["key_cols"]
                    and c not in pu_aggs
                ]
                order = gcols + ["__ord"]
                # nulls sort FIRST (lowest): the reference comparator's
                # nullsIsLast=false, matching Spark's struct ordering
                sub = ups[ups[gcols].notna().any(axis=1)].sort_values(
                    order, kind="stable", na_position="first"
                )
                if cols:
                    gsel = sub.drop_duplicates(
                        subset=spec["key_cols"], keep="last"
                    ).set_index(spec["key_cols"])[cols]
                    for c in cols:
                        merged[c] = gsel[c].reindex(merged.index)
                winner = body[body[gcols].notna().any(axis=1)].sort_values(
                    order, kind="stable", na_position="first"
                ).drop_duplicates(subset=spec["key_cols"], keep="last").set_index(
                    spec["key_cols"]
                )
                for gc in gcols:
                    if gc not in spec["key_cols"]:
                        merged[gc] = winner[gc].reindex(merged.index)
                wkind = winner[kindc].reindex(merged.index)
                # a winning retract (-D or -U) nulls the group's value
                # fields; remove-record-on-sequence-group drops the
                # whole row only for -D (retractWithSequenceGroup:308)
                dead = wkind.isin((KIND_DELETE, "-U")).fillna(False)
                if g in rr:
                    merged = merged[~(wkind == KIND_DELETE).fillna(False)]
                    dead = dead.reindex(merged.index).fillna(False)
                for c in cols:
                    merged.loc[dead, c] = None
                # aggregated fields fold over the group's eligible rows
                # in (group-seq..., input) order; retracts retract,
                # winning or not (aggregation-for-partial-update)
                afields = [
                    c
                    for c in fields
                    if c in pu_aggs
                    and c in body.columns
                    and c not in spec["key_cols"]
                ]
                if afields:
                    elig = body[body[gcols].notna().any(axis=1)].sort_values(
                        order, kind="stable", na_position="first"
                    )
                    folded = fold_aggregation(
                        elig[spec["key_cols"] + afields + [kindc]],
                        spec["key_cols"],
                        pu_aggs,
                        seqc,
                        kindc,
                    ).set_index(spec["key_cols"])
                    for c in afields:
                        # keys with no eligible rows stay NULL (the
                        # reference never initializes the field)
                        merged[c] = folded[c].reindex(merged.index)
            if len(del_rows):
                # without sequence groups a -D that is the key's
                # latest activity drops the record
                del_ord = del_rows.groupby(
                    spec["key_cols"], sort=False, dropna=False
                )["__ord"].max()
                merged = merged.join(del_ord.rename("__del_ord"), how="left")
                merged = merged[
                    merged["__del_ord"].isna() | (merged["__ord"] > merged["__del_ord"])
                ]
            pdf = merged.reset_index()
    if spec.get("pred") is not None and len(pdf):
        # AFTER the merge (a newer version may change the filtered
        # column); drops only rows the query's retained WHERE would
        # drop anyway — see _keep_mask
        pdf = pdf[_keep_mask(spec["pred"], pdf)]
    keep = [c for c in spec["out_need"] if c in pdf.columns]
    if spec.get("rewrite"):
        pdf = pdf.assign(**{BUCKET_COL: bucket})
        keep += [kindc, seqc, BUCKET_COL]
    # Arrow reads maps as (key, value) pair lists; mapInPandas,
    # applyInPandas and Arrow's from_pandas take dicts
    return pdf[keep].assign(
        **{
            c: [dict(v) if isinstance(v, list) else v for v in pdf[c]]
            for c in map_cols.intersection(keep)
        }
    )


def join_bucketed(
    spark: SparkSession,
    left,
    right,
    on: list[tuple[str, str]] | None = None,
    how: str = "inner",
    left_cols: list[str] | None = None,
    right_cols: list[str] | None = None,
    group_by: list[str] | None = None,
    agg: dict[str, tuple[str, str]] | None = None,
    filters: tuple | None = None,
) -> DataFrame:
    """Join two co-bucketed tables without shuffling either side.

    Requirements (checked): equal bucket counts; the join keys are
    exactly both tables' bucket keys (positionally paired, matching
    types); deduplicate/first-row/partial-update merge on PK sides.
    ``on`` defaults to pairing left/right bucket keys in order.

    ``group_by``/``agg`` push an aggregation INTO the bucket tasks —
    the aggregations-after-join half of the reference's
    KeyGroupedPartitioning elision (PaimonScan.scala:139): when
    ``group_by`` ⊇ the left bucket keys, every group lives wholly in
    one bucket, so each task emits FINAL aggregates and the combined
    plan (join + groupBy) still has zero Exchange. ``agg`` maps output
    column → (func, source_col) with func in count/sum/min/max/mean
    (count ignores source_col and counts rows)."""
    lschema, rschema = left.schema, right.schema
    ln, rn = lschema.num_buckets(), rschema.num_buckets()
    if ln <= 0 or rn <= 0:
        raise ValueError(f"join_bucketed needs fixed-bucket tables (got {ln}, {rn})")
    if ln != rn:
        raise ValueError(f"bucket counts differ: {ln} != {rn}")
    lkeys, rkeys = bucket_keys(lschema), bucket_keys(rschema)
    if on is None:
        on = list(zip(lkeys, rkeys))
    if [p[0] for p in on] != lkeys or [p[1] for p in on] != rkeys:
        raise ValueError(
            f"join keys {on} must be the bucket keys ({lkeys} vs {rkeys}) — "
            "anything else is not co-located and needs a regular join"
        )
    ltypes = [lschema.field(k).type.lower() for k in lkeys]
    rtypes = [rschema.field(k).type.lower() for k in rkeys]
    if ltypes != rtypes:
        raise ValueError(f"bucket key types differ: {ltypes} != {rtypes}")
    for s in (lschema, rschema):
        if s.primary_keys:
            eng = s.options.get("merge-engine", "deduplicate")
            if eng not in ("deduplicate", "first-row", "partial-update", "aggregation"):
                raise ValueError(
                    "join_bucketed merges buckets locally with deduplicate/"
                    "first-row/partial-update/aggregation semantics "
                    "(MergeFileSplitRead.java:220-231)"
                )
    if how not in ("inner", "left", "right", "outer"):
        raise ValueError(f"unsupported how={how!r} (inner/left/right/outer)")

    # per-side file/row pruning (IO only; the caller still applies the
    # predicate to joined rows — see bucket_spec/_keep_mask). A side the
    # join NULL-extends must not prune: pruning would turn matched rows
    # into NULL-extended ones (wrong under e.g. IS NULL re-filters)
    lpred, rpred = filters if filters is not None else (None, None)
    if (how == "left" and rpred is not None) or (
        how == "right" and lpred is not None
    ) or (how == "outer" and (lpred is not None or rpred is not None)):
        raise ValueError(f"filters on a NULL-extended side are unsafe for how={how!r}")

    left_cols = left_cols or lschema.field_names()
    right_cols = right_cols or [
        c for c in rschema.field_names() if c not in rkeys
    ]
    taken = set(left_cols)
    rename_right = {}
    for c in right_cols:
        out_name = c if c not in taken else f"r_{c}"
        rename_right[c] = out_name
        taken.add(out_name)

    out_fields = [(c, lschema.field(c).type) for c in left_cols] + [
        (rename_right[c], rschema.field(c).type) for c in right_cols
    ]
    out_schema = ", ".join(f"`{n}` {t}" for n, t in out_fields)

    if (group_by is None) != (agg is None):
        raise ValueError("group_by and agg must be given together")
    join_names = [n for n, _t in out_fields]  # pre-aggregation columns
    type_of = dict(out_fields)
    if group_by is not None:
        missing = [c for c in group_by if c not in type_of]
        if missing:
            raise ValueError(f"group_by columns not in join output: {missing}")
        if not set(lkeys) <= set(group_by):
            raise ValueError(
                f"local aggregation requires group_by ⊇ the left bucket keys "
                f"{lkeys} — any other grouping spans buckets and needs a shuffle"
            )
        if how not in ("inner", "left"):
            # right/outer produce rows with NULL left keys (unmatched
            # right rows); those all fall in one logical group but are
            # scattered across buckets, so per-bucket aggregation would
            # emit duplicate partial groups
            raise ValueError(
                "local aggregation supports how='inner'/'left' only — "
                f"{how!r} joins emit NULL-left-key groups that span buckets"
            )
        _INT_T = ("tinyint", "smallint", "int", "integer", "bigint", "long")

        def _agg_type(func: str, col: str) -> str:
            if func == "count":
                # count('') = rows; count(col) = non-null values
                if col and col not in type_of:
                    raise ValueError(f"agg source column {col!r} not in join output")
                return "bigint"
            if func == "mean":
                return "double"
            src = type_of.get(col)
            if src is None:
                raise ValueError(f"agg source column {col!r} not in join output")
            if func == "sum":
                if src.lower() in _INT_T:
                    return "bigint"
                dm = re.match(r"(?i)decimal\((\d+),\s*(\d+)\)", src)
                if dm:
                    # exact decimal fold (pandas sums the Decimal
                    # objects); Spark's sum widens precision by 10
                    p, s_ = int(dm.group(1)), int(dm.group(2))
                    return f"decimal({min(38, p + 10)},{s_})"
                return "double"
            return src  # min / max keep the source type

        for name, (func, col) in agg.items():
            if func not in ("count", "sum", "min", "max", "mean"):
                raise ValueError(f"unsupported agg func {func!r}")
        out_fields = [(c, type_of[c]) for c in group_by] + [
            (name, _agg_type(func, col)) for name, (func, col) in agg.items()
        ]
        out_schema = ", ".join(f"`{n}` {t}" for n, t in out_fields)

    lspec = bucket_spec(
        left, left.read_builder().with_filter(lpred).plan(spark),
        left_cols, lkeys, pred=lpred,
    )
    rspec = bucket_spec(
        right, right.read_builder().with_filter(rpred).plan(spark),
        right_cols, rkeys, pred=rpred,
    )
    join_keys = (list(lkeys), list(rkeys))
    out_names = [n for n, _t in out_fields]  # == join_names unless agg
    rename = dict(rename_right)
    group_cols = list(group_by) if group_by is not None else None
    agg_spec = dict(agg) if agg is not None else None

    pkg_root = PKG_ROOT

    def _run(batches):
        # executor-side: stdlib + pyarrow + pandas, plus this package
        # re-imported via the captured repo path — workers of a session
        # built elsewhere (different cwd, no PYTHONPATH) must not depend
        # on inheriting the driver's sys.path
        import sys as _sys

        if pkg_root not in _sys.path:
            _sys.path.insert(0, pkg_root)
        import pandas as pd

        from flink_table_store_spark.operators.bucketed_join import (
            read_bucket_side as _read_side,
        )

        for pdf_in in batches:
            for b in pdf_in["id"].tolist():
                b = int(b)
                lpdf = _read_side(lspec, b)
                rpdf = _read_side(rspec, b)
                l_empty = lpdf is None or lpdf.empty
                r_empty = rpdf is None or rpdf.empty
                if l_empty and (how in ("inner", "left") or r_empty):
                    continue
                if rpdf is None:
                    rpdf = pd.DataFrame(columns=rspec["out_need"])
                rpdf = rpdf.rename(columns=rename)
                if l_empty:
                    # right/outer with no left rows in this bucket:
                    # emit the right side, left columns null-filled
                    merged = rpdf.reindex(columns=join_names)
                else:
                    merged = lpdf.merge(
                        rpdf,
                        how=how,
                        left_on=join_keys[0],
                        right_on=[rename.get(k, k) for k in join_keys[1]],
                    )
                if group_cols is None:
                    yield merged.reindex(columns=out_names)
                    continue
                # local FINAL aggregation: group_by ⊇ bucket keys, so no
                # group spans buckets — the task emits finished rows
                g = merged.groupby(group_cols, dropna=False, sort=False)
                parts = {}
                for name, (func, col) in agg_spec.items():
                    if func == "count":
                        # count(col) skips NULLs; count(*) counts rows
                        parts[name] = g[col].count() if col else g.size()
                    elif func == "mean":
                        parts[name] = g[col].mean()
                    elif func == "sum":
                        # min_count=1: an all-null group sums to NULL
                        # (Spark semantics), not pandas' default 0
                        parts[name] = g[col].sum(min_count=1)
                    else:
                        parts[name] = getattr(g[col], func)()
                yield pd.concat(parts, axis=1).reset_index().reindex(
                    columns=out_names
                )

    base = spark.range(0, ln, 1, numPartitions=ln)
    return base.mapInPandas(_run, out_schema)


def join_bucketed_chain(
    spark: SparkSession,
    tables: list,
    on: list[list[tuple[str, str]]] | None = None,
    hows: list[str] | None = None,
    cols: list[list[str] | None] | None = None,
    filters: list | None = None,
) -> DataFrame:
    """N-way shuffle-free join of co-bucketed tables (star/chain shape):
    ``tables[0]`` is the base; every other table joins to the BASE's
    bucket keys. Because all tables share one bucket function and
    count, bucket *b* of every table is mutually co-located, so ONE
    task per bucket reads its slice of all N tables and chains local
    hash-joins — the N-way generalization of the two-table elision
    (reference: DSv2 KeyGroupedPartitioning makes ANY number of
    co-bucketed Paimon scans exchange-free under Catalyst,
    PaimonScan.scala:139; here the chain is explicit).

    ``on[i]`` pairs base columns with ``tables[i+1]``'s bucket keys
    (default: positional bucket-key pairing). ``hows[i]`` in
    inner/left (default inner). ``cols[i]`` selects each table's
    output columns; name collisions get a ``t{i}_`` prefix."""
    if len(tables) < 2:
        raise ValueError("join_bucketed_chain needs at least 2 tables")
    n_sides = len(tables)
    hows = hows or ["inner"] * (n_sides - 1)
    if len(hows) != n_sides - 1:
        raise ValueError("hows must have len(tables)-1 entries")
    if filters is not None and len(filters) != n_sides:
        raise ValueError("filters must have len(tables) entries")
    if filters is not None:
        for i, h in enumerate(hows):
            if h == "left" and filters[i + 1] is not None:
                raise ValueError("filters on a LEFT-joined side are unsafe (NULL-extension)")
    for h in hows:
        if h not in ("inner", "left"):
            raise ValueError(
                f"unsupported how={h!r} in a chain (inner/left — a right/"
                "outer side would spray NULL base keys across buckets)"
            )
    schemas = [t.schema for t in tables]
    ns = [s.num_buckets() for s in schemas]
    if any(x <= 0 for x in ns):
        raise ValueError(f"chain needs fixed-bucket tables (got {ns})")
    if len(set(ns)) != 1:
        raise ValueError(f"bucket counts differ: {ns}")
    base_keys = bucket_keys(schemas[0])
    if on is None:
        on = [list(zip(base_keys, bucket_keys(s))) for s in schemas[1:]]
    if len(on) != n_sides - 1:
        raise ValueError("on must have len(tables)-1 entries")
    for i, (s, pairs) in enumerate(zip(schemas[1:], on)):
        if [p[0] for p in pairs] != base_keys or [p[1] for p in pairs] != bucket_keys(s):
            raise ValueError(
                f"join #{i + 1}: keys {pairs} must pair the base bucket keys "
                f"{base_keys} with table bucket keys {bucket_keys(s)}"
            )
        bt = [schemas[0].field(k).type.lower() for k in base_keys]
        st = [s.field(k).type.lower() for k in bucket_keys(s)]
        if bt != st:
            raise ValueError(f"join #{i + 1}: bucket key types differ: {bt} != {st}")
    for s in schemas:
        if s.primary_keys:
            eng = s.options.get("merge-engine", "deduplicate")
            if eng not in ("deduplicate", "first-row", "partial-update", "aggregation"):
                raise ValueError(f"unsupported merge-engine {eng!r} in chain")

    cols = cols or [None] * n_sides
    if len(cols) != n_sides:
        raise ValueError("cols must have len(tables) entries")
    sel0 = cols[0] or schemas[0].field_names()
    # collision set covers EVERYTHING the base frame carries into the
    # merge — selected columns AND the base bucket keys (always read via
    # out_need even when not selected); missing them would let a side
    # column with a base key's name slip through unrenamed and collide
    # into pandas' _x/_y suffixes
    taken = set(sel0) | set(base_keys)
    renames: list[dict[str, str]] = [{}]
    sels: list[list[str]] = [list(sel0)]
    out_fields = [(c, schemas[0].field(c).type) for c in sel0]
    for i, s in enumerate(schemas[1:], start=1):
        jkeys = [p[1] for p in on[i - 1]]
        sel = cols[i] or [c for c in s.field_names() if c not in jkeys]
        ren = {}
        # dict.fromkeys: a column in BOTH sel and jkeys must be renamed
        # exactly once, or the second pass would see its own first-pass
        # name in `taken` and bogusly prefix it
        for c in dict.fromkeys(sel + jkeys):
            out_name = c if c not in taken else f"t{i}_{c}"
            ren[c] = out_name
            taken.add(out_name)
        renames.append(ren)
        sels.append(list(sel))
        out_fields += [(ren[c], s.field(c).type) for c in sel]
    out_schema = ", ".join(f"`{n}` {t}" for n, t in out_fields)
    out_names = [n for n, _t in out_fields]

    specs = []
    for i, t in enumerate(tables):
        pred = filters[i] if filters is not None else None
        jk = base_keys if i == 0 else [p[1] for p in on[i - 1]]
        plan = t.read_builder().with_filter(pred).plan(spark)
        specs.append(bucket_spec(t, plan, sels[i], jk, pred=pred))
    join_plan = [
        {
            "left_on": [p[0] for p in pairs],  # base column names
            "right_on": [renames[i + 1].get(p[1], p[1]) for p in pairs],
            "how": hows[i],
        }
        for i, pairs in enumerate(on)
    ]
    n_buckets = ns[0]
    pkg_root = PKG_ROOT

    def _run(batches):
        import sys as _sys

        if pkg_root not in _sys.path:
            _sys.path.insert(0, pkg_root)
        import pandas as pd

        from flink_table_store_spark.operators.bucketed_join import (
            read_bucket_side as _read_side,
        )

        for pdf_in in batches:
            for b in pdf_in["id"].tolist():
                b = int(b)
                merged = _read_side(specs[0], b)
                if merged is None or merged.empty:
                    continue
                for i in range(1, len(specs)):
                    side = _read_side(specs[i], b)
                    if side is None:
                        side = pd.DataFrame(columns=specs[i]["out_need"])
                    side = side.rename(columns=renames[i])
                    jp = join_plan[i - 1]
                    merged = merged.merge(
                        side, how=jp["how"], left_on=jp["left_on"], right_on=jp["right_on"]
                    )
                    if merged.empty:
                        break
                if not merged.empty:
                    yield merged.reindex(columns=out_names)

    base = spark.range(0, n_buckets, 1, numPartitions=n_buckets)
    return base.mapInPandas(_run, out_schema)
