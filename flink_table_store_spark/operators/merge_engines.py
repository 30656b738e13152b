"""Merge engines as declarative DataFrame transforms (merge-on-read).

The reference merges LSM runs row-by-row through MergeFunction
implementations during a K-way sort-merge read
(MergeFileSplitRead.java:220-231, SortMergeReader.java:41-51). In
Spark the same semantics are a single shuffle-based transform over the
unioned runs — Catalyst plans a hash aggregate / window, Tungsten
spills, AQE handles skew; no loser tree needed:

- deduplicate  (DeduplicateMergeFunction.java:32): keep the row with
  max sequence per key; a trailing ``-D`` removes the key.
- first_row    (FirstRowMergeFunction.java:32): keep the first row.
  Both run ONE winner fold, ``fold_winner`` (whole-row struct
  ``max_by``/``min_by`` by effective sequence), for reads and for full
  and universal compaction. It is deterministic, so key predicates
  push through it into the parquet scan; the price is that a narrow
  consumer still reads the full row.
- partial-update (PartialUpdateMergeFunction.java:65-107): non-null
  fields overwrite, per sequence-group version columns.
- aggregation  (AggregateMergeFunction.java:49): per-field aggregate
  functions (factory names in mergetree/compact/aggregate/factory/).

All engines receive the union of live data files of a (partition,
bucket) group carrying the hidden columns ``_SEQUENCE_NUMBER`` and
``_VALUE_KIND`` and return merged rows with data columns only.
"""

from __future__ import annotations

import functools
import os
from typing import NamedTuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_table_store_spark.schema import (
    KIND_DELETE,
    KIND_INSERT,
    SEQUENCE_NUMBER,
    VALUE_KIND,
    TableSchema,
    quote_ident,
    select_exprs,
)

ENGINE_DEDUPLICATE = "deduplicate"
ENGINE_FIRST_ROW = "first-row"
ENGINE_PARTIAL_UPDATE = "partial-update"
ENGINE_AGGREGATION = "aggregation"

# repo root shipped into sketch-union UDF closures (executors may run
# with a different working directory)
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _sketch_union_expr(kind: str, collected, k: int = 4096):
    """Aggregate expression unioning SERIALIZED sketch bytes — the
    reference's binary-field contract (FieldRoaringBitmap32Agg /
    FieldRoaringBitmap64Agg union serialized RoaringBitmaps,
    FieldThetaSketchAgg unions serialized DataSketches theta sketches;
    aggregate/factory/FieldThetaSketchAggFactory.java). ``collected``
    is a ``collect_list`` over the masked column; the union runs as ONE
    Arrow-batched pandas UDF per merge group — numpy concat/unique over
    a handful of decoded sketches, no per-row Python."""
    from pyspark.sql.functions import pandas_udf

    pkg_root = _PKG_ROOT

    @pandas_udf("binary")
    def _union(lists: pd.Series) -> pd.Series:
        import sys as _sys

        if pkg_root not in _sys.path:
            _sys.path.insert(0, pkg_root)
        from flink_table_store_spark.functions import sketches as _S

        def one(vals):
            vals = [] if vals is None else [v for v in vals if v is not None]
            if kind == "rbm32":
                return _S.rbm32_union(vals)
            if kind == "rbm64":
                return _S.rbm64_union(vals)
            return _S.theta_union(vals, k=k)

        return lists.map(one)

    return _union(collected)


# array_sort's DEFAULT comparator orders the whole struct(s, v) payload
# lexicographically — which FAILS ANALYSIS when v contains an unorderable
# type (MAP, in merge_map). Sequence numbers are unique within a merge
# group, so comparing s alone is both sufficient and type-safe.
_SEQ_CMP = "(a, b) -> CASE WHEN a.s < b.s THEN -1 WHEN a.s > b.s THEN 1 ELSE 0 END"


_EFF_SEQ = "__eff_seq"

# retract kinds that keep a key's rows OUT of a partial fold and force
# its bucket's compacted output to stay non-final (level 0): the
# retraction/elision only resolves at a full merge. Shared by
# fold_runs and Table.compact so the two can never disagree — a bucket
# whose unfolded retract rows landed at MAX_LEVEL would be served
# VERBATIM by the single-run raw-read shortcut.
UNFOLDABLE_KINDS = (KIND_DELETE, "-U")
# SQL filter keeping the rows whose kind is not in UNFOLDABLE_KINDS
NOT_RETRACT = f"NOT ({VALUE_KIND} IN ({', '.join(repr(k) for k in UNFOLDABLE_KINDS)}))"


def seq_descending(schema: TableSchema) -> bool:
    """``sequence.field.sort-order`` (CoreOptions.java:891-894):
    descending makes the SMALLEST user version the newest; ties still
    fall to the later input sequence."""
    return (
        schema.options.get("sequence.field.sort-order", "ascending").lower()
        == "descending"
    )


def seq_order_exprs(df: DataFrame, schema: TableSchema, fields: list[str]):
    """Order-image expressions for the user sequence fields: identity
    when ascending; an order-REVERSING numeric image when descending
    (the reference generates a reversed comparator,
    UserDefinedSeqComparator.java:47-56 — Spark structs compare
    ascending-only, so reversal becomes negation). NULL versions stay
    NULL (lowest = oldest) in both orders."""
    if not seq_descending(schema):
        return [F.col(quote_ident(c)) for c in fields]
    out = []
    for c in fields:
        dt = df.schema[c].dataType.typeName()
        col = F.col(quote_ident(c))
        if dt in ("byte", "short", "integer", "long"):
            out.append(-col.cast("long"))
        elif dt in ("float", "double") or dt.startswith("decimal"):
            out.append(-col)
        elif dt in ("timestamp", "timestamp_ntz"):
            out.append(-F.unix_micros(col.cast("timestamp")))
        elif dt == "date":
            out.append(-F.unix_date(col))
        else:
            raise ValueError(
                "sequence.field.sort-order=descending needs numeric/"
                f"timestamp/date sequence fields; {c!r} is {dt}"
            )
    return out


def _effective_seq(df: DataFrame, schema: TableSchema) -> tuple[DataFrame, str]:
    """The merge order column every fold sorts by: ``_SEQUENCE_NUMBER``,
    or with ``sequence.field`` (CoreOptions.java:882-894, T12) the
    struct(user version columns..., ``_SEQUENCE_NUMBER``) — a user
    column defines the version order, input sequence breaks ties.
    Spark orders structs lexicographically, so every engine can treat
    it as THE sequence. Returns ``(df, name of the order column)``."""
    seq_field = schema.options.get("sequence.field")
    if not seq_field:
        return df, SEQUENCE_NUMBER
    fields = [c.strip() for c in seq_field.split(",")]
    df = df.withColumn(
        _EFF_SEQ,
        F.struct(*seq_order_exprs(df, schema, fields), F.col(SEQUENCE_NUMBER)),
    )
    return df, _EFF_SEQ


def merge_view(
    df: DataFrame, schema: TableSchema, group_extra: list[str] | None = None
) -> DataFrame:
    # ``group_extra``: extra grouping columns that are FUNCTIONALLY
    # DEPENDENT on the key (e.g. the bucket hash) — adding them cannot
    # split a key's group, but it lets a caller that pre-shuffled on a
    # subset (partition, bucket) run the fold with NO further exchange
    # and carry the columns through to the writer (r12 one-shuffle
    # compaction, guide §2.4).
    extra = list(group_extra or [])
    engine = schema.options.get("merge-engine", ENGINE_DEDUPLICATE)
    if engine in (ENGINE_DEDUPLICATE, ENGINE_FIRST_ROW):
        # a retract winner (-D or -U) hides the record: merged reads
        # wrap in DropDeleteReader, which keeps only RowKind.isAdd rows
        merged = fold_winner(df, schema, extra)
        return merged.where(NOT_RETRACT).drop(VALUE_KIND)
    df, seq_col = _effective_seq(df, schema)
    if engine == ENGINE_PARTIAL_UPDATE:
        return _partial_update(df, schema, seq_col=seq_col, extra=extra)
    if engine == ENGINE_AGGREGATION:
        return _aggregation(df, schema, seq_col=seq_col, extra=extra)
    raise ValueError(f"unknown merge-engine {engine}")


def _key_cols(schema: TableSchema) -> list[str]:
    # full logical key: partition keys + trimmed PK
    return list(schema.partition_keys) + schema.trimmed_primary_keys()


def fold_winner(
    df: DataFrame,
    schema: TableSchema,
    extra: list[str] = (),
    keep_system: bool = False,
) -> DataFrame:
    """The deduplicate / first-row fold (DeduplicateMergeFunction.java,
    FirstRowMergeFunction.java) for reads, full and universal
    compaction: per key plus the functionally dependent ``extra``
    columns, the WHOLE row with the max (deduplicate) / min (first-row)
    effective sequence, as one ``max_by(struct(payload), seq)``.

    Returns the data columns, the winner's ``_VALUE_KIND`` (retract
    winners included: reads and whole-bucket rewrites drop them, a
    partial rewrite keeps them to cancel older runs), its
    ``_SEQUENCE_NUMBER`` when ``keep_system`` (a partial rewrite must
    still merge against older runs), then ``extra``.

    A struct winner is atomic: writers that staged the same sequence
    numbers tie, and the tie goes to one arbitrary row, never to a mix
    of two. The fold is deterministic, so key predicates push through
    it into the parquet scan; the price is that a narrow consumer still
    reads the full row. The partial aggregate combines map-side, so the
    exchange carries ~one row per key per map partition regardless of
    LSM overlap."""
    engine = schema.options.get("merge-engine", ENGINE_DEDUPLICATE)
    keys = _key_cols(schema) + list(extra)
    carry = [VALUE_KIND] + ([SEQUENCE_NUMBER] if keep_system else [])
    payload = [c for c in schema.field_names() if c not in keys] + carry
    df, seq_col = _effective_seq(df, schema)
    pick = "max_by" if engine == ENGINE_DEDUPLICATE else "min_by"
    q = quote_ident
    # Each PySpark Column call costs several JVM round-trips, so the
    # winner struct and its unpacking are one SQL string each, not one
    # Column per table column.
    winner = F.expr(
        f"{pick}(struct({', '.join(q(c) for c in payload)}), {q(seq_col)}) AS __w"
    )
    out = [
        q(c) if c in keys else f"__w.{q(c)} AS {q(c)}"
        for c in schema.field_names()
    ]
    out += [f"__w.{q(c)} AS {q(c)}" for c in carry] + [q(c) for c in extra]
    grouped = df.groupBy(*[F.expr(q(k)) for k in keys]).agg(winner)
    return select_exprs(grouped, out)


def sequence_groups(schema: TableSchema) -> dict[str, list[str]]:
    """{group key: [value fields]} from ``fields.<seq[,seq2...]>.
    sequence-group`` options (PartialUpdateMergeFunction.java:67
    SEQUENCE_GROUP). The key keeps the option's raw comma-joined
    sequence-field spelling — ``fields.g_1,g_3.sequence-group`` defines
    ONE group ordered lexicographically by (g_1, g_3); split it with
    ``_group_seq_cols``. A value field may belong to one group only
    (the reference throws "defined repeatedly")."""
    groups: dict[str, list[str]] = {}
    owner: dict[str, str] = {}
    for k, v in schema.options.items():
        if k.startswith("fields.") and k.endswith(".sequence-group"):
            key = k[len("fields."):-len(".sequence-group")]
            cols = [c.strip() for c in v.split(",") if c.strip()]
            for c in cols:
                if c in owner:
                    raise ValueError(
                        f"field {c!r} is defined repeatedly by multiple "
                        f"sequence groups: {owner[c]!r} and {key!r}"
                    )
                owner[c] = key
            groups[key] = cols
    return groups


def _group_seq_cols(group_key: str) -> list[str]:
    """Sequence columns of one group key (multi-field groups are
    comma-joined in the option key)."""
    return [c.strip() for c in group_key.split(",") if c.strip()]


# --- per-field merge functions (mergetree/compact/aggregate/factory/) ---


class MergeFunc(NamedTuple):
    """What every merge path needs to know about one aggregate function.

    - ``prefix_safe``: a fold of the NEWEST runs re-merges with older
      unmerged runs exactly as the unfolded rows would (universal
      compaction). Run sequence ranges are disjoint and the fold covers
      the newest prefix, so a folded value attributed to the fold row's
      (max) sequence still orders above every older run: last/max/sum/
      union-style functions are untouched, first/min-style ones lose to
      any older candidate exactly as before. ``count`` is not: its
      partial count must sit at the OLDEST position to seed the
      accumulator.
    - ``group_safe``: the same inside a partial-update sequence group,
      where the folded row is relabelled with the winner's group
      version: order-insensitive folds, and ``last_value``, whose value
      comes from exactly that row.
    - ``exact_int``: on integral fields the kernel folds through
      pandas' nullable Int64, never float64 (which rounds above 2^53).
    - ``sketch_on``: the field types (prefixes) a sketch function's
      field must have; merges union the stored sketches. On any other
      type the function would sketch raw values into a field that cannot
      hold a sketch, so such fields are refused (``check_sketch_fields``);
      a table stored with one before that refusal reads through the
      Catalyst fold only (``FieldMerge.kernel``).

    Every function on a field of the type it needs also folds in the
    per-bucket pandas kernel (``bucketed_join.fold_aggregation``), as
    the Catalyst fold does.
    """

    prefix_safe: bool = False
    group_safe: bool = False
    exact_int: bool = False
    sketch_on: tuple[str, ...] = ()


_PREFIX = MergeFunc(prefix_safe=True)
_GROUP = MergeFunc(prefix_safe=True, group_safe=True)
_SKETCH = MergeFunc(prefix_safe=True, sketch_on=("binary", "array"))

# every aggregate function the engine implements, registered once
MERGE_FUNCS: dict[str, MergeFunc] = {
    "sum": _GROUP._replace(exact_int=True),
    "product": _GROUP._replace(exact_int=True),
    "min": _GROUP._replace(exact_int=True),
    "max": _GROUP._replace(exact_int=True),
    "bool_and": _GROUP,
    "bool_or": _GROUP,
    "count": MergeFunc(),
    "first_value": _PREFIX,
    "first_non_null_value": _PREFIX._replace(exact_int=True),
    "first_not_null_value": _PREFIX._replace(exact_int=True),
    "last_value": _GROUP,
    "last_non_null_value": _PREFIX._replace(exact_int=True),
    "primary-key": _PREFIX._replace(exact_int=True),
    "listagg": _PREFIX,
    "collect": _PREFIX,
    "collect_distinct": _PREFIX,
    "merge_map": _PREFIX,
    "nested_update": _PREFIX,
    "nested_partial_update": _PREFIX,
    "rbm32": _SKETCH,
    "rbm64": _SKETCH,
    "theta_sketch": _SKETCH,
    "hll_sketch": _SKETCH._replace(sketch_on=("binary",)),
}

_INTEGRAL = ("tinyint", "smallint", "int", "integer", "bigint")


class FieldMerge(NamedTuple):
    """One value field's merge function with its options, as every
    merge path reads it (picklable: bucket tasks ship it)."""

    func: str
    type: str
    ignore_retract: bool
    delimiter: str
    distinct: bool
    count_limit: int | None
    nested_key: tuple[str, ...]
    theta_k: int
    group: str | None  # partial-update sequence group key
    kernel: bool  # False: a sketch function on a field that cannot hold one
    fold_safe: bool  # prefix_safe (aggregation) / group_safe (partial-update)
    exact_int: bool


class TableMerges(NamedTuple):
    fields: dict[str, FieldMerge]  # value field -> merge, schema order
    remove_on_delete: bool


def field_merges(schema: TableSchema) -> TableMerges:
    """The per-field merge functions of an aggregation or partial-update
    table, resolved from its options once for every merge path: the
    Catalyst folds, the universal-compaction gate and the bucket kernel.

    - aggregation: every value field, by ``fields.<f>.aggregate-function``,
      else ``fields.default-aggregate-function``, else
      ``last_non_null_value``.
    - partial-update ("Aggregation For Partial Update",
      partial-update.md:150): only with at least one sequence group —
      without one the reference's updateNonNullFields ignores
      aggregators entirely (PartialUpdateMergeFunction.java:227-232).
      Keys and group sequence columns never aggregate; a function on a
      field outside every group must be ``last_non_null_value`` or
      ``primary-key``, the engine's own behaviour, and is dropped
      (getAggFuncName).
    - ``fields.<f>.distinct=true`` turns ``collect`` into
      ``collect_distinct``; ``nested_partial_update`` needs
      ``fields.<f>.nested-key``.

    ``remove_on_delete`` is ``aggregation.remove-record-on-delete``: a
    trailing ``-D`` drops the whole record."""
    engine = schema.options.get("merge-engine", ENGINE_DEDUPLICATE)
    opts = schema.options
    keys = set(_key_cols(schema))
    default = opts.get("fields.default-aggregate-function")
    groups = sequence_groups(schema) if engine == ENGINE_PARTIAL_UPDATE else {}
    group_of = {c: g for g, cols in groups.items() for c in cols}
    seq_cols = {c for g in groups for c in _group_seq_cols(g)}
    out: dict[str, FieldMerge] = {}
    for f in schema.fields:
        if f.name in keys:
            continue
        func = opts.get(f"fields.{f.name}.aggregate-function", default)
        if engine == ENGINE_AGGREGATION:
            func = func or "last_non_null_value"
        elif not groups or f.name in seq_cols or not func:
            continue
        elif f.name not in group_of:
            if func in ("last_non_null_value", "primary-key"):
                continue
            raise ValueError(
                "Must use sequence group for aggregation functions "
                f"but not found for field {f.name}"
            )
        props = MERGE_FUNCS.get(func)
        if props is None:
            raise ValueError(f"unsupported aggregate-function {func}")
        distinct = opts.get(f"fields.{f.name}.distinct", "false") == "true"
        nested_key = tuple(
            k.strip()
            for k in opts.get(f"fields.{f.name}.nested-key", "").split(",")
            if k.strip()
        )
        if func == "nested_partial_update" and not nested_key:
            raise ValueError(
                f"nested_partial_update on {f.name!r} requires "
                f"fields.{f.name}.nested-key"
            )
        count_limit = opts.get(f"fields.{f.name}.count-limit")
        ftype = f.type.lower()
        typed_ok = not props.sketch_on or ftype.startswith(props.sketch_on)
        out[f.name] = FieldMerge(
            func="collect_distinct" if func == "collect" and distinct else func,
            type=f.type,
            ignore_retract=opts.get(f"fields.{f.name}.ignore-retract", "false") == "true",
            delimiter=opts.get(f"fields.{f.name}.list-agg-delimiter", ","),
            distinct=distinct,
            count_limit=None if count_limit is None else int(count_limit),
            nested_key=nested_key,
            theta_k=int(opts.get(f"fields.{f.name}.theta-sketch.k", "4096")),
            group=group_of.get(f.name),
            kernel=typed_ok,
            fold_safe=typed_ok
            and (
                props.group_safe
                if engine == ENGINE_PARTIAL_UPDATE
                else props.prefix_safe
            ),
            exact_int=props.exact_int and ftype.split("(")[0] in _INTEGRAL,
        )
    return TableMerges(
        out, opts.get("aggregation.remove-record-on-delete", "false") == "true"
    )


def check_sketch_fields(schema: TableSchema) -> None:
    """Refuse a sketch aggregate function on a field of a type that
    cannot hold its sketch (``MergeFunc.sketch_on``): run when a schema
    is created or altered (``SchemaManager.commit``). Such a field would
    store sketch bytes cast to its own type, which no later merge or
    reader can use."""
    engine = schema.options.get("merge-engine", ENGINE_DEDUPLICATE)
    if not schema.primary_keys or engine not in (ENGINE_AGGREGATION, ENGINE_PARTIAL_UPDATE):
        return
    keys = set(_key_cols(schema))
    default = schema.options.get("fields.default-aggregate-function")
    for f in schema.fields:
        func = schema.options.get(f"fields.{f.name}.aggregate-function", default)
        sketch_on = MERGE_FUNCS[func].sketch_on if func in MERGE_FUNCS else ()
        ftype = f.type.lower()
        if f.name not in keys and sketch_on and not ftype.startswith(sketch_on):
            raise ValueError(
                f"aggregate-function {func} on field {f.name!r} of type {ftype}: "
                f"the field stores a sketch and must be {' or '.join(sketch_on)}"
            )


def _partial_update_aggs(schema: TableSchema, seq: str) -> tuple[list, list]:
    """Prep columns + per-field aggregate expressions of the
    partial-update engine (shared by the full merge and the
    universal-compaction fold). Returns ``(prep, aggs)``: ``prep`` is a
    list of (column name, Column) to ``withColumn`` BEFORE the groupBy
    (group order structs; empty-group masking of aggregated fields);
    ``aggs`` the groupBy expressions.

    - Non-group, non-agg fields: last non-null value in input-sequence
      order (``max_by(f, seq where f non-null)``), non-retract rows.
    - Sequence-group columns: the values of the row with the max
      (group-seq..., seq) among rows where the group is NON-EMPTY, any
      kind — retracts advance group sequences too
      (retractWithSequenceGroup sets the comparator's fields).
    - Group value fields (no aggregator): the winning NON-RETRACT
      row's value, nulls included.
    - Aggregated fields ("Aggregation For Partial Update" — always
      inside a sequence group; field_merges refuses the rest): folded
      by the group's (seq-cols..., seq) order, empty-group rows masked
      out (the reference's isEmptySequenceGroup skip), retracts
      retract winning or not. For order-dependent aggregators with
      OUT-OF-ORDER group versions the reference's pairwise
      agg/aggReversed fold is
      path-dependent (materialization-dependent under compaction); this
      engine uses the materialization-INDEPENDENT sorted-(version, seq)
      fold, identical for in-order streams — the same documented stance
      as sequence.field partial folds.
    """
    keys = _key_cols(schema)
    groups = sequence_groups(schema)
    merges = field_merges(schema).fields
    field_group = {c: g for g, cols in groups.items() for c in cols}
    group_ord: dict[str, str] = {}
    prep: list[tuple] = []
    for i, g in enumerate(sorted(groups)):
        gcols = _group_seq_cols(g)
        nonempty = functools.reduce(
            lambda a, b: a | b, [F.col(c).isNotNull() for c in gcols]
        )
        ordname = f"__gord_{i}"
        group_ord[g] = ordname
        prep.append(
            (
                ordname,
                F.when(
                    nonempty,
                    F.struct(*[F.col(c) for c in gcols], F.col(seq)),
                ),
            )
        )
    for fname, m in merges.items():
        # empty-group rows contribute NOTHING to the group's agg
        prep.append(
            (fname, F.when(F.col(group_ord[m.group]).isNotNull(), F.col(fname)))
        )

    not_retract = f"`{VALUE_KIND}` NOT IN ('{KIND_DELETE}', '-U')"
    seq_cols_all = {c for g in groups for c in _group_seq_cols(g)}
    # NOT the last group's column: non-group fields order by the real
    # sequence (a former loop-variable shadowing bug silently merged
    # them by an unrelated group column when sequence-groups were set)
    aggs = []
    for f in schema.fields:
        if f.name in keys:
            continue
        if f.name in seq_cols_all:
            g = next(g for g in groups if f.name in _group_seq_cols(g))
            # all kinds: a winning retract advances the group sequence.
            # the order key embeds the unique input seq, so every
            # column's max_by picks the SAME winning row
            aggs.append(
                F.expr(f"max_by(`{f.name}`, `{group_ord[g]}`)").alias(f.name)
            )
        elif f.name in merges:
            # always sequence-group-gated: field_merges refuses any
            # other aggregator outside a group (getAggFuncName)
            m = merges[f.name]
            expr = _agg_field_expr(f.name, m, group_ord[m.group])
            aggs.append(expr.cast(f.type).alias(f.name))
        elif f.name in field_group:
            g = field_group[f.name]
            aggs.append(
                F.expr(
                    f"max_by(`{f.name}`, CASE WHEN {not_retract} "
                    f"THEN `{group_ord[g]}` END)"
                ).alias(f.name)
            )
        else:
            aggs.append(
                F.expr(
                    f"max_by(`{f.name}`, CASE WHEN `{f.name}` IS NOT NULL "
                    f"AND {not_retract} THEN `{seq}` END)"
                ).alias(f.name)
            )
    return prep, aggs


def remove_record_groups(schema: TableSchema) -> set[str]:
    """``partial-update.remove-record-on-sequence-group``: sequence
    groups whose -D records remove the WHOLE row instead of retracting
    just their fields (CoreOptions.java:914-918)."""
    raw = schema.options.get(
        "partial-update.remove-record-on-sequence-group", ""
    )
    named = {c.strip() for c in raw.split(",") if c.strip()}
    groups = sequence_groups(schema)
    rr: set[str] = set()
    unknown = set(named)
    for g in groups:
        gcols = set(_group_seq_cols(g))
        # the option names sequence FIELDS; any member field (or the
        # full comma-joined key) selects its group
        if g in named or (gcols & named):
            rr.add(g)
            unknown -= gcols | {g}
    if unknown:
        raise ValueError(
            "partial-update.remove-record-on-sequence-group names "
            f"non-sequence-group fields: {sorted(unknown)}"
        )
    return rr


def _partial_update(
    df: DataFrame,
    schema: TableSchema,
    seq_col: str = SEQUENCE_NUMBER,
    extra: list[str] = (),
) -> DataFrame:
    """groupBy(key) with per-field max_by — one shuffle, map-side combine.

    ``-D`` rows remove the record when they are the latest activity
    (the partial-update engine's remove-on-delete); ``-U`` rows are
    silently ignored, exactly the reference's silent ``return`` inside
    the removeRecordOnDelete branch
    (PartialUpdateMergeFunction.java:145-152). With sequence groups,
    a retract carrying a non-null group sequence retracts ONLY that
    group's fields (retractWithSequenceGroup) — unless the group is
    listed in ``partial-update.remove-record-on-sequence-group`` and
    the kind is -D, which removes the whole row; a retract with every
    group sequence null is a NO-OP.
    """
    keys = _key_cols(schema) + list(extra)
    seq = seq_col
    groups = sequence_groups(schema)
    if groups:
        return _partial_update_with_groups(df, schema, seq, extra=extra)
    upserts = df.where(~F.col(VALUE_KIND).isin(KIND_DELETE, "-U"))
    prep, aggs = _partial_update_aggs(schema, seq)
    for name, col in prep:  # pragma: no cover — empty without groups
        upserts = upserts.withColumn(name, col)
    aggs.append(F.max(F.col(seq)).alias("__ups_seq"))
    merged = upserts.groupBy(*[F.col(k) for k in keys]).agg(*aggs)

    deletes = (
        df.where(F.col(VALUE_KIND) == KIND_DELETE)
        .groupBy(*[F.col(k) for k in keys])
        .agg(F.max(F.col(seq)).alias("__del_seq"))
    )
    out = (
        merged.join(deletes, on=keys, how="left")
        .where(F.col("__del_seq").isNull() | (F.col("__ups_seq") > F.col("__del_seq")))
    )
    return out.select(*schema.field_names(), *[F.col(c) for c in extra])


def _partial_update_with_groups(
    df: DataFrame, schema: TableSchema, seq: str, extra: list[str] = ()
) -> DataFrame:
    """Partial update under sequence groups, retract-aware: the same
    single groupBy — per-group winner KIND decides retraction, so no
    extra shuffle joins. Reference semantics
    (PartialUpdateMergeFunction.retractWithSequenceGroup):

    - BOTH -D and -U are retracts (``kv.valueKind().isRetract()``): a
      retract whose group sequence WINS nulls the group's value fields
      and advances the group's sequence; retracts never touch
      non-group fields.
    - a retract whose every group sequence is NULL is a NO-OP
      (isEmptySequenceGroup skips the group — under sequence groups
      there is no whole-row delete except via
      remove-record-on-sequence-group, and that only for -D).
    - a key whose records are ALL retracts emits RowKind.DELETE
      (``meetInsert`` stays false, :363) — hidden from merged reads.

    The winner-by-(group-seq, seq) formulation equals the reference's
    sequential fold: a row applies iff its version >= the running max,
    so the last applied row is exactly the max-(version, seq) row.
    Known sequential-fold corner kept as documented deviation: an
    rr-group delete followed by a partial re-insert re-initializes the
    row in the reference (initRow); here earlier groups' pre-delete
    values survive the re-insert."""
    keys = _key_cols(schema) + list(extra)
    groups = sequence_groups(schema)
    rr = remove_record_groups(schema)
    merges = field_merges(schema).fields
    all_seq_cols = [c for g in sorted(groups) for c in _group_seq_cols(g)]
    all_null = " AND ".join(f"`{c}` IS NULL" for c in all_seq_cols)
    is_noop_delete = F.expr(
        f"`{VALUE_KIND}` IN ('{KIND_DELETE}', '-U') AND ({all_null})"
    )
    body = df.where(~is_noop_delete)
    not_retract = f"`{VALUE_KIND}` NOT IN ('{KIND_DELETE}', '-U')"

    prep, aggs = _partial_update_aggs(schema, seq)
    group_ord = {g: f"__gord_{i}" for i, g in enumerate(sorted(groups))}
    kind_col = {g: f"__gkind_{i}" for i, g in enumerate(sorted(groups))}
    for g in groups:
        # the group's LATEST activity (upsert or retract), retracts included
        aggs.append(
            F.expr(
                f"max_by(`{VALUE_KIND}`, `{group_ord[g]}`)"
            ).alias(kind_col[g])
        )
    # meetInsert: a key that never saw a non-retract record merges to
    # RowKind.DELETE in the reference and is hidden from batch reads
    aggs.append(
        F.max(F.expr(f"CASE WHEN {not_retract} THEN 1 ELSE 0 END")).alias("__meet")
    )
    for name, col in prep:
        body = body.withColumn(name, col)
    merged = body.groupBy(*[F.col(k) for k in keys]).agg(*aggs)
    merged = merged.where(F.col("__meet") == 1)
    for g, cols in groups.items():
        dead = F.col(kind_col[g]).isin(KIND_DELETE, "-U")
        if g in rr:
            # remove-record only for -D; a winning -U still just
            # retracts the group's value fields
            merged = merged.where(
                ~F.coalesce(F.col(kind_col[g]) == KIND_DELETE, F.lit(False))
            )
        for c in cols:
            if c in merges:
                # aggregated fields RETRACT (winning or not) instead of
                # nulling out — already folded into the agg expression
                continue
            merged = merged.withColumn(
                c, F.when(dead, F.lit(None)).otherwise(F.col(c))
            )
    return merged.select(*schema.field_names(), *[F.col(c) for c in extra])


# --- field aggregators (mergetree/compact/aggregate/factory/*.java:28-35) ---

# retraction predicate over the hidden row-kind column; aggregators that
# cannot retract mask retract rows to NULL (FieldIgnoreRetractAgg
# semantics as the default instead of the reference's exception)
_RETRACT = f"`{VALUE_KIND}` IN ('-D', '-U')"


def _agg_expr(
    func: str,
    name: str,
    seq: str,
    ftype: str = "",
    retract: bool = True,
    sketch_k: int = 4096,
):
    c = f"`{name}`"
    # masked value: NULL on retract rows, so min_by/max_by/collect never
    # pick a retraction's payload
    v = f"(CASE WHEN NOT ({_RETRACT}) THEN {c} END)"
    if func == "sum":
        if retract:
            # FieldSumAgg.retract subtracts (aggregate/FieldSumAgg.java)
            return F.expr(f"sum(CASE WHEN {_RETRACT} THEN -{c} ELSE {c} END)")
        return F.expr(f"sum({v})")
    if func == "product":
        # Catalyst's Product aggregate has no SQL name: build it through
        # the DataFrame function
        return F.product(F.expr(v))
    if func == "count":
        # associative count (no reference counterpart — aggregate/
        # factory/ has no FieldCountAgg; semantics follow the reference
        # FieldAggregator pattern of "first row's value seeds the
        # accumulator"): the first non-retract row contributes its
        # STORED VALUE (a compacted/folded row carries a partial count),
        # every later non-null row contributes ±1. Plain count(...)
        # would re-count a compacted partial count as 1 — a wrong
        # answer after any compaction.
        base = f"min_by({c}, CASE WHEN NOT ({_RETRACT}) THEN `{seq}` END)"
        if retract:
            cnt = f"sum(CASE WHEN {c} IS NOT NULL THEN CASE WHEN {_RETRACT} THEN -1L ELSE 1L END ELSE 0L END)"
        else:
            cnt = f"count({v})"
        return F.expr(
            f"coalesce({base}, 0L) + coalesce({cnt}, 0L)"
            f" - (CASE WHEN {base} IS NOT NULL THEN 1L ELSE 0L END)"
        )
    if func == "min":
        return F.expr(f"min({v})")
    if func == "max":
        return F.expr(f"max({v})")
    if func == "bool_and":
        return F.expr(f"bool_and({v})")
    if func == "bool_or":
        return F.expr(f"bool_or({v})")
    if func == "first_value":
        return F.expr(f"min_by({c}, CASE WHEN NOT ({_RETRACT}) THEN `{seq}` END)")
    if func == "first_non_null_value" or func == "first_not_null_value":
        return F.expr(f"min_by({c}, CASE WHEN {v} IS NOT NULL THEN `{seq}` END)")
    if func == "last_value":
        return F.expr(f"max_by({c}, CASE WHEN NOT ({_RETRACT}) THEN `{seq}` END)")
    if func == "last_non_null_value" or func == "primary-key":
        # FieldPrimaryKeyAgg: PK fields keep their (identical) value
        return F.expr(f"max_by({c}, CASE WHEN {v} IS NOT NULL THEN `{seq}` END)")
    if func == "listagg":
        # seq-ordered concat (FieldListaggAgg); delimiter option supported
        return F.expr(
            f"array_join(transform(array_sort(collect_list(CASE WHEN {v} IS NOT NULL THEN struct(`{seq}` AS s, {c} AS v) END), {_SEQ_CMP}), x -> x.v), ',')"
        )
    if func == "collect":
        # FieldCollectAgg (array field; input ARRAYS concatenate in
        # sequence order — FieldCollectAgg.java agg() appends the input
        # array's elements to the accumulator array)
        return F.expr(
            f"flatten(transform(array_sort(collect_list(CASE WHEN {v} IS NOT NULL THEN struct(`{seq}` AS s, {c} AS v) END), {_SEQ_CMP}), x -> x.v))"
        )
    if func == "collect_distinct":
        return F.expr(f"array_distinct(flatten(transform(array_sort(collect_list(CASE WHEN {v} IS NOT NULL THEN struct(`{seq}` AS s, {c} AS v) END), {_SEQ_CMP}), x -> x.v)))")
    if func in ("rbm32", "rbm64"):
        # FieldRoaringBitmap32/64Agg: bitmap union, dispatched on the
        # field type. binary fields hold REAL serialized RoaringBitmaps
        # in the cross-language portable format (functions/sketches.py;
        # RoaringFormatSpec) and union via one Arrow-batched UDF per
        # merge group — byte-compatible with the reference's stored
        # bitmaps. array<int>/array<bigint> fields keep the relational
        # model (sorted distinct array): same set semantics,
        # SQL-checkable, Parquet-encodable.
        if ftype.lower() == "binary":
            return _sketch_union_expr(func, F.expr(f"collect_list({v})"))
        return F.expr(
            f"array_sort(array_distinct(flatten(collect_list({v}))))"
        )
    if func == "hll_sketch":
        # FieldHllSketchAgg: binary fields hold SERIALIZED DataSketches
        # HLL sketches and merges UNION them (never re-sketch the
        # buffer — hll_sketch_agg over stored sketches would treat each
        # buffer as one new value after a compaction). Non-binary
        # fields sketch raw values (single-merge convenience form).
        if ftype.lower() == "binary":
            return F.expr(f"hll_union_agg({v}, true)")
        return F.expr(f"hll_sketch_agg({v})")
    if func == "theta_sketch":
        # FieldThetaSketchAgg: mergeable distinct-count sketch, dispatched
        # on the field type. binary fields union SERIALIZED DataSketches
        # compact theta sketches (functions/sketches.py implements the
        # serVer-3 wire format + murmur3 hashing) — the reference's exact
        # contract. array<bigint> fields hold REAL KMV theta sketches
        # (the k smallest distinct hash values — the structure theta
        # sketches are built on): union = merge + keep k smallest, exact
        # below k, and set algebra stays possible on the stored form.
        if ftype.lower() == "binary":
            return _sketch_union_expr("theta", F.expr(f"collect_list({v})"), k=sketch_k)
        if ftype.lower().startswith("array"):
            return F.expr(
                f"slice(array_sort(array_distinct(flatten(collect_list({v})))), 1, {sketch_k})"
            )
        return F.expr(f"hll_sketch_agg({v})")
    if func == "nested_update":
        # FieldNestedUpdateAgg without nested-key: append nested rows in
        # sequence order (arrays from compacted files come first)
        return F.expr(
            f"flatten(transform(array_sort(collect_list(CASE WHEN {v} IS NOT NULL THEN struct(`{seq}` AS s, {c} AS v) END), {_SEQ_CMP}), x -> x.v))"
        )
    raise ValueError(f"unsupported aggregate-function {func}")


def theta_sketch_build(col, k: int = 4096):
    """Aggregate expression building a KMV theta sketch (array<bigint> of
    the k smallest distinct xxhash64 values) from raw column values —
    the input side of the array-typed ``theta_sketch`` aggregator."""
    c = col if not isinstance(col, str) else F.col(col)
    return F.slice(F.array_sort(F.collect_set(F.xxhash64(c))), 1, k)


def theta_sketch_estimate(sketch, k: int = 4096):
    """Distinct-count estimate from a KMV sketch: exact below k, else
    (k-1)/theta with theta = the kth hash normalized to (0,1)."""
    s = sketch if not isinstance(sketch, str) else F.col(sketch)
    n = F.size(s)
    kth = F.element_at(s, k).cast("double")
    theta = (kth + F.lit(float(2**63))) / F.lit(float(2**64))
    return F.when(n < k, n.cast("double")).otherwise(F.lit(float(k - 1)) / theta)


def _nested_update_keyed(name: str, seq: str, ftype: str, nested_keys: tuple[str, ...]):
    """FieldNestedUpdateAgg with ``fields.<f>.nested-key``: union nested
    rows, then keep only the latest version per nested key. Newest-first
    fold with an exists() check — O(n²) in the nested-array length,
    which is per-record-small by construction."""
    c = f"`{name}`"
    v = f"(CASE WHEN NOT ({_RETRACT}) THEN {c} END)"
    flat = (
        f"flatten(transform(array_sort(collect_list(CASE WHEN {v} IS NOT NULL THEN struct(`{seq}` AS s, {c} AS v) END), {_SEQ_CMP}), x -> x.v))"
    )
    same_key = " AND ".join(f"(y.`{k}` <=> x.`{k}`)" for k in nested_keys)
    return F.expr(
        f"reverse(aggregate(reverse({flat}), cast(array() as {ftype}), "
        f"(acc, x) -> CASE WHEN exists(acc, y -> {same_key}) THEN acc ELSE array_append(acc, x) END))"
    )


def _nested_partial_update_expr(
    name: str, seq: str, ftype: str, nested_keys: tuple[str, ...]
):
    """FieldNestedPartialUpdateAgg: union nested rows in sequence
    order, then PARTIAL-update per nested key — each later row's
    non-null fields overwrite, nulls keep the accumulated value
    (partialUpdate loop, FieldNestedPartialUpdateAgg.java:99-107).
    Output keeps first-appearance key order (the reference's HashMap
    order is unspecified; first-appearance is the deterministic
    choice). O(n²) in the nested-array length like the keyed
    nested_update — per-record-small by construction."""
    from pyspark.sql.types import _parse_datatype_string

    dt = _parse_datatype_string(ftype)
    felt = dt.elementType  # StructType of the nested row
    c = f"`{name}`"
    v = f"(CASE WHEN NOT ({_RETRACT}) THEN {c} END)"
    flat = (
        f"filter(flatten(transform(array_sort(collect_list(CASE WHEN {v} "
        f"IS NOT NULL THEN struct(`{seq}` AS s, {c} AS v) END), {_SEQ_CMP}), "
        f"x -> x.v)), x -> x IS NOT NULL)"
    )
    same_key = " AND ".join(f"(y.`{k}` <=> x.`{k}`)" for k in nested_keys)
    merged_row = "named_struct(" + ", ".join(
        f"'{f.name}', coalesce(x.`{f.name}`, y.`{f.name}`)" for f in felt.fields
    ) + ")"
    return F.expr(
        f"aggregate({flat}, cast(array() as {ftype}), (acc, x) -> "
        f"CASE WHEN exists(acc, y -> {same_key}) THEN "
        f"transform(acc, y -> CASE WHEN {same_key} THEN {merged_row} ELSE y END) "
        f"ELSE array_append(acc, x) END)"
    )


def _sql_str_lit(s: str) -> str:
    """SQL single-quoted string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _listagg_expr(name: str, seq: str, delimiter: str, distinct: bool):
    """FieldListaggAgg: sequence-ordered concat with the field's
    ``list-agg-delimiter``; ``distinct=true`` splits every input by the
    WHOLE delimiter, drops empty tokens and keeps each token's first
    occurrence (FieldListaggAgg.java:65-84)."""
    c = f"`{name}`"
    v = f"(CASE WHEN NOT ({_RETRACT}) THEN {c} END)"
    vals = (
        f"transform(array_sort(collect_list(CASE WHEN {v} IS NOT NULL "
        f"THEN struct(`{seq}` AS s, {c} AS v) END), {_SEQ_CMP}), x -> x.v)"
    )
    dlit = _sql_str_lit(delimiter)
    if distinct:
        # \Q..\E-quote the delimiter: split() takes a Java regex
        pat = _sql_str_lit("\\Q" + delimiter.replace("\\E", "\\E\\\\E\\Q") + "\\E")
        toks = (
            f"filter(flatten(transform({vals}, x -> split(x, {pat}, -1))), "
            f"t -> t != '')"
        )
        return F.expr(f"array_join(array_distinct({toks}), {dlit})")
    return F.expr(f"array_join({vals}, {dlit})")


def _agg_field_expr(name: str, m: FieldMerge, seq: str):
    """One field's aggregation expression (merge_map / nested_update /
    the _agg_expr matrix) for its ``field_merges`` entry, ordered by the
    ``seq`` column — a plain column name, so callers may substitute a
    precomputed composite order (e.g. a sequence-group struct). Shared
    by the aggregation engine and aggregation-for-partial-update."""
    if m.func == "merge_map":
        c, v = f"`{name}`", f"(CASE WHEN NOT ({_RETRACT}) THEN `{name}` END)"
        # FieldMergeMapAgg: later entries win (needs mapKeyDedupPolicy=LAST_WIN)
        return F.expr(
            f"aggregate(transform(array_sort(collect_list(CASE WHEN {v} IS NOT NULL THEN struct(`{seq}` AS s, {c} AS v) END), {_SEQ_CMP}), x -> x.v), cast(map() as {m.type}), (acc, x) -> map_concat(acc, x))"
        )
    if m.func == "nested_partial_update":
        return _nested_partial_update_expr(name, seq, m.type, m.nested_key)
    if m.func == "nested_update":
        if m.nested_key:
            expr = _nested_update_keyed(name, seq, m.type, m.nested_key)
        else:
            expr = _agg_expr(m.func, name, seq, m.type, retract=not m.ignore_retract)
        if m.count_limit is not None:
            # fields.<f>.count-limit (aggregation.md:311): cap the
            # nested table at N rows, selected sequentially
            expr = F.slice(expr, 1, m.count_limit)
        return expr
    if m.func == "listagg":
        return _listagg_expr(name, seq, m.delimiter, m.distinct)
    return _agg_expr(
        m.func,
        name,
        seq,
        m.type,
        retract=not m.ignore_retract,
        sketch_k=m.theta_k,
    )


def _aggregation_aggs(merges: dict[str, FieldMerge], seq: str) -> list:
    """Per-field aggregate expressions of the aggregation engine
    (shared by the full merge and the universal-compaction fold)."""
    return [
        _agg_field_expr(name, m, seq).cast(m.type).alias(name)
        for name, m in merges.items()
    ]


def _aggregation(
    df: DataFrame,
    schema: TableSchema,
    seq_col: str = SEQUENCE_NUMBER,
    extra: list[str] = (),
) -> DataFrame:
    """aggregation merge engine: groupBy(pk).agg(per-field functions).

    Partial aggregates from compacted files re-aggregate correctly for
    the associative functions (sum/min/max/bool/collect/listagg);
    first/last use sequence order, where compacted rows carry earlier
    sequences than fresh level-0 rows — same invariant the LSM merge
    relies on. Retractions (``-U``/``-D`` payloads): sum/count subtract
    (FieldSumAgg.retract); other aggregators ignore the retracted
    payload (FieldIgnoreRetractAgg). With remove-on-delete
    (``field_merges``) a trailing ``-D`` drops the whole record instead.
    """
    keys = _key_cols(schema) + list(extra)
    seq = seq_col
    merges = field_merges(schema)
    aggs = _aggregation_aggs(merges.fields, seq)
    aggs.append(F.max(F.expr(f"CASE WHEN NOT ({_RETRACT}) THEN `{seq}` END")).alias("__ups_seq"))
    merged = df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)
    if merges.remove_on_delete:
        deletes = (
            df.where(F.col(VALUE_KIND) == KIND_DELETE)
            .groupBy(*[F.col(k) for k in keys])
            .agg(F.max(F.col(seq)).alias("__del_seq"))
        )
        merged = merged.join(deletes, on=keys, how="left").where(
            F.col("__del_seq").isNull() | (F.col("__ups_seq") > F.col("__del_seq"))
        )
    return merged.select(*schema.field_names(), *[F.col(c) for c in extra])


# --- universal (partial) compaction folds (SURVEY §4.2; T13) ---

def fold_supported(schema: TableSchema) -> bool:
    """True when this table's merge engine folds ASSOCIATIVELY over the
    newest runs only, so universal compaction may rewrite a partial run
    prefix (UniversalCompaction.java picks; MergeTreeCompactRewriter
    dropDelete=false). deduplicate/first-row always qualify (their fold
    is ``fold_winner``, the winner row by effective sequence);
    partial-update and aggregation qualify when every field function
    is fold-safe (``MergeFunc.prefix_safe`` / ``group_safe``). A user
    ``sequence.field`` re-attributes folded last-non-null fields at the
    folded row's version, which is wrong ONLY when an unselected older
    run holds an intermediate version — per-bucket file stats decide
    that at pick time (Table._fold_seq_guard): guarded-OK picks fold
    partially, guard failures promote to a whole-bucket merge (always
    sound; no older run remains). Keys carrying retract/delete rows
    never fold — they pass through ``fold_runs`` unchanged."""
    engine = schema.options.get("merge-engine", ENGINE_DEDUPLICATE)
    if engine in (ENGINE_DEDUPLICATE, ENGINE_FIRST_ROW):
        return True
    if engine not in (ENGINE_PARTIAL_UPDATE, ENGINE_AGGREGATION):
        return False
    return all(m.fold_safe for m in field_merges(schema).fields.values())


def fold_runs(df: DataFrame, schema: TableSchema, bucket_col: str) -> DataFrame:
    """Partial fold of the NEWEST LSM runs for the partial-update /
    aggregation engines — universal compaction's rewrite body.

    Keys whose selected rows contain a retract/delete (``-D``; also
    ``-U`` for aggregation, whose retract arithmetic must still see
    unmerged older runs) pass through UNFOLDED with their original row
    kind and sequence — delete elision and retractions resolve only at
    a full merge. Every other key folds to ONE ``+I`` row via the same
    per-field expressions the read path uses, carrying the max input
    sequence; associativity vs older runs per ``fold_supported``.

    Returns rows with data columns + ``_VALUE_KIND`` +
    ``_SEQUENCE_NUMBER`` + the bucket column.
    """
    from pyspark.sql import Window

    engine = schema.options.get("merge-engine", ENGINE_DEDUPLICATE)
    keys = _key_cols(schema) + [bucket_col]
    # sequence.field: fold in EFFECTIVE order, exactly like merge_view
    # — the compactor's stats guard (or a whole-bucket pick) has already
    # established that the selection is a true suffix of that order
    # relative to unselected runs
    df, seq_col = _effective_seq(df, schema)
    if engine == ENGINE_PARTIAL_UPDATE:
        # -U is a retract for partial update too (silently ignored
        # without groups, a group retract with them) — folding it
        # through the kind-blind aggs would apply its values
        bad_kinds = list(UNFOLDABLE_KINDS)
        prep, aggs = _partial_update_aggs(schema, seq_col)
    elif engine == ENGINE_AGGREGATION:
        bad_kinds = list(UNFOLDABLE_KINDS)
        prep, aggs = [], _aggregation_aggs(field_merges(schema).fields, seq_col)
    else:  # pragma: no cover — deduplicate/first-row use fold_winner
        raise ValueError(f"fold_runs does not handle merge-engine {engine}")

    flag = F.max(F.when(F.col(VALUE_KIND).isin(bad_kinds), 1).otherwise(0)).over(
        Window.partitionBy(*[F.col(k) for k in keys])
    )
    df = df.withColumn("__unfoldable", flag)
    out_cols = [*schema.field_names(), VALUE_KIND, SEQUENCE_NUMBER, bucket_col]
    passthrough = df.where(F.col("__unfoldable") == 1).select(*out_cols)
    fold_in = df.where(F.col("__unfoldable") == 0)
    for name, col in prep:
        fold_in = fold_in.withColumn(name, col)
    folded = (
        fold_in
        .groupBy(*[F.col(k) for k in keys])
        .agg(*aggs, F.max(F.col(SEQUENCE_NUMBER)).alias(SEQUENCE_NUMBER))
        .withColumn(VALUE_KIND, F.lit(KIND_INSERT))
        .select(*out_cols)
    )
    return folded.unionByName(passthrough)
