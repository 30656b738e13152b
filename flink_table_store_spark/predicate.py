"""Predicate mini-AST: evaluable against file stats, convertible to Columns.

Mirrors paimon-common predicate/ (LeafPredicate + CompoundPredicate,
PredicateBuilder.java:76-230). Catalyst handles expression evaluation on
data; this AST exists so the *driver planner* can prune partitions and
files from manifest min/max stats without touching Spark — the same
division of labor as the reference (stats evaluation in
KeyValueFileStoreScan.java:58 / AppendOnlyFileStoreScan.java:44).

``test(stats, row_count)`` answers "MIGHT this file contain a matching
row?" — must never return False for a file that contains matches
(pruning is conservative; unknown → True).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date, datetime
from decimal import Decimal
from typing import Any, Collection

from pyspark.sql import Column
from pyspark.sql import functions as F

from flink_table_store_spark.schema import quote_ident


def _norm(v: Any) -> Any:
    """Normalize literals to the manifest-stats domain: ISO strings for
    temporal types, base64 for bytes and float for Decimal — the SAME
    encoding fileindex's ``_safe`` applies when persisting value sets, so
    membership tests ('=' / 'in' never raise TypeError) compare in one
    domain instead of silently returning False and wrongly pruning."""
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        import base64 as _b64

        return _b64.b64encode(bytes(v)).decode("ascii")
    if isinstance(v, Decimal):
        return float(v)
    return v


class Predicate:
    def test(self, stats: dict[str, dict[str, Any]], row_count: int) -> bool:
        raise NotImplementedError

    def test_partition(self, partition: dict[str, str]) -> bool:
        """Evaluate against concrete partition values; non-partition
        predicates return True (unknown)."""
        raise NotImplementedError

    def to_column(self, columns: Collection[str] = ()) -> Column:
        """The predicate as a Spark Column. A field named in ``columns``
        (the frame's top-level columns) is that column even when its name
        holds a dot; any other dotted field is a struct-leaf path."""
        raise NotImplementedError

    def to_arrow_expr(self):
        """Exact pyarrow dataset expression (SQL WHERE semantics: false
        and NULL rows drop) — the local no-Spark read path's filter.
        pypaimon analogue: common/predicate.py Predicate.to_arrow."""
        raise NotImplementedError

    def fields(self) -> set[str] | None:
        """Referenced column names; None when unknown (Raw)."""
        raise NotImplementedError

    def __and__(self, other: "Predicate") -> "Predicate":
        return And([self, other])

    def __or__(self, other: "Predicate") -> "Predicate":
        return Or([self, other])


@dataclass
class Leaf(Predicate):
    op: str  # =, <>, <, <=, >, >=, in, not_in, is_null, is_not_null, starts_with, ends_with, contains, between
    field: str
    literals: tuple = ()

    def fields(self):
        return {self.field}

    def _mm(self, stats):
        s = stats.get(self.field)
        if not s:
            return None, None, None
        return s.get("min"), s.get("max"), s.get("nulls", 0)

    def _bloom_test(self, stats: dict[str, dict[str, Any]], lit_idx: int) -> bool:
        """Consult the file's embedded bloom index for literal #lit_idx,
        when plan-time positions were attached (fileindex.
        attach_bloom_positions) and the file's bitset was built with the
        same size m. True = might contain (never wrongly prunes)."""
        positions = getattr(self, "bloom_positions", None)
        if not positions:
            return True
        bloom = (stats.get(self.field) or {}).get("bloom")
        if not bloom or bloom.get("m") != getattr(self, "bloom_m", None):
            return True
        from flink_table_store_spark.fileindex import might_contain

        return might_contain(bloom, positions[lit_idx])

    def test(self, stats: dict[str, dict[str, Any]], row_count: int) -> bool:
        mn, mx, nulls = self._mm(stats)
        op, lits = self.op, tuple(_norm(x) for x in self.literals)
        if op == "is_null":
            return nulls is None or nulls > 0 or mn is None
        if op == "is_not_null":
            return not (nulls is not None and row_count > 0 and nulls >= row_count)
        # exact per-file distinct-value set (bitmap file index) decides
        # =/IN/<>/NOT IN — and RANGE predicates — with no false
        # positives when present. Ranges over the value set are the
        # file-granularity projection of the reference's range-bitmap /
        # bit-slice indexes (fileindex/rangebitmap/RangeBitmapFileIndex-
        # Factory.java:29, bsi/BitSliceIndexBitmapFileIndexFactory.java
        # :29): a low-NDV unsorted column spans nearly the full min/max
        # range in every file, but its per-file distinct set answers
        # BETWEEN / < / > exactly.
        vals = (stats.get(self.field) or {}).get("values")
        if vals is not None:
            try:
                if op == "=":
                    return lits[0] in vals and self._bloom_test(stats, 0)
                if op == "in":
                    return any(v in vals for v in lits)
                if op == "<>":
                    return any(v != lits[0] for v in vals) or not vals
                if op == "not_in":
                    return any(v not in lits for v in vals) or not vals
                if op == "<":
                    return any(v < lits[0] for v in vals) or not vals
                if op == "<=":
                    return any(v <= lits[0] for v in vals) or not vals
                if op == ">":
                    return any(v > lits[0] for v in vals) or not vals
                if op == ">=":
                    return any(v >= lits[0] for v in vals) or not vals
                if op == "between":
                    return any(lits[0] <= v <= lits[1] for v in vals) or not vals
            except TypeError:
                pass  # literal/value type mismatch → fall back to min/max
        if mn is None or mx is None:
            return True  # no stats → can't prune
        try:
            if op == "=":
                return mn <= lits[0] <= mx and self._bloom_test(stats, 0)
            if op == "<>":
                return not (mn == mx == lits[0])
            if op == "<":
                return mn < lits[0]
            if op == "<=":
                return mn <= lits[0]
            if op == ">":
                return mx > lits[0]
            if op == ">=":
                return mx >= lits[0]
            if op == "in":
                return any(
                    mn <= v <= mx and self._bloom_test(stats, i)
                    for i, v in enumerate(lits)
                )
            if op == "not_in":
                return not (mn == mx and mn in lits)
            if op == "between":
                return mn <= lits[1] and mx >= lits[0]
            if op == "starts_with":
                p = lits[0]
                return str(mn)[: len(p)] <= p <= str(mx)[: len(p)]
        except TypeError:
            return True  # type mismatch between literal and stats → no pruning
        return True  # ends_with / contains: not stats-decidable

    def test_partition(self, partition: dict[str, str]) -> bool:
        if self.field not in partition:
            return True
        v = partition[self.field]
        lits = [str(_norm(x)) for x in self.literals]
        op = self.op
        if op == "=":
            return v == lits[0]
        if op == "<>":
            return v != lits[0]
        if op == "in":
            return v in lits
        if op == "not_in":
            return v not in lits
        if op == "is_null":
            return v == ""
        if op == "is_not_null":
            return v != ""
        if op == "starts_with":
            return v.startswith(lits[0])
        # ordered comparisons on the raw string form — only safe when the
        # caller uses zero-padded / ISO partition values; be conservative.
        try:
            typed = type(_norm(self.literals[0]))(v)
        except (ValueError, TypeError):
            return True
        if op == "<":
            return typed < self.literals[0]
        if op == "<=":
            return typed <= self.literals[0]
        if op == ">":
            return typed > self.literals[0]
        if op == ">=":
            return typed >= self.literals[0]
        if op == "between":
            return self.literals[0] <= typed <= self.literals[1]
        return True

    def to_column(self, columns: Collection[str] = ()) -> Column:
        c = F.col(quote_ident(self.field) if self.field in columns else self.field)
        lits = self.literals
        return {
            "=": lambda: c == lits[0],
            "<>": lambda: c != lits[0],
            "<": lambda: c < lits[0],
            "<=": lambda: c <= lits[0],
            ">": lambda: c > lits[0],
            ">=": lambda: c >= lits[0],
            "in": lambda: c.isin(list(lits)),
            "not_in": lambda: ~c.isin(list(lits)),
            "is_null": lambda: c.isNull(),
            "is_not_null": lambda: c.isNotNull(),
            "starts_with": lambda: c.startswith(lits[0]),
            "ends_with": lambda: c.endswith(lits[0]),
            "contains": lambda: c.contains(lits[0]),
            "between": lambda: c.between(lits[0], lits[1]),
        }[self.op]()

    def to_arrow_expr(self):
        import pyarrow.compute as pc

        c, lits = pc.field(self.field), [
            _norm(x) for x in self.literals
        ]
        return {
            "=": lambda: c == lits[0],
            "<>": lambda: c != lits[0],
            "<": lambda: c < lits[0],
            "<=": lambda: c <= lits[0],
            ">": lambda: c > lits[0],
            ">=": lambda: c >= lits[0],
            "in": lambda: c.isin(list(lits)),
            # arrow is_in maps NULL to false, so a bare invert would KEEP
            # nulls; SQL's NOT IN drops them — mask validity explicitly
            "not_in": lambda: c.is_valid() & ~c.isin(list(lits)),
            "is_null": lambda: c.is_null(),
            "is_not_null": lambda: c.is_valid(),
            "starts_with": lambda: pc.starts_with(c, lits[0]),
            "ends_with": lambda: pc.ends_with(c, lits[0]),
            "contains": lambda: pc.match_substring(c, lits[0]),
            "between": lambda: (c >= lits[0]) & (c <= lits[1]),
        }[self.op]()


@dataclass
class And(Predicate):
    children: list[Predicate]

    def test(self, stats, row_count):
        return all(c.test(stats, row_count) for c in self.children)

    def test_partition(self, partition):
        return all(c.test_partition(partition) for c in self.children)

    def fields(self):
        out: set[str] = set()
        for c in self.children:
            f = c.fields()
            if f is None:
                return None
            out |= f
        return out

    def to_column(self, columns: Collection[str] = ()) -> Column:
        col = self.children[0].to_column(columns)
        for c in self.children[1:]:
            col = col & c.to_column(columns)
        return col

    def to_arrow_expr(self):
        e = self.children[0].to_arrow_expr()
        for c in self.children[1:]:
            e = e & c.to_arrow_expr()
        return e


@dataclass
class Or(Predicate):
    children: list[Predicate]

    def test(self, stats, row_count):
        return any(c.test(stats, row_count) for c in self.children)

    def test_partition(self, partition):
        return any(c.test_partition(partition) for c in self.children)

    def fields(self):
        out: set[str] = set()
        for c in self.children:
            f = c.fields()
            if f is None:
                return None
            out |= f
        return out

    def to_column(self, columns: Collection[str] = ()) -> Column:
        col = self.children[0].to_column(columns)
        for c in self.children[1:]:
            col = col | c.to_column(columns)
        return col

    def to_arrow_expr(self):
        e = self.children[0].to_arrow_expr()
        for c in self.children[1:]:
            e = e | c.to_arrow_expr()
        return e


@dataclass
class Raw(Predicate):
    """Arbitrary Spark Column predicate — not stats-decidable, so it never
    prunes files; Catalyst evaluates it as the residual filter. The escape
    hatch for expressions beyond the leaf set (same role as the reference
    falling back to un-pushable predicates)."""

    column: Any  # pyspark Column

    def test(self, stats, row_count):
        return True

    def test_partition(self, partition):
        return True

    def fields(self):
        return None

    def to_column(self, columns: Collection[str] = ()) -> Column:
        return self.column

    def to_arrow_expr(self):
        raise ValueError(
            "raw Spark-Column predicates cannot run on the local (no-"
            "Spark) read path — use leaf predicate builders instead"
        )


# --- builder helpers (PredicateBuilder.java:76-230) ---

def raw(column) -> Raw:
    return Raw(column)


def equal(f, v):
    return Leaf("=", f, (v,))

def not_equal(f, v):
    return Leaf("<>", f, (v,))

def less_than(f, v):
    return Leaf("<", f, (v,))

def less_or_equal(f, v):
    return Leaf("<=", f, (v,))

def greater_than(f, v):
    return Leaf(">", f, (v,))

def greater_or_equal(f, v):
    return Leaf(">=", f, (v,))

def is_null(f):
    return Leaf("is_null", f)

def is_not_null(f):
    return Leaf("is_not_null", f)

def isin(f, vals):
    return Leaf("in", f, tuple(vals))

def not_in(f, vals):
    return Leaf("not_in", f, tuple(vals))

def starts_with(f, v):
    return Leaf("starts_with", f, (v,))

def ends_with(f, v):
    return Leaf("ends_with", f, (v,))

def contains(f, v):
    return Leaf("contains", f, (v,))

def between(f, lo, hi):
    return Leaf("between", f, (lo, hi))

def and_(*ps):
    return And(list(ps))

def or_(*ps):
    return Or(list(ps))


def sub_predicate(pred: Predicate | None, keep) -> Predicate | None:
    """The largest sub-predicate of ``pred`` built from leaves for which
    ``keep(leaf)`` holds, implied by ``pred`` (every row ``pred`` keeps,
    it keeps too); None when nothing is left. A conjunct may drop out
    of an AND; weakening one arm of an OR is unsound, so an OR stays
    whole or goes. Over primary-key columns it is safe to apply before
    a merge: every version of a key shares its key values."""
    if pred is None:
        return None
    if isinstance(pred, And):
        kept = [s for c in pred.children if (s := sub_predicate(c, keep))]
        if not kept:
            return None
        return kept[0] if len(kept) == 1 else And(kept)
    if isinstance(pred, Or):
        kept = [sub_predicate(c, keep) for c in pred.children]
        if any(k is None for k in kept):
            return None
        return Or(kept)
    if isinstance(pred, Leaf) and keep(pred):
        return pred
    return None
