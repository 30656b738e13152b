"""Fuzz family #4: the merge-engine matrix (VERDICT r4 task 6).

Seeded op interleavings over the three non-trivial merge-engine shapes
— deduplicate + ``sequence.field``, partial-update + sequence-groups,
and aggregation (sum / last_non_null / collect / merge_map) — mixed
with UNIVERSAL (partial) compaction, full compaction and snapshot
expiry. After every committed op the table's merged read is compared
against a serial Python oracle that replays the engine semantics row
by row (the reference's PartialUpdateMergeFunction/AggregateMergeFunction
test matrices, randomized). This is exactly the class where round-4
parity testing found two real wrong-answer bugs (sequence-group
shadowing; merge_map analysis crash), and it directly audits round 5's
partial-fold rewrite (merge_engines.fold_runs) against unmerged runs.
The same read goes through every surface — ``to_df`` (the Catalyst
fold), the local Arrow reader, ``format("ftss")``, ``PartialLookupTable``
and the bucketed joins (the per-bucket pandas kernel) — and all must
agree, so the kernel is checked against the same oracle. Writes
alternate between the two write sinks (``_write``), so every table
merges runs written by pyarrow on the driver with runs written by a
Spark job, and compactions alternate between the driver branch and the
Spark branch (``_compact``). Two deduplicate families widen the value
domain: string partition values ``None``/``''``/``'a/b'`` and a map
column.

Oracle model: a global row counter stands in for _SEQUENCE_NUMBER —
the engine assigns monotonically-increasing sequences in input order
within a batch and across commits, so only the ORDER matters and the
counter reproduces it exactly.
"""

from __future__ import annotations

import collections
import contextlib
import math
import random

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from flink_table_store_spark import write as W

# Only seed 0 of each family runs in the fast tier; the other seeds are
# slow-tier (run `-m ""` for the full suite).


def _drive(spark, spark_branch, t, rng, n_ops, write_batch, apply_batch, expected, on_full=None):
    """Shared loop: interleave writes / compactions / expiry; compare
    the merged read against ``expected()`` after every op. ``on_full``
    lets the oracle model TOMBSTONE GC: a full compaction materializes
    the merged state and physically drops -D rows, so the version
    history of a deleted key ends there (exactly as the reference's
    dropDelete=true at maxLevel)."""

    def do_write():
        rows = write_batch()
        if rows:
            apply_batch(rows)

    def compact_universal():
        _compact(spark, spark_branch, t, full=False, trigger_runs=rng.choice([2, 3, 5]))

    def compact_full():
        _compact(spark, spark_branch, t, full=True)
        if on_full is not None:
            on_full()

    def expire():
        t.refresh().expire_snapshots(retain_last=rng.randint(1, 4))

    pool = (
        [do_write] * 6 + [compact_universal] * 3 + [compact_full] * 1 + [expire] * 1
    )
    do_write()
    for step in range(n_ops):
        rng.choice(pool)()
        got = _read(spark, spark_branch, t)
        want = expected()
        assert got == want, (
            f"step {step}: diverged\n"
            f"extra={ {k: got[k] for k in set(got) - set(want)} }\n"
            f"missing={ {k: want[k] for k in set(want) - set(got)} }\n"
            f"wrong={ {k: (got[k], want[k]) for k in got if k in want and got[k] != want[k]} }"
        )
    rep = t.refresh().doctor(spark)
    assert rep["files"]["rows"] >= 0


def _norm(v, ddl: str = ""):
    """One spelling per value across read surfaces: Spark rows, Arrow
    lists and the bucket reader's pandas frames (numpy scalars and
    arrays, pd.NA/NaN nulls, maps as (key, value) pairs)."""
    if v is None or v is pd.NA or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, np.generic):
        return _norm(v.item())
    t = ddl.lower()
    if t.startswith("map"):
        return {_norm(a): _norm(b) for a, b in (v.items() if isinstance(v, dict) else v)}
    if t.startswith("array"):
        return [_norm(x) for x in v]
    return v


def _read(spark, spark_branch, t, keys=range(25)):
    """The merged read of ``t`` keyed by its first column. Every read
    surface must return it: ``to_df`` on its driver branch (these
    tables are small) and forced onto its Spark branch, with equal
    schemas, the local Arrow reader, the ``ftss`` format, a
    ``PartialLookupTable`` probed for every key of ``keys`` (absent and
    deleted keys must answer None), and inner bucketed self-joins
    (two-table and chain) projected to the base table's columns."""
    from flink_table_store_spark.operators.bucketed_join import (
        join_bucketed,
        join_bucketed_chain,
    )
    from flink_table_store_spark.operators.lookup import PartialLookupTable
    from flink_table_store_spark.sources.datasource import register_data_source

    t = t.refresh()
    names = t.schema.field_names()
    types = [f.type for f in t.schema.fields]

    def by_key(records) -> dict:
        out = {}
        for rec in records:
            vals = [_norm(rec[c], ty) for c, ty in zip(names, types)]
            out[vals[0]] = tuple(vals[1:])
        return out

    df = t.to_df(spark)
    with spark_branch():
        spark_df = t.to_df(spark)
    assert spark_df.schema == df.schema
    got = by_key(df.collect())
    register_data_source(spark)
    lookup = PartialLookupTable(spark, t)
    found = [lookup.lookup({names[0]: k}) for k in keys]
    surfaces = {
        "to_df (Spark branch)": by_key(spark_df.collect()),
        "to_arrow": by_key(t.read_builder().to_arrow().to_pylist()),
        "ftss": by_key(spark.read.format("ftss").load(t.path).collect()),
        "lookup": by_key(r for r in found if r is not None),
        "join_bucketed": by_key(join_bucketed(spark, t, t).select(*names).collect()),
        "join_bucketed_chain": by_key(
            join_bucketed_chain(spark, [t, t]).select(*names).collect()
        ),
    }
    for name, other in surfaces.items():
        assert other == got, (
            f"{name} disagrees with to_df\n"
            f"extra={ {k: other[k] for k in set(other) - set(got)} }\n"
            f"missing={ {k: got[k] for k in set(got) - set(other)} }\n"
            f"wrong={ {k: (other[k], got[k]) for k in other if k in got and other[k] != got[k]} }"
        )
    return got


_writes: collections.Counter = collections.Counter()


def _write(spark, t, rows, ddl, **kwargs):
    """``t.write`` of ``rows``, alternating by write index between a
    driver-local frame (the Arrow sink) and the same frame behind
    ``localCheckpoint()``, which is not local (the Spark sink)."""
    names = T._parse_datatype_string(ddl).names
    df = spark.createDataFrame(pd.DataFrame.from_records(rows, columns=names), ddl)
    assert W._driver_local(df)
    i = _writes[t.path]
    _writes[t.path] += 1
    t.write(df if i % 2 == 0 else df.localCheckpoint(), **kwargs)


_compactions: collections.Counter = collections.Counter()


def _compact(spark, spark_branch, t, **kwargs):
    """``t.compact``, alternating by compaction index between its driver
    branch (these tables are far below the byte bound) and its Spark
    branch."""
    i = _compactions[t.path]
    _compactions[t.path] += 1
    with contextlib.nullcontext() if i % 2 == 0 else spark_branch():
        t.refresh().compact(spark, **kwargs)


# --- family A: deduplicate + sequence.field --------------------------------


def _seeds(n: int) -> list:
    return [0] + [pytest.param(s, marks=pytest.mark.slow) for s in range(1, n)]


@pytest.mark.parametrize("seed", _seeds(6))
def test_fuzz_dedup_sequence_field(spark, warehouse, seed, spark_branch):
    rng = random.Random(4000 + seed)
    ddl = "k bigint, v bigint, ver bigint"
    wddl = ddl + ", rk string"
    t = warehouse.create_table(
        f"db.fz4a_{seed}",
        ddl,
        primary_keys=["k"],
        options={"bucket": "2", "sequence.field": "ver", "snapshot.num-retained.min": "1"},
    )
    # oracle: k -> (eff=(ver, seq), kind, v, ver); winner = max eff.
    # Once a key has seen a -D, later writes use a HIGHER version than
    # anything before: a dropped tombstone (full compaction, universal
    # whole picks) erases the delete's version history, so a lower
    # version arriving after GC would legitimately resurrect the key —
    # engine-correct but unpredictable for a bucket-blind oracle.
    state: dict[int, tuple] = {}
    maxver: dict[int, int] = {}
    deleted_ever: set[int] = set()
    seqc = 0

    def write_batch():
        rows = []
        for k in rng.sample(range(25), rng.randint(1, 8)):
            kind = "-D" if rng.random() < 0.2 else "+I"
            if k in deleted_ever:
                ver = maxver.get(k, 0) + rng.randint(1, 5)
            else:
                # versions deliberately OUT OF ORDER vs commit time
                ver = rng.randint(0, 50)
            maxver[k] = max(maxver.get(k, 0), ver)
            if kind == "-D":
                deleted_ever.add(k)
            rows.append((k, rng.randint(0, 10**6), ver, kind))
        return rows

    def apply_batch(rows):
        nonlocal seqc
        _write(spark, t, rows, wddl, row_kind_col="rk")
        for k, v, ver, kind in rows:
            seqc += 1
            cur = state.get(k)
            if cur is None or (ver, seqc) > cur[0]:
                state[k] = ((ver, seqc), kind, v, ver)

    def expected():
        return {k: (v, ver) for k, (_e, kind, v, ver) in state.items() if kind != "-D"}

    _drive(spark, spark_branch, t, rng, 9, write_batch, apply_batch, expected)


# --- family B: partial-update + sequence-group -----------------------------


@pytest.mark.parametrize("seed", _seeds(6))
def test_fuzz_partial_update_groups(spark, warehouse, seed, spark_branch):
    rng = random.Random(4100 + seed)
    ddl = "k bigint, a string, b string, g bigint, c string"
    wddl = ddl + ", rk string"
    t = warehouse.create_table(
        f"db.fz4b_{seed}",
        ddl,
        primary_keys=["k"],
        options={
            "bucket": "2",
            "merge-engine": "partial-update",
            "fields.g.sequence-group": "c",
            "snapshot.num-retained.min": "1",
        },
    )
    # oracle per key (PartialUpdateMergeFunction.retractWithSequenceGroup
    # semantics): a/b last-non-null among NON-RETRACT rows; group winner
    # = max (g, seq) among rows with g non-null ANY kind — c is the
    # winner's value, NULLED when the winner is a retract (-D/-U); g =
    # max g; a retract with g NULL is a NO-OP; visible iff the key ever
    # saw a non-retract record (meetInsert)
    state: dict[int, dict] = {}
    seqc = 0

    def write_batch():
        rows = []
        for k in rng.sample(range(25), rng.randint(1, 8)):
            r = rng.random()
            if r < 0.15:
                kind = "-D" if rng.random() < 0.5 else "-U"
                g = rng.randint(0, 30) if rng.random() < 0.6 else None
                # retracts sometimes CARRY values — they must never land
                c = f"c{rng.randint(0, 99)}" if rng.random() < 0.3 else None
                rows.append((k, None, None, g, c, kind))
                continue
            a = f"a{rng.randint(0, 99)}" if rng.random() < 0.7 else None
            b = f"b{rng.randint(0, 99)}" if rng.random() < 0.7 else None
            g = rng.randint(0, 30) if rng.random() < 0.7 else None
            c = f"c{rng.randint(0, 99)}" if rng.random() < 0.8 else None
            rows.append((k, a, b, g, c, "+I"))
        return rows

    def apply_batch(rows):
        nonlocal seqc
        _write(spark, t, rows, wddl, row_kind_col="rk")
        for k, a, b, g, c, kind in rows:
            seqc += 1
            st = state.setdefault(
                k, {"a": None, "b": None, "g": None, "c": None, "ck": None, "met": False}
            )
            retract = kind in ("-D", "-U")
            if not retract:
                st["met"] = True
                if a is not None:
                    st["a"] = a
                if b is not None:
                    st["b"] = b
            if g is not None:
                if st["g"] is None or g > st["g"]:
                    st["g"] = g
                if st["ck"] is None or (g, seqc) > st["ck"]:
                    st["ck"] = (g, seqc)
                    # winning retract NULLS the group's value fields;
                    # winning upsert takes the whole row's c, even None
                    st["c"] = None if retract else c
        return rows

    def expected():
        return {
            k: (st["a"], st["b"], st["g"], st["c"])
            for k, st in state.items()
            if st["met"]
        }

    def on_full():
        # tombstone GC: never-inserted keys (all-retract -> merged
        # RowKind.DELETE) vanish for good; a later +I starts fresh
        for k in [k for k, st in state.items() if not st["met"]]:
            del state[k]

    _drive(spark, spark_branch, t, rng, 9, write_batch, apply_batch, expected, on_full=on_full)


# --- family C: aggregation (sum / last_non_null / collect / merge_map) -----


@pytest.mark.parametrize("seed", _seeds(6))
def test_fuzz_aggregation_retracts(spark, warehouse, seed, spark_branch):
    rng = random.Random(4200 + seed)
    ddl = "k bigint, s bigint, last string, vs array<bigint>, m map<string,bigint>"
    wddl = ddl + ", rk string"
    t = warehouse.create_table(
        f"db.fz4c_{seed}",
        ddl,
        primary_keys=["k"],
        options={
            "bucket": "2",
            "merge-engine": "aggregation",
            "fields.s.aggregate-function": "sum",
            "fields.vs.aggregate-function": "collect",
            "fields.m.aggregate-function": "merge_map",
            "snapshot.num-retained.min": "1",
        },
    )
    # oracle per key: s = signed sum (retracts subtract); last =
    # last non-null among non-retract rows; vs = concat of non-retract
    # arrays in seq order; m = map_concat in seq order. Every key ever
    # written stays visible (remove-record-on-delete unset).
    state: dict[int, dict] = {}

    def write_batch():
        rows = []
        for k in rng.sample(range(20), rng.randint(1, 6)):
            kind = rng.choices(["+I", "-U", "-D"], weights=[8, 1, 1])[0]
            s = rng.randint(0, 100) if rng.random() < 0.85 else None
            last = f"L{rng.randint(0, 99)}" if rng.random() < 0.6 else None
            vs = [rng.randint(0, 9) for _ in range(rng.randint(0, 3))] or None
            m = (
                {f"m{rng.randint(0, 4)}": rng.randint(0, 99) for _ in range(rng.randint(1, 2))}
                if rng.random() < 0.6
                else None
            )
            rows.append((k, s, last, vs, m, kind))
        return rows

    def apply_batch(rows):
        _write(spark, t, rows, wddl, row_kind_col="rk")
        for k, s, last, vs, m, kind in rows:
            st = state.setdefault(k, {"s": None, "last": None, "vs": [], "m": {}})
            retract = kind in ("-D", "-U")
            if s is not None:
                st["s"] = (st["s"] or 0) + (-s if retract else s)
            if not retract:
                if last is not None:
                    st["last"] = last
                if vs is not None:
                    st["vs"] = st["vs"] + vs
                if m is not None:
                    st["m"] = {**st["m"], **m}

    def expected():
        return {
            k: (st["s"], st["last"], st["vs"], st["m"]) for k, st in state.items()
        }

    _drive(spark, spark_branch, t, rng, 9, write_batch, apply_batch, expected)


# --- family E: aggregation-for-partial-update (r9 session 3) ---------------


@pytest.mark.parametrize("seed", _seeds(4))
def test_fuzz_partial_update_aggregation(spark, warehouse, seed, spark_branch):
    """partial-update + a sum aggregator inside a sequence group +
    last-non-null non-group fields, mixed with universal and full
    compaction. sum is group-fold-safe, so partial folds DO fire; the
    serial oracle replays updateWithSequenceGroup/retractWith
    SequenceGroup for the order-insensitive aggregator exactly. Group
    versions are drawn IN-ORDER per key (monotone clocks) so the
    sorted fold equals the reference's sequential one."""
    rng = random.Random(4400 + seed)
    ddl = "k bigint, a string, g bigint, total bigint"
    wddl = ddl + ", rk string"
    t = warehouse.create_table(
        f"db.fz4e_{seed}",
        ddl,
        primary_keys=["k"],
        options={
            "bucket": "2",
            "merge-engine": "partial-update",
            "fields.g.sequence-group": "total",
            "fields.total.aggregate-function": "sum",
            "snapshot.num-retained.min": "1",
        },
    )
    # oracle per key: a last-non-null among non-retract rows; total =
    # signed sum over rows with g non-null (retracts subtract, winning
    # or not); g = max g; visible iff a +I was ever seen (meetInsert)
    state: dict[int, dict] = {}
    gclock: dict[int, int] = {}

    def write_batch():
        rows = []
        for k in rng.sample(range(20), rng.randint(1, 6)):
            retract = rng.random() < 0.15
            if retract:
                kind = "-D" if rng.random() < 0.5 else "-U"
                # retract either a known amount under a (possibly
                # stale) version, or an all-null no-op
                if rng.random() < 0.7:
                    g = max(gclock.get(k, 1) - rng.randint(0, 2), 1)
                    amt = rng.randint(1, 50)
                    rows.append((k, None, g, amt, kind))
                else:
                    rows.append((k, None, None, None, kind))
                continue
            a = f"a{rng.randint(0, 99)}" if rng.random() < 0.7 else None
            if rng.random() < 0.8:
                gclock[k] = gclock.get(k, 0) + rng.randint(1, 3)
                g, amt = gclock[k], rng.randint(1, 100)
            else:
                g, amt = None, None  # empty group: total must not move
            rows.append((k, a, g, amt, "+I"))
        return rows

    def apply_batch(rows):
        _write(spark, t, rows, wddl, row_kind_col="rk")
        for k, a, g, amt, kind in rows:
            st = state.setdefault(
                k, {"a": None, "g": None, "total": None, "met": False}
            )
            retract = kind in ("-D", "-U")
            if not retract:
                st["met"] = True
                if a is not None:
                    st["a"] = a
            if g is not None:
                st["g"] = g if st["g"] is None else max(st["g"], g)
                if amt is not None:
                    cur = st["total"] or 0
                    st["total"] = cur - amt if retract else cur + amt
        return rows

    def expected():
        return {
            k: (st["a"], st["g"], st["total"])
            for k, st in state.items()
            if st["met"]
        }

    def on_full():
        for k in [k for k, st in state.items() if not st["met"]]:
            del state[k]

    _drive(spark, spark_branch, t, rng, 9, write_batch, apply_batch, expected, on_full=on_full)


# --- family D: partial-update + global sequence.field (r6 guarded fold) ----


@pytest.mark.parametrize("seed", _seeds(6))
def test_fuzz_partial_update_sequence_field(spark, warehouse, seed, spark_branch):
    """Random version streams under partial-update with a global
    ``sequence.field``, interleaved with universal compaction. Per-KEY
    versions never decrease — merge results are then materialization-
    independent, so the per-field serial oracle is exact regardless of
    when compactions collapse rows (a write BELOW a key's current max
    is materialization-dependent BY DESIGN, pinned separately in
    test_universal_seq_field_materialization_semantics). Cross-key
    clocks advance at wildly different rates, so batch version ranges
    overlap in the bucket-level stats and the guard's promotion path
    fires; occasional epoch jumps land every key past the global max,
    giving true version-suffix runs where the guard passes and the
    PARTIAL fold executes."""
    rng = random.Random(4300 + seed)
    ddl = "k bigint, a string, b string, ver bigint"
    t = warehouse.create_table(
        f"db.fz4d_{seed}",
        ddl,
        primary_keys=["k"],
        options={
            "bucket": "2",
            "merge-engine": "partial-update",
            "sequence.field": "ver",
            "snapshot.num-retained.min": "1",
        },
    )
    state: dict[int, dict] = {}
    key_clock: dict[int, int] = {}
    seqc = 0
    gmax = 0

    def write_batch():
        nonlocal gmax
        epoch = rng.random() < 0.35
        rows = []
        for k in rng.sample(range(25), rng.randint(1, 8)):
            a = f"a{rng.randint(0, 99)}" if rng.random() < 0.7 else None
            b = f"b{rng.randint(0, 99)}" if rng.random() < 0.7 else None
            if epoch:
                key_clock[k] = gmax + rng.randint(1, 3)
            else:
                key_clock[k] = key_clock.get(k, 0) + rng.choice([0, 1, 3, 10])
            gmax = max(gmax, key_clock[k])
            rows.append((k, a, b, key_clock[k]))
        return rows

    def apply_batch(rows):
        nonlocal seqc
        _write(spark, t, rows, ddl)
        for k, a, b, ver in rows:
            seqc += 1
            st = state.setdefault(k, {})
            eff = (ver, seqc)
            for f, v in (("a", a), ("b", b), ("ver", ver)):
                if v is not None and (f not in st or eff > st[f][0]):
                    st[f] = (eff, v)
        return rows

    def expected():
        none = (None, None)
        return {
            k: (st.get("a", none)[1], st.get("b", none)[1], st["ver"][1])
            for k, st in state.items()
        }

    _drive(spark, spark_branch, t, rng, 9, write_batch, apply_batch, expected)


# --- family F: deduplicate, string partition key ---------------------------


@pytest.mark.parametrize("seed", _seeds(6))
def test_fuzz_dedup_partitioned(spark, warehouse, seed, spark_branch):
    """A partition key that draws ``None``, ``''`` (both stored in the
    default partition and read back as NULL) and ``'a/b'`` (an escaped
    directory name). Each key keeps one partition value."""
    rng = random.Random(4500 + seed)
    ddl = "k bigint, p string, v bigint"
    wddl = ddl + ", rk string"
    t = warehouse.create_table(
        f"db.fz4f_{seed}",
        ddl,
        primary_keys=["k", "p"],
        partition_keys=["p"],
        options={"bucket": "2", "snapshot.num-retained.min": "1"},
    )
    part_of = {k: rng.choice([None, "", "a/b", "x"]) for k in range(25)}
    state: dict[int, tuple] = {}

    def write_batch():
        return [
            (k, part_of[k], rng.randint(0, 10**6), "-D" if rng.random() < 0.2 else "+I")
            for k in rng.sample(range(25), rng.randint(1, 8))
        ]

    def apply_batch(rows):
        _write(spark, t, rows, wddl, row_kind_col="rk")
        for k, p, v, kind in rows:
            state[k] = (kind, p or None, v)

    def expected():
        return {k: (p, v) for k, (kind, p, v) in state.items() if kind != "-D"}

    _drive(spark, spark_branch, t, rng, 9, write_batch, apply_batch, expected)


# --- family G: deduplicate, map value column -------------------------------


@pytest.mark.parametrize("seed", _seeds(6))
def test_fuzz_dedup_map_column(spark, warehouse, seed, spark_branch):
    rng = random.Random(4600 + seed)
    ddl = "k bigint, m map<string,bigint>, v bigint"
    wddl = ddl + ", rk string"
    t = warehouse.create_table(
        f"db.fz4g_{seed}",
        ddl,
        primary_keys=["k"],
        options={"bucket": "2", "snapshot.num-retained.min": "1"},
    )
    state: dict[int, tuple] = {}

    def write_batch():
        rows = []
        for k in rng.sample(range(25), rng.randint(1, 8)):
            m = (
                {f"k{rng.randint(0, 5)}": rng.randint(0, 99) for _ in range(rng.randint(0, 3))}
                if rng.random() < 0.8
                else None
            )
            rows.append((k, m, rng.randint(0, 10**6), "-D" if rng.random() < 0.2 else "+I"))
        return rows

    def apply_batch(rows):
        _write(spark, t, rows, wddl, row_kind_col="rk")
        for k, m, v, kind in rows:
            state[k] = (kind, m, v)

    def expected():
        return {k: (m, v) for k, (kind, m, v) in state.items() if kind != "-D"}

    _drive(spark, spark_branch, t, rng, 9, write_batch, apply_batch, expected)
