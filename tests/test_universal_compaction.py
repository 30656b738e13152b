"""Universal compaction picking (UniversalCompaction.java:42-125)."""
from __future__ import annotations

import pytest
from flink_table_store_spark import predicate as P

DDL = "k bigint, v bigint"


def _t(warehouse, name, **extra):
    opts = {"bucket": "1"}
    opts.update(extra)
    return warehouse.create_table(name, DDL, primary_keys=["k"], options=opts)


def _runs(t):
    snap = t.snapshots.latest()
    es = t.manifests.read_live_entries(snap.base_manifest_list, snap.delta_manifest_list)
    return sorted(es, key=lambda e: e.max_seq)


def test_pick_universal_triggers():
    from types import SimpleNamespace as NS

    from flink_table_store_spark.table import Table

    mk = lambda *sizes: [NS(file_size=s, max_seq=i, file_name=str(i)) for i, s in enumerate(sizes)]
    pick = Table._pick_universal
    # below trigger: nothing
    assert pick(mk(100, 10), 200, 1, 5) is None
    # size amplification: newer runs dwarf the oldest -> full merge
    runs = mk(10, 100, 100, 100, 100)
    assert pick(runs, 200, 1, 5) == runs
    # size ratio: similar-sized newest runs merge, big old run survives
    runs = mk(10_000, 10, 10, 11, 12)
    got = pick(runs, 2000, 25, 5)
    assert got is not None and runs[0] not in got and len(got) == 4
    # run count fallback: merge enough newest to drop below trigger
    runs = mk(1000, 200, 50, 4, 1)
    got = pick(runs, 200, 1, 5)
    assert got is not None and got[-1] is runs[-1]


@pytest.mark.slow
def test_universal_partial_merge_correct_and_partial(spark, warehouse):
    """Partial merge: only the small newest runs rewrite; the big oldest
    run is untouched; reads stay exactly right, including deletes of
    keys living in the unmerged run."""
    t = _t(warehouse, "db.uni1")
    t.write(spark.createDataFrame([(k, k) for k in range(5000)], DDL))  # big old run
    t = t.refresh()
    oldest = {e.file_name for e in _runs(t)}
    # 4 small runs incl. an upsert and a delete of keys in the OLD run
    for i in range(3):
        t.write(spark.createDataFrame([(i, 1000 + i)], DDL))
    t.delete(spark, P.equal("k", 50))  # -D row for a key in the old run
    t = t.refresh()
    assert len(_runs(t)) == 5
    t.compact(spark, full=False)
    t = t.refresh()
    runs = _runs(t)
    names = {e.file_name for e in runs}
    assert oldest <= names, "the big oldest run must NOT be rewritten"
    assert len(runs) == 2, f"4 small runs should merge into 1 (got {len(runs)})"
    got = {r.k: r.v for r in t.to_df(spark).collect()}
    expected = {k: k for k in range(5000) if k != 50}
    expected.update({0: 1000, 1: 1001, 2: 1002})
    assert got == expected
    # the -D row survived the partial merge (it still cancels k=50)
    assert 50 not in got


@pytest.mark.slow
def test_universal_size_amplification_goes_full(spark, warehouse):
    t = _t(warehouse, "db.uni2")
    t.write(spark.createDataFrame([(1, 1)], DDL))
    for i in range(5):
        t.write(spark.createDataFrame([(k, 10 * i + k) for k in range(50)], DDL))
    t = t.refresh()
    t.compact(spark, full=False)
    t = t.refresh()
    assert len(_runs(t)) == 1, "amplified bucket must fully merge"
    got = {r.k: r.v for r in t.to_df(spark).collect()}
    assert got[1] == 41 and got[49] == 89 and len(got) == 50


@pytest.mark.slow
def test_universal_preserves_sequence_vs_unmerged_runs(spark, warehouse):
    """After a partial merge, a LATER full read still orders merged rows
    correctly against the untouched older run (sequence preserved)."""
    t = _t(warehouse, "db.uni3")
    t.write(spark.createDataFrame([(k, k) for k in range(40)], DDL))
    for i in range(4):
        t.write(spark.createDataFrame([(5, 500 + i)], DDL))
    t = t.refresh()
    t.compact(spark, full=False)
    t = t.refresh()
    got = {r.k: r.v for r in t.to_df(spark).collect()}
    assert got[5] == 503  # newest upsert wins, not the base run's 5
    # and a fresh write after compaction still supersedes everything
    t.write(spark.createDataFrame([(5, 999)], DDL))
    t = t.refresh()
    assert {r.k: r.v for r in t.to_df(spark).collect()}[5] == 999


def _levels(t):
    return sorted((e.level, e.file_name) for e in _runs(t))


@pytest.mark.slow
def test_universal_whole_pick_commits_max_level(spark, warehouse):
    """A whole-bucket pick drops -D rows and commits at MAX_LEVEL, so
    the next read takes plan_scan's single-run RAW path — no merge
    Exchange (UniversalCompaction.java outputLevel parity)."""
    from flink_table_store_spark import read as read_mod
    from flink_table_store_spark.manifest import MAX_LEVEL

    t = _t(warehouse, "db.unilvl")
    t.write(spark.createDataFrame([(1, 1)], DDL))  # tiny oldest run
    for i in range(5):
        t.write(spark.createDataFrame([(k, 10 * i + k) for k in range(50)], DDL))
    t.delete(spark, P.equal("k", 7))
    t = t.refresh()
    t.compact(spark, full=False)  # size amplification -> whole pick
    t = t.refresh()
    runs = _runs(t)
    assert len(runs) == 1 and runs[0].level == MAX_LEVEL, _levels(t)
    snap = t.snapshots.latest()
    es = t.manifests.read_live_entries(snap.base_manifest_list, snap.delta_manifest_list)
    plan = read_mod.plan_scan(es, t.schema, None)
    assert plan.raw_entries and not plan.merge_entries, "raw shortcut must engage"
    got = {r.k: r.v for r in t.to_df(spark).collect()}
    assert 7 not in got and got[3] == 43 and len(got) == 49


def test_universal_partial_pick_stays_level0(spark, warehouse):
    """A PARTIAL pick keeps level 0 (its -D rows and sequences must
    still merge against the untouched older runs)."""
    import pandas as pd

    t = _t(warehouse, "db.unilvl0")
    t.write(spark.createDataFrame([(k, k) for k in range(5000)], DDL))
    # driver-local frames, as the delete's -D rows are: one sink writes
    # all four one-row runs, so their sizes stay within the size ratio
    for i in range(3):
        t.write(spark.createDataFrame(pd.DataFrame({"k": [i], "v": [1000 + i]}), DDL))
    t.delete(spark, P.equal("k", 50))
    t = t.refresh()
    t.compact(spark, full=False)
    t = t.refresh()
    runs = _runs(t)
    assert len(runs) == 2
    new_run = max(runs, key=lambda e: e.max_seq)
    assert new_run.level == 0, "partial output must NOT take the raw path"


def test_universal_sequence_field_dedup(spark, warehouse):
    """sequence.field tables now take universal compaction: the fold
    winner is by struct(version, seq) — an older-run row with a HIGHER
    version must still win after the partial merge."""
    ddl = "k bigint, v bigint, ver bigint"
    t = warehouse.create_table(
        "db.uniseq",
        ddl,
        primary_keys=["k"],
        options={"bucket": "1", "sequence.field": "ver"},
    )
    # big old run: k=5 already at version 100
    t.write(spark.createDataFrame([(k, k, 100) for k in range(3000)], ddl))
    # small newer runs: k=5 written with LOWER versions (late data),
    # k=6 with higher versions out of input order
    t.write(spark.createDataFrame([(5, 555, 10), (6, 660, 200)], ddl))
    t.write(spark.createDataFrame([(5, 556, 11), (6, 661, 150)], ddl))
    for i in range(3):
        t.write(spark.createDataFrame([(7 + i, 700 + i, 300)], ddl))
    t = t.refresh()
    oldest = _runs(t)[0].file_name  # lowest max_seq = the big old run
    t.compact(spark, full=False)
    t = t.refresh()
    names = {e.file_name for e in _runs(t)}
    assert len(_runs(t)) == 2 and oldest in names
    got = {r.k: (r.v, r.ver) for r in t.to_df(spark).collect()}
    assert got[5] == (5, 100), "old higher version must survive the fold"
    assert got[6] == (660, 200), got[6]
    assert got[9] == (702, 300)


def _parity_tables(warehouse, name, ddl, options):
    a = warehouse.create_table(f"db.{name}_a", ddl, primary_keys=["k"], options=dict(options))
    b = warehouse.create_table(f"db.{name}_b", ddl, primary_keys=["k"], options=dict(options))
    return a, b


def _assert_same(spark, a, b):
    ra = sorted(map(tuple, a.to_df(spark).collect()))
    rb = sorted(map(tuple, b.to_df(spark).collect()))
    assert ra == rb, f"\nuniversal={ra}\nbaseline ={rb}"


@pytest.mark.slow
def test_universal_partial_update_fold_parity(spark, warehouse):
    """Partial-update universal compaction: sequence-group fields,
    plain fields, NULL-skipping, and delete keys (passthrough) all read
    identically to an uncompacted twin table."""
    ddl = "k bigint, a string, b string, g bigint, c string"
    opts = {"bucket": "1", "merge-engine": "partial-update", "fields.g.sequence-group": "c"}
    a, b = _parity_tables(warehouse, "unipu", ddl, opts)
    writes = [
        [(k, f"a{k}", None, 5, f"c{k}") for k in range(2000)],  # big old run
        [(1, None, "b1", None, None), (2, "a2x", None, 3, "cLOW")],
        [(1, "a1y", None, 9, "cHI"), (3, None, "b3", None, None)],
        [(2, None, "b2", 4, "cMID"), (4, "a4", None, 2, "cX")],
        [(1, None, None, 7, "cSEVEN")],
    ]
    for w in writes:
        df = spark.createDataFrame(w, ddl)
        a.write(df)
        b.write(df)
    import flink_table_store_spark.predicate as P2

    a.delete(spark, P2.equal("k", 42))
    b.delete(spark, P2.equal("k", 42))
    a, b = a.refresh(), b.refresh()
    assert len(_runs(a)) == 6
    a.compact(spark, full=False)
    a = a.refresh()
    assert len(_runs(a)) == 2, "partial pick should merge the small runs"
    _assert_same(spark, a, b)
    # group field: g=9 write set c=cHI; the later g=7 write must NOT win
    got = {r.k: (r.a, r.b, r.g, r.c) for r in a.to_df(spark).collect()}
    assert got[1] == ("a1y", "b1", 9, "cHI")
    # fresh writes after the partial merge still merge correctly
    late = spark.createDataFrame([(1, "a1z", None, None, None)], ddl)
    a.write(late)
    b.write(late)
    a, b = a.refresh(), b.refresh()
    _assert_same(spark, a, b)


@pytest.mark.slow
def test_universal_aggregation_fold_parity(spark, warehouse):
    """Aggregation universal compaction: sum/last_non_null/collect/
    merge_map fold associatively; a -U retract key passes through
    unfolded; reads match an uncompacted twin before AND after new
    writes."""

    ddl = "k bigint, s bigint, last string, vs array<bigint>, m map<string,bigint>"
    opts = {
        "bucket": "1",
        "merge-engine": "aggregation",
        "fields.s.aggregate-function": "sum",
        "fields.vs.aggregate-function": "collect",
        "fields.m.aggregate-function": "merge_map",
    }
    a, b = _parity_tables(warehouse, "uniagg", ddl, opts)
    big = [(k, k, f"x{k}", [k], {"a": k}) for k in range(2000)]
    writes = [
        big,
        [(1, 10, None, [101], {"b": 1}), (2, 20, "two", [], None)],
        [(1, 1, "one!", [102], {"a": 99}), (3, 30, None, [303], {"c": 3})],
        [(2, 2, None, [201, 202], {"b": 2}), (4, 40, "four", [404], None)],
        [(5, 50, "five", [505], {"z": 5})],
    ]
    for w in writes:
        df = spark.createDataFrame(w, ddl)
        a.write(df)
        b.write(df)
    # a retraction for k=9 (payload subtracts from sum)
    rdf = spark.createDataFrame(
        [(9, 4, None, None, None, "-U")],
        "k bigint, s bigint, last string, vs array<bigint>, m map<string,bigint>, rk string",
    )
    a.write(rdf, row_kind_col="rk")
    b.write(rdf, row_kind_col="rk")
    a, b = a.refresh(), b.refresh()
    oldest = _runs(a)[0].file_name
    a.compact(spark, full=False, trigger_runs=3)
    a = a.refresh()
    assert len(_runs(a)) <= 3 and oldest in {e.file_name for e in _runs(a)}
    _assert_same(spark, a, b)
    got = {r.k: r for r in a.to_df(spark).collect()}
    assert got[1].s == 12 and got[1].vs == [1, 101, 102] and got[1].last == "one!"
    assert got[1].m == {"a": 99, "b": 1}
    assert got[9].s == 5, "retract passthrough must still subtract"
    late = spark.createDataFrame([(1, 100, None, [9], {"b": 7})], ddl)
    a.write(late)
    b.write(late)
    a, b = a.refresh(), b.refresh()
    _assert_same(spark, a, b)


def test_universal_fold_gate(spark, warehouse):
    """Non-associative shapes refuse the partial fold: count fields
    fall back to whole-bucket merges. sequence.field partial-update IS
    fold-supported since r6 — partial-vs-whole is decided per bucket by
    the version-stats guard instead."""
    from flink_table_store_spark.operators.merge_engines import fold_supported

    t1 = warehouse.create_table(
        "db.unigate1",
        "k bigint, n bigint",
        primary_keys=["k"],
        options={
            "bucket": "1",
            "merge-engine": "aggregation",
            "fields.n.aggregate-function": "count",
        },
    )
    assert not fold_supported(t1.schema)
    t2 = warehouse.create_table(
        "db.unigate2",
        "k bigint, v bigint, ver bigint",
        primary_keys=["k"],
        options={"bucket": "1", "merge-engine": "partial-update", "sequence.field": "ver"},
    )
    assert fold_supported(t2.schema)
    # the count table still compacts (whole-bucket fallback) correctly
    ddl = "k bigint, n bigint"
    t1.write(spark.createDataFrame([(1, 1)], ddl))
    for _ in range(5):
        t1.write(spark.createDataFrame([(1, 1)], ddl))
    t1 = t1.refresh()
    t1.compact(spark, full=False)
    t1 = t1.refresh()
    assert len(_runs(t1)) == 1
    assert t1.to_df(spark).collect()[0].n == 6


def test_universal_first_row_engine(spark, warehouse):
    """first-row tables fold to the MIN-effective-sequence winner; a
    partial merge of newer runs must not displace the first value."""
    ddl = "k bigint, v bigint"
    a = warehouse.create_table(
        "db.unifr_a", ddl, primary_keys=["k"],
        options={"bucket": "1", "merge-engine": "first-row"},
    )
    b = warehouse.create_table(
        "db.unifr_b", ddl, primary_keys=["k"],
        options={"bucket": "1", "merge-engine": "first-row"},
    )
    writes = [[(k, k) for k in range(2000)]] + [
        [(i, 1000 + i), (2000 + i, 2000 + i)] for i in range(4)
    ]
    for w in writes:
        df = spark.createDataFrame(w, ddl)
        a.write(df)
        b.write(df)
    a, b = a.refresh(), b.refresh()
    a.compact(spark, full=False, trigger_runs=3)
    a = a.refresh()
    assert len(_runs(a)) < len(_runs(b))
    _assert_same(spark, a, b)
    got = {r.k: r.v for r in a.to_df(spark).collect()}
    assert got[1] == 1, "first value must survive the partial merge"
    assert got[2001] == 2001


@pytest.mark.slow
def test_universal_with_lookup_changelog_producer(spark, warehouse):
    """changelog-producer=lookup tables may take universal compaction
    (only full-compaction producers pin to the legacy path): write-time
    changelog is unaffected by a partial rewrite, and the audit log
    still carries every change."""
    t = _t(warehouse, "db.unicl", **{"changelog-producer": "lookup"})
    t.write(spark.createDataFrame([(k, k) for k in range(2000)], DDL))
    for i in range(4):
        t.write(spark.createDataFrame([(i, 100 + i)], DDL))
    t = t.refresh()
    pre = len(_runs(t))
    t.compact(spark, full=False, trigger_runs=3)
    t = t.refresh()
    assert len(_runs(t)) < pre
    got = {r.k: r.v for r in t.to_df(spark).collect()}
    assert got[0] == 100 and got[3] == 103 and got[1999] == 1999


@pytest.mark.slow
def test_universal_partitioned_table_bump_per_partition(spark, warehouse):
    """On a PARTITIONED PK table the whole-pick MAX_LEVEL bump applies
    per (partition, bucket): a partition whose pick merged everything
    commits at max level while a partition with an untouched big run
    keeps its partial output at level 0."""
    from flink_table_store_spark.manifest import MAX_LEVEL

    ddl = "k bigint, v bigint, p int"
    t = warehouse.create_table(
        "db.unipt", ddl, primary_keys=["k", "p"], partition_keys=["p"],
        options={"bucket": "1"},
    )
    # p=0: five similar small runs -> whole pick; p=1: big base + smalls -> partial
    t.write(spark.createDataFrame([(k, k, 1) for k in range(4000)], ddl))
    for i in range(4):
        t.write(
            spark.createDataFrame(
                [(i, 10 + i, 0), (100 + i, 100 + i, 0), (i, 500 + i, 1)], ddl
            )
        )
    t = t.refresh()
    t.compact(spark, full=False, trigger_runs=3)
    t = t.refresh()
    runs = _runs(t)
    lv = {(tuple(sorted(e.partition.items())), e.level) for e in runs}
    p0_levels = {l for (pt, l) in lv if pt == (("p", "0"),)}
    p1_levels = {l for (pt, l) in lv if pt == (("p", "1"),)}
    assert p0_levels == {MAX_LEVEL}, lv
    assert 0 in p1_levels, lv
    got = {(r.k, r.p): r.v for r in t.to_df(spark).collect()}
    assert got[(2, 0)] == 12 and got[(102, 0)] == 102
    assert got[(2, 1)] == 502 and got[(3999, 1)] == 3999


@pytest.mark.slow
def test_universal_null_partition_retract_not_finalized(spark, warehouse):
    """eqNullSafe finalization join: a NULL-partition group containing a
    retract must go to the level-0 residual, not finalize at MAX_LEVEL
    (plain column-equality joins never match NULL keys)."""
    from flink_table_store_spark.manifest import MAX_LEVEL

    ddl = "p string, k bigint, v bigint"
    t = warehouse.create_table(
        "db.uninull", ddl, partition_keys=["p"], primary_keys=["p", "k"],
        options={
            "bucket": "1",
            "merge-engine": "aggregation",
            "fields.v.aggregate-function": "sum",
        },
    )
    for _ in range(3):
        t.write(spark.createDataFrame([(None, 1, 10), ("a", 2, 1)], ddl))
    rddl = "p string, k bigint, v bigint, rk string"
    t.write(
        spark.createDataFrame([(None, 1, 4, "-U"), ("a", 3, 7, "+I")], rddl),
        row_kind_col="rk",
    )
    t = t.refresh()
    t.compact(spark, full=False, trigger_runs=2)
    t = t.refresh()
    got = {(r.p, r.k): r.v for r in t.to_df(spark).collect()}
    assert got == {(None, 1): 26, ("a", 2): 3, ("a", 3): 7}
    runs = _runs(t)
    null_levels = {e.level for e in runs if e.partition.get("p") in (None, "")}
    a_levels = {e.level for e in runs if e.partition.get("p") == "a"}
    assert null_levels == {0}, runs
    assert a_levels == {MAX_LEVEL}, runs


def test_fold_seq_guard_unit():
    """The per-bucket version-stats guard: suffix-proof passes, overlap /
    nulls / missing stats / mixed types bail, multi-column needs strict."""
    from types import SimpleNamespace as NS

    from flink_table_store_spark.table import Table

    g = Table._fold_seq_guard
    mk = lambda mn, mx, nulls=0: NS(stats={"ver": {"min": mn, "max": mx, "nulls": nulls}})
    assert g([mk(20, 50)], [mk(1, 10)], ["ver"])
    # tie on the boundary: input sequence breaks it (selected is newer)
    assert g([mk(10, 50)], [mk(1, 10)], ["ver"])
    # multiple sequence fields: per-column stats can't resolve a
    # lexicographic tie -> strict comparison required
    assert not g([mk(10, 50)], [mk(1, 10)], ["ver", "sub"])
    assert g([mk(11, 50)], [mk(1, 10)], ["ver", "sub"])
    # interleaved versions
    assert not g([mk(20, 50)], [mk(1, 35)], ["ver"])
    # NULL versions are unordered against everything
    assert not g([mk(20, 50, nulls=1)], [mk(1, 10)], ["ver"])
    assert not g([mk(20, 50)], [mk(1, 10, nulls=2)], ["ver"])
    # missing stats
    assert not g([mk(20, 50)], [NS(stats={})], ["ver"])
    assert not g([NS(stats={"ver": {"min": None, "max": None, "nulls": 0}})], [mk(1, 2)], ["ver"])
    # no older runs: trivially a suffix
    assert g([mk(20, 50)], [], ["ver"])
    # mixed stat types across schema generations
    assert not g([mk("b", "c")], [mk(1, 2)], ["ver"])


@pytest.mark.slow
def test_universal_seq_field_partial_update_guarded_fold(spark, warehouse):
    """sequence.field partial-update folds PARTIALLY when file stats
    prove the selected runs are a version-suffix (monotone version
    stream): the big old run stays untouched, reads match an
    uncompacted twin, and later writes still merge right."""
    ddl = "k bigint, v string, w string, ver bigint"
    opts = {
        "bucket": "1",
        "merge-engine": "partial-update",
        "sequence.field": "ver",
        "compaction.size-ratio": "10",  # small runs differ ~2% in size
    }
    a, b = _parity_tables(warehouse, "unisfpu", ddl, opts)
    writes = [
        [(k, f"v{k}", f"w{k}", 10) for k in range(2000)],  # big old run, ver=10
        [(1, "v1a", None, 20), (2, None, "w2a", 21)],
        [(1, None, "w1b", 30), (3, "v3b", None, 31)],
        [(2, "v2c", None, 40), (4, None, "w4c", 41)],
        [(1, "v1d", None, 50), (5, "v5d", None, 51)],
    ]
    for w in writes:
        df = spark.createDataFrame(w, ddl)
        a.write(df)
        b.write(df)
    a, b = a.refresh(), b.refresh()
    oldest = _runs(a)[0].file_name
    a.compact(spark, full=False)
    a = a.refresh()
    runs = _runs(a)
    assert oldest in {e.file_name for e in runs}, "guard passed -> partial pick"
    assert len(runs) == 2
    _assert_same(spark, a, b)
    got = {r.k: (r.v, r.w, r.ver) for r in a.to_df(spark).collect()}
    assert got[1] == ("v1d", "w1b", 50)
    # a LATE lower-version write after the fold must still lose to the
    # folded row's higher versions
    late = spark.createDataFrame([(1, "vLOW", None, 15)], ddl)
    a.write(late)
    b.write(late)
    a, b = a.refresh(), b.refresh()
    _assert_same(spark, a, b)
    assert {r.k: r.v for r in a.to_df(spark).collect()}[1] == "v1d"


@pytest.mark.slow
def test_universal_seq_field_out_of_order_promotes_whole(spark, warehouse):
    """An older run holding an INTERMEDIATE version (stats overlap) is
    exactly the case where a partial fold re-attributes a field above
    the older version — the guard must promote the pick to a
    whole-bucket merge and the result must match the uncompacted twin
    (the r5 exclusion scenario, now handled instead of avoided)."""
    ddl = "k bigint, v string, w string, ver bigint"
    opts = {"bucket": "1", "merge-engine": "partial-update", "sequence.field": "ver"}
    a, b = _parity_tables(warehouse, "unisfoo", ddl, opts)
    writes = [
        # the OLD run carries the HIGH version 35 for k=1 (out-of-order
        # arrival): newer runs write ver 20/30/50
        [(1, "vOLD_HI", None, 35)] + [(k, f"v{k}", f"w{k}", 10) for k in range(2, 2000)],
        [(1, "v1a", None, 20), (2, None, "w2a", 21)],
        [(1, None, "w1b", 30), (3, "v3b", None, 31)],
        [(2, "v2c", None, 40), (4, None, "w4c", 41)],
        [(1, None, "w1d", 50), (5, "v5d", None, 51)],
    ]
    for w in writes:
        df = spark.createDataFrame(w, ddl)
        a.write(df)
        b.write(df)
    a, b = a.refresh(), b.refresh()
    a.compact(spark, full=False)
    a = a.refresh()
    assert len(_runs(a)) == 1, "guard failed -> whole-bucket merge"
    _assert_same(spark, a, b)
    got = {r.k: (r.v, r.w) for r in a.to_df(spark).collect()}
    # v: last non-null by VERSION order = vOLD_HI (ver 35 beats 20/30);
    # a naive partial fold would have emitted v1a at folded ver 50
    assert got[1] == ("vOLD_HI", "w1d")


@pytest.mark.slow
def test_universal_seq_field_aggregation_guarded_fold(spark, warehouse):
    """Aggregation engine under sequence.field: last_non_null orders by
    version, sum stays order-free; the guarded partial fold matches the
    uncompacted twin across two compactions."""
    ddl = "k bigint, s bigint, last string, ver bigint"
    opts = {
        "bucket": "1",
        "merge-engine": "aggregation",
        "sequence.field": "ver",
        "fields.s.aggregate-function": "sum",
        "fields.last.aggregate-function": "last_non_null_value",
        "fields.ver.aggregate-function": "max",
    }
    a, b = _parity_tables(warehouse, "unisfagg", ddl, opts)
    writes = [
        [(k, k, f"x{k}", 10) for k in range(2000)],
        [(1, 5, "mid", 20), (2, 7, None, 21)],
        [(1, 2, None, 30), (3, 1, "three", 31)],
        [(2, 4, "two!", 40), (4, 9, None, 41)],
        [(1, 1, "one!", 50)],
    ]
    for w in writes:
        df = spark.createDataFrame(w, ddl)
        a.write(df)
        b.write(df)
    a, b = a.refresh(), b.refresh()
    oldest = _runs(a)[0].file_name
    a.compact(spark, full=False)
    a = a.refresh()
    assert oldest in {e.file_name for e in _runs(a)}, "partial pick expected"
    _assert_same(spark, a, b)
    got = {r.k: (r.s, r.last, r.ver) for r in a.to_df(spark).collect()}
    assert got[1] == (9, "one!", 50)
    # second round: more writes + another compaction
    for w in ([(1, 3, None, 60)], [(2, 1, "two2", 61)], [(5, 5, "five", 62)]):
        df = spark.createDataFrame(w, ddl)
        a.write(df)
        b.write(df)
    a, b = a.refresh(), b.refresh()
    a.compact(spark, full=False, trigger_runs=3)
    a = a.refresh()
    _assert_same(spark, a, b)


def test_universal_seq_field_materialization_semantics(spark, warehouse):
    """Compaction MATERIALIZES the merge: a later write whose version is
    INTERMEDIATE between already-merged versions compares against the
    merged row (which carries the fold's final version), not against
    the original rows. This matches the reference exactly — its merge
    tree feeds PartialUpdateMergeFunction rows ordered by
    UserDefinedSeqComparator and a compacted KeyValue carries ONE
    version — and is why the fold guard only promises suffix-soundness
    against runs that exist at pick time, not against future writes.
    Pinned so nobody 'fixes' the engine into per-field version
    tracking the reference doesn't have."""
    ddl = "k bigint, a string, b string, ver bigint"
    opts = {"bucket": "1", "merge-engine": "partial-update", "sequence.field": "ver"}
    merged = warehouse.create_table("db.mat_m", ddl, primary_keys=["k"], options=opts)
    raw = warehouse.create_table("db.mat_r", ddl, primary_keys=["k"], options=opts)
    for w in ([(1, "aLOW", None, 10)], [(1, None, "bHI", 40)]):
        df = spark.createDataFrame(w, ddl)
        merged.write(df)
        raw.write(df)
    merged.refresh().compact(spark, full=True)  # materialize merge(10, 40)
    late = spark.createDataFrame([(1, "aMID", None, 20)], ddl)
    merged.write(late)
    raw.write(late)
    got_m = merged.refresh().to_df(spark).collect()[0]
    got_r = raw.refresh().to_df(spark).collect()[0]
    # the merged row (a=aLOW at ver 40) outranks the late ver-20 write…
    assert (got_m.a, got_m.b, got_m.ver) == ("aLOW", "bHI", 40)
    # …while replaying raw history orders 10 < 20 < 40 per field
    assert (got_r.a, got_r.b, got_r.ver) == ("aMID", "bHI", 40)
