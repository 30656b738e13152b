"""Per-field aggregation options: ``fields.<f>.distinct`` (collect +
listagg, FieldCollectAgg/FieldListaggAgg), ``fields.<f>.
list-agg-delimiter`` (CoreOptions LIST_AGG_DELIMITER) and ``fields.<f>.
count-limit`` (FieldNestedUpdateAgg; aggregation.md:311). Checked on
the Spark merge path AND the in-task pandas twin (local read)."""

from __future__ import annotations


import pytest
@pytest.mark.slow
def test_listagg_delimiter_and_distinct(spark, warehouse):
    t = warehouse.create_table(
        "db.aglist", "k int, tags string, plain string",
        primary_keys=["k"],
        options={
            "merge-engine": "aggregation",
            "fields.tags.aggregate-function": "listagg",
            "fields.tags.list-agg-delimiter": "|",
            "fields.tags.distinct": "true",
            "fields.plain.aggregate-function": "listagg",
        },
    )
    ddl = "k int, tags string, plain string"
    t.write(spark.createDataFrame([(1, "a|b", "x")], ddl))
    t.refresh().write(spark.createDataFrame([(1, "b|c", "y")], ddl))
    t.refresh().write(spark.createDataFrame([(1, "a", "x")], ddl))
    [r] = t.refresh().to_df(spark).collect()
    assert r.tags == "a|b|c"  # first occurrences, custom delimiter
    assert r.plain == "x,y,x"  # default comma, no dedup
    [lr] = t.refresh().to_arrow().to_pylist()
    assert (lr["tags"], lr["plain"]) == ("a|b|c", "x,y,x")


def test_collect_distinct_option(spark, warehouse):
    t = warehouse.create_table(
        "db.agcoll", "k int, vs array<int>", primary_keys=["k"],
        options={
            "merge-engine": "aggregation",
            "fields.vs.aggregate-function": "collect",
            "fields.vs.distinct": "true",
        },
    )
    ddl = "k int, vs array<int>"
    t.write(spark.createDataFrame([(1, [1, 2])], ddl))
    t.refresh().write(spark.createDataFrame([(1, [2, 3, 1])], ddl))
    [r] = t.refresh().to_df(spark).collect()
    assert sorted(r.vs) == [1, 2, 3]
    [lr] = t.refresh().to_arrow().to_pylist()
    assert sorted(lr["vs"]) == [1, 2, 3]


def test_nested_update_count_limit(spark, warehouse):
    ddl = "k int, rows array<struct<id:int, v:string>>"
    t = warehouse.create_table(
        "db.agnest", ddl, primary_keys=["k"],
        options={
            "merge-engine": "aggregation",
            "fields.rows.aggregate-function": "nested_update",
            "fields.rows.count-limit": "3",
        },
    )
    t.write(spark.createDataFrame([(1, [(1, "a"), (2, "b")])], ddl))
    t.refresh().write(spark.createDataFrame([(1, [(3, "c"), (4, "d")])], ddl))
    [r] = t.refresh().to_df(spark).collect()
    assert [(x.id, x.v) for x in r.rows] == [(1, "a"), (2, "b"), (3, "c")]
    [lr] = t.refresh().to_arrow().to_pylist()
    assert [(x["id"], x["v"]) for x in lr["rows"]] == [(1, "a"), (2, "b"), (3, "c")]


def test_nested_update_keyed_count_limit(spark, warehouse):
    ddl = "k int, rows array<struct<id:int, v:string>>"
    t = warehouse.create_table(
        "db.agnestk", ddl, primary_keys=["k"],
        options={
            "merge-engine": "aggregation",
            "fields.rows.aggregate-function": "nested_update",
            "fields.rows.nested-key": "id",
            "fields.rows.count-limit": "2",
        },
    )
    t.write(spark.createDataFrame([(1, [(1, "a"), (2, "b")])], ddl))
    t.refresh().write(spark.createDataFrame([(1, [(1, "a2"), (3, "c")])], ddl))
    [r] = t.refresh().to_df(spark).collect()
    # keyed dedup first (latest per id, survivors keep their own
    # positions: b@2, a2@3, c@4), then the cap
    assert [(x.id, x.v) for x in r.rows] == [(2, "b"), (1, "a2")]


def test_options_flow_into_partial_update_aggregation(spark, warehouse):
    """The same per-field options compose with aggregation-for-
    partial-update (shared _agg_field_expr dispatch)."""
    ddl = "k int, g int, tags string"
    t = warehouse.create_table(
        "db.aglistpu", ddl, primary_keys=["k"],
        options={
            "merge-engine": "partial-update",
            "fields.g.sequence-group": "tags",
            "fields.tags.aggregate-function": "listagg",
            "fields.tags.list-agg-delimiter": ";",
            "fields.tags.distinct": "true",
        },
    )
    t.write(spark.createDataFrame([(1, 1, "a;b")], ddl))
    t.refresh().write(spark.createDataFrame([(1, 2, "b;c")], ddl))
    t.refresh().write(spark.createDataFrame([(1, None, "zz")], ddl))  # empty group: skipped
    [r] = t.refresh().to_df(spark).collect()
    assert (r.g, r.tags) == (2, "a;b;c")
    [lr] = t.refresh().to_arrow().to_pylist()
    assert (lr["g"], lr["tags"]) == (2, "a;b;c")


def test_nested_partial_update(spark, warehouse):
    """nested_partial_update (FieldNestedPartialUpdateAgg): rows merge
    per nested key with non-null fields overwriting — unlike
    nested_update, a later row with a NULL column keeps the
    accumulated value instead of replacing the whole row."""
    ddl = "k int, rows array<struct<id:int, a:string, b:string>>"
    t = warehouse.create_table(
        "db.agnpu", ddl, primary_keys=["k"],
        options={
            "merge-engine": "aggregation",
            "fields.rows.aggregate-function": "nested_partial_update",
            "fields.rows.nested-key": "id",
        },
    )
    t.write(spark.createDataFrame([(1, [(1, "a1", None), (2, "x", "y")])], ddl))
    t.refresh().write(spark.createDataFrame([(1, [(1, None, "b2")])], ddl))
    [r] = t.refresh().to_df(spark).collect()
    got = sorted([(x.id, x.a, x.b) for x in r.rows])
    assert got == [(1, "a1", "b2"), (2, "x", "y")]
    [lr] = t.refresh().to_arrow().to_pylist()
    lgot = sorted([(x["id"], x["a"], x["b"]) for x in lr["rows"]])
    assert lgot == got
    # survives a full compaction (fold-safe: per-field last-non-null)
    t.refresh().compact(spark, full=True)
    [r] = t.refresh().to_df(spark).collect()
    assert sorted([(x.id, x.a, x.b) for x in r.rows]) == got


def test_nested_partial_update_requires_key(spark, warehouse):
    import pytest as _pytest

    ddl = "k int, rows array<struct<id:int, a:string>>"
    t = warehouse.create_table(
        "db.agnpu2", ddl, primary_keys=["k"],
        options={
            "merge-engine": "aggregation",
            "fields.rows.aggregate-function": "nested_partial_update",
        },
    )
    t.write(spark.createDataFrame([(1, [(1, "a"), (2, "b")])], ddl))
    t.refresh().write(spark.createDataFrame([(1, [(3, "c")])], ddl))
    t = t.refresh()
    # every surface refuses: none may collapse the two runs to one row
    for read in (lambda: t.to_df(spark).collect(), lambda: t.to_arrow()):
        with _pytest.raises(ValueError, match="nested-key"):
            read()
    # the format surface plans in a Python data source: Spark reports
    # the planner's ValueError as an AnalysisException naming it
    with _pytest.raises(Exception, match="ValueError: .*nested-key"):
        spark.read.format("ftss").load(t.path).collect()


def test_pu_agg_options_parity_in_bucketed_join(spark, warehouse):
    """Review regression: the pandas bucket fold must apply the same
    collect->collect_distinct rewrite as the Spark expression path, and
    refuse unfoldable partial-update aggregators UPFRONT."""
    import pytest as _pytest

    from flink_table_store_spark.operators.bucketed_join import join_bucketed

    ddl = "k bigint, g int, vs array<int>"
    t = warehouse.create_table(
        "db.agpu_join", ddl, primary_keys=["k"],
        options={
            "bucket": "2",
            "bucket-key": "k",
            "merge-engine": "partial-update",
            "fields.g.sequence-group": "vs",
            "fields.vs.aggregate-function": "collect",
            "fields.vs.distinct": "true",
        },
    )
    t.write(spark.createDataFrame([(1, 1, [1, 2]), (2, 1, [9])], ddl))
    t.refresh().write(spark.createDataFrame([(1, 2, [2, 3])], ddl))
    table_read = {r.k: sorted(r.vs) for r in t.refresh().to_df(spark).collect()}
    assert table_read[1] == [1, 2, 3]  # deduped
    joined = join_bucketed(spark, t.refresh(), t.refresh()).collect()
    join_read = {r.k: sorted(r.vs) for r in joined}
    assert join_read == table_read
    # a raw-value sketch no merge can fold: refused up front, when the
    # table is created, not by an executor crash
    with _pytest.raises(ValueError, match="hll_sketch on field 'h'"):
        warehouse.create_table(
            "db.agpu_join2", "k bigint, g int, h bigint", primary_keys=["k"],
            options={
                "bucket": "2",
                "bucket-key": "k",
                "merge-engine": "partial-update",
                "fields.g.sequence-group": "h",
                "fields.h.aggregate-function": "hll_sketch",
            },
        )


def _kernel_fixture(spark):
    """{function: (column type, value(key, run), extra options)} — one
    column per function of the merge table (the kernel folds them all)."""
    from pyspark.sql import functions as F

    from flink_table_store_spark.functions import sketches as S

    hll = {
        r.i: bytes(r.h)
        for r in spark.range(0, 160)
        .selectExpr("id % 4 AS i", "id")
        .groupBy("i")
        .agg(F.expr("hll_sketch_agg(id)").alias("h"))
        .collect()
    }

    def maybe(k, i, v):
        return None if (k + i) % 3 == 0 else v

    return {
        "sum": ("bigint", lambda k, i: 10 * k + i, {}),
        "count": ("bigint", lambda k, i: i + 1, {}),
        "product": ("bigint", lambda k, i: i + 2, {}),
        "min": ("int", lambda k, i: (7 * k + 3 * i) % 11, {}),
        "max": ("int", lambda k, i: (7 * k + 3 * i) % 11, {}),
        "bool_and": ("boolean", lambda k, i: (k + i) % 2 == 0, {}),
        "bool_or": ("boolean", lambda k, i: (k + i) % 3 == 0, {}),
        "first_value": ("string", lambda k, i: maybe(k, i, f"v{k}_{i}"), {}),
        "first_non_null_value": ("string", lambda k, i: maybe(k, i, f"a{k}_{i}"), {}),
        "first_not_null_value": ("string", lambda k, i: maybe(k, i + 1, f"b{k}_{i}"), {}),
        "last_value": ("string", lambda k, i: maybe(k, i, f"c{k}_{i}"), {}),
        "last_non_null_value": ("string", lambda k, i: maybe(k, i, f"d{k}_{i}"), {}),
        "primary-key": ("string", lambda k, i: maybe(k, i + 2, f"e{k}_{i}"), {}),
        "listagg": ("string", lambda k, i: f"t{i}", {"list-agg-delimiter": "|"}),
        "collect": ("array<int>", lambda k, i: [i, k], {}),
        "collect_distinct": ("array<int>", lambda k, i: [i % 2, k], {}),
        "merge_map": ("map<string,int>", lambda k, i: {f"m{i % 2}": i, f"k{k}": i}, {}),
        "nested_update": (
            "array<struct<id:int, v:string>>",
            lambda k, i: [(i % 2, f"n{k}_{i}")],
            {"nested-key": "id"},
        ),
        "nested_partial_update": (
            "array<struct<id:int, v:string>>",
            lambda k, i: [(i % 2, None if i == 2 else f"p{k}_{i}")],
            {"nested-key": "id"},
        ),
        "rbm32": ("binary", lambda k, i: S.rbm32_serialize([k, i, 7]), {}),
        "rbm64": ("binary", lambda k, i: S.rbm64_serialize([k, (1 << 40) + i]), {}),
        "theta_sketch": (
            "binary",
            lambda k, i: S.theta_sketch_of(range(10 * i, 10 * i + 20 + k)),
            {},
        ),
        "hll_sketch": ("binary", lambda k, i: hll[(k + i) % 4], {}),
    }


def _canon(v, func):
    """One spelling per merged value across Spark rows and Arrow lists;
    sketches compare by what they hold, not by their bytes."""
    import numpy as np
    from pyspark.sql import Row

    from flink_table_store_spark.functions import sketches as S

    if v is None:
        return None
    decode = {
        "rbm32": lambda b: sorted(int(x) for x in S.rbm32_deserialize(b)),
        "rbm64": lambda b: sorted(int(x) for x in S.rbm64_deserialize(b)),
        "theta_sketch": S.theta_estimate,
        "hll_sketch": S.hll_estimate,
    }.get(func)
    if decode is not None:
        return decode(bytes(v))
    if func == "merge_map":
        return dict(v.items() if isinstance(v, dict) else v)
    if isinstance(v, Row):
        return v.asDict()
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_canon(x, None) for x in v]
    return v


def test_every_kernel_merge_function_agrees_across_surfaces(spark, warehouse, spark_branch):
    """Table-driven parity: one aggregation column per function of
    ``merge_engines.MERGE_FUNCS``, three runs plus a -U and a -D; the
    Catalyst fold (``to_df`` forced onto its Spark branch) and the bucket
    kernel (``to_df``'s driver branch, ``to_arrow``, ``format("ftss")``)
    must agree on every column. A
    function registered without a fixture column fails here. The
    fold-safe columns alone must survive a universal compaction
    unchanged."""
    from flink_table_store_spark.operators.merge_engines import (
        MERGE_FUNCS,
        field_merges,
        fold_supported,
    )

    fixture = _kernel_fixture(spark)
    assert set(fixture) == set(MERGE_FUNCS)
    col = {f: "c_" + f.replace("-", "_") for f in fixture}

    def create(name, funcs):
        options = {"bucket": "2", "merge-engine": "aggregation"}
        for f in funcs:
            options[f"fields.{col[f]}.aggregate-function"] = f
            for opt, val in fixture[f][2].items():
                options[f"fields.{col[f]}.{opt}"] = val
        ddl = ", ".join(["k int"] + [f"{col[f]} {fixture[f][0]}" for f in funcs])
        return warehouse.create_table(name, ddl, primary_keys=["k"], options=options), ddl

    def write(t, ddl, funcs, rows):
        data = [(k, *[fixture[f][1](k, i) for f in funcs], rk) for k, i, rk in rows]
        t.refresh().write(spark.createDataFrame(data, ddl + ", rk string"), row_kind_col="rk")

    runs = [
        [(k, 0, "+I") for k in range(4)],
        [(k, 1, "+I") for k in range(4)],
        # retract payloads repeat run 1's values: sum/count subtract
        [(1, 1, "-U"), (2, 1, "-D"), (0, 2, "+I"), (3, 2, "+I")],
        [(1, 3, "+U"), (3, 3, "+I")],
    ]

    def merged(records, funcs):
        return {
            r["k"]: tuple(_canon(r[col[f]], f) for f in funcs) for r in records
        }

    funcs = list(fixture)
    t, ddl = create("db.agkernel", funcs)
    assert all(m.kernel for m in field_merges(t.schema).fields.values())
    for rows in runs:
        write(t, ddl, funcs, rows)
    t = t.refresh()
    with spark_branch():
        want = merged(t.to_df(spark).collect(), funcs)
    assert sorted(want) == [0, 1, 2, 3]
    surfaces = {
        "to_df": merged(t.to_df(spark).collect(), funcs),
        "to_arrow": merged(t.to_arrow().to_pylist(), funcs),
        "ftss": merged(spark.read.format("ftss").load(t.path).collect(), funcs),
    }
    for name, got in surfaces.items():
        for k in want:
            diff = {
                f: (g, w)
                for f, g, w in zip(funcs, got.get(k, ()), want[k])
                if g != w
            }
            assert got.get(k) == want[k], f"{name} key {k}: {diff}"

    safe = [
        f for f in funcs if field_merges(t.schema).fields[col[f]].fold_safe
    ]
    assert "count" not in safe and "sum" in safe
    t2, ddl2 = create("db.agkernel_safe", safe)
    assert fold_supported(t2.schema)
    for rows in runs:
        write(t2, ddl2, safe, rows)
    with spark_branch():
        before = merged(t2.refresh().to_df(spark).collect(), safe)
        snap = t2.refresh().snapshots.latest_id()
        t2.refresh().compact(spark, full=False, trigger_runs=2)
        assert t2.refresh().snapshots.latest_id() > snap  # it did compact
        assert merged(t2.refresh().to_df(spark).collect(), safe) == before
