"""``to_df`` reads small plans on the driver (``ReadBuilder._driver_df``):
the bucket reader's Arrow rows become a ``LocalRelation`` under the same
WHERE/SELECT/LIMIT the Spark branch applies. These tests pin that both
branches answer alike, that the driver branch starts no Spark job, and
the kernel fixes the branch relies on (default partitions, map columns,
key conjuncts before the merge, sketch-field refusal)."""

from __future__ import annotations

import pytest

from flink_table_store_spark import predicate as P
from flink_table_store_spark.operators.bucketed_join import join_bucketed
from flink_table_store_spark.operators.lookup import PartialLookupTable
from flink_table_store_spark.sources.datasource import register_data_source


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _is_local(df) -> bool:
    return df._jdf.queryExecution().optimizedPlan().toString().startswith("LocalRelation")


def test_default_partition_reads_null_on_every_surface(spark, warehouse, spark_branch):
    """NULL and '' partition values land in __HIVE_DEFAULT_PARTITION__
    (manifest value ''): every surface reads them back as NULL, for a
    string and an int partition key, as Spark's partitionBy read does."""
    ddl = "k bigint, p string, q int, v string"
    t = warehouse.create_table(
        "db.dp", ddl, primary_keys=["k"], partition_keys=["p", "q"], options={"bucket": "2"}
    )
    t.write(
        spark.createDataFrame(
            [(1, None, None, "a"), (2, "", 1, "b"), (3, "x", None, "c"), (4, "x", 2, "d")], ddl
        )
    )
    t = t.refresh()
    want = [(1, None, None, "a"), (2, None, 1, "b"), (3, "x", None, "c"), (4, "x", 2, "d")]
    names = t.schema.field_names()

    df = t.to_df(spark)
    assert _is_local(df)
    with spark_branch():
        spark_df = t.to_df(spark)
    assert not _is_local(spark_df)
    assert spark_df.schema == df.schema
    register_data_source(spark)
    lookup = PartialLookupTable(spark, t)
    surfaces = {
        "to_df": _rows(df),
        "to_df (Spark branch)": _rows(spark_df),
        "to_arrow": sorted(
            (tuple(r[c] for c in names) for r in t.to_arrow().to_pylist()), key=repr
        ),
        "ftss": _rows(spark.read.format("ftss").load(t.path)),
        "lookup": sorted(
            (tuple(lookup.lookup({"k": k})[c] for c in names) for k in range(1, 5)), key=repr
        ),
        "join_bucketed": _rows(join_bucketed(spark, t, t).select(*names)),
    }
    for name, got in surfaces.items():
        assert got == sorted(want, key=repr), name
    # a predicate on the default partition: IS NULL matches it everywhere
    pred = P.is_null("p")
    with spark_branch():
        assert _rows(t.to_df(spark, predicate=pred)) == _rows(t.to_df(spark, predicate=pred))
    assert len(t.to_df(spark, predicate=pred).collect()) == 2


def test_map_columns_in_bucketed_join(spark, warehouse):
    """The bucket reader hands map columns to mapInPandas as dicts:
    a self-join of a deduplicate table with a map column."""
    ddl = "k bigint, m map<string,bigint>, v string"
    t = warehouse.create_table("db.bjmap", ddl, primary_keys=["k"], options={"bucket": "2"})
    t.write(spark.createDataFrame([(1, {"a": 1}, "x"), (2, None, "y"), (3, {}, "z")], ddl))
    t.refresh().write(spark.createDataFrame([(1, {"b": 2, "c": 3}, "x2")], ddl))
    t = t.refresh()
    want = _rows(t.to_df(spark))
    assert want[0] == (1, {"b": 2, "c": 3}, "x2")
    got = join_bucketed(spark, t, t).select("k", "m", "v")
    assert _rows(got) == want
    assert tuple(PartialLookupTable(spark, t).lookup({"k": 1}).values()) == want[0]


def _rows_or_error(fn):
    try:
        return fn()
    except Exception as e:  # noqa: BLE001 - both branches must fail alike
        return type(e).__name__


@pytest.mark.parametrize("engine", ["deduplicate", "aggregation"])
def test_key_predicates_read_alike_on_both_branches(spark, warehouse, spark_branch, engine):
    """Key conjuncts filter each file before the merge on the driver
    branch; every predicate shape answers as the Spark branch does,
    deletion vectors, deletes and schema evolution included."""
    ddl = "k bigint, s string, v bigint, x double"
    opts = {"bucket": "2", "deletion-vectors.enabled": "true"}
    if engine == "aggregation":
        opts.update({"merge-engine": "aggregation", "fields.v.aggregate-function": "sum"})
    t = warehouse.create_table("db.kp_" + engine, ddl, primary_keys=["k", "s"], options=opts)
    rows = [(k, f"s{k % 3}", k * 10, float(k) if k % 4 else float("nan")) for k in range(40)]
    t.write(spark.createDataFrame(rows, ddl))
    t.refresh().compact(spark, full=True)
    t.refresh().write(spark.createDataFrame([(k, f"s{k % 3}", 1, None) for k in range(0, 40, 3)], ddl))
    t.refresh().delete(spark, P.between("k", 30, 33))
    t.refresh().evolve_schema([{"action": "rename_column", "name": "x", "new_name": "y"}])
    t = t.refresh()
    t.write(spark.createDataFrame([(5, "s2", 7, 0.5), (41, "s2", 1, 1.0)], "k bigint, s string, v bigint, y double"))
    t = t.refresh()
    preds = [
        P.equal("k", 5),
        P.isin("k", [1, 5, 9, 31, 41, 99]),
        P.between("k", 3, 35),
        P.and_(P.greater_than("k", 10), P.equal("s", "s1")),
        P.or_(P.less_than("k", 4), P.equal("v", 7)),
        P.and_(P.less_or_equal("k", 20), P.greater_than("v", 50)),
        P.not_in("k", [1, 2, 3]),
        P.starts_with("s", "s"),
        P.equal("k", "5"),
        P.equal("k", 5.0),
        P.is_not_null("y"),
        P.greater_than("y", 10.0),
        P.equal("k", None),
    ]
    for pred in preds:
        for projection, limit in ((None, None), (["v", "k"], None), (None, 3)):
            def read():
                df = t.to_df(spark, predicate=pred, projection=projection, limit=limit)
                rows = df.collect()
                return df.schema, len(rows) if limit else sorted(map(repr, rows))

            driver = _rows_or_error(read)
            with spark_branch():
                spark_side = _rows_or_error(read)
            assert driver == spark_side, (pred, projection, limit)


def test_driver_key_read_starts_no_spark_job(spark, warehouse, spark_branch):
    """A key read under the bound collects from a LocalRelation without a
    Spark job; the same read forced above the bound runs one."""
    ddl = "k bigint, v string"
    t = warehouse.create_table("db.nojob", ddl, primary_keys=["k"], options={"bucket": "2"})
    t.write(spark.createDataFrame([(k, f"v{k}") for k in range(100)], ddl))
    t.refresh().write(spark.createDataFrame([(k, f"w{k}") for k in range(0, 100, 7)], ddl))
    t = t.refresh()
    tracker = spark.sparkContext.statusTracker()

    def read() -> tuple[list, set]:
        before = set(tracker.getJobIdsForGroup(None))
        rows = t.to_df(spark, predicate=P.isin("k", [7, 8])).select("v").collect()
        return sorted(r.v for r in rows), set(tracker.getJobIdsForGroup(None)) - before

    rows, jobs = read()
    assert rows == ["v8", "w7"]
    assert jobs == set()
    with spark_branch():
        rows, jobs = read()
    assert rows == ["v8", "w7"]
    assert jobs


def test_driver_read_error_is_raised(spark, warehouse):
    """Only the bucket reader's plan-time refusal sends a plan to the
    Spark branch: an error while the driver reads the files (here a
    corrupt data file, pyarrow's ArrowInvalid, a ValueError) is raised,
    without a second read on Spark."""
    import os

    import pyarrow as pa

    ddl = "k bigint, v string"
    t = warehouse.create_table("db.corrupt", ddl, primary_keys=["k"], options={"bucket": "1"})
    t.write(spark.createDataFrame([(k, f"v{k}") for k in range(10)], ddl))
    t = t.refresh()
    (e,) = t.read_builder().plan().entries
    path = os.path.join(t.path, e.file_name)
    with open(path, "r+b") as f:
        f.write(b"\0" * os.path.getsize(path))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    with pytest.raises(pa.ArrowInvalid):
        t.to_df(spark, predicate=P.equal("k", 3)).collect()
    assert set(tracker.getJobIdsForGroup(None)) == before


def test_raw_value_sketch_fields_refused(warehouse):
    """A sketch aggregate function on a field that cannot hold its
    sketch is refused when the table is created and when an ALTER would
    make one."""
    agg = {"bucket": "1", "merge-engine": "aggregation"}
    for func, ddl in (("hll_sketch", "k bigint, h string"), ("theta_sketch", "k bigint, h bigint")):
        with pytest.raises(ValueError, match=f"{func} on field 'h'"):
            warehouse.create_table(
                f"db.sk_{func}", ddl, primary_keys=["k"],
                options={**agg, "fields.h.aggregate-function": func},
            )
    with pytest.raises(ValueError, match="hll_sketch on field 'h'"):
        warehouse.create_table(
            "db.sk_default", "k bigint, h string", primary_keys=["k"],
            options={**agg, "fields.default-aggregate-function": "hll_sketch"},
        )
    t = warehouse.create_table(
        "db.sk_alter", "k bigint, h binary, s string", primary_keys=["k"],
        options={**agg, "fields.h.aggregate-function": "hll_sketch"},
    )
    with pytest.raises(ValueError, match="theta_sketch on field 's'"):
        t.evolve_schema(
            [{"action": "set_option", "key": "fields.s.aggregate-function", "value": "theta_sketch"}]
        )
    with pytest.raises(ValueError, match="hll_sketch on field 'h'"):
        t.evolve_schema([{"action": "update_column_type", "name": "h", "type": "string"}])
    # the refused changes left the schema as it was
    assert t.refresh().schema.field("h").type == "binary"
    assert "fields.s.aggregate-function" not in t.refresh().schema.options
