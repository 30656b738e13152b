"""SQL surface: SqlSession mirrors docs/content/spark/sql-query.md /
sql-write.md and the CALL grammar (PaimonSqlExtensions.g4:71-87)."""

import pytest

# r12 fast-tier split: this module is SLOW-tier (long fuzz loops /
# integration matrices); run `-m ""` for the full suite.
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from flink_table_store_spark import SqlSession


@pytest.fixture()
def sql(spark, warehouse):
    return SqlSession(spark, warehouse)


def _seed(spark, warehouse, name="db.s", pk=None, partition=None, options=None):
    t = warehouse.create_table(
        name,
        "k bigint, v string, pt string",
        primary_keys=pk,
        partition_keys=partition,
        options=options or ({"bucket": "2"} if pk else None),
    )
    t.write(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "x"), (3, "c", "y")], "k bigint, v string, pt string"
        )
    )
    return t


def test_select_join_and_where(spark, warehouse, sql):
    _seed(spark, warehouse, "db.a")
    _seed(spark, warehouse, "db.b")
    df = sql.sql(
        "SELECT a.k AS k, a.v AS av, b.v AS bv FROM db.a a JOIN db.b b ON a.k = b.k "
        "WHERE a.pt = 'x' ORDER BY k"
    )
    assert [(r.k, r.av, r.bv) for r in df.collect()] == [(1, "a", "a"), (2, "b", "b")]


def test_select_merged_pk_view(spark, warehouse, sql):
    t = _seed(spark, warehouse, "db.p", pk=["k"])
    t.write(spark.createDataFrame([(1, "a2", "x")], "k bigint, v string, pt string"))
    rows = sql.sql("SELECT k, v FROM db.p ORDER BY k").collect()
    assert [(r.k, r.v) for r in rows] == [(1, "a2"), (2, "b"), (3, "c")]


def test_time_travel_version_and_tag(spark, warehouse, sql):
    t = _seed(spark, warehouse, "db.tt", pk=["k"])
    t.create_tag("v1")
    t.write(spark.createDataFrame([(1, "new", "x")], "k bigint, v string, pt string"))
    assert sql.sql("SELECT v FROM db.tt WHERE k = 1").collect()[0].v == "new"
    assert sql.sql("SELECT v FROM db.tt VERSION AS OF 1 WHERE k = 1").collect()[0].v == "a"
    assert sql.sql("SELECT v FROM db.tt VERSION AS OF 'v1' WHERE k = 1").collect()[0].v == "a"


def test_system_table_reference(spark, warehouse, sql):
    t = _seed(spark, warehouse, "db.st")
    t.write(spark.createDataFrame([(4, "d", "y")], "k bigint, v string, pt string"))
    n = sql.sql("SELECT count(*) AS c FROM `db.st$snapshots`").collect()[0].c
    assert n == 2


def test_insert_into_and_overwrite_partition(spark, warehouse, sql):
    warehouse.create_table(
        "db.ins", "k bigint, v string, pt string", partition_keys=["pt"]
    )
    sql.sql("INSERT INTO db.ins VALUES (1, 'a', 'x'), (2, 'b', 'y')")
    sql.sql("INSERT INTO db.ins PARTITION (pt='x') VALUES (3, 'c')")
    got = {(r.k, r.v, r.pt) for r in sql.sql("SELECT * FROM db.ins").collect()}
    assert got == {(1, "a", "x"), (2, "b", "y"), (3, "c", "x")}
    # overwrite only partition x
    sql.sql("INSERT OVERWRITE db.ins PARTITION (pt='x') VALUES (9, 'z')")
    got = {(r.k, r.v, r.pt) for r in sql.sql("SELECT * FROM db.ins").collect()}
    assert got == {(9, "z", "x"), (2, "b", "y")}


def test_delete_update(spark, warehouse, sql):
    _seed(spark, warehouse, "db.du", pk=["k"])
    sql.sql("DELETE FROM db.du WHERE k = 2")
    sql.sql("UPDATE db.du SET v = 'upd' WHERE k = 3")
    got = {(r.k, r.v) for r in sql.sql("SELECT k, v FROM db.du").collect()}
    assert got == {(1, "a"), (3, "upd")}


def test_merge_into(spark, warehouse, sql):
    _seed(spark, warehouse, "db.mt", pk=["k"])
    src = spark.createDataFrame(
        [(1, "A", "x"), (4, "D", "z")], "k bigint, v string, pt string"
    )
    src.createOrReplaceTempView("mt_src")
    sql.sql(
        "MERGE INTO db.mt t USING mt_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    got = {(r.k, r.v) for r in sql.sql("SELECT k, v FROM db.mt").collect()}
    assert got == {(1, "A"), (2, "b"), (3, "c"), (4, "D")}


def test_call_procedures(spark, warehouse, sql):
    t = _seed(spark, warehouse, "db.cp", pk=["k"])
    t.write(spark.createDataFrame([(1, "a2", "x")], "k bigint, v string, pt string"))
    sql.sql("CALL sys.create_tag(table => 'db.cp', tag => 'T')")
    assert "T" in t.snapshots.tags()
    sql.sql("CALL sys.compact(table => 'db.cp')")
    assert sql.sql("SELECT count(*) AS c FROM db.cp").collect()[0].c == 3


def test_incremental_tvf(spark, warehouse, sql):
    t = _seed(spark, warehouse, "db.inc", pk=["k"])
    t.write(spark.createDataFrame([(7, "g", "x")], "k bigint, v string, pt string"))
    rows = sql.sql(
        "SELECT k, v FROM paimon_incremental_query('db.inc', 1, 2)"
    ).collect()
    assert [(r.k, r.v) for r in rows] == [(7, "g")]


def test_condition_parser_prunes(spark, warehouse):
    from flink_table_store_spark.sql import parse_condition
    from flink_table_store_spark import predicate as P

    p = parse_condition("pt = 'x' AND k >= 2")
    assert isinstance(p, P.And)
    assert p.fields() == {"pt", "k"}
    # complex conditions degrade to Raw (still correct, not prunable)
    assert parse_condition("k + 1 = 2 OR v LIKE 'a%'").fields() is None


def test_sql_bucketed_join_tvf(spark, warehouse):
    """SELECT over paimon_bucketed_join('a','b'): the co-located join
    runs shuffle-free under ordinary SQL (filters/aggregates compose)."""
    from flink_table_store_spark.sql import SqlSession

    orders = spark.createDataFrame(
        [(k % 5 + 1, k, float(k)) for k in range(25)],
        "o_custkey bigint, o_orderkey bigint, o_total double",
    )
    cust = spark.createDataFrame(
        [(k, f"n{k}") for k in range(1, 6)], "c_custkey bigint, c_name string"
    )
    to = warehouse.create_table(
        "db.sqlbj_o",
        orders.schema,
        primary_keys=["o_custkey", "o_orderkey"],
        options={"bucket": "2", "bucket-key": "o_custkey"},
    )
    to.write(orders)
    tc = warehouse.create_table(
        "db.sqlbj_c", cust.schema, primary_keys=["c_custkey"], options={"bucket": "2"}
    )
    tc.write(cust)
    s = SqlSession(spark, warehouse)
    got = s.sql(
        "SELECT c_name, count(*) AS n, sum(o_total) AS total "
        "FROM paimon_bucketed_join('db.sqlbj_o', 'db.sqlbj_c') "
        "WHERE o_orderkey >= 5 GROUP BY c_name ORDER BY c_name"
    )
    exp = (
        orders.where("o_orderkey >= 5")
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_name")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_total").alias("total"))
        .orderBy("c_name")
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in exp.collect()]
    # the join itself contributes no Exchange; only the GROUP BY shuffles
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan


def test_alter_table_schema_evolution(spark, warehouse):
    """ALTER TABLE DDL routes to schema evolution, including NESTED
    rename/retype by field id and table properties."""
    from flink_table_store_spark.sql import SqlSession

    s = SqlSession(spark, warehouse)
    ddl = "k bigint, v int, st struct<a: struct<x: int>>"
    t = warehouse.create_table("db.alter_t", ddl)
    t.write(spark.createDataFrame([(1, 5, ((7,),))], ddl))

    s.sql("ALTER TABLE db.alter_t ADD COLUMNS extra string, st.a.y double")
    s.sql("ALTER TABLE db.alter_t RENAME COLUMN st.a.x TO xx")
    s.sql("ALTER TABLE db.alter_t ALTER COLUMN v TYPE bigint")
    s.sql("ALTER TABLE db.alter_t SET TBLPROPERTIES ('write-only'='true')")
    t = t.refresh()
    assert t.schema.field("st").type == "struct<a:struct<xx:int,y:double>>"
    assert t.schema.field("v").type == "bigint"
    assert t.schema.options.get("write-only") == "true"
    [r] = t.to_df(spark).collect()
    assert r.st.a.xx == 7 and r.v == 5 and r.extra is None

    s.sql("ALTER TABLE db.alter_t DROP COLUMN extra")
    s.sql("ALTER TABLE db.alter_t UNSET TBLPROPERTIES ('write-only')")
    t = t.refresh()
    assert "extra" not in t.schema.field_names()
    assert "write-only" not in t.schema.options


def test_create_drop_show_describe_ddl(spark, warehouse):
    """Full SQL DDL lifecycle: CREATE TABLE with PK/partitions/props,
    SHOW TABLES, DESCRIBE, INSERT + SELECT through the session, DROP."""
    from flink_table_store_spark.sql import SqlSession

    s = SqlSession(spark, warehouse)
    s.sql(
        "CREATE TABLE IF NOT EXISTS db.ddl_t ("
        " k bigint, v string, m map<string,array<int>>, p int,"
        " PRIMARY KEY (k, p)"
        ") PARTITIONED BY (p) TBLPROPERTIES ('bucket'='2')"
    )
    t = warehouse.get_table("db.ddl_t")
    assert t.schema.primary_keys == ["p", "k"] or t.schema.primary_keys == ["k", "p"]
    assert t.schema.partition_keys == ["p"]
    assert t.schema.options["bucket"] == "2"
    assert t.schema.field("m").type == "map<string,array<int>>"

    s.sql("INSERT INTO db.ddl_t VALUES (1, 'a', map('x', array(1,2)), 0)")
    got = s.sql("SELECT k, v FROM db.ddl_t").collect()
    assert [(r.k, r.v) for r in got] == [(1, "a")]

    tables = {(r.database, r.tableName) for r in s.sql("SHOW TABLES IN db").collect()}
    assert ("db", "ddl_t") in tables
    desc = {r.col_name: r.data_type for r in s.sql("DESCRIBE db.ddl_t").collect()}
    assert desc["m"] == "map<string,array<int>>"

    s.sql("DROP TABLE db.ddl_t")
    import pytest

    with pytest.raises(Exception):
        warehouse.get_table("db.ddl_t")
    s.sql("DROP TABLE IF EXISTS db.ddl_t")  # idempotent


def test_add_column_parameterized_types_and_show_like(spark, warehouse):
    """ADD COLUMN with decimal(p,s)/varchar(n) keeps the type's parens
    and inner comma; SHOW TABLES LIKE filters instead of silently
    listing everything."""
    import pytest

    from flink_table_store_spark.sql import SqlSession

    s = SqlSession(spark, warehouse)
    warehouse.create_table("db.ptype_t", "k bigint, v string")
    s.sql("ALTER TABLE db.ptype_t ADD COLUMN d decimal(10,2)")
    s.sql("ALTER TABLE db.ptype_t ADD COLUMNS (n decimal(5,1), w string)")
    t = warehouse.get_table("db.ptype_t")
    assert t.schema.field("d").type == "decimal(10,2)"
    assert t.schema.field("n").type == "decimal(5,1)"
    assert t.schema.field("w").type == "string"

    warehouse.create_table("db.ptype_other", "k bigint")
    liked = {r.tableName for r in s.sql("SHOW TABLES IN db LIKE 'ptype%'").collect()}
    assert liked == {"ptype_t", "ptype_other"}
    none = s.sql("SHOW TABLES IN db LIKE 'zzz%'").collect()
    assert none == []
    with pytest.raises(ValueError, match="SHOW TABLES"):
        s.sql("SHOW TABLES IN db WHERE x")


def test_sql_plain_join_auto_bucketed_elision(spark, warehouse):
    """A plain SQL JOIN between co-bucketed tables silently takes the
    zero-Exchange bucketed path (reference: implicit DSv2
    KeyGroupedPartitioning, sql/BucketedTableQueryTest.scala); anything
    not elidable falls back to the ordinary shuffle join with the same
    results."""
    from flink_table_store_spark.sql import SqlSession

    orders = spark.createDataFrame(
        [(k % 5 + 1, k, float(k)) for k in range(25)],
        "o_custkey bigint, o_orderkey bigint, o_total double",
    )
    cust = spark.createDataFrame(
        [(k, f"n{k}") for k in range(1, 6)], "c_custkey bigint, c_name string"
    )
    to = warehouse.create_table(
        "db.abj_o",
        orders.schema,
        primary_keys=["o_custkey", "o_orderkey"],
        options={"bucket": "2", "bucket-key": "o_custkey"},
    )
    to.write(orders)
    tc = warehouse.create_table(
        "db.abj_c", cust.schema, primary_keys=["c_custkey"], options={"bucket": "2"}
    )
    tc.write(cust)
    s = SqlSession(spark, warehouse)

    got = s.sql(
        "SELECT c.c_name, count(*) AS n, sum(o.o_total) AS total "
        "FROM db.abj_o o JOIN db.abj_c c ON o.o_custkey = c.c_custkey "
        "WHERE o.o_orderkey >= 5 GROUP BY c.c_name ORDER BY c.c_name"
    )
    exp = (
        orders.where("o_orderkey >= 5")
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_name")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_total").alias("total"))
        .orderBy("c_name")
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in exp.collect()]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, "plain SQL JOIN must take the bucketed path"

    # LEFT JOIN elides too; referencing the right key keeps it on the
    # ordinary path for LEFT (NULLed on unmatched) but not for INNER
    left = s.sql(
        "SELECT o.o_orderkey, c.c_name FROM db.abj_o o "
        "LEFT JOIN db.abj_c c ON o.o_custkey = c.c_custkey"
    )
    assert "MapInPandas" in left._jdf.queryExecution().executedPlan().toString()
    assert left.count() == 25
    inner_rk = s.sql(
        "SELECT c.c_custkey, o.o_orderkey FROM db.abj_o o "
        "JOIN db.abj_c c ON o.o_custkey = c.c_custkey"
    )
    assert "MapInPandas" in inner_rk._jdf.queryExecution().executedPlan().toString()
    assert inner_rk.count() == 25

    # fallback: join on a NON-bucket key -> ordinary shuffle join, same rows
    fb = s.sql(
        "SELECT o.o_orderkey, c.c_name FROM db.abj_o o "
        "JOIN db.abj_c c ON o.o_orderkey = c.c_custkey"
    )
    assert "MapInPandas" not in fb._jdf.queryExecution().executedPlan().toString()
    assert fb.count() == 5  # orderkeys 1..5 match custkeys 1..5


def test_sql_plain_join_chain_auto_elision(spark, warehouse):
    """THREE co-bucketed tables in a plain SQL join chain auto-route
    through join_bucketed_chain — zero Exchange for the star shape; an
    ON referencing an earlier INNER side's key instead of the base
    still elides (the chain established the equality)."""
    from flink_table_store_spark.sql import SqlSession

    fact = spark.createDataFrame(
        [(k % 4 + 1, k, float(k)) for k in range(20)],
        "custkey bigint, orderkey bigint, total double",
    )
    dim1 = spark.createDataFrame(
        [(k, f"n{k}") for k in range(1, 5)], "c1 bigint, name string"
    )
    dim2 = spark.createDataFrame(
        [(k, f"r{k}") for k in range(1, 5)], "c2 bigint, region string"
    )
    tf = warehouse.create_table(
        "db.chj_f", fact.schema, primary_keys=["custkey", "orderkey"],
        options={"bucket": "2", "bucket-key": "custkey"},
    )
    tf.write(fact)
    t1 = warehouse.create_table(
        "db.chj_d1", dim1.schema, primary_keys=["c1"], options={"bucket": "2"}
    )
    t1.write(dim1)
    t2 = warehouse.create_table(
        "db.chj_d2", dim2.schema, primary_keys=["c2"], options={"bucket": "2"}
    )
    t2.write(dim2)
    s = SqlSession(spark, warehouse)

    got = s.sql(
        "SELECT f.orderkey, d1.name, d2.region FROM db.chj_f f "
        "JOIN db.chj_d1 d1 ON f.custkey = d1.c1 "
        "JOIN db.chj_d2 d2 ON d1.c1 = d2.c2 "  # prior INNER side's key
        "ORDER BY f.orderkey"
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "SortMergeJoin" not in plan
    exp = (
        fact.join(dim1, fact.custkey == dim1.c1)
        .join(dim2, dim1.c1 == dim2.c2)
        .select("orderkey", "name", "region")
        .orderBy("orderkey")
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in exp.collect()]

    # referencing a dropped dim key on an inner chain rewrites to the
    # base key; aggregation over the chain still collapses correctly
    agg = s.sql(
        "SELECT d2.c2 AS ck, count(*) AS n FROM db.chj_f f "
        "JOIN db.chj_d1 d1 ON f.custkey = d1.c1 "
        "JOIN db.chj_d2 d2 ON f.custkey = d2.c2 "
        "GROUP BY d2.c2 ORDER BY ck"
    )
    assert "MapInPandas" in agg._jdf.queryExecution().executedPlan().toString()
    assert [(r.ck, r.n) for r in agg.collect()] == [(1, 5), (2, 5), (3, 5), (4, 5)]

    # a LEFT middle hop whose key feeds a later ON keeps the shuffle path
    fb = s.sql(
        "SELECT f.orderkey FROM db.chj_f f "
        "LEFT JOIN db.chj_d1 d1 ON f.custkey = d1.c1 "
        "JOIN db.chj_d2 d2 ON d1.c1 = d2.c2"
    )
    assert "MapInPandas" not in fb._jdf.queryExecution().executedPlan().toString()
    assert fb.count() == 20


def test_sql_auto_elision_parity_vs_shuffle(spark, warehouse, monkeypatch):
    """Every auto-elided query must equal the ordinary shuffle path
    bit-for-bit: run a matrix of query shapes twice — elision on vs
    monkeypatched off — and compare sorted rows."""
    from flink_table_store_spark.sql import SqlSession

    fact = spark.createDataFrame(
        [(k % 6, k, float(k) * 1.5, f"s{k % 3}") for k in range(40)],
        "fk bigint, oid bigint, amt double, tag string",
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}", k * 10) for k in range(0, 5)],  # fk=5 unmatched
        "dk bigint, dname string, weight bigint",
    )
    tf = warehouse.create_table(
        "db.par_f", fact.schema, primary_keys=["fk", "oid"],
        options={"bucket": "4", "bucket-key": "fk"},
    )
    tf.write(fact)
    td = warehouse.create_table(
        "db.par_d", dim.schema, primary_keys=["dk"], options={"bucket": "4"}
    )
    td.write(dim)
    s = SqlSession(spark, warehouse)

    queries = [
        "SELECT f.oid, d.dname FROM db.par_f f JOIN db.par_d d ON f.fk = d.dk",
        "SELECT f.oid, d.dname FROM db.par_f f LEFT JOIN db.par_d d ON f.fk = d.dk",
        "SELECT f.oid, d.dname FROM db.par_f f RIGHT JOIN db.par_d d ON f.fk = d.dk",
        "SELECT f.oid, d.dname FROM db.par_f f FULL OUTER JOIN db.par_d d ON f.fk = d.dk",
        # reversed equality order, AS aliases, WHERE + expressions
        "SELECT f.amt * 2 AS a2, d.weight FROM db.par_f AS f JOIN db.par_d AS d "
        "ON d.dk = f.fk WHERE f.tag = 's1' AND d.weight > 10",
        # group by + having + inner right-key reference
        "SELECT d.dk AS k, count(*) AS n, sum(f.amt) AS total FROM db.par_f f "
        "JOIN db.par_d d ON f.fk = d.dk GROUP BY d.dk HAVING count(*) > 2",
        # string literal that looks like a qualifier
        "SELECT concat('f.', d.dname) AS lbl, f.oid FROM db.par_f f "
        "JOIN db.par_d d ON f.fk = d.dk WHERE d.dname <> 'f.x'",
    ]
    # bare-table-name qualifiers work on BOTH paths (the fallback
    # re-aliases its temp view as the table's last name)
    queries.append(
        "SELECT oid, dname FROM db.par_f JOIN db.par_d ON par_f.fk = par_d.dk"
    )
    results_on = [sorted(map(tuple, s.sql(q).collect())) for q in queries]
    monkeypatch.setattr(SqlSession, "_auto_bucketed_join", lambda self, q, lits: None)
    s2 = SqlSession(spark, warehouse)
    results_off = [sorted(map(tuple, s2.sql(q).collect())) for q in queries]
    for q, on, off in zip(queries, results_on, results_off):
        assert on == off, q


def test_sql_auto_elision_agg_pushdown(spark, warehouse, monkeypatch):
    """GROUP BY on the bucket keys after an auto-elided join pushes the
    aggregation INTO the bucket tasks: the whole query plans with ZERO
    Exchange (the aggregations-after-join half of the reference's
    KeyGroupedPartitioning elision)."""
    from flink_table_store_spark.sql import SqlSession

    fact = spark.createDataFrame(
        [(k % 5 + 1, k, float(k), k % 2) for k in range(30)],
        "fk bigint, oid bigint, amt double, flag bigint",
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(1, 5)], "dk bigint, dname string"
    )
    tf = warehouse.create_table(
        "db.agp_f", fact.schema, primary_keys=["fk", "oid"],
        options={"bucket": "4", "bucket-key": "fk"},
    )
    tf.write(fact)
    td = warehouse.create_table(
        "db.agp_d", dim.schema, primary_keys=["dk"], options={"bucket": "4"}
    )
    td.write(dim)
    s = SqlSession(spark, warehouse)

    q = (
        "SELECT f.fk AS k, count(*) AS n, sum(f.amt) AS total, "
        "avg(f.amt) AS m, min(d.dname) AS dn "
        "FROM db.agp_f f JOIN db.agp_d d ON f.fk = d.dk "
        "GROUP BY f.fk ORDER BY k"
    )
    got = s.sql(q)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the aggregate columns come straight out of the bucket tasks; the
    # only Exchange left is ORDER BY's rangepartitioning over the tiny
    # grouped output — no hash (aggregation) shuffle anywhere
    assert "MapInPandas" in plan, plan
    assert "hashpartitioning" not in plan.lower(), "aggregation must finalize in-task"
    assert "HashAggregate" not in plan, plan
    monkeypatch.setattr(SqlSession, "_parse_agg_pushdown", lambda *a, **k: None)
    exp = sorted(map(tuple, SqlSession(spark, warehouse).sql(q).collect()))
    assert sorted(map(tuple, got.collect())) == exp

    # count(col) pushes too: in-task non-null count (NULL-extended left
    # join rows must not count — fk=5 has no dim match)
    q2 = (
        "SELECT f.fk AS k, count(d.dname) AS n FROM db.agp_f f "
        "LEFT JOIN db.agp_d d ON f.fk = d.dk GROUP BY f.fk ORDER BY k"
    )
    monkeypatch.undo()
    got2 = s.sql(q2)
    p2 = got2._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in p2, p2
    assert "hashpartitioning" not in p2.lower(), "count(col) must push in-task"
    assert [(r.k, r.n) for r in got2.collect()] == [
        (1, 6), (2, 6), (3, 6), (4, 6), (5, 0)
    ]


def test_sql_auto_elision_decimal_sum_pushdown(spark, warehouse, monkeypatch):
    """sum(decimal) pushes into the bucket tasks and folds EXACTLY
    (object-dtype Decimal, no double transit); the output type matches
    Spark's sum widening decimal(12,2) -> decimal(22,2)."""
    from decimal import Decimal

    from flink_table_store_spark.sql import SqlSession

    fact = spark.createDataFrame(
        [
            (k % 3 + 1, k, Decimal(f"{k}.{k % 10}7"), None if k % 4 == 0 else Decimal(k))
            for k in range(24)
        ],
        "fk bigint, oid bigint, price decimal(12,2), bonus decimal(10,0)",
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(1, 4)], "dk bigint, dname string"
    )
    tf = warehouse.create_table(
        "db.dec_f", fact.schema, primary_keys=["fk", "oid"],
        options={"bucket": "2", "bucket-key": "fk"},
    )
    tf.write(fact)
    td = warehouse.create_table(
        "db.dec_d", dim.schema, primary_keys=["dk"], options={"bucket": "2"}
    )
    td.write(dim)
    s = SqlSession(spark, warehouse)
    q = (
        "SELECT f.fk AS k, sum(f.price) AS sp, sum(f.bonus) AS sb, "
        "min(f.price) AS mp, count(f.bonus) AS cb "
        "FROM db.dec_f f JOIN db.dec_d d ON f.fk = d.dk "
        "GROUP BY f.fk ORDER BY k"
    )
    got = s.sql(q)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan
    assert "hashpartitioning" not in plan.lower(), "decimal sums must push in-task"
    assert dict(got.dtypes)["sp"] == "decimal(22,2)"
    assert dict(got.dtypes)["mp"] == "decimal(12,2)"
    monkeypatch.setattr(SqlSession, "_parse_agg_pushdown", lambda *a, **k: None)
    exp = sorted(map(tuple, SqlSession(spark, warehouse).sql(q).collect()))
    assert sorted(map(tuple, got.collect())) == exp


def test_sql_auto_elision_faithfulness_extras(spark, warehouse, monkeypatch):
    """Review-driven faithfulness matrix: SELECT * keeps the joined
    side's key columns, case-mixed aliases resolve like Spark's,
    double-quoted string literals survive qualifier stripping, and
    WHERE conjuncts prune the owning side's files (predicate reaches
    ReadBuilder.plan and bucket_spec) while staying in the query."""
    from flink_table_store_spark import predicate as PP
    from flink_table_store_spark.operators import bucketed_join as bj
    from flink_table_store_spark.sql import SqlSession

    fact = spark.createDataFrame(
        [(k % 4 + 1, k, float(k), f"s{k % 3}") for k in range(24)],
        "fk bigint, oid bigint, amt double, tag string",
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(1, 4)], "dk bigint, dname string"
    )
    tf = warehouse.create_table(
        "db.fx_f", fact.schema, primary_keys=["fk", "oid"],
        options={"bucket": "2", "bucket-key": "fk"},
    )
    tf.write(fact)
    td = warehouse.create_table(
        "db.fx_d", dim.schema, primary_keys=["dk"], options={"bucket": "2"}
    )
    td.write(dim)
    s = SqlSession(spark, warehouse)

    # SELECT *: all columns of both sides INCLUDING the right key, in order
    star = s.sql("SELECT * FROM db.fx_f f JOIN db.fx_d d ON f.fk = d.dk")
    assert star.columns == ["fk", "oid", "amt", "tag", "dk", "dname"]
    assert "MapInPandas" in star._jdf.queryExecution().executedPlan().toString()
    exp = fact.join(dim, fact.fk == dim.dk)
    assert sorted(map(tuple, star.collect())) == sorted(map(tuple, exp.collect()))
    # right-key column carries real values, NULL on unmatched LEFT rows
    lj = s.sql("SELECT f.oid, d.dk FROM db.fx_f f LEFT JOIN db.fx_d d ON f.fk = d.dk")
    assert "MapInPandas" in lj._jdf.queryExecution().executedPlan().toString()
    got = {r.oid: r.dk for r in lj.collect()}
    assert got[0] == 1 and got[3] is None  # fk=1 matched, fk=4 unmatched

    # case-mixed alias + double-quoted literal faithfulness
    cm = s.sql(
        'SELECT F.oid, D.dname FROM db.fx_f f JOIN db.fx_d d ON f.fk = d.dk '
        'WHERE D.dname <> "f.x" AND F.tag = \'s1\''
    )
    assert "MapInPandas" in cm._jdf.queryExecution().executedPlan().toString()
    exp2 = (
        fact.join(dim, fact.fk == dim.dk)
        .where((F.col("dname") != "f.x") & (F.col("tag") == "s1"))
        .select("oid", "dname")
    )
    assert sorted(map(tuple, cm.collect())) == sorted(map(tuple, exp2.collect()))

    # WHERE pushdown: each single-side conjunct reaches its owning
    # table's file planning (ReadBuilder.plan, where pruning happens)
    # and bucket_spec (the per-task row filter); the WHERE clause stays
    # in the query
    from flink_table_store_spark.table import ReadBuilder

    seen, planned = [], []
    orig, orig_plan = bj.bucket_spec, ReadBuilder.plan

    def spy(table, plan, cols=None, keys=(), pred=None):
        seen.append((table.path, pred))
        return orig(table, plan, cols, keys, pred=pred)

    def plan_spy(self, spark=None):
        planned.append((self._table.path, self._predicate))
        return orig_plan(self, spark)

    monkeypatch.setattr(bj, "bucket_spec", spy)
    monkeypatch.setattr(ReadBuilder, "plan", plan_spy)
    pf = s.sql(
        "SELECT f.oid, d.dname FROM db.fx_f f JOIN db.fx_d d ON f.fk = d.dk "
        "WHERE f.amt > 10.5 AND d.dname = 'd2' AND f.oid + d.dk > 0"
    )
    preds = [p for _t, p in seen if p is not None]
    assert len(preds) == 2, seen  # one per side; the cross-side piece not pushed
    assert [(t_, p) for t_, p in planned if p is not None] == [
        (t_, p) for t_, p in seen if p is not None
    ], (planned, seen)
    exp3 = (
        fact.join(dim, fact.fk == dim.dk)
        .where((F.col("amt") > 10.5) & (F.col("dname") == "d2") & (F.col("oid") + F.col("dk") > 0))
        .select("oid", "dname")
    )
    assert sorted(map(tuple, pf.collect())) == sorted(map(tuple, exp3.collect()))
    assert isinstance(next(iter(preds)), PP.Predicate)

    # LEFT join: predicate on the NULL-extended side must NOT push
    seen.clear()
    planned.clear()
    s.sql(
        "SELECT f.oid FROM db.fx_f f LEFT JOIN db.fx_d d ON f.fk = d.dk "
        "WHERE d.dname IS NULL"
    ).collect()
    assert all(p is None for _t, p in seen), seen
    assert all(p is None for _t, p in planned), planned


def test_sql_auto_elision_fuzz_parity(spark, warehouse, monkeypatch):
    """Seeded fuzz: random query shapes over randomized co-bucketed
    tables must return identical rows with elision on vs off. Covers
    hows, SELECT */columns/aggregates, WHERE mixes, GROUP BY, name
    collisions (bail paths) and NULL dimension values."""
    import random

    from flink_table_store_spark.sql import SqlSession

    from decimal import Decimal

    fact = spark.createDataFrame(
        [
            (
                k % 7,
                k,
                float(k) * 0.5 if k % 5 else None,
                f"t{k % 4}",
                Decimal(f"{k}.25") if k % 6 else None,
            )
            for k in range(35)
        ],
        "k bigint, oid bigint, amt double, tag string, price decimal(9,2)",
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}" if k % 3 else None, k * 100) for k in range(0, 6)],
        "k bigint, dname string, weight bigint",
    )
    # dim2 collides on key NAME (k) with fact's key — the dropped-key path
    tf = warehouse.create_table(
        "db.fz_f", fact.schema, primary_keys=["k", "oid"],
        options={"bucket": "2", "bucket-key": "k"},
    )
    tf.write(fact)
    td = warehouse.create_table(
        "db.fz_d", dim.schema, primary_keys=["k"], options={"bucket": "2"}
    )
    td.write(dim)
    s_on = SqlSession(spark, warehouse)

    sel_pool = [
        "f.oid", "f.amt", "d.dname", "d.weight", "f.k", "d.k",
        "f.oid AS o2", "d.weight AS w2",
        # literal-keyword adversaries (the r7 masking audit's class):
        # SQL structure spelled INSIDE literals must ride through
        "'FROM db.fz_f f JOIN db.fz_d d' AS lit_a",
        "' where x group by y having z ' AS lit_b",
    ]
    where_pool = [
        "f.amt > 5.0", "d.weight >= 200", "f.tag = 't1'", "d.dname IS NOT NULL",
        "f.oid + d.weight > 100", "d.dname <> \"f.x\"",
        "f.tag <> 'x JOIN y, AND z'",
    ]
    agg_pool = [
        "count(*) AS n", "sum(f.amt) AS sa", "min(d.dname) AS mn",
        "max(d.weight) AS mw", "avg(f.amt) AS av", "count(f.amt) AS ca",
        "count(d.dname) AS cd", "sum(f.price) AS sp", "max(f.price) AS xp",
    ]

    failures = []
    for seed in range(10):
        rng = random.Random(seed)
        how = rng.choice(["JOIN", "LEFT JOIN", "RIGHT JOIN", "FULL OUTER JOIN"])
        grouped = rng.random() < 0.4 and how in ("JOIN", "LEFT JOIN")
        if grouped:
            sel = ["f.k"] + rng.sample(agg_pool, rng.randint(1, 3))
            tail = " GROUP BY f.k"
            if rng.random() < 0.5:
                tail += " HAVING " + rng.choice([
                    "count(*) > 3",
                    "sum(f.amt) > 4.0",
                    "count(d.dname) >= 1 AND f.k < 6",
                    "max(d.weight) >= 200 OR f.k = 0",
                ])
        elif rng.random() < 0.2:
            sel, tail = ["*"], ""
        else:
            sel, tail = rng.sample(sel_pool, rng.randint(1, 4)), ""
        where = (
            " WHERE " + " AND ".join(rng.sample(where_pool, rng.randint(1, 2)))
            if rng.random() < 0.6 and not grouped
            else ""
        )
        # random comment injection: masking must treat comments (with
        # stray quotes and keywords) as opaque
        comment = (
            rng.choice(["/* don't JOIN here */ ", "-- from db.fz_f\n"])
            if rng.random() < 0.3
            else ""
        )
        q = (
            f"SELECT {comment}{', '.join(sel)} FROM db.fz_f f {how} db.fz_d d "
            f"ON f.k = d.k{where}{tail}"
        )
        with monkeypatch.context() as mp:
            on_rows = sorted(map(tuple, s_on.sql(q).collect()), key=repr)
            mp.setattr(SqlSession, "_auto_bucketed_join", lambda self, qq, lits: None)
            off_rows = sorted(
                map(tuple, SqlSession(spark, warehouse).sql(q).collect()), key=repr
            )
        if on_rows != off_rows:
            failures.append((seed, q, on_rows[:3], off_rows[:3]))
    assert not failures, failures


def test_fallback_realias_branch_and_quoted_alias(spark, warehouse, sql):
    """ref_sub's re-alias must not break branch references (db.t@dev —
    '@' is not a legal alias char) or queries that already carry a
    backtick-quoted alias."""
    t = _seed(spark, warehouse, "db.ra", pk=["k"])
    t.create_branch("dev")
    rows = sql.sql("SELECT k, v FROM db.ra@dev ORDER BY k").collect()
    assert [r.k for r in rows] == [1, 2, 3]
    got = sql.sql("SELECT `x`.v FROM db.ra `x` WHERE `x`.k = 2").collect()
    assert [r.v for r in got] == ["b"]


def test_sql_auto_elision_column_pruning(spark, warehouse):
    """The elided view reads only referenced columns: unreferenced
    fields never appear in the MapInPandas output (so the bucket tasks
    never read those parquet columns)."""
    from flink_table_store_spark.sql import SqlSession

    fact = spark.createDataFrame(
        [(k % 3 + 1, k, float(k), f"tag{k}", f"pad{k}" * 10) for k in range(12)],
        "fk bigint, oid bigint, amt double, tag string, big_unused string",
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}", k * 10) for k in range(1, 4)],
        "dk bigint, dname string, unused_w bigint",
    )
    tf = warehouse.create_table(
        "db.cp_f", fact.schema, primary_keys=["fk", "oid"],
        options={"bucket": "2", "bucket-key": "fk"},
    )
    tf.write(fact)
    td = warehouse.create_table(
        "db.cp_d", dim.schema, primary_keys=["dk"], options={"bucket": "2"}
    )
    td.write(dim)
    s = SqlSession(spark, warehouse)
    df = s.sql(
        "SELECT f.oid, d.dname FROM db.cp_f f JOIN db.cp_d d ON f.fk = d.dk "
        "WHERE f.amt > 3.0 ORDER BY f.oid"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "big_unused" not in plan and "unused_w" not in plan and "tag" not in plan
    assert [r.oid for r in df.collect()] == [4, 5, 6, 7, 8, 9, 10, 11]
    # SELECT * still returns everything
    star = s.sql("SELECT * FROM db.cp_f f JOIN db.cp_d d ON f.fk = d.dk")
    assert star.columns == ["fk", "oid", "amt", "tag", "big_unused", "dk", "dname", "unused_w"]


def test_sql_auto_elision_skips_time_travel(spark, warehouse, sql):
    """A VERSION/TIMESTAMP AS OF clause on either join side must keep
    the shuffle path — the elided view always reads the LATEST
    snapshot, so eliding a travel query would silently answer from the
    wrong snapshot."""
    a = _seed(spark, warehouse, "db.tt_a", pk=["k"])
    _seed(spark, warehouse, "db.tt_b", pk=["k"])
    a.write(spark.createDataFrame([(1, "NEW", "x")], "k bigint, v string, pt string"))
    df = sql.sql(
        "SELECT a.v FROM db.tt_a VERSION AS OF 1 a JOIN db.tt_b b ON a.k = b.k "
        "WHERE a.k = 1"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert [r.v for r in df.collect()] == ["a"]  # snapshot 1, not NEW


def test_ddl_ctas_rename_truncate_views_databases(spark, warehouse, sql):
    """Round out the reference's Spark DDL surface: CTAS (+primary-key
    TBLPROPERTY), ALTER TABLE RENAME TO, TRUNCATE TABLE, CREATE/SHOW/
    DROP VIEW, CREATE/SHOW/DROP DATABASE, SHOW CREATE TABLE."""
    _seed(spark, warehouse, "db.src", pk=["k"])

    # CTAS with partition + primary key property
    t = sql.sql(
        "CREATE TABLE db.ctas_t PARTITIONED BY (pt) "
        "TBLPROPERTIES ('primary-key'='k,pt', 'bucket'='2') "
        "AS SELECT k, v, pt FROM db.src"
    )
    assert sorted(t.schema.primary_keys) == ["k", "pt"]
    assert t.schema.partition_keys == ["pt"]
    got = {(r.k, r.v) for r in sql.sql("SELECT k, v FROM db.ctas_t").collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    # CTAS IF NOT EXISTS on an existing table: no double-write
    sql.sql("CREATE TABLE IF NOT EXISTS db.ctas_t AS SELECT k, v, pt FROM db.src")
    assert sql.sql("SELECT count(*) AS c FROM db.ctas_t").collect()[0].c == 3

    # RENAME TO + SHOW CREATE TABLE on the new name
    sql.sql("ALTER TABLE db.ctas_t RENAME TO ctas_renamed")
    ddl = sql.sql("SHOW CREATE TABLE db.ctas_renamed").collect()[0].createtab_stmt
    assert "PRIMARY KEY" in ddl and "PARTITIONED BY (pt)" in ddl and "`v` string" in ddl

    # TRUNCATE empties, keeps schema
    sql.sql("TRUNCATE TABLE db.ctas_renamed")
    assert sql.sql("SELECT count(*) AS c FROM db.ctas_renamed").collect()[0].c == 0

    # views
    sql.sql("CREATE VIEW db.v_top AS SELECT k, v FROM db.src WHERE k >= 2")
    assert {(r.k, r.v) for r in sql.sql("SELECT * FROM db.v_top").collect()} == {
        (2, "b"), (3, "c")
    }
    views = {(r.namespace, r.viewName) for r in sql.sql("SHOW VIEWS IN db").collect()}
    assert ("db", "v_top") in views
    sql.sql("DROP VIEW db.v_top")
    assert not warehouse.is_view("db.v_top")

    # databases
    sql.sql("CREATE DATABASE extra_db")
    assert "extra_db" in {r.namespace for r in sql.sql("SHOW DATABASES").collect()}
    sql.sql("DROP DATABASE extra_db")
    assert "extra_db" not in warehouse.list_databases()
    import pytest

    with pytest.raises(Exception, match="not empty"):
        sql.sql("DROP DATABASE db")


def test_ddl_review_regressions(spark, warehouse, sql):
    """Review-driven DDL/pruning regressions: hint before *, CTAS
    clause order + quoted 'as select', CTAS/VIEW IF NOT EXISTS are
    true no-ops, SHOW DATABASES LIKE filters."""
    import pytest

    _seed(spark, warehouse, "db.rr", pk=["k"])
    _seed(spark, warehouse, "db.rr2", pk=["k"])

    # a hint before * must still be detected as SELECT * (all columns)
    df = sql.sql(
        "SELECT /*+ MERGE(a) */ * FROM db.rr a JOIN db.rr2 b ON a.k = b.k"
    )
    assert len(df.columns) >= 5 and df.count() == 3

    # CTAS: TBLPROPERTIES before PARTITIONED BY, quoted 'as select' value
    t = sql.sql(
        "CREATE TABLE db.rr_ctas TBLPROPERTIES ('comment'='not as select here', "
        "'primary-key'='k,pt') PARTITIONED BY (pt) AS SELECT k, v, pt FROM db.rr"
    )
    assert t.schema.partition_keys == ["pt"]
    assert t.schema.options.get("comment") == "not as select here"
    assert sql.sql("SELECT count(*) AS c FROM db.rr_ctas").collect()[0].c == 3

    # CTAS IF NOT EXISTS on an existing EMPTY table: no write at all
    warehouse.create_table("db.rr_empty", "a bigint")
    sql.sql("CREATE TABLE IF NOT EXISTS db.rr_empty AS SELECT k FROM db.rr")
    t2 = warehouse.get_table("db.rr_empty")
    assert t2.snapshots.latest_id() is None  # still empty, schema untouched
    with pytest.raises(Exception, match="exists"):
        sql.sql("CREATE TABLE db.rr_empty AS SELECT k FROM db.rr")

    # CREATE VIEW IF NOT EXISTS preserves the existing definition
    sql.sql("CREATE VIEW db.rr_v AS SELECT k FROM db.rr WHERE k = 1")
    sql.sql("CREATE VIEW IF NOT EXISTS db.rr_v AS SELECT k FROM db.rr")
    assert sql.sql("SELECT count(*) AS c FROM db.rr_v").collect()[0].c == 1
    sql.sql("CREATE OR REPLACE VIEW db.rr_v AS SELECT k FROM db.rr")
    assert sql.sql("SELECT count(*) AS c FROM db.rr_v").collect()[0].c == 3

    # SHOW DATABASES LIKE filters; junk raises
    dbs = {r.namespace for r in sql.sql("SHOW DATABASES LIKE 'd%'").collect()}
    assert "db" in dbs
    assert sql.sql("SHOW DATABASES LIKE 'zzz%'").collect() == []
    with pytest.raises(ValueError, match="SHOW DATABASES"):
        sql.sql("SHOW DATABASES WHERE x")


def test_analyze_table_sql_and_procedure(spark, warehouse, sql):
    """ANALYZE TABLE ... COMPUTE STATISTICS (+ FOR COLUMNS) persists
    stats readable via the $statistics system table; CALL sys.analyze
    is the procedure form (PaimonAnalyzeTableColumnCommand)."""
    t = _seed(spark, warehouse, "db.an", pk=["k"])
    sql.sql("ANALYZE TABLE db.an COMPUTE STATISTICS FOR COLUMNS k, v")
    s = t.statistics()
    assert s["rowCount"] == 3 and set(s["columns"]) == {"k", "v"}
    assert s["columns"]["k"]["min"] == "1" and s["columns"]["k"]["max"] == "3"
    sql.sql("ANALYZE TABLE db.an COMPUTE STATISTICS FOR ALL COLUMNS")
    assert set(t.statistics()["columns"]) == {"k", "v", "pt"}
    sql.sql("CALL sys.analyze(table => 'db.an', columns => 'v')")
    assert set(t.statistics()["columns"]) == {"v"}
    n = sql.sql("SELECT * FROM `db.an$statistics`").count()
    assert n >= 1


def test_show_partitions_and_describe_extended(spark, warehouse, sql):
    """SHOW PARTITIONS renders k=v paths from the $partitions system
    table; DESCRIBE EXTENDED appends partitioning/PK/properties."""
    import pytest

    _seed(spark, warehouse, "db.sp", pk=["k", "pt"], partition=["pt"],
          options={"bucket": "2"})
    parts = [r.partition for r in sql.sql("SHOW PARTITIONS db.sp").collect()]
    assert parts == ["pt=x", "pt=y"]
    with pytest.raises(ValueError, match="not partitioned"):
        _seed(spark, warehouse, "db.sp_np")
        sql.sql("SHOW PARTITIONS db.sp_np")
    desc = {r.col_name: r.data_type for r in sql.sql("DESCRIBE EXTENDED db.sp").collect()}
    assert desc["# Partitioning"] == "pt"
    assert "k" in desc["# Primary Key"]
    assert desc["# bucket"] == "2"


def test_show_tblproperties(spark, warehouse, sql):
    _seed(spark, warehouse, "db.tp", pk=["k"], options={"bucket": "2", "write-only": "true"})
    props = {r.key: r.value for r in sql.sql("SHOW TBLPROPERTIES db.tp").collect()}
    assert props["bucket"] == "2" and props["write-only"] == "true"
    one = sql.sql("SHOW TBLPROPERTIES db.tp ('bucket')").collect()
    assert [(r.key, r.value) for r in one] == [("bucket", "2")]


def test_sql_auto_elision_having_pushdown(spark, warehouse, monkeypatch):
    """HAVING over an elided+pushed aggregation runs as a plain filter
    on the finalized in-task aggregates — still zero hash Exchange.
    Covers: alias refs, aggregate calls present in SELECT, aggregate
    calls ABSENT from SELECT (hidden aggregates), group-col refs, and
    the bail path (subquery HAVING falls back to the shuffle plan)."""
    from flink_table_store_spark.sql import SqlSession

    fact = spark.createDataFrame(
        [(k % 5 + 1, k, float(k), None if k % 3 == 0 else k) for k in range(30)],
        "fk bigint, oid bigint, amt double, opt bigint",
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(1, 5)], "dk bigint, dname string"
    )
    tf = warehouse.create_table(
        "db.hav_f", fact.schema, primary_keys=["fk", "oid"],
        options={"bucket": "4", "bucket-key": "fk"},
    )
    tf.write(fact)
    td = warehouse.create_table(
        "db.hav_d", dim.schema, primary_keys=["dk"], options={"bucket": "4"}
    )
    td.write(dim)
    s = SqlSession(spark, warehouse)

    cases = [
        # alias reference
        "SELECT f.fk AS k, count(*) AS n FROM db.hav_f f JOIN db.hav_d d "
        "ON f.fk = d.dk GROUP BY f.fk HAVING n > 5 ORDER BY k",
        # aggregate call matching a SELECT agg
        "SELECT f.fk AS k, sum(f.amt) AS sa FROM db.hav_f f JOIN db.hav_d d "
        "ON f.fk = d.dk GROUP BY f.fk HAVING sum(f.amt) > 50.0 ORDER BY k",
        # hidden aggregate (count(f.opt) not selected) + group col + AND
        "SELECT f.fk AS k, sum(f.amt) AS sa FROM db.hav_f f JOIN db.hav_d d "
        "ON f.fk = d.dk GROUP BY f.fk "
        "HAVING count(f.opt) >= 4 AND f.fk < 4 ORDER BY k",
    ]
    for q in cases:
        got = s.sql(q)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan, q
        assert "hashpartitioning" not in plan.lower(), f"HAVING must stay pushed: {q}"
        with monkeypatch.context() as mp:
            mp.setattr(SqlSession, "_auto_bucketed_join", lambda self, qq, lits: None)
            exp = sorted(map(tuple, SqlSession(spark, warehouse).sql(q).collect()))
        assert sorted(map(tuple, got.collect())) == exp, q
        # hidden aggregates never leak into the output schema
        assert not [c for c in got.columns if c.startswith("__h")], got.columns

    # subquery in HAVING: unparseable -> correct shuffle fallback
    q = (
        "SELECT f.fk AS k, count(*) AS n FROM db.hav_f f JOIN db.hav_d d "
        "ON f.fk = d.dk GROUP BY f.fk "
        "HAVING count(*) > (SELECT 2) ORDER BY k"
    )
    got = s.sql(q)
    assert "hashpartitioning" in got._jdf.queryExecution().executedPlan().toString().lower()
    assert [r.k for r in got.collect()] == [1, 2, 3, 4]


def test_sql_having_literal_and_hidden_alias_regressions(spark, warehouse, monkeypatch):
    """Second-review regressions: (1) a HAVING string literal containing
    ' ORDER BY ...' or an aggregate-call-shaped text must survive the
    clause split and rewrites untouched; (2) a user SELECT alias named
    __h1 must not be clobbered by a hidden HAVING aggregate."""
    from flink_table_store_spark.sql import SqlSession

    fact = spark.createDataFrame(
        [(k % 3 + 1, k, float(k), f"t{k % 2}") for k in range(18)],
        "fk bigint, oid bigint, amt double, nm string",
    )
    dim = spark.createDataFrame([(k, f"d{k}") for k in range(1, 4)], "dk bigint, dn string")
    tf = warehouse.create_table(
        "db.hreg_f", fact.schema, primary_keys=["fk", "oid"],
        options={"bucket": "2", "bucket-key": "fk"},
    )
    tf.write(fact)
    td = warehouse.create_table(
        "db.hreg_d", dim.schema, primary_keys=["dk"], options={"bucket": "2"}
    )
    td.write(dim)
    s = SqlSession(spark, warehouse)

    qs = [
        # literal containing ' ORDER BY 1' and a qualified-ref-shaped text
        "SELECT f.fk AS k, min(f.nm) AS mn FROM db.hreg_f f JOIN db.hreg_d d "
        "ON f.fk = d.dk GROUP BY f.fk "
        "HAVING count(*) > 0 AND min(f.nm) <> 'f.nm ORDER BY 1' ORDER BY k",
        # literal containing an aggregate-call-shaped text
        "SELECT f.fk AS k, min(f.nm) AS mn FROM db.hreg_f f JOIN db.hreg_d d "
        "ON f.fk = d.dk GROUP BY f.fk HAVING min(f.nm) <> 'count(x) LIMIT 1' ORDER BY k",
        # user alias __h1 + a hidden aggregate that must not clobber it
        "SELECT f.fk AS k, sum(f.amt) AS __h1 FROM db.hreg_f f JOIN db.hreg_d d "
        "ON f.fk = d.dk GROUP BY f.fk HAVING count(*) > 2 ORDER BY k",
    ]
    for q in qs:
        got = s.sql(q)
        with monkeypatch.context() as mp:
            mp.setattr(SqlSession, "_auto_bucketed_join", lambda self, qq, lits: None)
            exp = sorted(map(tuple, SqlSession(spark, warehouse).sql(q).collect()))
        assert sorted(map(tuple, got.collect())) == exp, q


def test_sql_rewrite_subquery_cte_union(spark, warehouse, sql):
    """Engine table references inside derived tables, CTEs and UNION
    branches all resolve through the rewrite layer (the inner FROM/JOIN
    tokens are what get rewritten; outer SQL runs verbatim)."""
    _seed(spark, warehouse, "db.sq", pk=["k"])
    got = sql.sql(
        "SELECT * FROM (SELECT k, v FROM db.sq WHERE k > 1) x ORDER BY k"
    ).collect()
    assert [(r.k, r.v) for r in got] == [(2, "b"), (3, "c")]
    n = sql.sql(
        "WITH big AS (SELECT k FROM db.sq WHERE k >= 2) SELECT count(*) AS n FROM big"
    ).collect()[0].n
    assert n == 2
    ks = [r.k for r in sql.sql(
        "SELECT k FROM db.sq UNION SELECT k + 10 AS k FROM db.sq ORDER BY k"
    ).collect()]
    assert ks == [1, 2, 3, 11, 12, 13]


def test_sql_temporal_tvfs(spark, warehouse):
    """paimon_as_of_join / paimon_sessionize / paimon_range_join expose
    the temporal operators' single-shuffle plans as SQL table
    references — each TVF's answer must be bit-equal to the Python
    operator on the same tables."""
    from flink_table_store_spark.operators.temporal import (
        as_of_join,
        range_join_binned,
    )
    from flink_table_store_spark.sql import SqlSession
    from flink_table_store_spark.streaming.stateful import sessionize

    trades = spark.createDataFrame(
        [(u, f"2024-01-01 00:0{m}:00", float(u * 10 + m))
         for u in (1, 2) for m in (1, 3, 5)],
        "uid bigint, ts string, px double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    quotes = spark.createDataFrame(
        [(u, f"2024-01-01 00:0{m}:30", float(u * 100 + m))
         for u in (1, 2) for m in (0, 2, 4)],
        "uid bigint, ts string, bid double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    tt = warehouse.create_table("db.tvf_trades", trades.schema)
    tt.write(trades)
    tq = warehouse.create_table("db.tvf_quotes", quotes.schema)
    tq.write(quotes)
    s = SqlSession(spark, warehouse)

    got = s.sql(
        "SELECT uid, ts, px, bid FROM paimon_as_of_join("
        "'db.tvf_trades','db.tvf_quotes','ts','uid') ORDER BY uid, ts"
    )
    exp = as_of_join(
        tt.to_df(spark), tq.to_df(spark), time_col="ts", by=["uid"]
    ).select("uid", "ts", "px", "bid").orderBy("uid", "ts")
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in exp.collect()]
    # every trade has a prior quote in this fixture
    assert all(r.bid is not None for r in got.collect())

    # sessionize: 2-minute gap splits each uid's trades into 3 sessions
    got = s.sql(
        "SELECT uid, ts, session_id FROM paimon_sessionize("
        "'db.tvf_trades','ts',100,'uid') ORDER BY uid, ts"
    )
    exp = sessionize(
        tt.to_df(spark), time_col="ts", gap_seconds=100, keys=["uid"]
    ).select("uid", "ts", "session_id").orderBy("uid", "ts")
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in exp.collect()]
    assert [r.session_id for r in got.collect()] == [1, 2, 3, 1, 2, 3]

    # range join: price bands matching trade prices, keyed by uid
    bands = spark.createDataFrame(
        [(1, 0.0, 12.0, "low"), (1, 12.0, 99.0, "high"),
         (2, 0.0, 22.0, "low"), (2, 22.0, 99.0, "high")],
        "uid bigint, lo double, hi double, band string",
    )
    tb = warehouse.create_table("db.tvf_bands", bands.schema)
    tb.write(bands)
    got = s.sql(
        "SELECT band, count(*) AS n FROM paimon_range_join("
        "'db.tvf_bands','db.tvf_trades','lo','hi','px',10.0,'uid') "
        "GROUP BY band ORDER BY band"
    )
    exp = (
        range_join_binned(
            tb.to_df(spark), tt.to_df(spark),
            lo_col="lo", hi_col="hi", val_col="px",
            bin_width=10.0, extra_keys=["uid"],
        )
        .groupBy("band").agg(F.count(F.lit(1)).alias("n")).orderBy("band")
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in exp.collect()]
    assert sum(r.n for r in got.collect()) == 6


def test_sql_funnel_retention_tvfs(spark, warehouse):
    """paimon_funnel / paimon_retention TVFs match the Python operators
    on the same engine table."""
    from flink_table_store_spark.operators.temporal import (
        funnel,
        retention_cohorts,
    )
    from flink_table_store_spark.sql import SqlSession

    ev = spark.createDataFrame(
        [(1, "view", "2024-01-01 10:00:00"),
         (1, "click", "2024-01-01 10:05:00"),
         (1, "buy", "2024-01-01 10:10:00"),
         (2, "view", "2024-01-02 09:00:00"),
         (2, "click", "2024-01-09 09:30:00"),
         (3, "click", "2024-01-01 08:00:00")],
        "user_id bigint, event_type string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    te = warehouse.create_table("db.tvf_fr", ev.schema)
    te.write(ev)
    s = SqlSession(spark, warehouse)

    got = s.sql(
        "SELECT * FROM paimon_funnel('db.tvf_fr', 'view,click,buy') "
        "ORDER BY user_id"
    )
    exp = funnel(te.to_df(spark), ["view", "click", "buy"]).orderBy("user_id")
    assert got.columns == exp.columns
    assert [tuple(map(str, r)) for r in got.collect()] == [
        tuple(map(str, r)) for r in exp.collect()
    ]
    assert [r.user_id for r in got.collect()] == [1, 2]  # user 3 never views

    got = s.sql(
        "SELECT * FROM paimon_retention('db.tvf_fr', 'ts', 'user_id', "
        "'week') ORDER BY cohort, periods_since"
    )
    exp = retention_cohorts(te.to_df(spark), period="week").orderBy(
        "cohort", "periods_since"
    )
    assert [tuple(map(str, r)) for r in got.collect()] == [
        tuple(map(str, r)) for r in exp.collect()
    ]


def test_sql_asof_join_grammar(spark, warehouse):
    """DuckDB-style ASOF [LEFT] JOIN grammar: plans through the
    union-tag as_of_join, supports differing key/time names via ON,
    rewrites qualified refs, inner-vs-left row semantics."""
    from flink_table_store_spark.sql import SqlSession

    trades = spark.createDataFrame(
        [(1, "2024-01-01 00:01:00", 10.0), (1, "2024-01-01 00:05:00", 11.0),
         (2, "2024-01-01 00:02:00", 20.0),
         (3, "2024-01-01 00:09:00", 30.0)],  # uid 3 has no quotes
        "uid bigint, ts string, px double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    quotes = spark.createDataFrame(
        [(1, "2024-01-01 00:00:30", 9.5), (1, "2024-01-01 00:04:00", 10.5),
         (2, "2024-01-01 00:01:30", 19.5)],
        "quid bigint, qts string, bid double",
    ).withColumn("qts", F.col("qts").cast("timestamp"))
    warehouse.create_table("db.asof_t", trades.schema).write(trades)
    warehouse.create_table("db.asof_q", quotes.schema).write(quotes)
    s = SqlSession(spark, warehouse)

    got = s.sql(
        "SELECT t.uid AS uid, t.ts AS ts, t.px AS px, q.bid AS bid, "
        "q.qts AS matched_at "
        "FROM db.asof_t t ASOF JOIN db.asof_q q "
        "ON t.uid = q.quid AND t.ts >= q.qts ORDER BY uid, ts"
    ).collect()
    # inner: uid 3 dropped; each trade takes the latest prior quote
    assert [(r.uid, r.px, r.bid) for r in got] == [
        (1, 10.0, 9.5), (1, 11.0, 10.5), (2, 20.0, 19.5)
    ]
    assert all(r.matched_at is not None for r in got)

    left = s.sql(
        "SELECT t.uid AS uid, t.px AS px, q.bid AS bid "
        "FROM db.asof_t t ASOF LEFT JOIN db.asof_q q "
        "ON t.uid = q.quid AND t.ts >= q.qts ORDER BY uid, px"
    ).collect()
    assert len(left) == 4 and left[-1].uid == 3 and left[-1].bid is None

    # forward direction + aggregate over the join
    fwd = s.sql(
        "SELECT count(*) AS n FROM db.asof_t t ASOF JOIN db.asof_q q "
        "ON t.uid = q.quid AND t.ts <= q.qts"
    ).collect()[0].n
    # forward matches: uid1@00:01 -> 00:04 quote; others have no later quote
    assert fwd == 1

    # malformed ON raises loudly (never a confusing AnalysisException)
    import pytest as _pt
    with _pt.raises(ValueError, match="ASOF"):
        s.sql("SELECT 1 FROM db.asof_t t ASOF JOIN db.asof_q q ON t.uid = 3")
