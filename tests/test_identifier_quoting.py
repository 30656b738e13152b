"""Odd column names on the winner-fold path.

Reads, full compaction and universal compaction build their per-column
projections as SQL strings (one JVM call per plan, not one per column),
so every identifier is backtick-quoted there. A PK table whose payload
columns are named ``a b``, ``x.y`` and ``q`t`` must merge exactly like
any other: last writer wins for ``deduplicate``, first writer wins for
``first-row``, and with ``sequence.field`` the order is the user
version first, the write order second. A predicate on such a column
names that column, on PK and append tables alike.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from flink_table_store_spark import predicate as P

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("a b", T.LongType()),
        T.StructField("x.y", T.StringType()),
        T.StructField("q`t", T.LongType()),
    ]
)


def _batch(writer: int, keys, seq_of):
    return [(k, writer * 1000 + k, f"w{writer}-{k}", seq_of(writer, k)) for k in keys]


def _oracle(batches, engine: str, by_seq: bool):
    """Per key, the winning row among every written version: max of
    (user version, write order) for deduplicate, min for first-row."""
    versions: dict[int, list] = {}
    for order, rows in enumerate(batches):
        for r in rows:
            versions.setdefault(r[0], []).append(((r[3] if by_seq else 0, order), r))
    pick = max if engine == "deduplicate" else min
    return sorted(pick(v, key=lambda x: x[0])[1] for v in versions.values())


def _rows(t, spark):
    df = t.refresh().to_df(spark)
    assert df.columns == SCHEMA.names
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("engine", ["deduplicate", "first-row"])
@pytest.mark.parametrize("by_seq", [False, True], ids=["input-order", "sequence-field"])
def test_fold_paths_quote_identifiers(spark, warehouse, engine, by_seq):
    opts = {"bucket": "2", "merge-engine": engine}
    if by_seq:
        opts["sequence.field"] = "q`t"
    name = f"db.odd_{engine.replace('-', '_')}_{int(by_seq)}"
    t = warehouse.create_table(name, SCHEMA, primary_keys=["id"], options=opts)

    # the user version runs against the write order on every third key
    def seq_of(writer, k):
        return 10 - writer if k % 3 == 0 else writer

    batches = []

    def write(writer, keys):
        rows = _batch(writer, keys, seq_of)
        batches.append(rows)
        t.refresh().write(spark.createDataFrame(rows, SCHEMA))

    write(1, range(0, 2000))
    write(2, range(1000, 2500))
    want = _oracle(batches, engine, by_seq)
    assert _rows(t, spark) == want

    # whole-bucket universal pick, then a full compaction
    t.refresh().compact(spark, full=False, trigger_runs=2)
    assert _rows(t, spark) == want
    t.refresh().compact(spark, full=True)
    assert _rows(t, spark) == want

    # three small runs over a big compacted one: a partial universal
    # pick that leaves the big run in place
    big = _live_files(t)
    write(3, range(1500, 1510))
    write(4, range(1500, 1530))
    write(5, range(1520, 1540))
    want = _oracle(batches, engine, by_seq)
    assert _rows(t, spark) == want
    t.refresh().compact(spark, full=False, trigger_runs=3)
    after = _live_files(t)
    assert big & after and not after <= big, "expected a partial pick"
    assert _rows(t, spark) == want
    t.refresh().compact(spark, full=True)
    assert _rows(t, spark) == want


def _live_files(t) -> set[str]:
    t = t.refresh()
    snap = t.snapshots.latest()
    entries = t.manifests.read_live_entries(
        snap.base_manifest_list, snap.delta_manifest_list
    )
    return {e.file_name for e in entries}


@pytest.mark.parametrize("pk", [True, False], ids=["pk", "append"])
def test_predicates_name_dotted_top_level_columns(spark, warehouse, pk):
    """``x.y`` is a top-level column here, not a struct leaf: every
    Spark read surface resolves it as that column, as ``to_arrow`` does."""
    t = warehouse.create_table(
        f"db.dotted_{int(pk)}",
        SCHEMA,
        primary_keys=["id"] if pk else None,
        options={"bucket": "2"} if pk else {},
    )
    rows = _batch(1, range(20), lambda writer, k: k)
    t.write(spark.createDataFrame(rows, SCHEMA))
    t = t.refresh()
    want = [r for r in rows if r[2] == "w1-7"]
    for pred in (
        P.equal("x.y", "w1-7"),
        P.and_(P.equal("x.y", "w1-7"), P.greater_than("a b", 0), P.is_not_null("q`t")),
        P.or_(P.equal("x.y", "w1-7"), P.equal("x.y", "none")),
    ):
        got = sorted(tuple(r) for r in t.to_df(spark, predicate=pred).collect())
        assert got == want, pred
        arrow = t.to_arrow(predicate=pred).to_pylist()
        assert [tuple(r.values()) for r in arrow] == want, pred
    if not pk:
        # copy-on-write delete and update build the same predicate Column
        t.update(spark, P.equal("x.y", "w1-7"), {"a b": -1})
        t = t.refresh()
        got = t.to_df(spark, predicate=P.equal("x.y", "w1-7")).collect()
        assert [r["a b"] for r in got] == [-1]
        t.delete(spark, P.equal("x.y", "w1-7"))
        assert t.refresh().to_df(spark).count() == len(rows) - 1
