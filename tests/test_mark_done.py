"""Partition mark-done actions + triggers (manage-partitions.md
"Partition Mark Done"; paimon-core partition/actions/*.java;
PartitionMarkDoneTrigger.java)."""

from __future__ import annotations

import json
import os
import threading

import pytest

from flink_table_store_spark import markdone


def _success_path(t, rel):
    return os.path.join(t.path, "data", *rel.split("/"), "_SUCCESS")


def test_success_file_action_default(spark, warehouse):
    t = warehouse.create_table("db.md1", "id bigint, dt string", partition_keys=["dt"])
    t.write(spark.createDataFrame([(1, "2024-07-01")], "id bigint, dt string"))
    t.mark_partition_done({"dt": "2024-07-01"})
    p = _success_path(t, "dt=2024-07-01")
    assert os.path.exists(p)
    with open(p) as f:
        doc = json.load(f)
    assert set(doc) == {"creationTime", "modificationTime"}
    # re-mark preserves creationTime, bumps modificationTime
    markdone.success_file_mark_done(
        t, {"dt": "2024-07-01"}, now_ms=doc["creationTime"] + 5_000
    )
    with open(p) as f:
        doc2 = json.load(f)
    assert doc2["creationTime"] == doc["creationTime"]
    assert doc2["modificationTime"] == doc["creationTime"] + 5_000
    # the pre-existing discovery surface still answers
    assert t.done_partitions() == [{"dt": "2024-07-01"}]


def test_mark_done_spec_strings(spark, warehouse):
    t = warehouse.create_table("db.md2", "id bigint, dt string", partition_keys=["dt"])
    t.write(
        spark.createDataFrame(
            [(1, "d1"), (2, "d2")], "id bigint, dt string"
        )
    )
    # the reference's multi-partition form: 'day=01;day=02'
    rels = t.mark_partition_done("dt=d1;dt=d2")
    assert sorted(rels) == ["dt=d1", "dt=d2"]
    assert os.path.exists(_success_path(t, "dt=d1"))
    assert os.path.exists(_success_path(t, "dt=d2"))
    with pytest.raises(ValueError, match="non-partition"):
        t.mark_partition_done("nope=1")


def test_mark_done_unpartitioned_refused(spark, warehouse):
    t = warehouse.create_table("db.md3", "id bigint")
    with pytest.raises(ValueError, match="unpartitioned"):
        t.mark_partition_done({})


def test_end_input_to_done_batch(spark, warehouse):
    t = warehouse.create_table(
        "db.md4",
        "id bigint, dt string",
        partition_keys=["dt"],
        options={"partition.end-input-to-done": "true"},
    )
    t.write(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "a")], "id bigint, dt string"
        )
    )
    assert os.path.exists(_success_path(t, "dt=a"))
    assert os.path.exists(_success_path(t, "dt=b"))
    # INSERT OVERWRITE marks too
    t.write(
        spark.createDataFrame([(9, "c")], "id bigint, dt string"),
        overwrite=True,
    )
    assert os.path.exists(_success_path(t, "dt=c"))


def test_http_report_action(spark, warehouse):
    """HttpReportMarkDoneAction: POST body carries partition/table/path/
    params; non-SUCCESS responses fail the mark."""
    from http.server import BaseHTTPRequestHandler, HTTPServer

    seen: list[dict] = []
    verdict = {"result": "SUCCESS"}

    class H(BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            seen.append(json.loads(body))
            out = json.dumps(verdict).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/report"
        t = warehouse.create_table(
            "db.md5",
            "id bigint, dt string",
            partition_keys=["dt"],
            options={
                "partition.mark-done-action": "http-report,success-file",
                "partition.mark-done-action.http.url": url,
                "partition.mark-done-action.http.params": "team=data",
            },
        )
        t.write(spark.createDataFrame([(1, "d1")], "id bigint, dt string"))
        t.mark_partition_done({"dt": "d1"})
        assert seen and seen[0]["partition"] == "dt=d1"
        assert seen[0]["params"] == "team=data"
        assert seen[0]["path"] == t.path
        assert os.path.exists(_success_path(t, "dt=d1"))  # both actions ran
        verdict["result"] = "DENIED"
        with pytest.raises(RuntimeError, match="SUCCESS"):
            t.mark_partition_done({"dt": "d1"})
    finally:
        srv.shutdown()


class _Collector:
    """Custom mark-done action for the test below. Journals to a file
    because the custom class is re-imported by dotted path (a second
    module instance — in-memory state wouldn't be shared)."""

    def __init__(self, table):
        self._log = os.path.join(table.path, "custom_marks.txt")

    def mark_done(self, partition: str) -> None:
        with open(self._log, "a") as f:
            f.write(partition + "\n")


def test_custom_action(spark, warehouse):
    t = warehouse.create_table(
        "db.md6",
        "id bigint, dt string",
        partition_keys=["dt"],
        options={
            "partition.mark-done-action": "custom",
            "partition.mark-done-action.custom.class": "tests.test_mark_done:_Collector",
        },
    )
    t.write(spark.createDataFrame([(1, "d1")], "id bigint, dt string"))
    t.mark_partition_done({"dt": "d1"})
    with open(os.path.join(t.path, "custom_marks.txt")) as f:
        assert f.read().splitlines() == ["dt=d1"]
    # no _SUCCESS: only the configured action runs
    assert not os.path.exists(_success_path(t, "dt=d1"))


def test_unknown_action_refused(spark, warehouse):
    t = warehouse.create_table(
        "db.md7",
        "id bigint, dt string",
        partition_keys=["dt"],
        options={"partition.mark-done-action": "telepathy"},
    )
    with pytest.raises(ValueError, match="unknown partition.mark-done-action"):
        t.mark_partition_done({"dt": "x"})


def test_done_partition_needs_metastore(spark, warehouse):
    t = warehouse.create_table(
        "db.md8",
        "id bigint, dt string",
        partition_keys=["dt"],
        options={"partition.mark-done-action": "done-partition"},
    )
    with pytest.raises(ValueError, match="metastore"):
        t.mark_partition_done({"dt": "x"})


def test_done_partition_via_hive_catalog(spark, tmp_path):
    from flink_table_store_spark.hive_catalog import HiveCatalog

    cat = HiveCatalog(spark, str(tmp_path / "wh"))
    t = cat.create_table(
        "db.mdhive",
        "id bigint, dt string",
        partition_keys=["dt"],
        options={
            "metastore.partitioned-table": "true",
            "partition.mark-done-action": "done-partition",
        },
    )
    try:
        t.write(spark.createDataFrame([(1, "d1")], "id bigint, dt string"))
        t.mark_partition_done({"dt": "d1"})
        parts = [r[0] for r in spark.sql("SHOW PARTITIONS db.mdhive").collect()]
        assert "dt=d1.done" in parts
    finally:
        cat.drop_table("db.mdhive")
        spark.sql("DROP DATABASE IF EXISTS db CASCADE")


def test_mark_event_journal(spark, warehouse):
    t = warehouse.create_table(
        "db.md9",
        "id bigint, dt string",
        partition_keys=["dt"],
        options={"partition.mark-done-action": "mark-event"},
    )
    t.write(spark.createDataFrame([(1, "d1")], "id bigint, dt string"))
    t.mark_partition_done({"dt": "d1"})
    p = os.path.join(t.path, "partition_mark", "events.jsonl")
    with open(p) as f:
        events = [json.loads(line) for line in f]
    assert events[0]["partition"] == "dt=d1"
    assert events[0]["event"] == "partition-done"


def test_call_procedure_forms(spark, tmp_path):
    from flink_table_store_spark.catalog import Catalog
    from flink_table_store_spark.sql import SqlSession

    cat = Catalog(str(tmp_path / "wh"))
    s = SqlSession(spark, cat)
    s.sql(
        "CREATE TABLE db.mdp (id bigint, day string) PARTITIONED BY (day)"
    )
    s.sql("INSERT INTO db.mdp VALUES (1, '2024-07-01'), (2, '2024-07-02')")
    t = cat.get_table("db.mdp")
    # named multi-partition form from the reference docs
    s.sql(
        "CALL sys.mark_partition_done(table => 'db.mdp', "
        "partitions => 'day=2024-07-01;day=2024-07-02')"
    )
    assert os.path.exists(_success_path(t, "day=2024-07-01"))
    assert os.path.exists(_success_path(t, "day=2024-07-02"))
    # positional form
    s.sql("CALL sys.mark_partition_done('db.mdp', 'day=2024-07-01')")


# --- trigger ---------------------------------------------------------------


def _trigger_table(warehouse, name, extra=None):
    opts = {
        "partition.idle-time-to-done": "1 h",
        "partition.time-interval": "1 d",
        "partition.timestamp-pattern": "$dt",
        "partition.timestamp-formatter": "yyyy-MM-dd",
    }
    opts.update(extra or {})
    return warehouse.create_table(
        f"db.{name}", "id bigint, dt string", partition_keys=["dt"], options=opts
    )


HOUR = 3_600_000
DAY = 24 * HOUR
# 2024-07-01T00:00:00Z
T0 = 1_719_792_000_000


def test_trigger_idle_semantics(spark, warehouse):
    t = _trigger_table(warehouse, "trg1")
    trg = markdone.PartitionMarkDoneTrigger(t, "sink-a", now_ms=T0)
    trg.notify({"dt": "2024-07-01"}, now_ms=T0 + DAY)
    # idle clock starts at max(lastUpdate, partitionStart + interval):
    # at T0+25h the partition window [T0, T0+1d] closed 1h ago — exactly
    # at the idle boundary, NOT strictly greater → not yet done
    assert trg.done_partitions(now_ms=T0 + DAY + HOUR) == []
    # 1ms past the boundary → done, and removed from pending
    assert trg.done_partitions(now_ms=T0 + DAY + HOUR + 1) == [
        {"dt": "2024-07-01"}
    ]
    assert trg.done_partitions(now_ms=T0 + 10 * DAY) == []


def test_trigger_late_update_extends_idle(spark, warehouse):
    t = _trigger_table(warehouse, "trg2")
    trg = markdone.PartitionMarkDoneTrigger(t, "s", now_ms=T0)
    # a write landing AFTER the window closed restarts the idle clock
    trg.notify({"dt": "2024-07-01"}, now_ms=T0 + 2 * DAY)
    assert trg.done_partitions(now_ms=T0 + 2 * DAY + HOUR) == []
    assert trg.done_partitions(now_ms=T0 + 2 * DAY + HOUR + 1) == [
        {"dt": "2024-07-01"}
    ]


def test_trigger_illegal_partition_dropped(spark, warehouse):
    t = _trigger_table(warehouse, "trg3")
    trg = markdone.PartitionMarkDoneTrigger(t, "s", now_ms=T0)
    trg.notify({"dt": "not-a-date"}, now_ms=T0)
    assert trg.done_partitions(now_ms=T0 + 100 * DAY) == []
    assert trg.pending == {}  # reference drops illegal partitions


def test_trigger_end_input(spark, warehouse):
    t = _trigger_table(
        warehouse, "trg4", extra={"partition.end-input-to-done": "true"}
    )
    trg = markdone.PartitionMarkDoneTrigger(t, "s", now_ms=T0)
    trg.notify({"dt": "2024-07-01"}, now_ms=T0)
    trg.notify({"dt": "2024-07-02"}, now_ms=T0)
    done = trg.done_partitions(end_input=True, now_ms=T0)
    assert sorted(d["dt"] for d in done) == ["2024-07-01", "2024-07-02"]
    assert trg.pending == {}


def test_trigger_state_recovery(spark, warehouse):
    t = _trigger_table(warehouse, "trg5")
    trg = markdone.PartitionMarkDoneTrigger(t, "sink-x", now_ms=T0)
    trg.notify({"dt": "2024-07-01"}, now_ms=T0)
    trg.snapshot_state()
    # restart: pending restored, last-update reset to restore time
    trg2 = markdone.PartitionMarkDoneTrigger(t, "sink-x", now_ms=T0 + DAY)
    assert [p for p, _ in trg2.pending.values()] == [{"dt": "2024-07-01"}]
    assert trg2.done_partitions(now_ms=T0 + DAY + HOUR + 1) == [
        {"dt": "2024-07-01"}
    ]
    # opted out: partition.mark-done.recover-from-state=false
    t2 = _trigger_table(
        warehouse, "trg6",
        extra={"partition.mark-done.recover-from-state": "false"},
    )
    trg3 = markdone.PartitionMarkDoneTrigger(t2, "sink-x", now_ms=T0)
    trg3.notify({"dt": "2024-07-01"}, now_ms=T0)
    trg3.snapshot_state()
    assert markdone.PartitionMarkDoneTrigger(t2, "sink-x").pending == {}


def test_trigger_watermark_mode(spark, warehouse):
    """watermark clock: wall time never marks; only watermark progress
    does (partition.mark-done-action.mode=watermark)."""
    t = _trigger_table(warehouse, "trg7")
    trg = markdone.PartitionMarkDoneTrigger(t, "s", now_ms=T0)
    trg.notify({"dt": "2024-07-01"}, now_ms=T0)
    # wall clock far ahead, watermark still inside the window → no mark
    assert trg.done_partitions(now_ms=T0 + 10 * DAY, watermark=T0 + HOUR) == []
    trg.notify({"dt": "2024-07-01"}, now_ms=T0)
    assert trg.done_partitions(
        now_ms=T0, watermark=T0 + DAY + HOUR + 1
    ) == [{"dt": "2024-07-01"}]


def test_streaming_sink_marks_done(spark, warehouse, tmp_path):
    """End-to-end: a rate-limited stream writes two partitions; the old
    partition is marked done once idle (idle window forced tiny)."""
    t = warehouse.create_table(
        "db.trgstream",
        "id bigint, dt string",
        partition_keys=["dt"],
        options={
            "partition.idle-time-to-done": "0 ms",
            "partition.time-interval": "0 ms",
            "partition.timestamp-pattern": "$dt",
            "partition.timestamp-formatter": "yyyy-MM-dd",
        },
    )
    from flink_table_store_spark.streaming.sink import foreach_batch_writer

    writer = foreach_batch_writer(t, "s1")
    writer(
        spark.createDataFrame([(1, "2024-07-01")], "id bigint, dt string"), 0
    )
    # second batch: first partition has idled (0ms windows) → marked
    writer(
        spark.createDataFrame([(2, "2024-07-02")], "id bigint, dt string"), 1
    )
    import time

    time.sleep(0.01)
    writer(
        spark.createDataFrame([(3, "2024-07-03")], "id bigint, dt string"), 2
    )
    assert os.path.exists(_success_path(t, "dt=2024-07-01"))
    assert os.path.exists(_success_path(t, "dt=2024-07-02"))
    # state file exists (recover-from-state default)
    assert os.path.exists(
        os.path.join(t.path, "partition_mark", "pending-s1.json")
    )


def test_escape_path_name_roundtrip():
    from flink_table_store_spark.write import parse_partition

    part = {"dt": "a:b/c=d"}
    rel = markdone.partition_rel_path(["dt"], part)
    assert "/" not in rel.split("=", 1)[1].replace("%2F", "")
    parsed, _ = parse_partition(rel.replace("/", os.sep))
    assert parsed == part
