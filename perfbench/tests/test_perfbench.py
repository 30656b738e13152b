"""Self-test of the benchmark: deterministic inputs and counts, and a
tiny pass of every workload with no failed op.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import os

import pandas as pd
import pytest

from perfbench import harness
from perfbench.trace import PER_LAYER_UNITS
from perfbench.workloads import WORKLOADS, AppendScan, Curation, PkReadMix, UpsertStream


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("spark"))
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("SPARK_LOCAL_DIRS", tmp)
    session, _ = harness.start_spark("perfbench-selftest")
    yield session
    session.stop()


def _upsert_batches(seed: int, n: int) -> list[pd.DataFrame]:
    wl = UpsertStream(None, seed, tiny=True)
    return [wl._next_batch() for _ in range(n)]


def _curation_docs(seed: int) -> list[pd.DataFrame]:
    cur = Curation(None, seed, tiny=True)
    first, fresh = cur._docs()
    cur.kept.update(fresh)
    cur.batch += 1
    return [first, cur._docs()[0]]


def test_same_seed_same_inputs():
    a, b = _upsert_batches(3, 4), _upsert_batches(3, 4)
    for x, y in zip(a, b):
        pd.testing.assert_frame_equal(x, y)
    pd.testing.assert_frame_equal(
        AppendScan(None, 3, tiny=True).data, AppendScan(None, 3, tiny=True).data
    )
    p, q = PkReadMix(None, 3, tiny=True), PkReadMix(None, 3, tiny=True)
    assert (p.perm == q.perm).all()
    for x, y in zip(_curation_docs(3), _curation_docs(3)):
        pd.testing.assert_frame_equal(x, y)


def test_other_seed_other_inputs():
    for x, y in zip(_upsert_batches(3, 4), _upsert_batches(4, 4)):
        assert not x.equals(y)
    assert not AppendScan(None, 3, tiny=True).data.equals(
        AppendScan(None, 4, tiny=True).data
    )
    assert (PkReadMix(None, 3, tiny=True).perm != PkReadMix(None, 4, tiny=True).perm).any()
    for x, y in zip(_curation_docs(3), _curation_docs(4)):
        assert not x.equals(y)


def test_curation_batches_inject_duplicates():
    second = _curation_docs(3)[1]
    cur = Curation(None, 3, tiny=True)
    n_dup = int(cur.batch_docs * cur.dup_share)
    assert len(second) == cur.batch_docs and n_dup > 0
    first = _curation_docs(3)[0]
    exact = second["text"].isin(first["text"]).sum()
    assert exact == (n_dup + 1) // 2  # the other injected copies are near duplicates


def _traced(spark, tmp_path, name: str, max_ops: int, tag: str) -> dict:
    return harness.run_workload(
        spark, name, 5, 600, True, str(tmp_path / tag), tiny=True, max_ops=max_ops
    )


def test_same_seed_same_counts(spark, tmp_path):
    runs = [_traced(spark, tmp_path, "upsert_stream", 9, f"u{i}") for i in range(2)]
    for key in ("commit.snapshot_loads_per_commit", "table.compact.bytes_rewritten"):
        assert runs[0]["layers"][key] == runs[1]["layers"][key], key
    assert runs[0]["layers"]["table.compact.bytes_rewritten"] > 0
    wa = [r["report"]["write_amp"]["value"] for r in runs]
    assert wa[0] == wa[1] and wa[0] > 0
    reads = [_traced(spark, tmp_path, "pk_read_mix", 14, f"r{i}") for i in range(2)]
    kept = [r["layers"]["read.files_kept"] for r in reads]
    assert kept[0] == kept[1] and kept[0] > 0


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_tiny_pass(spark, tmp_path, name):
    res = harness.run_workload(spark, name, 1, 2, False, str(tmp_path / "e2e"), tiny=True)
    assert res["failed"] == 0 and res["attempted"] > 0
    assert res["report"]["failed_ops_ratio"]["value"] == 0
    for key, unit in harness.END_TO_END_UNITS.items():
        m = res["metrics"][key]
        assert m["unit"] == unit and math.isfinite(m["value"]) and m["value"] > 0, key
    traced = harness.run_workload(
        spark, name, 1, 3, True, str(tmp_path / "tr"), tiny=True
    )
    assert traced["failed"] == 0
    assert set(PER_LAYER_UNITS) - {"host.canary_s", "spark.session_start_s"} <= set(
        traced["layers"]
    )
    assert traced["report"]["op.self_s_min"]["value"] >= 0
    if name == "upsert_stream":  # the curation batches
        assert traced["layers"]["incdedup.dedup_against_index.s"] > 0
        assert 0 < traced["layers"]["curation.minhash_share"] < 1
    else:  # the append-table scans
        assert traced["layers"]["fileindex.s"] > 0


def test_snapshot_loads_grow_with_run_position(spark, tmp_path):
    # one snapshot load more per commit for each snapshot the table holds
    res = _traced(spark, tmp_path, "upsert_stream", 12, "growth")
    assert res["layers"]["commit.snapshot_loads_growth"] > 0.5
