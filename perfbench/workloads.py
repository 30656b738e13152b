"""The benchmark's workloads: input generators, oracles and op schedules.

Every input comes from ``numpy.random.default_rng([seed, ...])``, so one
seed gives one set of inputs whatever the timing. The generator side
keeps an oracle of what the table must hold — the last-writer-wins row
per key for primary-key tables, the full contents of the append table,
the fresh documents of the curation stream — and every op's result is
checked against it outside the timed region.

A workload prepares its table state with ``prepare`` and then yields an
endless, deterministic schedule of ``Op`` objects from ``ops``, with
``ROUND_END`` after each round. The harness stops only at the end of a
round, so a run always holds whole rounds: the same mix of op shapes and
the same table history per round, however fast the program is.
"""

from __future__ import annotations

import copy
import math
import os
import shutil
import statistics
from dataclasses import dataclass
from typing import Any, Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

# q1 of the reference cluster benchmark: BIGINT x9, STRING, TIMESTAMP;
# ~150 bytes per logical row
Q1_LONGS = [
    "item_id", "category_id", "seller_id", "price", "quantity",
    "stock", "views", "rating", "version",
]
Q1_DDL = ", ".join(f"{c} bigint" for c in Q1_LONGS) + ", item_name string, ts timestamp"
Q1_ROW_BYTES = 150
TS0 = 1_700_000_000  # epoch seconds of version 0
ABSENT_KEY0 = 10**12  # never written: lookups of these expect no row

LINEITEM_DDL = (
    "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
    "l_returnflag string, l_linestatus string, l_shipdate date, l_comment string"
)
FLAGS = np.array(["A", "N", "R"])
STATUSES = np.array(["F", "O"])
DAY0 = 8035  # 1992-01-02 in days since the epoch
DAYS = 2557  # through 1998-12-31

DOC_DDL = "doc_id bigint, text string"

ROUND_END = object()  # marks the end of a round in an op schedule


@dataclass
class Op:
    """One closed-loop operation. ``run`` is timed; ``check`` is not and
    returns whether the result matches the oracle (and, for writes,
    advances the oracle)."""

    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    spark: bool = True  # runs Spark jobs (the trace records their ids)


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else math.nan


def p90(xs: list[float]) -> float:
    return float(np.percentile(xs, 90)) if xs else math.nan


def q1_frame(ids: np.ndarray, version: int, rng: np.random.Generator) -> pd.DataFrame:
    n = len(ids)
    cols = {
        "item_id": ids.astype(np.int64),
        "category_id": rng.integers(0, 1000, n),
        "seller_id": rng.integers(0, 100_000, n),
        "price": rng.integers(1, 1_000_000, n),
        "quantity": rng.integers(0, 1000, n),
        "stock": rng.integers(0, 1_000_000, n),
        "views": rng.integers(0, 1 << 31, n),
        "rating": rng.integers(1, 6, n),
        "version": np.full(n, version, dtype=np.int64),
    }
    pdf = pd.DataFrame(cols)
    pdf["item_name"] = [f"item-{i}-v{version}" for i in ids]
    pdf["ts"] = pd.to_datetime(TS0 + version * 60 + ids % 60, unit="s", utc=True)
    return pdf


class KeyState:
    """Last-writer-wins oracle for a q1-shaped primary-key table."""

    def __init__(self) -> None:
        self.cols = np.zeros((0, len(Q1_LONGS)), dtype=np.int64)
        self.present = np.zeros(0, dtype=bool)

    def apply(self, pdf: pd.DataFrame) -> None:
        ids = pdf["item_id"].to_numpy()
        top = int(ids.max()) + 1
        if top > len(self.present):
            cap = max(top, 2 * len(self.present))
            cols = np.zeros((cap, len(Q1_LONGS)), dtype=np.int64)
            cols[: len(self.cols)] = self.cols
            present = np.zeros(cap, dtype=bool)
            present[: len(self.present)] = self.present
            self.cols, self.present = cols, present
        self.cols[ids] = pdf[Q1_LONGS].to_numpy(dtype=np.int64)
        self.present[ids] = True

    def keys(self) -> np.ndarray:
        return np.flatnonzero(self.present)

    def row(self, key: int) -> tuple | None:
        if key >= len(self.present) or not self.present[key]:
            return None
        vals = tuple(int(v) for v in self.cols[key])
        version = vals[Q1_LONGS.index("version")]
        return vals + (f"item-{key}-v{version}", TS0 + version * 60 + key % 60)

    def aggregates(self) -> tuple[int, int, int, int]:
        live = self.cols[self.present]
        return (
            len(live),
            int(live[:, Q1_LONGS.index("price")].sum()),
            int(live[:, Q1_LONGS.index("version")].sum()),
            int(live[:, 0].max()) if len(live) else None,
        )

    def rows_match(self, rows: list[tuple], keys: list[int]) -> bool:
        """``rows`` are (q1 longs..., item_name, ts seconds) tuples that
        must be exactly the live rows among ``keys``."""
        want = sorted(r for r in (self.row(k) for k in keys) if r is not None)
        return sorted(tuple(r) for r in rows) == want


def _q1_select(df):
    return df.select(*Q1_LONGS, "item_name", F.col("ts").cast("long").alias("ts"))


def _frame_rows(pdf: pd.DataFrame) -> list[tuple]:
    return [
        tuple(int(v) for v in r[: len(Q1_LONGS)]) + (r[-2], int(r[-1]))
        for r in pdf.itertuples(index=False)
    ]


def _data_bytes(table_path: str) -> int:
    """Bytes of data files the table holds on disk, live or not —
    nothing is expired within a run."""
    total = 0
    for dirpath, _dirs, files in os.walk(os.path.join(table_path, "data")):
        total += sum(
            os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(".parquet")
        )
    return total


class _PkWorkload:
    """Shared pieces of the two primary-key workloads."""

    buckets = 4

    def __init__(self, spark, seed: int, tiny: bool):
        self.spark = spark
        self.seed = seed
        self.tiny = tiny
        self.version = 0
        self.warmup: list[bool] = []  # outcomes of checked set-up ops

    def _create(self, catalog, name: str):
        return catalog.create_table(
            name, Q1_DDL, primary_keys=["item_id"],
            options={"bucket": str(self.buckets)},
        )

    def _frame(self, ids: np.ndarray, stream: int):
        self.version += 1
        rng = np.random.default_rng([self.seed, stream, self.version])
        return q1_frame(ids, self.version, rng)

    def _setup_op(self, op: Op) -> None:
        self.warmup.append(op.check(op.run()))

    def _write_op(self, kind: str, pdf: pd.DataFrame, ident: str, on_ok=None) -> Op:
        df = self.spark.createDataFrame(pdf, Q1_DDL)
        table = self.table

        def run():
            snap = table.write(df, commit_identifier=ident)
            # data freshness: the commit counts once its snapshot is the
            # latest one a reader sees
            return snap, table.snapshots.latest_id()

        def check(out) -> bool:
            snap, visible = out
            ok = snap.id == visible and snap.commit_identifier == ident
            if ok:
                self.state.apply(pdf)
                if on_ok:
                    on_ok(pdf)
            return ok

        return Op(kind, run, check)

    def verify_all(self) -> bool:
        pdf = _q1_select(self.table.to_df(self.spark)).toPandas()
        rows = _frame_rows(pdf)
        keys = self.state.keys()
        if len(rows) != len(keys):
            return False
        return self.state.rows_match(rows, list(keys))


class UpsertStream(_PkWorkload):
    """q1-shaped micro-batches into a fixed-bucket dedup PK table, each
    committed with a streaming-sink identifier and followed by a one-key
    point upsert and a universal compaction. Reads nothing while
    measured.

    A round is one episode on a fresh table: an untimed seed batch, then
    ``batches`` micro-batches, each followed by a point upsert and a
    compaction. Snapshots accumulate within the episode, so the
    history-dependent figures (the identifier scan of each commit) are
    the same per episode however many episodes a run holds. Traced runs
    also measure the curation stream."""

    name = "upsert_stream"
    filtered_kinds: set[str] = set()

    def __init__(self, spark, seed: int, tiny: bool = False):
        super().__init__(spark, seed, tiny)
        self.batch_rows = 200 if tiny else 1000
        self.update_share = 0.2
        self.recent = 10 * self.batch_rows
        self.seed_batches = 1
        self.batches = 4
        self.trigger_runs = 2
        self.warmup_rounds = 1 if tiny else 2
        self.next_id = 0
        self.episode = 0
        self.rows_committed = 0
        self.tables: list[tuple[Any, int]] = []  # (table, bytes after seeding)

    def prepare(self, catalog, rep: int) -> None:
        self.catalog = catalog
        self.episode = 0
        self.tables = []
        self._new_episode()
        if rep == 0:  # warm-up: whole episodes
            for _ in range(self.warmup_rounds):
                for op in self._episode_ops():
                    self._setup_op(op)
                self.episode += 1
                self._new_episode()
            self.tables = self.tables[-1:]
        self.rows_committed = 0

    def _new_episode(self) -> None:
        """A fresh table with its seed batches (untimed, checked)."""
        self.version = 0
        self.next_id = 0
        self.state = KeyState()
        self.table = self._create(self.catalog, f"bench.upsert{self.episode}")
        for _ in range(self.seed_batches):
            pdf = self._next_batch()
            self._setup_op(self._write_op("seed", pdf, f"seed-{self.version}"))
        self.tables.append((self.table, _data_bytes(self.table.path)))

    def _next_batch(self) -> pd.DataFrame:
        """The next micro-batch: mostly new keys, the rest updates of keys
        written in the last ``recent`` rows."""
        rng = np.random.default_rng([self.seed, 0, self.version + 1])
        n_upd = int(self.batch_rows * self.update_share) if self.next_id else 0
        lo = max(0, self.next_id - self.recent)
        upd = rng.choice(np.arange(lo, self.next_id), size=n_upd, replace=False)
        new = np.arange(self.next_id, self.next_id + self.batch_rows - n_upd)
        self.next_id += len(new)
        return self._frame(np.concatenate([upd.astype(np.int64), new]), 1)

    def _count(self, pdf: pd.DataFrame) -> None:
        self.rows_committed += len(pdf)

    def _batch_op(self) -> Op:
        pdf = self._next_batch()
        return self._write_op("commit", pdf, f"upsert-{self.version}", self._count)

    def _point_op(self) -> Op:
        """A one-row upsert of a recent key: the per-commit constant."""
        rng = np.random.default_rng([self.seed, 8, self.version + 1])
        key = int(rng.integers(max(0, self.next_id - self.recent), self.next_id))
        pdf = self._frame(np.array([key], dtype=np.int64), 1)
        return self._write_op("point", pdf, f"point-{self.version}", self._count)

    def _compact_op(self) -> Op:
        table = self.table
        return Op(
            "compact",
            lambda: table.compact(self.spark, full=False, trigger_runs=self.trigger_runs),
            lambda snap: snap is not None,
        )

    def _episode_ops(self) -> Iterator[Op]:
        for _ in range(self.batches):
            yield self._batch_op()
            yield self._point_op()
            yield self._compact_op()

    def ops(self) -> Iterator[Op]:
        while True:
            yield from self._episode_ops()
            yield ROUND_END
            self.episode += 1
            self._new_episode()

    def side_stream(self) -> Curation:
        return Curation(self.spark, self.seed, self.tiny)

    def summarize(self, lat: dict[str, list[float]]) -> tuple[dict, dict]:
        commits, points, compacts = (lat.get(k, []) for k in ("commit", "point", "compact"))
        busy = sum(commits) + sum(points) + sum(compacts)
        rows = self.rows_committed
        added = sum(_data_bytes(t.path) - b0 for t, b0 in self.tables)
        ingest = rows / busy if busy else math.nan
        contract = {
            "main_op_p50_ms": p50(commits) * 1000,
            "heavy_op_p50_ms": p50(compacts) * 1000,
            "point_op_p50_ms": p50(points) * 1000,
            "work_per_s": ingest,
        }
        report = {
            "ingest_rows_per_s": (ingest, "rows/s"),
            "upsert_commit_p50_s": (p50(commits), "s"),
            "upsert_commit_p90_s": (p90(commits), "s"),
            "point_commit_p50_s": (p50(points), "s"),
            "compact_p50_s": (p50(compacts), "s"),
            "write_amp": (added / (rows * Q1_ROW_BYTES) if rows else math.nan, "ratio"),
            "episodes": (len(self.tables), "count"),
        }
        return contract, report


class PkReadMix(_PkWorkload):
    """Reads over a multi-run LSM state: zipfian point lookups, key
    predicate reads and full merged aggregates, plus a small fixed share
    of upserts. Set-up builds the state (a compacted base plus level-0
    runs in every bucket) once. Each round starts, untimed, from a fresh
    copy of it and a fresh lookup table, and holds one side upsert, then
    three times a merged read and a key read (``=``, ``IN``, range), each
    between lookups. Every round reads the same table state, however
    many rounds a run holds, and its lookups load every bucket once,
    after the upsert. Traced runs also measure the append-table scans."""

    name = "pk_read_mix"
    filtered_kinds = {"key_read"}

    def __init__(self, spark, seed: int, tiny: bool = False):
        super().__init__(spark, seed, tiny)
        self.base_rows = 2000 if tiny else 4000
        self.run_rows = 200 if tiny else 400
        self.l0_runs = 2
        self.lookups_per_read = 10 if tiny else 40
        self.side_rows = 50 if tiny else 200
        self.absent_share = 0.05
        self.warmup_rounds = 1 if tiny else 2
        rng = np.random.default_rng([seed, 7])
        # zipfian popularity over the base keys; a seeded permutation
        # spreads the hot keys across buckets
        ranks = np.arange(1, self.base_rows + 1, dtype=np.float64)
        cdf = np.cumsum(1.0 / ranks**1.1)
        self.cdf = cdf / cdf[-1]
        self.perm = rng.permutation(self.base_rows)

    def _zipf(self, rng, n: int) -> np.ndarray:
        return self.perm[np.searchsorted(self.cdf, rng.random(n))]

    def prepare(self, catalog, rep: int) -> None:
        self.catalog = catalog
        self.version = 0
        self.state = KeyState()
        self.table = self._create(catalog, "bench.pk")
        self.next_id = self.base_rows
        self._setup_op(
            self._write_op("commit", self._frame(np.arange(self.base_rows), 2), "base")
        )
        self.table.compact(self.spark, full=True)
        for r in range(self.l0_runs):
            self._setup_op(self._side_op(self.run_rows, f"run-{r}"))
        self.prepared = (self.table.path, self.version, self.next_id, self.state)
        self.round = 0
        self.lookup_tables = []
        self.rng = np.random.default_rng([self.seed, 3])
        if rep == 0:  # warm-up: whole rounds
            for _ in range(self.warmup_rounds):
                for op in self._round():
                    self._setup_op(op)
            self.rng = np.random.default_rng([self.seed, 3])
            self.lookup_tables = []  # set-up lookups excluded

    def _new_round(self) -> None:
        """A fresh copy of the prepared table, its oracle and a lookup
        table with an empty cache (untimed)."""
        from flink_table_store_spark.operators.lookup import PartialLookupTable

        path, self.version, self.next_id, state = self.prepared
        self.round += 1
        name = f"bench.pk_round{self.round}"
        shutil.rmtree(
            self.catalog.table_path(f"bench.pk_round{self.round - 1}"), ignore_errors=True
        )
        shutil.copytree(path, self.catalog.table_path(name))
        self.table = self.catalog.get_table(name)
        self.state = copy.deepcopy(state)
        # every lookup sees the latest snapshot (no refresh interval)
        self.lookup_table = PartialLookupTable(
            self.spark, self.table, refresh_interval_sec=0.0
        )
        self.lookup_tables.append(self.lookup_table)

    def _round(self) -> Iterator[Op]:
        self._new_round()
        half = self.lookups_per_read // 2
        yield self._side_op(self.side_rows, f"side-{self.round}")
        for shape in range(3):
            yield self._merged_op()
            yield from self._lookup_ops(half)
            yield self._key_op(shape)
            yield from self._lookup_ops(half)

    def _side_op(self, n: int, ident: str) -> Op:
        rng = np.random.default_rng([self.seed, 4, self.version + 1])
        n_new = n // 5
        upd = np.unique(self._zipf(rng, n - n_new))
        new = np.arange(self.next_id, self.next_id + n_new)
        self.next_id += n_new
        return self._write_op("upsert", self._frame(np.concatenate([upd, new]), 2), ident)

    def _merged_op(self) -> Op:
        table, spark = self.table, self.spark

        def run():
            return table.to_df(spark).agg(
                F.count(F.lit(1)), F.sum("price"), F.sum("version"), F.max("item_id")
            ).collect()[0]

        return Op("merged_read", run, lambda r: tuple(r) == self.state.aggregates())

    def _key_op(self, shape: int) -> Op:
        from flink_table_store_spark import predicate as P

        if shape == 0:
            keys = [int(self._zipf(self.rng, 1)[0])]
            pred = P.equal("item_id", keys[0])
        elif shape == 1:
            keys = sorted({int(k) for k in self._zipf(self.rng, 5)})
            pred = P.isin("item_id", keys)
        else:
            lo = int(self.rng.integers(0, self.next_id - 20))
            keys = list(range(lo, lo + 20))
            pred = P.between("item_id", lo, lo + 19)
        table, spark = self.table, self.spark

        def run():
            return _q1_select(table.to_df(spark, predicate=pred)).collect()

        def check(rows) -> bool:
            return self.state.rows_match(
                [tuple(r[: len(Q1_LONGS)]) + (r[-2], r[-1]) for r in rows], keys
            )

        return Op("key_read", run, check)

    def _lookup_ops(self, n: int) -> list[Op]:
        lt = self.lookup_table
        keys = self._zipf(self.rng, n)
        absent = self.rng.random(n) < self.absent_share
        out = []
        for k, gone in zip(keys, absent):
            key = int(ABSENT_KEY0 + k) if gone else int(k)

            def run(key=key):
                return lt.lookup({"item_id": key})

            def check(rec, key=key) -> bool:
                want = self.state.row(key)
                if rec is None or want is None:
                    return rec is None and want is None
                got = tuple(int(rec[c]) for c in Q1_LONGS) + (rec["item_name"],)
                return got == want[:-1]

            out.append(Op("lookup", run, check, spark=False))
        return out

    def ops(self) -> Iterator[Op]:
        while True:
            yield from self._round()
            yield ROUND_END

    def side_stream(self) -> AppendScan:
        return AppendScan(self.spark, self.seed, self.tiny)

    def summarize(self, lat: dict[str, list[float]]) -> tuple[dict, dict]:
        lookups = lat.get("lookup", [])
        keys = lat.get("key_read", [])
        stats = {
            k: sum(lt.stats[k] for lt in self.lookup_tables)
            for k in ("bucket_loads", "hits", "misses")
        }
        n_ops = sum(len(v) for v in lat.values())
        busy = sum(sum(v) for v in lat.values())
        contract = {
            "main_op_p50_ms": p50(keys) * 1000,
            "heavy_op_p50_ms": p50(lat.get("merged_read", [])) * 1000,
            "point_op_p50_ms": p50(lookups) * 1000,
            # closed-loop throughput of the whole mix
            "work_per_s": n_ops / busy if busy else math.nan,
        }
        report = {
            "merged_read_p50_s": (p50(lat.get("merged_read", [])), "s"),
            "key_read_p50_s": (p50(keys), "s"),
            "key_read_p90_s": (p90(keys), "s"),
            "lookup_p50_ms": (p50(lookups) * 1000, "ms"),
            "lookup_p90_ms": (p90(lookups) * 1000, "ms"),
            "upsert_commit_p50_s": (p50(lat.get("upsert", [])), "s"),
            "lookup_bucket_reload_share": (
                stats["bucket_loads"] / max(stats["hits"] + stats["misses"], 1), "ratio"
            ),
        }
        return contract, report


class AppendScan:
    """A partitioned append table of synthetic lineitem rows with a bloom
    index, built with several commits, so the manifest holds one entry
    per commit and partition; selective reads (partition prune + stats
    skip), bloom point reads and TPC-H Q1-shaped full-scan aggregates.
    No merge, no writes. Measured on traced ``pk_read_mix`` runs, after
    their loop, for the file-index layer.

    Each commit writes one file per partition holding a contiguous range
    of order keys, so a narrow order-key predicate keeps one file."""

    layers = ("fileindex.s", "fileindex.files_skipped")
    timed_ops = 6  # one round: each scan shape twice, once traced

    def __init__(self, spark, seed: int, tiny: bool = False):
        self.spark = spark
        self.seed = seed
        self.warmup: list[bool] = []
        self.commits = 3 if tiny else 6
        self.rows_per_commit = 1000 if tiny else 4000
        self.parts = 20_000
        self.data = self._generate()

    def _generate(self) -> pd.DataFrame:
        rng = np.random.default_rng([self.seed, 5])
        n = self.commits * self.rows_per_commit
        i = np.arange(n)
        partkey = rng.integers(1, self.parts + 1, n)
        qty = rng.integers(1, 51, n).astype(np.float64)
        days = DAY0 + rng.integers(0, DAYS, n)
        pdf = pd.DataFrame({
            "l_orderkey": i // 4 + 1,
            "l_partkey": partkey,
            "l_suppkey": rng.integers(1, 1001, n),
            "l_linenumber": (i % 4 + 1).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": qty * (900.0 + (partkey % 20001) / 10.0),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": FLAGS[rng.integers(0, 3, n)],
            "l_linestatus": STATUSES[rng.integers(0, 2, n)],
            "l_shipdate": pd.to_datetime(days, unit="D").date,
            "l_comment": [f"c{v}" for v in rng.integers(0, 10**6, n)],
        })
        self.days = days
        keys, counts = np.unique(partkey, return_counts=True)
        self.single_parts = keys[counts == 1]
        return pdf

    def prepare(self, catalog) -> None:
        """Build the table, then warm up with one op of each shape."""
        rows_per_file = self.rows_per_commit // len(FLAGS)
        self.table = catalog.create_table(
            "bench.lineitem", LINEITEM_DDL, partition_keys=["l_returnflag"],
            options={
                "file-index.bloom-filter.columns": "l_partkey",
                "file-index.bloom-filter.items": str(2 * rows_per_file),
            },
        )
        for c in range(self.commits):
            part = self.data.iloc[c * self.rows_per_commit:(c + 1) * self.rows_per_commit]
            # one writer task per commit: one file per partition
            df = self.spark.createDataFrame(part, LINEITEM_DDL).coalesce(1)
            self.table.write(df)
        self.rng = np.random.default_rng([self.seed, 6])
        for op in (self._selective_op(0), self._point_op(), self._full_op()):
            self.warmup.append(op.check(op.run()))
        self.rng = np.random.default_rng([self.seed, 6])

    def _agg_op(self, kind: str, pred, mask: np.ndarray, col: str) -> Op:
        want_n, want_sum = int(mask.sum()), float(self.data[col].to_numpy()[mask].sum())
        table, spark = self.table, self.spark

        def run():
            return table.to_df(spark, predicate=pred).agg(
                F.count(F.lit(1)), F.sum(col)
            ).collect()[0]

        def check(r) -> bool:
            return r[0] == want_n and math.isclose(r[1] or 0.0, want_sum, rel_tol=1e-9)

        return Op(kind, run, check)

    def _selective_op(self, i: int) -> Op:
        """Partition prune + stats skip: one return flag and 20 order
        keys inside one commit, so exactly one file is kept. The seed
        picks the commit and the keys, so runs with different seeds do
        the same work."""
        from flink_table_store_spark import predicate as P

        d = self.data
        flag = str(FLAGS[i % 3])
        c = int(self.rng.integers(0, self.commits))
        r0 = c * self.rows_per_commit
        r1 = r0 + self.rows_per_commit
        # order keys whose four rows all lie in rows [r0, r1)
        k0, k1 = (r0 + 3) // 4 + 1, r1 // 4
        lo = k0 + int(self.rng.integers(0, k1 - k0 - 18))
        pred = P.and_(P.equal("l_returnflag", flag), P.between("l_orderkey", lo, lo + 19))
        mask = (d["l_returnflag"] == flag).to_numpy() & (
            (d["l_orderkey"] >= lo) & (d["l_orderkey"] <= lo + 19)
        ).to_numpy()
        return self._agg_op("scan_skip", pred, mask, "l_extendedprice")

    def _point_op(self) -> Op:
        """Bloom point read on a part key held by one row."""
        from flink_table_store_spark import predicate as P

        key = int(self.rng.choice(self.single_parts))
        mask = (self.data["l_partkey"] == key).to_numpy()
        return self._agg_op("scan_point", P.equal("l_partkey", key), mask, "l_quantity")

    def _full_op(self) -> Op:
        cutoff = DAY0 + DAYS - int(self.rng.integers(60, 121))
        d = self.data[self.days <= cutoff]
        want = {
            (f, s): (len(g), g["l_quantity"].sum(), g["l_extendedprice"].sum(),
                     g["l_discount"].mean())
            for (f, s), g in d.groupby(["l_returnflag", "l_linestatus"])
        }
        cut = pd.Timestamp(cutoff, unit="D").date()
        table, spark = self.table, self.spark

        def run():
            return (
                table.to_df(spark)
                .where(F.col("l_shipdate") <= F.lit(cut))
                .groupBy("l_returnflag", "l_linestatus")
                .agg(
                    F.count(F.lit(1)), F.sum("l_quantity"),
                    F.sum("l_extendedprice"), F.avg("l_discount"),
                )
                .collect()
            )

        def check(rows) -> bool:
            got = {(r[0], r[1]): tuple(r[2:]) for r in rows}
            if got.keys() != want.keys():
                return False
            return all(
                g[0] == w[0] and all(
                    math.isclose(a, b, rel_tol=1e-9) for a, b in zip(g[1:], w[1:])
                )
                for g, w in ((got[k], want[k]) for k in want)
            )

        return Op("scan_full", run, check)

    def ops(self) -> Iterator[Op]:
        i = 0
        while True:
            for _ in range(2):
                yield self._selective_op(i)
                yield self._point_op()
                yield self._full_op()
                i += 1
            yield ROUND_END

    def report(self, lat: dict[str, list[float]]) -> dict:
        skips, points, fulls = (lat.get(k, []) for k in ("scan_skip", "scan_point", "scan_full"))
        return {
            "scan_skip_p50_s": (p50(skips + points), "s"),
            "scan_point_p50_s": (p50(points), "s"),
            "scan_full_p50_s": (p50(fulls), "s"),
        }


class Curation:
    """Curation micro-batches through ``curation_batch_writer`` with
    exact and MinHash indexes: gates, exact dedup, LSH probe, then the
    corpus, MinHash and exact-index commits, each exactly-once.

    A batch holds fresh synthetic documents (100 words drawn from a
    5000-word vocabulary, so two fresh documents share no 3-shingle) and,
    at ``dup_share``, copies of documents already in the corpus: half
    exact, half with one word replaced (shingle Jaccard about 0.94).
    The oracle: exactly the fresh documents survive, each with 100
    tokens. The first batch, in ``prepare``, is an untimed warm-up.
    Measured on traced ``upsert_stream`` runs, after their loop."""

    layers = (
        "incdedup.dedup_against_index.s",
        "incdedup.dedup_exact_against_index.s",
        "curation.batch.s",
        "curation.batch.self_s",
        "curation.minhash_share",
    )
    timed_ops = 2  # after the warm-up batch: one traced, one not
    words = 100
    vocab = 5000

    def __init__(self, spark, seed: int, tiny: bool = False):
        self.spark = spark
        self.seed = seed
        self.batch_docs = 20 if tiny else 40
        self.dup_share = 0.25
        self.batch = 0
        self.next_id = 0
        self.kept: dict[int, str] = {}
        self.warmup: list[bool] = []

    def prepare(self, catalog) -> None:
        """Create the corpus and its indexes and curate the first batch.
        Call after the layer wrappers are installed: the writer binds
        the dedup functions when it is built."""
        from flink_table_store_spark.datapipe.incdedup import (
            create_exact_index,
            create_minhash_index,
        )
        from flink_table_store_spark.streaming.curation import curation_batch_writer

        self.corpus = catalog.create_table("bench.corpus", DOC_DDL + ", n_tokens int")
        exact = create_exact_index(catalog, "bench.corpus_fp")
        minhash = create_minhash_index(catalog, "bench.corpus_mh")
        self.writer = curation_batch_writer(
            self.corpus, exact, "bench", min_tokens=2, minhash_index=minhash
        )
        op = self._op()
        self.warmup.append(op.check(op.run()))

    def _docs(self) -> tuple[pd.DataFrame, dict[int, str]]:
        rng = np.random.default_rng([self.seed, 9, self.batch])
        n_dup = int(self.batch_docs * self.dup_share) if self.kept else 0
        ids, texts, fresh = [], [], {}
        for _ in range(self.batch_docs - n_dup):
            text = " ".join(f"w{w}" for w in rng.integers(0, self.vocab, self.words))
            fresh[self.next_id] = text
            ids.append(self.next_id)
            texts.append(text)
            self.next_id += 1
        sources = rng.choice(sorted(self.kept), size=n_dup, replace=False)
        for j, src in enumerate(sources):
            words = self.kept[int(src)].split()
            if j % 2:  # near duplicate: one word replaced mid-document
                words[int(rng.integers(10, self.words - 10))] = f"x{self.next_id}"
            ids.append(self.next_id)
            texts.append(" ".join(words))
            self.next_id += 1
        return pd.DataFrame({"doc_id": ids, "text": texts}), fresh

    def _op(self) -> Op:
        pdf, fresh = self._docs()
        df = self.spark.createDataFrame(pdf, DOC_DDL)
        batch = self.batch
        self.batch += 1

        def check(_) -> bool:
            rows = self.corpus.refresh().to_df(self.spark).select("doc_id", "n_tokens").collect()
            ok = {r[0] for r in rows} == set(self.kept) | set(fresh) and all(
                r[1] == self.words for r in rows
            )
            if ok:
                self.kept.update(fresh)
            return ok

        return Op("curate", lambda: self.writer(df, batch), check)

    def ops(self) -> Iterator[Op]:
        while True:
            yield self._op()
            yield ROUND_END

    def report(self, lat: dict[str, list[float]]) -> dict:
        batches = lat.get("curate", [])
        return {
            "curate_batch_p50_s": (p50(batches), "s"),
            "curate_docs_per_s": (
                self.batch_docs * len(batches) / sum(batches) if batches else math.nan,
                "docs/s",
            ),
        }


WORKLOADS = {w.name: w for w in (UpsertStream, PkReadMix)}
