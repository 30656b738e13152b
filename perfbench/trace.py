"""Benchmark-side spans around the table store's layer seams.

The package itself carries no tracing. A traced run wraps, from here,
the public functions of each layer module at every place a caller looks
them up (a module attribute, a name imported into another module, or a
class attribute), records one span per call and restores the originals
afterwards. Spans stay in memory and are written out when the run ends.

Spark time is not measured by the wrappers: a function that returns a
lazy DataFrame only builds a plan. Spark SQL executions are read from
the status store after the run, assigned to an op by execution-id range
and, inside the op, to the innermost span open at submission time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import sys
import time

PACKAGE = "flink_table_store_spark"

# span names whose calls form the "snapshot" layer metrics
SNAPSHOT_READS = ("snapshot.latest", "snapshot.latest_id", "snapshot.load")
FILEINDEX = ("fileindex.attach_bloom_positions", "fileindex.rowgroup_selection")
_EXCHANGE_RE = re.compile(r"(?<![A-Za-z])Exchange \(\d+\)")
_PUSHED_RE = re.compile(r"PushedFilters: \[([^\]]*)\]")


class Span:
    __slots__ = ("name", "parent", "t0", "t1", "attrs", "execs")

    def __init__(self, name: str, parent: int, t0: float):
        self.name = name
        self.parent = parent
        self.t0 = t0
        self.t1 = t0
        self.attrs: dict = {}
        self.execs: list[dict] = []

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Span recorder. ``active`` switches recording per op, so one run
    can alternate traced and untraced ops of the same kind."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        # perf_counter -> wall-clock milliseconds, for matching Spark
        # execution submission times
        self._wall_offset_ms = time.time() * 1000.0 - time.perf_counter() * 1000.0

    # --- recording -------------------------------------------------------

    def _open(self, name: str) -> Span:
        span = Span(name, self._stack[-1] if self._stack else -1, time.perf_counter())
        self._stack.append(len(self.spans))
        self.spans.append(span)
        return span

    def _close(self, span: Span) -> None:
        span.t1 = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def op(self, kind: str, exec_mark=None):
        """Root span of one benchmark operation. ``exec_mark`` returns the
        highest Spark SQL execution id so far; ops that run Spark record
        the id range they cover."""
        span = self._open(f"op.{kind}")
        if exec_mark is not None:
            span.attrs["exec_lo"] = exec_mark()
        try:
            yield span
        finally:
            if exec_mark is not None:
                span.attrs["exec_hi"] = exec_mark()
            self._close(span)

    def wrap(self, fn, name: str, after=None, before=None):
        """``before(span, args, kwargs)`` and ``after(span, args, kwargs,
        result)`` record counts on the span; they run inside it."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            span = tracer._open(name)
            if before is not None:
                before(span, args, kwargs)
            try:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(span, args, kwargs, out)
                return out
            finally:
                tracer._close(span)

        return traced

    # --- installing wrappers ---------------------------------------------

    def install_function(self, module, attr: str, name: str, after=None) -> None:
        """Wrap a module-level function everywhere the package refers to
        it: its own module and every package module that imported it by
        name."""
        original = getattr(module, attr)
        wrapped = self.wrap(original, name, after)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for key, value in list(vars(mod).items()):
                if value is original:
                    self._patched.append((mod, key, value))
                    setattr(mod, key, wrapped)

    def install_method(self, cls, attr: str, name: str, after=None, before=None) -> None:
        original = cls.__dict__[attr]
        self._patched.append((cls, attr, original))
        setattr(cls, attr, self.wrap(original, name, after, before))

    def uninstall(self) -> None:
        for owner, key, value in reversed(self._patched):
            setattr(owner, key, value)
        self._patched.clear()

    # --- Spark attribution -------------------------------------------------

    def attribute_executions(self, executions: list[dict]) -> None:
        """Assign each execution to the innermost span of its op that
        was open when the execution was submitted."""
        by_op: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            root = i
            while self.spans[root].parent >= 0:
                root = self.spans[root].parent
            by_op.setdefault(root, []).append(i)
        ops = [
            (i, s) for i, s in enumerate(self.spans)
            if s.parent < 0 and "exec_lo" in s.attrs
        ]
        for ex in executions:
            for i, s in ops:
                if s.attrs["exec_lo"] < ex["id"] <= s.attrs["exec_hi"]:
                    at = ex["submitted_ms"] - self._wall_offset_ms
                    best = i
                    for j in by_op[i]:
                        sj = self.spans[j]
                        if sj.t0 <= at / 1000.0 <= sj.t1 and j > best:
                            best = j  # later-opened = deeper when nested
                    self.spans[best].execs.append(ex)
                    break

    # --- output ------------------------------------------------------------

    def dump(self, path: str) -> None:
        out = [
            {
                "name": s.name,
                "parent": s.parent,
                "start": s.t0,
                "end": s.t1,
                "attrs": s.attrs,
                "spark": s.execs,
            }
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"spans": out}, fh)


def read_executions(spark, after_id: int) -> list[dict]:
    """Completed SQL executions with id > ``after_id`` from the status
    store (the listener bus is asynchronous, so wait for it to drain)."""
    store = spark._jsparkSession.sharedState().statusStore()
    tracker = spark.sparkContext.statusTracker()
    for _ in range(50):
        lst = store.executionsList()
        n = lst.size()
        if n == 0 or lst.apply(n - 1).completionTime().isDefined():
            break
        time.sleep(0.1)
    out = []
    for i in range(n):
        e = lst.apply(i)
        eid = e.executionId()
        if eid <= after_id:
            continue
        done = e.completionTime()
        submitted = e.submissionTime()
        plan = e.physicalPlanDescription()
        tasks = 0
        stages = e.stages().mkString(",")
        for sid in filter(None, stages.split(",")):
            info = tracker.getStageInfo(int(sid))
            tasks += info.numTasks if info else 0
        pushed = [p for p in _PUSHED_RE.findall(plan)]
        out.append({
            "id": eid,
            "submitted_ms": submitted,
            "seconds": (
                (done.get().getTime() - submitted) / 1000.0
                if done.isDefined() else 0.0
            ),
            "tasks": tasks,
            "exchanges": len(set(_EXCHANGE_RE.findall(plan))),
            "pushed_filters": any(p.strip() for p in pushed),
            "scans": len(pushed),
        })
    return out


def max_execution_id(spark) -> int:
    lst = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = lst.size()
    return lst.apply(n - 1).executionId() if n else -1


def install_layers(tracer: Tracer) -> None:
    """Wrap the layer seams named in the benchmark README."""
    from flink_table_store_spark import fileindex, read, write
    from flink_table_store_spark.commit import FileStoreCommit
    from flink_table_store_spark.datapipe import incdedup
    from flink_table_store_spark.manifest import KIND_ADD, KIND_DELETE, ManifestManager
    from flink_table_store_spark.operators import bucketed_join
    from flink_table_store_spark.operators.lookup import PartialLookupTable
    from flink_table_store_spark.snapshot import SnapshotManager
    from flink_table_store_spark.table import Table

    for attr in ("latest", "latest_id", "load", "try_commit"):
        tracer.install_method(SnapshotManager, attr, f"snapshot.{attr}")

    def _entries_read(span, args, kwargs, out):
        span.attrs["entries"] = len(out)

    tracer.install_method(
        ManifestManager, "read_live_entries", "manifest.read_live_entries", _entries_read
    )
    tracer.install_method(ManifestManager, "write_manifest", "manifest.write_manifest")
    tracer.install_method(
        ManifestManager, "write_manifest_list", "manifest.write_manifest_list"
    )

    def _planned(span, args, kwargs, out):
        span.attrs["planned"] = len(args[0])
        span.attrs["kept"] = len(out.raw_entries) + len(out.merge_entries)

    def _merge_files(span, args, kwargs, out):
        span.attrs["merge_files"] = len(args[2].merge_entries)

    tracer.install_function(read, "plan_scan", "read.plan_scan", _planned)
    tracer.install_function(read, "build_dataframe", "read.build_dataframe", _merge_files)

    def _rg_skip(span, args, kwargs, out):
        span.attrs["skipped"] = int(out == [])

    tracer.install_function(
        fileindex, "attach_bloom_positions", "fileindex.attach_bloom_positions"
    )
    tracer.install_function(
        fileindex, "rowgroup_selection", "fileindex.rowgroup_selection", _rg_skip
    )

    def _written(span, args, kwargs, out):
        adds = [e for e in out if e.kind == KIND_ADD]
        span.attrs["files"] = len(adds)
        span.attrs["bytes"] = sum(e.file_size for e in adds)

    tracer.install_function(
        write, "stage_and_collect", "write.stage_and_collect", _written
    )
    tracer.install_function(write, "_collect_staged", "write._collect_staged")

    def _commit_entries(span, args, kwargs, out):
        entries = args[1]
        dels = [e for e in entries if e.kind == KIND_DELETE]
        adds = [e for e in entries if e.kind == KIND_ADD]
        span.attrs.update(
            identifier=bool(kwargs.get("commit_identifier")),
            files_in=len(dels),
            files_out=len(adds),
            bytes_in=sum(e.file_size for e in dels),
            snapshot_id=out.id,
        )

    tracer.install_method(FileStoreCommit, "commit", "commit.commit", _commit_entries)
    tracer.install_method(Table, "compact", "table.compact")

    def _lookup_before(span, args, kwargs):
        stats = args[0].stats
        span.attrs["misses"] = -stats["misses"]
        span.attrs["files_opened"] = -stats["files_opened"]

    def _lookup_after(span, args, kwargs, out):
        stats = args[0].stats
        span.attrs["misses"] += stats["misses"]
        span.attrs["files_opened"] += stats["files_opened"]

    tracer.install_method(
        PartialLookupTable, "lookup", "lookup.lookup", _lookup_after, _lookup_before
    )
    tracer.install_function(
        bucketed_join, "read_bucket_side", "bucketed_join.read_bucket_side"
    )
    # looked up as module attributes when a curation writer is built
    for attr in ("dedup_against_index", "dedup_exact_against_index"):
        tracer.install_function(incdedup, attr, f"incdedup.{attr}")


PER_LAYER_UNITS = {
    "host.canary_s": "s",
    "spark.session_start_s": "s",
    "snapshot.calls": "count",
    "snapshot.s": "s",
    "manifest.read_live_entries.s": "s",
    "manifest.entries_read": "count",
    "manifest.write.s": "s",
    "read.plan_scan.s": "s",
    "read.files_planned": "count",
    "read.files_kept": "count",
    "read.merge_files": "count",
    "read.build_dataframe.s": "s",
    "read.pushed_filter_share": "ratio",
    "fileindex.s": "s",
    "fileindex.files_skipped": "count",
    "spark.exec_s": "s",
    "spark.executions": "count",
    "spark.tasks": "count",
    "spark.exchanges": "count",
    "write.stage_and_collect.s": "s",
    "write._collect_staged.s": "s",
    "write.files_written": "count",
    "write.bytes_written": "bytes",
    "commit.commit.s": "s",
    "commit.snapshot_loads_per_commit": "count",
    "commit.snapshot_loads_growth": "count",
    "commit.attempts": "count",
    "table.compact.s": "s",
    "table.compact.bytes_rewritten": "bytes",
    "table.compact.files_in": "count",
    "table.compact.files_out": "count",
    "lookup.lookup.s": "s",
    "lookup.hit_ratio": "ratio",
    "lookup.files_opened": "count",
    "bucketed_join.read_bucket_side.s": "s",
    "incdedup.dedup_against_index.s": "s",
    "incdedup.dedup_exact_against_index.s": "s",
    "curation.batch.s": "s",
    "curation.batch.self_s": "s",
    "curation.minhash_share": "ratio",
    "op.self_s": "s",
    "trace.overhead_ratio": "ratio",
}


def layer_metrics(tracer: Tracer, filtered_kinds: set[str]) -> dict[str, float]:
    """Per-layer figures from the spans of the traced ops.

    Times and counts are per traced op (sum over the run ÷ traced ops);
    ratios and the per-commit figures say what they are divided by."""
    spans = tracer.spans
    ops = [i for i, s in enumerate(spans) if s.parent < 0]
    n_ops = max(len(ops), 1)
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        children.setdefault(s.parent, []).append(i)

    def descendants(i: int):
        stack = list(children.get(i, []))
        while stack:
            j = stack.pop()
            yield j
            stack.extend(children.get(j, []))

    def outermost(names) -> list[Span]:
        # calls of a layer that are not nested in another call of the
        # same layer (latest() calls load(), for example)
        out = []
        for s in spans:
            if s.name in names and not (
                s.parent >= 0 and spans[s.parent].name in names
            ):
                out.append(s)
        return out

    def total(names, attr=None) -> float:
        picked = outermost(names)
        if attr is None:
            return sum(s.seconds for s in picked) / n_ops
        return sum(s.attrs.get(attr, 0) for s in picked) / n_ops

    m: dict[str, float] = {}
    snap = outermost(SNAPSHOT_READS)
    m["snapshot.calls"] = len(snap) / n_ops
    m["snapshot.s"] = sum(s.seconds for s in snap) / n_ops
    m["manifest.read_live_entries.s"] = total(("manifest.read_live_entries",))
    m["manifest.entries_read"] = total(("manifest.read_live_entries",), "entries")
    m["manifest.write.s"] = total(
        ("manifest.write_manifest", "manifest.write_manifest_list")
    )
    m["read.plan_scan.s"] = total(("read.plan_scan",))
    m["read.files_planned"] = total(("read.plan_scan",), "planned")
    m["read.files_kept"] = total(("read.plan_scan",), "kept")
    m["read.merge_files"] = total(("read.build_dataframe",), "merge_files")
    m["read.build_dataframe.s"] = total(("read.build_dataframe",))
    m["fileindex.s"] = total(FILEINDEX)
    m["fileindex.files_skipped"] = sum(
        s.attrs.get("skipped", 0) for s in spans if s.name in FILEINDEX
    ) / n_ops

    execs = [ex for s in spans for ex in s.execs]
    m["spark.exec_s"] = sum(ex["seconds"] for ex in execs) / n_ops
    m["spark.executions"] = len(execs) / n_ops
    m["spark.tasks"] = sum(ex["tasks"] for ex in execs) / n_ops
    m["spark.exchanges"] = sum(ex["exchanges"] for ex in execs) / n_ops

    filtered = [i for i in ops if spans[i].name[3:] in filtered_kinds]
    pushed = 0
    for i in filtered:
        ex_all = list(spans[i].execs) + [
            ex for j in descendants(i) for ex in spans[j].execs
        ]
        pushed += int(any(ex["pushed_filters"] for ex in ex_all))
    m["read.pushed_filter_share"] = pushed / len(filtered) if filtered else 0.0

    m["write.stage_and_collect.s"] = total(("write.stage_and_collect",))
    m["write._collect_staged.s"] = total(("write._collect_staged",))
    m["write.files_written"] = total(("write.stage_and_collect",), "files")
    m["write.bytes_written"] = total(("write.stage_and_collect",), "bytes")

    commits = [i for i, s in enumerate(spans) if s.name == "commit.commit"]
    # streaming-sink commits carry an identifier and pay the idempotence
    # check; compaction commits do not
    ident_commits = [i for i in commits if spans[i].attrs.get("identifier")]
    loads = [
        sum(1 for j in descendants(i) if spans[j].name == "snapshot.load")
        for i in ident_commits
    ]
    # position in the table's history: the snapshot the commit made
    position = [spans[i].attrs.get("snapshot_id", 0) for i in ident_commits]
    attempts = [
        sum(1 for j in descendants(i) if spans[j].name == "snapshot.try_commit")
        for i in commits
    ]
    m["commit.commit.s"] = total(("commit.commit",))
    m["commit.snapshot_loads_per_commit"] = (
        sum(loads) / len(loads) if loads else 0.0
    )
    m["commit.snapshot_loads_growth"] = _slope(position, loads)
    m["commit.attempts"] = sum(attempts) / len(attempts) if attempts else 0.0

    compacts = [i for i, s in enumerate(spans) if s.name == "table.compact"]
    rewrite = {"bytes_in": 0, "files_in": 0, "files_out": 0}
    for i in compacts:
        for j in descendants(i):
            if spans[j].name == "commit.commit":
                for k in rewrite:
                    rewrite[k] += spans[j].attrs.get(k, 0)
    m["table.compact.s"] = total(("table.compact",))
    m["table.compact.bytes_rewritten"] = rewrite["bytes_in"] / n_ops
    m["table.compact.files_in"] = rewrite["files_in"] / n_ops
    m["table.compact.files_out"] = rewrite["files_out"] / n_ops

    lookups = [s for s in spans if s.name == "lookup.lookup"]
    m["lookup.lookup.s"] = sum(s.seconds for s in lookups) / n_ops
    misses = sum(s.attrs["misses"] for s in lookups)
    m["lookup.hit_ratio"] = 1.0 - misses / len(lookups) if lookups else 0.0
    m["lookup.files_opened"] = sum(s.attrs["files_opened"] for s in lookups) / n_ops
    m["bucketed_join.read_bucket_side.s"] = total(("bucketed_join.read_bucket_side",))

    self_s = []
    for i in ops:
        child_s = sum(spans[j].seconds for j in children.get(i, []))
        self_s.append(spans[i].seconds - child_s)
    m["op.self_s"] = sum(self_s) / n_ops
    m["op.self_s_min"] = min(self_s) if self_s else 0.0

    batches = [i for i in ops if spans[i].name == "op.curate"]
    batch_s = sum(spans[i].seconds for i in batches)
    minhash_s = sum(s.seconds for s in outermost(("incdedup.dedup_against_index",)))
    m["incdedup.dedup_against_index.s"] = minhash_s / n_ops
    m["incdedup.dedup_exact_against_index.s"] = total(
        ("incdedup.dedup_exact_against_index",)
    )
    m["curation.batch.s"] = batch_s / n_ops
    m["curation.batch.self_s"] = sum(
        s for i, s in zip(ops, self_s) if spans[i].name == "op.curate"
    ) / n_ops
    # the MinHash probe's share of a batch: a lower bound, since Spark
    # jobs the probe's lazy result causes later are charged to the batch
    m["curation.minhash_share"] = minhash_s / batch_s if batch_s else 0.0
    return m


def _slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ys on xs (0 with fewer than two xs)."""
    if len(set(xs)) < 2:
        return 0.0
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )
