"""Physical-plan shape audits — the .explain() evidence that the
engine's scans stay pushdown-friendly and shuffle-lean (SURVEY §4):

- residual predicates reach the parquet scan (PushedFilters),
- column pruning reaches the scan (ReadSchema),
- merge-on-read costs exactly ONE exchange (the key shuffle) with a
  map-side partial aggregate,
- lookup joins broadcast the dim side (no big-side shuffle).
"""

from __future__ import annotations

import pytest
import contextlib
import io
import os

from pyspark.sql import functions as F

from flink_table_store_spark import predicate as P

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_scan_pushdown_and_pruning(spark, warehouse, spark_branch):
    li = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
    t = warehouse.create_table("db.li", li.schema, partition_keys=["l_returnflag"])
    t.write(li)

    with spark_branch():
        df = t.to_df(
            spark,
            predicate=P.and_(P.equal("l_returnflag", "R"), P.greater_than("l_quantity", 40.0)),
            projection=["l_orderkey", "l_quantity"],
        )
    plan = _plan(df)
    # non-partition residual filter pushed into the parquet reader
    assert "PushedFilters" in plan and "l_quantity" in plan.split("PushedFilters")[1][:200]
    # only the projected + filter columns are read, not all 11
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema
    # partition predicate resolved at plan time: only the R partition's
    # files are in the scan at all
    assert df.count() == li.where((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 40)).count()


def test_merge_on_read_single_shuffle(spark, warehouse, spark_branch):
    nation = spark.read.parquet(os.path.join(SF, "nation.parquet"))
    t = warehouse.create_table(
        "db.nat", nation.schema, primary_keys=["n_nationkey"], options={"bucket": "2"}
    )
    t.write(nation)
    t.write(nation.withColumn("n_name", F.upper("n_name")))
    t = t.refresh()

    # simple mode prints each operator once — countable
    with spark_branch():
        df = t.to_df(spark)
    plan = _plan(df, mode="simple")
    # exactly one exchange: the merge keyed on the PK. More would mean
    # the merge view re-shuffles; zero would mean no merge happened.
    assert plan.count("Exchange") == 1
    # partial (map-side) combine before that exchange
    formatted = _plan(df)
    assert "partial_max_by" in formatted or "partial_min_by" in formatted


def test_merge_on_read_pushes_key_predicate(spark, warehouse, spark_branch):
    """PK reads keep predicates at the parquet scan: a key filter
    pushes through the deterministic winner fold into the merge-path
    FileScan, whether applied after to_df or passed as its predicate."""
    nation = spark.read.parquet(os.path.join(SF, "nation.parquet"))
    t = warehouse.create_table(
        "db.natpk", nation.schema, primary_keys=["n_nationkey"], options={"bucket": "2"}
    )
    t.write(nation)
    t.write(nation.withColumn("n_name", F.upper("n_name")))
    t = t.refresh()
    want = nation.where("n_nationkey = 5").withColumn("n_name", F.upper("n_name")).collect()
    with spark_branch():
        dfs = (
            t.to_df(spark).where("n_nationkey = 5"),
            t.to_df(spark, predicate=P.equal("n_nationkey", 5)),
        )
    for df in dfs:
        plan = _plan(df)
        assert "max_by" in plan, "two overlapping runs must take the merge path"
        pushed = [ln for ln in plan.splitlines() if ln.startswith("PushedFilters")]
        assert pushed and all("EqualTo(n_nationkey,5)" in ln for ln in pushed), pushed
        assert df.collect() == want


def test_post_compaction_no_shuffle(spark, warehouse, spark_branch):
    nation = spark.read.parquet(os.path.join(SF, "nation.parquet"))
    t = warehouse.create_table(
        "db.nat2", nation.schema, primary_keys=["n_nationkey"], options={"bucket": "2"}
    )
    t.write(nation)
    t.write(nation.withColumn("n_name", F.upper("n_name")))
    t = t.refresh()
    t.compact(spark, full=True)
    t = t.refresh()
    # single compacted run per bucket → rawConvertible read, no merge,
    # no exchange at all
    with spark_branch():
        plan = _plan(t.to_df(spark), mode="simple")
    assert "Exchange" not in plan


def test_lookup_join_broadcasts_dim(spark, warehouse):
    from flink_table_store_spark.operators.lookup import lookup_join

    nation = spark.read.parquet(os.path.join(SF, "nation.parquet"))
    t = warehouse.create_table(
        "db.nat3", nation.schema, primary_keys=["n_nationkey"], options={"bucket": "2"}
    )
    t.write(nation)
    t = t.refresh()
    facts = spark.read.parquet(os.path.join(SF, "supplier.parquet")).select(
        "s_suppkey", F.col("s_nationkey").alias("n_nationkey")
    )
    plan = _plan(lookup_join(spark, facts, t, on="n_nationkey"))
    assert "BroadcastHashJoin" in plan
    # the fact side must NOT be exchanged for the join (broadcast only)
    assert "Exchange hashpartitioning(n_nationkey" not in plan


def test_minhash_signatures_single_shuffle(spark):
    """The signature stage is explode → ONE groupBy with 64 min-aggs:
    map-side partial_min combines before the single exchange, so the
    shuffle carries one row per (doc, 64 longs), not one per shingle."""
    from flink_table_store_spark.datapipe.dedup import minhash_signatures

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    sig = minhash_signatures(docs)
    simple = _plan(sig, mode="simple")
    assert simple.count("Exchange") == 1
    formatted = _plan(sig)
    assert "partial_min" in formatted


@pytest.mark.slow
def test_distributed_manifest_planning_matches_driver(spark, warehouse, monkeypatch):
    """Above scan.manifest.distributed-threshold the ADD/DELETE merge and
    pruning run as a Spark job; survivors must be IDENTICAL to the
    driver-side sequential merge — including DELETE+ADD-same-file deltas
    (rewrite_file_index) and stats pruning."""
    from flink_table_store_spark import predicate as P
    from flink_table_store_spark.manifest import ManifestManager

    t = warehouse.create_table(
        "db.distplan",
        "k bigint, pt string, v double",
        partition_keys=["pt"],
        options={
            "scan.manifest.distributed-threshold": "2",
            "file-index.bloom-filter.columns": "k",
        },
    )
    for i in range(3):
        t.write(
            spark.createDataFrame(
                [(j + 10 * i, f"p{j % 2}", float(j)) for j in range(8)],
                "k bigint, pt string, v double",
            )
        )
    t = t.refresh()
    t.rewrite_file_index(spark)  # DELETE+ADD of the same files in one delta
    t = t.refresh()

    calls = {"n": 0}
    orig = ManifestManager.live_entries_distributed

    def spy(self, *a, **kw):
        calls["n"] += 1
        return orig(self, *a, **kw)

    monkeypatch.setattr(ManifestManager, "live_entries_distributed", spy)

    pred = P.and_(P.equal("pt", "p1"), P.less_than("k", 15))
    got = sorted(
        (r.k, r.pt, r.v) for r in t.to_df(spark, predicate=pred).collect()
    )
    assert calls["n"] >= 1, "distributed planning did not engage"

    snap = t.snapshots.latest()
    driver_entries = t.manifests.read_live_entries(
        snap.base_manifest_list, snap.delta_manifest_list
    )
    dist_entries = t.manifests.live_entries_distributed(
        spark, snap.base_manifest_list, snap.delta_manifest_list
    )
    assert sorted(e.key() for e in driver_entries) == sorted(
        e.key() for e in dist_entries
    )
    # payload parity, not just keys: after rewrite_file_index a key has
    # TWO ADD records in history (pre- and post-rewrite stats/index
    # pointers); distributed planning must keep the LATEST like the
    # driver's dict merge, or scans plan with stale index metadata
    drv = {e.key(): (e.level, e.row_count, e.stats) for e in driver_entries}
    dst = {e.key(): (e.level, e.row_count, e.stats) for e in dist_entries}
    assert drv == dst

    expect = sorted(
        (j + 10 * i, f"p{j % 2}", float(j))
        for i in range(3)
        for j in range(8)
        if j % 2 == 1 and j + 10 * i < 15
    )
    assert got == expect


def test_distributed_liveness_matches_driver_randomized(spark, tmp_path):
    """Net-count-parity liveness (live_entries_distributed) must reach
    the same fixpoint as the driver's sequential dict merge on random
    valid ADD/DELETE histories — including rewrite-style DELETE+ADD of
    the same file inside one manifest."""
    import random

    from flink_table_store_spark.manifest import (
        KIND_ADD,
        KIND_DELETE,
        ManifestEntry,
        ManifestManager,
    )

    for seed in (1, 7, 42):
        rng = random.Random(seed)
        root = tmp_path / f"t{seed}"
        root.mkdir()
        mm = ManifestManager(str(root))
        live: set[tuple] = set()
        manifests: list[str] = []
        gen = [0]  # distinct row_count per ADD: latest-wins is observable
        def mk(pt, b, fn, kind):
            gen[0] += 1
            return ManifestEntry(
                kind=kind,
                partition={"p": pt},
                bucket=b,
                level=0,
                file_name=fn,
                row_count=gen[0],
                file_size=10,
            )
        n_files = 0
        for _commit in range(12):
            entries: list[ManifestEntry] = []
            # some deletes of currently-live files (maybe re-added below)
            for key in rng.sample(sorted(live), k=min(len(live), rng.randint(0, 3))):
                pt, b, fn = key
                entries.append(mk(pt, b, fn, KIND_DELETE))
                live.discard(key)
                if rng.random() < 0.4:  # rewrite: re-add the SAME name
                    entries.append(mk(pt, b, fn, KIND_ADD))
                    live.add(key)
            for _ in range(rng.randint(1, 4)):  # fresh adds
                n_files += 1
                key = (f"p{rng.randint(0, 2)}", rng.randint(0, 1), f"f{n_files}.parquet")
                entries.append(mk(*key, KIND_ADD))
                live.add(key)
            manifests.append(mm.write_manifest(entries))
        cut = len(manifests) // 2
        base_list = mm.write_manifest_list(manifests[:cut])
        delta_list = mm.write_manifest_list(manifests[cut:])

        driver = mm.read_live_entries(base_list, delta_list)
        dist = mm.live_entries_distributed(spark, base_list, delta_list)
        assert sorted(e.key() for e in driver) == sorted(e.key() for e in dist), seed
        # full-payload parity: on DELETE+re-ADD histories the surviving
        # entry must be the LATEST add (distinct row_count proves it)
        assert {e.key(): e.row_count for e in driver} == {
            e.key(): e.row_count for e in dist
        }, seed
        assert {e.key() for e in driver} == {
            ("{" + f'"p": "{pt}"' + "}", b, fn) for pt, b, fn in live
        }


@pytest.mark.slow
def test_fabricated_200k_manifest_plans_distributed(spark, warehouse, monkeypatch):
    """Metadata-scale proxy (VERDICT r4 #5): a fabricated 120k-entry
    manifest (no data files) must flip planning to the distributed
    path, prune every fake entry by partition, and read exactly the
    real rows. Doctor stays metadata-only (no data reads) so missing
    fake files cannot crash it."""
    from flink_table_store_spark.manifest import (
        KIND_ADD,
        ManifestEntry,
        ManifestManager,
    )

    t = warehouse.create_table(
        "db.meta_scale", "k bigint, v double, p int", partition_keys=["p"]
    )
    import pyspark.sql.functions as F

    t.write(
        spark.range(500).select(
            F.col("id").alias("k"), F.rand(3).alias("v"), F.lit(0).alias("p")
        )
    )
    t = t.refresh()
    fakes = [
        ManifestEntry(
            kind=KIND_ADD,
            partition={"p": str(1 + i % 64)},
            bucket=0,
            level=0,
            file_name=f"data/p={1 + i % 64}/data-fake{i:06d}.parquet",
            row_count=10,
            file_size=1 << 16,
            min_seq=i,
            max_seq=i,
            schema_id=t.schema.id,
            stats={"k": {"min": i, "max": i + 9, "nulls": 0}},
        )
        for i in range(120_000)
    ]
    t.committer.commit(fakes, t.schema.id)
    t = t.refresh()

    calls = {"n": 0}
    orig = ManifestManager.live_entries_distributed

    def spy(self, *a, **kw):
        calls["n"] += 1
        return orig(self, *a, **kw)

    monkeypatch.setattr(ManifestManager, "live_entries_distributed", spy)
    from flink_table_store_spark import predicate as P2

    assert t.to_df(spark, predicate=P2.equal("p", 0)).count() == 500
    assert calls["n"] >= 1, "distributed planning did not engage at 120k entries"
    rep = t.doctor(spark)
    assert rep["files"]["count"] >= 120_000


def test_quality_score_broadcasts_weights(spark):
    """The weight table (≤ n_buckets rows) must broadcast — a shuffled
    join here would re-shuffle the exploded gram rows (corpus-sized) on
    the bucket id at 100 TB."""
    from flink_table_store_spark.datapipe.quality_model import (
        score_quality_model,
        train_quality_model,
    )

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    labeled = docs.where(F.col("doc_id") % 2 == 0).select(
        "doc_id", "text", (F.col("lang") == "en").cast("int").alias("label")
    )
    model = train_quality_model(labeled, n_buckets=1024, seed=11)
    plan = _plan(score_quality_model(docs.select("doc_id", "text"), model))
    assert "BroadcastHashJoin" in plan
    # the per-doc mean is map-side combined before its shuffle
    assert "partial_avg" in plan or "HashAggregate" in plan


def test_split_dataset_is_shuffle_free(spark):
    """split_dataset is a narrow projection: NO exchange anywhere in
    the plan — the property that makes it free at any scale."""
    from flink_table_store_spark.datapipe.sampling import split_dataset

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    out = split_dataset(
        docs, {"train": 0.9, "test": 0.1}, group_col="source", seed=3
    )
    plan = _plan(out)
    assert "Exchange" not in plan


def test_export_shards_is_one_shuffle(spark, tmp_path):
    """export_training_shards claims ONE shuffle total (repartition on
    the shard id) + per-shard sort — no global sort anywhere."""
    from flink_table_store_spark.datapipe.export import stage_for_export

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    # the REAL staged frame the writer persists, not a re-implementation
    plan = _plan(stage_for_export(docs, 8), mode="simple")
    assert plan.count("Exchange") == 1
    # the sort is partition-local (no range partitioner = no global sort)
    assert "rangepartitioning" not in plan.lower()


def test_c4_clean_is_exchange_free(spark):
    """C4 cleaning is a narrow map: the plan has NO Exchange — line
    filtering runs as a higher-order function over the split array
    inside the scan's codegen stage."""
    from flink_table_store_spark.datapipe.text import c4_clean

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    out = c4_clean(docs.select("doc_id", "text"), min_lines=1)
    plan = _plan(out)
    assert "Exchange" not in plan, plan


def test_sentence_span_dedup_shuffle_shape(spark):
    """Span dedup shuffles only on keyed columns (window key, doc id) —
    no partition-less window, no broadcast of the corpus, no cartesian."""
    from flink_table_store_spark.datapipe.dedup import sentence_span_dedup

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    out = sentence_span_dedup(docs.select("doc_id", "text"))
    plan = _plan(out, mode="simple")
    assert "CartesianProduct" not in plan
    # every SHUFFLE Exchange must be keyed: rangepartitioning (a global
    # sort) or SinglePartition would be the scale regression this test
    # guards. BroadcastExchange lines are fine — Catalyst broadcasts
    # the small DERIVED sides (winner set, covered positions) at this
    # SF, and AQE swaps those for shuffle joins when stats say so; the
    # corpus itself is on the streamed side of every join.
    ex = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    assert ex and all("hashpartitioning" in ln for ln in ex), plan


def test_dsir_score_broadcasts_model(spark):
    """Scoring joins the fitted model via broadcast — the corpus side
    never shuffles for the join."""
    from flink_table_store_spark.datapipe.dsir import fit_dsir, score_dsir

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet")).select(
        "doc_id", "text"
    )
    m = fit_dsir(docs.limit(20), docs, n_buckets=1024)
    plan = _plan(score_dsir(docs, m))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


@pytest.mark.slow
def test_topk_family_gets_window_group_limit(spark):
    """Pin the optimizer behavior every top-k scale claim rests on:
    Spark 3.5+'s InferWindowGroupLimit rewrites
    ``row_number().over(partitionBy(qid).orderBy(...))`` followed by a
    ``rank <= k`` filter into a WindowGroupLimit — a PARTIAL top-k per
    partition before the window shuffle, so per-query candidate sets
    never sort a whole partition's corpus in one task. If a config or
    Spark regression disabled the rule (or a refactor moved the rank
    filter away from the window), these assertions fail — the plans
    would silently degrade to full per-query sorts (VERDICT r10 #1)."""
    from flink_table_store_spark.datapipe.similarity import (
        binary_hamming_topk,
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )

    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    q = emb.limit(3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    plans = {
        "brute": _plan(brute_force_topk(emb, q, k=5)),
        "lsh": _plan(lsh_topk(emb, q, k=5)),
        "ivf": _plan(ivf_topk(emb, q, k=5, n_cells=4)),
        # binary_hamming has TWO ranked passes (hamming candidates,
        # cosine re-rank) — both must group-limit
        "bq": _plan(binary_hamming_topk(emb, q, k=5)),
    }
    for name, plan in plans.items():
        # partial (pre-shuffle) + final WindowGroupLimit per window
        assert plan.count("WindowGroupLimit") >= 2, name
    assert plans["bq"].count("WindowGroupLimit") >= 4
