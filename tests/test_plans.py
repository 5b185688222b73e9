"""Physical-plan quality assertions — the properties that matter at
100 TB, checked on the actual executed plans (SURVEY.md §4)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    """q01's predicates must appear as PushedFilters on the parquet scan
    (decode-then-filter, the reference's pattern, is wrong at scale)."""
    plan = _plan(entrymod.queries()["q01_filter_project"](spark, SF))
    assert "PushedFilters:" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed


def test_scan_prunes_columns(spark):
    plan = _plan(entrymod.queries()["q01_filter_project"](spark, SF))
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    # only the 6 referenced columns, not all 16 of lineitem
    assert "l_orderkey" in rs and "l_comment" not in rs and "l_tax" not in rs


def test_small_dim_join_broadcasts(spark):
    """nation (25 rows) must broadcast — never shuffle the fact side."""
    plan = _plan(entrymod.queries()["q03_join_agg"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_agg_is_two_phase(spark):
    """Partial (map-side) aggregation before the exchange."""
    plan = _plan(entrymod.queries()["q02_groupby_agg"](spark, SF))
    assert "partial_" in plan
    assert plan.index("partial_") > plan.index("HashAggregate")


def test_semi_anti_join_physical(spark):
    assert "LeftSemi" in _plan(entrymod.queries()["q07_semi_join"](spark, SF))
    assert "LeftAnti" in _plan(entrymod.queries()["q08_anti_join"](spark, SF))


def test_topk_uses_limit_not_global_sort(spark):
    """orderBy+limit must compile to TakeOrderedAndProject (per-partition
    top-k + merge), not a full global sort."""
    plan = _plan(entrymod.queries()["q04_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_asof_join_is_single_window_pass(spark):
    """The as-of join must not contain a join operator at all — it is a
    union + window (one sort-shuffle), the scalable shape."""
    plan = _plan(entrymod.queries()["q41_asof_join"](spark, SF))
    assert "Join" not in plan or "BroadcastNestedLoop" not in plan
    assert "Window" in plan
    assert "Union" in plan


def test_whole_stage_codegen_covers_relational_ops(spark):
    df = entrymod.queries()["q02_groupby_agg"](spark, SF)
    df.collect()  # AQE finalizes the plan only on execution
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # '*(n)' node prefixes mark WholeStageCodegen stages in Spark 4
    assert "*(" in plan


def test_similarity_dedup_plans_never_cartesian(spark):
    """Scale-path plan audit: the LSH candidate join shuffles on
    (table, bucket); near_dup_pairs computes intersections only via
    candidate equi-joins; the block-GEMM cosine groups on block pairs.
    None of them may plan a cartesian/nested-loop product."""
    from watermark_detector_spark.functions.similarity import (
        cosine_pairs,
        lsh_candidate_pairs,
    )
    from watermark_detector_spark.operators.dedup import near_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    for df in (
        lsh_candidate_pairs(emb, dim=64, n_planes=4, n_tables=2),
        near_dup_pairs(docs, threshold=0.5),
        cosine_pairs(emb, 0.45, rows_per_block=200),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
    lsh_plan = (
        lsh_candidate_pairs(emb, dim=64, n_planes=4, n_tables=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # equi-join on the bucket key: either a hash shuffle on
    # (_table, _bucket) (big-big at scale) or a broadcast hash join
    # (small side at test scale) — both keyed, never all-pairs
    assert ("hashpartitioning(_table" in lsh_plan
            or "BroadcastHashJoin [_table" in lsh_plan
            or "BroadcastHashJoin" in lsh_plan), lsh_plan


def test_near_dup_confirm_runs_lsh_exactly_once(spark):
    """q45 (near_dup_pairs): the confirm stage references the LSH
    candidate set three times (two semi-cuts + the final join). The
    candidates must be materialized ONCE (persist + eager count, with a
    finalizer-scoped unpersist) so every reference in the executed plan
    is an InMemoryTableScan of the cached candidates — a bare
    re-evaluation of the banded-signature self-join per reference is
    the +33% q45 regression this pin guards against."""
    from watermark_detector_spark.operators.dedup import near_dup_pairs

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = near_dup_pairs(docs, threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 3, plan


def test_dedup_clusters_plan_is_keyed_joins_only(spark):
    """Connected components: every round is keyed equi-joins + a keyed
    agg — no cartesian/nested-loop anywhere, and lineage truncation
    keeps the final plan CONSTANT-size (a localCheckpoint scan) instead
    of growing with iteration count."""
    from watermark_detector_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (5, 6)],
        "id_a long, id_b long")
    # driver_max_edges=0 forces the distributed pointer-jumping path —
    # this test pins ITS plan shape (the small-graph union-find fast
    # path has no plan to pin; its equivalence is tested in
    # test_operators.py)
    out = dedup_clusters(pairs, driver_max_edges=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the returned frame reads the checkpointed final labels — its plan
    # must NOT embed the whole iterative join tree
    assert "ExistingRDD" in plan or "Scan" in plan
    assert plan.count("Join") <= 1, plan


def test_funnel_is_single_sort_single_exchange(spark):
    """q72 funnel: the k cumulative-min window columns share ONE
    partitioning (user_id) and ONE ordering (ts, event_id), so the
    physical plan must contain exactly one window-input Exchange+Sort
    chain plus the final aggregation exchange — a second Sort or a
    third Exchange would mean the chained windows failed to reuse the
    keyed sort (the whole point of the one-pass funnel)."""
    plan = _plan(entrymod.queries()["q72_funnel"](spark, SF))
    n_sorts = plan.count("+- Sort ") + plan.count("+- *Sort ") \
        + sum(1 for ln in plan.splitlines() if ln.strip().startswith("Sort "))
    n_exchange = plan.count("Exchange hashpartitioning")
    assert plan.count("Window") >= 3          # the three chained mins
    assert n_sorts <= 1, plan                 # one keyed sort, reused
    assert n_exchange <= 2, plan              # window input + final agg


def test_adjacent_pattern_is_single_window_pass(spark):
    """q73 (the k=2 sequence_match): one lead() pass — exactly one
    Exchange, one Sort, no join."""
    plan = _plan(entrymod.queries()["q73_adjacent_pattern"](spark, SF))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_sequence_match_is_single_window_pass(spark):
    """q82 (k-step CEP): k-1 lead() columns must share one keyed sort —
    exactly one Exchange, at most one Sort, no join, regardless of k.
    q90 (per-step ALTERNATION) must keep the identical plan shape:
    alternation is isin predicates, never a pattern expansion."""
    for qname in ("q82_sequence_match", "q90_sequence_alternation"):
        plan = _plan(entrymod.queries()[qname](spark, SF))
        assert "Join" not in plan, qname
        assert plan.count("Exchange hashpartitioning") == 1, qname
        n_sorts = sum(1 for ln in plan.splitlines()
                      if ln.strip().lstrip("+-* ").startswith("Sort "))
        assert n_sorts <= 1, (qname, plan)


def test_aqe_skew_join_actually_engages(spark):
    """Evidence the skew path FIRES, not just that configs are set: a
    Zipf-hot join key under tuned AQE skew thresholds must show
    skew=true (OptimizeSkewedJoin split the hot partition) in the
    final adaptive plan. This is the runtime half of the skew story —
    operators/skew.py's salting covers the cases AQE can't see."""
    import pyspark.sql.functions as F

    keys = ["spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold"]
    old = {}
    for k in keys:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "256KB")
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        # force sort-merge: skew splitting applies to SMJ, and at real
        # scale neither side of a hot-domain join fits broadcast anyway
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # 90% of the big side lands on one key — the head-domain shape
        big = (spark.range(300_000)
               .withColumn("k", F.when(F.col("id") % 10 < 9, F.lit(0))
                           .otherwise(F.col("id") % 1000))
               .withColumn("pay", F.md5(F.col("id").cast("string"))))
        dim = (spark.range(1000).withColumn("k", F.col("id"))
               .withColumn("label", F.md5(F.col("id").cast("string"))))
        j = big.join(dim, "k").select("k", "pay", "label")
        # execute THIS dataframe's own plan (count() would build a new
        # one and leave j's AdaptiveSparkPlan unfinalized), then read
        # the final adaptive plan back
        n = len(j.toPandas())
        assert n == 300_000
        plan = _plan(j)
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_semantic_dedup_no_cartesian_one_cell_exchange(spark):
    """q89 (SemDeDup): the all-pairs GEMM must never appear — pairs
    exist only inside a cell, so the plan is one hash Exchange on the
    cell key feeding FlatMapGroupsInPandas, no join, no cartesian."""
    plan = _plan(entrymod.queries()["q89_semantic_dedup"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_kleene_match_one_exchange_no_join(spark):
    """q93 (Kleene B+): RLE as chained windows over one keyed sort, and
    the (key, run) aggregate must REUSE the window's hash partitioning —
    one Exchange total, never a self-join or pattern expansion."""
    plan = _plan(entrymod.queries()["q93_kleene_match"](spark, SF))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bm25_zero_wide_shuffle(spark):
    """q95 (BM25): tf/dl ride the scan as array expressions, stats
    reduce to one broadcast row, top-k is TakeOrderedAndProject — the
    plan must contain NO hash-partitioned Exchange and no Join beyond
    the broadcast nested loop of the single stats row."""
    plan = _plan(entrymod.queries()["q95_bm25_rank"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_sketch_probes_broadcast_corpus_never_shuffles(spark):
    """q119/q120/q121 probe shape pinned (PLANS.md): the d·w-row CMS /
    ≤m-row Bloom bit set BROADCASTS into the probe join, and the probed
    side reaches it with zero hash Exchanges — its only Exchange (where
    one exists at all) is the final per-key fold. The stateless
    bloom_probe_join has NO Exchange anywhere: the corpus rides the
    scan through k broadcast joins, which is what lets it gate a
    stream."""
    from pyspark.sql import functions as F

    from watermark_detector_spark.functions.sketches import (
        bloom_bits,
        bloom_contains,
        bloom_probe_join,
        cms_estimate,
        cms_table,
    )

    corpus = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 50).cast("string").alias("v"))
    keys = spark.range(100).select(F.col("id").cast("string").alias("key"))

    est = cms_estimate(cms_table(corpus, F.col("v"), d=3, w=64),
                       keys, F.col("key"))
    plan = _plan(est)
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan  # min fold

    bits = bloom_bits(corpus, F.col("v"), k=3, m=512)
    plan = _plan(bloom_contains(bits, keys, F.col("key")))
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan  # ==k fold

    plan = _plan(bloom_probe_join(corpus, bits, F.col("v")))
    assert plan.count("BroadcastHashJoin") == 3, plan  # one per hash fn
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_hll_registers_two_phase(spark):
    """q117 (HLL): the register aggregate must be two-phase — map-side
    partial_max per (group, bucket) before ONE hash Exchange. The
    shuffle then carries ≤256 small ints per group per partition, never
    the distinct values themselves."""
    from pyspark.sql import functions as F

    from watermark_detector_spark.functions.sketches import hll_registers

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(hll_registers(docs, ["lang"], F.col("doc_id")))
    assert "partial_max" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
