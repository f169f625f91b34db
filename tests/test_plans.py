"""Physical-plan assertions: the optimizations SURVEY.md §4 relies on
must actually appear in the executed plans (pushdown, pruning,
broadcast strategies, top-K without global sort, no Python in JVM-only
paths)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biosample_enricher_spark.constraints import ConstraintSuite
from biosample_enricher_spark.queries import QUERIES
from biosample_enricher_spark.synth import GenParams, gen_asset_catalog, gen_documents

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def final_plan(df) -> str:
    """Executed (post-AQE) plan: materialize first so isFinalPlan=true
    and codegen stages are visible."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def size_in_bytes(df) -> int:
    """The optimizer's size estimate, the one join selection reads."""
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()


def test_filter_pushdown_and_column_pruning(spark):
    df = QUERIES["s1_scan_filter_project"](spark, SF)
    p = plan(df)
    assert "PushedFilters:" in p and "l_shipdate" in p.split("PushedFilters:")[1][:200]
    # projection pruned to the 5 referenced columns at the scan
    read_schema = p.split("ReadSchema:")[1][:300]
    assert "l_extendedprice" not in read_schema
    assert "l_orderkey" in read_schema


def test_dimension_joins_are_broadcast(spark):
    p = plan(QUERIES["a10_region_rollup"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_referential_is_broadcast_left_anti(spark):
    docs = gen_documents(spark, 200, GenParams(seed=1))
    cat = gen_asset_catalog(spark, GenParams(seed=1))
    suite = ConstraintSuite()
    p = plan(suite.referential_violations(suite.with_partition_id(docs), cat))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_no_stats_build_side_plans_sort_merge_join(spark):
    """The session sets ``preferSortMergeJoin=false``: the static
    planner picks a shuffled hash join when a side's size estimate
    shows it fits a per-partition hash map. A side with no size
    statistics shows nothing, so joined to the corpus it must plan a
    SortMergeJoin. The thresholds are scaled so the test corpus is too
    big to build on, as a real corpus is; a side whose statistics do
    fit still gets the hash join, so the pin is not vacuous."""
    assert spark.conf.get("spark.sql.join.preferSortMergeJoin") == "false"
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "n_chars")
    # an RDD-backed frame has no statistics: its estimate is the
    # spark.sql.defaultSizeInBytes fallback (Long.MaxValue)
    no_stats = spark.createDataFrame(docs.rdd, "doc_id long, n2 long")
    assert size_in_bytes(no_stats) == 2**63 - 1
    corpus = size_in_bytes(docs)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # 8 B a row: corpus/5, under the hash-map bound (threshold × n =
    # corpus/2) and over the broadcast bound (corpus/2n)
    fits = spark.range(corpus // 40).withColumnRenamed("id", "doc_id")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(corpus // (2 * n)))
    try:
        for how in ("inner", "left"):
            p = plan(docs.join(no_stats, "doc_id", how))
            assert "SortMergeJoin" in p and "HashJoin" not in p, how
        assert "ShuffledHashJoin" in plan(docs.join(fits, "doc_id"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_uniqueness_is_one_exchange(spark):
    """The doc_id uniqueness check and its registry twin (a13) are one
    hash aggregation: partial counts map-side, one hash Exchange."""
    docs = gen_documents(spark, 200, GenParams(seed=1))
    suite = ConstraintSuite()
    for df in (
        suite.duplicate_keys(suite.with_partition_id(docs)),
        QUERIES["a13_uniqueness_violations"](spark, SF),
    ):
        p = plan(df)
        assert p.count("Exchange hashpartitioning") == 1
        assert "partial_count" in p


@pytest.mark.parametrize("seeded", [False, True], ids=["fresh", "existing"])
def test_pending_plan_never_scans_the_checkpoint(spark, tmp_path, seeded):
    """The resume frontier is a driver-side literal: the pending plan is
    one docs scan with no join or broadcast, and neither it nor the
    suite built on it reads the checkpoint table."""
    from biosample_enricher_spark.checkpoint import ResumableRun
    from biosample_enricher_spark.constraints import stable_partition_id

    docs_path, cp = str(tmp_path / "docs"), str(tmp_path / "checkpoint_table")
    gen_documents(spark, 300, GenParams(seed=4)).write.parquet(docs_path)
    docs = spark.read.parquet(docs_path)
    cat = gen_asset_catalog(spark, GenParams(seed=4))
    suite = ConstraintSuite(n_buckets=16)
    run = ResumableRun(spark, cp, run_id="plan", suite=suite)
    if seeded:
        done = docs.where(stable_partition_id(F.col("doc_id"), 16) < 5)
        run.run(done, cat)

    pending = run.pending(docs, with_referential=True)
    assert run.partitions_skipped == (5 if seeded else 0)
    p = plan(pending)
    assert p.count("FileScan parquet") == 1 and docs_path in p
    assert "Join" not in p and "BroadcastExchange" not in p
    assert cp not in p

    result = suite.run(pending, cat)
    assert cp not in plan(result.violations)
    assert cp not in plan(result.summary)
    result.unpersist()


def test_global_topn_avoids_full_sort(spark):
    p = plan(QUERIES["o1_global_topn"](spark, SF))
    assert "TakeOrderedAndProject" in p


def test_default_row_plan_uses_arrow_udf(spark):
    """The suite's one row path is the Arrow UDF, with no option to
    select anything else."""
    docs = gen_documents(spark, 200, GenParams(seed=1))
    suite = ConstraintSuite()
    p = plan(suite.row_violations(suite.with_partition_id(docs)))
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p


def test_streaming_row_plan_uses_arrow_udf(spark, tmp_path, capsys):
    """The streaming tier runs the batch suite's row projection."""
    from biosample_enricher_spark.streaming import (
        stream_documents,
        streaming_violations,
    )

    docs_path = str(tmp_path / "docs")
    gen_documents(spark, 200, GenParams(seed=1)).write.parquet(docs_path)
    viol = streaming_violations(stream_documents(spark, docs_path))
    q = (
        viol.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    capsys.readouterr()
    q.explain()
    p = capsys.readouterr().out
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p


def test_udf_path_uses_arrow_not_pickle(spark):
    docs = gen_documents(spark, 200, GenParams(seed=1))
    suite = ConstraintSuite(use_arrow_udf=True)
    p = plan(suite.row_violations(suite.with_partition_id(docs)))
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p


@pytest.mark.parametrize("by_partition", [False, True], ids=["global", "by_partition"])
def test_drift_ks_plan_has_no_python(spark, by_partition):
    """The KS drift tier is window expressions end to end: no grouped
    map, scalar Arrow or pickled Python UDF in its executed plan."""
    from biosample_enricher_spark.operators.drift import (
        drift_check,
        drift_check_by_partition,
    )

    a = gen_documents(spark, 200, GenParams(seed=1))
    b = gen_documents(spark, 200, GenParams(seed=2))
    check = drift_check_by_partition if by_partition else drift_check
    p = final_plan(check(a, b))
    assert "Window" in p
    for op in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert op not in p, op
    # both sides align in one aggregation, never a join
    for op in ("Join", "SortMergeJoin"):
        assert op not in p, op


@pytest.mark.parametrize("by_partition", [False, True], ids=["global", "by_partition"])
def test_drift_reads_each_parquet_side_once(spark, tmp_path, by_partition):
    """Both KS constraints come from one explode per side: the final
    plan scans each parquet side exactly once."""
    from biosample_enricher_spark.operators.drift import (
        drift_check,
        drift_check_by_partition,
    )

    sides = {}
    for name, seed in (("base", 1), ("cur", 2)):
        path = str(tmp_path / name)
        gen_documents(spark, 200, GenParams(seed=seed)).write.parquet(path)
        sides[name] = spark.read.parquet(path)
    check = drift_check_by_partition if by_partition else drift_check
    p = final_plan(check(sides["base"], sides["cur"]))
    scans = [
        line
        for line in p.split("== Initial Plan ==")[0].splitlines()
        if "FileScan parquet" in line
    ]
    for name in sides:
        assert sum(f"{tmp_path / name}]" in line for line in scans) == 1, scans
    assert len(scans) == 2, scans


def test_nested_field_pruning_for_referential(spark, tmp_path):
    """The referential probe must not read span text payloads — only
    kind/media_ref reach the scan after nested-schema pruning."""
    docs_path = str(tmp_path / "docs")
    gen_documents(spark, 300, GenParams(seed=2)).write.parquet(docs_path)
    docs = spark.read.parquet(docs_path)
    cat = gen_asset_catalog(spark, GenParams(seed=2))
    suite = ConstraintSuite()
    p = plan(suite.referential_violations(suite.with_partition_id(docs), cat))
    read_schema = p.split("ReadSchema:")[1][:400]
    assert "media_ref" in read_schema and "kind" in read_schema
    assert "text" not in read_schema


def test_whole_stage_codegen_covers_scan_queries(spark):
    """Codegen stages appear as `*(n)` markers in the final plan; the
    aggregation must also do a map-side partial pass."""
    import re

    p = final_plan(QUERIES["a14_multi_accumulator"](spark, SF))
    assert re.search(r"\*\(\d+\) HashAggregate", p)
    assert "partial_sum" in p  # map-side combine before the shuffle


def test_simhash_signature_path_is_jvm_only(spark):
    """The SimHash bit vote is pure expressions — no Python eval node of
    any kind in the signature projection (VERDICT r1 anti-pattern #1)."""
    from biosample_enricher_spark.operators.dedup import simhash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(docs.select(simhash(F.col("text")).alias("sig")))
    assert "EvalPython" not in p


def test_ivf_probe_scan_is_partition_pruned(spark, tmp_path):
    """ivf_build materializes lists partitioned by centroid_id; the
    probe's filter must reach the scan as PartitionFilters (only
    nprobe/n_centroids directories listed) and its results must equal
    the no-index ivf_topk for the same parameters."""
    from biosample_enricher_spark.operators.similarity import (
        ivf_build,
        ivf_probe,
        ivf_topk,
    )

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    q = emb.where(F.col("vec_id") == 0).first().embedding
    path = str(tmp_path / "ivf_index")
    cents = ivf_build(emb, path, n_centroids=8)
    probe = ivf_probe(spark, path, cents, list(q), k=10, nprobe=3)

    p = plan(probe)
    part_filters = p.split("PartitionFilters:")[1][:200]
    assert "centroid_id" in part_filters

    flat = ivf_topk(emb, list(q), k=10, n_centroids=8, nprobe=3)
    assert [(r.vec_id, r.cos_sim) for r in probe.collect()] == [
        (r.vec_id, r.cos_sim) for r in flat.collect()
    ]


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must SortMergeJoin with NO
    Exchange on either side (the repeated-large-join layout for 100 TB;
    broadcast disabled to prove it's the bucketing, not a small side)."""
    from biosample_enricher_spark.sources.bucketed import (
        read_table,
        write_bucketed,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    enrich = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.length("text").alias("text_len")
    )
    write_bucketed(docs, "b_docs", str(tmp_path / "bucketed_docs"), "doc_id", 8)
    write_bucketed(enrich, "b_enrich", str(tmp_path / "bucketed_enrich"), "doc_id", 8)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = read_table(spark, "b_docs").join(
            read_table(spark, "b_enrich"), "doc_id"
        )
        p = plan(joined)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p
        assert joined.count() == docs.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_schema_inference_is_single_pass(spark):
    """All nested presence counts (struct levels AND array-of-struct
    element levels) must come from ONE wide aggregation: no explode,
    no extra shuffle beyond the single partial/final agg pair."""
    from biosample_enricher_spark.operators.schema_infer import _walk
    from pyspark.sql import functions as F

    docs = gen_documents(spark, 200, GenParams(seed=1))
    contribs = {}
    _walk(docs.schema, lambda lb: lb(lambda name: F.col(name)), "", contribs)
    agg = docs.agg(
        *[
            F.coalesce(F.sum(e), F.lit(0)).alias(f"_c{i}")
            for i, e in enumerate(contribs.values())
        ]
    )
    p = plan(agg)
    assert "Generate" not in p  # no explode
    assert p.count("Exchange") == 1  # partial agg → single merge
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_partition_sketches_partial_aggregate(spark):
    """HLL sketch build must partial-aggregate map-side: the shuffle
    carries sketches, not raw doc ids."""
    from biosample_enricher_spark.operators.stats import (
        partition_distinct_sketches,
    )

    docs = gen_documents(spark, 200, GenParams(seed=1))
    p = plan(partition_distinct_sketches(docs))
    assert "partial_hll_sketch_agg" in p or (
        "HashAggregate" in p and p.count("hll_sketch_agg") >= 2
    )


def test_sessionize_and_asof_windows_are_user_partitioned(spark):
    """The temporal operators' windows must shuffle on user_id — never
    the single-partition global-window anti-pattern."""
    for q in ("w5_sessionize", "j7_asof_join"):
        df = QUERIES[q](spark, SF)
        p = plan(df)
        assert "hashpartitioning(user_id" in p, q


def test_range_join_broadcasts_band_dimension(spark):
    """J8: the tiny band dimension must broadcast; the inequality join
    runs as BroadcastNestedLoopJoin with the fact side never shuffled
    for the join itself."""
    p = plan(QUERIES["j8_range_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_rolling_window_is_user_partitioned(spark):
    """W7's RANGE frame must shuffle on user_id — one hash exchange,
    never a single-partition global window."""
    p = plan(QUERIES["w7_rolling_window"](spark, SF))
    assert "hashpartitioning(user_id" in p
    assert "SinglePartition" not in p.split("Window")[0]


def test_pivot_has_no_discovery_scan(spark):
    """P9 pins its pivot values explicitly, so the plan must scan
    events exactly once — no extra distinct-discovery pass (at 100 TB
    that discovery is a full additional scan+shuffle)."""
    p = plan(QUERIES["p9_pivot"](spark, SF))
    assert p.count("FileScan") == 1


def test_grouping_sets_single_expand_pass(spark):
    """A17 computes three grouping sets in ONE scan via Expand —
    not three unioned aggregations."""
    p = plan(QUERIES["a17_grouping_sets"](spark, SF))
    assert "Expand" in p
    assert p.count("FileScan") == 1


def test_corr_sufficient_stats_is_single_partial_agg_pass(spark):
    """A18's five sums + count must come from one scan with map-side
    partial aggregation (the mergeable-statistics property it exists
    to demonstrate)."""
    p = plan(QUERIES["a18_corr_sufficient_stats"](spark, SF))
    assert p.count("FileScan") == 1
    assert "partial_sum" in p or "partial" in p


def test_zscore_outliers_single_window_shuffle(spark):
    """a23: all three sufficient-stat window aggs (count/sum/sum-sq)
    must ride ONE Window operator over ONE hash Exchange on the group
    key — not one shuffle per statistic. (The only other Exchange is
    the presentation ORDER BY's range partitioning.)"""
    import re

    p = plan(QUERIES["a23_outlier_zscore"](spark, SF))
    assert p.count("Window") == 1
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1


def test_rank_variants_single_window_shuffle(spark):
    """w8: percent_rank, cume_dist and ntile share one window spec →
    one Window operator, one hash Exchange."""
    import re

    p = plan(QUERIES["w8_rank_variants"](spark, SF))
    assert p.count("Window") == 1
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
    for fn in ("percent_rank", "cume_dist", "ntile"):
        assert fn in p


def test_ngram_jaccard_has_no_nested_loop_joins(spark):
    """dedup_ngram_jaccard: every join (prefix candidates, intersection
    count, size lookups) must be hash-based — a CartesianProduct or
    BroadcastNestedLoopJoin here means the inequality self-join
    condition leaked past the equi-join key."""
    p = plan(QUERIES["dedup_ngram_jaccard"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_heavy_hitters_two_pass_shape(spark):
    """a24: pass 1 is exactly one MapInPandas (zero-shuffle MG
    candidates); pass 2 filters through a broadcast LEFT SEMI join
    before the exact count; the only nested-loop join allowed is the
    single-row n_total cross join."""
    p = plan(QUERIES["a24_heavy_hitters"](spark, SF))
    assert p.count("MapInPandas") == 1
    assert "LeftSemi" in p and "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1  # 1-row n_total only


def test_sequence_gaps_intra_window_is_block_partitioned(spark):
    """a26: the per-row gap window must be partitioned by the id block
    (parallel), never a single-partition global window over the data;
    the only unpartitioned window runs on the |blocks|-row aggregate."""
    p = plan(QUERIES["a26_sequence_gaps"](spark, SF))
    assert "windowspecdefinition(_blk" in p
    assert "Exchange hashpartitioning(_blk" in p


def test_exists_subqueries_decorrelate_to_hash_joins(spark):
    """u8: Catalyst must rewrite the correlated EXISTS / NOT EXISTS
    pair to left-semi + left-anti hash joins — no per-row subquery
    execution, no nested-loop join on the correlation key."""
    p = plan(QUERIES["u8_exists_subquery"](spark, SF))
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_reconciliation_preaggregates_before_join(spark):
    """v1: lineitem must collapse to one row per order key (partial
    hash agg) BEFORE joining orders — joining the raw fact table and
    aggregating after would shuffle 4× the rows."""
    p = optimized(QUERIES["v1_order_reconciliation"](spark, SF))
    join_pos = p.find("Join")
    agg_pos = p.find("Aggregate [l_orderkey")
    assert join_pos != -1 and agg_pos != -1
    # optimized plan prints top-down: the per-key aggregate must sit
    # BELOW the join (appear after it in the dump)
    assert agg_pos > join_pos


def test_key_skew_profile_topk_avoids_global_sort(spark):
    """v3: the top-10 heavy keys come from TakeOrdered, and the 1-row
    summary attaches by broadcast — no full sort, no cartesian."""
    p = plan(QUERIES["v3_key_skew_profile"](spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_table_fingerprint_is_pure_scan_reduce(spark):
    """v4: each table reduces in one partial/final aggregate pass —
    no join, no window, no shuffle wider than the 1-row final agg."""
    p = plan(QUERIES["v4_table_fingerprint"](spark, SF))
    assert "Join" not in p
    assert "Window" not in p
    assert "HashAggregate" in p


def test_decontamination_broadcasts_eval_grams(spark):
    """x6: the deduplicated eval n-gram set must broadcast to the
    train-side gram stream — the corpus side never shuffles for the
    containment join."""
    p = plan(QUERIES["x6_decontamination"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_chunk_pack_window_is_block_partitioned(spark):
    """x9: the per-row cumsum window must be partitioned by
    (source, block) — parallel. The offsets join carries no forced
    broadcast hint (its cardinality is id_range/block — unbounded at
    scale), so the broadcast must come from AQE measuring it small:
    assert on the final (post-AQE) plan."""
    p = final_plan(QUERIES["x9_chunk_pack"](spark, SF))
    assert "windowspecdefinition(source" in p and "_blk" in p
    assert "Exchange hashpartitioning(source" in p
    assert "BroadcastHashJoin" in p


def test_span_offsets_is_shuffle_free_per_row(spark):
    """sp1: offset normalization is pure per-row HOF work + a
    Generate (posexplode) — the only exchange in the whole plan is
    the final presentation sort's range partitioning."""
    p = plan(QUERIES["sp1_span_offsets"](spark, SF))
    assert "Generate" in p
    assert "Exchange hashpartitioning" not in p
    assert "Window" not in p and "SortMergeJoin" not in p


def test_bloom_probe_broadcasts_filter_row(spark):
    """v6: the one-row Bloom filter attaches by broadcast (nested-loop
    on a 1-row build side) and the false-positive verify is a
    broadcast left-anti — the fact side is never sort-merge joined."""
    p = plan(QUERIES["v6_bloom_referential"](spark, SF))
    assert "BroadcastNestedLoopJoin" in p
    assert "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_fuzzy_match_blocking_uses_hash_joins_only(spark):
    """er1: the multi-pass blocking must be two hash equi-joins — an
    OR-join would execute as a nested loop over all name pairs."""
    p = plan(QUERIES["er1_fuzzy_name_match"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_funnel_is_joined_aggregates_not_window(spark):
    """fn1: the funnel is chained keyed aggregates + equi-joins —
    never a per-user window/sort over the full event stream."""
    p = plan(QUERIES["fn1_funnel_stages"](spark, SF))
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_cohort_retention_has_no_cartesian(spark):
    """rt1: cohort join-back and the day-0 base attach are keyed hash
    joins; nothing degenerates to a cross product."""
    p = plan(QUERIES["rt1_cohort_retention"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_topk_agg_truncates_before_any_shuffle(spark):
    """a29: stage 1 must be a zero-shuffle mapInPandas truncation —
    exactly one MapInPandas, and exactly one hash exchange in the
    whole plan (the ≤k·P·G survivor frame's window), so the full data
    is never shuffled. The first draft's collect_list form showed why
    this pin matters: its plan had the slice ABOVE the exchange, i.e.
    the entire input crossed the wire inside partial_collect_list
    buffers."""
    p = plan(QUERIES["a29_topk_agg_mergeable"](spark, SF))
    assert p.count("MapInPandas") == 1
    assert p.count("Exchange hashpartitioning") == 1
    assert "Window" in p  # over the bounded survivor frame only


def test_zorder_scan_uses_takeordered(spark):
    """zo1: the first-200-of-the-curve query is a TakeOrdered — no
    global sort; the z key is pure integer expressions (no Python)."""
    p = plan(QUERIES["zo1_zorder_scan"](spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "EvalPython" not in p


def test_salted_join_salts_the_exchange_key(spark):
    """j10: the join must be a shuffled join keyed on (k, _salt_) —
    the salt IS the skew mechanism, so it must appear in the
    hash-partitioning expression; no broadcast (the hint keeps the
    test-scale dim honest about the beyond-broadcast tier)."""
    p = plan(QUERIES["j10_salted_skew_join"](spark, SF))
    assert "_salt_" in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    assert "BroadcastHashJoin" not in p


def test_span_overlap_is_shuffle_free_per_row(spark):
    """sp2: the interval audit is pure per-row HOF work — no hash
    exchange, no window, no join; only the presentation sort's range
    partitioning."""
    p = plan(QUERIES["sp2_span_overlap"](spark, SF))
    assert "Exchange hashpartitioning" not in p
    assert "Window" not in p and "Join" not in p
    assert "EvalPython" not in p


def test_snapshot_diff_prunes_to_key_and_fingerprint(spark):
    """v8: both version scans prune to the fingerprint inputs (key +
    cents + status — never the full orders row), and the diff is one
    keyed join, no cartesian."""
    p = plan(QUERIES["v8_snapshot_diff"](spark, SF))
    read_schemas = [s[:200] for s in p.split("ReadSchema:")[1:]]
    for rs in read_schemas:
        assert "o_orderdate" not in rs and "o_custkey" not in rs
    assert "CartesianProduct" not in p


def test_tfidf_topk_is_bounded_like_a29(spark):
    """x11: the per-lang top-5 must run through the mergeable
    truncation (one MapInPandas) — never a window over the whole
    (lang, term) vocabulary frame."""
    p = plan(QUERIES["x11_tfidf_terms"](spark, SF))
    assert p.count("MapInPandas") == 1
    assert "BroadcastHashJoin" in p  # n_docs-per-lang attach


def test_winsorized_bounds_broadcast_back(spark):
    """a32: the per-group bounds frame (one row per group) attaches by
    broadcast; the clamped rollup is a hash aggregate, and the only
    sort-heavy step is the explicit exact-rank window."""
    p = plan(QUERIES["a32_winsorized_stats"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "HashAggregate" in p
    assert "CartesianProduct" not in p


def test_minmax_scale_has_no_window(spark):
    """x12: the per-group min/max attaches by aggregate + broadcast
    join — a window formulation would sort the corpus; the plan must
    contain no Window operator at all and no Python."""
    p = plan(QUERIES["x12_minmax_scale"](spark, SF))
    assert "Window" not in p
    assert "BroadcastHashJoin" in p
    assert "EvalPython" not in p


def test_orphan_assets_anti_join_after_distinct(spark):
    """v10: the exploded refs dedup BEFORE meeting the catalog, and
    the audit is an anti-join (broadcast at this scale via AQE) —
    never a cartesian."""
    p = plan(QUERIES["v10_orphan_assets"](spark, SF))
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_twa_and_scd2_windows_are_key_partitioned(spark):
    """a33/v9: every window partitions by the grouping key (user /
    custkey) — a global single-partition window over the corpus would
    be the 100-TB anti-pattern."""
    for name, key in (
        ("a33_time_weighted_avg", "user_id"),
        ("v9_scd2_history", "k"),
    ):
        p = plan(QUERIES[name](spark, SF))
        assert "Window" in p
        # every hash exchange carries the key as its LEADING column
        # token ("<key>#<exprId>"), not a substring match — these two
        # plans' only hash exchanges are the window inputs
        frags = p.split("Exchange hashpartitioning(")[1:]
        assert frags, name
        for frag in frags:
            head = frag[:120]
            if "ENSURE_REQUIREMENTS" in head:
                assert head.startswith(f"{key}#"), (name, head)
