"""Physical-plan regression tests for the headline queries: SCALE.md's
claims (pushdown, pruning, broadcast-first joins, top-k without global
sort) asserted against the actual executed plans so a refactor that
silently degrades a plan fails the suite."""

from __future__ import annotations

import re

from mini_hive_server_spark import registry

from .conftest import SF_SMOKE

QS = registry.queries()


def _plan(spark, name: str) -> str:
    """Formatted explain string — the tree .toString() truncates long
    scan attributes (ReadSchema/PushedFilters)."""
    df = QS[name](spark, SF_SMOKE)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _shuffles(plan: str) -> int:
    """Count hash-partition exchanges (the data shuffles) in a FORMATTED
    plan, where the node renders as 'Exchange (n)' with an
    'Arguments: hashpartitioning(...)' detail line — the inline
    'Exchange hashpartitioning' form only appears in simple mode, so
    matching it here silently counted zero. Excluded on purpose:
    presentation range-sorts, and the explicit REPARTITION_BY_NUM/COL
    exchanges `parallelize_scan` inserts only on under-split fixture
    layouts (a no-op at scale) — ENSURE_REQUIREMENTS exchanges are the
    shuffles the plan inherently needs."""
    return len(
        re.findall(r"Arguments: hashpartitioning.*ENSURE_REQUIREMENTS", plan)
    )


def test_q1_pushdown_and_pruning(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters" in plan and "l_shipdate" in plan, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "l_comment" not in m.group(1), "scan reads unused columns"
    assert "partial_sum" in plan or "HashAggregate" in plan


def test_q3_broadcasts_fact_never_shuffled_for_join(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # only the grouped aggregation may shuffle (top-k needs no range exchange)
    assert _shuffles(plan) <= 1, plan


def test_q5_star_join_all_broadcast(spark):
    plan = _plan(spark, "q5_region_volume")
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "SortMergeJoin" not in plan, plan
    assert _shuffles(plan) <= 2, plan  # final agg + output sort


def test_top_workers_is_takeordered(spark):
    plan = _plan(spark, "top_workers")
    assert "TakeOrderedAndProject" in plan, plan
    assert _shuffles(plan) == 0, "top-k must not globally sort"


def test_multimodal_features_map_only(spark):
    """The mapInPandas feature pass must not shuffle the payload — only
    the final presentation sort may exchange."""
    plan = _plan(spark, "multimodal_feature_extract")
    assert _shuffles(plan) == 0, plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan


def test_scd2_scans_dimension_once(spark):
    """The single-pass MERGE shape must scan `customer` exactly once —
    the union-of-branches formulation would scan it per branch."""
    plan = _plan(spark, "mutation_scd2_merge")
    assert plan.count("customer.parquet") == 1, plan
    assert "Generate" in plan, plan


def test_centroids_partial_agg_before_exchange(spark):
    """The 64x posexplode must collapse map-side: the partial aggregate
    runs below the single hash exchange, so the shuffle carries
    labels*dims rows. (Round 8: the mean is computed as integer-quantized
    partial_sum + partial_count instead of partial_avg — the
    boundary-free formulation; the map-side-collapse contract is the
    same.)"""
    plan = _plan(spark, "embedding_label_centroids")
    assert "partial_sum" in plan, plan
    assert _shuffles(plan) <= 1, plan


def test_bigram_topk_no_global_sort(spark):
    """Corpus top-k must be TakeOrderedAndProject over the count agg —
    one required shuffle, no range exchange for a global sort."""
    plan = _plan(spark, "ngram_bigram_top")
    assert "TakeOrderedAndProject" in plan, plan
    assert _shuffles(plan) <= 1, plan


def test_curation_pipeline_shuffle_budget(spark):
    """The composed curation DAG (filter → dedup-survivor window → split →
    stats) must stay within two required shuffles: the fingerprint window
    and the final stats aggregation."""
    plan = _plan(spark, "corpus_curation_pipeline")
    assert _shuffles(plan) <= 2, plan


def test_simhash_pairing_is_equi_join(spark):
    """Chunked-Hamming regression guard: candidate pairing must be the
    (chunk_idx, chunk_value) equi-join, never an all-pairs nested-loop on
    `doc_id < doc_id` — the O(n²) form is a 100 TB scale-killer."""
    plan = _plan(spark, "dedup_simhash")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_embedding_cosine_pairing_is_equi_join(spark):
    """LSH-candidate regression guard: embedding near-dup pairing must be
    the (table, bucket) equi-join + exact-cosine verify — never the
    `vec_id < vec_id` all-pairs broadcast NLJ."""
    plan = _plan(spark, "dedup_embedding_cosine")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_minhash_verification_no_exploded_rejoin(spark):
    """Array-side verification guard: exact Jaccard over LSH candidates
    must come from `array_intersect` on the shingle arrays, never a
    re-join of the corpus-wide exploded (doc_id, shingle) relation — the
    exploded re-join shuffles the whole corpus to score a few hundred
    pairs."""
    plan = _plan(spark, "dedup_minhash_lsh")
    assert "array_intersect" in plan, plan


def test_decontaminate_probe_is_broadcast(spark):
    """The contamination probe must stream the training grams past a
    broadcast of the (benchmark-sized) eval gram set — a shuffle join
    here would shuffle the full corpus's grams at 100 TB."""
    plan = _plan(spark, "decontaminate_ngram")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pii_scrub_map_only(spark):
    """PII scrubbing is a pure map pass: no hash exchanges at all (the
    orderBy presentation sort is a range exchange, excluded by
    _shuffles)."""
    plan = _plan(spark, "text_pii_scrub")
    assert _shuffles(plan) == 0, plan


def test_incremental_dedup_is_anti_join_not_nlj(spark):
    """Ingest dedup must probe the standing corpus with a fingerprint
    (anti) equi-join: batch-side groupBy + one join exchange. An NLJ or
    cartesian here re-scans history per batch row — a scale-killer at a
    100 TB standing corpus."""
    plan = _plan(spark, "ingest_incremental_dedup")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert _shuffles(plan) <= 2, plan


def test_retention_joins_aggregates_not_raw_events(spark):
    """The cohort matrix joins two USER-cardinality aggregates — the raw
    event relation must never self-join (no cartesian, bounded shuffle
    budget: per-user min, distinct activity, join, final groupBy)."""
    plan = _plan(spark, "events_retention_cohorts")
    assert "CartesianProduct" not in plan, plan
    assert _shuffles(plan) <= 4, plan


def test_funnel_stage_filters_reach_the_scan(spark):
    """Each funnel stage filters events by type BEFORE its join; the
    event_type predicate must reach the parquet scan as a pushed filter
    so every stage reads a shrinking slice, not the full event log."""
    plan = _plan(spark, "events_funnel_conversion")
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"PushedFilters:.*event_type", plan), plan


def test_runtime_bloom_filter_prunes_smj_probe_side(spark):
    """Fact-fact joins at 100 TB can't broadcast; Spark's runtime bloom
    filter (on by default) builds a filter from the selective build side
    and applies it to the probe side's scan, cutting shuffle input before
    the SortMergeJoin. Assert the injection actually fires on a
    selective-dimension SMJ so a conf/regression can't silently drop it."""
    from pyspark.sql import functions as F

    from mini_hive_server_spark.catalog import load_tables

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # the sf0.001 test fixture is below the default 10GB application-side
        # threshold; lower it so the injection triggers at test scale
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1KB",
        )
        t = load_tables(spark, SF_SMOKE)
        sel = t["orders"].filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        j = t["lineitem"].join(
            sel, t["lineitem"]["l_orderkey"] == sel["o_orderkey"]
        ).agg(F.sum("l_quantity"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "BloomFilterMightContain" in plan or "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_shingle_pipeline_not_duplicated_scan_side(spark):
    """explode_outer regression guard: the shingle transform must appear
    in projection nodes only — a scan-side Filter containing the
    transform means the implicit explode filter got pushed down and the
    whole pipeline re-runs at scan parallelism."""
    plan = _plan(spark, "dedup_ngram_jaccard")
    for section in plan.split("\n\n"):
        if section.startswith("(") and ") Filter" in section.split("\n")[0]:
            assert "array_distinct(transform(" not in section, section


def test_attribution_skew_join_splits_hot_key(spark):
    """End-to-end AQE skew-join demonstration on the attribution shape:
    plant a hot user (distinct replicas — identical rows compress away in
    shuffle stats and dodge detection), run the click→purchase fact-fact
    join under lowered skew thresholds (the fixture is KBs; production
    defaults are 256MB), and assert the executed SortMergeJoin carries
    skew=true — i.e. AQE actually split the oversized partition. Guards
    the skew-split path the events_click_attribution docstring promises
    at 100 TB."""
    from pyspark.sql import functions as F

    from mini_hive_server_spark.catalog import load_tables

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
        ev = load_tables(spark, SF_SMOKE)["events"]
        hot = (
            ev.filter(F.col("user_id") == 0)
            .withColumn("r", F.explode(F.sequence(F.lit(1), F.lit(500))))
            .withColumn("ts", F.col("ts") + F.make_interval(secs=F.col("r")))
            .drop("r")
        )
        skewed = ev.unionByName(hot).repartition(8)
        clicks = skewed.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("cts")
        )
        purchases = skewed.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user_id"), F.col("ts").alias("pts")
        )
        out = (
            clicks.join(
                purchases,
                (F.col("p_user_id") == F.col("user_id"))
                & (F.col("pts") >= F.col("cts"))
                & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
            )
            .agg(F.count(F.lit(1)).alias("n_pairs"))
        )
        assert out.collect()[0]["n_pairs"] > 0
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_attribution_groupby_shape_declines_skew_split(spark):
    """The round-13 counterpart of the test above, pinning the MEASURED
    decline (SCALE.md round 13): when the same skewed join feeds a
    groupBy ON THE JOIN KEY, the SMJ's output partitioning satisfies the
    aggregation's required distribution and AQE refuses the skew split —
    `skew=true` must NOT appear even under thresholds that make the
    global-count twin split. With `forceOptimizeSkewedJoin=true` the
    split fires on the identical query. Together the pair proves the
    skew defense a pipeline relies on is SHAPE-dependent — the reason
    `join_salted_skew`'s portable manual rewrite exists."""
    from pyspark.sql import functions as F

    from mini_hive_server_spark.catalog import load_tables

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.forceOptimizeSkewedJoin",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
        ev = load_tables(spark, SF_SMOKE)["events"]
        hot = (
            ev.filter(F.col("user_id") == 0)
            .withColumn("r", F.explode(F.sequence(F.lit(1), F.lit(500))))
            .withColumn("ts", F.col("ts") + F.make_interval(secs=F.col("r")))
            .drop("r")
        )
        skewed = ev.unionByName(hot).repartition(8)
        clicks = skewed.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("cts")
        )
        purchases = skewed.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user_id"), F.col("ts").alias("pts")
        )

        def attributed():
            # groupBy on the JOIN KEY — the production attribution shape
            return (
                clicks.join(
                    purchases,
                    (F.col("p_user_id") == F.col("user_id"))
                    & (F.col("pts") >= F.col("cts"))
                    & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
                )
                .groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n_attributed"))
            )

        for force, expect_split in (("false", False), ("true", True)):
            spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", force)
            out = attributed()  # fresh Dataset per conf (QueryExecution caches)
            # collect() THIS Dataset — .count() would execute a derived
            # plan and leave out's own QueryExecution un-finalized
            # (isFinalPlan=false, skew markers never materialize)
            assert len(out.collect()) > 0
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert ("skew=true" in plan) == expect_split, (force, plan)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _broadcast_hint_subtrees(df) -> list[str]:
    """Stringified child subtree of every ResolvedHint in the analyzed
    logical plan (indentation-sliced)."""
    plan = df._jdf.queryExecution().analyzed().toString()
    lines = plan.split("\n")
    out = []
    for i, ln in enumerate(lines):
        if "ResolvedHint" in ln:
            depth = max(ln.find("+-"), ln.find(":-"))
            sub = []
            for nxt in lines[i + 1 :]:
                d2 = max(nxt.find("+-"), nxt.find(":-"))
                if d2 <= depth and ("+-" in nxt or ":-" in nxt):
                    break
                sub.append(nxt)
            out.append("\n".join(sub))
    return out


def test_no_static_broadcast_hints_on_sf_proportional_sides(spark):
    """Broadcast-policy regression guard (SCALE.md): static broadcast()
    hints may cover ONLY SF-invariant relations — region/nation — never
    customer/supplier/part/orders/lineitem sides, whose pinned broadcast
    would OOM at 100x while AQE handles them adaptively. q3 carries no
    hint at all; q5's two hints must sit on nation/region subtrees only;
    q7-q21 spot-checked via the same invariant."""
    forbidden = ("customer", "supplier", "part.parquet", "orders", "lineitem")
    for name in (
        "q3_shipping_priority",
        "q5_region_volume",
        "q7_nation_volume",
        "q8_market_share",
        "q9_product_profit",
        "q10_returned_items",
        "q14_promo_revenue",
        "q16_supplier_cnt",
        "q17_small_quantity",
        "q19_disjunctive_revenue",
        "q20_promo_suppliers",
        "q21_waiting_supplier",
    ):
        df = QS[name](spark, SF_SMOKE)
        for sub in _broadcast_hint_subtrees(df):
            hits = [w for w in forbidden if w in sub]
            assert not hits, f"{name}: static broadcast hint covers {hits}:\n{sub}"


def test_gopher_rules_map_only(spark):
    """The Gopher rule pass computes every per-doc metric (including the
    unigram mode) as array expressions over the document's own words —
    no explode, no (doc, word) exchange: only the per-source census may
    shuffle."""
    plan = _plan(spark, "text_gopher_quality")
    assert "Generate" not in plan, plan  # explode would appear as Generate
    assert _shuffles(plan) <= 1, plan


def test_semdedup_pairing_stays_within_cluster(spark):
    """SemDeDup guard: the pairwise stage must be the label (cluster)
    equi-join — the quadratic is contained inside clusters, never an
    all-pairs NLJ or cartesian across the corpus."""
    plan = _plan(spark, "dedup_semantic_clusters")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_outliers_window_single_pass(spark):
    """Per-user standardization must come from one window over user_id
    (both moments in a single exchange), not a groupBy + join-back —
    the plan carries no join at all."""
    plan = _plan(spark, "events_value_outliers")
    assert "Join" not in plan, plan
    assert _shuffles(plan) <= 2, plan  # user_id window + event_type agg


def test_filtered_topk_prefilters_before_distance(spark):
    """Filtered vector search guard: the attribute predicate must reach
    the documents scan (PushedFilters) and restrict the vector relation
    via a LEFT SEMI join BEFORE any distance work — only keys cross that
    join, never embeddings."""
    df = QS["similarity_filtered_topk"](spark, SF_SMOKE)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    assert "LeftSemi" in plan, plan
    assert "n_chars" in plan and "PushedFilters" in plan, plan


def test_quality_report_single_scan(spark):
    """The composite dashboard's whole point: three screens, ONE read of
    the corpus — the plan must contain exactly one parquet scan of
    documents."""
    plan = _plan(spark, "text_quality_report")
    # formatted mode prints each node once in the tree and once in the
    # detail listing — count the numbered detail headers
    assert plan.count(") Scan parquet") == 1, plan


def test_span_dedup_flag_join_is_equi_join(spark):
    """Substring-span dedup guard: the repeated-window flag-back must be
    a window-hash equi-join (duplicate-volume-proportional build side) —
    never an all-pairs form, and never a re-explode of the corpus per
    candidate. Only 16-byte hashes may shuffle, not the W-token text."""
    plan = _plan(spark, "text_span_dedup")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cdc_merge_single_key_exchange(spark):
    """CDC compaction guard: rank selection and the per-key change count
    must share ONE hash exchange on the merge key (same partitioning →
    Catalyst fuses the two Window nodes behind a single shuffle). A
    second key exchange here doubles the dominant cost of every
    CDC-apply at 100 TB."""
    plan = _plan(spark, "ingest_cdc_merge")
    assert _shuffles(plan) == 1, plan


def test_cms_probe_broadcasts_the_sketch(spark):
    """The CMS candidate probe must broadcast the sketch (d*w cells,
    size-bounded by construction at ANY scale factor — the one static
    -hint case SCALE.md's policy allows). A shuffle join here would
    exchange the candidate relation against 4096 rows."""
    plan = _plan(spark, "sketch_cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan, plan


def test_pq_adc_no_cartesian(spark):
    """PQ guard: since the round-10 rework the ADC scan is JOIN-FREE —
    the query LUTs ride the scoring kernel's task closure and every code
    row emits thin (nid, qid, score) rows via posexplode (the old
    broadcast-LUT-column join materialized 16 KB of LUT into every
    scored row). The re-rank joins winner ids by equi-key. No cartesian,
    and no nested-loop join of any kind, anywhere in the plan."""
    plan = _plan(spark, "similarity_pq_adc")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pq_adc_kernel_evaluated_exactly_once(spark):
    """Round-11 regression pin: plain posexplode (outer=false) over the
    fused encode+ADC kernel's output let Catalyst infer `size(scores)>0`
    and push it BELOW the repartition exchange — a second, serial
    ArrowEvalPython evaluation of the whole kernel just to decide the
    filter (2x kernel cost at every scale; 1.4s vs 0.5s at sf0.1). The
    posexplode_outer form must leave exactly ONE ArrowEvalPython node in
    the scored relation's plan."""
    from mini_hive_server_spark.operators.similarity import _pq_scored

    _, _, scored = _pq_scored(spark, SF_SMOKE)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_codebook_training_collect_reads_the_scan_map_side(spark, monkeypatch):
    """The PQ codebook's and the IVF cells' training sample is an
    ordered limit over the embeddings scan itself: one map-side
    TakeOrderedAndProject job. Over `parallelize_scan` the same rows
    would cost a corpus shuffle and a second job first."""
    from mini_hive_server_spark.operators.similarity import _ivf_ann, _pq_scored

    plans = []
    frame = type(spark.range(1))
    collect = frame.collect

    def spy(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return collect(df)

    monkeypatch.setattr(frame, "collect", spy)
    _pq_scored(spark, SF_SMOKE)
    _ivf_ann(spark, SF_SMOKE, nprobe=1)
    assert len(plans) == 2, plans
    for plan in plans:
        assert "TakeOrderedAndProject" in plan and "FileScan" in plan, plan
        assert "Exchange" not in plan, plan


def test_asof_forward_is_window_not_range_join(spark):
    """Forward as-of guard: the next-error carry must be one window pass
    per user partition (a single key exchange) — never a time-range
    self-join, whose candidate set is quadratic in per-user activity."""
    plan = _plan(spark, "events_asof_next_error")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert _shuffles(plan) <= 1, plan


def test_runtime_bloom_filter_injection(spark):
    """Catalyst's InjectRuntimeFilter (Spark 3.3+) builds a bloom filter
    from a SELECTIVE dim side and pushes might_contain() into the fact
    scan of a shuffle join — the engine-native answer to 'bloom-prune the
    probe side' (a hand-rolled bloom semi-join would fight the optimizer;
    the 100 TB design is to let it fire). Default size thresholds
    (creation side >= 10 MB app side) are tuned for clusters, so the
    fixture can't trigger it naturally; this test scopes the thresholds
    down to prove the rule fires on our join shapes, then restores every
    conf — the session is shared."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        # force a shuffle join: runtime filters only help non-broadcast joins
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        from mini_hive_server_spark.catalog import load_tables

        t = load_tables(spark, SF_SMOKE)
        selective_dim = t["orders"].filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            t["lineitem"]
            .join(selective_dim, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        phys = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in phys.lower(), (
            "runtime bloom filter not injected:\n" + phys[:2000]
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _plan_simple(spark, name: str) -> str:
    df = QS[name](spark, SF_SMOKE)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_distributed_ntile_family_no_global_sort(spark):
    """The repaired ntile/rank family (ranking.global_ntile /
    global_row_number): no `Exchange SinglePartition` may feed a Sort or
    Window anywhere in the plan — the customer/user-cardinality relation
    ranks via range partitioning + broadcast prefix-sum offsets. The
    only SinglePartition exchanges allowed are bounded aggregates (the
    P-row offsets fold, grand totals) and, for customer_ltv_pareto, the
    10-decile-row cumulative-share window."""
    from .test_plan_audit import _single_partition_sorted

    for name in (
        "customers_rfm_segments",
        "events_engagement_tiers",
        "orders_gini_coefficient",
        "events_user_activity_zipf",
    ):
        plan = _plan_simple(spark, name)
        assert not _single_partition_sorted(plan), f"{name}:\n{plan}"
        # and the distributed machinery is actually present: a range
        # exchange on the ranking keys (zipf instead plans a distributed
        # TakeOrderedAndProject top-k before its bounded 100-row window)
        if name == "events_user_activity_zipf":
            assert "TakeOrderedAndProject" in plan, plan
        else:
            assert "rangepartitioning" in plan, plan


def test_rfm_ranks_via_broadcast_offsets(spark):
    """All three RFM quintiles join their prefix-sum offsets broadcast
    (map-side), never shuffled."""
    plan = _plan(spark, "customers_rfm_segments")
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_sql_udf_inlines_into_codegen(spark):
    """SQL UDFs must inline at analysis time: the executed plan of
    `sql_scalar_udf` carries the expanded arithmetic with NO Python
    evaluation operator and NO extra exchange beyond the one
    partial-agg'd groupBy — the zero-cost-UDF claim in its docstring."""
    plan = _plan(spark, "sql_scalar_udf")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "FLOOR" in plan.upper(), plan  # charged_cents body inlined
    # the aggregate is partial-agg'd (map-side combine before the one
    # group-key exchange) — the shape a Python UDAF could not produce
    assert "partial_count" in plan or "partial" in plan, plan


def test_pipe_syntax_plan_equals_classic_sql(spark):
    """The |> pipeline must compile to the same partial-agg shape as the
    classic spelling: one hashpartitioning exchange on the group key,
    filter pushed to the scan."""
    plan = _plan_simple(spark, "sql_pipe_syntax")
    assert "HashAggregate" in plan and "Exchange hashpartitioning" in plan
    assert "CartesianProduct" not in plan


def test_dsir_ratio_join_broadcasts_the_lm(spark):
    """`corpus_dsir_selection`'s scoring join must broadcast the 256-row
    log-ratio relation against the per-doc bucket counts (a shuffle join
    there would key-exchange the whole corpus for a model table that fits
    in one packet), and the top-K must be TakeOrderedAndProject, never a
    global sort."""
    plan = _plan(spark, "corpus_dsir_selection")
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_temperature_mixture_window_is_partitioned_and_quota_broadcast(spark):
    """`corpus_temperature_mixture`: the per-source ranking window must
    partition by source (a global row_number would single-partition the
    corpus), and the 20-row quota relation must broadcast."""
    plan = _plan(spark, "corpus_temperature_mixture")
    assert "BroadcastHashJoin" in plan, plan
    assert re.search(r"row_number", plan), plan
    # no single-partition exchange may feed the ranking window
    assert not re.search(
        r"Exchange SinglePartition[\s\S]{0,400}Window", plan
    ), plan


def test_multimodal_executed_kernels_are_two_map_stages(spark):
    """The decode-path scale contract (SCALE.md sprint F): synthesize and
    decode are TWO chained MapInPandas stages and the payload relation
    never hash-shuffles — the pHash dedup is allowed exactly one hash
    exchange (the 37-key cluster agg, AFTER payload projection), the
    thumbnail and audio-segment queries none (their only exchange is the
    presentation range sort). The pHash dedup gets two: exact
    countDistinct(pixel_sum) is a two-phase distinct aggregate —
    partition by (cluster key, pixel_sum), then by cluster key — both
    keyed on the small post-projection rows."""
    for name, max_hash_shuffles in (
        ("multimodal_bmp_decode", 0),
        ("multimodal_wav_decode", 0),
        ("multimodal_phash_dedup", 2),
        ("multimodal_bmp_thumbnail", 0),
        ("multimodal_audio_segments", 0),
        # round 8: channel stats reduce to ONE grand aggregate — its
        # single-partition exchange moves 8-number partial rows, so zero
        # hash exchanges touch anything payload- or corpus-sized
        ("multimodal_channel_stats", 0),
    ):
        plan = _plan(spark, name)
        assert plan.count("MapInPandas") >= 2, (name, plan)
        assert _shuffles(plan) <= max_hash_shuffles, (name, plan)
        assert "CartesianProduct" not in plan, name


def test_did_is_broadcast_join_plus_grand_aggregate(spark):
    """`orders_promo_lift_did` (round 8): the 2x2 cell matrix must come
    out of ONE grand aggregate over a broadcast orders→customer join —
    zero hash exchanges (the only exchange is the single-partition
    gather of 8-number partial rows), no cartesian."""
    plan = _plan(spark, "orders_promo_lift_did")
    assert "BroadcastHashJoin" in plan, plan
    assert _shuffles(plan) == 0, plan
    assert "CartesianProduct" not in plan, plan


def test_textrank_is_takeordered_no_global_window(spark):
    """`text_textrank_keywords` (round 8): the top-15 must be
    TakeOrderedAndProject (never a global sort), the plan carries no
    Window at all (adjacency comes from array self-zip, not lag), and
    no cartesian leaks from the iteration joins."""
    plan = _plan(spark, "text_textrank_keywords")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_minhash_fidelity_broadcasts_pair_list(spark):
    """`dedup_minhash_fidelity` (round 8): the bounded verified-pair
    list must BROADCAST onto the signature relation (corpus-sized sides
    never shuffle for the report joins)."""
    plan = _plan(spark, "dedup_minhash_fidelity")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_blocklist_screen_is_one_scan_no_join(spark):
    """The P-pattern fan-out must be a map-side posexplode (Generate),
    never a pattern-relation join: one documents scan, zero Join nodes,
    one hash exchange (the pattern aggregate)."""
    plan = _plan(spark, "text_blocklist_screen")
    assert plan.count(") Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "Generate" in plan, plan
    assert _shuffles(plan) <= 1, plan


def test_woe_iv_pushes_returnflag_to_lineitem_scan(spark):
    """The label build must reach the lineitem scan as a pushed filter
    (only 'R' rows leave the parquet reader) and arrive at the join as a
    distinct key set — no BNLJ, no cartesian."""
    plan = _plan(spark, "orders_woe_iv_binning")
    assert "PushedFilters" in plan and "l_returnflag" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_http_facade_routes_run_no_python(spark):
    """SCALE.md "Reference-scope queries: zero Python UDFs", with no
    exception: no query the HTTP facade serves (every GET and POST route
    and GET /tasks/<oid>) plans a Python-evaluating operator, so a
    process that only serves the facade never forks a Python worker."""
    from mini_hive_server_spark import http_server, persistence

    python_nodes = (
        "FlatMapGroupsInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
        "MapInPandas",
        "MapInArrow",
    )
    names = {
        *http_server.ROUTES.values(),
        *http_server.POST_ROUTES.values(),
        http_server._TASK_DETAIL_QUERY,
    }
    assert len(names) == 23, names
    for name in sorted(names):
        with persistence.scope(keep=False):
            df = QS[name](spark, SF_SMOKE)
            plan = df._jdf.queryExecution().executedPlan().toString()
        found = [n for n in python_nodes if n in plan]
        assert not found, f"{name} plans {found}:\n{plan}"


def _plan_leaves(plan) -> list[str]:
    """Leaf node names of a logical plan, subquery plans included; a
    cached relation is a leaf (its cached plan is not a child)."""
    kids = [plan.children(), plan.subqueries()]
    nodes = [seq.apply(i) for seq in kids for i in range(seq.size())]
    if not nodes:
        return [plan.nodeName()]
    return [leaf for node in nodes for leaf in _plan_leaves(node)]


def _reference_only_routes() -> list[str]:
    """The 21 facade queries that read only the held reference copies:
    every GET and POST route and GET /tasks/<oid>, less the two that
    read the TPC-H fixtures."""
    from mini_hive_server_spark import http_server

    names = sorted(
        {
            *http_server.ROUTES.values(),
            *http_server.POST_ROUTES.values(),
            http_server._TASK_DETAIL_QUERY,
        }
        - {"buyer_home_dashboard", "worker_home_stats"}
    )
    assert len(names) == 21, names
    return names


def test_http_facade_requests_do_not_resynthesize_input(spark):
    """Every facade query over the reference collections reads the
    session's held copies (fixtures.reference_table): after one collect,
    its cached-data plan has an InMemoryRelation and no `range` leaf
    outside one. A second and third collect of the same query run the
    same number of jobs, so nothing is replayed."""
    from mini_hive_server_spark import http_server, persistence

    for name in _reference_only_routes():
        with persistence.scope(keep=False):
            df = QS[name](spark, SF_SMOKE)
            df.collect()
            leaves = _plan_leaves(df._jdf.queryExecution().withCachedData())
        assert "InMemoryRelation" in leaves, (name, leaves)
        assert "Range" not in leaves, (name, leaves)

    sc = spark.sparkContext
    jobs = []
    for rep in range(2):
        group = f"facade-replay-{rep}"
        sc.setJobGroup(group, group)
        try:
            with persistence.scope(keep=False):
                QS[http_server.ROUTES["/api/buyer/pending-submissions"]](
                    spark, SF_SMOKE
                ).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[0] == jobs[1] > 0, jobs


def _final_plan_nodes(plan) -> list[str]:
    """Class names of every node of an executed physical plan: the final
    plan of each adaptive plan and query stage, reused exchanges and
    subquery plans included; a cached relation's own plan is not
    entered (its scan is a leaf)."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [plan.plan()]
    elif name == "ReusedExchangeExec":
        kids = [plan.child()]
    else:
        seqs = [plan.children(), plan.subqueries()]
        kids = [seq.apply(i) for seq in seqs for i in range(seq.size())]
    return [name, *(n for kid in kids for n in _final_plan_nodes(kid))]


def test_held_reference_copies_are_one_partition(spark):
    """SCALE.md "Held reference copies in one partition": each held
    copy (fixtures.reference_table) is one partition, and its executed
    plan reports SinglePartition, which satisfies every distribution an
    aggregate, sort or window asks for."""
    from mini_hive_server_spark import fixtures

    for table in fixtures.REF_TABLE_NAMES:
        held = fixtures.reference_table(spark, table)
        assert held.rdd.getNumPartitions() == 1, table
        part = held._jdf.queryExecution().executedPlan().outputPartitioning()
        assert part.toString() == "SinglePartition", (table, part.toString())


def test_reference_routes_plan_no_shuffle(spark):
    """Every facade route over the held copies alone (all but the two
    that read the TPC-H fixtures) runs without a shuffle: after one
    collect, its final adaptive plan has no shuffle exchange; broadcast
    exchanges are allowed."""
    from mini_hive_server_spark import persistence

    shuffled = {}
    for name in _reference_only_routes():
        with persistence.scope(keep=False):
            df = QS[name](spark, SF_SMOKE)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan()
            if "ShuffleExchangeExec" in _final_plan_nodes(plan):
                shuffled[name] = plan.toString()
    assert not shuffled, shuffled
