"""Registry-wide physical-plan audit: no accidental quadratic plan can
register. Every non-streaming query's formatted plan is checked for

* CartesianProduct — forbidden everywhere (a cartesian over anything
  SF-proportional is the canonical 100 TB scale-killer; even the
  deliberate quadratic truth tier `dedup_ngram_jaccard` pairs via an
  equi-join on a crossed key relation, not a physical cartesian);
* BroadcastNestedLoopJoin — allowed ONLY where the build side is
  size-bounded BY CONSTRUCTION at any scale factor: 1-row aggregate
  totals crossed back for ratios (mixture weights, TF-IDF corpus size,
  funnel/dashboard denominators, CMS stream total, compaction target),
  fixed query sets joined under inequality/always-true conditions (the
  retrieval tiers' 5 queries, range-join tier bounds), or scalar
  -subquery analogs (q11/q22 thresholds). Anything else — a new query
  that lets an SF-proportional relation reach an NLJ — fails here
  before it ships.
* Exchange SinglePartition feeding a Sort or Window — the global-sort
  shape (`Window.orderBy` with no partitionBy) that pulls EVERY row of
  the windowed relation through one partition. Allowed ONLY where the
  windowed relation is size-bounded BY CONSTRUCTION at any scale
  factor: calendar-bounded series (months/days of the fixture's time
  span), post-limit survivors (top-k already taken by a distributed
  TakeOrderedAndProject), or metadata-cardinality rows (file groups).
  SF-proportional relations (events, orders, users, customers, docs)
  must instead use `operators/ranking.py`'s range-partitioned exact
  rank/ntile — same numbers, no single-partition exchange.

The per-query plan tests in test_plans.py pin STRONGER shapes for the
heavy tiers (equi-join pairing, shuffle budgets, broadcast direction);
this audit is the registry-wide floor.
"""

from __future__ import annotations

from mini_hive_server_spark import registry

from .conftest import SF_SMOKE

# BNLJ with a provably size-bounded build side (see module docstring)
_BNLJ_BOUNDED = {
    "buyer_home_dashboard",
    "ref_buyer_stats",  # two single-tenant 1-row aggregates crossed
    "constraint_referential_audit",  # total x distinct: two 1-row aggregates
    "customer_ltv_pareto",  # 10 decile rows x 1-row grand total
    "events_dau_stickiness",  # broadcast day spine (calendar-bounded) range join
    "events_conversion_hazard",  # day-offset histogram x 1-row signup total
    "events_changepoint_cusum",  # day series x 1-row peak x 1-row count
    "graph_triangle_count",  # summary row: four 1-row aggregates crossed
    "graph_kcore_decomposition",  # summary row: three 1-row core aggregates crossed
    "embedding_kmeans_2iter",  # k=4 broadcast centroid rows x vectors
    "events_abtest_ttest",  # two 1-row arm aggregates crossed
    "events_abtest_power",  # two 1-row arm aggregates crossed
    "set_ops_all_variants",  # three 1-row counts crossed
    "orders_backlog_monthly",  # broadcast month spine (calendar-bounded) interval join
    "customers_churn_census",  # 1-row horizon aggregate crossed
    "orders_value_histogram",  # bucket rows x 1-row total
    "text_heaps_law",  # broadcast 10-row boundary grid range join
    "events_abtest_cuped",  # 1-row bounds + 1-row theta crossed
    "orders_benford_audit",  # 9 digit rows x 1-row total
    "events_anova_oneway",  # k group rows x 1-row total
    "orders_repeat_purchase_curve",  # broadcast 10-row threshold grid
    "orders_value_quartiles_cutpoint",  # 1-row quartile cut-points crossed
    "orders_winsorized_stats",  # 1-row p01/p99 cut-points crossed
    "events_key_skew_report",  # bucket rows x 1-row skew summary
    "retrieval_rrf_hybrid",  # 1-row corpus stats + 1-row query vector crossed
    "join_salted_skew",  # per-key counts x 1-row mean (heavy-hitter census)
    "join_salted_skew_planted",  # same census inside _salted_attribution
    "retrieval_mmr_diverse",  # 1-row query vector crossed; pool bounded at 64
    "orders_sen_trend",  # month-series self-pairing (calendar-bounded) + 1-row count
    "events_abtest_ks",  # CDF rows x 1-row arm totals crossed
    "events_proportion_ztest",  # two 1-row cohort aggregates crossed
    "events_bh_fdr_control",  # 1-row grand moments + 1-row step-up cut crossed
    "events_eb_shrunk_means",  # 1-row grand/v_bar + 1-row tau2 crossed
    "events_chisq_independence",  # R x C cell grid x 1-row total crossed
    "customers_kaplan_meier",  # 1-row horizon + 1-row at-risk total crossed
    "text_pmi_collocations",  # 1-row corpus-token total crossed
    "orders_abc_analysis",  # 1-row grand revenue total crossed
    "orders_value_psi",  # bounded log-bin rows x 1-row totals crossed
    "orders_woe_iv_binning",  # bounded log-bin rows x 1-row class totals crossed
    "privacy_t_closeness",  # 4 band rows + 1-row total crossed with bounded classes
    "embedding_pca_power",  # d^2 covariance cells x 1-row n/scale/max crossed
    "lineitem_weighted_median",  # 1-row grand weight crossed

    "customers_rfm_segments",
    "dashboard_multi_metric",
    "embedding_mrl_truncation",
    "events_engagement_tiers",
    "events_funnel_conversion",
    "events_gapfill_hourly",
    "graph_pagerank_3iter",
    "graph_pagerank_golden",  # 1-row residual verdict crossed back
    "tokenizer_bpe_merges",  # per-round 1-row argmax (limit 1) crossed back
    "tokenizer_bpe_apply",  # same chain: 1-row argmax per merge round
    "orders_target_encoding_oof",  # 1-row grand-total crossed back
    "events_walkforward_split",  # calendar-bounded day-count inequality join
    "customers_negative_sampling",  # 1-row catalog-size + census crossed
    "orders_mix_rate_decomposition",  # two 1-row year totals crossed
    "corpus_dsir_selection",  # two 1-row LM totals crossed (256-row ratio join is BHJ)
    "corpus_dsir_gumbel_resample",  # same shared scoring core as dsir_selection
    "corpus_temperature_mixture",  # 1-row grand fixed-point weight total crossed
    "source_dsir_ablation",  # source-cardinality agg x 1-row grand total crossed
    "mutation_cascade_delete",
    "q11_value_concentration",
    "q22_idle_capital",
    "range_join_value_tiers",
    "ref_admin_platform_stats",
    "ref_admin_stats",  # two 1-row grand aggregates crossed (the
    # /admin/stats twin of ref_admin_platform_stats, round 9)
    "similarity_cosine_topk",
    "similarity_filtered_topk",
    "similarity_hard_negatives",
    "similarity_pq_adc",
    "sketch_cms_heavy_hitters",
    "sketch_hll_intersection",
    "sketch_hll_mergeable",
    "orders_market_basket",
    "source_compaction_planner",
    "source_lang_kl_divergence",
    "source_mixture_temperature",
    "source_mixture_weights",
    "text_bigram_lm_xent",
    "text_bm25_topk",
    "text_perplexity_buckets",
    "text_tfidf_top_terms",
    "worker_home_stats",
}


# Single-partition Sort/Window over a size-bounded-BY-CONSTRUCTION
# relation (see module docstring). Anything unlisted fails the audit.
_SINGLE_PARTITION_BOUNDED = {
    "orders_seasonal_decompose",  # month-cardinality series (calendar-bounded)
    "events_changepoint_cusum",  # day-cardinality series (calendar-bounded)
    "events_conversion_hazard",  # day-offset histogram (calendar-bounded)
    "orders_yoy_growth",  # month-cardinality lag series (calendar-bounded)
    "customer_ltv_pareto",  # cum-share window over exactly 10 decile rows
    "events_autocorr_daily",  # day-cardinality series (calendar-bounded)
    "source_compaction_planner",  # file-group rows (metadata-cardinality)
    "events_bh_fdr_control",  # hypothesis family = event-type arity (schema-bounded)
    "customers_kaplan_meier",  # lifetime-month axis (calendar-bounded)
    "events_moving_median_7d",  # day-cardinality series (calendar-bounded)
}

_NODE_HEAD = ("Sort [", "Window [", "WindowGroupLimit [")

# Narrow, partitioning-preserving nodes a single-partition exchange may
# flow through on its way to a Sort/Window: walking must not stop here.
_TRANSPARENT_HEAD = ("Project [", "Filter ", "ColumnarToRow", "InputAdapter")


def _tree_depth(line: str) -> int:
    """Indent of a simple-mode plan line: the length of its tree-art
    prefix (spaces, ':', '+', '-'). Operator heads — including the
    codegen '*(n) ' prefix — never start with those characters."""
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i


def _single_partition_sorted(plan: str) -> bool:
    """True if an `Exchange SinglePartition` feeds a Sort or Window node
    through its ANCESTOR chain (the nearest line above with shallower
    tree indent, repeated), skipping partitioning-preserving narrow
    nodes. ADVICE r6: the old fixed 2-line upward scan both missed
    Sort → Project → Exchange chains and could false-match a sibling
    subtree's tail lines. Node-head match keeps SortAggregate's
    single-partition FINAL step — a bounded 1-row grand aggregate — from
    being a false positive; any non-transparent ancestor (aggregate,
    join, another exchange) consumes the partitioning and stops the
    walk."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        depth = _tree_depth(line)
        for j in range(i - 1, -1, -1):
            pd = _tree_depth(lines[j])
            if pd >= depth:
                continue  # sibling subtree tail, not an ancestor
            depth = pd
            head = lines[j][pd:].lstrip("*(0123456789) ")
            if head.startswith(_NODE_HEAD):
                return True
            if not head.startswith(_TRANSPARENT_HEAD):
                break
    return False


# (query, udf) pairs where the SAME Python kernel legitimately appears
# in TWO live eval nodes: the second application is over a relation
# bounded BY CONSTRUCTION (the ANN tiers re-bucket the <= 5-row query
# side, with the vec_id < 5 filter pushed to the scan under the second
# eval — verified in-plan round 11). Anything unlisted fails: a
# duplicated corpus-sized kernel is the round-11 PQ-ADC bug class
# (posexplode's inferred size-filter pushed below the exchange re-ran
# the WHOLE kernel serially — 2x kernel cost at every scale).
_DUP_UDF_BOUNDED = {
    ("similarity_lsh_ann", "_bucket_kernel"),
    ("similarity_ivf_ann", "_nearest_kernel"),
}


def _live_python_eval_dups(plan: str) -> list[str]:
    """UDF names appearing in MORE THAN ONE live Python eval node
    (ArrowEvalPython / BatchEvalPython / MapInPandas) of an
    executedPlan tree string. Subtrees under `InMemoryRelation` are
    SKIPPED: a persisted relation's stored build lineage is displayed
    inside every InMemoryTableScan that reads it, but executes at most
    once — counting it would false-flag every diamond-over-persist
    (embedding_pca_power renders its Gram kernel 28 times that way)."""
    import collections
    import re as _re

    seen: list[str] = []
    skip_indent = None
    for line in plan.splitlines():
        m = _re.search(r"[:+]- ", line)
        indent = m.start() if m else -1
        if skip_indent is not None:
            if indent > skip_indent:
                continue
            skip_indent = None
        if "InMemoryRelation" in line:
            skip_indent = indent
            continue
        em = _re.search(
            r"(?:ArrowEvalPython|BatchEvalPython) \[([^\]]*)\]", line
        )
        if em:
            seen += list(
                set(_re.findall(r"([A-Za-z_][A-Za-z0-9_]*)\(", em.group(1)))
            )
        mm = _re.search(r"MapInPandas ([A-Za-z_][A-Za-z0-9_]*)\(", line)
        if mm:
            seen.append(mm.group(1))
    return [u for u, c in collections.Counter(seen).items() if c > 1]


def test_single_partition_matcher_walks_ancestors():
    """The matcher must follow the real parent chain: catch a Sort fed
    through an intervening Project (missed by the old 2-line window),
    and NOT match a sibling subtree's Sort that merely sits within 2
    lines of the exchange text."""
    chained = (
        "*(3) Sort [v ASC NULLS FIRST], true, 0\n"
        "+- Project [v]\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]\n"
        "      +- Scan parquet [v]\n"
    )
    assert _single_partition_sorted(chained)

    direct = (
        "Window [row_number() ...], [v ASC]\n"
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]\n"
    )
    assert _single_partition_sorted(direct)

    # exchange feeds a grand aggregate; the Sort above belongs to a
    # SIBLING subtree (deeper indent than the join parent)
    sibling = (
        "SortMergeJoin [k], [k], Inner\n"
        ":- *(1) Sort [k ASC], false, 0\n"
        ":  +- Exchange hashpartitioning(k, 32)\n"
        "+- HashAggregate(keys=[], functions=[sum(x)])\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=2]\n"
        "      +- HashAggregate(keys=[], functions=[partial_sum(x)])\n"
    )
    assert not _single_partition_sorted(sibling)

    # aggregate between exchange and an outer Sort consumes the
    # partitioning — bounded output, not a scale killer
    agg_then_sort = (
        "*(4) Sort [s DESC], true, 0\n"
        "+- HashAggregate(keys=[], functions=[sum(x)])\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=3]\n"
    )
    assert not _single_partition_sorted(agg_then_sort)


# Streaming queries whose state is bounded by KEY CARDINALITY rather
# than a watermark — the only legitimate reason for a stateful streaming
# plan without EventTimeWatermark. Each entry carries its justification;
# an unlisted watermark-free stateful stream fails the audit.
_KEY_BOUNDED_STATE = {
    # complete-mode aggregate over (c_mktsegment, event_type): state is
    # the full aggregate by definition; arity-bounded (5 segments × 4
    # types), watermark would evict nothing in complete mode
    "streaming_static_enrich",
    # applyInPandasWithState per user_id, running-forever stats is the
    # operator's CONTRACT (per-key model state); state = one 3-tuple per
    # user, bounded by user cardinality like any keyed aggregate
    "streaming_user_running_stats",
    # latest-wins CDC state: exactly one row per entity key is the
    # operator's semantic (a watermark that dropped keys would change
    # the answer); bounded by entity cardinality
    "streaming_cdc_merge",
    # CEP run-length NFA: state is one (run_length, last_type) per user
    "streaming_cep_error_burst",
}


def test_streaming_plans_have_bounded_state(spark, monkeypatch, tmp_path):
    """VERDICT r6 item 6: the registry-wide audit now covers streaming
    queries. Every registered streaming query's PRE-SINK streaming plan
    (captured by intercepting run_to_memory before execution) must prove
    its state store is bounded: an EventTimeWatermark upstream of the
    stateful operator, or a documented key-cardinality bound
    (_KEY_BOUNDED_STATE). Append-mode stateful output additionally
    REQUIRES the watermark (append can't emit or evict without one — an
    unwatermarked append-mode agg/join is both unbounded and mute). No
    streaming plan may carry a single-partition repartition/coalesce."""
    from mini_hive_server_spark.streaming import events_stream

    captured: dict[str, tuple] = {}

    class _Captured(Exception):
        pass

    def fake_run(agg, query_name, output_mode="complete"):
        captured["df"] = (agg, output_mode)
        raise _Captured

    monkeypatch.setattr(events_stream, "run_to_memory", fake_run)

    offenders = []
    streaming_specs = {
        n: s
        for n, s in registry.all_specs().items()
        if "streaming" in s.tags
    }
    assert streaming_specs, "no streaming queries registered?"
    for name, spec in streaming_specs.items():
        captured.clear()
        try:
            spec.fn(spark, SF_SMOKE)
        except _Captured:
            pass
        if "df" not in captured:
            offenders.append(f"{name}: never reached run_to_memory")
            continue
        df, mode = captured["df"]
        if not df.isStreaming:
            offenders.append(f"{name}: pre-sink relation is not a stream")
            continue
        plan = df._jdf.queryExecution().analyzed().toString()
        watermarked = "EventTimeWatermark" in plan
        # stateless pass-through streams (e.g. the Python DataSource
        # demo: source rows appended as-is) hold no state store — no
        # watermark needed; state only exists under these operators
        stateful = any(
            tok in plan
            for tok in (
                "Aggregate",
                "Deduplicate",
                "Join",
                "FlatMapGroupsWithState",
                "ApplyInPandasWithState",
                "TransformWithState",
                "SessionWindow",
            )
        )
        if stateful and not watermarked and name not in _KEY_BOUNDED_STATE:
            offenders.append(
                f"{name}: stateful streaming plan without watermark and "
                "not in the key-bounded allowlist"
            )
        if stateful and mode == "append" and not watermarked:
            offenders.append(
                f"{name}: append-mode stateful output without a watermark"
            )
        if "Repartition 1," in plan or "Repartition 1\n" in plan:
            offenders.append(f"{name}: single-partition repartition")
    assert not offenders, offenders


def test_no_scale_killer_plan_shapes_anywhere(spark):
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    # simple mode keeps `Exchange SinglePartition` inline in the tree
    # (formatted moves the partitioning to the details section)
    simple = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    offenders = []
    for name, spec in registry.all_specs().items():
        if "streaming" in spec.tags:
            continue  # streams execute at call time; covered by their own tests
        df = spec.fn(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().explainString(mode)
        plan_simple = df._jdf.queryExecution().explainString(simple)
        if "CartesianProduct" in plan:
            offenders.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_BOUNDED:
            offenders.append(f"{name}: unlisted BroadcastNestedLoopJoin")
        if (
            _single_partition_sorted(plan_simple)
            and name not in _SINGLE_PARTITION_BOUNDED
        ):
            offenders.append(
                f"{name}: unlisted single-partition Sort/Window "
                "(use operators/ranking.py for SF-proportional relations)"
            )
        exec_plan = df._jdf.queryExecution().executedPlan().toString()
        for udf in _live_python_eval_dups(exec_plan):
            if (name, udf) not in _DUP_UDF_BOUNDED:
                offenders.append(
                    f"{name}: Python kernel '{udf}' evaluated in more than "
                    "one live eval node (duplicated corpus-sized kernel — "
                    "the round-11 PQ-ADC bug class; if the re-application "
                    "is over a bounded relation, allowlist it in "
                    "_DUP_UDF_BOUNDED with the justification)"
                )
    assert not offenders, offenders


def _corpus_scans_outside_cache(plan: str, table: str) -> int:
    """Count FileScan-parquet lines over `table` that are LIVE — i.e.
    not displayed inside an InMemoryRelation subtree (a persisted
    relation's stored build lineage renders under every
    InMemoryTableScan that reads it, but executes at most once)."""
    import re as _re

    n = 0
    skip_indent = None
    for line in plan.splitlines():
        m = _re.search(r"[:+]- ", line)
        indent = m.start() if m else -1
        if skip_indent is not None:
            # the cached-plan block renders right-shifted under the
            # InMemoryRelation line, and its ROOT line (e.g.
            # `AdaptiveSparkPlan ...`) carries no `+- ` branch prefix —
            # a prefix-less line while skipping is still inside the
            # block, not a return to the main tree
            if indent > skip_indent or indent == -1:
                continue
            skip_indent = None
        if "InMemoryRelation" in line or "== Initial Plan ==" in line:
            # an executed AdaptiveSparkPlan prints its pre-AQE plan as a
            # duplicate `== Initial Plan ==` section — count only the
            # Final Plan, or every live scan doubles
            skip_indent = indent
            continue
        if "Scan parquet" in line and f"{table}.parquet" in line:
            n += 1
    return n


def test_bpe_chain_words_persist_shape(spark):
    """Structural pin for the BPE words-persist boundary (VERDICT r12
    #4). The round-12 rework rests on a measured argument (per-round
    persists cost +0.35 s; the one cache the chain needs is the
    corpus-sized `words` agg) whose bench A/Bs were noise-limited — so
    pin the SHAPE in-plan instead of re-measuring per round:

    * exactly ONE tracked persist per BPE query (the `words` cache) —
      a refactor reinstating per-round state persists fails here;
    * zero live corpus scans in `tokenizer_bpe_merges` (since round 14
      the per-round argmax is collected at build, so the merge table's
      FINAL plan is literal rows — no scan of anything; the corpus-
      scan-once property lives in the build-time argmax jobs over the
      words cache) and exactly one in `tokenizer_bpe_apply` (the
      per-(source, word) counts — `source` isn't in the cached vocab
      relation; the vocab side must read the cache, pinned by the
      InMemoryTableScan assertion) — a refactor that DROPS the words
      boundary re-opens the 2^k corpus replay and fails here with
      apply seeing multiple live scans.
    """
    from mini_hive_server_spark import persistence

    specs = registry.all_specs()
    for name, want_live_scans, want_cache_scan in [
        ("tokenizer_bpe_merges", 0, False),
        ("tokenizer_bpe_apply", 1, True),
    ]:
        # count only persists ADDED by this query: correctness-bearing
        # _DeferredRelease entries from earlier queries legitimately
        # survive release_tracked until their buffers were built
        before = {id(p) for p in persistence._LIVE}
        df = specs[name].fn(spark, SF_SMOKE)  # gated fn: releases prior persists
        new = [p for p in persistence._LIVE if id(p) not in before]
        assert len(new) == 1, (name, len(new))
        df.collect()  # materialize the cache; finalize the AQE plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        if want_cache_scan:
            assert "InMemoryTableScan" in plan, name
        got = _corpus_scans_outside_cache(plan, "documents")
        assert got == want_live_scans, (name, got, plan)


def _documents_scans_run(store, execution) -> int:
    """Number of `documents` scan nodes in one SQL execution's plan graph
    that produced rows in that execution. A persisted relation's build
    lineage stays in the graph of every execution that reads it, but its
    scan's row metric is nonzero only in the execution that built it."""
    eid = execution.executionId()
    values = store.executionMetrics(eid)
    nodes = store.planGraph(eid).allNodes()
    ran = 0
    for i in range(nodes.size()):
        node = nodes.apply(i)
        if not (
            node.name().startswith("Scan parquet")
            and "documents.parquet" in node.desc()
        ):
            continue
        metrics = node.metrics()
        for j in range(metrics.size()):
            m = metrics.apply(j)
            if m.name() == "number of output rows":
                v = values.get(m.accumulatorId())
                ran += v.isDefined() and int(v.get().replace(",", "")) > 0
    return ran


def test_bpe_merges_build_scans_corpus_once(spark):
    """`tokenizer_bpe_merges` collects its per-round argmax at build time,
    so its final plan is literal rows and the shape pin above cannot see
    the corpus. Check the build's own SQL executions instead: across all
    of them the `documents` scan runs exactly once, in the execution that
    builds the `words` cache. Dropping that persist makes every argmax
    job rescan the corpus. (The formatted plan text in the status store
    names the file only in its node details, so the tree-line counter
    above cannot be reused here; the scan's row metric is exact.)"""
    sc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        sc.listenerBus().waitUntilEmpty()
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    before = {e.executionId() for e in executions()}
    registry.queries()["tokenizer_bpe_merges"](spark, SF_SMOKE)
    new = [e for e in executions() if e.executionId() not in before]
    assert len(new) >= 3, "expected one argmax collect per merge round"
    ran = sum(_documents_scans_run(store, e) for e in new)
    assert ran == 1, f"documents scanned {ran} times during the build"
