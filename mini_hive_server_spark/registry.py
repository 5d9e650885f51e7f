"""Central query registry: every engine capability is a named query.

Each operator/query shape from SURVEY.md §2 (plus the LLM-pipeline
extensions) registers itself here with:

* a PySpark callable ``(spark, sf_dir) -> DataFrame``;
* a DuckDB-runnable SQL oracle string computing the same result on the
  same Parquet tables (the driver's correctness gate). The oracle is
  required and non-empty: the driver does not support rows-only checks,
  so an oracle-less query would burn its window slot on a guaranteed
  `err: no_oracle`. Non-SQL-expressible semantics get an oracle anyway
  via an equivalence argument (batch twins for streaming, provably-exact
  operating points for ANN, the contraction bound for the ε-stopped
  PageRank).

Determinism rules every registered query obeys (so order-insensitive
value-hash comparison against DuckDB is stable):

1. Float aggregates are ``round(x, N)``-ed identically on both sides —
   distributed summation order differs from DuckDB's single-threaded order in
   the last ulp.
2. Timestamps are never emitted raw: the events fixture has nanosecond
   precision which Spark truncates to microseconds but DuckDB keeps, so
   outputs use second-or-coarser truncation rendered via date_format/strftime.
3. Every LIMIT/top-k has a total order (unique-key tiebreaker appended).
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from . import persistence
from .session import ship_package_to_executors

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}

# Modules that register queries on import. Never-driver-verified families
# lead; the round-1-proven scan/scalar/agg/join/TPC-H families trail (their
# 48/50 green rows are in CORRECTNESS_r01.json).
_QUERY_MODULES = (
    "mini_hive_server_spark.operators.mutations",
    "mini_hive_server_spark.operators.topk",
    "mini_hive_server_spark.plans.lifecycle",
    "mini_hive_server_spark.operators.windows",
    "mini_hive_server_spark.operators.setops",
    "mini_hive_server_spark.operators.dedup",
    "mini_hive_server_spark.operators.similarity",
    "mini_hive_server_spark.operators.text_analysis",
    "mini_hive_server_spark.operators.pipeline",
    "mini_hive_server_spark.operators.contamination",
    "mini_hive_server_spark.operators.curation",
    "mini_hive_server_spark.operators.spans",
    "mini_hive_server_spark.operators.multimodal",
    "mini_hive_server_spark.operators.sketches",
    "mini_hive_server_spark.operators.ingest",
    "mini_hive_server_spark.operators.behavior",
    "mini_hive_server_spark.operators.timegrid",
    "mini_hive_server_spark.operators.governance",
    "mini_hive_server_spark.operators.graph",
    "mini_hive_server_spark.plans.reference_model",
    "mini_hive_server_spark.sources.connectors",
    "mini_hive_server_spark.streaming.events_stream",
    "mini_hive_server_spark.operators.joins",
    "mini_hive_server_spark.plans.tpch",
    "mini_hive_server_spark.operators.scans",
    "mini_hive_server_spark.functions.scalar_queries",
    "mini_hive_server_spark.operators.aggregates",
)

# The driver's correctness gate compares the FIRST 50 registered queries
# (verified round 1: CORRECTNESS_r01.json's key set == the first 50 names in
# registration order). Full rotation history lives in COVERAGE.md
# ("Driver-window rotation history"); this comment documents only the
# CURRENT window's rationale.
#
# Round-13 window — the fifth staleness-rotation round, draining the
# documented round-13 queue in full (VERDICT r12 #1: all 20 r5-checked
# queries). Composition: 2 round-13 additions (≤10 budget) —
# `dedup_signature_tier_census` (the measured OPH/classic crossover
# surface as an executable per-stratum prescription, VERDICT r12 #6)
# and `join_salted_skew_planted` (the planted ~30%-hot-key operating
# point for the salting defense, VERDICT r12 #7) — + the ENTIRE
# 20-query r5 queue + 3 REWORKED-this-round re-confirms (the
# similarity_pq_adc precedent: reworked queries re-enter the window
# regardless of row age) — `dedup_simhash` (r8 row; the round-12 kernel
# rework — WS_CLASS_PY tokenizer-contract alignment + the
# NULL-fingerprint fix — landed after the r12 window froze, VERDICT r12
# #2), `join_salted_skew` (r11 row; body factored into
# `_salted_attribution` shared with the planted point this round),
# `source_bucketed_join` (r12 row; its DDL fallback moved onto the
# shared `_staged_lock` helper, ADVICE r12 #3) — + 25 r6 re-confirms by
# refactor exposure: the 19 behavior.py module-mates of the salted-join
# factoring, the two text_analysis.py module-mates of the BPE plan-pin
# subject, and one query each from the streaming/graph/similarity/
# setops modules. After r13 the oldest driver row anywhere is r6; the
# 18 remaining r6-checked queries form the round-14 queue in
# COVERAGE.md.
_DRIVER_WINDOW = (
    # --- round-13 additions (≤10 budget; 2 used) ---
    "dedup_signature_tier_census",
    "join_salted_skew_planted",
    # --- the round-13 staleness queue: ALL 20 r5-checked, in queue order ---
    "agg_salted_hot_key",
    "classifier_calibration_bins",
    "constraint_referential_audit",
    "corpus_epoch_shuffle",
    "corpus_recipe_funnel",
    "events_anomaly_mad",
    "events_changepoint_cusum",
    "events_conversion_hazard",
    "events_dau_stickiness",
    "events_variant_props",
    "lineitem_interval_overlap",
    "multimodal_scene_cuts",
    "mutation_cascade_delete",
    "orders_market_basket",
    "orders_seasonal_decompose",
    "orders_ship_latency_percentiles",
    "orders_yoy_growth",
    "ref_entity_resolution",
    "sample_weighted_priority",
    "sql_recursive_hierarchy",
    # --- 3 reworked-this-round re-confirms (see comment) ---
    "dedup_simhash",
    "join_salted_skew",
    "source_bucketed_join",
    # --- 25 r6 re-confirms (refactor-exposure order; see comment) ---
    "customer_ltv_pareto",
    "customers_tier_migration",
    "events_abtest_cuped",
    "events_abtest_power",
    "events_abtest_srm",
    "events_abtest_ttest",
    "events_anova_oneway",
    "events_behavior_entropy",
    "events_bounce_rate",
    "events_burstiness_index",
    "events_engagement_tiers",
    "events_gap_histogram",
    "events_heatmap_hour_dow",
    "events_new_vs_returning",
    "events_type_mix_trend",
    "events_user_activity_zipf",
    "events_velocity_flags",
    "orders_cohort_ltv",
    "orders_repeat_purchase_curve",
    "text_heaps_law",
    "text_readability_fk",
    "streaming_sliding_topk",
    "graph_degree_distribution",
    "embedding_kmeans_2iter",
    "set_ops_all_variants",
)


def register(
    name: str, oracle: str, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        if not oracle:
            # an empty oracle reaching the driver burns its window slot on
            # a guaranteed `err: no_oracle` (module docstring): fail at
            # registration, where the developer is
            raise ValueError(
                f"query '{name}' registered without an oracle — every "
                "registered query must be oracle-paired (give non-SQL-"
                "expressible semantics an equivalence oracle; see the "
                "module docstring)"
            )

        @functools.wraps(fn)
        def gated(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Release this thread's previous query's tracked persist()
            # blocks: a correctness sweep runs 50 queries in one session
            # and never clears cache (see persistence.py). Queries composing other
            # queries call the raw fn (module-level name), so internal
            # persists survive until the NEXT top-level invocation. The
            # scope releases what a query that raises had registered.
            # release_tracked is looked up at call time so a tracer can
            # wrap it (perfbench's traced run does). Every registered
            # query ships the package zip to the executors, so a
            # driver-owned session works from any cwd, also for a query
            # that reads no fixture (once per SparkContext).
            ship_package_to_executors(spark)
            persistence.release_tracked()
            with persistence.scope():
                return fn(spark, sf_dir)

        _REGISTRY[name] = QuerySpec(
            name=name, fn=gated, oracle=oracle, tags=tuple(tags), doc=fn.__doc__ or ""
        )
        return fn

    return deco


# A module that failed to import must keep raising its first error: a
# retry (Python drops the module from sys.modules) would trip the
# duplicate-name guard on the module's own earlier registrations and
# mask the real error. So the first failure is remembered and re-raised.
_LOAD_FAILED: dict[str, BaseException] = {}


def _ensure_loaded() -> None:
    for mod in _QUERY_MODULES:
        if mod in _LOAD_FAILED:
            raise _LOAD_FAILED[mod]
        try:
            importlib.import_module(mod)
        except BaseException as exc:
            _LOAD_FAILED[mod] = exc
            raise


def all_specs() -> dict[str, QuerySpec]:
    """All registered specs, driver-window names first (see _DRIVER_WINDOW),
    then the rest in module-registration order."""
    _ensure_loaded()
    missing = [n for n in _DRIVER_WINDOW if n not in _REGISTRY]
    if missing:
        raise KeyError(f"_DRIVER_WINDOW names not registered: {missing}")
    window = set(_DRIVER_WINDOW)
    ordered = [*_DRIVER_WINDOW, *(n for n in _REGISTRY if n not in window)]
    return {n: _REGISTRY[n] for n in ordered}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracles() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_specs().items()}
