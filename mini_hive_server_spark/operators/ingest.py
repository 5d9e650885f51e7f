"""Incremental-ingest patterns — the daily-batch shapes of a production
training-data pipeline (extension; the reference's closest analog is the
append-only insert path, index.js:199-202).

A 100 TB corpus is not rebuilt per day; a few TB arrive and must be
deduplicated AGAINST the standing corpus and reweighted into the training
mixture. These operators model that delta-processing shape on the
documents fixture (deterministic split: doc_id % 10 == 0 is the incoming
batch, the rest is the standing corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..registry import register
from .dedup import _DUCK_SHINGLES_CTE, _JACCARD_THRESHOLD

_INC_DEDUP_ORACLE = """
WITH existing AS (
  SELECT DISTINCT md5(lower(trim(text))) AS fp
  FROM documents WHERE doc_id % 10 <> 0
),
incoming AS (
  SELECT doc_id, md5(lower(trim(text))) AS fp
  FROM documents WHERE doc_id % 10 = 0
),
batch_unique AS (
  SELECT min(doc_id) AS doc_id, fp
  FROM incoming GROUP BY fp
)
SELECT b.doc_id, b.fp AS fingerprint
FROM batch_unique b
LEFT JOIN existing e ON b.fp = e.fp
WHERE e.fp IS NULL
ORDER BY b.doc_id
"""


@register("ingest_incremental_dedup", oracle=_INC_DEDUP_ORACLE, tags=("llm", "dedup", "ingest"))
def ingest_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup an incoming batch against the standing corpus: exact
    content fingerprints (same normalization as `dedup_exact`), survivor =
    first-seen within the batch AND unseen in the corpus.

    Plan: intra-batch dedup is a hash groupBy on the batch only (the
    small side — the day's delta, not history); the corpus probe is a
    LEFT ANTI join against the DISTINCT fingerprint set. At 100 TB the
    standing fingerprints live as a bucketed table keyed on fingerprint
    (pay that shuffle once at corpus-build), so the daily anti-join
    shuffles ONLY the delta — history is never re-shuffled per ingest.
    Locally both sides read the same fixture with complementary
    deterministic filters."""
    docs = load_tables(spark, sf_dir)["documents"]
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    existing = (
        docs.filter(F.col("doc_id") % 10 != 0)
        .select(fp.alias("fingerprint"))
        .distinct()
    )
    incoming = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", fp.alias("fingerprint")
    )
    batch_unique = incoming.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id")
    )
    return (
        batch_unique.join(existing, "fingerprint", "left_anti")
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    )


_MIXTURE_ORACLE = """
WITH per_source AS (
  SELECT source,
         count(*) AS n_docs,
         sum(length(text) - length(replace(text, ' ', '')) + 1) AS n_tokens
  FROM documents
  GROUP BY source
),
tot AS (SELECT sum(n_tokens) AS t, count(*) AS n_sources FROM per_source)
SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE), 6) AS actual_share,
       round((1.0 / n_sources) / (CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE)), 4) AS mix_weight
FROM per_source, tot
ORDER BY source
"""


@register("source_mixture_weights", oracle=_MIXTURE_ORACLE, tags=("llm", "ingest", "agg"))
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: per-source token counts and the
    sampling weight that moves the corpus to a UNIFORM target mixture
    (weight = target_share / actual_share — >1 upsample, <1 downsample).
    This is the knob behind 'domain mixing ratios' in LLM data recipes;
    a non-uniform target is the same query with a weights literal joined
    in.

    Plan: one partial-agg'd groupBy over the corpus (token counting is a
    map-side length expression, no tokenizer UDF), then the totals — a
    few rows per source — cross-join back as a 1-row broadcast. The
    corpus is scanned once."""
    docs = load_tables(spark, sf_dir)["documents"]
    tokens = F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + F.lit(1)
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tokens).alias("n_tokens"),
    )
    tot = per_source.agg(
        F.sum("n_tokens").alias("t"), F.count(F.lit(1)).alias("n_sources")
    )
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("t"), 6).alias("actual_share"),
            F.round(
                (F.lit(1.0) / F.col("n_sources"))
                / (F.col("n_tokens") / F.col("t")),
                4,
            ).alias("mix_weight"),
        )
        .orderBy("source")
    )


_PROFILE_COLUMNS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
)

_PROFILE_ORACLE = " UNION ALL ".join(
    f"""
SELECT '{c}' AS column_name,
       count(*) - count({c}) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       min({c})::VARCHAR AS min_value,
       max({c})::VARCHAR AS max_value
FROM orders"""
    for c in _PROFILE_COLUMNS
) + " ORDER BY column_name"


@register("profile_table_columns", oracle=_PROFILE_ORACLE, tags=("ingest", "agg"))
def profile_table_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — the data-quality sweep run before a table enters
    a pipeline: per column, null count, distinct cardinality, and min/max
    (rendered as strings so one relation profiles heterogeneous types).

    Plan: ONE pass over the table computing every column's metrics in a
    single hash aggregate (5 columns × 4 aggregates fused by codegen),
    then an unpivot of the 1-row result into (column, metrics) rows —
    the table is never scanned per column. At 100 TB the exact
    count(DISTINCT) is the one you'd swap for approx_count_distinct
    (sketch_approx_distinct shows that contract); everything else is
    map-side partial aggregation."""
    orders = load_tables(spark, sf_dir)["orders"]
    aggs = []
    for c in _PROFILE_COLUMNS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__n_nulls"),
            F.countDistinct(c).alias(f"{c}__n_distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = orders.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n_nulls, {c}__n_distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLUMNS
    )
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLUMNS)}, {stack}) AS "
            "(column_name, n_nulls, n_distinct, min_value, max_value)"
        )
    ).orderBy("column_name")


# ------------------------------------------------- CDC latest-wins merge

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"

_CDC_MERGE_ORACLE = f"""
WITH ranked AS (
  SELECT user_id, event_type, value, CAST(ts AS TIMESTAMP) AS tsu, event_id,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_changes
  FROM events
)
SELECT user_id,
       event_type AS last_type,
       round(value, 2) AS last_value,
       CAST(n_changes AS BIGINT) AS n_changes,
       strftime(tsu, '{_TS_FMT_DUCK}') AS last_ts
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
ORDER BY user_id
"""


@register("ingest_cdc_merge", oracle=_CDC_MERGE_ORACLE, tags=("llm", "ingest", "cdc"))
def ingest_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog compaction (latest-wins upsert merge with deletes):
    the events fixture read as a change stream keyed on user_id — every
    row is an upsert carrying (event_type, value), except 'error' rows
    which act as tombstones; versions order by (ts, event_id). The merged
    state keeps each key's latest non-tombstone image plus a change count
    — the standing shape behind every lakehouse MERGE INTO / CDC-apply
    job feeding a training corpus from operational stores.

    Plan: ONE hash shuffle on the merge key drives both window functions
    (row_number and the per-key change count share the same partitioning,
    so Catalyst plans a single exchange + sort). At 100 TB the target
    lives as a table bucketed on the key: compaction then shuffles only
    the day's delta, history stays in place, and AQE skew-split covers
    hot keys (the celebrity-user problem). The tombstone filter runs
    AFTER rank selection — a delete must win over older upserts, not be
    filtered into resurrecting them."""
    events = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wall = Window.partitionBy("user_id")
    ranked = events.select(
        "user_id",
        "event_type",
        "value",
        "ts",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n_changes"),
    )
    return (
        ranked.filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("event_type").alias("last_type"),
            F.round("value", 2).alias("last_value"),
            "n_changes",
            F.date_format("ts", _TS_FMT_SPARK).alias("last_ts"),
        )
        .orderBy("user_id")
    )


# ------------------------------------ incremental MinHash near-dup probe

_INC_MINHASH_ORACLE = f"""
WITH {_DUCK_SHINGLES_CTE.strip()},
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
  FROM shingles a JOIN shingles b ON a.sh = b.sh
  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
  GROUP BY 1, 2
),
matches AS (
  SELECT d1, d2, c * 1.0 / (s1.n + s2.n - c) AS j
  FROM inter
  JOIN sizes s1 ON s1.doc_id = d1
  JOIN sizes s2 ON s2.doc_id = d2
  WHERE c * 1.0 / (s1.n + s2.n - c) >= {_JACCARD_THRESHOLD}
)
SELECT d1 AS doc_id,
       count(*) AS n_corpus_matches,
       round(max(j), 4) AS best_jaccard
FROM matches
GROUP BY 1
ORDER BY doc_id
"""


@register(
    "ingest_incremental_minhash",
    oracle=_INC_MINHASH_ORACLE,
    tags=("llm", "dedup", "ingest"),
)
def ingest_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup screening of an incoming batch against the standing
    corpus — the MinHash analog of `ingest_incremental_dedup` (which
    catches only exact copies): batch and corpus docs are banded into the
    same 16-band LSH index (`dedup.minhash_bands`), candidates come from
    a batch-band vs corpus-band equi-join on (band, band-hash), and exact
    Jaccard verifies candidates only. Reports each batch doc with >= 1
    corpus near-dup (threshold 0.8) and its best match score.

    Scale shape — why this is THE production form: the standing corpus's
    band relation is precomputed and bucketed on (band, bh) (built once,
    maintained additively as batches commit — 16 small rows per doc), so
    the daily probe shuffles ONLY the delta's bands; history is never
    re-signed or re-shuffled. Candidate verification streams the shingle
    relation past the (delta-sized) candidate list. Recall at the
    fixture's planted >= 0.9 similarities is provably complete (miss
    probability ~3e-8 per pair, same analysis as the dedup tier), so the
    exhaustive batch x corpus Jaccard SQL is an exact oracle over the
    whole sign → band → probe → verify pipeline."""
    from .dedup import minhash_bands, shingle_arrays, _exact_jaccard_pairs
    from ..persistence import tracked_persist

    docs = load_tables(spark, sf_dir)["documents"]
    sha = tracked_persist(shingle_arrays(docs))
    bands = tracked_persist(minhash_bands(sha))
    is_batch = F.col("doc_id") % 10 == 0
    batch_bands = bands.filter(is_batch)
    corpus_bands = bands.filter(~is_batch)
    candidates = (
        batch_bands.alias("x")
        .join(
            corpus_bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh")),
        )
        .select(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .distinct()
    )
    pairs = _exact_jaccard_pairs(docs, candidates=candidates, sha=sha)
    return (
        pairs.groupBy(F.col("d1").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_corpus_matches"),
            F.max("jaccard").alias("best_jaccard"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------ temperature-scaled mixture weights

_MIX_ALPHA = 0.3  # sampling temperature (XLM-R / mT5 multilingual recipe)

_MIXTURE_TEMP_ORACLE = f"""
WITH per_source AS (
  SELECT source,
         sum(length(text) - length(replace(text, ' ', '')) + 1) AS n_tokens
  FROM documents
  GROUP BY source
),
tot AS (SELECT sum(n_tokens) AS t FROM per_source),
shares AS (
  SELECT source, n_tokens,
         CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE) AS p,
         pow(CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE), {_MIX_ALPHA}) AS pa
  FROM per_source, tot
),
norm AS (SELECT sum(pa) AS z FROM shares)
SELECT source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(p, 6) AS natural_share,
       round(pa / z, 6) AS sampled_share,
       round((pa / z) / p, 4) AS boost
FROM shares, norm
ORDER BY source
"""


@register(
    "source_mixture_temperature",
    oracle=_MIXTURE_TEMP_ORACLE,
    tags=("llm", "ingest", "agg"),
)
def source_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (the multilingual alpha-recipe
    — XLM-R / mT5 style): sampled_share_i = p_i^a / sum_j p_j^a with
    a = 0.3, the smoothed multinomial that upsamples small sources
    WITHOUT flattening to uniform (`source_mixture_weights` is the a=0
    uniform-target endpoint of the same family; a=1 is natural
    sampling). `boost` = sampled/natural is each source's effective
    upsampling factor.

    Plan identical to the uniform tier: one partial-agg'd corpus scan,
    then per-source arithmetic against two 1-row broadcast totals (the
    share denominator and the pow-normalizer). pow() agreement across
    engines is empirically exact on the fixture shares (and rounding to
    6/4 decimals precedes the compare on both sides)."""
    docs = load_tables(spark, sf_dir)["documents"]
    tokens = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + F.lit(1)
    )
    per_source = docs.groupBy("source").agg(F.sum(tokens).alias("n_tokens"))
    tot = per_source.agg(F.sum("n_tokens").alias("t"))
    shares = per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("t").cast("double")).alias("p"),
        F.pow(
            F.col("n_tokens").cast("double") / F.col("t").cast("double"),
            F.lit(_MIX_ALPHA),
        ).alias("pa"),
    )
    norm = shares.agg(F.sum("pa").alias("z"))
    return (
        shares.crossJoin(F.broadcast(norm))
        .select(
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round("p", 6).alias("natural_share"),
            F.round(F.col("pa") / F.col("z"), 6).alias("sampled_share"),
            F.round((F.col("pa") / F.col("z")) / F.col("p"), 4).alias("boost"),
        )
        .orderBy("source")
    )


# --------------------------------------------- mixture drift KL divergence

_KL_ORACLE = """
WITH base AS (
  SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2
),
per_source AS (SELECT source, sum(n) AS ns FROM base GROUP BY 1),
per_lang AS (SELECT lang, sum(n) AS nl FROM base GROUP BY 1),
tot AS (SELECT sum(n) AS nt FROM base)
SELECT b.source,
       CAST(ps.ns AS BIGINT) AS n_docs,
       round(sum(
         (CAST(b.n AS DOUBLE) / CAST(ps.ns AS DOUBLE))
         * ln((CAST(b.n AS DOUBLE) / CAST(ps.ns AS DOUBLE))
              / (CAST(pl.nl AS DOUBLE) / CAST(t.nt AS DOUBLE)))
       ), 4) AS kl_nats
FROM base b
JOIN per_source ps ON b.source = ps.source
JOIN per_lang pl ON b.lang = pl.lang
CROSS JOIN tot t
GROUP BY b.source, ps.ns
ORDER BY b.source
"""


@register("source_lang_kl_divergence", oracle=_KL_ORACLE, tags=("llm", "ingest", "agg"))
def source_lang_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-drift diagnostic: KL(source's language distribution ‖
    corpus language distribution) in nats, per source. The number a
    data-recipe dashboard watches to catch one crawl slice silently
    skewing toward a language before it contaminates the mixture —
    complements `source_mixture_weights` (which reweights on token
    volume) with a DISTRIBUTIONAL distance. KL is finite here by
    construction: every (source, lang) cell's language also appears in
    the corpus marginal, so q > 0 wherever p > 0.

    Plan: ONE partial-agg'd groupBy over the corpus produces the
    (source × lang) contingency table; every relation after that is
    bounded by source and language arity — NOT by corpus size — so the
    marginal joins broadcast at any SF (static hints justified: arity-
    bounded, not SF-proportional). ln's last-ulp divergence is absorbed
    by round(…, 4), the TF-IDF precedent."""
    docs = load_tables(spark, sf_dir)["documents"]
    base = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    per_source = base.groupBy("source").agg(F.sum("n").alias("ns"))
    per_lang = base.groupBy("lang").agg(F.sum("n").alias("nl"))
    tot = base.agg(F.sum("n").alias("nt"))
    p = F.col("n").cast("double") / F.col("ns").cast("double")
    q = F.col("nl").cast("double") / F.col("nt").cast("double")
    return (
        base.join(F.broadcast(per_source), "source")
        .join(F.broadcast(per_lang), "lang")
        .crossJoin(F.broadcast(tot))
        .groupBy("source", "ns")
        .agg(F.round(F.sum(p * F.log(p / q)), 4).alias("kl_nats"))
        .select(
            "source", F.col("ns").cast("bigint").alias("n_docs"), "kl_nats"
        )
        .orderBy("source")
    )


# --------------------------------------------- population stability index

_PSI_SPLIT = "1998-07-01"

_PSI_ORACLE = f"""
WITH binned AS (
  SELECT CAST(floor(4 * log10(o_totalprice)) AS BIGINT) AS bin,
         CASE WHEN CAST(o_orderdate AS TIMESTAMP)
                   < TIMESTAMP '{_PSI_SPLIT} 00:00:00'
              THEN 0 ELSE 1 END AS period
  FROM orders
),
counts AS (
  SELECT bin,
         count(*) FILTER (WHERE period = 0) AS n_ref,
         count(*) FILTER (WHERE period = 1) AS n_cur
  FROM binned GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
         CAST(sum(n_cur) AS BIGINT) AS t_cur,
         count(*) AS n_bins
  FROM counts
),
probs AS (
  SELECT round((n_ref + 1.0) / (t_ref + n_bins), 6) AS p_ref,
         round((n_cur + 1.0) / (t_cur + n_bins), 6) AS p_cur,
         t_ref, t_cur, n_bins
  FROM counts CROSS JOIN tot
)
SELECT max(n_bins) AS n_bins,
       max(t_ref) AS n_ref_orders,
       max(t_cur) AS n_cur_orders,
       round(sum((p_cur - p_ref) * ln(p_cur / p_ref)), 4) AS psi,
       sum((p_cur - p_ref) * ln(p_cur / p_ref)) > 0.1 AS drifted
FROM probs
"""


@register("orders_value_psi", oracle=_PSI_ORACLE, tags=("orders", "ingest", "stats"))
def orders_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-value distribution,
    pre-{_PSI_SPLIT} (reference period) vs after (current period) —
    THE drift metric of production scoring pipelines (PSI < 0.1 stable,
    0.1-0.25 drifting, > 0.25 retrain): `source_lang_kl_divergence`
    watches a CATEGORICAL mix; PSI watches a CONTINUOUS metric through
    fixed bins. Bins are quarter-decades of log10(price) — fixed by
    value, not by data quantiles, so the binning needs no training-set
    state; +1 Laplace smoothing keeps empty bins finite and is part of
    the published PSI recipe.

    Plan: one partial-agg'd shuffle to the bounded bin axis (price span
    is value-bounded BY CONSTRUCTION: ~11 log bins regardless of SF);
    the 1-row totals cross back broadcast; the statistic is one
    aggregate over the bin rows. Probabilities are pre-rounded at 6 so
    each bin's contribution compares identical operands cross-engine
    before the final round at 4."""
    orders = load_tables(spark, sf_dir)["orders"]
    binned = orders.select(
        F.floor(4 * F.log10("o_totalprice")).cast("bigint").alias("bin"),
        F.when(
            F.col("o_orderdate") < F.lit(f"{_PSI_SPLIT} 00:00:00").cast("timestamp"),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("period"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("period") == 0, 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0)).alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_ref").cast("bigint").alias("t_ref"),
        F.sum("n_cur").cast("bigint").alias("t_cur"),
        F.count(F.lit(1)).alias("n_bins"),
    )
    probs = counts.crossJoin(F.broadcast(tot)).select(
        F.round((F.col("n_ref") + 1.0) / (F.col("t_ref") + F.col("n_bins")), 6).alias("p_ref"),
        F.round((F.col("n_cur") + 1.0) / (F.col("t_cur") + F.col("n_bins")), 6).alias("p_cur"),
        "t_ref",
        "t_cur",
        "n_bins",
    )
    term = (F.col("p_cur") - F.col("p_ref")) * F.log(
        F.col("p_cur") / F.col("p_ref")
    )
    return probs.agg(
        F.max("n_bins").alias("n_bins"),
        F.max("t_ref").alias("n_ref_orders"),
        F.max("t_cur").alias("n_cur_orders"),
        F.round(F.sum(term), 4).alias("psi"),
        (F.sum(term) > 0.1).alias("drifted"),
    )


# ---------------------------- incremental materialized-view maintenance

_MV_ORACLE = """
WITH cents AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
base AS (SELECT * FROM cents WHERE o_orderkey % 10 <> 0),
ins  AS (SELECT * FROM cents WHERE o_orderkey % 10 = 0),
dels AS (SELECT * FROM base  WHERE o_orderkey % 7 = 0),
final AS (
  SELECT * FROM base WHERE o_orderkey % 7 <> 0
  UNION ALL SELECT * FROM ins
),
mv AS (
  SELECT o_orderstatus, o_orderpriority,
         count(*) AS n_before, CAST(sum(cents) AS BIGINT) AS rev_before_cents
  FROM base GROUP BY 1, 2
),
delta AS (
  SELECT o_orderstatus, o_orderpriority,
         CAST(sum(sign) AS BIGINT) AS n_delta,
         CAST(sum(sign * cents) AS BIGINT) AS rev_delta_cents
  FROM (
    SELECT o_orderstatus, o_orderpriority, cents, 1 AS sign FROM ins
    UNION ALL
    SELECT o_orderstatus, o_orderpriority, cents, -1 AS sign FROM dels
  )
  GROUP BY 1, 2
),
-- the AFTER side is an independent DIRECT RECOMPUTE over the final row
-- set; the engine under test derives it algebraically (before + delta),
-- so the comparison checks the maintenance identity itself
after AS (
  SELECT o_orderstatus, o_orderpriority,
         count(*) AS n_after, CAST(sum(cents) AS BIGINT) AS rev_after_cents
  FROM final GROUP BY 1, 2
)
SELECT a.o_orderstatus, a.o_orderpriority,
       coalesce(m.n_before, 0) AS n_before,
       coalesce(m.rev_before_cents, 0) AS rev_before_cents,
       coalesce(d.n_delta, 0) AS n_delta,
       coalesce(d.rev_delta_cents, 0) AS rev_delta_cents,
       a.n_after, a.rev_after_cents
FROM after a
LEFT JOIN mv m USING (o_orderstatus, o_orderpriority)
LEFT JOIN delta d USING (o_orderstatus, o_orderpriority)
ORDER BY a.o_orderstatus, a.o_orderpriority
"""


@register("mv_incremental_refresh", oracle=_MV_ORACLE, tags=("ingest", "agg", "mv"))
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of an aggregate materialized view — the
    self-maintainable-view algebra (Gupta & Mumick, "Maintenance of
    Materialized Views", IEEE Data Eng. Bull. 1995) every warehouse
    refresh path runs: given a standing MV of additively-mergeable
    aggregates (count, sum) and a signed delta batch (+1 inserts, -1
    deletes), the refreshed view is MV ⊕ agg(delta) — an outer merge on
    the group keys, never a rescan of the base relation. Deterministic
    folds: inserts = o_orderkey % 10 == 0 (not in base), deletes = base
    rows with o_orderkey % 7 == 0.

    The output exposes the maintenance identity per group — before,
    signed delta, after — and the AFTER columns are where the check has
    teeth: this engine computes them ALGEBRAICALLY (before + delta,
    groups at zero dropped), while the DuckDB oracle recomputes them
    directly over the post-delta row set. A sign error, a lost group, or
    a non-additive fold shows up as a value mismatch, not just a shape
    difference.

    Scale shape: refresh cost is agg(|delta|) + merge(|MV|), independent
    of |base| — the entire point of a materialized view at 100 TB (the
    base aggregation here stands in for the PERSISTED view; in
    production it is read back, not recomputed). Both aggregations are
    map-side partial; the merge is a full-outer equi-join of two
    group-cardinality relations (bounded by status x priority arity).
    Money folds to integer cents BEFORE summation (floor(x*100+0.5),
    the engine-identical IEEE op) so the sums are exact integers on
    both engines."""
    orders = load_tables(spark, sf_dir)["orders"]
    cents = orders.select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    base = cents.filter(F.col("o_orderkey") % 10 != 0)
    ins = cents.filter(F.col("o_orderkey") % 10 == 0)
    dels = base.filter(F.col("o_orderkey") % 7 == 0)

    keys = ["o_orderstatus", "o_orderpriority"]
    mv = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_before"),
        F.sum("cents").alias("rev_before_cents"),
    )
    signed = ins.withColumn("sign", F.lit(1)).unionByName(
        dels.withColumn("sign", F.lit(-1))
    )
    delta = signed.groupBy(*keys).agg(
        F.sum("sign").cast("bigint").alias("n_delta"),
        F.sum(F.col("sign") * F.col("cents")).cast("bigint").alias("rev_delta_cents"),
    )
    merged = mv.join(delta, keys, "full_outer").select(
        *keys,
        F.coalesce("n_before", F.lit(0)).alias("n_before"),
        F.coalesce("rev_before_cents", F.lit(0)).alias("rev_before_cents"),
        F.coalesce("n_delta", F.lit(0)).alias("n_delta"),
        F.coalesce("rev_delta_cents", F.lit(0)).alias("rev_delta_cents"),
    )
    return (
        merged.select(
            *keys,
            "n_before",
            "rev_before_cents",
            "n_delta",
            "rev_delta_cents",
            (F.col("n_before") + F.col("n_delta")).alias("n_after"),
            (F.col("rev_before_cents") + F.col("rev_delta_cents")).alias(
                "rev_after_cents"
            ),
        )
        .filter(F.col("n_after") > 0)
        .orderBy(*keys)
    )


# -------------- min/max MV maintenance: dirty-group partial recompute

_MV_MINMAX_ORACLE = """
WITH cents AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
base AS (SELECT * FROM cents WHERE o_orderkey % 10 <> 0),
ins  AS (SELECT * FROM cents WHERE o_orderkey % 10 = 0),
dels AS (SELECT * FROM base  WHERE o_orderkey % 7 = 0),
mv AS (
  SELECT o_orderstatus, o_orderpriority,
         min(cents) AS mn0, max(cents) AS mx0
  FROM base GROUP BY 1, 2
),
-- a group is dirty iff some DELETED row carries the group's standing
-- extreme: only then can the min/max have moved, so only then is a
-- rescan of the group's surviving rows needed
dirty AS (
  SELECT DISTINCT d.o_orderstatus, d.o_orderpriority
  FROM dels d JOIN mv USING (o_orderstatus, o_orderpriority)
  WHERE d.cents = mv.mn0 OR d.cents = mv.mx0
),
final AS (
  SELECT * FROM base WHERE o_orderkey % 7 <> 0
  UNION ALL SELECT * FROM ins
),
after AS (
  SELECT o_orderstatus, o_orderpriority,
         count(*) AS n_after,
         min(cents) AS min_after, max(cents) AS max_after
  FROM final GROUP BY 1, 2
)
SELECT a.o_orderstatus, a.o_orderpriority, a.n_after, a.min_after,
       a.max_after,
       EXISTS (
         SELECT 1 FROM dirty dt
         WHERE dt.o_orderstatus = a.o_orderstatus
           AND dt.o_orderpriority = a.o_orderpriority
       ) AS recomputed
FROM after a
ORDER BY a.o_orderstatus, a.o_orderpriority
"""


@register(
    "mv_minmax_partial_recompute",
    oracle=_MV_MINMAX_ORACLE,
    tags=("ingest", "agg", "mv"),
)
def mv_minmax_partial_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX materialized-view maintenance under deletes — the
    non-self-maintainable counterpart to `mv_incremental_refresh`
    (count/sum fold algebraically; min/max cannot, because a delete that
    removes the standing extreme leaves no way to derive the new one
    from the view alone). The production pattern is DIRTY-GROUP PARTIAL
    RECOMPUTE: a group is dirty iff some deleted row carries the group's
    current extreme; clean groups merge cheaply (inserts can only extend
    extremes: least/greatest against the insert-batch extremes), and
    ONLY dirty groups rescan their surviving rows — the rescan is
    semi-join-filtered to the dirty key set, so its cost scales with the
    dirty groups' data, not the base relation.

    The output's `recomputed` flag pins the dirty-detection logic and
    the min/max columns pin BOTH maintenance paths (the engine's clean
    path is least/greatest algebra; the oracle derives every value by
    direct recompute — a wrong clean-path shortcut or a missed dirty
    group shows up as a value mismatch). Same deterministic folds as
    the additive MV: inserts o_orderkey%10==0, deletes base%7==0."""
    orders = load_tables(spark, sf_dir)["orders"]
    keys = ["o_orderstatus", "o_orderpriority"]
    cents = orders.select(
        "o_orderkey",
        *keys,
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    base = cents.filter(F.col("o_orderkey") % 10 != 0)
    ins = cents.filter(F.col("o_orderkey") % 10 == 0)
    dels = base.filter(F.col("o_orderkey") % 7 == 0)
    survivors = base.filter(F.col("o_orderkey") % 7 != 0)
    return minmax_mv_refresh(base, ins, dels, survivors, keys)


def minmax_mv_refresh(
    base: DataFrame,
    ins: DataFrame,
    dels: DataFrame,
    survivors: DataFrame,
    keys: list[str],
) -> DataFrame:
    """The dirty-group min/max maintenance core of
    `mv_minmax_partial_recompute`, factored over arbitrary
    (key..., cents) relations so tests can drive the edge cases the
    fixture folds may not hit (fully-deleted group, insert-only new
    group, duplicated extremes) against a brute-force recompute."""
    from ..persistence import tracked_persist

    mv = tracked_persist(
        base.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n0"),
            F.min("cents").alias("mn0"),
            F.max("cents").alias("mx0"),
        )
    )  # read by the dirty probe AND the clean merge
    dirty = (
        dels.join(mv.select(*keys, "mn0", "mx0"), keys)
        .filter((F.col("cents") == F.col("mn0")) | (F.col("cents") == F.col("mx0")))
        .select(*keys)
        .distinct()
    )
    dirty = tracked_persist(dirty)  # drives one anti-join + two semi-joins
    insagg = ins.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("ni"),
        F.min("cents").alias("mni"),
        F.max("cents").alias("mxi"),
    )
    delagg = dels.groupBy(*keys).agg(F.count(F.lit(1)).alias("nd"))

    # clean path: pure view algebra, no base rescan (least/greatest skip
    # nulls in both engines, covering new-group and no-insert cases)
    clean = (
        mv.join(insagg, keys, "full_outer")
        .join(delagg, keys, "left")
        .join(dirty, keys, "left_anti")
        .select(
            *keys,
            (
                F.coalesce("n0", F.lit(0))
                - F.coalesce("nd", F.lit(0))
                + F.coalesce("ni", F.lit(0))
            ).alias("n_after"),
            F.least("mn0", "mni").alias("min_after"),
            F.greatest("mx0", "mxi").alias("max_after"),
            F.lit(False).alias("recomputed"),
        )
        .filter(F.col("n_after") > 0)
    )
    # dirty path: rescan ONLY the dirty groups' surviving rows
    dirty_rows = survivors.unionByName(ins).join(dirty, keys, "left_semi")
    recomputed = dirty_rows.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_after"),
        F.min("cents").alias("min_after"),
        F.max("cents").alias("max_after"),
    ).withColumn("recomputed", F.lit(True))
    return clean.unionByName(recomputed).orderBy(*keys)
