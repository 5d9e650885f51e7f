"""Training-data pipeline compositions over `documents` / `embeddings` —
the end-to-end curation operations a 100 TB corpus build runs on top of the
per-document primitives in text_analysis.py / dedup.py.

Everything here is built-in expression + window/aggregate work (no Python
in the hot path): curation filtering, exact-dedup survivor selection,
deterministic splitting, sequence packing, TF-IDF term extraction, n-gram
statistics, stratified sampling, and int8 embedding quantization. Each is
oracle-paired — the determinism rules from registry.py (identical rounding,
md5-based hashing, total ordering) make even the float-heavy ops
(TF-IDF, quantization) exactly comparable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_tables, parallelize_scan
from ..registry import register

from ._text import WORDS_DUCK as _WORDS_DUCK  # noqa: E402
from ._text import WORDS_SPARK as _WORDS_SPARK  # noqa: E402

# ------------------------------------------------- corpus curation pipeline

_CURATION_ORACLE = f"""
WITH metrics AS (
  SELECT doc_id, n_chars,
         len({_WORDS_DUCK}) AS n_words,
         len(list_distinct({_WORDS_DUCK})) * 1.0
           / len({_WORDS_DUCK}) AS distinct_ratio,
         md5(lower(trim(text))) AS fp,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
           % 100 AS bucket
  FROM documents
),
filtered AS (
  SELECT * FROM metrics WHERE n_words >= 20 AND distinct_ratio >= 0.30
),
survivors AS (
  SELECT * FROM filtered
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp)
)
SELECT CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_tokens,
       round(avg(distinct_ratio), 4) AS avg_distinct_ratio
FROM survivors
GROUP BY 1
ORDER BY split
"""


@register("corpus_curation_pipeline", oracle=_CURATION_ORACLE, tags=("llm", "pipeline", "headline"))
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation DAG as ONE Catalyst plan: quality filter
    (length + type-token ratio) → exact-dedup survivor selection (min
    doc_id per content fingerprint) → deterministic md5 train/val/test
    split → per-split corpus statistics.

    Scale shape: the metrics pass is map-only; the survivor selection is
    one hash shuffle on the fingerprint (window min over fp, same exchange
    an aggregation would use); the final stats agg is partial-pushed. At
    100 TB: ~2 shuffles total, and the quality filter runs BEFORE the
    dedup shuffle so boilerplate junk never pays shuffle I/O — filter
    placement is the point of composing curation as one plan instead of
    materializing each stage."""
    docs = parallelize_scan(
        load_tables(spark, sf_dir)["documents"].select(
            "doc_id", "text", "n_chars"
        ),
        "doc_id",
    )
    w_col = F.expr(_WORDS_SPARK)
    metrics = docs.select(
        "doc_id",
        F.size(w_col).alias("n_words"),
        (F.size(F.array_distinct(w_col)) * F.lit(1.0) / F.size(w_col)).alias(
            "distinct_ratio"
        ),
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
            ).cast("long")
            % 100
        ).alias("bucket"),
    )
    filtered = metrics.filter(
        (F.col("n_words") >= 20) & (F.col("distinct_ratio") >= 0.30)
    )
    surv_w = Window.partitionBy("fp")
    survivors = filtered.withColumn(
        "keep_id", F.min("doc_id").over(surv_w)
    ).filter(F.col("doc_id") == F.col("keep_id"))
    split = (
        F.when(F.col("bucket") < 90, "train")
        .when(F.col("bucket") < 95, "val")
        .otherwise("test")
    )
    return (
        survivors.select(split.alias("split"), "n_words", "distinct_ratio")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_tokens"),
            F.round(F.avg("distinct_ratio"), 4).alias("avg_distinct_ratio"),
        )
        .orderBy("split")
    )


# ------------------------------------------------------- sequence packing

_PACK_BUDGET = 1024  # tokens per packed training sequence

_SEQ_PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, len({_WORDS_DUCK}) AS n_tokens FROM documents
),
packed AS (
  SELECT lang, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tokens)
                    / {_PACK_BUDGET}) AS BIGINT) AS bin
  FROM t
)
SELECT lang, bin,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
FROM packed
GROUP BY lang, bin
ORDER BY lang, bin
"""


@register("seq_packing_bins", oracle=_SEQ_PACK_ORACLE, tags=("llm", "pipeline"))
def seq_packing_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed-token-budget training
    sequences by running token count — the packing step that turns a
    filtered corpus into dense, fixed-length training batches. Bin id is
    `floor(exclusive_cumsum(tokens) / budget)` within a pack group.

    Scale shape: packing is per-GROUP (here `lang`; in production the
    shard/split key), so the cumulative-sum window hash-partitions by the
    group key and sorts within partitions — no global order, no single
    -partition window. A corpus-wide global packing order would serialize
    at any scale; grouped packing is how real pipelines shard the
    problem."""
    docs = parallelize_scan(
        load_tables(spark, sf_dir)["documents"].select("doc_id", "lang", "text"),
        "doc_id",
    )
    t = docs.select(
        "doc_id", "lang", F.expr(f"size({_WORDS_SPARK})").alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = t.select(
        "lang",
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / _PACK_BUDGET
        ).alias("bin"),
    )
    return (
        packed.groupBy("lang", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
        .orderBy("lang", "bin")
    )


# ---------------------------------------------------------- TF-IDF terms

_TFIDF_ORACLE = f"""
WITH words AS (
  SELECT doc_id, unnest({_WORDS_DUCK}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term
),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM words GROUP BY term
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 4) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
  WHERE tf.doc_id < 25
)
SELECT doc_id, term, tfidf, rank FROM (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term) AS rank
  FROM scored
)
WHERE rank <= 3
ORDER BY doc_id, rank
"""


@register("text_tfidf_top_terms", oracle=_TFIDF_ORACLE, tags=("llm", "text", "pipeline"))
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (for a 25-doc slice, with document
    frequency computed over the FULL corpus) — keyword extraction /
    document signature, the classic two-aggregation text pipeline.

    Scale shape: one explode + two hash aggregations (tf by (doc, term),
    df by term) + an equi-join on term; the corpus-size scalar rides a
    1-row broadcast. The df relation is vocabulary-sized (≪ corpus);
    Zipf-skewed hot terms in the tf→df join are exactly what AQE
    skew-join splits. Ranking is a per-doc window after the join, so no
    global sort anywhere."""
    docs = parallelize_scan(
        load_tables(spark, sf_dir)["documents"].select("doc_id", "text"),
        "doc_id",
    )
    words = docs.select(
        "doc_id", F.explode_outer(F.expr(_WORDS_SPARK)).alias("term")
    )
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = words.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") < 25)
        .join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
        .orderBy("doc_id", "rank")
    )


# --------------------------------------------------------- bigram counts

_BIGRAM_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {_WORDS_DUCK} AS arr FROM documents
),
bigrams AS (
  SELECT arr[i] || ' ' || arr[i + 1] AS bigram
  FROM w, unnest(range(1, len(arr))) AS t(i)
  WHERE len(arr) >= 2
)
SELECT bigram, count(*) AS n
FROM bigrams
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 20
"""


@register("ngram_bigram_top", oracle=_BIGRAM_ORACLE, tags=("llm", "text", "pipeline"))
def ngram_bigram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 bigrams — the n-gram statistics pass behind
    language-model data analysis (boilerplate detection, contamination
    screens, vocabulary building). Map-only bigram generation from the
    words array (no self-join), one count shuffle with map-side partial
    aggregation, TakeOrderedAndProject for the top-k — the count agg
    collapses the shuffle to distinct-bigram cardinality per partition."""
    docs = parallelize_scan(
        load_tables(spark, sf_dir)["documents"].select("text"),
    )
    w = docs.select(F.expr(_WORDS_SPARK).alias("arr")).filter(
        F.size("arr") >= 2
    )
    bigrams = w.select(
        F.explode_outer(
            F.expr(
                "transform(sequence(0, size(arr) - 2),"
                " i -> concat(arr[i], ' ', arr[i+1]))"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


# ---------------------------------------------------- stratified sampling

# per-language sampling rates (percent) — the "data mixing" knob: english
# kept at a higher rate than the rest, deterministic via content-stable md5
_STRATA_RATES = {"en": 50, "es": 25, "de": 25, "fr": 10}


def _rate_case_duck() -> str:
    whens = " ".join(
        f"WHEN lang = '{k}' THEN {v}" for k, v in _STRATA_RATES.items()
    )
    return f"CASE {whens} ELSE 0 END"


_STRATIFIED_ORACLE = f"""
WITH h AS (
  SELECT lang,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8)) AS UBIGINT)
           % 100 AS bucket
  FROM documents
)
SELECT lang,
       count(*) AS n_total,
       count(*) FILTER (WHERE bucket < {_rate_case_duck()}) AS n_sampled,
       round(count(*) FILTER (WHERE bucket < {_rate_case_duck()}) * 1.0
             / count(*), 4) AS sampled_frac
FROM h
GROUP BY lang
ORDER BY lang
"""


@register("stratified_sample_by_lang", oracle=_STRATIFIED_ORACLE, tags=("llm", "pipeline"))
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling with per-language rates (the data
    -mixing step: upsample scarce/high-value strata, downsample the rest).
    Membership is a pure function of doc_id (md5 bucket, offset 8 chars so
    it is independent of the train/val/test split hash) — reproducible
    across runs, engines, and corpus growth, unlike `sample()` whose
    output depends on partitioning. Map-only + one agg shuffle; as a
    filter it pushes straight into a scan at 100 TB."""
    docs = load_tables(spark, sf_dir)["documents"]
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 9, 8), 16, 10)
        .cast("long")
        % 100
    )
    rate = F.lit(0)
    for k, v in _STRATA_RATES.items():
        rate = F.when(F.col("lang") == k, v).otherwise(rate)
    sampled = F.when(bucket < rate, 1).otherwise(0)
    return (
        docs.select("lang", sampled.alias("s"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("s").alias("n_sampled"),
            F.round(F.sum("s") * F.lit(1.0) / F.count(F.lit(1)), 4).alias(
                "sampled_frac"
            ),
        )
        .orderBy("lang")
    )


# ----------------------------------------------- int8 embedding quantize

_QUANTIZE_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id < 200
),
scaled AS (
  SELECT vec_id,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale,
         v
  FROM e
),
q AS (
  SELECT vec_id, scale,
         list_transform(v, x -> CAST(round(x / scale) AS BIGINT)) AS qv
  FROM scaled
)
SELECT vec_id,
       round(scale, 6) AS scale,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_min(qv) AS BIGINT) AS q_min,
       CAST(list_max(qv) AS BIGINT) AS q_max
FROM q
ORDER BY vec_id
"""


@register("embedding_int8_quantize", oracle=_QUANTIZE_ORACLE, tags=("llm", "similarity", "pipeline"))
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (per-vector
    max-abs scale, values in [-127, 127]) — the compression step before
    shipping an ANN index; 4x smaller than float32, 8x than float64.
    Output is the per-vector scale plus quantized-array checksums (sum/
    min/max), keeping the oracle compact while pinning every quantized
    value through the sum.

    All JVM higher-order array expressions, map-only, no shuffle but the
    presentation sort. Exact cross-engine comparison works because round
    -half-away semantics agree between Spark's ROUND and DuckDB's round()
    for these scales (no representable exact-.5 quotients in the
    fixture)."""
    emb = load_tables(spark, sf_dir)["embeddings"].filter(F.col("vec_id") < 200)
    scaled = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn(
        "scale",
        F.expr("array_max(transform(v, x -> abs(x)))") / F.lit(127.0),
    )
    q = scaled.withColumn(
        "qv", F.expr("transform(v, x -> CAST(round(x / scale) AS BIGINT))")
    )
    return q.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.expr("aggregate(qv, 0L, (acc, x) -> acc + x)").alias("q_sum"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
    ).orderBy("vec_id")


# -------------------------------------------------- deterministic epoch shuffle

_EPOCHS = 3
_EPOCH_HEAD = 8

_EPOCH_SHUFFLE_ORACLE = f"""
WITH keyed AS (
  SELECT e.epoch, doc_id,
         md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents, (SELECT unnest(range(0, {_EPOCHS})) AS epoch) e
),
r AS (
  SELECT epoch, doc_id, k,
         row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id) AS pos
  FROM keyed
)
SELECT CAST(epoch AS INT) AS epoch, pos, doc_id, k
FROM r WHERE pos <= {_EPOCH_HEAD}
ORDER BY epoch, pos
"""


@register("corpus_epoch_shuffle", oracle=_EPOCH_SHUFFLE_ORACLE, tags=("llm", "pipeline", "sample"))
def corpus_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded per-epoch global shuffle order: every training epoch gets an
    independent, fully reproducible permutation of the corpus via
    key = md5(epoch ':' doc_id) — re-running epoch 2 after a crash
    yields the identical order on any cluster size, the property data
    loaders need for resumable multi-epoch training. Emitted here as the
    first 8 positions of each epoch's order (the verifiable probe).

    Plan: the shuffle KEY is a pure map-side function of (epoch, row);
    this probe takes each epoch's head via a total-ordered sort-limit
    (TakeOrderedAndProject — per-partition top-N, no global sort). The
    production materialization is the same key fed to
    repartitionByRange(k).sortWithinPartitions(k): a single range
    exchange per epoch writes the full permuted corpus, and epochs are
    independent jobs — nothing here is driver-side or
    permutation-in-memory."""
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id")
    per_epoch = []
    for e in range(_EPOCHS):
        k = F.md5(F.concat(F.lit(str(e)), F.lit(":"), F.col("doc_id").cast("string")))
        head = (
            docs.select(
                F.lit(e).alias("epoch"), "doc_id", k.alias("k")
            )
            .orderBy("k", "doc_id")
            .limit(_EPOCH_HEAD)
        )
        per_epoch.append(head)
    out = per_epoch[0]
    for h in per_epoch[1:]:
        out = out.unionAll(h)
    from pyspark.sql import Window

    w = Window.partitionBy("epoch").orderBy("k", "doc_id")
    return (
        out.withColumn("pos", F.row_number().over(w))
        .select("epoch", "pos", "doc_id", "k")
        .orderBy("epoch", "pos")
    )


# ------------------------------------------------- end-to-end recipe funnel

_RECIPE_PACK_BUDGET = 512

_RECIPE_FUNNEL_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text, {_WORDS_DUCK} AS w
  FROM documents
),
m AS (
  SELECT doc_id, text, len(w) AS nw,
         list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w) AS awl,
         len(list_filter(w, x -> list_contains(['the','a','of','and','to'], x)))
           AS ns,
         list_max(list_transform(list_distinct(w),
                                 x -> len(list_filter(w, y -> y = x))))
           * 1.0 / len(w) AS top_frac,
         w
  FROM t
),
quality AS (
  SELECT doc_id, text, nw, w FROM m
  WHERE nw BETWEEN 30 AND 1000 AND awl BETWEEN 2.0 AND 12.0
    AND ns >= 2 AND top_frac <= 0.15
),
survivors AS (
  SELECT min(doc_id) AS doc_id
  FROM quality GROUP BY md5(lower(trim(text)))
),
deduped AS (
  SELECT q.doc_id, q.nw, q.w FROM quality q
  JOIN survivors s ON q.doc_id = s.doc_id
),
grams AS (
  SELECT doc_id, array_to_string(arr[i:i+7], ' ') AS g
  FROM (SELECT doc_id, w AS arr FROM t)
       , unnest(generate_series(1, len(arr) - 7)) AS u(i)
  WHERE len(arr) >= 8
),
eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
clean AS (
  SELECT d.doc_id, d.nw FROM deduped d
  WHERE d.doc_id % 97 <> 0
    AND NOT EXISTS (SELECT 1 FROM grams gr JOIN eval_grams e ON gr.g = e.g
                    WHERE gr.doc_id = d.doc_id)
)
SELECT * FROM (
  SELECT 1 AS stage_order, 'raw' AS stage,
         count(*) AS n_docs, CAST(sum(nw) AS BIGINT) AS n_tokens FROM m
  UNION ALL
  SELECT 2, 'quality_pass', count(*), CAST(sum(nw) AS BIGINT) FROM quality
  UNION ALL
  SELECT 3, 'dedup_survivor', count(*), CAST(sum(nw) AS BIGINT) FROM deduped
  UNION ALL
  SELECT 4, 'decontaminated', count(*), CAST(sum(nw) AS BIGINT) FROM clean
  UNION ALL
  SELECT 5, 'packed_bins',
         CAST(ceil(CAST(sum(nw) AS DOUBLE) / 512) AS BIGINT), 
         CAST(sum(nw) AS BIGINT)
  FROM clean
)
ORDER BY stage_order
"""


@register("corpus_recipe_funnel", oracle=_RECIPE_FUNNEL_ORACLE, tags=("llm", "pipeline", "headline"))
def corpus_recipe_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data recipe as ONE Catalyst DAG with a retention
    funnel: raw corpus → Gopher-rule quality gate → exact-dedup survivors
    → benchmark decontamination (8-gram overlap vs the held-out split) →
    packed-sequence estimate at a 512-token budget. Each row reports the
    docs/tokens surviving that stage — the per-stage loss accounting
    every data recipe publishes (and the first thing reviewed when a
    filter change moves downstream eval).

    Composes the SAME stage definitions the standalone queries register
    (`text_gopher_quality`, `dedup_exact`, `decontaminate_ngram`,
    `seq_packing_bins`), proving the operators stack into a pipeline
    without semantic drift. Plan: word/feature metrics are computed once
    map-side; the quality gate is a filter; dedup adds ONE fingerprint
    shuffle; the contamination probe is a broadcast semi-join of the
    benchmark-sized gram set; the funnel rows are 1-row aggregates
    unioned. The corpus text column is scanned once for metrics and once
    for grams — never shuffled."""
    docs = parallelize_scan(
        load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    )
    m = docs.select(
        "doc_id",
        "text",
        F.expr(_WORDS_SPARK).alias("w"),
    ).select(
        "doc_id",
        "text",
        "w",
        F.size("w").alias("nw"),
        (
            F.expr("aggregate(transform(w, x -> length(x)), 0L, (a, x) -> a + x)")
            * F.lit(1.0)
            / F.size("w")
        ).alias("awl"),
        F.expr(
            "size(filter(w, x -> x IN ('the','a','of','and','to')))"
        ).alias("ns"),
        (
            F.expr(
                "array_max(transform(array_distinct(w),"
                " x -> size(filter(w, y -> y = x))))"
            )
            * F.lit(1.0)
            / F.size("w")
        ).alias("top_frac"),
    )
    quality = m.filter(
        F.col("nw").between(30, 1000)
        & F.col("awl").between(2.0, 12.0)
        & (F.col("ns") >= 2)
        & (F.col("top_frac") <= 0.15)
    ).select("doc_id", "text", "nw", "w")
    survivors = (
        quality.groupBy(F.md5(F.lower(F.trim(F.col("text")))).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    deduped = quality.join(survivors, "doc_id", "left_semi").select(
        "doc_id", "nw", "w"
    )
    grams = (
        m.filter(F.size("w") >= 8)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 8),"
                    " i -> array_join(slice(w, i + 1, 8), ' '))"
                )
            ).alias("g"),
        )
    )
    eval_grams = grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    contaminated = (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(eval_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = (
        deduped.filter(F.col("doc_id") % 97 != 0)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "nw")
    )

    def stage(order: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nw").cast("bigint").alias("n_tokens"),
        ).select(
            F.lit(order).alias("stage_order"), F.lit(name).alias("stage"),
            "n_docs", "n_tokens",
        )

    packed = clean.agg(
        F.ceil(F.sum("nw").cast("double") / _RECIPE_PACK_BUDGET)
        .cast("bigint")
        .alias("n_docs"),
        F.sum("nw").cast("bigint").alias("n_tokens"),
    ).select(
        F.lit(5).alias("stage_order"), F.lit("packed_bins").alias("stage"),
        "n_docs", "n_tokens",
    )
    return (
        stage(1, "raw", m)
        .unionAll(stage(2, "quality_pass", quality))
        .unionAll(stage(3, "dedup_survivor", deduped))
        .unionAll(stage(4, "decontaminated", clean))
        .unionAll(packed)
        .orderBy("stage_order")
    )


# ------------------------------------------- mapInArrow L2 normalization

_NORMALIZE_ORACLE = """
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings
),
n AS (
  SELECT vec_id, label, ve,
         sqrt(list_sum(list_transform(ve, x -> x * x))) AS nrm
  FROM v
)
SELECT vec_id, label,
       round(nrm, 6) AS l2_norm,
       round(ve[1] / nrm, 6) AS unit_head,
       round(list_sum(list_transform(ve, x -> x / nrm)), 6) AS unit_sum
FROM n
ORDER BY vec_id
"""


def _normalize_batches(batches):
    """Arrow-native L2 normalization: zero-copy column access, float64
    math, one vectorized numpy pass per RecordBatch."""
    import numpy as np
    import pyarrow as pa

    for batch in batches:
        emb = batch.column(batch.schema.get_field_index("embedding"))
        flat = np.asarray(emb.flatten(), dtype=np.float64)
        lens = np.diff(np.asarray(emb.offsets))
        if len(lens) == 0:
            continue
        dim = int(lens[0])
        assert (lens == dim).all(), "ragged embedding batch"
        mat = flat.reshape(-1, dim)
        norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        unit = mat / norms[:, None]
        yield pa.record_batch(
            {
                "vec_id": batch.column(batch.schema.get_field_index("vec_id")),
                "label": batch.column(batch.schema.get_field_index("label")),
                "l2_norm": pa.array(norms, type=pa.float64()),
                "unit_head": pa.array(unit[:, 0], type=pa.float64()),
                "unit_sum": pa.array(unit.sum(axis=1), type=pa.float64()),
            }
        )


@register(
    "embedding_mapinarrow_normalize",
    oracle=_NORMALIZE_ORACLE,
    tags=("llm", "similarity", "udf"),
)
def embedding_mapinarrow_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 normalization via mapInArrow — the zero-copy Arrow
    batch API, completing the engine's Python-surface matrix (pandas_udf
    scalar: dedup_simhash; grouped-agg UDAF: text_geomean_chars_udaf;
    mapInPandas: multimodal; applyInPandas: events_forecast_holt; WithState:
    streaming; UDTF: text_tokenize_udtf; mapInArrow: HERE). For pure
    numeric array kernels mapInArrow beats mapInPandas: no pandas
    conversion, the numpy view aliases the Arrow buffer directly.

    Emits the norm plus two checksums of the normalized vector (head
    component + component sum) so the oracle pins every output value
    without shipping 64 floats per row. Math runs in float64 on both
    sides; the ≤1-ulp pairwise-vs-sequential summation difference is
    absorbed by round(6), the registry-wide float policy. Map-only: the
    one shuffle is the presentation sort."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    out = emb.select("vec_id", "embedding", "label").mapInArrow(
        _normalize_batches,
        "vec_id long, label int, l2_norm double, unit_head double, unit_sum double",
    )
    return out.select(
        "vec_id",
        "label",
        F.round("l2_norm", 6).alias("l2_norm"),
        F.round("unit_head", 6).alias("unit_head"),
        F.round("unit_sum", 6).alias("unit_sum"),
    ).orderBy("vec_id")


# ---------------------------------------------------- RAG chunking pass

_CHUNK_W = 48  # words per chunk
_CHUNK_STRIDE = 32  # words between chunk starts (48-32 = 16-word overlap)

_RAG_CHUNK_ORACLE = f"""
WITH w AS (
  SELECT doc_id, lang, {_WORDS_DUCK} AS arr FROM documents
),
chunks AS (
  SELECT doc_id, lang, CAST(t.i AS INTEGER) AS chunk_idx,
         list_slice(arr, t.i * {_CHUNK_STRIDE} + 1,
                    t.i * {_CHUNK_STRIDE} + {_CHUNK_W}) AS cw
  FROM w, unnest(range(0, greatest(1,
           CAST(ceil((len(arr) - {_CHUNK_W}) / {_CHUNK_STRIDE}) AS BIGINT) + 1)))
         AS t(i)
  WHERE len(arr) > 0 AND t.i * {_CHUNK_STRIDE} < len(arr)
),
fp AS (
  SELECT doc_id, lang, chunk_idx, len(cw) AS n_words,
         md5(array_to_string(cw, ' ')) AS chunk_md5
  FROM chunks
)
SELECT lang,
       count(*) AS n_chunks,
       count(DISTINCT doc_id) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       count(DISTINCT chunk_md5) AS n_unique_chunks
FROM fp
GROUP BY lang
ORDER BY lang
"""


@register("text_rag_chunking", oracle=_RAG_CHUNK_ORACLE, tags=("llm", "text", "pipeline"))
def text_rag_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG corpus chunking: every document split into 48-word windows
    advancing by 32 (16-word overlap so no answer span is cut at a
    boundary) — the pass that turns a raw corpus into the retrieval units
    an embedding index serves. Emitted as the per-language chunk census
    (counts, word volume, DISTINCT chunk fingerprints — overlapping
    windows of duplicated docs collapse, previewing the chunk-level dedup
    a retrieval corpus needs).

    Plan: map-only explode — each doc expands to ceil((len-W)/S)+1
    chunks, ~1.5x row growth at these parameters, with only (lang,
    16-byte md5) reaching the final partial-agg'd shuffle; the text
    itself never moves after the explode. At 100 TB the chunk rows
    stream straight into the embedding kernel (`mapInPandas`) and the
    ANN index builders downstream — same movement, no extra pass."""
    docs = load_tables(spark, sf_dir)["documents"]
    w = docs.select("doc_id", "lang", F.expr(_WORDS_SPARK).alias("arr")).filter(
        F.size("arr") > 0
    )
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size("arr") - _CHUNK_W) / F.lit(_CHUNK_STRIDE)).cast("int") + 1,
    )
    chunks = w.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        "arr",
    ).filter(F.col("chunk_idx") * _CHUNK_STRIDE < F.size("arr"))
    fp = chunks.select(
        "doc_id",
        "lang",
        "chunk_idx",
        F.expr(
            f"slice(arr, chunk_idx * {_CHUNK_STRIDE} + 1, {_CHUNK_W})"
        ).alias("cw"),
    ).select(
        "doc_id",
        "lang",
        "chunk_idx",
        F.size("cw").alias("n_words"),
        F.md5(F.array_join("cw", " ")).alias("chunk_md5"),
    )
    return (
        fp.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_words"),
            F.count_distinct("chunk_md5").alias("n_unique_chunks"),
        )
        .orderBy("lang")
    )


# --------------------------------------------- sequence packing (token bins)

_SEQ_LEN = 2048

_PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         len({_WORDS_DUCK}) AS ntok
  FROM documents
),
c AS (
  SELECT doc_id, ntok,
         sum(ntok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT CAST((cum - ntok) // {_SEQ_LEN} AS BIGINT) AS bin_id,
       count(*) AS n_docs,
       CAST(sum(ntok) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM c
GROUP BY 1
ORDER BY 1
"""


@register("corpus_pack_sequences", oracle=_PACK_ORACLE, tags=("llm", "pipeline"))
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, concat-then-chunk regime: documents in stable
    doc_id order are laid end-to-end on the token axis and cut into
    fixed 2048-token training bins; a document's bin is where its
    FIRST token lands (the standard pretraining packing — contrast with
    first-fit bin packing, which reorders documents to minimize padding
    and breaks epoch-order reproducibility). Output is the per-bin
    census: documents starting in the bin, their token mass, and the
    doc-id span — what a data-loader shard manifest contains.

    This is `ranking.global_cumsum`'s anchor: the running token total is
    the distributed prefix-sum (range partition on doc_id → local window
    sum → broadcast per-partition offsets), so NO corpus-cardinality
    single-partition window exists anywhere — at 100 TB the token
    position of every document is assigned in two bounded-memory passes.
    Token counts are integer whitespace-token counts, so the running sum
    is exact in both engines; bin arithmetic is integral (`div`)."""
    from .ranking import global_cumsum

    docs = load_tables(spark, sf_dir)["documents"]
    t = parallelize_scan(docs.select("doc_id", "text")).select(
        "doc_id",
        F.expr(f"size({_WORDS_SPARK})")
        .cast("bigint")
        .alias("ntok"),
    )
    c = global_cumsum(t, ["doc_id"], "ntok", cumsum_col="cum")
    return (
        c.select(
            "doc_id",
            "ntok",
            F.expr(f"(cum - ntok) div {_SEQ_LEN}").alias("bin_id"),
        )
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("bin_id")
    )


# ------------------------------------------ leakage-safe train/val split

_SPLIT_LEAK_ORACLE = """
WITH f AS (
  SELECT doc_id, md5(text) AS fp,
         CAST(('0x' || substr(md5(md5(text)), 1, 8)) AS UBIGINT) % 100 AS gb,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
           % 100 AS nb
  FROM documents
),
per_fp AS (
  SELECT fp,
         count(*) FILTER (WHERE gb < 90) AS g_tr,
         count(*) FILTER (WHERE gb >= 90) AS g_ho,
         count(*) FILTER (WHERE nb < 90) AS d_tr,
         count(*) FILTER (WHERE nb >= 90) AS d_ho
  FROM f GROUP BY fp
),
s AS (
  SELECT 'grouped' AS strategy, g_tr AS n_tr, g_ho AS n_ho FROM per_fp
  UNION ALL
  SELECT 'naive', d_tr, d_ho FROM per_fp
)
SELECT strategy,
       CAST(sum(n_tr) AS BIGINT) AS n_train,
       CAST(sum(n_ho) AS BIGINT) AS n_holdout,
       count(*) AS n_fingerprints,
       count(*) FILTER (WHERE n_tr > 0 AND n_ho > 0) AS leaked_fingerprints
FROM s
GROUP BY strategy
ORDER BY strategy
"""


@register("corpus_split_no_leakage", oracle=_SPLIT_LEAK_ORACLE, tags=("llm", "pipeline", "dedup"))
def corpus_split_no_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/holdout split, measured against the naive one:
    assigning a document's side by a hash of its CONTENT fingerprint
    (md5(text)) guarantees exact duplicates can never straddle the split
    — `leaked_fingerprints` is structurally 0 — while the naive
    by-doc-id split leaks every duplicated fingerprint whose copies hash
    to different sides (the quiet eval-contamination path: a val doc
    whose twin sat in train). One output row per strategy makes the
    difference a measured number, not a claim. The same grouping key
    generalizes to near-dup cluster ids (`dedup_lsh_clusters`) for
    fuzzy-leakage-safe splits.

    md5 (not xxhash64) keeps the bucket arithmetic engine-identical, the
    same trick as `text_hash_split`. Plan: one map-only pass derives
    fingerprint + both buckets, ONE fingerprint-keyed partial-agg'd
    shuffle, a bounded 2-way explode, and a 2-row census — at 100 TB the
    fingerprint exchange is the only data movement."""
    docs = load_tables(spark, sf_dir)["documents"]

    def bucket(col):
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % 100

    def count_if(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    f = docs.select(
        F.md5("text").alias("fp"),
        bucket(F.md5("text")).alias("gb"),
        bucket(F.col("doc_id").cast("string")).alias("nb"),
    )
    per_fp = f.groupBy("fp").agg(
        count_if(F.col("gb") < 90).alias("g_tr"),
        count_if(F.col("gb") >= 90).alias("g_ho"),
        count_if(F.col("nb") < 90).alias("d_tr"),
        count_if(F.col("nb") >= 90).alias("d_ho"),
    )
    s = per_fp.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("grouped").alias("strategy"),
                    F.col("g_tr").alias("n_tr"),
                    F.col("g_ho").alias("n_ho"),
                ),
                F.struct(
                    F.lit("naive").alias("strategy"),
                    F.col("d_tr").alias("n_tr"),
                    F.col("d_ho").alias("n_ho"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    return (
        s.groupBy("strategy")
        .agg(
            F.sum("n_tr").cast("bigint").alias("n_train"),
            F.sum("n_ho").cast("bigint").alias("n_holdout"),
            F.count(F.lit(1)).alias("n_fingerprints"),
            count_if((F.col("n_tr") > 0) & (F.col("n_ho") > 0)).alias(
                "leaked_fingerprints"
            ),
        )
        .orderBy("strategy")
    )


# ------------------------------------------------- PMI collocation mining

_PMI_MIN_COUNT = 10

_PMI_ORACLE = f"""
WITH w AS (
  SELECT {_WORDS_DUCK} AS arr FROM documents
),
uni AS (
  SELECT unnest(arr) AS tok FROM w
),
uni_counts AS (
  SELECT tok, count(*) AS n FROM uni GROUP BY 1
),
n_tokens AS (SELECT CAST(count(*) AS BIGINT) AS n FROM uni),
big AS (
  SELECT arr[i] AS w1, arr[i + 1] AS w2
  FROM w, unnest(range(1, len(arr))) AS t(i)
  WHERE len(arr) >= 2
),
big_counts AS (
  SELECT w1, w2, count(*) AS n_xy FROM big GROUP BY 1, 2
  HAVING count(*) >= {_PMI_MIN_COUNT}
)
SELECT b.w1 || ' ' || b.w2 AS bigram,
       b.n_xy,
       u1.n AS n_w1,
       u2.n AS n_w2,
       round(log2(b.n_xy * t.n * 1.0 / (u1.n * u2.n)), 4) AS pmi
FROM big_counts b
JOIN uni_counts u1 ON b.w1 = u1.tok
JOIN uni_counts u2 ON b.w2 = u2.tok
CROSS JOIN n_tokens t
ORDER BY pmi DESC, bigram
LIMIT 20
"""


@register("text_pmi_collocations", oracle=_PMI_ORACLE, tags=("llm", "text", "pipeline"))
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information — PMI(x,y) =
    log2(P(xy) / (P(x)P(y))) over adjacent token pairs, the classic
    collocation-mining statistic (Church & Hanks 1990): raw bigram
    counts (`ngram_bigram_top`) surface frequent-but-uninteresting
    function-word pairs, PMI surfaces pairs that co-occur far MORE than
    their unigram frequencies predict — multi-word entities and fixed
    phrases, the units a tokenizer-vocabulary builder promotes first.
    Pairs under {_PMI_MIN_COUNT} occurrences are dropped (PMI's known
    rare-pair instability).

    Plan: map-only unigram and bigram generation from one tokenization
    (no self-join), two partial-agg'd count shuffles to vocab / distinct
    -pair cardinality, then the pair relation re-joins the unigram
    counts twice on the token key — aggregate-carrying equi-joins, both
    sides orders of magnitude below the raw token stream; the 1-row
    corpus-token total crosses back broadcast and the top-k is a
    distributed TakeOrderedAndProject."""
    docs = parallelize_scan(
        load_tables(spark, sf_dir)["documents"].select("text"),
    )
    w = docs.select(F.expr(_WORDS_SPARK).alias("arr"))
    uni = w.select(F.explode("arr").alias("tok"))
    uni_counts = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    n_tokens = uni.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    big = (
        w.filter(F.size("arr") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(arr) - 2),"
                    " i -> struct(arr[i] AS w1, arr[i+1] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    big_counts = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .filter(F.col("n_xy") >= _PMI_MIN_COUNT)
    )
    u1 = uni_counts.select(
        F.col("tok").alias("w1"), F.col("n").alias("n_w1")
    )
    u2 = uni_counts.select(
        F.col("tok").alias("w2"), F.col("n").alias("n_w2")
    )
    return (
        big_counts.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_tokens))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "n_xy",
            "n_w1",
            "n_w2",
            F.round(
                F.log2(
                    F.col("n_xy")
                    * F.col("n_total")
                    / (F.col("n_w1") * F.col("n_w2"))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "bigram")
        .limit(20)
    )


# ------------------------- rendezvous (HRW) sharding + rebalance census

_HRW_SHARDS = 8


def _hrw_oracle() -> str:
    """Dual-engine replay: per doc, shard = arg_max over candidate
    shards of md5(doc_id:shard) — identical strings, identical md5,
    identical argmax in both engines."""
    return f"""
WITH a8 AS (
  SELECT d.doc_id,
         CAST(arg_max(s.i, md5(CAST(d.doc_id AS VARCHAR) || ':'
                               || CAST(s.i AS VARCHAR))) AS INTEGER)
           AS shard8
  FROM documents d, unnest(range(0, {_HRW_SHARDS})) AS s(i)
  GROUP BY d.doc_id
),
a9 AS (
  SELECT d.doc_id,
         CAST(arg_max(s.i, md5(CAST(d.doc_id AS VARCHAR) || ':'
                               || CAST(s.i AS VARCHAR))) AS INTEGER)
           AS shard9
  FROM documents d, unnest(range(0, {_HRW_SHARDS + 1})) AS s(i)
  GROUP BY d.doc_id
)
SELECT a8.shard8,
       count(*) AS n_docs,
       count(*) FILTER (WHERE a8.shard8 <> a9.shard9) AS n_moved,
       round(count(*) FILTER (WHERE a8.shard8 <> a9.shard9)
             * 1.0 / count(*), 4) AS moved_frac
FROM a8 JOIN a9 ON a8.doc_id = a9.doc_id
GROUP BY a8.shard8
ORDER BY shard8
"""


def _hrw_shard(n_shards: int):
    """Highest-random-weight assignment as a map-only COLUMN: the n
    candidate (hash, shard) structs per row, array_max picking the
    lexicographic max (hash first) — no explode, no shuffle."""
    cands = F.array(
        *[
            F.struct(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.lit(str(i)),
                    )
                ).alias("h"),
                F.lit(i).alias("s"),
            )
            for i in range(n_shards)
        ]
    )
    return F.array_max(cands)["s"].cast("int")


@register("shard_rendezvous_hashing", oracle=_hrw_oracle(), tags=("llm", "pipeline"))
def shard_rendezvous_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding — the consistent
    assignment primitive under every standing index this repo builds
    (the incremental-LSH corpus, Bloom shards, per-shard HLL sketches):
    doc → argmax over shards of md5(doc:shard). The census quantifies
    THE property that matters operationally: growing 8 shards to 9
    moves only ~1/9 of documents (each measured per source shard),
    where mod-N sharding would reshuffle ~8/9 of the corpus — at 100 TB
    that is re-indexing ~11 TB instead of ~89 TB on every scale-out.

    Plan shape: assignment is a map-only expression (an 8-struct array
    max per row — no explode, no shuffle, codegen'd); BOTH assignments
    compute in one projection over one corpus scan, and the only
    exchange is the final shard8 census groupBy."""
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id")
    both = docs.select(
        _hrw_shard(_HRW_SHARDS).alias("shard8"),
        _hrw_shard(_HRW_SHARDS + 1).alias("shard9"),
    )
    return (
        both.groupBy("shard8")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("shard8") != F.col("shard9"), 1).otherwise(0)
            ).alias("n_moved"),
            F.round(
                F.sum(
                    F.when(F.col("shard8") != F.col("shard9"), 1).otherwise(0)
                )
                * F.lit(1.0)
                / F.count(F.lit(1)),
                4,
            ).alias("moved_frac"),
        )
        .orderBy("shard8")
    )


# -------------------------- purged walk-forward split (temporal CV folds)

_WF_FOLDS = 4
_WF_EMBARGO_DAYS = 1

_WALKFORWARD_ORACLE = f"""
WITH days AS (
  SELECT date_diff('day',
                   (SELECT min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) FROM events),
                   CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS o
  FROM events
),
bounds AS (
  SELECT max(o) + 1 AS span,
         CAST(ceil((max(o) + 1) * 1.0 / {_WF_FOLDS}) AS BIGINT) AS w
  FROM days
),
folds AS (SELECT t.k FROM unnest(range(1, {_WF_FOLDS})) AS t(k)),
census AS (
  SELECT f.k,
         count(*) FILTER (WHERE d.o < f.k * b.w - {_WF_EMBARGO_DAYS})
           AS train_n,
         count(*) FILTER (WHERE d.o >= f.k * b.w - {_WF_EMBARGO_DAYS}
                            AND d.o < f.k * b.w) AS purged_n,
         count(*) FILTER (WHERE d.o >= f.k * b.w
                            AND d.o < least((f.k + 1) * b.w, b.span))
           AS test_n
  FROM folds f CROSS JOIN bounds b CROSS JOIN days d
  GROUP BY f.k
)
SELECT CAST(k AS INTEGER) AS fold,
       CAST(train_n AS BIGINT) AS train_n,
       CAST(purged_n AS BIGINT) AS purged_n,
       CAST(test_n AS BIGINT) AS test_n
FROM census
ORDER BY fold
"""


@register(
    "events_walkforward_split",
    oracle=_WALKFORWARD_ORACLE,
    tags=("llm", "pipeline", "event-time"),
)
def events_walkforward_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged walk-forward (temporal) cross-validation folds — the split
    a time-series/behavioral model NEEDS instead of the iid hash split
    (`text_hash_split`): the timeline divides into _WF_FOLDS (4)
    equal-width day segments; fold k trains on everything strictly
    BEFORE segment k minus a _WF_EMBARGO_DAYS (1) day embargo (rows
    inside the gap are PURGED — they leak label horizons across the
    boundary), and tests on segment k. Output: per-fold train/purged/
    test row census — the audit a backtesting harness runs before
    trusting its folds.

    Scale shape: the corpus is touched once (day-offset projection →
    per-day counts, one partial-agg'd shuffle on a CALENDAR-bounded
    key); fold censuses then derive from the day-count relation joined
    against the 3 fold rows — a bounded inequality join, never a second
    corpus pass. The same day-offset expression is the writer's
    partition predicate when materializing folds."""
    events = load_tables(spark, sf_dir)["events"]
    day0 = events.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))).alias(
            "max_o"
        ),
    )
    days = (
        events.crossJoin(F.broadcast(day0))
        .select(F.datediff(F.to_date("ts"), F.col("d0")).alias("o"))
        .groupBy("o")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bounds = day0.select(
        (F.col("max_o") + 1).alias("span"),
        F.ceil((F.col("max_o") + 1) * F.lit(1.0) / _WF_FOLDS)
        .cast("long")
        .alias("w"),
    )
    folds = spark.range(1, _WF_FOLDS).select(F.col("id").alias("k"))
    census = (
        folds.crossJoin(F.broadcast(bounds))
        .join(
            F.broadcast(days),
            F.col("o") < F.least((F.col("k") + 1) * F.col("w"), F.col("span")),
        )
        .groupBy("k")
        .agg(
            F.sum(
                F.when(
                    F.col("o") < F.col("k") * F.col("w") - _WF_EMBARGO_DAYS,
                    F.col("n"),
                ).otherwise(0)
            ).alias("train_n"),
            F.sum(
                F.when(
                    (F.col("o") >= F.col("k") * F.col("w") - _WF_EMBARGO_DAYS)
                    & (F.col("o") < F.col("k") * F.col("w")),
                    F.col("n"),
                ).otherwise(0)
            ).alias("purged_n"),
            F.sum(
                F.when(F.col("o") >= F.col("k") * F.col("w"), F.col("n"))
                .otherwise(0)
            ).alias("test_n"),
        )
    )
    return census.select(
        F.col("k").cast("int").alias("fold"),
        F.col("train_n").cast("long").alias("train_n"),
        F.col("purged_n").cast("long").alias("purged_n"),
        F.col("test_n").cast("long").alias("test_n"),
    ).orderBy("fold")


# ---------------------- temperature-scaled source mixture composition

_MIX_BUDGET = 200  # total docs the mixture selects
_MIX_W_SCALE = 1000  # fixed-point scale for the sqrt weights

_MIX_ORACLE = f"""
WITH per_doc AS (
  SELECT source, doc_id, n_chars,
         len({_WORDS_DUCK}) AS n_tok
  FROM documents
),
per_source AS (
  SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM per_doc GROUP BY source
),
weighted AS (
  SELECT source, n_docs, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * {_MIX_W_SCALE})
              AS BIGINT) AS w
  FROM per_source
),
tot AS (SELECT CAST(sum(w) AS BIGINT) AS w_total FROM weighted),
quotas AS (
  SELECT source, n_docs, n_tokens, w,
         greatest(1, ({_MIX_BUDGET} * w) // tot.w_total) AS quota,
         round(CAST(w AS DOUBLE) / tot.w_total, 6) AS share_temp
  FROM weighted CROSS JOIN tot
),
ranked AS (
  SELECT d.source, d.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY d.n_chars DESC, d.doc_id) AS rn
  FROM per_doc d
),
selected AS (
  SELECT r.source, r.n_chars
  FROM ranked r JOIN quotas q ON q.source = r.source
  WHERE r.rn <= q.quota
),
census AS (
  SELECT source, count(*) AS n_selected,
         CAST(sum(n_chars) AS BIGINT) AS selected_chars
  FROM selected GROUP BY source
)
SELECT q.source, q.n_docs, q.n_tokens, q.w, CAST(q.quota AS BIGINT) AS quota,
       q.share_temp, c.n_selected, c.selected_chars
FROM quotas q JOIN census c USING (source)
ORDER BY q.source
"""


@register(
    "corpus_temperature_mixture", oracle=_MIX_ORACLE, tags=("llm", "pipeline", "sample")
)
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture MATERIALIZATION: turn tempered
    source weights (the mT5/XLM-R p^(1/τ) recipe, here τ=2 i.e. sqrt)
    into integer per-source document quotas and actually SELECT the
    documents — the step downstream of `source_mixture_weights` /
    `source_mixture_temperature` (which compute the share vectors but
    select nothing). Per-source quotas derive from token mass, selection
    within a source is deterministic (longest-first, doc_id tiebreak),
    and the output census pins quota, selection count, and selected
    character mass per source.

    Exactness device: the tempered weights are FIXED-POINT integers —
    w_s = floor(sqrt(tokens_s) * 1000) — and quotas use integer
    division (budget * w_s) div (Σ w_s), so no cross-source float sum
    ever decides a quota (sqrt of an exact integer is correctly rounded
    IEEE on both engines; everything after is bigint arithmetic). The
    only floats in the output are display shares, rounded.

    Plan: token counts are map-only `size(split(...))`; the source
    census is a 20-row aggregate (map-side partial); quotas are a
    20-row broadcast crossed with a 1-row total; the per-source top-rn
    window partitions by source (never global); final census is one
    more 20-row agg. One corpus scan end to end."""
    docs = load_tables(spark, sf_dir)["documents"]
    per_doc = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.size(F.expr(_WORDS_SPARK)).alias("n_tok"),
    )
    per_source = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
    weighted = per_source.select(
        "source",
        "n_docs",
        "n_tokens",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * _MIX_W_SCALE)
        .cast("bigint")
        .alias("w"),
    )
    tot = weighted.agg(F.sum("w").cast("bigint").alias("w_total"))
    quotas = weighted.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        "w",
        F.greatest(
            F.lit(1).cast("bigint"),
            F.expr(f"({_MIX_BUDGET} * w) div w_total"),
        ).alias("quota"),
        F.round(F.col("w").cast("double") / F.col("w_total"), 6).alias(
            "share_temp"
        ),
    )
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    )
    ranked = per_doc.select("source", "n_chars", rn.alias("rn"))
    selected = ranked.join(
        F.broadcast(quotas.select("source", "quota")), "source"
    ).filter(F.col("rn") <= F.col("quota"))
    census = selected.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.sum("n_chars").cast("bigint").alias("selected_chars"),
    )
    return quotas.join(census, "source").orderBy("source")
