"""Corpus-curation heuristics from published training-data pipelines.

Round-5 extensions over `documents` / `embeddings` / `events`: the named
filter families large-scale LLM data builds actually run — Gopher-style
rule filters (Rae et al. 2021), CCNet-style LM-surprisal quality buckets
(Wenzek et al. 2020), per-source boilerplate template detection
(C4/RefinedWeb line-dedup adapted to unsegmented text), intra-document
bigram repetition ratios, SemDeDup-style within-cluster semantic dedup
(Abbas et al. 2023), and per-user z-score outlier screening over events.

All hot paths are built-in expression work (higher-order array functions,
window aggregates, hash joins) — zero Python. Per-document metrics are
map-only; corpus-level passes shuffle once on their natural key. Every
query is oracle-paired; fractional outputs are either exact integer
ratios (identical IEEE division in both engines) or rounded to 4 decimals
before comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_tables, parallelize_scan
from ..persistence import tracked_persist
from ..registry import register

from ._scoring import (
    _GOPHER_PASS_SQL,
    _GOPHER_RULES_SQL,
    _LR_SCORE_SQL,
    _doc_words,
    _gopher_ctes,
    _gopher_feature_cols,
    _gopher_pass,
    _gopher_rules,
    _lr_score,
)
from ._text import WORDS_DUCK as _WORDS_DUCK  # noqa: E402
from ._text import WORDS_SPARK as _WORDS_SPARK  # noqa: E402

# ------------------------------------------------ Gopher-style rule filter

_GOPHER_ORACLE = f"""
WITH {_gopher_ctes("source")}
SELECT source,
       count(*) AS n_docs,
       count(*) FILTER (WHERE {_GOPHER_PASS_SQL}) AS n_pass,
       count(*) FILTER (WHERE NOT ({_GOPHER_RULES_SQL['len']})) AS n_fail_len,
       count(*) FILTER (WHERE NOT ({_GOPHER_RULES_SQL['wordlen']})) AS n_fail_wordlen,
       count(*) FILTER (WHERE NOT ({_GOPHER_RULES_SQL['stop']})) AS n_fail_stop,
       count(*) FILTER (WHERE NOT ({_GOPHER_RULES_SQL['rep']})) AS n_fail_rep
FROM m
GROUP BY source
ORDER BY source
"""


@register("text_gopher_quality", oracle=_GOPHER_ORACLE, tags=("llm", "text", "pipeline"))
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rule filter: word-count bounds, mean word
    length bounds, minimum stopword evidence, and a most-frequent-word
    repetition cap, reported as per-source pass/fail counts — the rule
    census a pipeline inspects before choosing drop thresholds.

    Every metric (including the unigram mode) is a per-row array
    expression over the document's own words — no explode, no
    (doc, word) shuffle: the whole rule pass is map-only and the only
    shuffle is the final per-source count aggregation. The mode is
    O(distinct x words) per document, bounded by document size, never by
    corpus size. Fractions are int-sum / int-count IEEE divisions —
    bit-identical cross-engine, so threshold comparisons can't flip."""
    m = _doc_words(spark, sf_dir, "source").select("source", *_gopher_feature_cols())
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(_gopher_pass()).alias("n_pass"),
            *[
                F.count_if(~ok).alias(f"n_fail_{name}")
                for name, ok in _gopher_rules().items()
            ],
        )
        .orderBy("source")
    )


# --------------------------------------- per-source boilerplate templates

_TPL_NGRAM = 8  # same shingle width as decontaminate_ngram
_TPL_MIN_DOCS = 2  # shingle in >= this many docs of one source = template

_BOILERPLATE_ORACLE = f"""
WITH w AS (
  SELECT doc_id, source, {_WORDS_DUCK} AS arr FROM documents
),
sh AS (
  SELECT DISTINCT source, doc_id, array_to_string(arr[i:i+{_TPL_NGRAM - 1}], ' ') AS g
  FROM w, unnest(generate_series(1, len(arr) - {_TPL_NGRAM - 1})) AS t(i)
  WHERE len(arr) >= {_TPL_NGRAM}
),
tpl AS (
  SELECT source, g FROM sh GROUP BY source, g
  HAVING count(*) >= {_TPL_MIN_DOCS}
),
aff AS (
  SELECT source, count(DISTINCT doc_id) AS n_docs_affected
  FROM sh WHERE (source, g) IN (SELECT (source, g) FROM tpl)
  GROUP BY source
),
ntpl AS (
  SELECT source, count(*) AS n_template_shingles FROM tpl GROUP BY source
)
SELECT d.source,
       count(*) AS n_docs,
       coalesce(any_value(ntpl.n_template_shingles), 0) AS n_template_shingles,
       coalesce(any_value(aff.n_docs_affected), 0) AS n_docs_affected
FROM documents d
LEFT JOIN ntpl ON d.source = ntpl.source
LEFT JOIN aff ON d.source = aff.source
GROUP BY d.source
ORDER BY d.source
"""


@register(
    "text_boilerplate_templates", oracle=_BOILERPLATE_ORACLE, tags=("llm", "text", "dedup")
)
def text_boilerplate_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate detection: an 8-word shingle appearing
    verbatim in >= 2 documents of the SAME source is a template (headers,
    navigation, license banners — the C4/RefinedWeb line-dedup signal,
    adapted to unsegmented text). Output per source: template-shingle
    count and how many documents carry at least one.

    Scale shape: shingling is map-only; the (source, shingle) census is
    one hash aggregation whose key space is corpus-sized but whose
    partial-agg rows are (doc x shingle)-distinct; the template relation
    is tiny relative to the corpus (only cross-doc repeats survive the
    HAVING), so the affected-doc pass is a semi-join AQE turns into a
    broadcast when it fits — no hint pinned, sizes are data-dependent."""
    docs = load_tables(spark, sf_dir)["documents"]
    w = parallelize_scan(docs.select("doc_id", "source", "text"), "doc_id").select(
        "doc_id", "source", F.expr(_WORDS_SPARK).alias("arr")
    )
    sh = (
        w.filter(F.size("arr") >= _TPL_NGRAM)
        .select(
            "source",
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(arr) - {_TPL_NGRAM - 1}),"
                    f" i -> concat_ws(' ', slice(arr, i, {_TPL_NGRAM})))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    # feeds both the template census and the affected-doc semi-join
    sh = tracked_persist(sh)
    tpl = (
        sh.groupBy("source", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _TPL_MIN_DOCS)
        .select("source", "g")
    )
    tpl = tracked_persist(tpl)
    ntpl = tpl.groupBy("source").agg(F.count(F.lit(1)).alias("n_template_shingles"))
    aff = (
        sh.join(tpl, ["source", "g"], "left_semi")
        .groupBy("source")
        .agg(F.count_distinct("doc_id").alias("n_docs_affected"))
    )
    base = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        base.join(ntpl, "source", "left")
        .join(aff, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_template_shingles", F.lit(0)).alias("n_template_shingles"),
            F.coalesce("n_docs_affected", F.lit(0)).alias("n_docs_affected"),
        )
        .orderBy("source")
    )


# ---------------------------------------- intra-doc bigram repetition

_REP_FLAG_FRAC = 0.05  # duplicate-bigram fraction above this is flagged

_REPETITION_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {_WORDS_DUCK} AS arr FROM documents
),
bg AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(arr) - 1),
                        i -> array_to_string(arr[i:i+1], ' ')) AS b
  FROM w WHERE len(arr) >= 2
),
m AS (
  SELECT doc_id, len(b) AS nb, len(list_distinct(b)) AS nd,
         list_max(list_transform(list_distinct(b),
                                 x -> len(list_filter(b, y -> y = x)))) AS topc
  FROM bg
)
SELECT doc_id,
       nb AS n_bigrams,
       round((nb - nd) * 1.0 / nb, 4) AS dup_bigram_frac,
       round(topc * 1.0 / nb, 4) AS top_bigram_frac,
       (nb - nd) * 1.0 / nb > {_REP_FLAG_FRAC} AS flagged
FROM m
ORDER BY doc_id
"""


@register("text_repetition_bigrams", oracle=_REPETITION_ORACLE, tags=("llm", "text"))
def text_repetition_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition ratios over bigrams — the
    duplicate-n-gram fraction family of Gopher/RefinedWeb repetition
    filters: fraction of bigram slots occupied by repeats, and the share
    of the single most frequent bigram. Documents above the duplicate
    fraction threshold are flagged.

    Map-only per-document array work (bigrams via sequence+slice, mode
    via the same distinct-x-count expression as the unigram rule);
    fractions are exact integer-ratio IEEE divisions, so the flag
    comparison is cross-engine stable. The only shuffle is the output
    sort."""
    docs = load_tables(spark, sf_dir)["documents"]
    w = parallelize_scan(docs.select("doc_id", "text")).select(
        "doc_id", F.expr(_WORDS_SPARK).alias("arr")
    )
    bg = w.filter(F.size("arr") >= 2).select(
        "doc_id",
        F.expr(
            "transform(sequence(1, size(arr) - 1),"
            " i -> concat_ws(' ', slice(arr, i, 2)))"
        ).alias("b"),
    )
    nb = F.size(F.col("b"))
    nd = F.size(F.array_distinct(F.col("b")))
    topc = F.expr("array_max(transform(array_distinct(b), x -> size(filter(b, y -> y = x))))")
    dup_frac = (nb - nd) * F.lit(1.0) / nb
    return bg.select(
        "doc_id",
        nb.alias("n_bigrams"),
        F.round(dup_frac, 4).alias("dup_bigram_frac"),
        F.round(topc * F.lit(1.0) / nb, 4).alias("top_bigram_frac"),
        (dup_frac > _REP_FLAG_FRAC).alias("flagged"),
    ).orderBy("doc_id")


# ------------------------------------ CCNet-style LM surprisal buckets

_PPLX_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({_WORDS_DUCK}) AS word FROM documents
),
lex AS (
  SELECT word, count(*) AS c FROM tok GROUP BY word
),
lexp AS (
  SELECT word,
         CAST(round(-ln(c * 1.0 / (SELECT sum(c) FROM lex)) * 1000000)
              AS BIGINT) AS surprisal_micro
  FROM lex
),
scored AS (
  SELECT t.doc_id, any_value(t.lang) AS lang,
         sum(l.surprisal_micro) * 1.0 / count(*) / 1000000 AS score
  FROM tok t JOIN lexp l ON t.word = l.word
  GROUP BY t.doc_id
),
b AS (
  SELECT lang, score,
         ntile(3) OVER (PARTITION BY lang ORDER BY score, doc_id) AS bucket
  FROM scored
)
SELECT lang, bucket,
       count(*) AS n_docs,
       round(avg(score), 4) AS avg_surprisal,
       round(min(score), 4) AS min_surprisal,
       round(max(score), 4) AS max_surprisal
FROM b
GROUP BY lang, bucket
ORDER BY lang, bucket
"""


@register("text_perplexity_buckets", oracle=_PPLX_ORACLE, tags=("llm", "text", "pipeline"))
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing: score each document by mean unigram
    surprisal under a language model estimated from the corpus itself,
    then split every language into head/middle/tail thirds — the
    perplexity-bucket curation step, with a unigram LM standing in for
    the KenLM 5-gram (same plan shape: broadcast-scale model, map-side
    scoring).

    Determinism: per-word surprisal is quantized to integer micro-nats IN
    THE LEXICON (one ln per distinct word), so each document's score is
    an exact integer sum / count — immune to float summation order, which
    would otherwise make ntile boundaries run-dependent for equal-multiset
    documents. The lexicon is vocabulary-sized (Heaps-sublinear); AQE
    broadcasts the word join at any realistic scale — no pinned hint
    since vocabulary is not provably bounded. The 1-row corpus total IS
    provably tiny -> explicit broadcast. ntile needs a per-lang sort; at
    100 TB the same cutoffs come from approx_percentile without the sort
    (noted, not needed at bench scale)."""
    docs = load_tables(spark, sf_dir)["documents"]
    tok = parallelize_scan(docs.select("doc_id", "lang", "text"), "doc_id").select(
        "doc_id", "lang", F.explode(F.expr(_WORDS_SPARK)).alias("word")
    )
    tok = tracked_persist(tok)
    lex = tok.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    total = lex.agg(F.sum("c").alias("total"))
    lexp = lex.crossJoin(F.broadcast(total)).select(
        "word",
        F.round(-F.log(F.col("c") * F.lit(1.0) / F.col("total")) * F.lit(1000000))
        .cast("bigint")
        .alias("surprisal_micro"),
    )
    scored = (
        tok.join(lexp, "word")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            (
                F.sum("surprisal_micro") * F.lit(1.0) / F.count(F.lit(1)) / F.lit(1000000)
            ).alias("score"),
        )
    )
    b = scored.select(
        "lang",
        "score",
        F.ntile(3).over(Window.partitionBy("lang").orderBy("score", "doc_id")).alias(
            "bucket"
        ),
    )
    return (
        b.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("score"), 4).alias("avg_surprisal"),
            F.round(F.min("score"), 4).alias("min_surprisal"),
            F.round(F.max("score"), 4).alias("max_surprisal"),
        )
        .orderBy("lang", "bucket")
    )


# --------------------------------------- SemDeDup within-cluster dedup

# the bit-identical dot-product fold and the near-dup cosine threshold of
# dedup_embedding_cosine live in similarity.py; import rather than copy so
# an adjustment there cannot leave this module on old semantics
from .similarity import _DOT as _SEM_DOT  # noqa: E402
from .similarity import _EMB_NEARDUP_THRESHOLD as _SEM_THRESHOLD  # noqa: E402

_SEMDEDUP_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
n AS (
  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
),
dropped AS (
  SELECT DISTINCT b.label, b.vec_id
  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {_SEM_THRESHOLD}
)
SELECT n.label,
       count(*) AS n_vecs,
       count(*) FILTER (WHERE dropped.vec_id IS NOT NULL) AS n_dropped,
       count(*) FILTER (WHERE dropped.vec_id IS NULL) AS n_kept
FROM n LEFT JOIN dropped
  ON n.label = dropped.label AND n.vec_id = dropped.vec_id
GROUP BY n.label
ORDER BY n.label
"""


@register(
    "dedup_semantic_clusters", oracle=_SEMDEDUP_ORACLE, tags=("llm", "dedup", "similarity")
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: within each cluster, drop every
    vector that has a lower-id near-neighbor at cosine >= 0.45 (greedy
    keep-first — deterministic, unlike keep-random). The fixture's
    `label` column stands in for the k-means cluster id (the production
    assignment is exactly similarity.py's IVF step); clustering is what
    CONTAINS the quadratic: pairwise comparison runs only inside a
    cluster, so cost is sum over clusters of |c|^2, bounded by the max
    cluster size a 100 TB run chooses k to enforce — never corpus^2.

    One shuffle co-partitions by label; the within-label self-join and
    the survivor anti-join reuse that partitioning. Cosine uses the
    codegen'd zip_with/aggregate fold that is bit-identical to DuckDB's
    list_dot_product, so the threshold cannot flip cross-engine."""
    emb = (
        parallelize_scan(load_tables(spark, sf_dir)["embeddings"], "vec_id")
        .select("vec_id", "label", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("nrm", F.sqrt(F.expr(_SEM_DOT.format(a="v", b="v"))))
    )
    emb = tracked_persist(emb)
    a = emb.select(
        F.col("label"),
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("a_v"),
        F.col("nrm").alias("a_nrm"),
    )
    b = emb.select(
        F.col("label"),
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("b_v"),
        F.col("nrm").alias("b_nrm"),
    )
    cos = F.expr(_SEM_DOT.format(a="a_v", b="b_v")) / (F.col("a_nrm") * F.col("b_nrm"))
    dropped = (
        a.join(b, "label")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(cos >= _SEM_THRESHOLD)
        .select("label", F.col("b_id").alias("vec_id"))
        .distinct()
    )
    flagged = emb.select("label", "vec_id").join(
        dropped.withColumn("is_dropped", F.lit(True)), ["label", "vec_id"], "left"
    )
    return (
        flagged.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count_if(F.col("is_dropped").isNotNull()).alias("n_dropped"),
            F.count_if(F.col("is_dropped").isNull()).alias("n_kept"),
        )
        .orderBy("label")
    )


# ------------------------------------------- per-user z-score outliers

_Z_THRESHOLD = 2.0

_OUTLIER_ORACLE = f"""
WITH z AS (
  SELECT event_type, value,
         avg(value) OVER (PARTITION BY user_id) AS m,
         stddev_samp(value) OVER (PARTITION BY user_id) AS sd
  FROM events
)
SELECT event_type,
       count(*) AS n_events,
       count(*) FILTER (WHERE sd > 0 AND abs((value - m) / sd) > {_Z_THRESHOLD})
         AS n_outliers,
       round(max(CASE WHEN sd > 0 THEN abs((value - m) / sd) END), 4)
         AS max_abs_z
FROM z
GROUP BY event_type
ORDER BY event_type
"""


@register("events_value_outliers", oracle=_OUTLIER_ORACLE, tags=("events", "windows"))
def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score outlier screening: standardize each event's value
    against its own user's mean/stddev (unbounded window — one shuffle on
    user_id, no self-join), then census outliers beyond 2 sigma per event
    type — the anomalous-record screen a pipeline runs before trusting
    behavioral aggregates.

    The window form computes both moments in a single pass over each
    user's partition, replacing the groupBy+join-back shape (two shuffles
    and a join) with one hash exchange. Cross-engine float risk is
    confined to stddev's last ulp; a flip requires |z| within ~1e-12 of
    the threshold, and the rounded max-z is 4-decimal stable."""
    events = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id")
    z = events.select(
        "event_type",
        "value",
        F.avg("value").over(w).alias("m"),
        F.stddev_samp("value").over(w).alias("sd"),
    )
    abs_z = F.abs((F.col("value") - F.col("m")) / F.col("sd"))
    return (
        z.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_if((F.col("sd") > 0) & (abs_z > _Z_THRESHOLD)).alias("n_outliers"),
            F.round(F.max(F.when(F.col("sd") > 0, abs_z)), 4).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


# ------------------------------------- model-based quality classifier

_CLASSIFIER_ORACLE = f"""
WITH {_gopher_ctes("source")},
s AS (
  SELECT source, {_LR_SCORE_SQL} AS score
  FROM m
)
SELECT source,
       count(*) AS n_docs,
       count(*) FILTER (WHERE round(score, 6) > 0.5) AS n_keep,
       round(avg(score), 4) AS avg_score
FROM s
GROUP BY source
ORDER BY source
"""


@register(
    "text_quality_classifier", oracle=_CLASSIFIER_ORACLE, tags=("llm", "text", "pipeline")
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a logistic regression over the rule
    features (word count, mean word length, stopword evidence, top-word
    repetition) scores every document and a 0.5 threshold gates it — the
    GPT-3-style learned quality classifier's deployment shape. The
    coefficients here are fixed stand-ins (training is out of engine
    scope); swapping in trained weights changes no plan.

    Deployment is the point: coefficients are literals folded into a
    map-only codegen'd expression — no model server round-trip, no UDF,
    no shuffle except the per-source census. The same shape serves any
    linear scorer at 100 TB; a fastText-style bag-of-ngrams model lifts
    to a broadcast weight-table join plus this identical sigmoid."""
    m = _doc_words(spark, sf_dir, "source").select("source", *_gopher_feature_cols())
    s = m.select("source", _lr_score().alias("score"))
    return (
        s.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # round before the cut: a raw sigmoid can differ in the last ulp
            # between engines (the calibration-bins discipline; round-11
            # review) — decide on the shared-rounded value
            F.count_if(F.round(F.col("score"), 6) > 0.5).alias("n_keep"),
            F.round(F.avg("score"), 4).alias("avg_score"),
        )
        .orderBy("source")
    )


# ------------------------------------------ composite quality dashboard

_DUP_BG_FRAC_SQL = """,
         CASE WHEN len(w) >= 2 THEN
           (len(w) - 1
            - len(list_distinct(list_transform(generate_series(1, len(w) - 1),
                                               i -> array_to_string(w[i:i+1], ' ')))))
           * 1.0 / (len(w) - 1)
         ELSE 0.0 END AS dup_bg_frac"""

_REPORT_ORACLE = f"""
WITH {_gopher_ctes("source", extra=_DUP_BG_FRAC_SQL)},
s AS (
  SELECT source, nw, awl, ns, top_frac, dup_bg_frac, {_LR_SCORE_SQL} AS score
  FROM m
)
SELECT source,
       count(*) AS n_docs,
       count(*) FILTER (WHERE {_GOPHER_PASS_SQL}) AS n_gopher_pass,
       count(*) FILTER (WHERE round(score, 6) > 0.5) AS n_classifier_keep,
       count(*) FILTER (WHERE dup_bg_frac > {_REP_FLAG_FRAC}) AS n_repetition_flagged,
       round(avg(score), 4) AS avg_quality_score
FROM s
GROUP BY source
ORDER BY source
"""


@register("text_quality_report", oracle=_REPORT_ORACLE, tags=("llm", "text", "pipeline"))
def text_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite per-source quality dashboard: the Gopher rule gate, the
    LR classifier gate, and the bigram repetition screen computed in ONE
    corpus scan — the report a curation run publishes before choosing
    per-source drop policies. The reference's dashboard analogue is A7
    (multi-metric, one pass); this is the same discipline applied to the
    curation layer: three screens that would naively be three jobs over
    100 TB collapse into one words materialization, one pass of array
    expressions, and one per-source aggregation."""
    t = _doc_words(spark, sf_dir, "source")
    nw = F.size(F.col("w"))
    n_bg = nw - 1
    m = t.select(
        "source",
        *_gopher_feature_cols(),
        F.when(
            nw >= 2,
            (
                n_bg
                - F.size(
                    F.array_distinct(
                        F.expr(
                            "transform(sequence(1, size(w) - 1),"
                            " i -> concat_ws(' ', slice(w, i, 2)))"
                        )
                    )
                )
            )
            * F.lit(1.0)
            / n_bg,
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bg_frac"),
    )
    s = m.withColumn("score", _lr_score())
    return (
        s.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(_gopher_pass()).alias("n_gopher_pass"),
            F.count_if(F.round(F.col("score"), 6) > 0.5).alias("n_classifier_keep"),
            F.count_if(F.col("dup_bg_frac") > _REP_FLAG_FRAC).alias(
                "n_repetition_flagged"
            ),
            F.round(F.avg("score"), 4).alias("avg_quality_score"),
        )
        .orderBy("source")
    )


# ------------------------------------------- deterministic weighted sample

_WSAMPLE_PER_LANG = 5

_WSAMPLE_ORACLE = f"""
WITH k AS (
  SELECT lang, doc_id, n_chars,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 17, 8))
                   AS UBIGINT) AS DOUBLE)
           / CAST(n_chars AS DOUBLE) AS priority
  FROM documents
),
r AS (
  SELECT lang, doc_id, n_chars, priority,
         row_number() OVER (PARTITION BY lang
                            ORDER BY priority, doc_id) AS rn
  FROM k
)
SELECT lang, doc_id, n_chars, round(priority, 4) AS priority
FROM r WHERE rn <= {_WSAMPLE_PER_LANG}
ORDER BY lang, doc_id
"""


@register("sample_weighted_priority", oracle=_WSAMPLE_ORACLE, tags=("llm", "pipeline", "sample"))
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement, per stratum:
    each document draws priority = u / weight with u a content-stable
    md5-derived 32-bit integer and weight = n_chars; the 5 smallest
    priorities per language win — longer documents are proportionally
    likelier, and the draw replays bit-identically on both engines. This
    is the A-ES / priority-sampling shape (Efraimidis & Spirakis 2006)
    with a RATIONAL key instead of the exponential u^(1/w) key: one
    integer-to-double cast and one IEEE division, both correctly rounded
    and engine-identical, where ln/pow carry last-ulp divergence that
    could flip ranks between near-equal priorities. (The md5 offset is
    17 so the draw is independent of the split/sample hashes at offsets
    1 and 9.)

    Plan: priority is map-side; per-stratum top-N is one shuffle on lang
    with the rank window inside each stratum. At 100 TB with few strata,
    swap the window for a two-stage per-partition top-N + merge (the
    `topk_per_group` pattern); semantics are unchanged because the key
    is a pure function of the row."""
    docs = load_tables(spark, sf_dir)["documents"]
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 17, 8), 16, 10
    ).cast("bigint")
    pri = u.cast("double") / F.col("n_chars").cast("double")
    w = Window.partitionBy("lang").orderBy("priority", "doc_id")
    return (
        docs.select("lang", "doc_id", "n_chars", pri.alias("priority"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _WSAMPLE_PER_LANG)
        .select("lang", "doc_id", "n_chars", F.round("priority", 4).alias("priority"))
        .orderBy("lang", "doc_id")
    )


# ---------------------------------------------- in-corpus bigram LM scoring

_LM_TRAIN_SOURCE = "src0"

_BIGRAM_LM_ORACLE = f"""
WITH w AS (
  SELECT doc_id, source, {_WORDS_DUCK} AS arr FROM documents
),
train_bg AS (
  SELECT arr[i] AS w1, arr[i + 1] AS w2, count(*) AS c2
  FROM w, unnest(range(1, len(arr))) AS t(i)
  WHERE source = '{_LM_TRAIN_SOURCE}' AND len(arr) >= 2
  GROUP BY 1, 2
),
train_ug AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM train_bg GROUP BY 1),
vocab AS (
  SELECT count(DISTINCT tok) AS v
  FROM (SELECT unnest(arr) AS tok FROM w WHERE source = '{_LM_TRAIN_SOURCE}')
),
eval_bg AS (
  SELECT source, doc_id, arr[i] AS w1, arr[i + 1] AS w2
  FROM w, unnest(range(1, len(arr))) AS t(i)
  WHERE len(arr) >= 2
),
scored AS (
  SELECT e.source, e.doc_id,
         -ln(CAST(coalesce(b.c2, 0) + 1 AS DOUBLE)
             / CAST(coalesce(u.c1, 0) + v.v AS DOUBLE)) AS nll
  FROM eval_bg e
  LEFT JOIN train_bg b ON e.w1 = b.w1 AND e.w2 = b.w2
  LEFT JOIN train_ug u ON e.w1 = u.w1
  CROSS JOIN vocab v
)
SELECT source,
       count(DISTINCT doc_id) AS n_docs,
       round(avg(nll), 4) AS avg_bigram_nll
FROM scored
GROUP BY source
ORDER BY source
"""


@register("text_bigram_lm_xent", oracle=_BIGRAM_LM_ORACLE, tags=("llm", "text", "pipeline"))
def text_bigram_lm_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring with a REAL in-corpus model: train
    an add-one-smoothed bigram LM on one reference slice (src0) and
    score every source by its average bigram negative
    log-likelihood under that model — low NLL means "looks like the
    reference domain", the signal CCNet thresholds into head/middle/
    tail. Complements `text_perplexity_buckets` (which buckets a
    precomputed heuristic) with the actual estimate-then-score loop.

    Plan: bigram generation is map-side array work riding the scan (the
    `ngram_bigram_top` idiom, no self-join); the trained model is two
    partial-agg'd count relations keyed by bigram/unigram that join back
    onto the eval stream by token key — vocabulary-cardinality build
    sides, NOT corpus-cardinality, so at 100 TB they're compact enough
    to broadcast or bucket. One |V| 1-row cross join for the smoothing
    denominator. ln's last-ulp noise is averaged then round(…,4)-ed
    (TF-IDF precedent)."""
    docs = parallelize_scan(
        load_tables(spark, sf_dir)["documents"].select("doc_id", "source", "text")
    )
    # w feeds the bigram stream AND the vocab count; bg feeds the train
    # counts AND the scored eval stream — tracked_persist both so the
    # tokenize/struct-explode pass runs once, not ~3x (round-11 review)
    w = tracked_persist(
        docs.select("doc_id", "source", F.expr(_WORDS_SPARK).alias("arr"))
    )
    bg = w.filter(F.size("arr") >= 2).select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, size(arr) - 2),"
                " i -> struct(arr[i] AS w1, arr[i + 1] AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "source", "p.w1", "p.w2")
    bg = tracked_persist(bg)
    train_bg = (
        bg.filter(F.col("source") == _LM_TRAIN_SOURCE)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    train_ug = train_bg.groupBy("w1").agg(F.sum("c2").cast("bigint").alias("c1"))
    vocab = (
        w.filter(F.col("source") == _LM_TRAIN_SOURCE)
        .select(F.explode("arr").alias("tok"))
        .agg(F.count_distinct("tok").alias("v"))
    )
    nll = -F.log(
        (F.coalesce("c2", F.lit(0)) + 1).cast("double")
        / (F.coalesce("c1", F.lit(0)) + F.col("v")).cast("double")
    )
    scored = (
        bg.join(train_bg, ["w1", "w2"], "left")
        .join(train_ug, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select("source", "doc_id", nll.alias("nll"))
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.round(F.avg("nll"), 4).alias("avg_bigram_nll"),
        )
        .orderBy("source")
    )


# ------------------------------------------- classifier calibration bins

_CALIBRATION_ORACLE = f"""
WITH {_gopher_ctes("doc_id")},
s AS (
  SELECT round({_LR_SCORE_SQL}, 6) AS score,
         CASE WHEN {_GOPHER_PASS_SQL} THEN 1 ELSE 0 END AS gopher_pass
  FROM m
)
SELECT CAST(least(floor(score * 10), 9) AS INT) AS bin,
       count(*) AS n_docs,
       round(avg(score), 4) AS mean_predicted,
       round(avg(gopher_pass), 4) AS observed_rate
FROM s
GROUP BY 1
ORDER BY bin
"""


@register("classifier_calibration_bins", oracle=_CALIBRATION_ORACLE, tags=("llm", "pipeline", "stats"))
def classifier_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the learned quality filter: bucket the LR
    score into deciles and compare mean predicted probability against
    the observed Gopher-rule pass rate per bucket — the calibration
    check run before trusting a classifier's threshold as a keep/drop
    knob (a model can rank well and still be wildly miscalibrated).

    Plan: scoring and the rule label are the same map-only codegen
    expressions `text_quality_classifier` / `text_gopher_quality` ship;
    the decile bucket is arithmetic over the score ROUNDED to 6 first,
    so both engines bucket the identical double (a raw sigmoid can
    differ in the last ulp; after the shared rounding the floor(×10)
    boundary decision is made on the same value in both engines). One
    10-group partial agg — a single corpus scan end to end."""
    m = _doc_words(spark, sf_dir).select(*_gopher_feature_cols())
    s = m.select(
        F.round(_lr_score(), 6).alias("score"),
        _gopher_pass().cast("int").alias("gopher_pass"),
    )
    return (
        s.select(
            F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("int").alias("bin"),
            "score",
            "gopher_pass",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("score"), 4).alias("mean_predicted"),
            F.round(F.avg("gopher_pass"), 4).alias("observed_rate"),
        )
        .orderBy("bin")
    )


# ------------------------------------------------- lexicon safety screen

# Tiny deterministic screening lexicon (stands in for a real blocklist;
# the operator shape — broadcast IN-list inside codegen, per-doc counts,
# per-source census — is what scales, not the list).
_UNSAFE_TERMS = ("attack", "exploit", "weapon", "poison", "kill")

_SAFETY_ORACLE = f"""
WITH w AS (
  SELECT doc_id, source,
         unnest({_WORDS_DUCK}) AS term
  FROM documents
),
per_doc AS (
  SELECT doc_id, source,
         count(*) FILTER (WHERE term IN {tuple(_UNSAFE_TERMS)}) AS n_hits,
         count(*) AS n_tokens
  FROM w GROUP BY doc_id, source
)
SELECT source,
       count(*) AS n_docs,
       count(*) FILTER (WHERE n_hits > 0) AS n_flagged,
       CAST(sum(n_hits) AS BIGINT) AS total_hits,
       round(sum(n_hits) * 10000.0 / sum(n_tokens), 4) AS hits_per_10k_tokens
FROM per_doc
GROUP BY source
ORDER BY source
"""


@register("text_safety_screen", oracle=_SAFETY_ORACLE, tags=("llm", "text", "curation"))
def text_safety_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based content-safety screen: per-source census of documents
    containing blocklisted terms, with hit density per 10k tokens — the
    first-pass moderation filter every training-data pipeline runs before
    the expensive classifier tier (the same cheap-rules-then-model
    escalation as `text_quality_classifier` over the Gopher rules). The
    5-term lexicon is a stand-in; the operator shape is what matters and
    it scales unchanged with a 50k-term list (broadcast hash set inside
    codegen'd IN, still map-only).

    Plan: one tokenization explode, per-doc conditional counts, and a
    source-cardinality census — the only shuffle carries (doc, 2 counts)
    partials."""
    docs = load_tables(spark, sf_dir)["documents"]
    # parallelize_scan like every other tokenizing query here: the
    # single-row-group fixture otherwise runs the explode on one core
    w = parallelize_scan(docs.select("doc_id", "source", "text"), "doc_id").select(
        "doc_id", "source", F.explode(F.expr(_WORDS_SPARK)).alias("term")
    )
    per_doc = w.groupBy("doc_id", "source").agg(
        F.count(F.when(F.col("term").isin(*_UNSAFE_TERMS), 1)).alias("n_hits"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("n_hits") > 0, 1)).alias("n_flagged"),
            F.sum("n_hits").cast("bigint").alias("total_hits"),
            F.round(
                F.sum("n_hits") * 10000.0 / F.sum("n_tokens"), 4
            ).alias("hits_per_10k_tokens"),
        )
        .orderBy("source")
    )


# ------------------------------------------ average precision (PR-AUC)

_PR_AUC_ORACLE = f"""
WITH {_gopher_ctes("doc_id")},
s AS (
  SELECT doc_id,
         round({_LR_SCORE_SQL}, 6) AS score,
         CASE WHEN {_GOPHER_PASS_SQL} THEN 1 ELSE 0 END AS y
  FROM m
),
ranked AS (
  SELECT y,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS k,
         CAST(sum(y) OVER (ORDER BY score DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_tp
  FROM s
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(y) AS BIGINT) AS n_pos,
       round(sum(CASE WHEN y = 1
                      THEN round(cum_tp * 1.0 / k, 6) ELSE 0 END)
             / sum(y), 4) AS avg_precision,
       round(max(CASE WHEN k = 50 THEN cum_tp END) / 50.0, 4) AS p_at_50,
       round(max(CASE WHEN k = 100 THEN cum_tp END) / 100.0, 4) AS p_at_100
FROM ranked
"""


@register("classifier_pr_auc", oracle=_PR_AUC_ORACLE, tags=("llm", "pipeline", "stats"))
def classifier_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (PR-AUC) of the learned quality filter against
    the Gopher rule label, plus precision@50/@100 — the ranking-quality
    complement to `classifier_calibration_bins` (calibration says the
    probabilities are honest; AP says the ORDERING puts keepers first,
    the property that matters when the pipeline takes a top-N budget
    instead of a threshold). AP = mean over positives of precision@k at
    the deterministic (score desc, doc_id) tie-broken ordering.

    Plan: scoring and the rule label are the same map-only codegen
    expressions the classifier family ships; the global rank AND the
    cumulative true-positive count both come from ONE
    `ranking.global_cumsum` pass (two prefix sums share one range
    exchange and one offsets fold) — no single-partition window over
    the SF-proportional document relation. Ranks and cum_tp are exact
    bigints, so every precision@k is a ratio of identical integers
    cross-engine (pre-rounded at 6 before the final mean at 4)."""
    from .ranking import global_cumsum

    m = _doc_words(spark, sf_dir, "doc_id").select("doc_id", *_gopher_feature_cols())
    s = m.select(
        "doc_id",
        F.round(_lr_score(), 6).alias("score"),
        _gopher_pass().cast("bigint").alias("y"),
        F.lit(1).cast("bigint").alias("one"),
    )
    ranked = global_cumsum(
        s,
        [F.col("score").desc(), F.col("doc_id")],
        ["one", "y"],
        ["k", "cum_tp"],
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.round(
            F.sum(
                F.when(
                    F.col("y") == 1,
                    F.round(F.col("cum_tp") / F.col("k"), 6),
                ).otherwise(F.lit(0.0))
            )
            / F.sum("y"),
            4,
        ).alias("avg_precision"),
        F.round(
            F.max(F.when(F.col("k") == 50, F.col("cum_tp"))) / 50.0, 4
        ).alias("p_at_50"),
        F.round(
            F.max(F.when(F.col("k") == 100, F.col("cum_tp"))) / 100.0, 4
        ).alias("p_at_100"),
    )


# ------------------------- DSIR-style hashed-ngram importance selection

_DSIR_BUCKETS = 256
_DSIR_TOPK = 100

# Shared CTE prefix: hashed-unigram LMs -> per-doc log importance weights
# (used by the deterministic top-K selection AND the Gumbel resample).
_DSIR_WEIGHTS_CTES = f"""toks AS (
  SELECT doc_id,
         unnest({_WORDS_DUCK}) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 4))::UBIGINT % {_DSIR_BUCKETS}
              AS BIGINT) AS bucket
  FROM toks
),
target_docs AS (SELECT doc_id FROM documents WHERE lang = 'en'),
tgt AS (
  SELECT bucket, count(*) AS c FROM hashed
  WHERE doc_id IN (SELECT doc_id FROM target_docs)
  GROUP BY bucket
),
raw AS (SELECT bucket, count(*) AS c FROM hashed GROUP BY bucket),
tot AS (
  SELECT (SELECT sum(c) FROM tgt) AS t_tgt, (SELECT sum(c) FROM raw) AS t_raw
),
ratio AS (
  SELECT r.bucket,
         ln((coalesce(t.c, 0) + 1.0) / (tot.t_tgt + {_DSIR_BUCKETS}))
           - ln((r.c + 1.0) / (tot.t_raw + {_DSIR_BUCKETS})) AS lr
  FROM raw r CROSS JOIN tot
  LEFT JOIN tgt t ON t.bucket = r.bucket
),
doc_buckets AS (
  SELECT doc_id, bucket, count(*) AS c FROM hashed GROUP BY 1, 2
),
weights AS (
  SELECT d.doc_id, round(sum(d.c * ratio.lr), 4) AS log_importance
  FROM doc_buckets d JOIN ratio ON ratio.bucket = d.bucket
  GROUP BY d.doc_id
)"""

_DSIR_ORACLE = f"""
WITH {_DSIR_WEIGHTS_CTES}
SELECT w.doc_id, w.log_importance, docs.lang, docs.source
FROM weights w JOIN documents docs USING (doc_id)
ORDER BY w.log_importance DESC, w.doc_id
LIMIT {_DSIR_TOPK}
"""

@register("corpus_dsir_selection", oracle=_DSIR_ORACLE, tags=("llm", "curation", "text"))
def corpus_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    its log importance weight log p_target(x) − log p_raw(x) under
    hashed-unigram bag-of-words LMs (tokens md5-hashed into 256 buckets,
    add-one smoothing), target = the English slice, raw = the full
    corpus; keep the top-100. This is the published recipe for tilting a
    web-scale crawl toward a target distribution without training a
    classifier — the selection tier that sits between the rule filters
    (Gopher) and the model-based quality screens (CCNet) this family
    already carries.

    Plan at 100 TB: tokenize+hash is one map-only explode (the same
    `split` expression every text query shares); BOTH corpus LMs are
    256-row aggregates with map-side partial combine; the per-bucket
    log-ratio table is a 256-row BROADCAST joined to per-doc bucket
    counts (one key-shuffled agg on doc_id); the final top-K is
    TakeOrderedAndProject. Zero Python, zero UDFs — the whole DSIR
    scoring pass is whole-stage-codegen'd expression work.

    Determinism: the md5-hex→bucket map is engine-identical; per-doc
    sums re-associate across partitions, absorbed by round(…,4); the
    top-K orders by the ROUNDED weight with doc_id tiebreak on both
    engines so the selected SET is stable, not just the scores."""
    docs = load_tables(spark, sf_dir)["documents"]
    weights = dsir_log_weights(docs)
    return (
        weights.join(docs.select("doc_id", "lang", "source"), "doc_id")
        .orderBy(F.col("log_importance").desc(), "doc_id")
        .limit(_DSIR_TOPK)
        .select("doc_id", "log_importance", "lang", "source")
    )


def dsir_log_weights(docs: DataFrame) -> DataFrame:
    """Per-document DSIR log importance weights (doc_id, log_importance
    rounded to 4) under hashed-unigram LMs — the shared scoring core of
    `corpus_dsir_selection` (deterministic top-K) and
    `corpus_dsir_gumbel_resample` (the paper's actual resampling step)."""
    # parallelize_scan: the tokenize+md5 map stage is CPU-bound and the
    # fixture is one single-row-group file -> one task; without this all
    # three DSIR consumers paid a single-core hash pass (round-11 review)
    hashed = parallelize_scan(
        docs.select("doc_id", "lang", "text"), "doc_id"
    ).select(
        "doc_id",
        "lang",
        F.explode(F.expr(_WORDS_SPARK)).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("long")
            % _DSIR_BUCKETS
        ).alias("bucket"),
    )
    hashed = tracked_persist(hashed)  # feeds both LMs + per-doc counts
    tgt = (
        hashed.filter(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    raw = hashed.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_raw"))
    tot = raw.agg(F.sum("c_raw").alias("t_raw")).crossJoin(
        F.broadcast(tgt.agg(F.sum("c_tgt").alias("t_tgt")))
    )
    ratio = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce("c_tgt", F.lit(0)) + 1.0)
                    / (F.col("t_tgt") + _DSIR_BUCKETS)
                )
                - F.log((F.col("c_raw") + 1.0) / (F.col("t_raw") + _DSIR_BUCKETS))
            ).alias("lr"),
        )
    )
    doc_buckets = hashed.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        doc_buckets.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("c") * F.col("lr")), 4).alias("log_importance"))
    )


# --------------------------- DSIR Gumbel-top-k importance resampling

_GUMBEL_MOD = 1_000_000

_DSIR_GUMBEL_ORACLE = f"""
WITH {_DSIR_WEIGHTS_CTES},
gumbel AS (
  SELECT w.doc_id, w.log_importance,
         -ln(-ln(
           ((('0x' || substr(md5(CAST(w.doc_id AS VARCHAR)), 25, 8))::UBIGINT
             % {_GUMBEL_MOD}) + 0.5) / {_GUMBEL_MOD}.0
         )) AS g
  FROM weights w
)
SELECT g.doc_id, g.log_importance,
       round(g.log_importance + g.g, 4) AS resample_key,
       docs.lang
FROM gumbel g JOIN documents docs USING (doc_id)
ORDER BY resample_key DESC, g.doc_id
LIMIT {_DSIR_TOPK}
"""


@register(
    "corpus_dsir_gumbel_resample",
    oracle=_DSIR_GUMBEL_ORACLE,
    tags=("llm", "curation", "sample"),
)
def corpus_dsir_gumbel_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RESAMPLING step of DSIR proper: the paper selects documents by
    Gumbel-top-k over the importance weights (sampling WITHOUT
    replacement proportional to softmax(log w) — Vieira 2014's
    equivalence: top-k of log w_i + Gumbel_i), not by a deterministic
    weight cut, so high-weight duplicates cannot crowd the selection.
    The Gumbel noise here is SEEDED AND REPRODUCIBLE rather than drawn:
    u_i = (md5(doc_id) mod 1e6 + 0.5) / 1e6, g_i = -ln(-ln(u_i)) — a
    hash-derived uniform, the same engine-identical md5 device every
    sketch in this repo uses, which makes a stochastic selection
    operator fully oracle-checkable (both engines compute bit-identical
    u_i from bit-identical integer inputs; sqrt/division/ln on identical
    doubles, and the selection orders by the ROUNDED key with doc_id
    tiebreak so a last-ulp libm delta cannot flip the set).

    Plan: weights come from the shared `dsir_log_weights` core (map-only
    hash+explode, two 256-row LMs, broadcast ratio join); the Gumbel key
    is one map-only expression over the doc-cardinality weight relation;
    selection is TakeOrderedAndProject. At 100 TB the resample adds ZERO
    shuffles to the scoring pass."""
    docs = load_tables(spark, sf_dir)["documents"]
    weights = dsir_log_weights(docs)
    # md5 offset 25: FRESH bytes — offsets 1/9/17 are taken by the
    # split/sample/priority hashes (round-11 review caught offset 1 here:
    # since 100 divides _GUMBEL_MOD, (h % 1e6) % 100 == h % 100, so the
    # Gumbel draw was an exact function of pipeline.py's split bucket —
    # the resample was deterministically coupled to train/val/test
    # membership, defeating the documented hash-offset independence)
    u = (
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 25, 8), 16, 10
            ).cast("long")
            % _GUMBEL_MOD
        )
        + 0.5
    ) / float(_GUMBEL_MOD)
    keyed = weights.select(
        "doc_id",
        "log_importance",
        F.round(
            F.col("log_importance") + (-F.log(-F.log(u))), 4
        ).alias("resample_key"),
    )
    return (
        keyed.join(docs.select("doc_id", "lang"), "doc_id")
        .orderBy(F.col("resample_key").desc(), "doc_id")
        .limit(_DSIR_TOPK)
        .select("doc_id", "log_importance", "resample_key", "lang")
    )


# ---------------------- per-source ablation of DSIR importance mass

_DSIR_ABLATION_ORACLE = f"""
WITH {_DSIR_WEIGHTS_CTES},
with_src AS (
  SELECT w.doc_id, w.log_importance, d.source
  FROM weights w JOIN documents d USING (doc_id)
),
per_source AS (
  SELECT source, count(*) AS n_docs,
         sum(log_importance) AS mass
  FROM with_src GROUP BY source
),
grand AS (
  -- named 'grand', not 'tot': the shared weights prefix already binds tot
  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total, sum(mass) AS mass_total
  FROM per_source
)
SELECT p.source, p.n_docs,
       round(p.mass, 4) AS importance_mass,
       round(p.mass / p.n_docs, 6) AS mean_importance,
       round(
         (grand.mass_total - p.mass) / (grand.n_total - p.n_docs)
           - grand.mass_total / grand.n_total, 6
       ) AS loo_delta
FROM per_source p CROSS JOIN grand
ORDER BY p.source
"""


@register(
    "source_dsir_ablation",
    oracle=_DSIR_ABLATION_ORACLE,
    tags=("llm", "curation", "agg"),
)
def source_dsir_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-ablation data valuation over the DSIR importance weights:
    for every source, the LEAVE-ONE-SOURCE-OUT delta of the corpus's
    mean log-importance — a positive `loo_delta` means removing the
    source would move the corpus TOWARD the target distribution (the
    source is dragging it away), the additive-metric special case of
    group ablation where the counterfactual is exact arithmetic instead
    of a retraining run. This is the diagnostic a mixture tuner reads
    next to the share tiers (`source_mixture_*`) before reweighting.

    Plan: the per-doc weights come from the shared `dsir_log_weights`
    core; everything after is a source-cardinality aggregate crossed
    with a 1-row grand total — the LOO counterfactual for EVERY source
    falls out of one pass, no per-source rescans. Determinism: per-doc
    weights are pre-rounded; the mass sums re-associate across
    partitions, absorbed by round(…,4/6)."""
    docs = load_tables(spark, sf_dir)["documents"]
    weights = dsir_log_weights(docs)
    per_source = (
        weights.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("log_importance").alias("mass"),
        )
    )
    tot = per_source.agg(
        F.sum("n_docs").cast("bigint").alias("n_total"),
        F.sum("mass").alias("mass_total"),
    )
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round("mass", 4).alias("importance_mass"),
            F.round(F.col("mass") / F.col("n_docs"), 6).alias("mean_importance"),
            F.round(
                (F.col("mass_total") - F.col("mass"))
                / (F.col("n_total") - F.col("n_docs"))
                - F.col("mass_total") / F.col("n_total"),
                6,
            ).alias("loo_delta"),
        )
        .orderBy("source")
    )


# --------------------------------------------- ROC-AUC via rank statistic

_ROC_AUC_ORACLE = f"""
WITH {_gopher_ctes("doc_id")},
s AS (
  SELECT round({_LR_SCORE_SQL}, 6) AS score,
         CASE WHEN {_GOPHER_PASS_SQL} THEN 1 ELSE 0 END AS y
  FROM m
),
g AS (
  SELECT score, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS n_pos
  FROM s GROUP BY score
),
c AS (
  SELECT n, n_pos,
         CAST(sum(n) OVER (ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
           AS BIGINT) AS cum_before
  FROM g
),
agg AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_docs,
         CAST(sum(n_pos) AS BIGINT) AS n1,
         CAST(sum(n - n_pos) AS BIGINT) AS n0,
         CAST(sum(n_pos * (2 * cum_before + n + 1)) AS BIGINT) AS two_r1
  FROM c
)
SELECT n_docs, n1 AS n_pos, n0 AS n_neg,
       round(CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE)
             / CAST(2 * n1 * n0 AS DOUBLE), 6) AS roc_auc,
       round(CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE)
             / CAST(n1 * n0 AS DOUBLE) - 1.0, 6) AS gini_index
FROM agg
"""


@register("classifier_roc_auc", oracle=_ROC_AUC_ORACLE, tags=("llm", "pipeline", "stats"))
def classifier_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the learned quality filter against the Gopher rule
    label, via the Mann-Whitney rank identity with exact midrank tie
    handling — the threshold-free companion to `classifier_pr_auc` (AP
    weights early precision; ROC-AUC is the probability a random keeper
    outranks a random reject, the number model cards quote). Gini index
    (2*AUC - 1) rides along.

    Exactness: ranks never materialize — per distinct score,
    2*ranksum(positives) folds to n_pos*(2*cum_before + n + 1), all
    BIGINT, so AUC is ONE division of exact integers (round 6), immune
    to midrank float drift.

    Plan: scoring is the classifier family's map-only codegen; the
    per-score histogram is one partial-agg'd groupBy (bounded by the
    6-dp score domain), and the cumulative fold runs on
    `ranking.global_cumsum` — no single-partition window anywhere."""
    from .ranking import global_cumsum

    m = _doc_words(spark, sf_dir, "doc_id").select(*_gopher_feature_cols())
    g = (
        m.select(
            F.round(_lr_score(), 6).alias("score"),
            _gopher_pass().cast("bigint").alias("y"),
        )
        .groupBy("score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("n_pos"),
        )
    )
    c = global_cumsum(g, [F.col("score")], ["n"], ["cum_n"]).select(
        "n", "n_pos", (F.col("cum_n") - F.col("n")).alias("cum_before")
    )
    two_r1 = F.sum(
        F.col("n_pos") * (2 * F.col("cum_before") + F.col("n") + 1)
    ).cast("bigint")
    agg = c.agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.sum("n_pos").cast("bigint").alias("n1"),
        F.sum(F.col("n") - F.col("n_pos")).cast("bigint").alias("n0"),
        two_r1.alias("two_r1"),
    )
    auc_num = (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)).cast("double")
    return agg.select(
        F.col("n_docs"),
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        F.round(auc_num / (2 * F.col("n1") * F.col("n0")).cast("double"), 6).alias(
            "roc_auc"
        ),
        F.round(
            auc_num / (F.col("n1") * F.col("n0")).cast("double") - 1.0, 6
        ).alias("gini_index"),
    )
