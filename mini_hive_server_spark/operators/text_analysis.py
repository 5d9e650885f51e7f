"""Text analysis for training-data pipelines over the `documents` table.

Beyond-reference extension (driver north star): language ID, quality
scoring, token counting, and document fingerprinting — the per-document
metrics a 100 TB corpus pipeline computes before dedup/filtering.

Everything is built-in expression work (split / higher-order array
functions / regexp / md5) — JVM-codegen'd, zero Python in the hot path, and
therefore embarrassingly parallel: no shuffles at all except the final
statistics group-bys. At 100 TB these run as map-only passes over the
corpus partitions.
"""

from __future__ import annotations

import pandas as pd  # module-level: the grouped-agg UDAF's type hint must
# resolve from module globals (PEP 563 stringifies annotations and pyspark's
# infer_eval_type resolves them against the defining module's namespace)
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_tables, parallelize_scan
from ..persistence import tracked_persist
from ..registry import register

from ._scoring import (
    _BM25_CTES,
    _DISTINCT_RATIO_SQL,
    _STOPWORD_RATIO_SQL,
    _doc_words,
    bm25_scores,
    distinct_ratio,
    stopword_ratio,
)
from ._text import WORDS_DUCK as _WORDS_DUCK  # noqa: E402
from ._text import WORDS_SPARK as _WORDS_SPARK  # noqa: E402

# explicit whitespace class, NOT backslash-s: Java's class includes
# x0B but RE2's does not, and the same pattern string feeds both
# engines (the word splits get the same treatment)
_TOKEN_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0B\\f\\r]"

_TOKEN_COUNT_ORACLE = f"""
SELECT doc_id,
       len({_WORDS_DUCK}) AS n_whitespace_tokens,
       len(regexp_extract_all(lower(text), '{_TOKEN_PATTERN}')) AS n_bpe_ish_tokens,
       n_chars
FROM documents
ORDER BY doc_id
"""


@register("text_token_count", oracle=_TOKEN_COUNT_ORACLE, tags=("llm", "text"))
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    segmentation (letter runs | digit runs | single punctuation) — the cheap
    proxy pipelines use for per-document token budgets."""
    docs = load_tables(spark, sf_dir)["documents"]
    return docs.select(
        "doc_id",
        F.expr(f"size({_WORDS_SPARK})").alias("n_whitespace_tokens"),
        # pattern as a lit() column — embedding it in a SQL string literal
        # would re-interpret the backslash escapes
        F.regexp_count(F.lower(F.col("text")), F.lit(_TOKEN_PATTERN)).alias(
            "n_bpe_ish_tokens"
        ),
        "n_chars",
    ).orderBy("doc_id")


_QUALITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_WORDS_DUCK} AS w, length(text) AS len_chars FROM documents
)
SELECT doc_id,
       len(w) AS n_words,
       round(list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w), 4)
         AS avg_word_len,
       {_STOPWORD_RATIO_SQL} AS stopword_ratio,
       {_DISTINCT_RATIO_SQL} AS distinct_ratio
FROM t
ORDER BY doc_id
"""


@register("text_quality_score", oracle=_QUALITY_ORACLE, tags=("llm", "text"))
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: word count, mean word length, stopword ratio,
    type-token (distinct) ratio — the length/punct/stopword heuristics used
    to filter low-quality documents before training. All higher-order array
    functions (no UDF)."""
    # materialize the words array once — lambdas are CodegenFallback, so
    # inlining the split into each metric re-runs the regex per metric
    t = _doc_words(spark, sf_dir, "doc_id")
    n_words = F.size(F.col("w"))
    return t.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(
            F.expr("aggregate(transform(w, x -> length(x)), 0L, (acc, x) -> acc + x)")
            * F.lit(1.0)
            / n_words,
            4,
        ).alias("avg_word_len"),
        stopword_ratio().alias("stopword_ratio"),
        distinct_ratio().alias("distinct_ratio"),
    ).orderBy("doc_id")


# marker-word scores per language; ties broken by the fixed CASE order so
# both engines classify identically
_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "y"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "les", "une", "et"),
}


def _score_duck(lang: str) -> str:
    lst = ", ".join(f"'{m}'" for m in _MARKERS[lang])
    return f"len(list_filter(w, x -> list_contains([{lst}], x)))"


def _score_spark(lang: str) -> Column:
    """Marker count over a pre-materialized words column `w` (splitting
    inside each score would re-run the regex 4x per row)."""
    lst = ", ".join(f"'{m}'" for m in _MARKERS[lang])
    return F.size(F.expr(f"filter(w, x -> x IN ({lst}))"))


_LANG_ID_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_score_duck('en')} AS s_en, {_score_duck('es')} AS s_es,
         {_score_duck('de')} AS s_de, {_score_duck('fr')} AS s_fr
  FROM (SELECT doc_id, lang, {_WORDS_DUCK} AS w FROM documents)
),
pred AS (
  SELECT doc_id, lang,
         CASE WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN 'und'
              WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
              WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
              WHEN s_de >= s_fr THEN 'de'
              ELSE 'fr' END AS lang_pred
  FROM scored
)
SELECT lang, lang_pred, count(*) AS n
FROM pred
GROUP BY lang, lang_pred
ORDER BY lang, lang_pred
"""


@register("text_lang_id", oracle=_LANG_ID_ORACLE, tags=("llm", "text"))
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-marker n-gram scoring) with a
    deterministic argmax; output is the confusion matrix against the
    fixture's labeled `lang`. (The synthetic corpus shares one vocabulary
    across langs, so the interesting part is the operator, not accuracy.)"""
    docs = load_tables(spark, sf_dir)["documents"]
    scored = docs.select(
        "doc_id", "lang", F.expr(_WORDS_SPARK).alias("w")
    ).select(
        "doc_id",
        "lang",
        _score_spark("en").alias("s_en"),
        _score_spark("es").alias("s_es"),
        _score_spark("de").alias("s_de"),
        _score_spark("fr").alias("s_fr"),
    )
    pred = scored.select(
        "lang",
        F.when(
            (F.col("s_en") == 0)
            & (F.col("s_es") == 0)
            & (F.col("s_de") == 0)
            & (F.col("s_fr") == 0),
            "und",
        )
        .when(
            (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr")),
            "en",
        )
        .when((F.col("s_es") >= F.col("s_de")) & (F.col("s_es") >= F.col("s_fr")), "es")
        .when(F.col("s_de") >= F.col("s_fr"), "de")
        .otherwise("fr")
        .alias("lang_pred"),
    )
    return (
        pred.groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_pred")
    )


_FINGERPRINT_ORACLE = """
SELECT doc_id,
       md5(lower(trim(text))) AS fingerprint,
       substr(md5(lower(trim(text))), 1, 8) AS bucket
FROM documents
ORDER BY doc_id
"""


@register("text_fingerprint_md5", oracle=_FINGERPRINT_ORACLE, tags=("llm", "text"))
def text_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting: md5 of the normalized text (identical hex in
    every engine) — the exact-dedup key and shard-bucket prefix. The
    incremental (rolling) counterpart is `text_rolling_fingerprint`,
    oracle-paired via an engine-portable Rabin-Karp fold."""
    docs = load_tables(spark, sf_dir)["documents"]
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    return docs.select(
        "doc_id", fp.alias("fingerprint"), F.substring(fp, 1, 8).alias("bucket")
    ).orderBy("doc_id")


_LANG_STATS_ORACLE = f"""
SELECT lang,
       count(*) AS n_docs,
       round(avg(n_chars), 2) AS avg_chars,
       round(avg(len({_WORDS_DUCK})), 2) AS avg_words,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register("doc_stats_by_lang", oracle=_LANG_STATS_ORACLE, tags=("llm", "text"))
def doc_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics by language — the summary pass a pipeline runs
    before sampling/mixing decisions."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            F.round(F.avg(F.expr(f"size({_WORDS_SPARK})")), 2).alias("avg_words"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


_TOKENIZE_UDTF_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {_WORDS_DUCK} AS arr
  FROM documents WHERE doc_id < 20
)
SELECT doc_id, CAST(i AS INTEGER) AS pos, arr[i + 1] AS token
FROM w, unnest(range(0, len(arr))) AS t(i)
ORDER BY doc_id, pos
"""


@register("text_tokenize_udtf", oracle=_TOKENIZE_UDTF_ORACLE, tags=("llm", "text", "udtf"))
def text_tokenize_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface: a table function exploding each document into
    (pos, token) rows, consumed via LATERAL join in SQL. For this exact
    job the builtin (posexplode(split(...))) is the production path — the
    UDTF exists to prove the extension point where per-row Python must
    emit a variable number of rows (parsers, segmenters, samplers).
    Python's str.split() and the whitespace-class regex agree on this corpus, so it
    is oracle-gated."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, token: string")
    class Tokenize:
        def eval(self, text):
            if text is None:
                # str(None) would tokenize the literal 'none' while the
                # oracle's regexp_split(NULL) yields no rows — a NULL
                # document emits nothing
                return
            for i, t in enumerate(str(text).lower().split()):
                yield i, t

    from ..catalog import register_views

    register_views(spark, sf_dir)
    spark.udtf.register("mhs_tokenize", Tokenize)
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM (SELECT doc_id, text FROM documents WHERE doc_id < 20) d,
             LATERAL mhs_tokenize(d.text) t
        ORDER BY d.doc_id, t.pos
        """
    )


_HASH_SPLIT_ORACLE = """
WITH h AS (
  SELECT n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
           % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       round(avg(n_chars), 2) AS avg_chars
FROM h
GROUP BY 1
ORDER BY split
"""


@register("text_hash_split", oracle=_HASH_SPLIT_ORACLE, tags=("llm", "text"))
def text_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5) by content-stable
    hash of the document id — the split every training pipeline needs to
    be REPRODUCIBLE and leak-free: a doc's split never depends on corpus
    order, partitioning, or engine, so re-runs and incremental ingests
    agree. md5 is used (not xxhash64) because both engines compute the
    identical digest, making the split itself oracle-checkable.

    Map-only + one agg shuffle; at 100 TB the same expression is the
    partition predicate for writing split-partitioned output
    (`partitionBy("split")`), still with no extra shuffle."""
    docs = load_tables(spark, sf_dir)["documents"]
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("split")
    )


_GEOMEAN_UDAF_ORACLE = """
SELECT lang,
       count(*) AS n_docs,
       round(exp(avg(ln(n_chars))), 2) AS geomean_chars
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register(
    "text_geomean_chars_udaf", oracle=_GEOMEAN_UDAF_ORACLE, tags=("llm", "text", "udf")
)
def text_geomean_chars_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas GROUPED_AGG UDAF surface: per-language geometric mean of
    document length as a vectorized aggregate (Series -> scalar, Arrow
    batch transfer) — completing the Python extension matrix alongside
    the scalar pandas_udf, the UDTF, applyInPandas, and
    applyInPandasWithState. For THIS aggregate the builtin
    exp(avg(ln(x))) is the production path (and is the oracle); the UDAF
    slot exists for aggregates with no algebraic decomposition.

    A grouped-agg pandas UDF is a full-group aggregate, not a partial
    one: unlike builtin sum/avg there is NO map-side combine — every row
    crosses the group shuffle. That cost profile is exactly why the
    engine keeps UDAFs out of hot paths and why the builtin twin is
    registered as the oracle, not the other way around."""
    import numpy as np

    @F.pandas_udf("double")
    def geomean(chars: pd.Series) -> float:
        return float(np.exp(np.log(chars.to_numpy(dtype="float64")).mean()))

    docs = load_tables(spark, sf_dir)["documents"]
    # a grouped-agg pandas UDF cannot share an agg() with builtin
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT) — two aggregations over
    # the same grouping join back on the key (both are lang-cardinality)
    gm = docs.groupBy("lang").agg(F.round(geomean("n_chars"), 2).alias("geomean_chars"))
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        counts.join(gm, "lang")
        .select("lang", "n_docs", "geomean_chars")
        .orderBy("lang")
    )


# --------------------------------------- Rabin-Karp rolling fingerprint

_RK_BASE = 131
_RK_MOD = 2147483647  # 2^31 - 1: fold stays < 2^40, overflow-free in both engines

_ROLLING_FP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, {_WORDS_DUCK} AS w FROM documents
),
codes AS (
  SELECT doc_id, source,
         list_transform(w, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS cs
  FROM toks
)
SELECT doc_id,
       source,
       list_reduce(list_prepend(0::BIGINT, cs),
                   (a, c) -> (a * {_RK_BASE} + c) % {_RK_MOD}) AS rolling_fp
FROM codes
ORDER BY doc_id
"""


@register("text_rolling_fingerprint", oracle=_ROLLING_FP_ORACLE, tags=("llm", "text", "dedup"))
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp polynomial rolling fingerprint per document:
    fp = fold(tokens, h -> (h*B + code(t)) mod M) with B=131, M=2^31-1
    and md5-derived 32-bit token codes — byte-identical in Spark
    (`aggregate` fold, codegen-safe modular arithmetic) and DuckDB
    (`list_reduce` over the same code list), which is what upgrades the
    rolling-fingerprint family from engine-specific to oracle-paired.

    Why a polynomial hash next to `text_fingerprint_md5`: the fold is
    INCREMENTAL — hash(doc || suffix) extends from hash(doc) in O(|suffix|)
    (h' = (h * B^k + poly(suffix)) mod M), so appends re-fingerprint
    without re-reading history, and fixed-width window hashes slide in
    O(1) per step — the property behind streaming dedup fingerprints and
    the span-window family (`text_span_dedup`). md5 has neither.

    Scale shape: pure map-only fold per row inside one projection — zero
    shuffles except the presentation sort; at 100 TB this is scan-bound,
    exactly like the quality screens."""
    docs = load_tables(spark, sf_dir)["documents"]
    fold = (
        f"aggregate({_WORDS_SPARK}, 0L, (acc, t) -> "
        f"(acc * {_RK_BASE}L + CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT))"
        f" % {_RK_MOD}L)"
    )
    return docs.select(
        "doc_id", "source", F.expr(fold).alias("rolling_fp")
    ).orderBy("doc_id")


# ------------------------------------------------------------ BM25 retrieval

_BM25_TOPN = 10

_BM25_ORACLE = f"""
WITH {_BM25_CTES},
ranked AS (
  SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rn FROM scored
)
SELECT doc_id, source, dl, bm25
FROM ranked WHERE rn <= {_BM25_TOPN}
ORDER BY rn
"""


@register("text_bm25_topk", oracle=_BM25_ORACLE, tags=("llm", "text", "retrieval"))
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 keyword retrieval (Robertson & Spärck Jones family):
    score every document against a fixed query term set with the
    saturating-tf, length-normalized formula (k1=1.2, b=0.75, the Lucene
    defaults) and return the top-10. The lexical-retrieval baseline that
    sits beside the embedding tiers (`similarity_*`) in any corpus-search
    stack — hybrid retrieval is this query unioned with cosine top-k.

    Plan: `_scoring.bm25_scores` over the raw scan — map-side term
    frequencies and one broadcast row of corpus constants, no shuffle.
    Ranking uses the ROUNDED score (tie-broken by doc_id): rank ties can
    only form between docs with identical rounded scores, which the
    doc_id tiebreak orders identically in both engines."""
    scored = bm25_scores(load_tables(spark, sf_dir)["documents"], "doc_id", "source")
    # total-ordered sort-limit compiles to TakeOrderedAndProject: each
    # partition keeps its local top-N and only N rows reach the driver-side
    # merge — no single-partition global window at any scale.
    return scored.orderBy(F.col("bm25").desc(), "doc_id").limit(_BM25_TOPN)


# -------------------------------------------------------- OOV-rate census

_VOCAB = (
    "the", "a", "of", "and", "to", "scan", "join", "sort", "hash", "merge",
    "table", "order", "window", "batch", "stream", "spark", "key", "part",
    "small", "fast", "dup",
)

_OOV_ORACLE = f"""
WITH t AS (
  SELECT source, unnest({_WORDS_DUCK}) AS tok FROM documents
)
SELECT source,
       count(*) AS n_tokens,
       count(*) FILTER (WHERE tok NOT IN ({", ".join("'" + v + "'" for v in _VOCAB)}))
         AS n_oov,
       count(DISTINCT tok)
         FILTER (WHERE tok NOT IN ({", ".join("'" + v + "'" for v in _VOCAB)}))
         AS n_oov_types,
       round(count(*) FILTER (WHERE tok NOT IN
               ({", ".join("'" + v + "'" for v in _VOCAB)}))
             * 1.0 / count(*), 4) AS oov_rate
FROM t
GROUP BY source
ORDER BY source
"""


@register("text_oov_rate", oracle=_OOV_ORACLE, tags=("llm", "text"))
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary census per source against a fixed tokenizer
    vocabulary: token-level OOV rate and distinct OOV type count — the
    number that predicts how much of a new crawl slice a frozen
    tokenizer will shred into bytes/UNKs, checked before mixing the
    slice in.

    Plan: explode rides the scan (map-side), then ONE partial-agg'd
    groupBy on source carries (token-count, oov-count, distinct-type
    partials); the vocabulary is a literal IN-list evaluated inside
    codegen — no join, no second pass. The exploded relation is
    token-cardinality but never materializes past its map stage except
    as the distinct-type shuffle, which carries (source, token) pairs
    only."""
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "source", F.explode(F.expr(_WORDS_SPARK)).alias("tok")
    )
    is_oov = ~F.col("tok").isin(*_VOCAB)
    return (
        toks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(is_oov, 1)).alias("n_oov"),
            F.count_distinct(F.when(is_oov, F.col("tok"))).alias("n_oov_types"),
            F.round(
                F.count(F.when(is_oov, 1)) * 1.0 / F.count(F.lit(1)), 4
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


# ------------------------------------------------------------- Zipf slope

_ZIPF_TOP = 100

_ZIPF_ORACLE = f"""
WITH toks AS (
  SELECT unnest({_WORDS_DUCK}) AS tok FROM documents
),
freq AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
ranked AS (
  SELECT tok, n,
         row_number() OVER (ORDER BY n DESC, tok) AS r
  FROM freq
)
SELECT count(*) AS n_terms,
       round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(r AS DOUBLE))), 6)
         AS zipf_slope,
       round(regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(r AS DOUBLE))), 6)
         AS r2
FROM ranked
WHERE r <= {_ZIPF_TOP}
"""


@register("text_zipf_slope", oracle=_ZIPF_ORACLE, tags=("llm", "text", "stats"))
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law conformance check: OLS slope of ln(frequency) against
    ln(rank) over the top-100 token types. Natural text sits near -1;
    template spam, boilerplate floods, and synthetic text bend the curve
    — a one-number corpus-health indicator data teams trend per crawl
    snapshot.

    Plan: one token-count groupBy (map-side partial agg, the
    `ngram_bigram_top` movement), then ranking and the regression run
    over the TOP-100 TYPE rows only — vocabulary-bounded, not corpus-
    bounded. The OLS fit is the built-in `regr_slope`/`regr_r2` moment
    aggregate (bit-identical to DuckDB at 6 decimals, the
    `events_value_regression` precedent); the global rank window touches
    100 surviving rows after a TakeOrdered-style pre-cut."""
    docs = parallelize_scan(
        load_tables(spark, sf_dir)["documents"].select("text")
    )
    freq = (
        docs.select(F.explode(F.expr(_WORDS_SPARK)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(_ZIPF_TOP)
    )
    w = Window.orderBy(F.col("n").desc(), "tok")
    ranked = freq.withColumn("r", F.row_number().over(w))
    return ranked.select(
        F.log(F.col("n").cast("double")).alias("y"),
        F.log(F.col("r").cast("double")).alias("x"),
    ).agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.expr("regr_slope(y, x)"), 6).alias("zipf_slope"),
        F.round(F.expr("regr_r2(y, x)"), 6).alias("r2"),
    )


# ------------------------------------------------ Heaps-law vocabulary growth

_HEAPS_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest({_WORDS_DUCK}) AS term
  FROM documents
),
firsts AS (
  SELECT term, min(doc_id) AS first_id FROM w GROUP BY term
),
doc_tokens AS (
  SELECT doc_id, count(*) AS n_tok FROM w GROUP BY doc_id
),
mx AS (SELECT max(doc_id) AS max_id FROM documents),
grid AS (
  SELECT CAST(t.i AS INTEGER) AS pt,
         CAST(floor(mx.max_id * t.i / 10.0) AS BIGINT) AS boundary
  FROM mx, unnest(range(1, 11)) AS t(i)
),
points AS (
  SELECT g.pt,
         (SELECT CAST(sum(n_tok) AS BIGINT) FROM doc_tokens d
          WHERE d.doc_id <= g.boundary) AS n_tokens,
         (SELECT count(*) FROM firsts f WHERE f.first_id <= g.boundary)
           AS vocab
  FROM grid g
)
SELECT count(*) AS n_points,
       round(regr_slope(ln(CAST(vocab AS DOUBLE)),
                        ln(CAST(n_tokens AS DOUBLE))), 6) AS heaps_beta,
       round(exp(regr_intercept(ln(CAST(vocab AS DOUBLE)),
                                ln(CAST(n_tokens AS DOUBLE)))), 4) AS heaps_k,
       round(regr_r2(ln(CAST(vocab AS DOUBLE)),
                     ln(CAST(n_tokens AS DOUBLE))), 6) AS r2
FROM points
WHERE n_tokens > 0 AND vocab > 0
"""


@register("text_heaps_law", oracle=_HEAPS_ORACLE, tags=("llm", "text", "stats"))
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth (V = K·N^beta): distinct-type
    count versus token count at 10 cumulative corpus prefixes, fit by OLS
    in log-log space — the corpus-health companion to the Zipf slope
    (`text_zipf_slope`): natural text grows vocabulary at beta ≈ 0.4-0.6;
    template spam (beta→0) and noise (beta→1) both betray themselves
    here.

    Plan shape matters: the naive form rescans the corpus per prefix
    (10x). Instead ONE tokenization pass yields each term's FIRST doc id
    and each doc's token count; every prefix's (N, V) is then a pair of
    filtered counts over those word/doc-cardinality relations against a
    broadcast 10-row boundary grid, and the regression is one moment
    aggregate over 10 points — the regr_* family on identical
    pre-computed log operands in both engines."""
    docs = load_tables(spark, sf_dir)["documents"]
    # persist + parallelize the tokenize pass: firsts (term-keyed) and
    # doc_tokens (doc-keyed) shuffle on DIFFERENT keys, so no exchange
    # reuse applies and the docstring's 'one tokenization pass' is only
    # true with this cache boundary
    w = tracked_persist(
        parallelize_scan(docs.select("doc_id", "text"), "doc_id").select(
            "doc_id", F.explode(F.expr(_WORDS_SPARK)).alias("term")
        )
    )
    firsts = w.groupBy("term").agg(F.min("doc_id").alias("first_id"))
    doc_tokens = w.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    mx = docs.agg(F.max("doc_id").alias("max_id"))
    grid = (
        mx.select(
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("pt"), "max_id"
        )
        .select(
            "pt",
            F.floor(F.col("max_id") * F.col("pt") / 10.0).cast("bigint").alias(
                "boundary"
            ),
        )
    )
    n_at = (
        F.broadcast(grid)
        .join(doc_tokens, doc_tokens["doc_id"] <= F.col("boundary"))
        .groupBy("pt")
        .agg(F.sum("n_tok").cast("bigint").alias("n_tokens"))
    )
    v_at = (
        F.broadcast(grid)
        .join(firsts, firsts["first_id"] <= F.col("boundary"))
        .groupBy("pt")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    points = n_at.join(v_at, "pt").filter(
        (F.col("n_tokens") > 0) & (F.col("vocab") > 0)
    )
    logs = points.select(
        F.log(F.col("vocab").cast("double")).alias("lv"),
        F.log(F.col("n_tokens").cast("double")).alias("ln_"),
    )
    return logs.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.expr("regr_slope(lv, ln_)"), 6).alias("heaps_beta"),
        F.round(F.exp(F.expr("regr_intercept(lv, ln_)")), 4).alias("heaps_k"),
        F.round(F.expr("regr_r2(lv, ln_)"), 6).alias("r2"),
    )


# ------------------------------------------------ Flesch-Kincaid readability

_FK_ORACLE = f"""
WITH per_doc AS (
  SELECT doc_id, source,
         greatest(len(regexp_split_to_array(trim(text), '[.!?]+[ \\t\\n\\x0B\\f\\r]*')), 1)
           AS n_sentences,
         len({_WORDS_DUCK}) AS n_words,
         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
           AS n_syllables
  FROM documents
  WHERE length(trim(text)) > 0
),
graded AS (
  SELECT source,
         round(0.39 * (n_words * 1.0 / n_sentences)
               + 11.8 * (n_syllables * 1.0 / n_words) - 15.59, 6) AS fk_grade
  FROM per_doc
)
SELECT source,
       count(*) AS n_docs,
       round(avg(fk_grade), 4) AS avg_grade,
       round(min(fk_grade), 4) AS min_grade,
       round(max(fk_grade), 4) AS max_grade
FROM graded
GROUP BY source
ORDER BY source
"""


@register("text_readability_fk", oracle=_FK_ORACLE, tags=("llm", "text", "curation"))
def text_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade-level readability per source: 0.39·(words/
    sentences) + 11.8·(syllables/words) − 15.59, with syllables
    approximated as vowel-group count (the standard cheap proxy) — the
    curation signal that separates encyclopedic prose from listicles and
    OCR soup, complementing the Gopher length/stopword rules with a
    STRUCTURE-sensitive score used by reading-level data mixes.

    Plan: all three counts are regexp expressions inside codegen —
    map-only; the census is one source-cardinality aggregate. Both
    engines compute counts from identical regex semantics (split on
    sentence punctuation, vowel-group extraction) and grade arithmetic
    runs on identical integers."""
    docs = load_tables(spark, sf_dir)["documents"].filter(
        F.length(F.trim("text")) > 0
    )
    per_doc = docs.select(
        "source",
        F.greatest(
            F.size(F.split(F.trim("text"), r"[.!?]+[ \t\n\x0B\f\r]*")), F.lit(1)
        ).alias("n_sentences"),
        F.size(F.expr(_WORDS_SPARK)).alias("n_words"),
        F.greatest(
            F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")),
            F.lit(1),
        ).alias("n_syllables"),
    )
    graded = per_doc.select(
        "source",
        F.round(
            0.39 * (F.col("n_words") / F.col("n_sentences"))
            + 11.8 * (F.col("n_syllables") / F.col("n_words"))
            - 15.59,
            6,
        ).alias("fk_grade"),
    )
    return (
        graded.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("fk_grade"), 4).alias("avg_grade"),
            F.round(F.min("fk_grade"), 4).alias("min_grade"),
            F.round(F.max("fk_grade"), 4).alias("max_grade"),
        )
        .orderBy("source")
    )


# ----------------------------------------------- quality-decile token census

_QUALITY_DECILES_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_WORDS_DUCK} AS w, n_chars FROM documents
),
q AS (
  SELECT doc_id, n_chars,
         {_STOPWORD_RATIO_SQL}
           + {_DISTINCT_RATIO_SQL} AS score
  FROM t
),
tiled AS (
  SELECT n_chars, score,
         ntile(10) OVER (ORDER BY score DESC, doc_id) AS decile
  FROM q
)
SELECT decile,
       count(*) AS n_docs,
       round(avg(score), 4) AS avg_score,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM tiled
GROUP BY decile
ORDER BY decile
"""


@register("documents_quality_deciles", oracle=_QUALITY_DECILES_ORACLE, tags=("llm", "text", "agg"))
def documents_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile census of the corpus: every document scored by the
    cheap composite (stopword ratio + type-token ratio, the same signals
    `text_quality_score` emits per-doc), ranked into EXACT deciles, and
    each decile's document count and character mass reported — the
    "what does dropping the bottom k% actually cost in tokens" question
    a curation budget starts from.

    This is the documents-table anchor for `ranking.global_ntile`: the
    decile assignment is the range-partitioned exact rank (no
    corpus-cardinality single-partition sort — at 100 TB the score
    relation is per-document and would melt a window ntile), and the
    cells are bit-identical to the oracle's window ntile because ties on
    the round(4)-ed score are totalized by doc_id.

    Plan: one map-only scoring pass (higher-order array functions, zero
    Python), one range exchange + pid-window + broadcast-offsets join
    from global_ntile, one 10-row census aggregate. The score sums two
    individually round(4)-ed IEEE divisions, so both engines rank
    identical doubles."""
    from .ranking import global_ntile

    docs = load_tables(spark, sf_dir)["documents"]
    t = parallelize_scan(docs.select("doc_id", "text", "n_chars")).select(
        "doc_id", "n_chars", F.expr(_WORDS_SPARK).alias("w")
    )
    scored = t.select(
        "doc_id", "n_chars", (stopword_ratio() + distinct_ratio()).alias("score")
    )
    tiled = global_ntile(
        scored, 10, [F.col("score").desc(), "doc_id"], "decile"
    )
    return (
        tiled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("score"), 4).alias("avg_score"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("decile")
    )


# ------------------------------------ BPE tokenizer training (3 merges)

_BPE_MERGES = 3


def _bpe_sql_chain() -> str:
    """The shared DuckDB WITH-chain replaying the 3 BPE merge rounds —
    same bracket-delimited merge rule as the Spark side, dialect-adapted
    (string_split / \\1 backreferences / scalar subselects). The word
    column rides through every round so the final state doubles as the
    word→tokens map (`tokenizer_bpe_apply`).

    Token state is '[t1][t2]...': every token is wrapped on BOTH sides,
    so replace('[a][b]', '[ab]') can only fire on exact whole-token
    adjacency AND leaves each replacement's closing/opening brackets
    intact for the next scan position — property-tested equal to the
    reference greedy left-to-right list merge for ALL inputs
    (tests/test_decoder_properties.py). The earlier single-'|' encoding
    was NOT exact BPE: 'a|b' could match a token whose text merely
    starts with b or ends with a (fuzz finding)."""
    rounds = ",".join(
        f"""
p{k} AS (
  SELECT arr[i] AS a, arr[i+1] AS b, CAST(sum(freq) AS BIGINT) AS c
  FROM (SELECT string_split(s[2:len(s) - 1], '][') AS arr, freq
        FROM s{k - 1}),
       unnest(range(1, len(arr))) AS t(i)
  GROUP BY 1, 2
),
best{k} AS (SELECT a, b, c FROM p{k} ORDER BY c DESC, a, b LIMIT 1),
s{k} AS (
  SELECT word,
         replace(s, (SELECT '[' || a || '][' || b || ']' FROM best{k}),
                    (SELECT '[' || a || b || ']' FROM best{k})) AS s, freq
  FROM s{k - 1}
)"""
        for k in range(1, _BPE_MERGES + 1)
    )
    return f"""
words AS (
  SELECT t.w AS word, count(*) AS freq
  FROM documents, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS t(w)
  GROUP BY 1
),
s0 AS (
  SELECT word, regexp_replace(word, '(.)', '[\\1]', 'g') AS s, freq
  FROM words
),{rounds}"""


def _bpe_oracle() -> str:
    unions = "\nUNION ALL ".join(
        f"SELECT {k} AS merge_rank, a AS tok_a, b AS tok_b, "
        f"a || b AS merged, c AS pair_count FROM best{k}"
        for k in range(1, _BPE_MERGES + 1)
    )
    return f"""
WITH {_bpe_sql_chain()}
SELECT CAST(merge_rank AS INTEGER) AS merge_rank, tok_a, tok_b, merged,
       pair_count
FROM ({unions})
ORDER BY merge_rank
"""


def _bpe_pair_counts(state: DataFrame) -> DataFrame:
    """(s bracket-delimited token string, freq) → (a, b, c): adjacent
    -pair counts weighted by word frequency. Words with a single
    remaining token have no pairs (guarded — `sequence(0, -1)` would
    DESCEND, not empty)."""
    # ONE SQL string keeps driver time flat: the Column-API form re-built
    # the split() subtree per reference and paid ~60 py4j round trips
    # per call (3 calls per BPE chain); expr() is one parse.
    # The '\\]\\[' literal is the same `\]\[` regex the Column form
    # passed to F.split.
    arr = "split(substring(s, 2, length(s) - 2), '\\\\]\\\\[')"
    pairs = (
        f"CASE WHEN size({arr}) >= 2 THEN "
        f"transform(sequence(0, size({arr}) - 2), i -> named_struct("
        f"'a', element_at({arr}, i + 1), 'b', element_at({arr}, i + 2))) "
        f"ELSE cast(array() as array<struct<a:string,b:string>>) END"
    )
    return (
        state.select(F.expr(f"explode({pairs})").alias("p"), "freq")
        .groupBy("p.a", "p.b")
        .agg(F.sum("freq").cast("long").alias("c"))
    )


@register("tokenizer_bpe_merges", oracle=_bpe_oracle(), tags=("llm", "text", "iterative"))
def tokenizer_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING — the first 3 merge rules
    (Sennrich et al. 2016), the missing half of the tokenizer story next
    to `text_token_count`'s BPE-ish tokenizATION. The corpus touches the
    dataflow exactly once (word frequencies); every merge round then
    runs over the VOCABULARY relation — Heaps-law-bounded, orders of
    magnitude smaller than the corpus — which is precisely how BPE is
    trained over a 100 TB corpus in practice (aggregate word counts in
    one distributed pass, iterate merges on the count table).

    Merge application needs no per-word fold: each word's token state
    wraps every token in brackets ('[h][e][l][l][o]') and merging pair
    (a,b) is `replace(s, '[a][b]', '[ab]')` — with BOTH token
    boundaries anchored, SQL's leftmost non-overlapping replace IS the
    greedy left-to-right BPE merge rule, identically in Spark and
    DuckDB (tokens are [a-z]-only, so the delimiters can't collide;
    property-tested equal to a reference list merge for ALL inputs,
    including prefix/suffix token collisions and odd runs — a plain
    single-separator encoding fails those, see
    tests/test_decoder_properties.py).
    Per round: one explode+groupBy over the vocab for pair counts, a
    1-row argmax broadcast back (count desc, pair asc tiebreak), one
    map-only replace. 3 rounds statically unrolled, like
    `graph_pagerank_3iter`; a production run caches the state table per
    round and iterates to vocab_size.

    Output: the learned merge table (rank, pair, merged token, count) —
    the artifact a tokenizer ships."""
    _, merges = _bpe_train(load_tables(spark, sf_dir)["documents"])
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.orderBy("merge_rank")


def _bpe_train(docs: DataFrame) -> tuple[DataFrame, list[DataFrame]]:
    """Shared training chain: returns (final word-state, per-round merge
    rows). The state keeps the original word next to its merged token
    string, so it doubles as the word→tokens map for application.

    The per-round argmax is COLLECTED to the driver — one
    bounded scalar row per merge round, the same driver-coordination
    budget as the graph family's per-round convergence counts, and
    exactly how production BPE training iterates on the aggregated
    count table. Before, the argmax stayed lazy under a
    crossJoin(broadcast(best)): state_{k-1} then appeared TWICE in round
    k's plan (directly AND under best_k), so the final plan carried a
    2^k-duplicated vocab-replace tree — the same three argmax jobs ran
    anyway (as broadcast-exchange subqueries), plus ~0.5 s of analysis
    over the duplicated trees and the replayed vocab replaces. With the
    scalars in hand, each round's merge is a LITERAL string replace, the
    plan is linear in merge depth, and the merge table is literal rows.
    Interleaved same-session A/B at sf0.1 (4 pairs, bench protocol):
    1.76 s → 1.23 s median, outputs row-identical. The `words` persist
    stays the one cache boundary — the corpus is still
    scanned exactly once per invocation.

    Tokens are [a-z]+ by construction (the regexp_extract_all below),
    so interpolating them into the replace/lit expressions is
    quote-safe."""
    words = tracked_persist(
        docs.select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    state = words.select(
        "word",
        F.expr("regexp_replace(word, '(.)', '[$1]')").alias("s"),
        "freq",
    )
    spark = docs.sparkSession
    merges = []
    for rank in range(1, _BPE_MERGES + 1):
        rows = (
            _bpe_pair_counts(state)
            .orderBy(F.col("c").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not rows:
            # degenerate corpus (no adjacent pair anywhere): the old
            # lazy form crossJoined an EMPTY best relation, emptying the
            # state and the merge row — replicate that exactly
            merges.append(
                spark.range(0).select(
                    F.lit(rank).cast("int").alias("merge_rank"),
                    F.lit("").alias("tok_a"),
                    F.lit("").alias("tok_b"),
                    F.lit("").alias("merged"),
                    F.lit(0).cast("long").alias("pair_count"),
                )
            )
            state = state.filter(F.lit(False))
            continue
        a, b, c = rows[0]["a"], rows[0]["b"], int(rows[0]["c"])
        merges.append(
            spark.range(1).select(
                F.lit(rank).cast("int").alias("merge_rank"),
                F.lit(a).alias("tok_a"),
                F.lit(b).alias("tok_b"),
                F.lit(a + b).alias("merged"),
                F.lit(c).cast("long").alias("pair_count"),
            )
        )
        state = state.select(
            "word",
            F.expr(f"replace(s, '[{a}][{b}]', '[{a}{b}]')").alias("s"),
            "freq",
        )
    return state, merges


_BPE_APPLY_ORACLE = f"""
WITH {_bpe_sql_chain()}
, tokmap AS (
  SELECT word, length(word) AS n_char,
         len(string_split(s[2:len(s) - 1], '][')) AS n_tok
  FROM s{_BPE_MERGES}
),
src_words AS (
  SELECT d.source, t.w AS word, count(*) AS n
  FROM documents d,
       unnest(regexp_extract_all(lower(d.text), '[a-z]+')) AS t(w)
  GROUP BY 1, 2
)
SELECT sw.source,
       CAST(sum(sw.n) AS BIGINT) AS n_words,
       CAST(sum(sw.n * tm.n_char) AS BIGINT) AS tokens_char_level,
       CAST(sum(sw.n * tm.n_tok) AS BIGINT) AS tokens_after_merges,
       round(sum(sw.n * tm.n_tok) * 1.0 / sum(sw.n * tm.n_char), 4)
         AS compression
FROM src_words sw JOIN tokmap tm ON sw.word = tm.word
GROUP BY sw.source
ORDER BY sw.source
"""


@register("tokenizer_bpe_apply", oracle=_BPE_APPLY_ORACLE, tags=("llm", "text", "iterative"))
def tokenizer_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION — the train→apply composition: the
    3-merge vocabulary map learned by the training chain tokenizes the
    corpus, reported as per-source token budgets (char-level baseline vs
    post-merge count, compression ratio). This is the number a training
    pipeline actually consumes: how many tokens each source contributes
    under the current tokenizer.

    Scale shape: tokenization-at-scale is a JOIN against the trained
    word→tokens map, not a re-fold per document — the per-(source, word)
    counts aggregate map-side, the token map is the Heaps-bounded vocab
    relation (broadcast-eligible; at fixture scale AQE broadcasts it),
    and no per-document Python runs anywhere. The oracle replays the
    same chain plus the same join in SQL."""
    docs = load_tables(spark, sf_dir)["documents"]
    state, _ = _bpe_train(docs)
    tokmap = state.select(
        "word",
        F.length("word").alias("n_char"),
        F.size(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), "\\]\\[")
        ).alias("n_tok"),
    )
    src_words = (
        docs.select(
            "source",
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("word"),
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        src_words.join(tokmap, "word")
        .groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_words"),
            F.sum(F.col("n") * F.col("n_char"))
            .cast("long")
            .alias("tokens_char_level"),
            F.sum(F.col("n") * F.col("n_tok"))
            .cast("long")
            .alias("tokens_after_merges"),
            F.round(
                F.sum(F.col("n") * F.col("n_tok"))
                * F.lit(1.0)
                / F.sum(F.col("n") * F.col("n_char")),
                4,
            ).alias("compression"),
        )
        .orderBy("source")
    )


# ---------------------------------------- inverted index (blocked d-gaps)

_POSTING_BLOCK = 256  # docs per posting block

_INVERTED_INDEX_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, t.w AS term
  FROM documents, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS t(w)
),
tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
p AS (
  SELECT term, doc_id // {_POSTING_BLOCK} AS block,
         count(*) AS df_block,
         CAST(sum(tf) AS BIGINT) AS tf_block,
         list_sort(list(doc_id)) AS arr
  FROM tf GROUP BY 1, 2
),
g AS (
  SELECT term, block, df_block, tf_block,
         list_transform(range(1, len(arr) + 1),
                        i -> arr[i] - coalesce(arr[i - 1], 0)) AS gaps
  FROM p
)
SELECT term,
       CAST(block AS BIGINT) AS block,
       df_block,
       tf_block,
       array_to_string(gaps, ',') AS gaps_csv,
       CAST(list_max(gaps) AS BIGINT) AS max_gap
FROM g
ORDER BY term, block
"""


@register("text_inverted_index", oracle=_INVERTED_INDEX_ORACLE, tags=("llm", "text", "retrieval"))
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction — the retrieval-side artifact the BM25
    and boolean tiers would serve from: term → sorted posting list,
    DELTA-encoded (d-gaps, the standard prelude to varint/PForDelta
    compression), with per-list df/tf statistics.

    Scale shape (the part that matters at 100 TB): posting lists are
    SHARDED into fixed-size doc-id blocks of _POSTING_BLOCK (256) docs —
    the grouping key is (term, doc_id div 256) — so no single
    collect_list can exceed 256 entries BY CONSTRUCTION, no matter how
    common the term. A stopword's postings land as many bounded block
    rows instead of one unbounded array (the Lucene segment layout, not
    the toy one-array-per-term layout that OOMs on the first stopword).
    The d-gap stream restarts per block, which is exactly what
    block-level skip pointers need. One tokenize pass, two key-hash
    shuffles ((term, doc) tf then (term, block) assembly), zero Python.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    tok = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("term"),
    )
    tf = tok.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    posting = (
        tf.withColumn("block", F.expr(f"doc_id div {_POSTING_BLOCK}"))
        .groupBy("term", "block")
        .agg(
            F.count(F.lit(1)).alias("df_block"),
            F.sum("tf").cast("long").alias("tf_block"),
            F.sort_array(F.collect_list("doc_id")).alias("arr"),
        )
    )
    gaps = F.expr(
        "transform(arr, (x, i) -> x - if(i = 0, cast(0 as bigint), arr[i - 1]))"
    )
    return (
        posting.select(
            "term",
            "block",
            "df_block",
            "tf_block",
            # both outputs derive from the ONE gaps expression, so a
            # d-gap formula fix lands in gaps_csv and max_gap alike
            F.array_join(
                F.transform(gaps, lambda g: g.cast("string")), ","
            ).alias("gaps_csv"),
            F.array_max(gaps).alias("max_gap"),
        )
        .orderBy("term", "block")
    )


# -------------------------------------------------- blocklist term screen

# Literal multi-word phrases plus a control term that never occurs: the
# zero row proves absent patterns surface as 0/0/0.0, not as a dropped
# group.
_BLOCKLIST = (
    "fast table",
    "scan slow",
    "spark",
    "window window",
    "forbiddenterm",
)


def _occurrences(col: Column, pat: str) -> Column:
    """Leftmost non-overlapping occurrence count via replace-length
    arithmetic — exact integers, engine-identical (no regex dialect in
    play). Patterns are chosen without quotes or regex metacharacters."""
    return (
        # F.replace over the PASSED column, so the count works whatever
        # the caller's column is named
        (F.length(col) - F.length(F.replace(col, F.lit(pat), F.lit(""))))
        / F.lit(len(pat))
    ).cast("bigint")


_BLOCKLIST_ORACLE = "WITH hits AS (" + " UNION ALL ".join(
    f"""
  SELECT '{p}' AS pattern,
         CAST((length(text) - length(replace(text, '{p}', '')))
              / {len(p)} AS BIGINT) AS occ
  FROM documents"""
    for p in _BLOCKLIST
) + """
)
SELECT pattern,
       count(*) FILTER (WHERE occ > 0) AS n_docs_hit,
       CAST(sum(occ) AS BIGINT) AS total_occurrences,
       round(CAST(count(*) FILTER (WHERE occ > 0) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS doc_share
FROM hits
GROUP BY pattern
ORDER BY pattern
"""


@register("text_blocklist_screen", oracle=_BLOCKLIST_ORACLE, tags=("llm", "text", "curation"))
def text_blocklist_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pattern literal blocklist screen — the curation pass that
    counts banned/boilerplate phrase occurrences across the corpus
    before filtering (spam markers, license boilerplate, canary
    strings). Occurrences are counted with replace-length arithmetic
    (leftmost non-overlapping, exact integers — no regex dialect
    differences to reconcile), and each doc emits one row per pattern
    through a map-side posexplode of a bounded literal struct array —
    a P-way scan fan-out with NO join, so at 100 TB the pass stays one
    map stage plus a |patterns|-row aggregate. A never-occurring control
    term pins the zero-hit row.

    The per-pattern doc share feeds threshold decisions the way
    `text_boilerplate_templates` feeds dedup: a phrase hitting 90% of
    docs is boilerplate, one hitting 0.01% is a targeted blocklist
    match."""
    docs = load_tables(spark, sf_dir)["documents"].select(
        F.col("text").alias("t")
    )
    structs = [
        F.struct(
            F.lit(p).alias("pattern"), _occurrences(F.col("t"), p).alias("occ")
        )
        for p in _BLOCKLIST
    ]
    return (
        docs.select(F.explode(F.array(*structs)).alias("s"))
        .select("s.pattern", "s.occ")
        .groupBy("pattern")
        .agg(
            F.sum(F.when(F.col("occ") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs_hit"),
            F.sum("occ").cast("bigint").alias("total_occurrences"),
            F.round(
                F.sum(F.when(F.col("occ") > 0, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("doc_share"),
        )
        .orderBy("pattern")
    )


# ---------------------------------------- TextRank keyword extraction

_TR_DAMPING = 0.85
_TR_BASE = 0.15  # the folded (1 - damping) literal; see the ws comment
_TR_ITER = 3
_TR_TOPK = 15
_TR_MIN_LEN = 4  # stopword-ish short words stay out of the graph


def _textrank_oracle() -> str:
    """Unrolled 3-iteration replay of the weighted-TextRank recurrence in
    DuckDB — same CTE-unroll pattern as the PageRank oracles; the word
    co-occurrence graph derives from the identical tokenize + adjacency
    rules (consecutive SURVIVING tokens after the length filter)."""
    steps = []
    for k in range(1, _TR_ITER + 1):
        steps.append(
            f"""ws{k} AS (
  SELECT n.word,
         {_TR_BASE}
           + {_TR_DAMPING} * coalesce(
               sum(p.ws * (e.w * 1.0 / dg.deg)), 0) AS ws
  FROM nodes n
  LEFT JOIN und e ON e.v = n.word
  LEFT JOIN degs dg ON dg.word = e.u
  LEFT JOIN ws{k - 1} p ON p.word = e.u
  GROUP BY n.word
)"""
        )
    unrolled = ",\n".join(steps)
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                     x -> length(x) >= {_TR_MIN_LEN}) AS l
  FROM documents
),
adj AS (
  SELECT doc_id, l[i] AS a, l[i + 1] AS b
  FROM toks, unnest(range(1, len(l))) AS t(i)
),
edges AS (
  SELECT least(a, b) AS u, greatest(a, b) AS v, count(*) AS w
  FROM adj WHERE a <> b
  GROUP BY 1, 2
),
und AS (
  SELECT u, v, w FROM edges UNION ALL SELECT v AS u, u AS v, w FROM edges
),
degs AS (SELECT u AS word, CAST(sum(w) AS BIGINT) AS deg FROM und GROUP BY u),
nodes AS (SELECT word FROM degs),
ws0 AS (SELECT word, 1.0 AS ws FROM nodes),
{unrolled}
SELECT word, round(ws, 6) AS textrank
FROM ws{_TR_ITER}
ORDER BY round(ws, 6) DESC, word
LIMIT {_TR_TOPK}
"""


@register(
    "text_textrank_keywords",
    oracle=_textrank_oracle(),
    tags=("llm", "text", "graph", "iterative"),
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    the word CO-OCCURRENCE graph — nodes are corpus words (length >= 4,
    the stopword screen), edges weight consecutive-word adjacency, and
    the weighted recurrence WS(v) = (1-d) + d * sum_u w_uv/deg(u) * WS(u)
    runs 3 unrolled iterations (the paper's graph converges fast; fixed
    depth keeps it oracle-expressible, the `graph_pagerank_3iter`
    argument). Top-15 words by rounded rank — corpus-level keywords, the
    extractive complement to the TF-IDF per-doc terms.

    Scale shape: tokenize + adjacency are MAP-ONLY (consecutive pairs
    come from zipping each doc's token array with its own tail — no
    positional self-join); the edge aggregate and each iteration's
    join+sum shuffle on WORD keys. The node/degree relations are
    vocabulary-bounded (Heaps' law: ~N^0.5); the ITERATED edge relation
    is distinct-BIGRAM-bounded, which stays far below the corpus only
    because real text is Zipf-distributed with exponent ~1 (the head
    absorbs new adjacency mass) — the `textrank_*` scale curve (SCALE.md's
    scale-curve harness for the text/iterative family; last numbers in BENCH_local_r14opt_final.json's
    `experiments` block) measures 10x corpus -> 1.3x wall under a 1/k
    word law, and its documented negative result shows a flatter
    exponent-1/2 law loses the bound (distinct bigrams then grow
    ~linearly with the corpus).
    Float determinism: weights and degrees are BIGINTs, w/deg one IEEE
    division; per-word contribution sums reassociate at ~1e-15 relative,
    absorbed by ranking on the round(…, 6) value with a word tiebreak."""
    docs = load_tables(spark, sf_dir)["documents"]
    toks = parallelize_scan(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        F.expr(
            f"filter(regexp_extract_all(lower(text), '[a-z]+', 0),"
            f" x -> length(x) >= {_TR_MIN_LEN})"
        ).alias("l"),
    )
    adj = toks.select(
        F.explode_outer(
            F.arrays_zip(
                F.expr("slice(l, 1, greatest(size(l) - 1, 0))"),
                F.expr("slice(l, 2, greatest(size(l) - 1, 0))"),
            )
        ).alias("p")
    ).select(F.col("p.0").alias("a"), F.col("p.1").alias("b"))
    from ..persistence import tracked_persist

    # tracked_persist `edges` — the CORPUS-SCAN boundary: `und` below
    # references edges
    # TWICE (the union's two arms), and BOTH `degs` and `contrib_edges`
    # materialize through `und`, so without this persist the
    # tokenize→adjacency→edge-aggregate pipeline — the only
    # corpus-proportional work in the query — executed FOUR times (2
    # union arms x 2 persist materializations; event-log profile showed
    # 4-5 near-identical 32-task tokenize stages of 0.27-0.51 s each).
    # The persisted relation is the distinct-bigram edge list —
    # vocabulary-bounded (Heaps), NOT corpus-proportional, so the cache
    # is as scale-safe as the two downstream persists. Measured at
    # sf0.1: 2.66 s -> 1.87 s median-of-5.
    edges = tracked_persist(
        adj.filter(F.col("a") != F.col("b"))
        .groupBy(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    und = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )

    # persist BOTH vocabulary-bounded loop relations: the whole query is
    # one lazy plan (3 unrolled iterations, one action), and `nodes`
    # is referenced once per iteration — unpersisted, each reference
    # re-runs the tokenize→edges→degree pipeline
    degs = tracked_persist(
        und.groupBy(F.col("u").alias("word")).agg(
            F.sum("w").cast("long").alias("deg")
        )
    )
    contrib_edges = tracked_persist(
        und.join(degs, und["u"] == degs["word"]).select(
            "u", "v", (F.col("w").cast("double") / F.col("deg")).alias("wd")
        )
    )
    nodes = degs.select("word")
    ws = nodes.select("word", F.lit(1.0).alias("ws"))
    for _ in range(_TR_ITER):
        contrib = (
            ws.join(contrib_edges, ws["word"] == contrib_edges["u"])
            .groupBy("v")
            .agg(F.sum(F.col("ws") * F.col("wd")).alias("c"))
        )
        ws = nodes.join(contrib, nodes["word"] == contrib["v"], "left").select(
            "word",
            (
                # folded literal, NOT F.lit(1 - _TR_DAMPING): Python's
                # 1-0.85 = 0.15000000000000002, one ulp ABOVE the 0.15
                # DuckDB's DECIMAL fold produces — a systematic per-node
                # per-iteration offset, not reassociation noise
                # (verified numerically)
                F.lit(_TR_BASE)
                + _TR_DAMPING * F.coalesce("c", F.lit(0.0))
            ).alias("ws"),
        )
    ranked = ws.select("word", F.round("ws", 6).alias("textrank"))
    return ranked.orderBy(F.col("textrank").desc(), "word").limit(_TR_TOPK)
