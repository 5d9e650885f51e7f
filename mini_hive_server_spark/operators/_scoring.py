"""The LLM-pipeline scoring rules, each spelled once per engine.

- The Gopher quality rules (Rae et al. 2021): four per-document features
  over a words column `w` (`_gopher_feature_cols` / `_GOPHER_M_EXPRS`),
  one pass predicate per rule (`_gopher_rules` / `_GOPHER_RULES_SQL`)
  and their conjunction (`_gopher_pass` / `_GOPHER_PASS_SQL`).
- The logistic-regression quality score over those features
  (`_lr_score` / `_LR_SCORE_SQL`).
- Okapi BM25 against a fixed three-term query (`bm25_scores` /
  `_BM25_CTES`).
- The stopword ratio and distinct (type-token) ratio of a words column,
  rounded to 4 places (`stopword_ratio` / `_STOPWORD_RATIO_SQL`,
  `distinct_ratio` / `_DISTINCT_RATIO_SQL`).

`_doc_words` and `_gopher_ctes` are the shared "documents → words →
features" prefix of the Gopher-family queries, Spark side and oracle side.

A leaf module with no `@register`: `similarity` and `pipeline` read these
rules and are imported before `text_analysis` and `curation` in
`registry._QUERY_MODULES`, so importing a query module instead would
register its queries earlier and reorder `all_specs()`.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables, parallelize_scan
from ._text import STOPWORDS, WORDS_DUCK, WORDS_SPARK

# ------------------------------------------------ Gopher-style rule filter

# Thresholds adapted to the synthetic corpus (docs are 10-99 words from a
# small shared vocabulary); the published rules use [50, 100k] words etc.
_MIN_WORDS, _MAX_WORDS = 30, 1000
_MIN_AWL, _MAX_AWL = 2.0, 12.0
_MIN_STOPWORDS = 2
_MAX_TOP_WORD_FRAC = 0.15


def _doc_words(spark: SparkSession, sf_dir: str, *keep: str) -> DataFrame:
    """(*keep, w): every document's `keep` columns and its words array,
    split once after `parallelize_scan` spreads the interpreted lambdas
    across cores."""
    docs = load_tables(spark, sf_dir)["documents"]
    scan = docs.select(*dict.fromkeys(("doc_id", *keep, "text")))
    return parallelize_scan(scan).select(*keep, F.expr(WORDS_SPARK).alias("w"))


def _gopher_feature_cols() -> "list[Column]":
    """The four Gopher rule features (nw, awl, ns, top_frac) as aliased
    Columns over a tokenized relation carrying array column `w`. Every
    rule/classifier query reads them: `text_gopher_quality`,
    `text_quality_classifier`, `text_quality_report`,
    `classifier_calibration_bins`, `classifier_pr_auc`,
    `classifier_roc_auc` and `corpus_recipe_funnel`. The `0L`
    accumulator keeps a pathological >2^31-char document from overflowing
    an int sum. Values are int-sum / int-count IEEE divisions —
    bit-identical cross-engine."""
    nw = F.size(F.col("w"))
    return [
        nw.alias("nw"),
        (
            F.expr(
                "aggregate(transform(w, x -> length(x)), 0L, (acc, x) -> acc + x)"
            )
            * F.lit(1.0)
            / nw
        ).alias("awl"),
        F.size(F.expr(f"filter(w, x -> x IN ({STOPWORDS}))")).alias("ns"),
        (
            F.expr(
                "array_max(transform(array_distinct(w),"
                " x -> size(filter(w, y -> y = x))))"
            )
            * F.lit(1.0)
            / nw
        ).alias("top_frac"),
    ]


# the oracle-side twin of _gopher_feature_cols, spliced into each
# oracle's `m` CTE
_GOPHER_M_EXPRS = f"""len(w) AS nw,
         list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w) AS awl,
         len(list_filter(w, x -> list_contains([{STOPWORDS}], x))) AS ns,
         list_max(list_transform(list_distinct(w),
                                 x -> len(list_filter(w, y -> y = x))))
           * 1.0 / len(w) AS top_frac"""


def _gopher_ctes(*keep: str, extra: str = "") -> str:
    """The oracles' `t(doc_id, *keep, w)` and `m(*keep, nw, awl, ns,
    top_frac{extra})` CTEs over `documents`; `extra` appends further `m`
    columns (each starting with a comma)."""
    t_cols = ", ".join(dict.fromkeys(("doc_id", *keep)))
    m_cols = "".join(f"{k}, " for k in keep)
    return f"""t AS (
  SELECT {t_cols}, {WORDS_DUCK} AS w FROM documents
),
m AS (
  SELECT {m_cols}{_GOPHER_M_EXPRS}{extra}
  FROM t
)"""


def _gopher_rules() -> "dict[str, Column]":
    """Rule name → pass predicate over the `_gopher_feature_cols` columns."""
    return {
        "len": F.col("nw").between(_MIN_WORDS, _MAX_WORDS),
        "wordlen": F.col("awl").between(_MIN_AWL, _MAX_AWL),
        "stop": F.col("ns") >= _MIN_STOPWORDS,
        "rep": F.col("top_frac") <= _MAX_TOP_WORD_FRAC,
    }


def _gopher_pass() -> Column:
    """A document passes the Gopher filter when it passes every rule."""
    return functools.reduce(operator.and_, _gopher_rules().values())


_GOPHER_RULES_SQL = {
    "len": f"nw BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}",
    "wordlen": f"awl BETWEEN {_MIN_AWL} AND {_MAX_AWL}",
    "stop": f"ns >= {_MIN_STOPWORDS}",
    "rep": f"top_frac <= {_MAX_TOP_WORD_FRAC}",
}
_GOPHER_PASS_SQL = " AND ".join(_GOPHER_RULES_SQL.values())

# ------------------------------------------------- text-quality ratios


def stopword_ratio() -> Column:
    """The share of the words in array column `w` that are stopwords,
    rounded to 4 places."""
    n_stop = F.size(F.expr(f"filter(w, x -> x IN ({STOPWORDS}))"))
    return F.round(n_stop * F.lit(1.0) / F.size(F.col("w")), 4)


def distinct_ratio() -> Column:
    """The type-token ratio of array column `w` (distinct words over
    words), rounded to 4 places."""
    n_distinct = F.size(F.array_distinct(F.col("w")))
    return F.round(n_distinct * F.lit(1.0) / F.size(F.col("w")), 4)


_STOPWORD_RATIO_SQL = f"""round(len(list_filter(w, x -> list_contains([{STOPWORDS}], x)))
             * 1.0 / len(w), 4)"""
_DISTINCT_RATIO_SQL = "round(len(list_distinct(w)) * 1.0 / len(w), 4)"

# ------------------------------------- model-based quality classifier

# Fixed logistic-regression weights over the rule features — the GPT-3 /
# fastText-style learned quality filter's plan shape with a deterministic
# stand-in for trained coefficients (training itself is out of engine
# scope; deployment is: broadcast coefficients, map-side score).
_LR_W = {"bias": -1.0, "nw": 0.02, "awl": 0.15, "stop": 0.08, "rep": -6.0}


def _lr_score() -> Column:
    """The LR quality score: the sigmoid of `_LR_W` over the Gopher
    features. A raw sigmoid can differ in the last ulp between engines,
    so every threshold or bucket decision rounds it first."""
    logit = (
        F.lit(_LR_W["bias"])
        + F.lit(_LR_W["nw"]) * F.col("nw")
        + F.lit(_LR_W["awl"]) * F.col("awl")
        + F.lit(_LR_W["stop"]) * F.col("ns")
        + F.lit(_LR_W["rep"]) * F.col("top_frac")
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))


_LR_SCORE_SQL = f"""1.0 / (1.0 + exp(-({_LR_W['bias']} + {_LR_W['nw']} * nw
                            + {_LR_W['awl']} * awl + {_LR_W['stop']} * ns
                            + {_LR_W['rep']} * top_frac)))"""

# ------------------------------------------------------------ BM25 retrieval

_BM25_TERMS = ("spark", "join", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_scores(docs: DataFrame, *keep: str) -> DataFrame:
    """(*keep, dl, bm25): every row of `docs` (which carries `text` and the
    `keep` columns) scored against `_BM25_TERMS` with the saturating-tf,
    length-normalized Okapi formula, rounded to 4 places.

    Per-document term frequencies are map-side higher-order array ops;
    the corpus constants (N, avgdl, per-term df) are ONE partial-agg'd
    row crossed back as a broadcast, so `docs` is scanned twice and
    shuffled never. round(…,4) absorbs the last-ulp `ln` divergence
    between engines."""
    m = docs.select(
        *keep,
        F.expr(f"size({WORDS_SPARK})").alias("dl"),
        *[
            F.expr(f"size(filter({WORDS_SPARK}, x -> x = '{t}'))").alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    c = m.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    score = None
    for i in range(len(_BM25_TERMS)):
        tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = F.log(1 + (F.col("n") - df + F.lit(0.5)) / (df + F.lit(0.5)))
        norm = F.lit(1 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
        part = idf * tf * F.lit(_BM25_K1 + 1) / (tf + F.lit(_BM25_K1) * norm)
        score = part if score is None else score + part
    return m.crossJoin(F.broadcast(c)).select(
        *keep, "dl", F.round(score, 4).alias("bm25")
    )


def _bm25_ctes() -> str:
    """The oracle-side twin of bm25_scores: CTEs ending in
    `scored(doc_id, source, dl, bm25)` over `documents`."""
    sep = ",\n         "
    tfs = sep.join(
        f"len(list_filter(w, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    dfs = sep.join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    score = "\n         + ".join(
        f"ln(1 + (n - df{i} + 0.5) / (df{i} + 0.5))"
        f"\n             * tf{i} * ({_BM25_K1} + 1)"
        f"\n             / (tf{i} + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""t AS (
  SELECT doc_id, source, {WORDS_DUCK} AS w FROM documents
),
m AS (
  SELECT doc_id, source, len(w) AS dl,
         {tfs}
  FROM t
),
c AS (
  SELECT count(*) AS n, avg(dl) AS avgdl,
         {dfs}
  FROM m
),
scored AS (
  SELECT doc_id, source, dl,
         round(
           {score},
         4) AS bm25
  FROM m, c
)"""


_BM25_CTES = _bm25_ctes()
