"""Similarity search over the `embeddings` table (array<float> column) —
driver north-star extension: brute-force cosine top-k as the exactness
baseline, hyperplane-LSH bucketing as the scale path.

No Python in the distance kernel: dot products are built-in higher-order
array expressions (`zip_with` + `aggregate`), which whole-stage-codegen
compiles to a tight JVM loop and — verified empirically — produce
bit-identical doubles to DuckDB's `list_dot_product` left fold, so cosine
scores are oracle-checkable without tolerance.

Scale design: brute force is O(Q·N) per query batch — fine when Q is small
(broadcast the queries, map-only over the corpus, TakeOrderedAndProject
per query). The LSH tier buckets vectors by 16 hyperplane sign bits so each
query only scans its bucket (~N/2^16 of the corpus); recall is traded via
number of tables/bits. An IVF variant is the same plan shape with k-means
centroid assignment instead of hyperplane signs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_tables, local_rows, parallelize_scan
from ..persistence import tracked_persist
from ..registry import register
from ._scoring import _BM25_CTES, bm25_scores

_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def _dot(a: str, b: str):
    return F.expr(_DOT.format(a=a, b=b))


def _vectors(embeddings: DataFrame, *cols: str) -> DataFrame:
    """(vec_id, *cols, v): each row of the embeddings table with its
    vector as array<double>."""
    return embeddings.select("vec_id", *cols, F.col("embedding").cast("array<double>").alias("v"))


def _normed_embeddings(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """(vec_id, *cols, v, nrm): every embedding as array<double> with its
    L2 norm, computed once per row — per pair it would cost two extra dot
    products for identical doubles (sqrt of the same sum in the same
    order)."""
    emb = parallelize_scan(load_tables(spark, sf_dir)["embeddings"], "vec_id")
    return _vectors(emb, *cols).withColumn("nrm", F.sqrt(_dot("v", "v")))


_TRAIN_CAP = 4096  # training rows per codebook: bounds the collect and the fit


def _train_sample(emb: DataFrame, col: str) -> "tuple[np.ndarray, list]":
    """(training matrix over `col`, query rows (vec_id, `col`)) from one
    bounded collect. The training rows are the first _TRAIN_CAP vec_ids
    whose key hash is even, a 50% sample that depends only on the
    fixture: `sample()` draws per partition, so its rows (and a codebook
    trained on them) changed with the core count. The five query rows
    (vec_id < 5) sort first under the same ordered limit, so one
    TakeOrderedAndProject job fetches both.

    `emb` must be the embeddings scan itself, not its
    `parallelize_scan`: the ordered limit then runs map-side over the
    file scan, where over the repartition it shuffles the corpus first
    for the same rows."""
    train = F.expr("pmod(xxhash64(vec_id), 2) = 0")
    rows = (
        emb.filter(train | (F.col("vec_id") < 5))
        .select("vec_id", col, train.alias("train"))
        .orderBy("vec_id")
        .limit(_TRAIN_CAP + 5)
        .collect()
    )
    points = np.array([r[col] for r in rows if r["train"]][:_TRAIN_CAP])
    return points, [r for r in rows if r["vec_id"] < 5]


def _kmeans(points: np.ndarray, k: int) -> np.ndarray:
    """(k, dim) centres of a driver-side k-means over a bounded sample:
    k-means++ seeding from a fixed-seed generator, then 10 Lloyd
    iterations; a cell that loses every point keeps its centre. A pure
    function of `points`, cheap enough that each query trains its own
    codebook. The 256-centre PQ codebook takes 0.09 s over the sf0.01
    fixture's 250 training vectors and ~1 s at the 4,096-vector cap
    (4 vCPUs), and runs no Spark job."""
    rng = np.random.default_rng(42)
    centers = np.empty((k, points.shape[1]))
    centers[0] = points[rng.integers(len(points))]
    d2 = ((points - centers[0]) ** 2).sum(axis=1)
    for i in range(1, k):
        centers[i] = points[rng.choice(len(points), p=d2 / d2.sum())]
        d2 = np.minimum(d2, ((points - centers[i]) ** 2).sum(axis=1))
    for _ in range(10):
        cell = (-2.0 * points @ centers.T + (centers**2).sum(axis=1)).argmin(axis=1)
        n = np.bincount(cell, minlength=k)[:, None]
        sums = np.zeros_like(centers)
        np.add.at(sums, cell, points)
        centers = np.where(n > 0, sums / np.maximum(n, 1), centers)
    return centers


def _cosine() -> "F.Column":
    """The exact cosine of query vector `qv` (norm `qnrm`) and row vector
    `v` (norm `nrm`), rounded to 6 places; `_COSINE_SQL` is the oracle
    twin."""
    return F.round(_dot("qv", "v") / (F.col("qnrm") * F.col("nrm")), 6)


def _exact_top5(emb: DataFrame, corpus: DataFrame) -> DataFrame:
    """The exact top-5 cosine neighbours of the 5 query vectors
    (`vec_id < 5` of the `_normed_embeddings` relation `emb`) among the
    other rows of `corpus`, a subset of `emb`: the queries broadcast and
    the corpus is scanned map-only."""
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    pairs = corpus.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid", F.col("vec_id").alias("nid"), _cosine().alias("cosine")
    )
    return _top5(pairs)


def _top5(pairs: DataFrame) -> DataFrame:
    """The exact top-5 cut every (qid, nid, cosine) tier ends in: each
    query's 5 best neighbours by cosine, ties broken by nid, with their
    1-based rank, ordered by (qid, rank)."""
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("qid", "nid", "cosine", "rank")
        .orderBy("qid", "rank")
    )


# the exact cosine of query vector `qv` and row vector `v`, rounded to 6
# places: the oracles' twin of _cosine
_COSINE_SQL = """round(list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6)"""

_COSINE_TOPK_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
pairs AS (
  SELECT qid, e.vec_id AS nid,
         {_COSINE_SQL}
           AS cosine
  FROM q, e
  WHERE e.vec_id <> qid
),
ranked AS (
  SELECT qid, nid, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
  FROM pairs
)
SELECT qid, nid, cosine, rank FROM ranked WHERE rank <= 5
ORDER BY qid, rank
"""


@register("similarity_cosine_topk", oracle=_COSINE_TOPK_ORACLE, tags=("llm", "similarity", "headline"))
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 5 query vectors: broadcast the queries,
    one map-only pass over the corpus, per-query top-k window. The exactness
    baseline every ANN tier is measured against."""
    emb = _normed_embeddings(spark, sf_dir)
    return _exact_top5(emb, emb)


_N_TABLES = 8  # independent hash tables
_N_BITS = 6  # sign bits per table → 64 buckets/table


def _hyperplanes() -> np.ndarray:
    """Fixed-seed random hyperplanes (N_TABLES·N_BITS, 64) for the 64-dim
    embeddings — deterministic across runs and executor counts."""
    return np.random.RandomState(42).randn(_N_TABLES * _N_BITS, 64)


def _probe_buckets() -> "F.Column":
    """Multi-probe LSH over the `bkts` column: one array of (tbl, bucket)
    structs holding, for every table, the row's own bucket and each
    bucket within Hamming radius 2 of it (1 + 6 + 15 = 22 per table)."""
    probes = []
    for t in range(_N_TABLES):
        b = F.col("bkts")[t]
        probes.append(F.struct(F.lit(t).alias("tbl"), b.alias("bucket")))
        for i in range(_N_BITS):
            probes.append(
                F.struct(
                    F.lit(t).alias("tbl"),
                    b.bitwiseXOR(F.lit(1 << i)).alias("bucket"),
                )
            )
            for j in range(i + 1, _N_BITS):
                probes.append(
                    F.struct(
                        F.lit(t).alias("tbl"),
                        b.bitwiseXOR(F.lit((1 << i) | (1 << j))).alias("bucket"),
                    )
                )
    return F.array(*probes)


def _bucket_kernel(vs: pd.Series) -> pd.Series:
    """All `_N_TABLES` bucket ids per vector in one Arrow batch: a single
    (batch x dim) @ (dim x tables*bits) matrix multiply, sign bits packed
    per table. The hyperplanes ride in the function closure (shipped once
    per executor), replacing the earlier formulation that inlined 48
    plane-literal arrays into the plan (~1.7 MB task binaries) and
    evaluated 48 interpreted higher-order dot products per row.

    Wrapped with F.pandas_udf inside the query, NOT at module level: the
    Python worker re-imports this module, and a module-level pandas_udf
    decorator needs a SparkSession the worker doesn't have."""
    planes = _hyperplanes()  # (tables*bits, dim)
    mat = np.vstack(vs.to_numpy())  # (n, dim)
    signs = (mat @ planes.T) >= 0  # (n, tables*bits)
    weights = 1 << np.arange(_N_BITS)
    buckets = np.stack(
        [
            signs[:, t * _N_BITS : (t + 1) * _N_BITS] @ weights
            for t in range(_N_TABLES)
        ],
        axis=1,
    ).astype("int32")
    return pd.Series(list(buckets))


@register(
    "similarity_lsh_ann", oracle=_COSINE_TOPK_ORACLE, tags=("llm", "similarity")
)
def similarity_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via multi-table, multiprobe hyperplane LSH:
    8 independent tables × 6 sign bits; each query probes its own bucket
    plus every bucket within Hamming radius 2 (1 + 6 + 15 = 22
    probes/table). Candidates = union of probed buckets; exact cosine
    re-ranks them. For the fixture's weak neighbors (cosine ≈ 0.3 →
    per-bit agreement ≈ 0.6) single-table LSH has near-zero recall;
    radius-2 multiprobe over 8 tables lifts the per-pair hit rate to
    1 - (1 - 0.54)^8 ≈ 0.998 analytically, and — because the hyperplanes
    are fixed (seed 42) and the fixture is static — to a MEASURED exact
    1.0 on sf0.001/0.01/0.1. That determinism is what makes the query
    oracle-pairable: with full recall on the fixed query set, the
    re-ranked top-5 equals the brute-force top-5, so the brute-force SQL
    (_COSINE_TOPK_ORACLE) is the oracle; any future recall loss (plane or
    fixture drift) surfaces as a driver hash mismatch, not silence. At a
    production near-dup threshold (per-bit agreement ≥ 0.85) radius 1
    suffices at far lower scan fraction — the probe depth is a fixture
    property, not the design point.

    At 100 TB: bucket assignment is map-only, the probe join is an
    equi-join on (table, bucket), and candidate re-rank touches only
    collided vectors."""
    lsh_bucket_ids = F.pandas_udf(_bucket_kernel, "array<int>")
    emb = _normed_embeddings(spark, sf_dir).withColumn("bkts", lsh_bucket_ids("v"))
    # corpus side: one (table, bucket) row per table
    corpus = emb.select(
        # posexplode_outer: bkts is a fixed-length pandas_udf result; plain
        # posexplode's implicit size>0 filter can duplicate the UDF eval
        "vec_id", "v", "nrm", F.posexplode_outer("bkts").alias("tbl", "bucket")
    )
    # query side: own bucket + every 1-bit and 2-bit flip per table
    q = emb.filter(F.col("vec_id") < 5)
    queries = q.select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.explode_outer(_probe_buckets()).alias("tb"),
    ).select("qid", "qv", "qnrm", "tb.tbl", "tb.bucket")
    candidates = (
        corpus.join(
            F.broadcast(queries),
            ["tbl", "bucket"],
        )
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "qv", "qnrm", "vec_id", "v", "nrm")
        .distinct()
    )
    pairs = candidates.select(
        "qid", F.col("vec_id").alias("nid"), _cosine().alias("cosine")
    )
    return _top5(pairs)


_EMB_NEARDUP_THRESHOLD = 0.45

_EMB_NEARDUP_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
n AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
)
SELECT a.vec_id AS d1, b.vec_id AS d2,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {_EMB_NEARDUP_THRESHOLD}
ORDER BY d1, d2
"""


@register("dedup_embedding_cosine", oracle=_EMB_NEARDUP_ORACLE, tags=("llm", "dedup", "similarity"))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.45): semantic
    dedup, the tier that catches paraphrases exact/shingle tiers miss.

    LSH-candidate + exact-verify, mirroring the MinHash→exact-Jaccard
    structure in dedup.py: hyperplane buckets (the module's shared
    `_bucket_kernel`, 8 tables × 6 sign bits) generate candidates via an
    equi-join on (table, bucket) — each doc additionally probes every
    bucket within Hamming radius 2 of its own code, per table — and exact
    cosine runs ONLY on collided pairs. No `vec_id < vec_id` cartesian
    anywhere: cost is O(docs · tables · probes) shuffle rows plus bucket
    collisions, linear in corpus size.

    Recall: the fixture's qualifying pairs sit at cosine 0.45-0.60
    (per-bit agreement ≈ 0.65) — measured under the fixed seed-42
    hyperplanes, every qualifying pair at sf0.001/0.01/0.1 has best-table
    bucket-Hamming ≤ 2, so radius-2 multiprobe recall is exactly 1.0 on
    these fixtures and the exhaustive oracle stays exact (deterministic:
    the planes are fixed, not per-run random). At a production near-dup
    threshold (~0.95, per-bit agreement ≈ 0.9) the analytical miss rate
    per pair is < 1e-6 with radius 1; the fixture's unusually weak
    threshold is what forces radius 2 here."""
    lsh_bucket_ids = F.pandas_udf(_bucket_kernel, "array<int>")
    # The bucketed relation feeds candidate generation (both sides) and
    # exact verification (both probes) — persist so the pandas-UDF bucket
    # pass and the norm computation run once.
    emb = tracked_persist(
        _normed_embeddings(spark, sf_dir).withColumn("bkts", lsh_bucket_ids("v"))
    )
    # corpus side: exact (table, bucket) per table
    corpus = emb.select(
        "vec_id", F.posexplode_outer("bkts").alias("tbl", "bucket")
    )
    # probe side: own bucket + every 1-bit and 2-bit flip per table
    probe_side = emb.select(
        "vec_id", F.explode_outer(_probe_buckets()).alias("tb")
    ).select(F.col("vec_id").alias("pid"), "tb.tbl", "tb.bucket")
    candidates = (
        probe_side.join(
            corpus,
            (probe_side["tbl"] == corpus["tbl"])
            & (probe_side["bucket"] == corpus["bucket"])
            & (F.col("pid") < corpus["vec_id"]),
        )
        .select(F.col("pid").alias("d1"), F.col("vec_id").alias("d2"))
        .distinct()
    )
    a = emb.alias("a")
    b = emb.alias("b")
    cos = _dot("a.v", "b.v") / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        candidates.join(a, F.col("d1") == F.col("a.vec_id"))
        .join(b, F.col("d2") == F.col("b.vec_id"))
        .filter(cos >= _EMB_NEARDUP_THRESHOLD)
        .select("d1", "d2", F.round(cos, 6).alias("cosine"))
        .orderBy("d1", "d2")
    )


_IVF_K = 16  # coarse-quantizer cells
_IVF_NPROBE = 6  # sublinear operating point (recall test); registered query probes all k


@register("similarity_ivf_ann", oracle=_COSINE_TOPK_ORACLE, tags=("llm", "similarity"))
def similarity_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer
    (fixed seed), each vector assigned to its nearest centroid cell; a query
    scans its `nprobe` nearest cells and exact cosine re-ranks the
    candidates. The second ANN family next to hyperplane LSH — IVF adapts
    to the data distribution where LSH is data-oblivious.

    Scale shape: centroid training is a driver-side k-means (`_kmeans`)
    inside the query over a bounded key-hash sample (`_train_sample`, at
    most 4,096 rows at any corpus size), assignment is a map-only
    broadcast-centroid pass, the probe is an equi-join on cell id, and
    re-rank touches ~nprobe/k of the corpus.

    Oracle pairing (same treatment as similarity_lsh_ann): the REGISTERED
    query runs at nprobe = k, where the candidate set provably covers the
    whole corpus and the re-ranked top-5 EQUALS the brute-force top-5
    regardless of where k-means placed the centroids — so the brute-force
    SQL is an exact oracle and the driver hash-checks the entire IVF
    machinery (train → assign → probe equi-join → re-rank). The
    recall/latency trade lives in the nprobe knob, exercised at the
    sublinear operating point (nprobe=6/16, ~37% scanned) by
    tests/test_llm_ops.py::test_ivf_ann_recall via _ivf_ann(). Measured
    recall@5 there: 0.76 at sf0.01, 0.52 at sf0.1 — a fixture property,
    not the index: the fixed query set's true top-5 are weak neighbors
    (cosine ≈ 0.3, effectively random directions), for which ANY sublinear
    index degenerates toward its scan fraction (random baseline 6/16 =
    0.375). Planted strong neighbors (cosine ≥ 0.9) co-locate in cells and
    are recalled reliably — the regime IVF is for; for "top-k among
    near-random vectors", brute force (similarity_cosine_topk) is the
    honest tool."""
    return _ivf_ann(spark, sf_dir, nprobe=_IVF_K)


def _ivf_ann(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """IVF top-k at an explicit probe depth; see similarity_ivf_ann. The
    coarse quantizer is trained on every call, on the driver, from the
    same bounded sample as the PQ codebook."""
    emb = _normed_embeddings(spark, sf_dir)
    scan = _vectors(load_tables(spark, sf_dir)["embeddings"])
    centers = _kmeans(_train_sample(scan, "v")[0], _IVF_K)  # (k, dim)
    # Centroids ride in the pandas_udf closures (~8 KB shipped once per
    # task), and each Arrow batch does ONE (batch x dim) @ (dim x k)
    # matmul. The earlier form inlined every centroid as a plan-literal
    # array and ran k interpreted zip_with/aggregate passes per row
    # (higher-order fns are CodegenFallback).
    c_sq = (centers**2).sum(axis=1)

    def _cell_dists(vs: pd.Series) -> np.ndarray:
        mat = np.vstack(vs.to_numpy())  # (n, dim)
        return -2.0 * (mat @ centers.T) + c_sq  # argmin-equivalent sq-dist

    def _nearest_kernel(vs: pd.Series) -> pd.Series:
        return pd.Series(_cell_dists(vs).argmin(axis=1).astype("int32"))

    def _probe_kernel(vs: pd.Series) -> pd.Series:
        order = np.argsort(_cell_dists(vs), axis=1, kind="stable")
        return pd.Series(list(order[:, :nprobe].astype("int32")))

    nearest_cell = F.pandas_udf(_nearest_kernel, "int")
    probe_cells = F.pandas_udf(_probe_kernel, "array<int>")

    corpus = emb.select("vec_id", "v", "nrm", nearest_cell("v").alias("cell"))
    queries = (
        emb.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
            # explode_outer: avoid duplicating the pandas_udf via implicit filter
            F.explode_outer(probe_cells("v")).alias("cell"),
        )
    )
    candidates = (
        corpus.join(F.broadcast(queries), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "qv", "qnrm", "vec_id", "v", "nrm")
        .distinct()
    )
    pairs = candidates.select(
        "qid", F.col("vec_id").alias("nid"), _cosine().alias("cosine")
    )
    return _top5(pairs)


_NORM_STATS_ORACLE = """
WITH e AS (
  SELECT label, sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
)
SELECT label, count(*) AS n,
       round(avg(nrm), 4) AS avg_norm,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm
FROM e
GROUP BY label
ORDER BY label
"""


@register("embedding_norm_stats", oracle=_NORM_STATS_ORACLE, tags=("llm", "similarity"))
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding statistics (count, mean/min/max L2 norm) — the
    sanity pass before any ANN indexing."""
    emb = load_tables(spark, sf_dir)["embeddings"].select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    nrm = F.sqrt(_dot("v", "v"))
    return (
        emb.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
        .orderBy("label")
    )


_CENTROID_ORACLE = """
SELECT label, CAST(t.i - 1 AS INT) AS dim,
       floor(CAST(sum(CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000
                                 + 0.5) AS BIGINT)) AS DOUBLE)
             / count(*) / 100 + 0.5) / 10000.0 AS centroid
FROM embeddings, range(1, 65) AS t(i)
GROUP BY 1, 2
ORDER BY label, dim
"""


@register("embedding_label_centroids", oracle=_CENTROID_ORACLE, tags=("llm", "similarity"))
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, one output row per
    (label, dimension) — the class-prototype computation behind centroid
    classifiers, cluster drift monitoring, and IVF re-training.

    Plan shape: `posexplode` each vector to (label, dim, val), then
    groupBy(label, dim) with avg. The explode looks like a 64× row blowup,
    but map-side partial aggregation collapses each partition to
    (n_labels × 64) rows BEFORE the exchange — at 100 TB the shuffle
    carries kilobytes. This beats any driver-side vector summation and
    needs no UDF.

    Centroid values are exact: round(avg) over raw floats is a
    .xxxx5-boundary lottery across engines —
    components quantize to integer micro-units per row, sum as BIGINT,
    divide by the BIGINT count, floor-round; every op is bit-identical
    on both sides (and an exactly-zero integer sum yields +0.0, never
    the -0.0 a float mean can produce)."""
    emb = parallelize_scan(load_tables(spark, sf_dir)["embeddings"], "vec_id")
    return (
        emb.select(
            "label",
            F.posexplode_outer(F.col("embedding").cast("array<double>")).alias(
                "dim", "val"
            ),
        )
        .select(
            "label",
            "dim",
            F.floor(F.col("val") * 1000000 + F.lit(0.5)).cast("long").alias("vm"),
        )
        .groupBy("label", "dim")
        .agg(
            (
                F.floor(
                    F.sum("vm").cast("double")
                    / F.count(F.lit(1))
                    / F.lit(100)
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("centroid")
        )
        .orderBy("label", "dim")
    )


# ------------------------------------------------ filtered vector search

_FILTERED_TOPK_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
keep AS (
  SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 200
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
pairs AS (
  SELECT qid, e.vec_id AS nid,
         {_COSINE_SQL}
           AS cosine
  FROM q, e
  WHERE e.vec_id <> qid AND e.vec_id IN (SELECT doc_id FROM keep)
),
ranked AS (
  SELECT qid, nid, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
  FROM pairs
)
SELECT qid, nid, cosine, rank FROM ranked WHERE rank <= 5
ORDER BY qid, rank
"""


@register(
    "similarity_filtered_topk", oracle=_FILTERED_TOPK_ORACLE, tags=("llm", "similarity")
)
def similarity_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search — top-5 cosine neighbors among only the
    vectors whose DOCUMENT passes an attribute predicate (lang = 'en' AND
    n_chars >= 200): the retrieval shape RAG pipelines actually run,
    and the classically hard ANN case because the filter decimates every
    index bucket.

    The engine PRE-filters: the predicate is evaluated on the metadata
    table (documents — where Parquet pushes both conjuncts to the scan,
    embeddings untouched), and a left-semi join on the key restricts the
    vector relation BEFORE any distance work; only doc ids cross the
    join, never text or vectors. Exact scoring over the filtered subset
    is the right plan whenever the predicate is selective — cost is
    O(|filtered| x queries), and at 1% selectivity brute force over the
    survivors beats probing an ANN index whose buckets are 99% dead
    post-filter. For broad predicates the IVF tier composes the other
    way (probe first, post-filter candidates); the crossover is a
    selectivity estimate away, same as any scan-vs-index choice."""
    docs_keep = (
        load_tables(spark, sf_dir)["documents"]
        .filter((F.col("lang") == "en") & (F.col("n_chars") >= 200))
        .select("doc_id")
    )
    emb = _normed_embeddings(spark, sf_dir)
    corpus = emb.join(docs_keep, emb["vec_id"] == docs_keep["doc_id"], "left_semi")
    return _exact_top5(emb, corpus)


# ----------------------------------- product quantization + ADC retrieval

_PQ_M = 8  # subspaces (64-dim → 8 x 8-dim subvectors)
_PQ_K = 256  # centroids per codebook → 8-bit codes, 8 bytes per vector
_PQ_C = 192  # ADC candidate depth fed to the exact re-rank (see docstring)


def _pq_codebook(points: np.ndarray) -> np.ndarray:
    """Train a SHARED-codebook product quantizer: one `_kmeans` over the
    pooled subvector slices of the training vectors (all M subspaces
    reuse the same 256 centres, the shared-codebook PQ variant). Returns
    (k, dim/M) centres, a pure function of `points`."""
    return _kmeans(points.reshape(-1, 64 // _PQ_M), _PQ_K)


@register("similarity_pq_adc", oracle=_COSINE_TOPK_ORACLE, tags=("llm", "similarity"))
def similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization retrieval (Jégou et al. 2011) with asymmetric
    distance computation: corpus vectors are L2-normalized and encoded as
    M=8 8-bit codes (8 bytes/vector — a 64x compression of the fp64
    corpus); each query builds an (M x k) lookup table of
    subvector-centroid dot products, candidates score as the sum of M
    table entries (ADC approximates the cosine against the normalized
    corpus), and the top-C=192 ADC candidates get an exact cosine
    re-rank to top-5 — the FAISS IndexPQ scan shape.

    Oracle pairing (same move as the LSH/IVF tiers): at C=192 the ADC
    candidate set contains the true top-5 at the correctness SFs with
    a measured margin of 2.2x or more (sf0.01 needs depth 40, sf0.001
    depth 87 — pinned at >= 2x margin by tests/test_llm_ops.py::
    test_pq_adc_candidates_cover_true_topk; the depth is a property of
    the fixture's weak-neighbor geometry — true top-5 cosines ~0.3 on
    near-random directions, the regime the IVF docstring quantifies —
    not of PQ: at production near-dup thresholds the margin widens by
    orders of magnitude), so the re-ranked output
    EQUALS brute force and the brute-force SQL is an exact oracle over
    the whole encode → LUT → ADC → re-rank machinery.

    Scale shape: encoding is one map-only Arrow kernel (argmin over a
    256-row codebook per subspace); the ADC scan is a map-only pass over
    8-byte codes past a broadcast 5-row query side — the 100 TB win is
    exactly that the fp corpus (512 B/vector) never rescans per query,
    codes do (256 x 8 x 8B of codebook rides each task closure); the
    top-C exchange moves (qid, nid, score) triples only
    (never vectors); re-rank joins the C*|q| winner ids back against the
    full-precision corpus via a size-bounded broadcast of the winner
    list. Every call trains its codebook: a driver-side k-means
    (shared-codebook variant, see _pq_codebook) over at most 4,096
    vectors chosen by key hash (`_train_sample`), so the codebook, and
    the candidate depth the coverage test certifies, are the same at
    every core count, and the training cost is inside the query's
    time."""
    emb, q, scored = _pq_scored(spark, sf_dir)
    wc = Window.partitionBy("qid").orderBy(F.col("adc_score").desc(), F.col("nid"))
    cand = (
        scored.withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= _PQ_C)
        .select("qid", "nid")
    )
    # exact re-rank: winner ids (<= C * |q| rows, size-bounded at any SF →
    # static broadcast is justified) rendezvous with the fp corpus
    exact = (
        emb.select(F.col("vec_id").alias("nid"), F.col("vn").alias("nvn"))
        .join(F.broadcast(cand), "nid")
        .join(F.broadcast(q.select("qid", "qvn")), "qid")
        .select(
            "qid",
            "nid",
            F.round(_dot("qvn", "nvn"), 6).alias("cosine"),
        )
    )
    return _top5(exact)


def _pq_scored(spark: SparkSession, sf_dir: str):
    """Train the codebook, encode the corpus and ADC-score every (query,
    code-row) pair; returns (normalized corpus, query side, scored
    relation) so the coverage test measures candidate depth through the
    exact production path. One bounded collect fetches the training
    vectors and the query rows; nothing is kept between calls."""
    def _unit(embeddings: DataFrame) -> DataFrame:
        # normalize once: ADC then approximates the cosine directly
        return _vectors(embeddings).withColumn(
            "vn",
            F.expr("transform(v, e -> e / sqrt(" + _DOT.format(a="v", b="v") + "))"),
        )

    scan = load_tables(spark, sf_dir)["embeddings"]
    emb = _unit(parallelize_scan(scan, "vec_id"))
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("vn").alias("qvn"),
    )
    train, qrows = _train_sample(_unit(scan), "vn")
    return emb, q, _pq_scored_over(emb, _pq_codebook(train), qrows)


def _pq_scored_over(
    emb: DataFrame, centers: "np.ndarray", qrows: list
) -> DataFrame:
    """The encode → LUT → ADC machinery over a normalized corpus (column
    `vn`), the collected query rows (vec_id, vn) sorted by vec_id, and a
    trained codebook. Its 10x/100x scale curve (20k/200k synthetic
    vectors) is in SCALE.md's PQ scale-curve and encode+score fusion
    sections; the last numbers are the `pq_adc_*` keys of the
    `experiments` block in BENCH_local_r14opt_final.json.

    The LUTs never become a column: broadcasting the per-query (M x k)
    LUT as a COLUMN and scoring with a higher-order
    `aggregate(transform(...))` materializes the 16 KB LUT struct into
    EVERY (query, code-row) output row (at the curve's 200k-vector
    point: 1M rows x 16 KB ≈ 16 GB of row traffic, 21-41 s measured;
    invisible at the 2k-vector fixture). The LUTs are driver-bounded
    (|q| x M x k doubles, 80 KB at 5 queries), so they ride the Arrow
    kernel's task closure, and each code row is scored for ALL queries
    in one vectorized numpy gather, emitting thin (nid, qid, adc_score)
    rows only. Query vectors come from the codebook's own bounded
    training collect.

    Encode and ADC are one kernel: as two CHAINED pandas UDFs (two
    ArrowEvalPython nodes) every corpus row crosses the JVM↔Python
    boundary twice (vn out / codes back, then codes out / scores back)
    and pays two kernel dispatches per batch. The registered query never
    needs the codes as a COLUMN, so both steps run in ONE Arrow kernel
    pass over `vn`: argmin-encode then
    LUT-gather on the same in-memory numpy batch, emitting the per-query
    score array directly. Halves the Python hops and Arrow traffic at
    every scale without reintroducing the LUT-as-column shape; a
    materialized codes column is only the right trade when codes are
    REUSED across many query batches (a serving index), which this
    batch query is not."""
    d_sub = 64 // _PQ_M
    c_sq = (centers**2).sum(axis=1)

    # LUTs are (|q|, M, k) driver-local numpy, shipped via task closure —
    # never through row data
    q_ids = [int(r["vec_id"]) for r in qrows]
    qmat = np.array([r["vn"] for r in qrows]).reshape(len(q_ids), _PQ_M, d_sub)
    luts = qmat @ centers.T  # (|q|, M, k)
    n_q = len(q_ids)

    def _encode_adc_kernel(vs: pd.Series) -> pd.Series:
        mat = np.vstack(vs.to_numpy()).reshape(-1, _PQ_M, d_sub)
        # (n, M, k) squared distances via one einsum against the shared
        # book; |v_sub|² is constant per (row, m) and drops out of argmin
        d = -2.0 * (mat @ centers.T) + c_sq
        c = d.argmin(axis=2)  # (n, M) codes — batch-local, never a column
        out = np.zeros((len(c), n_q))
        for qi in range(n_q):
            for m in range(_PQ_M):
                out[:, qi] += luts[qi, m][c[:, m]]
        return pd.Series(list(out))

    adc_of = F.pandas_udf(_encode_adc_kernel, "array<double>")
    qid_arr = F.array(*[F.lit(i) for i in q_ids])
    # posexplode_OUTER, deliberately: plain posexplode (outer=false) lets
    # Catalyst infer a `size(scores) > 0` constraint on the generator
    # input and push it below the repartition exchange — which re-runs
    # the ENTIRE Arrow kernel a second time, serially, on the
    # pre-repartition partition layout, just to evaluate the filter
    # (the plan shows two ArrowEvalPython nodes for one UDF; 1.4s vs
    # 0.5s at sf0.1 and a 2x kernel tax at every scale). The kernel
    # always returns a fixed |q|-width array, so outer semantics are
    # value-identical; tests/test_plans.py pins the single-evaluation
    # plan shape.
    return (
        emb.select(
            F.col("vec_id").alias("nid"), adc_of("vn").alias("scores")
        )
        .select("nid", F.posexplode_outer("scores").alias("pos", "adc_score"))
        .select(
            F.element_at(qid_arr, F.col("pos") + 1).alias("qid"),
            "nid",
            "adc_score",
        )
        .filter(F.col("nid") != F.col("qid"))
    )


# --------------------------- truncated-dimension retrieval (MRL) report

_MRL_DIMS = (8, 16, 32)  # prefix widths evaluated against the full 64

_MRL_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT qid, e.vec_id AS nid, d.d,
         list_dot_product(qv[1:d.d], v[1:d.d])
           / (sqrt(list_dot_product(qv[1:d.d], qv[1:d.d]))
              * sqrt(list_dot_product(v[1:d.d], v[1:d.d]))) AS cosine
  FROM q, e, (VALUES (8), (16), (32), (64)) AS d(d)
  WHERE e.vec_id <> qid
),
ranked AS (
  SELECT qid, nid, d,
         row_number() OVER (PARTITION BY qid, d
                            ORDER BY cosine DESC, nid) AS rank
  FROM scored
),
tops AS (SELECT qid, nid, d FROM ranked WHERE rank <= 5)
SELECT f.qid AS qid,
       t.d AS dim,
       count(*) AS n_overlap
FROM tops f
JOIN tops t ON f.qid = t.qid AND f.nid = t.nid AND t.d <> 64
WHERE f.d = 64
GROUP BY f.qid, t.d
ORDER BY f.qid, dim
"""


@register("embedding_mrl_truncation", oracle=_MRL_ORACLE, tags=("llm", "similarity"))
def embedding_mrl_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation evaluation (Kusupati et al. 2022):
    score retrieval with only the first 8/16/32 dimensions of the 64-dim
    embeddings and report, per query, how many of the full-dimension
    top-5 the truncated prefix retains — the dimension-vs-recall table a
    pipeline reads before deciding how much of each vector to keep (or
    scan first in a coarse-to-fine cascade: prefix scan → full-dim
    re-rank, the memory-bandwidth sibling of the PQ tier).

    Plan: ONE map-only pass over the corpus computes all four prefix
    cosines per (query, vector) pair (the prefix dot is a slice of the
    same array — no re-read), one window ranks per (query, dim), and the
    overlap join touches only 4 x 5 x |q| top rows. Exact and
    deterministic — dot products are the same left-fold in both engines
    (bit-identical doubles, module docstring), so no rounding is needed
    and the oracle is sound without an approximation argument."""
    emb = parallelize_scan(
        load_tables(spark, sf_dir)["embeddings"], "vec_id"
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    pairs = emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    dims = [*_MRL_DIMS, 64]
    scored = pairs.select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (
                            F.expr(
                                _DOT.format(
                                    a=f"slice(qv, 1, {d})", b=f"slice(v, 1, {d})"
                                )
                            )
                            / (
                                F.sqrt(
                                    F.expr(
                                        _DOT.format(
                                            a=f"slice(qv, 1, {d})",
                                            b=f"slice(qv, 1, {d})",
                                        )
                                    )
                                )
                                * F.sqrt(
                                    F.expr(
                                        _DOT.format(
                                            a=f"slice(v, 1, {d})",
                                            b=f"slice(v, 1, {d})",
                                        )
                                    )
                                )
                            )
                        ).alias("cosine"),
                    )
                    for d in dims
                ]
            )
        ).alias("s"),
    ).select("qid", "nid", "s.d", "s.cosine")
    w = Window.partitionBy("qid", "d").orderBy(F.col("cosine").desc(), F.col("nid"))
    tops = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("qid", "nid", "d")
    )
    tops = tracked_persist(tops)
    full = tops.filter(F.col("d") == 64).select("qid", "nid")
    trunc = tops.filter(F.col("d") != 64)
    return (
        trunc.join(full, ["qid", "nid"])
        .groupBy("qid", F.col("d").alias("dim"))
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .orderBy("qid", "dim")
    )


# ------------------------------------------- centroid similarity matrix

_CENTROID_SIM_ORACLE = """
WITH c AS (
  SELECT label, CAST(t.i - 1 AS INT) AS dim,
         round(avg(CAST(embedding[t.i] AS DOUBLE)), 4) AS v
  FROM embeddings, range(1, 65) AS t(i)
  GROUP BY 1, 2
),
nrm AS (
  SELECT label, sqrt(sum(v * v)) AS nn FROM c GROUP BY 1
),
dots AS (
  SELECT a.label AS label_a, b.label AS label_b, sum(a.v * b.v) AS d
  FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
  GROUP BY 1, 2
)
SELECT d.label_a, d.label_b,
       round(d.d / (na.nn * nb.nn), 4) AS cosine
FROM dots d
JOIN nrm na ON na.label = d.label_a
JOIN nrm nb ON nb.label = d.label_b
ORDER BY label_a, label_b
"""


@register("embedding_centroid_similarity", oracle=_CENTROID_SIM_ORACLE, tags=("llm", "similarity"))
def embedding_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between label centroids — the confusion
    structure of the embedding space (which classes are neighbors, which
    clusters should SemDeDup treat as one). Downstream of
    `embedding_label_centroids`: centroids are ROUNDED to 4 decimals
    before any pairwise arithmetic, so the only cross-engine float noise
    left is dot/norm accumulation order over 64 addends (≤1e-15),
    absorbed by the output rounding.

    Plan: the corpus-sized work is the one centroid groupBy (explode to
    (label, dim) rides the scan); everything pairwise operates on
    labels × 64 rows — label-arity-bounded, never SF-proportional. The
    pairing is an equi-join on dim with a label inequality, not a
    cartesian."""
    emb = load_tables(spark, sf_dir)["embeddings"].select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    c = (
        emb.select(
            "label", F.posexplode("v").alias("dim", "x")
        )
        .groupBy("label", "dim")
        .agg(F.round(F.avg("x"), 4).alias("v"))
    )
    nrm = c.groupBy("label").agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nn"))
    a, b = c.alias("a"), c.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(F.sum(F.col("a.v") * F.col("b.v")).alias("d"))
    )
    na, nb = nrm.alias("na"), nrm.alias("nb")
    return (
        dots.join(na, F.col("label_a") == F.col("na.label"))
        .join(nb, F.col("label_b") == F.col("nb.label"))
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("d") / (F.col("na.nn") * F.col("nb.nn")), 4
            ).alias("cosine"),
        )
        .orderBy("label_a", "label_b")
    )


# ----------------------------------------------------- hard-negative mining

_HARD_NEG_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e WHERE vec_id < 5),
pairs AS (
  SELECT qid, qlabel, e.vec_id AS nid, e.label AS nlabel,
         {_COSINE_SQL}
           AS cosine
  FROM q, e
  WHERE e.label <> qlabel
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn
  FROM pairs
)
SELECT qid, qlabel, nid, nlabel, cosine
FROM ranked WHERE rn <= 3
ORDER BY qid, cosine DESC, nid
"""


@register("similarity_hard_negatives", oracle=_HARD_NEG_ORACLE, tags=("llm", "similarity"))
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector, the top-3 most-similar vectors carrying a DIFFERENT label —
    the near-misses that give triplet/InfoNCE losses their gradient
    signal (random negatives are trivially separable; the hard ones are
    found exactly this way in retrieval-model builds).

    Plan: identical movement to `similarity_cosine_topk` — the anchor set
    broadcasts, the corpus is scanned map-only with the codegen'd
    zip_with/aggregate dot kernel (bit-identical to DuckDB's
    list_dot_product left fold), and the label-mismatch filter prunes
    before ranking. Per-anchor top-3 via rank window over anchor-bounded
    rows. At 100 TB the anchor batch stays the broadcast side; the ANN
    tiers (LSH/IVF/PQ) drop in for the corpus scan unchanged."""
    emb = _normed_embeddings(spark, sf_dir, "label")
    q = (
        emb.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
    )
    pairs = (
        emb.join(F.broadcast(q), F.col("label") != F.col("qlabel"))
        .select(
            "qid",
            "qlabel",
            F.col("vec_id").alias("nid"),
            F.col("label").alias("nlabel"),
            _cosine().alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "nid")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("qid", "qlabel", "nid", "nlabel", "cosine")
        .orderBy("qid", F.col("cosine").desc(), "nid")
    )


# ------------------------------------------------- unrolled k-means (Lloyd)

_KM_K = 4  # seed centroids = vectors with vec_id 0..3

_KMEANS_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings
),
c0 AS (  -- iteration-0 centroids: exact copies of the first k vectors
  SELECT vec_id AS cid, ve AS c FROM v WHERE vec_id < {_KM_K}
),
d1 AS (
  SELECT v.vec_id, c0.cid,
         round(list_sum(list_transform(list_zip(v.ve, c0.c),
                        p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS sq
  FROM v CROSS JOIN c0
),
a1 AS (  -- nearest centroid, rounded-distance argmin, cid tiebreak
  SELECT vec_id, cid, sq,
         row_number() OVER (PARTITION BY vec_id ORDER BY sq, cid) AS rk
  FROM d1
),
m1 AS (SELECT vec_id, cid FROM a1 WHERE rk = 1),
comp AS (  -- per-cluster componentwise mean, rounded to 6
  SELECT m1.cid, u.i, round(avg(v.ve[u.i]), 6) AS mu
  FROM m1 JOIN v USING (vec_id), unnest(range(1, 65)) AS u(i)
  GROUP BY m1.cid, u.i
),
c1 AS (
  SELECT cid, list(mu ORDER BY i) AS c FROM comp GROUP BY cid
),
d2 AS (
  SELECT v.vec_id, c1.cid,
         round(list_sum(list_transform(list_zip(v.ve, c1.c),
                        p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS sq
  FROM v CROSS JOIN c1
),
a2 AS (
  SELECT vec_id, cid, sq,
         row_number() OVER (PARTITION BY vec_id ORDER BY sq, cid) AS rk
  FROM d2
)
SELECT cid AS cluster,
       count(*) AS n_vectors,
       round(avg(sq), 4) AS inertia
FROM a2 WHERE rk = 1
GROUP BY cid
ORDER BY cid
"""


@register("embedding_kmeans_2iter", oracle=_KMEANS_ORACLE, tags=("llm", "similarity", "iterative"))
def embedding_kmeans_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means, two unrolled iterations, on the raw DataFrame API
    (no MLlib): assign → per-cluster componentwise mean → reassign — the
    iterative-ML dataflow in relational form, like `graph_pagerank_3iter`
    is for graph recurrences. This is also exactly the training loop the
    IVF tier's coarse quantizer runs (`similarity.py` `_train_ivf`); here
    it is a REGISTERED, oracle-paired query so the iteration algebra
    itself is driver-gated, not just its downstream retrieval effects.

    Per iteration: one broadcast of k centroid rows against the vector
    relation (distances are codegen'd zip_with/aggregate folds, map-only),
    one vector-cardinality argmin via a k-row window, and one
    (cluster, dim)-keyed mean whose partial aggregation does the
    map-side combine — at 100 TB each iteration is ONE shuffle of
    (k x 64) partials, vectors never pairwise-join. Determinism across
    engines: squared distances and centroid components are ROUNDED (6dp)
    before every comparison/consumption, and the argmin breaks ties by
    centroid id, so assignment decisions can never flip on a ulp."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ve")
    )
    v = tracked_persist(v)  # scanned by both distance rounds + the mean
    sq_expr = (
        "round(aggregate(zip_with(ve, c, (a, b) -> (a - b) * (a - b)), "
        "cast(0 as double), (acc, x) -> acc + x), 6)"
    )

    def assign(centroids: DataFrame) -> DataFrame:
        d = v.crossJoin(F.broadcast(centroids)).withColumn("sq", F.expr(sq_expr))
        w = Window.partitionBy("vec_id").orderBy("sq", "cid")
        return (
            d.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("vec_id", "cid", "sq")
        )

    c0 = v.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("ve").alias("c")
    )
    m1 = assign(c0).select("vec_id", "cid")
    comp = (
        m1.join(v, "vec_id")
        .select("cid", F.posexplode("ve").alias("i", "val"))
        .groupBy("cid", "i")
        .agg(F.round(F.avg("val"), 6).alias("mu"))
    )
    c1 = comp.groupBy("cid").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i, mu))), s -> s.mu)"
        ).alias("c")
    )
    a2 = assign(c1)
    return (
        a2.groupBy(F.col("cid").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("sq"), 4).alias("inertia"),
        )
        .orderBy("cluster")
    )


# ------------------------------------------ hybrid retrieval (RRF fusion)

_RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
_RRF_DEPTH = 20  # per-ranker candidate depth
_RRF_TOPN = 10

_RRF_ORACLE = f"""
WITH {_BM25_CTES},
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
  FROM scored
  ORDER BY bm25 DESC, doc_id LIMIT 20
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
sem_scored AS (
  SELECT vec_id AS doc_id,
         {_COSINE_SQL} AS cosine
  FROM e, q WHERE vec_id <> 0
),
sem AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cosine DESC, doc_id) AS sem_rank
  FROM sem_scored
  ORDER BY cosine DESC, doc_id LIMIT 20
),
fused AS (
  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
         CAST(coalesce(lex_rank, -1) AS BIGINT) AS lex_rank,
         CAST(coalesce(sem_rank, -1) AS BIGINT) AS sem_rank,
         round(coalesce(1.0 / (60 + lex_rank), 0)
               + coalesce(1.0 / (60 + sem_rank), 0), 6) AS rrf
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf
FROM fused
ORDER BY rrf DESC, doc_id
LIMIT 10
"""


@register("retrieval_rrf_hybrid", oracle=_RRF_ORACLE, tags=("llm", "similarity", "retrieval", "text"))
def retrieval_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the BM25 lexical
    ranker (same 3-term query and k1/b as `text_bm25_topk`) and the
    dense cosine ranker (query = embedding 0, the `similarity_cosine_
    topk` arithmetic) each produce a depth-20 candidate list; RRF merges
    them with score = Σ 1/(60 + rank) — rank-only fusion, so the two
    rankers' incomparable score scales never need calibration. This is
    the standard two-tower + keyword search merge every modern RAG stack
    runs; absent ranks contribute 0 (and surface as -1 in the output —
    the registry's no-NULL rule, since a nullable int goes NaN through
    Arrow→pandas).

    Plan: each leg ends in a distributed TakeOrderedAndProject at depth
    20 (limit-first, then rank the 20 survivors in a bounded window —
    the `text_zipf_slope` pattern, no corpus-cardinality global sort);
    the fusion is a full-outer join of two 20-row relations. At 100 TB
    the legs scale independently (BM25 via its doc-frequency joins, the
    dense leg via any ANN tier in this module) and the fusion cost is
    fixed at the candidate depths."""
    lex_scored = bm25_scores(
        parallelize_scan(
            load_tables(spark, sf_dir)["documents"].select("doc_id", "text"),
            "doc_id",
        ),
        "doc_id",
    )
    w_lex = Window.orderBy(F.col("bm25").desc(), "doc_id")
    lex = (
        lex_scored.orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_RRF_DEPTH)
        .select("doc_id", F.row_number().over(w_lex).alias("lex_rank"))
    )

    emb = _normed_embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    sem_scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"), _cosine().alias("cosine"))
    )
    w_sem = Window.orderBy(F.col("cosine").desc(), "doc_id")
    sem = (
        sem_scored.orderBy(F.col("cosine").desc(), "doc_id")
        .limit(_RRF_DEPTH)
        .select("doc_id", F.row_number().over(w_sem).alias("sem_rank"))
    )

    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("lex_rank", F.lit(-1)).cast("bigint").alias("lex_rank"),
        F.coalesce("sem_rank", F.lit(-1)).cast("bigint").alias("sem_rank"),
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("sem_rank")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(_RRF_TOPN)


# --------------------------------------- PCA top component (power method)

_PCA_Q = 10000  # fixed quantization scale: round(x * 1e4) -> bigint
_PCA_DIM = 64


_PCA_ORACLE = f"""
WITH e AS (
  SELECT list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * {_PCA_Q}) AS BIGINT)) AS qv
  FROM embeddings
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
s AS (
  SELECT i, CAST(sum(qv[i + 1]) AS BIGINT) AS s
  FROM e, unnest(range(0, {_PCA_DIM})) t(i) GROUP BY 1
),
g AS (
  SELECT i, j, CAST(sum(qv[i + 1] * qv[j + 1]) AS BIGINT) AS g
  FROM e, unnest(range(0, {_PCA_DIM})) t(i),
          unnest(range(0, {_PCA_DIM})) t2(j)
  GROUP BY 1, 2
),
c AS (
  SELECT g.i, g.j,
         CAST(sign(nn.n * g.g - si.s * sj.s) AS BIGINT)
           * (abs(nn.n * g.g - si.s * sj.s) // (nn.n * nn.n)) AS c
  FROM g JOIN s si ON si.i = g.i JOIN s sj ON sj.i = g.j CROSS JOIN nn
),
u1 AS (SELECT i, CAST(sum(c) AS BIGINT) AS u FROM c GROUP BY 1),
p AS (
  SELECT CAST(power(10, greatest(0,
              length(CAST(max(abs(u)) AS VARCHAR)) - 4)) AS BIGINT) AS p
  FROM u1
),
w1 AS (
  SELECT i, CAST(sign(u) AS BIGINT) * (abs(u) // p.p) AS w
  FROM u1 CROSS JOIN p
),
u2 AS (
  SELECT c.i, CAST(sum(c.c * w1.w) AS BIGINT) AS u
  FROM c JOIN w1 ON w1.i = c.j GROUP BY 1
),
mx AS (SELECT CAST(max(abs(u)) AS BIGINT) AS m FROM u2)
SELECT CAST(u2.i AS INT) AS dim,
       cd.c AS var_ii_q,
       round(u2.u * 1.0 / mx.m, 6) AS loading
FROM u2
JOIN (SELECT i, c FROM c WHERE i = j) cd ON cd.i = u2.i
CROSS JOIN mx
ORDER BY dim
"""


@register("embedding_pca_power", oracle=_PCA_ORACLE, tags=("llm", "similarity", "stats"))
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by two unrolled
    power-method iterations over the EXACT integer covariance matrix —
    the distributed PCA pattern (dimensionality diagnosis, whitening
    prep, drift direction) built so every arithmetic step is integer and
    therefore bit-identical in ANY summation order:

    * coordinates quantize to q = round(x * 1e4) (the `int8` family's
      trick at fixed global scale);
    * the d x d scatter accumulates as bigint G_ij = sum(q_i q_j),
      per-dim sums S_i, and the row count in ONE Arrow-batched pass
      (numpy int64 blocked matmul per batch — integer arithmetic, so
      the partials are EXACT and order-free), each task emitting at
      most d^2 + d + 1 partial rows to the shuffle at any corpus size
      — the Gram-via-flatMap pattern with vectorized map-side combine;
    * covariance in quantized units is the integer truncation
      C_ij = trunc((n G_ij - S_i S_j) / n^2) — dividing by n^2 makes
      every downstream magnitude CORPUS-SIZE-INVARIANT (~variance-sized),
      so two matvec iterations stay far inside bigint at any SF (G
      itself needs n * q_max^2 < 2^63: at ~1e11+ rows drop the
      quantization scale a digit — documented headroom, enforced
      nowhere near current fixtures);
    * power steps: u1 = C.1; w1 = u1 truncated to <= 4 digits via an
      integer power-of-ten divide (string-length digit count, no
      float log10 edge cases); u2 = C.w1 — both matvecs are d^2-row
      joins, schema-bounded, broadcast-sized.

    Output: per-dim quantized variance (the C diagonal) and the
    iteration-2 loading normalized by max-abs — a ratio of two exact
    bigints, so the rounded double agrees cross-engine. Sign convention
    follows the all-ones start vector (loading of the max-|.| dim is
    +/-1 by construction). Training-free, UDF-free, one corpus scan."""
    emb = parallelize_scan(
        load_tables(spark, sf_dir)["embeddings"].select("embedding")
    )
    q = emb.select(
        F.expr(
            f"transform(cast(embedding AS array<double>),"
            f" x -> CAST(round(x * {_PCA_Q}) AS BIGINT))"
        ).alias("qv")
    )
    return _pca_power_over(q)


def _pca_power_over(q: DataFrame) -> DataFrame:
    """The Gram-accumulate → integer-covariance → two power steps
    machinery over an arbitrary quantized corpus (column `qv`,
    array<bigint>). Its 10x/100x scale curve over synthetic corpora (the
    per-iteration corpus pass is the 100 TB question; the shuffle stays
    at <= d^2 + d + 1 rows per task regardless of corpus size) is
    SCALE.md "Round-11 scale curves"; the last numbers are the
    `pca_power_*` keys of the `experiments` block in
    BENCH_local_r14opt_final.json."""

    def _gram_batches(it):
        # One Arrow pass accumulates the d x d product matrix, the per-dim
        # sums, and the row count as EXACT int64 — numpy's integer matmul
        # wraps on overflow exactly like bigint would, and the bound
        # analysis in the docstring keeps every magnitude far inside
        # 2^63. Encoded rows: (i, j>=0) -> G cell, (i, -1) -> S_i,
        # (-1, -1) -> n. Emitting partials per task keeps the shuffle at
        # <= d^2 + d + 1 rows per partition at ANY corpus size; the
        # blocked matmul replaces d^2 struct allocations per row with
        # one vectorized m.T @ m per batch, and folds what were THREE
        # corpus scans (G, S, n branches) into ONE — the dominant term
        # at 100 TB. At sf0.1 the fixed Arrow round-trip costs ~1s and
        # the end-to-end is a wash vs codegen (measured both; the Gram
        # stage alone is 2.2x faster) — the crossover favors Arrow as
        # soon as scan cost exceeds worker startup.
        import numpy as _np
        import pandas as _pd

        g_acc = None
        s_acc = None
        n_rows = 0
        for pdf in it:
            m = _np.stack(pdf["qv"].values).astype(_np.int64)
            part = m.T @ m
            g_acc = part if g_acc is None else g_acc + part
            cs = m.sum(axis=0, dtype=_np.int64)
            s_acc = cs if s_acc is None else s_acc + cs
            n_rows += m.shape[0]
        if g_acc is not None:
            d = g_acc.shape[0]
            ii, jj = _np.meshgrid(
                _np.arange(d), _np.arange(d), indexing="ij"
            )
            yield _pd.DataFrame(
                {
                    "i": _np.concatenate(
                        [ii.ravel(), _np.arange(d), [-1]]
                    ).astype(_np.int32),
                    "j": _np.concatenate(
                        [jj.ravel(), -_np.ones(d, dtype=_np.int64), [-1]]
                    ).astype(_np.int32),
                    "v": _np.concatenate(
                        [g_acc.ravel(), s_acc, [n_rows]]
                    ),
                }
            )

    acc = tracked_persist(
        q.mapInPandas(_gram_batches, "i int, j int, v long")
        .groupBy("i", "j")
        .agg(F.sum("v").cast("bigint").alias("g"))
    )
    g = acc.filter((F.col("i") >= 0) & (F.col("j") >= 0))
    s = acc.filter((F.col("i") >= 0) & (F.col("j") == -1)).select(
        "i", F.col("g").alias("s")
    )
    nn = acc.filter(F.col("i") == -1).select(F.col("g").alias("n"))
    si = s.select(F.col("i").alias("i"), F.col("s").alias("si"))
    sj = s.select(F.col("i").alias("j"), F.col("s").alias("sj"))
    raw = (
        g.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .crossJoin(F.broadcast(nn))
        .withColumn("cr", F.col("n") * F.col("g") - F.col("si") * F.col("sj"))
    )
    c = tracked_persist(
        raw.select(
            "i",
            "j",
            (
                F.signum("cr").cast("bigint")
                * F.floor(F.abs("cr") / (F.col("n") * F.col("n"))).cast(
                    "bigint"
                )
            ).alias("c"),
        )
    )
    u1 = c.groupBy("i").agg(F.sum("c").cast("bigint").alias("u"))
    p = u1.agg(
        F.pow(
            F.lit(10.0),
            F.greatest(
                F.lit(0),
                F.length(F.max(F.abs("u")).cast("string")) - 4,
            ),
        )
        .cast("bigint")
        .alias("p")
    )
    w1 = (
        u1.crossJoin(F.broadcast(p))
        .select(
            F.col("i").alias("j"),
            (
                F.signum("u").cast("bigint")
                * F.floor(F.abs("u") / F.col("p")).cast("bigint")
            ).alias("w"),
        )
    )
    u2 = (
        c.join(F.broadcast(w1), "j")
        .groupBy("i")
        .agg(F.sum(F.col("c") * F.col("w")).cast("bigint").alias("u"))
    )
    mx = u2.agg(F.max(F.abs("u")).cast("bigint").alias("m"))
    diag = c.filter(F.col("i") == F.col("j")).select(
        "i", F.col("c").alias("var_ii_q")
    )
    return (
        u2.join(F.broadcast(diag), "i")
        .crossJoin(F.broadcast(mx))
        .select(
            F.col("i").cast("int").alias("dim"),
            "var_ii_q",
            F.round(F.col("u") / F.col("m"), 6).alias("loading"),
        )
        .orderBy("dim")
    )


# ----------------------------- MMR diversity re-rank (retrieval 2nd stage)

_MMR_K = 8  # results to select
_MMR_POOL = 64  # relevance-ranked candidate pool the re-rank runs over
_MMR_Q = 1000  # quantization scale: floor(x*1000 + 0.5) -> bigint
_MMR_QUERY_ID = 0  # the query vector
# score = 7*rel - 3*maxsim, i.e. lambda = 0.7 scaled by 10 so every
# comparison the argmax makes is INTEGER arithmetic on both engines
_MMR_LAM, _MMR_DIV = 7, 3

_MMR_QV = (
    "transform(cast(embedding as array<double>), "
    f"x -> CAST(floor(x * {_MMR_Q}.0D + 0.5D) AS BIGINT))"
)
_DOT_L = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, x) -> acc + x)"


def _mmr_oracle() -> str:
    """Unrolled greedy MMR: step k scores every not-yet-picked pool
    member as lam*rel - div*max(similarity to the picked set) and takes
    the argmax (ties on vec_id). All similarities are integer dot
    products of floor(x*Q + 0.5)-quantized vectors — floor(+0.5) is the
    same IEEE op in both engines (the money-fold trick), and the dots
    (<= 64 * 526^2) are exact in BIGINT and DOUBLE alike, so the greedy
    argmax trajectory is bit-reproducible, not tolerance-matched.
    MATERIALIZED CTEs keep DuckDB from exponentially inlining the
    step recurrence (the `_kcore_oracle` lesson)."""
    steps = "".join(
        f""",
m{k} AS MATERIALIZED (
  SELECT c.vec_id, c.rel, max(p.dot) AS maxsim
  FROM pool c JOIN pairs p ON p.a = c.vec_id
  WHERE p.b IN (SELECT vec_id FROM sel{k - 1})
    AND c.vec_id NOT IN (SELECT vec_id FROM sel{k - 1})
  GROUP BY c.vec_id, c.rel
),
pick{k} AS MATERIALIZED (
  SELECT vec_id, rel, CAST(maxsim AS BIGINT) AS maxsim,
         CAST({_MMR_LAM} * rel - {_MMR_DIV} * maxsim AS BIGINT) AS score,
         {k} AS pick_order
  FROM m{k} ORDER BY score DESC, vec_id LIMIT 1
),
sel{k} AS MATERIALIZED (
  SELECT * FROM sel{k - 1} UNION ALL SELECT * FROM pick{k}
)"""
        for k in range(2, _MMR_K + 1)
    )
    return f"""
WITH base AS MATERIALIZED (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {_MMR_Q}.0 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
qvec AS MATERIALIZED (SELECT qv FROM base WHERE vec_id = {_MMR_QUERY_ID}),
rel AS MATERIALIZED (
  SELECT b.vec_id, CAST(list_dot_product(b.qv, q.qv) AS BIGINT) AS rel, b.qv
  FROM base b, qvec q WHERE b.vec_id != {_MMR_QUERY_ID}
),
pool AS MATERIALIZED (
  SELECT vec_id, rel, qv FROM rel ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL}
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS a, b.vec_id AS b,
         CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS dot
  FROM pool a JOIN pool b ON a.vec_id != b.vec_id
),
sel1 AS MATERIALIZED (
  SELECT vec_id, rel, CAST(0 AS BIGINT) AS maxsim,
         CAST({_MMR_LAM} * rel AS BIGINT) AS score, 1 AS pick_order
  FROM pool ORDER BY rel DESC, vec_id LIMIT 1
){steps}
SELECT CAST(pick_order AS INTEGER) AS pick_order, vec_id, rel, maxsim, score
FROM sel{_MMR_K}
ORDER BY pick_order
"""


@register("retrieval_mmr_diverse", oracle=_mmr_oracle(), tags=("llm", "similarity", "retrieval", "iterative"))
def retrieval_mmr_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998) diversity
    re-rank — the second retrieval stage RAG pipelines run after ANN:
    greedily pick k results maximizing lam*relevance minus
    (1-lam)*max-similarity-to-already-picked, so near-duplicate hits
    (which embedding corpora are full of — see `dedup_semantic_clusters`)
    don't crowd out coverage. Next to `retrieval_rrf_hybrid` (fusion
    ACROSS rankers) this is diversification WITHIN one ranker.

    Exactness: vectors are quantized via floor(x*1000 + 0.5) (identical
    IEEE op both engines) and lambda=0.7 is carried as the integer pair
    (7, 3), so every argmax comparison is exact integer arithmetic — the
    greedy trajectory is reproducible, never a float-tie coin flip.

    Scale shape: the relevance pass is the expensive part — map-only
    broadcast-query dot products + TakeOrderedAndProject into a
    64-candidate pool (the ANN tiers feed this pool at 100 TB; re-rank
    cost is O(pool * k) regardless of corpus size). Each of the k greedy
    steps is one bounded job over the persisted pool: maxsim is a
    GREATEST over <= k-1 literal-vector dot expressions (no join, no
    BNLJ), argmax is TakeOrderedAndProject(1), and the picked row's
    quantized vector (64 ints) is the only thing the driver ever holds —
    the `graph_pagerank_converged` bounded-scalar pattern."""
    from ..persistence import tracked_persist

    emb = load_tables(spark, sf_dir)["embeddings"]
    base = emb.select("vec_id", F.expr(_MMR_QV).alias("qv"))
    q = base.filter(F.col("vec_id") == _MMR_QUERY_ID).select(
        F.col("qv").alias("q_qv")
    )
    rel = (
        base.filter(F.col("vec_id") != _MMR_QUERY_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.expr(_DOT_L.format(a="qv", b="q_qv")).alias("rel"),
            "qv",
        )
    )
    pool = tracked_persist(
        rel.orderBy(F.col("rel").desc(), "vec_id").limit(_MMR_POOL)
    )

    def _lit_vec(vals: list[int]):
        return F.array(*[F.lit(int(v)) for v in vals])

    picks: list[tuple] = []
    picked_vecs: list[list[int]] = []
    for step in range(1, _MMR_K + 1):
        cand = pool.filter(~F.col("vec_id").isin([p[1] for p in picks]))
        if picked_vecs:
            dots = [
                F.expr(_DOT_L.format(a="qv", b=f"sel_{i}")).alias(f"d_{i}")
                for i in range(len(picked_vecs))
            ]
            for i, v in enumerate(picked_vecs):
                cand = cand.withColumn(f"sel_{i}", _lit_vec(v))
            maxsim = (
                F.greatest(*dots) if len(dots) > 1 else dots[0]
            )
        else:
            maxsim = F.lit(0).cast("long")
        scored = cand.select(
            "vec_id",
            "rel",
            maxsim.alias("maxsim"),
            (
                F.lit(_MMR_LAM) * F.col("rel")
                - F.lit(_MMR_DIV) * maxsim
            ).alias("score"),
            "qv",
        )
        top = (
            scored.orderBy(F.col("score").desc(), "vec_id").limit(1).first()
        )
        picks.append((step, top["vec_id"], top["rel"], top["maxsim"], top["score"]))
        picked_vecs.append(list(top["qv"]))

    return local_rows(
        spark, picks, "pick_order int, vec_id long, rel long, maxsim long, score long"
    ).orderBy("pick_order")


# --------------------------- greedy k-center coreset (Gonzalez 1985)

_KC_K = 8  # centers to select
_KC_Q = 1000  # same quantization as MMR: floor(x*1000 + 0.5)

_KC_QV = (
    "transform(cast(embedding as array<double>), "
    f"x -> CAST(floor(x * {_KC_Q}.0D + 0.5D) AS BIGINT))"
)


def _kcenter_oracle() -> str:
    """Unrolled greedy k-center: seed = argmax squared norm (a
    deterministic stand-in for the arbitrary first center), then step k
    picks the point FARTHEST from the selected set (max over points of
    min over centers of squared distance). All distances are exact
    integers — d2 = |a|^2 + |b|^2 - 2*a.b over floor(x*Q + 0.5)-quantized
    vectors — so the greedy trajectory and the emitted coverage radius
    replay bit-exactly. MATERIALIZED per step (the `_kcore_oracle`
    anti-inlining lesson)."""
    steps = "".join(
        f""",
m{k} AS MATERIALIZED (
  SELECT b.vec_id, b.norm2,
         min(b.norm2 + s.norm2
             - 2 * CAST(list_dot_product(b.qv, s.qv) AS BIGINT)) AS mind2
  FROM base b, sel{k - 1} s
  WHERE b.vec_id NOT IN (SELECT vec_id FROM sel{k - 1})
  GROUP BY b.vec_id, b.norm2
),
pick{k} AS MATERIALIZED (
  SELECT vec_id, norm2, CAST(mind2 AS BIGINT) AS mind2, {k} AS pick_order
  FROM m{k} ORDER BY mind2 DESC, vec_id LIMIT 1
),
sel{k} AS MATERIALIZED (
  SELECT * FROM sel{k - 1}
  UNION ALL
  SELECT b.vec_id, b.norm2, b.qv, p.mind2, p.pick_order
  FROM base b JOIN pick{k} p ON b.vec_id = p.vec_id
)"""
        for k in range(2, _KC_K + 1)
    )
    return f"""
WITH base AS MATERIALIZED (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {_KC_Q}.0 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
base2 AS MATERIALIZED (
  SELECT vec_id, qv,
         CAST(list_dot_product(qv, qv) AS BIGINT) AS norm2
  FROM base
),
sel1 AS MATERIALIZED (
  SELECT vec_id, norm2, qv, CAST(0 AS BIGINT) AS mind2, 1 AS pick_order
  FROM base2 ORDER BY norm2 DESC, vec_id LIMIT 1
){steps.replace("base b", "base2 b")}
SELECT CAST(pick_order AS INTEGER) AS pick_order, vec_id, norm2, mind2
FROM sel{_KC_K}
ORDER BY pick_order
"""


@register("corpus_kcenter_coreset", oracle=_kcenter_oracle(), tags=("llm", "similarity", "iterative", "pipeline"))
def corpus_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985, the 2-approx
    farthest-point heuristic) — the geometry-coverage data-selection
    primitive next to importance-weighted DSIR (`corpus_dsir_selection`)
    and diversity re-ranking (`retrieval_mmr_diverse`): pick k points so
    every corpus vector is near SOME pick, the seed set active-learning
    and coreset-distillation pipelines start from. Each pick's `mind2`
    is its distance to the previously selected set, so the LAST row's
    mind2 is a certificate: every unselected point lies within that
    squared radius of a center.

    Unlike MMR (which re-ranks a bounded pool), every k-center step is a
    FULL-CORPUS pass: min-distance-to-selected as a LEAST over <= k-1
    literal-vector distance expressions (map-only, codegen), argmax via
    TakeOrderedAndProject(1), driver holding only the picked row's 64
    quantized ints — k bounded scans, no joins, no shuffles beyond the
    top-1 reduction, which is exactly how the algorithm scales to 100 TB
    (its sequential depth k is the price of the 2-approximation
    guarantee). Distances are exact integers (same floor(x*1000 + 0.5)
    quantization as MMR), so this stochastic-looking iterative operator
    carries a full value oracle."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    base = emb.select(
        "vec_id",
        F.expr(_KC_QV).alias("qv"),
        F.expr(_DOT_L.format(a=_KC_QV, b=_KC_QV)).alias("norm2"),
    )

    def _lit_vec(vals: list[int]):
        return F.array(*[F.lit(int(v)) for v in vals])

    picks: list[tuple] = []
    sel_vecs: list[tuple[list[int], int]] = []  # (qv, norm2)
    for step in range(1, _KC_K + 1):
        cand = base.filter(~F.col("vec_id").isin([p[1] for p in picks]))
        if sel_vecs:
            dists = [
                (
                    F.col("norm2")
                    + F.lit(n2)
                    - 2 * F.expr(_DOT_L.format(a="qv", b=f"c_{i}"))
                ).alias(f"d_{i}")
                for i, (_v, n2) in enumerate(sel_vecs)
            ]
            for i, (v, _n2) in enumerate(sel_vecs):
                cand = cand.withColumn(f"c_{i}", _lit_vec(v))
            mind2 = F.least(*dists) if len(dists) > 1 else dists[0]
            order = [F.col("mind2").desc(), F.col("vec_id")]
        else:
            mind2 = F.lit(0).cast("bigint")
            order = [F.col("norm2").desc(), F.col("vec_id")]
        top = (
            cand.select("vec_id", "norm2", mind2.alias("mind2"), "qv")
            .orderBy(*order)
            .limit(1)
            .first()
        )
        picks.append((step, top["vec_id"], top["norm2"], top["mind2"]))
        sel_vecs.append((list(top["qv"]), top["norm2"]))

    return local_rows(
        spark, picks, "pick_order int, vec_id long, norm2 long, mind2 long"
    ).orderBy("pick_order")
