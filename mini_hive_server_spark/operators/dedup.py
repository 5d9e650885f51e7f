"""Deduplication operators over the `documents` corpus — the core
training-data-pipeline extension (driver north star; SURVEY.md §7 step 7).

Four tiers, each a different cost/recall point:

* exact           — hash-groupBy on a normalized-content fingerprint
* n-gram Jaccard  — exhaustive shingle-join pair similarity (the oracle
                    truth for the approximate tiers)
* MinHash + LSH   — shingle → 64-perm minhash signature → 16 banded buckets
                    → bucket-join candidates → exact-Jaccard verification.
                    Deterministic (fixed hash seeds), so it is oracle-checked
                    against the exhaustive result.
* SimHash         — 64-bit near-dup fingerprint via a vectorized Pandas UDF
                    (the designated Arrow slow-path demo); oracle-checked
                    (md5 bit-vote replayed in DuckDB SQL).

Scale design (the entire point of LSH): the exhaustive pair join is
O(pairs-sharing-a-shingle) and collapses at corpus scale; the LSH path's
shuffles — the signature groupBy (map-side partial min-agg shrinks it to
one 64-long row per doc) and the band-bucket join — are linear in corpus
size. Band hashing distributes uniformly, and
candidate verification touches only bucket-collision pairs. At 100 TB the
band join is the one to watch for skew (a hot shingle → hot bucket) — AQE
skew-join handles moderate cases; degenerate buckets (boilerplate docs)
get capped upstream by dropping shingles with document frequency above a
threshold, exactly like a stopword cut.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_tables, parallelize_scan
from ..persistence import tracked_persist
from ..registry import register

# ---------------------------------------------------------------- shingles

from ._text import WORDS_DUCK as _WORDS_DUCK  # noqa: E402
from ._text import WORDS_SPARK as _WORDS  # noqa: E402


def _duck_shingles(source: str) -> str:
    """The oracles' `words` and `shingles(doc_id, sh)` CTEs over the
    (doc_id, text) relation `source`: distinct word-3-gram shingles of
    every document with at least 3 words, the twin of `shingle_sets`."""
    return f"""
words AS (
  SELECT doc_id, {_WORDS_DUCK} AS w
  FROM {source}
),
shingles AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, unnest(range(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 3
)
"""


_DUCK_SHINGLES_CTE = _duck_shingles("documents")


def shingle_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, sh_arr) distinct word-3-gram shingles as one array per doc;
    map-only, no shuffle, and per-doc set size is `size(sh_arr)` for free.

    The words array is materialized as its own projection first: inlining
    `split(...)` into the transform lambda makes Spark re-run the regex
    split for every shingle index (no CSE across lambda boundaries) — ~6x
    slower measured at sf0.1.

    The input goes through `parallelize_scan` first: the shingle + hash
    pipeline is CPU-bound per document, and a corpus packed into few
    parquet splits (the fixture is ONE single-row-group file → one task)
    serializes the whole map stage onto one core. Measured at sf0.1: the
    signature stage drops 8.0s → sub-second on 32 cores; at scale (many
    splits) no shuffle is inserted."""
    words = (
        parallelize_scan(docs.select("doc_id", "text"), "doc_id")
        .select("doc_id", F.expr(_WORDS).alias("w"))
        .filter(F.size("w") >= 3)
    )
    return words.select(
        "doc_id",
        # 0-based in Spark; the DuckDB oracles use a 1-based range
        F.expr(
            "array_distinct(transform(sequence(0, size(w) - 3), "
            "i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])))"
        ).alias("sh_arr"),
    )


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) distinct word-3-gram shingles; map-only, no shuffle.

    `explode_outer`, not `explode`: plain explode plants an implicit
    `size(sh_arr) > 0 AND isnotnull(sh_arr)` filter that Catalyst pushes
    below the repartition exchange and alias-expands — the ENTIRE
    split+transform+array_distinct pipeline gets re-evaluated inside the
    scan-side Filter, on pre-repartition (single-file → single-core)
    parallelism. `sh_arr` is provably non-empty (`size(w) >= 3` upstream),
    so the outer variant is semantically identical and generates no
    pushable filter. Measured at sf0.1: 8.0s → 0.6s for the exploded
    relation."""
    return shingle_arrays(docs).select(
        "doc_id", F.explode_outer("sh_arr").alias("sh")
    )


# ------------------------------------------------------------- exact dedup

_EXACT_ORACLE = """
SELECT min(doc_id) AS keep_id,
       count(*) AS n_copies,
       md5(lower(trim(text))) AS fingerprint
FROM documents
GROUP BY md5(lower(trim(text)))
ORDER BY keep_id
"""


@register("dedup_exact", oracle=_EXACT_ORACLE, tags=("llm", "dedup", "headline"))
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized-content fingerprint,
    keeping the lowest doc_id per group (deterministic survivor policy).
    One shuffle on the fingerprint; partial aggregation makes the shuffle
    carry one row per distinct document per map partition."""
    docs = load_tables(spark, sf_dir)["documents"]
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    return (
        docs.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies", "fingerprint")
        .orderBy("keep_id")
    )


# ----------------------------------------------------- exhaustive Jaccard

_JACCARD_THRESHOLD = 0.8


def _jaccard_ctes(shingles: str) -> str:
    """The oracles' `sizes` (shingles per doc) and `inter` (shared
    shingles per doc pair d1 < d2) CTEs over the (doc_id, sh) relation
    `shingles`, which `_JACCARD_SELECT` reads."""
    return f"""sizes AS (SELECT doc_id, count(*) AS n FROM {shingles} GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
  FROM {shingles} a JOIN {shingles} b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""


# the exhaustive Jaccard truth: every pair at or above the threshold,
# rounded to 4 places — the DuckDB twin of _exact_jaccard_pairs
_JACCARD_SELECT = f"""SELECT d1, d2,
       round(c * 1.0 / (s1.n + s2.n - c), 4) AS jaccard
FROM inter
JOIN sizes s1 ON s1.doc_id = d1
JOIN sizes s2 ON s2.doc_id = d2
WHERE c * 1.0 / (s1.n + s2.n - c) >= {_JACCARD_THRESHOLD}"""

_NGRAM_JACCARD_ORACLE = f"""
WITH {_DUCK_SHINGLES_CTE},
{_jaccard_ctes("shingles")}
{_JACCARD_SELECT}
ORDER BY d1, d2
"""


def _exact_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame | None,
    sha: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard for all shingle-sharing pairs (or only `candidates`
    (d1,d2) if given), thresholded. Integer-ratio arithmetic → bit-identical
    across engines. Pass a persisted `sha` (doc_id, sh_arr) when the caller
    already materialized the shingle relation (diamond plans recompute
    lineage per branch otherwise)."""
    if sha is None:
        sha = shingle_arrays(docs)
    if candidates is not None:
        # candidate-driven: fetch BOTH docs' shingle arrays for each LSH
        # -collided pair and intersect them array-side
        # (`size(array_intersect)`, sets are distinct by construction) —
        # no explode, no count aggregation, no shuffle: two joins where
        # the (cached) corpus-sized shingle relation streams past the
        # broadcast candidate list, then a map-only intersection over
        # candidate-count rows. (The previous formulation joined the
        # FULL exploded shingle relation on (doc_id, sh) — a corpus-wide
        # shuffle just to count intersections for a few hundred pairs;
        # measured 4.6s → 2.6s at sf0.1. A "scan sha once" variant that
        # semi-filtered sha to candidate docs and broadcast the surviving
        # ARRAY-bearing relation onto the pair list benched SLOWER —
        # the un-persisted filtered relation recomputes per pair-side
        # branch and array payloads pay two driver-side broadcast
        # collections; streaming the cached relation twice past a
        # small-int broadcast is cheaper.) At 100 TB the candidate list
        # can outgrow a broadcast; dropping the hints degrades both to
        # doc_id equi-joins — still linear, never quadratic.
        j1 = sha.join(F.broadcast(candidates), F.col("doc_id") == F.col("d1")).select(
            "d1", "d2", F.col("sh_arr").alias("arr1")
        )
        pairs = sha.join(F.broadcast(j1), F.col("doc_id") == F.col("d2")).select(
            "d1",
            "d2",
            F.size(F.array_intersect("arr1", "sh_arr")).alias("c"),
            F.size("arr1").alias("n1"),
            F.size("sh_arr").alias("n2"),
        )
        jac = F.col("c") * 1.0 / (F.col("n1") + F.col("n2") - F.col("c"))
        return (
            pairs.filter(jac >= _JACCARD_THRESHOLD)
            .select("d1", "d2", F.round(jac, 4).alias("jaccard"))
            .orderBy("d1", "d2")
        )
    # exhaustive: every shingle-sharing pair via the exploded relation.
    # set sizes are free from the array — no groupBy shuffle
    sizes = sha.select("doc_id", F.size("sh_arr").alias("n"))
    # explode_outer: see shingle_sets — plain explode's implicit filter
    # re-runs the shingle pipeline scan-side
    sh = sha.select("doc_id", F.explode_outer("sh_arr").alias("sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    jac = F.col("c") * 1.0 / (F.col("s1.n") + F.col("s2.n") - F.col("c"))
    # No broadcast hint on the size lookups: `sizes` is one row per corpus
    # document, so forcing a broadcast would OOM at the scale the LSH tier
    # targets. Locally AQE broadcasts it anyway (it sees the small runtime
    # size); at 100 TB these become shuffle joins on doc_id — correct both
    # ways without a hint.
    return (
        inter.join(s1, F.col("d1") == F.col("s1.doc_id"))
        .join(s2, F.col("d2") == F.col("s2.doc_id"))
        .filter(jac >= _JACCARD_THRESHOLD)
        .select("d1", "d2", F.round(jac, 4).alias("jaccard"))
        .orderBy("d1", "d2")
    )


@register("dedup_ngram_jaccard", oracle=_NGRAM_JACCARD_ORACLE, tags=("llm", "dedup"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive n-gram Jaccard near-dup pairs (threshold 0.8). Correct and
    simple, but the shingle self-join is quadratic in colliding docs — this
    is the small-scale truth the LSH tier is verified against, not the
    100 TB path."""
    docs = load_tables(spark, sf_dir)["documents"]
    # persist the shingle relation: the pair query is a diamond (both join
    # sides + both size lookups), so an unpersisted sha is recomputed four
    # times — and the join-inferred `isnotnull(n)` predicate alias-expands
    # the whole shingle pipeline into the scan-side Filter (the same
    # pushdown trap as explode; the cache boundary stops it)
    sha = tracked_persist(shingle_arrays(docs))
    return _exact_jaccard_pairs(docs, candidates=None, sha=sha)


# ----------------------------------------------------------- MinHash + LSH

_N_PERM = 64
_N_BANDS = 16  # 16 bands × 4 rows; P(miss | jaccard 0.9) ≈ 3e-8


def minhash_bands(sha: DataFrame) -> DataFrame:
    """(doc_id, band, bh) banded MinHash signature relation — the LSH
    index both the corpus-wide dedup tier and the incremental-ingest
    probe (`ingest_incremental_minhash`) key their bucket joins on.

    Hash each shingle string ONCE to a long, then derive the 64
    permutations by rehashing the long — xxhash64 over a fixed-width long
    is far cheaper than 64 passes over the UTF-8 string, and min-agg with
    map-side partial aggregation stays inside whole-stage codegen (the
    higher-order transform/array_min formulation is interpreted per
    element and benched ~40x slower).

    Permutation family: xxhash64(h, i) per permutation index. NEGATIVE
    result (measured, so it isn't retried): the "cheaper"
    overflow-free Carter-Wegman family — h1, h2 reduced into [0, 2^31),
    then min over (h1 + i*h2) mod p (and a bitwiseAND-mask variant of
    the same) — is ANSI-safe and keeps LSH recall complete
    (verified == exhaustive at sf0.001/sf0.01), but benched SLOWER than
    the 64 rehashes at sf0.1 in same-session A/Bs: signature stage
    0.72s classic vs 1.04s mod-p, and 1.08s vs 1.45s for the AND-mask
    form in a second (noisier) pair. xxhash64 over a fixed-width long
    is a handful of multiply/rotate instructions inside whole-stage
    codegen, and the arithmetic family's wider (h1, h2) carry row plus
    64 multiply-add-mod projections costs more than it saves — so the
    rehash form stays (still ~40x over the interpreted higher-order
    transform/array_min formulation; see module history)."""
    return _minhash_bands_k(sha, _N_PERM, _N_BANDS)


def _minhash_bands_k(sha: DataFrame, n_perm: int, n_bands: int) -> DataFrame:
    """`minhash_bands` parameterized over signature width: K rehash-min
    aggregation columns banded into n_bands × (K/n_bands) band hashes.
    The K=64 production tier and the K=256 large-K tier
    (`dedup_minhash_k256`) share this one construction. The OPH/classic
    crossover A/B measured it at both widths: SCALE.md "Round-10 scale
    curves" and "Round-11: the K=256 MinHash A/B" (the `oph_*` keys of
    the `experiments` block in BENCH_local_r14opt_final.json)."""
    rows_per_band = n_perm // n_bands
    shh = sha.select("doc_id", F.explode_outer("sh_arr").alias("sh")).select(
        "doc_id", F.xxhash64("sh").alias("h")
    )
    # SQL-string expressions keep driver time flat: the
    # Column-API listcomps built the identical K-column min-agg and
    # band array through hundreds of py4j round trips per call (~0.45 s
    # of driver time at K=64 across the sig+band constructions); each
    # expr() is one parse. Literals: `{i}` parses as int, matching the
    # old F.lit(i), so every xxhash64 child type (and hence every hash
    # value) is unchanged.
    sig = shh.groupBy("doc_id").agg(
        *[F.expr(f"min(xxhash64(h, {i})) AS m{i}") for i in range(n_perm)]
    )
    # inline_outer, not explode_outer-then-reselect: the band array is
    # never empty (avoid the implicit pushable filter re-evaluating the
    # band hashes), and inline flattens the struct in the same select
    bands_sql = ",".join(
        "named_struct('band', {b}, 'bh', xxhash64({b}, {ms}))".format(
            b=b,
            ms=",".join(
                f"m{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(n_bands)
    )
    return sig.select("doc_id", F.expr(f"inline_outer(array({bands_sql}))"))





def _lsh_verified_pairs(docs: DataFrame, sha: DataFrame, bands: DataFrame) -> DataFrame:
    """The LSH tail every banded tier shares: candidate pairs are docs that
    collide in any (band, bh) bucket, each pair once (`d1 < d2`), and
    `_exact_jaccard_pairs` verifies them against `sha`.

    `bands` is persisted first: the bucket self-join is a diamond over it,
    and without a cache boundary BOTH join branches re-run the whole
    signature and banding pipeline (measured at sf0.1 for the 64-perm
    tier: signature+banding ≈ 0.44s per branch, the bucket-join stage
    1.31s → 0.45s once persisted). A few small rows per doc — cheap to
    cache at any scale relative to recomputing the signature pass twice."""
    bands = tracked_persist(bands)
    x = bands.alias("x")
    y = bands.alias("y")
    candidates = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .distinct()
    )
    return _exact_jaccard_pairs(docs, candidates=candidates, sha=sha)


@register("dedup_minhash_lsh", oracle=_NGRAM_JACCARD_ORACLE, tags=("llm", "dedup", "headline"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection, verified: shingle → 64 xxhash64
    permutations (fixed seeds → deterministic) → min per doc → 16 banded
    band-hashes → bucket join for candidates → exact Jaccard on candidates
    only. Output equals the exhaustive pair scan (same oracle) whenever LSH
    recall is complete — at the fixture's ≥0.9 planted similarity the miss
    probability is ~3e-8 per pair.

    This is the 100 TB dedup path: linear scans + a bucket join, no
    quadratic shingle self-join.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    # persist the shingle-array relation: it feeds the signature pipeline AND
    # both sides of the verification join — without it Spark recomputes the
    # tokenize+shingle work once per branch of the diamond
    sha = tracked_persist(shingle_arrays(docs))
    return _lsh_verified_pairs(docs, sha, minhash_bands(sha))


# ----------------------------------------------------------------- SimHash


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per document via an Arrow-vectorized Pandas UDF —
    the sanctioned slow path (SURVEY.md §2.10): no builtin expresses the
    64-accumulator bit-vote, so one pandas_udf computes it per batch,
    deterministically (md5-derived token hashes, no engine-specific seeds).
    """
    @F.pandas_udf("long")
    def simhash64(texts: pd.Series) -> pd.Series:
        import hashlib
        import re

        import numpy as np

        from mini_hive_server_spark.operators._text import WS_CLASS_PY

        # the SHARED whitespace contract, not str.split(): Python's bare
        # split() breaks on ANY Unicode whitespace (NBSP, \x1c, U+2028),
        # which the oracle's RE2 class does not — and str(None) used to
        # tokenize the literal 'none' while the oracle's regexp_split of
        # NULL yields no rows, so two NULL-text docs would pair each
        # other at Hamming 0 on the Spark side only (the same class as
        # the UDTF's NULL handling). Token-less docs (NULL,
        # whitespace-only) emit a NULL fingerprint, filtered below —
        # the oracle's `WHERE tok <> ''` drops them identically.
        ws = re.compile(WS_CLASS_PY)
        out: list[int | None] = []
        for text in texts:
            toks = (
                [t for t in ws.split(str(text).lower()) if t]
                if text is not None
                else []
            )
            if not toks:
                out.append(None)
                continue
            votes = np.zeros(64, dtype=np.int64)
            for tok in toks:
                h = np.uint64(
                    int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
                )
                bits = (h >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
                votes += np.where(bits == 1, 1, -1)
            fp = 0
            for b in range(64):
                if votes[b] > 0:
                    fp |= 1 << b
            # two's-complement into int64
            out.append(fp - (1 << 64) if fp >= (1 << 63) else fp)
        return pd.Series(out, dtype="Int64")

    return (
        parallelize_scan(docs.select("doc_id", "text"), "doc_id")
        .select("doc_id", simhash64(F.col("text")).alias("simhash"))
        .filter(F.col("simhash").isNotNull())
    )


_SIMHASH_MAX_HAMMING = 4
# Pigeonhole: with chunks > max-Hamming, any pair within the distance
# threshold matches EXACTLY on at least one chunk → candidate generation is
# an equi-join on (chunk_idx, chunk_value), never an all-pairs scan.
_SIMHASH_CHUNKS = _SIMHASH_MAX_HAMMING + 1  # 5 chunks of 13/13/13/13/12 bits
_SIMHASH_CHUNK_BITS = 13


# The fingerprint is deterministic (md5-derived per-token hashes, bit votes,
# no engine seeds), so it IS SQL-expressible: DuckDB reproduces the exact
# 64-bit fingerprint via hex-parsing the first 8 md5 bytes (big-endian, the
# same `digest()[:8]` the pandas UDF uses), a 64-row bit-vote aggregation,
# and bit_or-assembled fingerprints. The all-pairs Hamming filter in the
# oracle is equivalent to the engine's chunked candidate join + filter by
# the pigeonhole guarantee (any pair at Hamming ≤ 4 matches ≥ 1 chunk), and
# is fine at oracle scale (sf0.01, 500 docs).
_SIMHASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
  FROM toks WHERE tok <> ''
),
votes AS (
  SELECT doc_id, b.b,
         sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hashed, range(64) b(b)
  GROUP BY 1, 2
),
fp AS (
  SELECT doc_id,
         bit_or(CASE WHEN v > 0 THEN (1::UBIGINT << b) ELSE 0::UBIGINT END) AS f
  FROM votes GROUP BY 1
)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       bit_count(xor(a.f, b.f)) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.f, b.f)) <= {_SIMHASH_MAX_HAMMING}
ORDER BY d1, d2
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE, tags=("llm", "dedup"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: fingerprint each doc (map-only Pandas UDF),
    then pair docs whose fingerprints differ in ≤ 4 of 64 bits.

    Pairing is the chunked-Hamming equi-join (the scale path, not a
    broadcast NLJ): split the 64-bit fingerprint into 5 chunks; any pair at
    Hamming ≤ 4 differs in at most 4 chunks, so it matches exactly on ≥ 1
    chunk (pigeonhole). Candidates come from an equi-join on
    (chunk_idx, chunk_value); exact `bit_count(xor)` verification runs only
    on candidates. Cost is O(docs·chunks) shuffle + O(bucket collisions) —
    linear in corpus size, like the MinHash band join. Skew watch: a chunk
    value shared by a boilerplate family makes a hot bucket; AQE skew-join
    splits moderate cases, and the same document-frequency cap as the LSH
    tier applies upstream for degenerate ones.

    Threshold 4 measured on the fixture: nearly all planted Jaccard≥0.95
    pairs land at Hamming 0-4 while random same-vocab pairs bottom out at
    7 — SimHash is the high-precision coarse tier (it may drop an
    occasional true pair); MinHash-LSH is the high-recall tier.
    Oracle-paired (the fingerprint is deterministic — see _SIMHASH_ORACLE);
    tests additionally assert coverage of the exact-Jaccard planted pairs
    and that the pairing stage plans as an equi-join (no
    BroadcastNestedLoopJoin)."""
    docs = load_tables(spark, sf_dir)["documents"]
    # The fingerprint relation feeds candidate generation AND both
    # verification probes — persist so the pandas-UDF stage runs once.
    fp = tracked_persist(simhash_fingerprints(docs))
    mask = (1 << _SIMHASH_CHUNK_BITS) - 1
    chunks = fp.select(
        "doc_id",
        # explode_outer: the chunk array is never empty; the plain-explode
        # implicit filter would re-evaluate the UDF scan-side (see
        # shingle_sets).
        F.explode_outer(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ck"),
                        F.shiftrightunsigned(
                            F.col("simhash"), i * _SIMHASH_CHUNK_BITS
                        )
                        .bitwiseAND(F.lit(mask))
                        .alias("cv"),
                    )
                    for i in range(_SIMHASH_CHUNKS)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "c.ck", "c.cv")
    x = chunks.alias("x")
    y = chunks.alias("y")
    candidates = (
        x.join(
            y,
            (F.col("x.ck") == F.col("y.ck"))
            & (F.col("x.cv") == F.col("y.cv"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .distinct()
    )
    a = fp.alias("a")
    b = fp.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        candidates.join(a, F.col("d1") == F.col("a.doc_id"))
        .join(b, F.col("d2") == F.col("b.doc_id"))
        .select("d1", "d2", hamming.alias("hamming"))
        .filter(F.col("hamming") <= _SIMHASH_MAX_HAMMING)
        .orderBy("d1", "d2")
    )


# ------------------------------------------- near-dup cluster assignment

_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_DUCK_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT d1, d2
  FROM inter
  JOIN sizes s1 ON s1.doc_id = d1
  JOIN sizes s2 ON s2.doc_id = d2
  WHERE c * 1.0 / (s1.n + s2.n - c) >= {_JACCARD_THRESHOLD}
),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION ALL SELECT d2, d1 FROM pairs),
reach(n, m) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a
)
SELECT n AS doc_id, min(m) AS cluster_id
FROM reach
GROUP BY n
ORDER BY doc_id
"""


@register("dedup_lsh_clusters", oracle=_CLUSTERS_ORACLE, tags=("llm", "dedup"))
def dedup_lsh_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: connected components over the
    verified LSH pair graph, every member labeled with the component's
    minimum doc_id — the grouping a dedup pipeline needs to keep one
    canonical doc per duplicate family (pairs alone can't: {A,B}, {B,C}
    must collapse to one cluster {A,B,C}).

    The components come from `operators.graph.star_contraction_labels`
    (alternating large-star/small-star, Kiveris et al. 2014), the core
    `graph_connected_components` runs. Min-label propagation would need
    as many rounds as a cluster's DIAMETER, which boilerplate chaining
    thousands of docs into one family makes unbounded (SCALE.md
    "Additions, internal sprint E"); star contraction needs O(log n)
    rounds. The oracle is a DuckDB recursive CTE computing the same
    transitive closure.

    Block lifecycle is star contraction's: its last checkpoint backs the
    returned labels and joins the next release cycle, and a loop that
    raises drops its blocks at once. The driver-side loop touches only
    per-round signature scalars — data never leaves the executors."""
    from .graph import star_contraction_labels

    pairs = dedup_minhash_lsh(spark, sf_dir)
    labels = star_contraction_labels(
        pairs.select(F.col("d1").alias("u"), F.col("d2").alias("v"))
    )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


# --------------------------- one-permutation MinHash (OPH) + densification

_OPH_BUCKETS = 64  # sketch width (same as _N_PERM — comparable band layout)


def oph_bands(sha: DataFrame) -> DataFrame:
    """(doc_id, band, bh) banded ONE-PERMUTATION-HASHING signature: hash
    each shingle once, partition the hash space into 64 buckets, keep the
    per-bucket minimum — ONE aggregation pass replaces the classic
    64-rehash min-agg (`minhash_bands`), the O(K)→O(1) per-element win
    that made OPH (Li, Owen & Zhang 2012) the production MinHash at
    scale. Empty buckets (a ~90-shingle doc leaves ~25% of 64 empty) are
    filled by OPTIMAL ROTATION DENSIFICATION (Shrivastava 2017): borrow
    the nearest non-empty bucket to the right (circular), keyed by the
    borrow distance so borrowed values stay distinct across patterns —
    preserving the collision property P(m_j(A)=m_j(B)) ≈ J(A,B) that
    banding needs (slot j of two docs collides iff both borrow an equal
    source value at the SAME distance).

    Densification cost: a per-doc Python loop measured 94s at the 100x
    curve point, an all-JVM window dataflow (64-row spine per doc,
    left-join, two window passes) 32.5 s; densifying from a per-doc
    bucket→min MAP in one map-only transform (see the inline comment
    below) measured 4.2 s at the same 100x point, bit-equal.
    Borrowing is xxhash64(source, distance) — a rehash, not a
    `source + distance` offset, which could overflow under ANSI and
    could collide across distances.

    Banding: same 16x4 layout as the classic tier, so the recall analysis
    carries over; completeness at the fixture's planted >= 0.9
    similarities is pinned by tests/test_llm_ops.py::
    test_oph_candidates_cover_jaccard_pairs on both correctness SFs."""
    per_bucket = (
        sha.select("doc_id", F.explode_outer("sh_arr").alias("sh"))
        .select(
            "doc_id",
            F.xxhash64("sh").alias("h"),
        )
        .withColumn("bucket", F.pmod("h", F.lit(_OPH_BUCKETS)).cast("int"))
        .groupBy("doc_id", "bucket")
        .agg(F.min("h").alias("mn"))
    )
    # Densify from a per-doc bucket→min MAP in ONE expression instead
    # of a spine-explode + left-join + two window passes. The spine form
    # shuffled a 64-row spine per doc through a join and two WindowExecs
    # (3 exchanges over a 64x-exploded relation); this form needs ONE
    # (doc, bucket) aggregate and a map-only transform: slot j takes
    # mp[j] when present, else the NEAREST non-empty bucket to the right
    # (circular) found by folding distances d = 1..K-1 and keeping the
    # FIRST hit — identical borrow-distance semantics, so borrowed
    # values stay distinct across patterns (slot j of two docs collides
    # iff both borrow an equal source value at the SAME distance).
    # coalesce() short-circuits in codegen, so the O(K) distance fold
    # runs only for EMPTY slots (~25% of 64 at fixture doc lengths).
    # Measured (bit-equality-gated, exceptAll both ways = 0): 10x corpus
    # 3.07 s → 0.92 s, 100x 32.5 s → 4.2 s for the signature+banding
    # pipeline; a map_from_entries variant that KEPT the spine join
    # measured a wash — eliminating the spine is what pays. NULL notes:
    # a shingle-less doc still yields one per_bucket row (explode_outer
    # emits NULL, xxhash64(NULL) = the seed), so the doc sets match the
    # spine form's; mp values are never NULL, so
    # coalesce/first-hit logic cannot confuse "empty slot" with a NULL
    # minimum.
    mp = per_bucket.groupBy("doc_id").agg(
        F.expr("map_from_entries(collect_list(struct(bucket, mn)))").alias(
            "mp"
        )
    )
    k = _OPH_BUCKETS
    fill = (
        f"transform(sequence(0, {k - 1}), j -> coalesce(mp[j], "
        f"aggregate(sequence(1, {k - 1}), cast(null as bigint), "
        f"(acc, d) -> coalesce(acc, CASE WHEN mp[pmod(j + d, {k})] IS NOT NULL "
        f"THEN xxhash64(mp[pmod(j + d, {k})], d) END))))"
    )
    dense = mp.select("doc_id", F.expr(fill).alias("m"))
    rows_per_band = _OPH_BUCKETS // _N_BANDS
    # inline_outer(array(named_struct(...))) — one parsed expression
    # instead of the per-band Column listcomp (~150 py4j calls), same
    # literal types (int band ids) so every band hash is unchanged
    bands_sql = ",".join(
        "named_struct('band', {b}, 'bh', xxhash64({b}, {ms}))".format(
            b=b,
            ms=",".join(
                f"m[{b * rows_per_band + r}]" for r in range(rows_per_band)
            ),
        )
        for b in range(_N_BANDS)
    )
    return dense.select("doc_id", F.expr(f"inline_outer(array({bands_sql}))"))


@register("dedup_minhash_oph", oracle=_NGRAM_JACCARD_ORACLE, tags=("llm", "dedup"))
def dedup_minhash_oph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via one-permutation MinHash (see `oph_bands`) —
    the scale-optimized signature next to the classic 64-permutation tier
    (`dedup_minhash_lsh`): identical banding, bucket join, and
    candidate-only exact-Jaccard verification; only the signature family
    differs (one aggregation pass + all-JVM window densification instead
    of 64 codegen'd rehash-min aggs). Same exhaustive-Jaccard oracle —
    the output must EQUAL the classic tier's.

    Measured A/B at sf0.1 (min-of-3, cleared cache): classic 1.49s, OPH
    1.65s — at fixture scale the classic tier WINS: its 64 rehashes are
    fused in-register by whole-stage codegen, while OPH pays a
    64x-finer-grained (doc, bucket) aggregation plus the densification
    window's shuffles. The scale curve (SCALE.md, 128-shingle docs at
    10x/100x corpus) measured the same verdict at scale — classic ~3s
    vs OPH ~26s at 500k docs — so at K=64 the classic tier is the
    default at EVERY scale. The "K in the hundreds" crossover
    hypothesis was MEASURED by adding K=256 arms to the same curve
    (`dedup_minhash_k256`, 64 bands x 4 rows): classic-256 21s vs
    OPH-256 32s at the 100x point — classic STILL wins, refuting the
    prose condition for this corpus shape. The reason is the second
    axis the prose ignored: with 128 shingles into 256 buckets, >50% of
    OPH's slots are empty and the densification window (256-row spine
    per doc, two window passes) dominates; OPH's O(1)-per-element
    advantage needs shingles-per-doc >> sketch width (book-length
    documents), not merely large K. That remaining axis was MEASURED
    too (SCALE.md "the OPH long-document point", 15k docs x
    4096 shingles/doc — same ~61M total shingles as the 100x corpus point,
    so only per-doc length varies): committed quiet record classic-256
    30.4s vs OPH-256 4.6s — **OPH wins 6.7x** (2.8x in the same-day
    protocol pass, 7.8s vs 22.2s; decisive in both windows) once
    occupancy is high (4096 shingles into 256 buckets ≈ 16/slot,
    densification near-no-op) — while at K=64 classic still wins
    (2.3s vs 3.2s committed; 5.1s vs 7.5s protocol: 64 fused rehashes
    stay cheaper than OPH's finer-grained aggregation even on long
    docs). The crossover is now
    a measured SURFACE, not prose: classic at K=64 everywhere; at K in
    the hundreds, classic for short docs (shingles/doc ≲ K), OPH for
    long docs (shingles/doc >> K). Both tiers stay registered: classic
    is the production default; this one is the long-document large-K
    path, with the condition now three A/B measurement points (the
    curve also caught and drove out the original Python densify kernel
    — 94s at the 100x point). The surface is EXECUTABLE:
    `signature_tier_select` returns the prescribed scheme per (doc
    length, K), and `dedup_signature_tier_census` reports the
    prescription over a corpus's measured shingles-per-doc strata."""
    docs = load_tables(spark, sf_dir)["documents"]
    sha = tracked_persist(shingle_arrays(docs))
    return _lsh_verified_pairs(docs, sha, oph_bands(sha))


_DF_CAP = 4  # max docs a shingle may appear in before it is cut


def _df_capped_oracle(shingles_cte: str) -> str:
    """The df-capped exhaustive-Jaccard oracle tail, parameterized by the
    shingle CTE so the natural-corpus and planted-boilerplate operating
    points share one definition."""
    return f"""
WITH {shingles_cte},
df AS (SELECT sh, count(*) AS c FROM shingles GROUP BY sh),
capped AS (
  SELECT s.doc_id, s.sh FROM shingles s JOIN df ON df.sh = s.sh
  WHERE df.c <= {_DF_CAP}
),
{_jaccard_ctes("capped")}
{_JACCARD_SELECT}
ORDER BY d1, d2
"""


_DF_CAPPED_JACCARD_ORACLE = _df_capped_oracle(_DUCK_SHINGLES_CTE)


@register(
    "dedup_lsh_df_capped", oracle=_DF_CAPPED_JACCARD_ORACLE, tags=("llm", "dedup")
)
def dedup_lsh_df_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection over DOCUMENT-FREQUENCY-CAPPED
    shingle sets — the boilerplate/skew defense the module docstring has
    always prescribed for the band join's one failure mode at 100 TB
    ("a hot shingle → hot bucket ... capped upstream by dropping
    shingles with document frequency above a threshold, exactly like a
    stopword cut"), made executable instead of prose.

    Semantics: shingles appearing in more than {_DF_CAP} documents are
    removed BEFORE signatures, candidates, and verification — similarity
    is Jaccard over the capped sets on both engines (the oracle applies
    the identical cut), which is the similarity a curation pipeline
    actually wants: two documents are near-dups because they share RARE
    content, not because they share a boilerplate header every page
    carries. At the fixture SFs the cap is live, not vacuous (df <= 4
    drops ~150-190 shingles at sf0.01/sf0.001; max df is 7-9).

    Scale shape: the df census is one linear groupBy on the exploded
    shingle relation (the unavoidable stopword-cut cost); the HOT set it
    produces is small BY CONSTRUCTION (only shingles shared by more than
    {_DF_CAP} docs — boilerplate cardinality, not corpus cardinality),
    so the cut itself is a broadcast LEFT ANTI join the corpus streams
    past. Everything downstream is the classic tier unchanged: 64-perm
    signatures via the shared builder, 16x4 banding, bucket equi-join,
    candidate-only exact verification over the capped arrays. Documents
    whose every shingle is cut vanish from both engines identically."""
    return _df_capped_pairs(load_tables(spark, sf_dir)["documents"])


def hot_shingles(sh: DataFrame) -> DataFrame:
    """Shingles with document frequency above _DF_CAP — the boilerplate
    set the df-capped tiers cut. One linear groupBy on the exploded
    relation; small by construction (boilerplate cardinality)."""
    return (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > _DF_CAP)
        .select("sh")
    )


def _df_capped_pairs(docs: DataFrame) -> DataFrame:
    """The df-capped LSH pipeline body, shared by the natural-corpus and
    planted-boilerplate operating points: df census → broadcast
    LEFT ANTI cut → classic 64-perm banding → bucket join → candidate-only
    exact verification over the capped arrays."""
    # persist the COMPACT array relation before the diamond: the df
    # census and the anti-join probe both derive from it, and without a
    # cache boundary each branch re-runs the whole split+shingle
    # pipeline (the module's measured ~8s-at-sf0.1 stage) — same
    # discipline as every sibling tier
    raw_sha = tracked_persist(shingle_arrays(docs))
    sh = raw_sha.select("doc_id", F.explode_outer("sh_arr").alias("sh"))
    capped = sh.join(F.broadcast(hot_shingles(sh)), "sh", "left_anti")
    sha = tracked_persist(
        capped.groupBy("doc_id").agg(F.collect_list("sh").alias("sh_arr"))
    )
    return _lsh_verified_pairs(docs, sha, minhash_bands(sha))


# ---------------------------------------- planted-boilerplate operating point

# a 256-word boilerplate header → 254 pure-header shingles with df = 30%
# of the corpus, planted on every doc_id ≡ 0,1,2 (mod 10). Two design
# decisions, both MEASURED:
# * df at ~0.3·N: the natural fixture's max df is 7-9 (barely above the
#   cap of 4); the plant drives the defense at its design point — a
#   boilerplate shingle shared by ~30% of all documents.
# * header LONGER than the content it pollutes: the first cut planted a
#   10-word header, and the hot-bucket test REFUTED the expected blowup —
#   32 uncapped candidate pairs where ~11k were predicted — because 8
#   boilerplate shingles among a 10-99-word doc's shingles almost never
#   capture a band's 4 signature minima (per-permutation collision ≈
#   full-set Jaccard ≈ 8/200). The band join's hot-bucket failure mode
#   needs boilerplate to DOMINATE the shingle set (the every-page-footer-
#   on-short-docs regime: cookie banners and license blocks longer than
#   the content). At 256 header words the planted pairwise full-set
#   Jaccard is ~0.7 → ≥1-of-16-band collision ≈ 99% → the uncapped join
#   really does enqueue ~C(0.3·N, 2) candidate pairs, and the mechanism
#   test pins BOTH sides of the contrast (uncapped blowup ≥ half the
#   planted pair mass; capped output at natural-corpus scale).
_PLANT_HEADER = " ".join(f"boilerplate{i:03d}" for i in range(256))
_PLANT_MOD = 10
_PLANT_REM = 3

_DUCK_PLANTED_SHINGLES_CTE = f"""
planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_PLANT_MOD} < {_PLANT_REM}
              THEN '{_PLANT_HEADER} ' || text ELSE text END AS text
  FROM documents
),{_duck_shingles("planted")}"""


def planted_documents(docs: DataFrame) -> DataFrame:
    """The planted-boilerplate corpus: a pure function of the fixture
    (30% of docs by doc_id residue get the constant `_PLANT_HEADER` — a
    256-word header; the 10-word first cut was refuted by its own
    mechanism test and redesigned, see the registered query's
    docstring), so the DuckDB oracle replays the identical construction
    in SQL."""
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % _PLANT_MOD < _PLANT_REM,
            F.concat(F.lit(_PLANT_HEADER + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


@register(
    "dedup_lsh_df_capped_planted",
    oracle=_df_capped_oracle(_DUCK_PLANTED_SHINGLES_CTE),
    tags=("llm", "dedup"),
)
def dedup_lsh_df_capped_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-capped LSH tier under a PLANTED 30%-df boilerplate header —
    the second operating point of the hot-shingle defense.
    `dedup_lsh_df_capped` proves the cap is live on the
    natural corpus, but the fixture's max df (7-9) is barely above the
    cap; this query drives the defense at its design point: a constant
    256-word header prepended to 30% of documents (doc_id % 10 < 3)
    plants 254 shingles with df ≈ 0.3·N — at sf0.01 that is df=150 vs
    cap 4, the degenerate boilerplate-dominates-content shape (cookie
    banner / license block longer than a short doc's text) under which
    the UNCAPPED band join measurably enqueues ~C(0.3·N, 2) candidate
    pairs — the quadratic hot bucket, the band join's one failure mode
    at 100 TB. (The header length is itself a measured design point:
    see the `_PLANT_HEADER` comment — a 10-word header planted at the
    same df produced NO blowup, refuting the naive any-hot-shingle
    story; the minima-capture math needs boilerplate to dominate the
    shingle set.)

    With the cut, the planted header contributes NOTHING to candidates
    or similarity: the df census flags its shingles, the broadcast anti
    join removes them corpus-wide, and the surviving pipeline is the
    natural tier over the residual content (plus the two rare
    header-to-content junction shingles per planted doc, which both
    engines derive identically). The oracle replays the plant AND the
    cap in SQL — exhaustive Jaccard over the capped planted sets.
    Mechanism test (`test_llm_ops.py::test_planted_boilerplate_df_cut`)
    pins that every pure-header shingle is in the hot set at planted
    df, that the uncapped join really blows up, and that the capped
    output stays at natural-corpus scale — not merely that the answer
    matches."""
    docs = load_tables(spark, sf_dir)["documents"]
    return _df_capped_pairs(planted_documents(docs))


_K256_PERM = 256
_K256_BANDS = 64  # 64 bands × 4 rows — same rows/band as the K=64 tier


@register("dedup_minhash_k256", oracle=_NGRAM_JACCARD_ORACLE, tags=("llm", "dedup"))
def dedup_minhash_k256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic MinHash at K=256 (64 bands × 4 rows) — the LARGE-K
    operating point the OPH/classic crossover analysis names
    (`dedup_minhash_oph` docstring had hypothesized OPH wins once K is
    in the hundreds). Registering the tier turned that prose condition
    into a second MEASURED A/B point — classic-vs-OPH at BOTH K=64 and
    K=256 through these exact production builders (SCALE.md "Round-11:
    the K=256 MinHash A/B") — and the measurement REFUTED it for this
    corpus shape: classic-256 21s vs OPH-256 32s at the 100x point
    (128-shingle docs). Round 12 measured the missing axis
    (shingles-per-doc vs sketch width, the `oph_longdoc_*` keys of
    BENCH_local_r14opt_final.json's `experiments` block): at
    4096 shingles/doc OPH-256 WINS 2.8-6.7x across same-day windows
    (committed record 4.6s vs 30.4s) — so this
    classic-256 tier is the short-document large-K point, and the OPH
    tier is the long-document one. See `dedup_minhash_oph` for the full
    measured surface, and `signature_tier_select` /
    `dedup_signature_tier_census` for the surface as
    executable engine logic.

    Recall strictly dominates the K=64 tier at equal rows-per-band
    (P(candidate | J) = 1 - (1 - J^4)^64 vs ^16), so the
    exhaustive-Jaccard oracle pairing carries over unchanged; precision
    is the verifier's job in every tier. Same banding/bucket-join/
    candidate-verify dataflow — one signature aggregation with 256
    rehash-min columns instead of 64; the shuffle still carries one
    signature row per doc."""
    docs = load_tables(spark, sf_dir)["documents"]
    sha = tracked_persist(shingle_arrays(docs))
    bands = _minhash_bands_k(sha, _K256_PERM, _K256_BANDS)
    return _lsh_verified_pairs(docs, sha, bands)


# ----------------------------- signature-tier selection (measured surface)

# The OPH/classic crossover surface is measured at shingles-per-doc 128
# (classic-256 wins 2.6x) and 4096 (OPH-256 wins 2.8-6.7x) — SCALE.md
# rounds 10-12. The boundary BETWEEN the measured points is not: 1024 is
# the first power of two above the points' geometric midpoint (~724),
# chosen conservative toward classic (routing a just-over-crossover doc
# to classic costs less than routing a short doc to OPH costs — the
# densification spine dominates short docs). Re-measure before moving it.
_TIER_LONG_DOC_SHINGLES = 1024


def signature_tier_select(n_sh, k: int):
    """The measured OPH/classic crossover surface as engine logic:
    given a shingles-per-doc column and the sketch width K, return the
    signature scheme the three A/B points (SCALE.md) prescribe — 'classic' at K<=64 at every
    measured doc length (64 fused in-register rehash-mins beat OPH's
    finer-grained aggregation even at 4096 shingles/doc); at K in the
    hundreds, 'classic' for short docs and 'oph' once shingles-per-doc
    clears `_TIER_LONG_DOC_SHINGLES` (bucket occupancy >> 1 makes
    densification a near-no-op while classic pays K rehashes per
    shingle). A 100 TB ingest consults this per corpus stratum — see
    `dedup_signature_tier_census` for the registered census that
    reports the prescription over a real corpus."""
    if k <= 64:
        return F.lit("classic")
    return (
        F.when(n_sh >= _TIER_LONG_DOC_SHINGLES, F.lit("oph"))
        .otherwise(F.lit("classic"))
    )


_TIER_CENSUS_ORACLE = f"""
WITH {_DUCK_SHINGLES_CTE},
per_doc AS (
  SELECT d.doc_id, coalesce(s.n_sh, 0) AS n_sh
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id) s
    USING (doc_id)
),
strata AS (
  SELECT CASE WHEN n_sh >= {_TIER_LONG_DOC_SHINGLES} THEN 'long'
              ELSE 'short' END AS stratum,
         n_sh
  FROM per_doc
)
SELECT stratum,
       count(*) AS n_docs,
       CAST(sum(n_sh) AS BIGINT) AS total_shingles,
       round(avg(n_sh), 2) AS avg_shingles,
       CAST(max(n_sh) AS BIGINT) AS max_shingles,
       'classic' AS scheme_k64,
       CASE WHEN stratum = 'long' THEN 'oph' ELSE 'classic' END AS scheme_k256
FROM strata
GROUP BY stratum
ORDER BY stratum
"""


@register(
    "dedup_signature_tier_census",
    oracle=_TIER_CENSUS_ORACLE,
    tags=("llm", "dedup"),
)
def dedup_signature_tier_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingles-per-doc census + signature-scheme prescription — the
    planning pass a 100 TB dedup run makes BEFORE picking its MinHash
    tier. Strata by distinct-3-shingle count per doc (threshold
    `_TIER_LONG_DOC_SHINGLES`, between the two measured crossover
    points); per stratum: doc count, total/avg/max shingles, and the
    (scheme @ K=64, scheme @ K=256) the measured surface prescribes via
    `signature_tier_select`. On the fixture corpus every stratum reads
    'short' -> classic at both widths, which is itself the census's
    finding: this corpus never reaches the OPH crossover regime, so no
    long-document OPH query tier is registered for it. Map-only shingle sizing (no join: docs with <3 words
    census as 0 shingles inline), one stratum-keyed aggregation —
    2-row output at any corpus scale."""
    docs = load_tables(spark, sf_dir)["documents"]
    words = parallelize_scan(docs.select("doc_id", "text"), "doc_id").select(
        F.expr(_WORDS).alias("w")
    )
    per_doc = words.select(
        F.when(
            F.size("w") >= 3,
            F.size(
                F.expr(
                    "array_distinct(transform(sequence(0, size(w) - 3), "
                    "i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])))"
                )
            ),
        )
        .otherwise(F.lit(0))
        .alias("n_sh")
    )
    stratum = (
        F.when(F.col("n_sh") >= _TIER_LONG_DOC_SHINGLES, F.lit("long"))
        .otherwise(F.lit("short"))
        .alias("stratum")
    )
    return (
        per_doc.select(stratum, "n_sh")
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_sh").cast("long").alias("total_shingles"),
            F.round(F.avg("n_sh"), 2).alias("avg_shingles"),
            F.max("n_sh").cast("long").alias("max_shingles"),
        )
        .select(
            "stratum",
            "n_docs",
            "total_shingles",
            "avg_shingles",
            "max_shingles",
            signature_tier_select(F.col("avg_shingles"), 64).alias("scheme_k64"),
            signature_tier_select(F.col("avg_shingles"), 256).alias("scheme_k256"),
        )
        .orderBy("stratum")
    )


# ------------------------------------------- asymmetric containment pairs

_CONTAINMENT_THRESHOLD = 0.9

_CONTAINMENT_ORACLE = f"""
WITH {_DUCK_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS contained, b.doc_id AS container, count(*) AS c
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT contained, container,
       round(c * 1.0 / s1.n, 4) AS containment
FROM inter
JOIN sizes s1 ON s1.doc_id = contained
WHERE c * 1.0 / s1.n >= {_CONTAINMENT_THRESHOLD}
ORDER BY contained, container
"""


@register("dedup_containment", oracle=_CONTAINMENT_ORACLE, tags=("llm", "dedup"))
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment C(A→B) = |A∩B| / |A| >= 0.9 (Broder 1997's
    second resemblance measure): flags documents mostly CONTAINED in
    another — quote-heavy pages, excerpt mirrors, doc-in-doc copies that
    symmetric Jaccard misses entirely (a 100-shingle doc inside a
    1000-shingle doc has J ~= 0.1 but C = 1.0). Like
    `dedup_ngram_jaccard` this is the exhaustive TRUTH TIER, quadratic
    by design in shingle-sharing pairs; the scale path is the same LSH
    machinery with containment-calibrated banding (min-hash collision
    estimates J, so candidate generation for high-C/low-J pairs keys on
    the SMALLER doc's sketch — partition-by-size banding, the
    "prefix-filtering" family), kept out of scope until a fixture plants
    asymmetric sizes worth indexing."""
    docs = load_tables(spark, sf_dir)["documents"]
    sha = tracked_persist(shingle_arrays(docs))
    sizes = sha.select("doc_id", F.size("sh_arr").alias("n"))
    sh = sha.select("doc_id", F.explode_outer("sh_arr").alias("sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("contained"),
            F.col("b.doc_id").alias("container"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cont = F.col("c") * 1.0 / F.col("n")
    return (
        inter.join(sizes, F.col("contained") == F.col("doc_id"))
        .filter(cont >= _CONTAINMENT_THRESHOLD)
        .select(
            "contained", "container", F.round(cont, 4).alias("containment")
        )
        .orderBy("contained", "container")
    )


# ------------------------------------------------- provenance-ranked dedup

_PROVENANCE_ORACLE = """
WITH fp AS (
  SELECT doc_id, source, lang, n_chars, md5(lower(trim(text))) AS fingerprint
  FROM documents
),
ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY fingerprint
           ORDER BY (CASE WHEN lang = 'en' THEN 0 ELSE 1 END),
                    n_chars DESC, doc_id) AS rn
  FROM fp
)
SELECT source,
       count(*) AS n_docs,
       count(*) FILTER (WHERE rn = 1) AS n_kept,
       count(*) FILTER (WHERE rn > 1) AS n_dropped
FROM ranked
GROUP BY source
ORDER BY source
"""


@register("dedup_provenance_best", oracle=_PROVENANCE_ORACLE, tags=("llm", "dedup"))
def dedup_provenance_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked exact dedup: within each exact-duplicate cluster keep
    the BEST copy, not the arbitrary lowest-id one — ranked by (English
    first, longer text first, doc_id as the total-order tiebreak), the
    survivor policy real corpus builds use when the same page arrives via
    several crawls of different completeness. Reported as per-source
    kept/dropped counts: the census that shows which ingestion source is
    mostly shadowed by better copies elsewhere.

    Plan: identical movement to `dedup_exact` — ONE shuffle on the
    content fingerprint; the ranking window runs inside each fingerprint
    group (duplicate-cluster sized, tiny by construction), then a
    partial-agg'd groupBy on source. No second pass over text: the rank
    inputs (lang, n_chars) ride along with the fingerprint."""
    docs = load_tables(spark, sf_dir)["documents"]
    fp = docs.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint").orderBy(
        F.when(F.col("lang") == "en", 0).otherwise(1),
        F.col("n_chars").desc(),
        "doc_id",
    )
    ranked = fp.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("rn") == 1, 1)).alias("n_kept"),
            F.count(F.when(F.col("rn") > 1, 1)).alias("n_dropped"),
        )
        .orderBy("source")
    )


# --------------------------------- prefix-filtering similarity join (exact)


@register("dedup_prefix_filter", oracle=_NGRAM_JACCARD_ORACLE, tags=("llm", "dedup"))
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (the PPJoin/AllPairs
    family, Xiao et al. 2008 / Bayardo et al. 2007) — the deterministic
    complement to `dedup_minhash_lsh`: where LSH trades a ~3e-8 miss
    probability for banded buckets, prefix filtering guarantees recall 1
    for Jaccard >= t by a counting argument: order every doc's shingles
    by a GLOBAL total order (document frequency asc, token asc — rarest
    first) and keep only the first |x| - ceil(t*|x|) + 1 as the PREFIX;
    two sets with Jaccard >= t MUST collide on at least one prefix
    token, so the candidate join runs on exploded prefixes only. A
    length filter (t*|x| <= |y|) prunes size-incompatible pairs before
    verification.

    Scale shape: candidate buckets key on the RAREST tokens by
    construction — df-ascending ordering sends stopword-like shingles to
    the suffix, so no hot-token bucket exists (the mirror image of the
    LSH tier's df-cap mitigation, achieved by ordering instead of
    dropping). Stages: shingle explode + df groupBy (shuffle 1),
    per-doc sort + slice (doc-keyed agg, shuffle 2), prefix equi-join
    (shuffle 3, bounded buckets), then the shared candidate-driven exact
    verifier (`_exact_jaccard_pairs` — broadcast pair list, map-only
    intersect). Output is PINNED EQUAL to the exhaustive scan (same
    oracle as the LSH tier)."""
    t = _JACCARD_THRESHOLD
    docs = load_tables(spark, sf_dir)["documents"]
    sha = tracked_persist(shingle_arrays(docs))
    tok = sha.select(
        "doc_id", F.size("sh_arr").alias("n"), F.explode("sh_arr").alias("sh")
    )
    df_rank = tok.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        tok.join(df_rank, "sh")
        .groupBy("doc_id", "n")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("sh")))
            ).alias("arr")
        )
    )
    # tracked_persist the exploded prefix relation: the candidate join
    # below references it
    # TWICE (the x/y self-join arms) — unpersisted, the entire
    # df-census → join → per-doc sort → slice chain executed once PER
    # ARM. The relation is ~(1-t)|x|+1 prefix tokens per doc — doc-
    # cardinality-bounded, smaller than the already-persisted shingle
    # relation, so the cache is scale-safe. Measured at sf0.1:
    # 2.40 s -> 1.68 s median-of-5.
    prefix = tracked_persist(
        ordered.select(
            "doc_id",
            "n",
            F.explode(
                F.slice(
                    F.col("arr.sh"),
                    1,
                    (F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1).cast(
                        "int"
                    ),
                )
            ).alias("psh"),
        )
    )
    x, y = prefix.alias("x"), prefix.alias("y")
    candidates = (
        x.join(
            y,
            (F.col("x.psh") == F.col("y.psh"))
            & (F.col("x.doc_id") < F.col("y.doc_id"))
            # length filter: |y| in [t*|x|, |x|/t] is necessary for J>=t
            & (F.col("y.n") >= F.ceil(F.lit(t) * F.col("x.n")))
            & (F.col("x.n") >= F.ceil(F.lit(t) * F.col("y.n"))),
        )
        .select(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .distinct()
    )
    return _exact_jaccard_pairs(docs, candidates=candidates, sha=sha)


# ------------------------------------ MinHash estimator fidelity report

_FIDELITY_PERMS = 16

_FIDELITY_ORACLE = f"""
WITH {_DUCK_SHINGLES_CTE.strip()},
{_jaccard_ctes("shingles")},
pairs AS (
{_JACCARD_SELECT}
),
slots AS (
  SELECT doc_id, p.i AS perm,
         min(CAST(('0x' || substr(
               md5(CAST(p.i AS VARCHAR) || ':' || sh), 1, 15)) AS BIGINT))
           AS m
  FROM shingles, unnest(range(0, {_FIDELITY_PERMS})) AS p(i)
  GROUP BY doc_id, p.i
),
agree AS (
  SELECT p.d1, p.d2, p.jaccard,
         count(CASE WHEN a.m = b.m THEN 1 END) AS k
  FROM pairs p
  JOIN slots a ON a.doc_id = p.d1
  JOIN slots b ON b.doc_id = p.d2 AND b.perm = a.perm
  GROUP BY 1, 2, 3
)
SELECT d1, d2, jaccard AS exact_jaccard,
       CAST(k AS BIGINT) AS n_slots_equal,
       round(k / {_FIDELITY_PERMS}.0, 4) AS est_jaccard,
       round(abs(k / {_FIDELITY_PERMS}.0 - jaccard), 4) AS abs_err
FROM agree
ORDER BY d1, d2
"""


@register(
    "dedup_minhash_fidelity", oracle=_FIDELITY_ORACLE, tags=("llm", "dedup")
)
def dedup_minhash_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy QA for the MinHash family: for every VERIFIED
    near-dup pair (the exhaustive truth tier, same threshold as the LSH
    tier), compare the exact Jaccard against the unbiased MinHash
    estimate — the fraction of agreeing signature slots, E[agree/K] = J —
    so the report quantifies, in-engine, the estimator the banded index
    is built on (pair it with `dedup_minhash_lsh`, whose RECALL is
    separately pinned equal to the truth tier). A sketch-QA pass like
    this is what a 100 TB dedup pipeline runs on a sample before
    trusting its index parameters.

    The report's K=16 signature derives slot hashes from md5 (the
    engine-identical idiom: first 15 hex chars → BIGINT), NOT from the
    production xxhash64 family (`minhash_bands`) — DuckDB cannot replay
    xxhash64, and the ESTIMATOR's statistics are family-independent, so
    the md5 twin keeps the whole report value-oracle-checkable.

    Scale shape: one shingle pass, one doc-keyed 16-min aggregate
    (map-side partial agg, same movement as the signature stage), then
    two joins of the bounded verified-pair list against the signature
    relation — pairs broadcast, signatures stream. Float determinism:
    est = k/16 is a dyadic rational (exact in binary), exact_jaccard is
    the truth tier's already-rounded value, abs_err derives from the
    two."""
    docs = load_tables(spark, sf_dir)["documents"]
    sha = tracked_persist(shingle_arrays(docs))
    pairs = _exact_jaccard_pairs(docs, candidates=None, sha=sha)
    sh = sha.select("doc_id", F.explode_outer("sh_arr").alias("sh"))
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{i}:"), F.col("sh"))), 1, 15
                    ),
                    16,
                    10,
                ).cast("long")
            ).alias(f"m{i}")
            for i in range(_FIDELITY_PERMS)
        ]
    )
    a = sig.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(_FIDELITY_PERMS)],
    )
    b = sig.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(_FIDELITY_PERMS)],
    )
    k = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(_FIDELITY_PERMS)
    )
    est = k.cast("double") / _FIDELITY_PERMS
    return (
        a.join(F.broadcast(pairs), "d1")
        .join(b, "d2")
        .select(
            "d1",
            "d2",
            F.col("jaccard").alias("exact_jaccard"),
            k.cast("long").alias("n_slots_equal"),
            F.round(est, 4).alias("est_jaccard"),
            F.round(F.abs(est - F.col("jaccard")), 4).alias("abs_err"),
        )
        .orderBy("d1", "d2")
    )
