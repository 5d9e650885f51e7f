"""Quality checks for the approximate LLM-pipeline tiers: the oracle
gate proves the exact tiers (and, since round 8, every registered query
is oracle-paired); these tests additionally bound the approximate
operating points against the exact tiers and pin the non-SQL invariants
(recall, convergence, fixpoint residuals, layout independence)."""

from __future__ import annotations

import pytest

from mini_hive_server_spark import registry

from .conftest import SF_SMOKE

QS = registry.queries()


def test_simhash_covers_strong_near_dups(spark):
    """Every pair the exact-Jaccard tier scores ≥ 0.97 must land within the
    SimHash Hamming threshold (measured margin: those pairs sit at ≤ 4 while
    random same-vocab pairs bottom out at 7)."""
    jac = QS["dedup_ngram_jaccard"](spark, SF_SMOKE).collect()
    strong = {(r.d1, r.d2) for r in jac if r.jaccard >= 0.97}
    sim = {(r.d1, r.d2) for r in QS["dedup_simhash"](spark, SF_SMOKE).collect()}
    assert strong, "fixture should contain planted strong near-dups"
    missed = strong - sim
    assert not missed, f"simhash missed strong pairs: {missed}"


def test_simhash_tokenizer_contract(spark):
    """The SimHash kernel must follow the shared whitespace contract
    (round-12 review): NULL and whitespace-only texts get NO fingerprint
    (the oracle's regexp_split/`tok <> ''` domain — the old str(None)
    path fingerprinted the literal 'none', pairing NULL docs with each
    other at Hamming 0 on the Spark side only), and NBSP does NOT split
    tokens (Python's bare split() would; the contract class and the
    oracle's RE2 class do not)."""
    from mini_hive_server_spark.operators.dedup import simhash_fingerprints

    rows = [
        (0, None),
        (1, "   \t \n "),
        (2, "alpha beta"),   # NBSP: ONE token under the contract
        (3, "alpha beta"),        # space: TWO tokens
        (4, "alpha beta"),   # dup of 2 — identical fingerprint
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {r.doc_id: r.simhash for r in simhash_fingerprints(docs).collect()}
    assert set(fp) == {2, 3, 4}, fp  # token-less docs dropped
    assert fp[2] == fp[4]
    assert fp[2] != fp[3]  # NBSP doc is the single token 'alpha\xa0beta'


def test_simhash_precision_guard(spark):
    """Hamming ≤ 4 must not degenerate into pairing the whole corpus."""
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    n_pairs = QS["dedup_simhash"](spark, SF_SMOKE).count()
    assert n_pairs <= n_docs, f"{n_pairs} simhash pairs for {n_docs} docs"


def test_lsh_ann_recall(spark):
    """Multi-probe LSH must recover most of the brute-force top-5 while
    scanning a strict subset of the corpus."""
    brute = {(r.qid, r.nid) for r in QS["similarity_cosine_topk"](spark, SF_SMOKE).collect()}
    ann = {(r.qid, r.nid) for r in QS["similarity_lsh_ann"](spark, SF_SMOKE).collect()}
    recall = len(brute & ann) / len(brute)
    assert recall >= 0.5, f"recall@5 {recall:.2f} below floor"


def test_minhash_equals_exhaustive(spark):
    """The LSH dedup tier must reproduce the exhaustive pair scan exactly on
    the fixture (recall is probabilistically ~1 at the planted ≥0.9
    similarity)."""
    exact = {tuple(r) for r in QS["dedup_ngram_jaccard"](spark, SF_SMOKE).collect()}
    lsh = {tuple(r) for r in QS["dedup_minhash_lsh"](spark, SF_SMOKE).collect()}
    assert exact == lsh


def test_bmp_decoder_roundtrip_and_traps():
    """decode_bmp must undo all three container normalizations the
    synthesizer deliberately plants — row padding, bottom-up row order,
    BGR channel order — recovering the exact closed-form RGB stream, for
    every width mod 4 (each padding case)."""
    from mini_hive_server_spark.operators.multimodal import (
        _bmp_dims,
        decode_bmp,
        synthesize_bmp,
    )

    for doc_id in range(0, 20):  # widths 3-7 cover pad 0,1,2,3
        w, h = _bmp_dims(doc_id)
        got_w, got_h, rgb = decode_bmp(synthesize_bmp(doc_id))
        assert (got_w, got_h) == (w, h)
        expect = bytes((doc_id * 31 + i * 7) % 251 for i in range(w * h * 3))
        assert rgb == expect, doc_id

    with pytest.raises(ValueError):
        decode_bmp(b"BM" + b"\x00" * 10)  # truncated header
    with pytest.raises(ValueError):
        decode_bmp(b"XX" + synthesize_bmp(1)[2:])  # bad magic
    eight_bit = bytearray(synthesize_bmp(1))
    eight_bit[28] = 8  # bpp field → unsupported palette BMP
    with pytest.raises(ValueError):
        decode_bmp(bytes(eight_bit))
    truncated = synthesize_bmp(1)[:-4]  # pixel array shorter than dims
    with pytest.raises(ValueError):
        decode_bmp(truncated)


def test_wav_decoder_roundtrip_and_traps():
    """decode_wav_pcm16 must walk chunks (a JUNK chunk precedes fmt),
    honor 2-byte alignment, and unpack signed LE samples exactly."""
    from mini_hive_server_spark.operators.multimodal import (
        _wav_params,
        decode_wav_pcm16,
        synthesize_wav,
    )

    for doc_id in (0, 1, 2, 3, 49, 1000):
        n, rate = _wav_params(doc_id)
        got_rate, samples = decode_wav_pcm16(synthesize_wav(doc_id))
        assert got_rate == rate and len(samples) == n
        expect = [((doc_id * 13 + i * 5) % 4096) - 2048 for i in range(n)]
        assert samples == expect, doc_id

    with pytest.raises(ValueError):
        decode_wav_pcm16(b"RIFF\x00\x00\x00\x00AIFF")  # not WAVE
    wav = bytearray(synthesize_wav(1))
    wav[20 + 12] = 2  # fmt audio_format → 2 (ADPCM): not PCM
    with pytest.raises(ValueError):
        decode_wav_pcm16(bytes(wav))
    with pytest.raises(ValueError):
        decode_wav_pcm16(synthesize_wav(1)[:-3])  # truncated data chunk


def test_map_items_zero_rows_keep_declared_schema(spark):
    """`_map_items` over no output rows: an empty input, and a kernel that
    drops every item of a non-empty batch (`_sample_frames` emits nothing
    for payloads shorter than one 16-byte frame; every fixture document
    is longer). Both collect 0 rows with the declared schema, and the
    plan names the MapInPandas stage after the item function."""
    from mini_hive_server_spark.operators.multimodal import (
        _FRAME_SCHEMA,
        _map_items,
        _sample_frames,
        attach_payload,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    empty = attach_payload(docs.limit(0)).select("doc_id", "payload")
    short = spark.createDataFrame(
        [(1, b""), (2, b"x" * 15), (3, b"0123456789")],
        "doc_id long, payload binary",
    )
    declared = spark.createDataFrame([], _FRAME_SCHEMA).schema
    for df in (empty, short):
        out = _map_items(df, _sample_frames, _FRAME_SCHEMA)
        assert out.collect() == []
        assert out.schema == declared
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas _sample_frames(" in plan, plan


def test_multimodal_metadata_never_reads_payload(spark):
    """The metadata-stats plan must prune the payload column at source."""
    df = QS["multimodal_metadata_stats"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    total = sum(r.n_items for r in df.collect())
    assert total == n_docs
    assert "payload" not in plan.lower() or "ReadSchema" not in plan, plan


def test_ivf_ann_recall(spark):
    """IVF at the sublinear operating point (nprobe=6 of 16 cells) must
    recover most of the brute-force top-5 while scanning a strict subset
    of the corpus. (The registered query runs at nprobe=k, where the
    result is provably exact and oracle-paired — this test covers the
    approximate regime.)"""
    from mini_hive_server_spark.operators.similarity import _IVF_NPROBE, _ivf_ann

    brute = {(r.qid, r.nid) for r in QS["similarity_cosine_topk"](spark, SF_SMOKE).collect()}
    ann = {(r.qid, r.nid) for r in _ivf_ann(spark, SF_SMOKE, nprobe=_IVF_NPROBE).collect()}
    recall = len(brute & ann) / len(brute)
    assert recall >= 0.5, f"IVF recall@5 {recall:.2f} below floor"


def test_embedding_cosine_symmetric_threshold(spark):
    """Every emitted embedding near-dup pair is upper-triangle and at or
    above the threshold; no self-pairs."""
    rows = QS["dedup_embedding_cosine"](spark, SF_SMOKE).collect()
    assert rows, "threshold should capture the closest fixture pairs"
    for r in rows:
        assert r.d1 < r.d2
        assert r.cosine >= 0.45


def test_lsh_clusters_consistent_with_pairs(spark):
    """Every verified near-dup pair must land in one cluster, and each
    cluster's id must be its minimum member."""
    from mini_hive_server_spark.operators.dedup import (
        dedup_lsh_clusters,
        dedup_minhash_lsh,
    )

    sf = "/root/testdata/sf0.01"
    label = {
        r.doc_id: r.cluster_id for r in dedup_lsh_clusters(spark, sf).collect()
    }
    pairs = [(r.d1, r.d2) for r in dedup_minhash_lsh(spark, sf).collect()]
    assert pairs, "fixture should contain near-dup pairs"
    for d1, d2 in pairs:
        assert label[d1] == label[d2], (d1, d2)
    members: dict[int, list[int]] = {}
    for doc, cl in label.items():
        members.setdefault(cl, []).append(doc)
    for cl, docs in members.items():
        assert cl == min(docs), (cl, docs)


def test_ivf_ann_recalls_planted_strong_neighbors(spark, tmp_path):
    """Substantiates the IVF docstring's regime claim: STRONG neighbors
    (cosine ≈ 1) co-locate in the same coarse cell and are recalled at the
    sublinear operating point (nprobe=6 of 16) — the fixture's own weak
    neighbors (max pairwise cosine ≈ 0.48) are what degrade recall toward
    the scan fraction, not the index. Plants one near-duplicate per query
    vector (deterministic perturbation, cosine > 0.99) in an augmented
    fixture dir and asserts each lands in its query's top-5."""
    import os

    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from mini_hive_server_spark.catalog import TABLE_NAMES, table_path
    from mini_hive_server_spark.operators.similarity import _IVF_NPROBE, _ivf_ann

    aug_dir = str(tmp_path / "sf_aug")
    os.makedirs(aug_dir)
    for name in TABLE_NAMES:
        src = table_path(SF_SMOKE, name)
        if name != "embeddings":
            os.symlink(src, table_path(aug_dir, name))
    tbl = pq.read_table(src := table_path(SF_SMOKE, "embeddings"))
    df = tbl.to_pandas()
    planted = df[df["vec_id"] < 5].copy()
    vecs = np.vstack(planted["embedding"].map(np.asarray))
    # deterministic small rotation: mixes 5% of the next dimension in —
    # cosine(v, v') > 0.99, far above anything else in the fixture
    vecs = vecs + 0.05 * np.roll(vecs, 1, axis=1)
    planted["embedding"] = [v.astype("float32") for v in vecs]
    planted["vec_id"] = planted["vec_id"] + 1000
    out = pd.concat([df, planted], ignore_index=True)
    out.to_parquet(table_path(aug_dir, "embeddings"), index=False)

    top5 = _ivf_ann(spark, aug_dir, nprobe=_IVF_NPROBE).collect()
    by_q = {}
    for r in top5:
        by_q.setdefault(r.qid, []).append(r.nid)
    for qid in range(5):
        assert qid + 1000 in by_q.get(qid, []), (
            f"planted strong neighbor {qid + 1000} missed for query {qid}: "
            f"{by_q.get(qid)}"
        )


def test_pq_adc_candidates_cover_true_topk(spark):
    """The PQ tier's oracle is brute force, which is only sound while the
    ADC top-C candidate set contains the true top-5 for every fixed
    query. Measure the required depth through the production scoring path
    (_pq_scored) at both correctness SFs and require >= 2x margin under
    _PQ_C. The codebook is a pure function of the fixture (see
    test_pq_codebook_is_independent_of_partitioning), so the depth
    measured here is the depth at every core count; a change to the
    k-means or the training sample, or a regenerated fixture, fails here
    before it reaches the driver."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mini_hive_server_spark.operators.similarity import _PQ_C, _pq_scored

    for sf in (SF_SMOKE, "/root/testdata/sf0.01"):
        emb, q, scored = _pq_scored(spark, sf)
        wc = Window.partitionBy("qid").orderBy(
            F.col("adc_score").desc(), F.col("nid")
        )
        adc_ranked = scored.withColumn("crank", F.row_number().over(wc))
        truth = registry.queries()["similarity_cosine_topk"](spark, sf).select(
            "qid", "nid"
        )
        needed = (
            truth.join(adc_ranked.select("qid", "nid", "crank"), ["qid", "nid"])
            .agg(F.max("crank").alias("max_needed"))
            .collect()[0][0]
        )
        assert needed is not None and needed * 2 <= _PQ_C, (
            f"{sf}: true top-5 sits at ADC depth {needed}, "
            f"need <= {_PQ_C // 2} for 2x margin"
        )


def test_pq_codebook_is_independent_of_partitioning(spark):
    """The PQ codebook depends only on the fixture: the training sample
    is chosen by key hash under an ordered limit, so the same centres come
    out however the corpus is partitioned (`sample()` drew per partition,
    and the scan has one partition per core)."""
    import numpy as np

    from mini_hive_server_spark.operators.similarity import (
        _pq_codebook,
        _pq_scored,
        _train_sample,
    )

    emb, _, _ = _pq_scored(spark, "/root/testdata/sf0.01")
    books = [_pq_codebook(_train_sample(emb.repartition(n), "vn")[0]) for n in (3, 7)]
    assert np.array_equal(*books)


def test_oph_candidates_cover_jaccard_pairs(spark):
    """The OPH tier's oracle is the exhaustive Jaccard scan, which is
    only sound while the densified-OPH band join recalls every >= 0.8
    pair. Assert output == classic tier's output at both correctness SFs
    (both run the same verification over their own candidate sets, so
    equality == identical recall)."""
    for sf in (SF_SMOKE, "/root/testdata/sf0.01"):
        classic = {tuple(r) for r in registry.queries()["dedup_minhash_lsh"](spark, sf).collect()}
        oph = {tuple(r) for r in registry.queries()["dedup_minhash_oph"](spark, sf).collect()}
        assert classic == oph, f"{sf}: OPH {len(oph)} vs classic {len(classic)}"


def test_k256_candidates_cover_jaccard_pairs(spark):
    """Same soundness pin for the round-11 K=256 tier: its exhaustive
    -Jaccard oracle pairing is valid only while the 64x4 band join
    recalls every >= 0.8 pair — recall strictly dominates the K=64 tier
    analytically (1-(1-J^4)^64 vs ^16), but pin the implementation, not
    the analysis."""
    for sf in (SF_SMOKE, "/root/testdata/sf0.01"):
        classic = {tuple(r) for r in registry.queries()["dedup_minhash_lsh"](spark, sf).collect()}
        k256 = {tuple(r) for r in registry.queries()["dedup_minhash_k256"](spark, sf).collect()}
        assert classic == k256, f"{sf}: K=256 {len(k256)} vs classic {len(classic)}"


def test_df_capped_candidates_cover_capped_jaccard_pairs(spark):
    """Soundness pin for the DF-capped tier (round-11 review: its recall
    risk is HIGHER than the sibling tiers' — the cut shrinks shingle
    sets, and smaller sets raise MinHash variance). The tier's output
    must equal the EXHAUSTIVE pair scan over the same capped sets,
    computed here via the shared verifier with candidates=None — the
    comparison the other tiers cannot provide for it (their Jaccard is
    over uncapped sets)."""
    from pyspark.sql import functions as F

    from mini_hive_server_spark.catalog import load_tables
    from mini_hive_server_spark.operators.dedup import (
        _DF_CAP,
        _exact_jaccard_pairs,
        shingle_sets,
    )

    for sf in (SF_SMOKE, "/root/testdata/sf0.01"):
        docs = load_tables(spark, sf)["documents"]
        sh = shingle_sets(docs)
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > _DF_CAP)
            .select("sh")
        )
        capped_sha = (
            sh.join(F.broadcast(hot), "sh", "left_anti")
            .groupBy("doc_id")
            .agg(F.collect_list("sh").alias("sh_arr"))
        )
        exhaustive = {
            tuple(r)
            for r in _exact_jaccard_pairs(
                docs, candidates=None, sha=capped_sha
            ).collect()
        }
        lsh = {
            tuple(r)
            for r in registry.queries()["dedup_lsh_df_capped"](
                spark, sf
            ).collect()
        }
        assert lsh == exhaustive, (
            f"{sf}: capped LSH {len(lsh)} vs exhaustive {len(exhaustive)}"
        )


def test_planted_boilerplate_df_cut(spark):
    """Mechanism pin for `dedup_lsh_df_capped_planted` (the oracle gate
    proves the answer; this proves the DEFENSE fired at its design
    point): every pure-header shingle of the planted 30%-df boilerplate
    must land in the hot set with df equal to the planted-doc count —
    ~30% of the corpus, two orders of magnitude above the cap — so the
    broadcast anti join is what keeps ~30% of all documents out of one
    LSH bucket, not fixture luck."""
    from pyspark.sql import functions as F

    from mini_hive_server_spark.catalog import load_tables
    from mini_hive_server_spark.operators.dedup import (
        _DF_CAP,
        _PLANT_HEADER,
        _PLANT_MOD,
        _PLANT_REM,
        hot_shingles,
        planted_documents,
        shingle_sets,
    )

    sf = "/root/testdata/sf0.01"
    docs = load_tables(spark, sf)["documents"]
    sh = shingle_sets(planted_documents(docs))
    hot = {r.sh for r in hot_shingles(sh).collect()}
    words = _PLANT_HEADER.split()
    header_shingles = {
        " ".join(words[i : i + 3]) for i in range(len(words) - 2)
    }
    assert header_shingles <= hot, header_shingles - hot
    n_planted = docs.filter(F.col("doc_id") % _PLANT_MOD < _PLANT_REM).count()
    n_docs = docs.count()
    assert n_planted >= 0.25 * n_docs  # the plant really is ~30% of the corpus
    df_counts = {
        r.sh: r.c
        for r in sh.filter(F.col("sh").isin(list(header_shingles)))
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    # pure-header shingles appear exactly once per planted doc (the
    # fixture corpus contains none of them naturally — verified), so df
    # is exactly the planted count: the design-point ratio df/cap is
    # n_planted/_DF_CAP, not single digits
    assert df_counts == {s: n_planted for s in header_shingles}
    assert n_planted > 10 * _DF_CAP
    # and the quadratic blowup the cut prevents is REAL, not hypothetical:
    # band the planted corpus WITHOUT the df cut — every planted doc
    # shares all len(header_shingles)=254 pure-header shingles (the
    # 256-word _PLANT_HEADER), which dominate the minhash signature
    # for short docs, so the uncapped band join must emit at least on the
    # order of C(n_planted, 2) candidate pairs (one hot bucket); the
    # registered capped query's candidates stay at natural-corpus scale
    sf_small = "/root/testdata/sf0.001"
    from mini_hive_server_spark.operators.dedup import (
        minhash_bands,
        shingle_arrays,
    )

    docs_s = load_tables(spark, sf_small)["documents"]
    planted_s = planted_documents(docs_s)
    n_planted_s = docs_s.filter(
        F.col("doc_id") % _PLANT_MOD < _PLANT_REM
    ).count()
    bands = minhash_bands(shingle_arrays(planted_s))
    x, y = bands.alias("x"), bands.alias("y")
    uncapped_pairs = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select("x.doc_id", "y.doc_id")
        .distinct()
        .count()
    )
    hot_bucket_pairs = n_planted_s * (n_planted_s - 1) // 2
    assert uncapped_pairs >= hot_bucket_pairs // 2, (
        f"expected a hot bucket: {uncapped_pairs} uncapped candidate "
        f"pairs vs ~{hot_bucket_pairs} planted-pair mass"
    )
    capped_pairs = QS["dedup_lsh_df_capped_planted"](spark, sf_small).count()
    assert capped_pairs < hot_bucket_pairs // 2, (
        f"capped output {capped_pairs} should stay at natural-corpus "
        f"scale, far below the {hot_bucket_pairs}-pair hot bucket"
    )


def test_pagerank_converged_matches_independent_iteration(spark):
    """graph_pagerank_converged is oracle-paired against the 12-round
    golden unroll's values (round 8; the contraction bound makes the
    fixed unroll a valid oracle for the ε-stopped iterate — see
    `_pagerank_converged_oracle`). This test keeps the independent,
    non-SQL pin: (a) ranks agree with a pure-Python power iteration on
    the same edge weights to 1e-6, (b) the reported fixpoint residual
    really is below ε (one more step moves nothing), (c) rank mass sums
    to 1, (d) it reports convergence on the fixture."""
    from collections import defaultdict

    from mini_hive_server_spark import registry
    from mini_hive_server_spark.operators.graph import (
        _DAMPING,
        _PR_EPS,
        _transition_graph,
    )
    from mini_hive_server_spark.catalog import load_tables

    rows = registry.queries()["graph_pagerank_converged"](
        spark, SF_SMOKE
    ).collect()
    assert rows and rows[0]["converged"], "did not converge on fixture"
    got = {r["event_type"]: r["pagerank"] for r in rows}
    assert abs(sum(got.values()) - 1.0) < 1e-3, got  # mass conservation

    # independent reference: collect the TINY edge relation (node arity
    # is event-type cardinality) and power-iterate in pure Python
    events = load_tables(spark, SF_SMOKE)["events"]
    edges_df, nodes_df = _transition_graph(events)
    edges = [(r["src"], r["dst"], r["w"]) for r in edges_df.collect()]
    nodes = sorted(r["node"] for r in nodes_df.collect())
    n = len(nodes)
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(200):
        contrib = defaultdict(float)
        for s, d, w in edges:
            contrib[d] += pr[s] * w
        new = {
            v: (1 - _DAMPING) / n + _DAMPING * contrib[v] for v in nodes
        }
        delta = max(abs(new[v] - pr[v]) for v in nodes)
        pr = new
        if delta < _PR_EPS / 10:  # iterate past the engine's own ε
            break
    # tolerance is the GUARANTEED bound, not the observed gap: stopping
    # at delta<=eps only bounds distance-to-fixpoint by eps*d/(1-d)
    # (~5.7e-6 at d=0.85), plus 5e-7 from round(pr, 6)
    for v in nodes:
        assert abs(got[v] - pr[v]) < 1e-5, (v, got[v], pr[v])
    # fixpoint residual: one more relational step moves every rank < ε
    stepped = defaultdict(float)
    for s, d, w in edges:
        stepped[d] += got[s] * w
    for v in nodes:
        nxt = (1 - _DAMPING) / n + _DAMPING * stepped[v]
        assert abs(nxt - got[v]) < 1e-5, (v, nxt, got[v])


def test_pagerank_converged_matches_golden_fixed_depth(spark):
    """Round 8 (VERDICT r7 "missing #2"): `graph_pagerank_converged` is
    now REGISTERED with the golden unroll's values as its oracle, so
    this test asserts what the driver gate needs — EXACT equality of the
    round(…,6) ranks against `graph_pagerank_golden` — and then PROVES
    the equality is structural rather than incidental: a pure-Python
    replay of the recurrence measures (a) the gap between the ε-stopped
    iterate and the 12-round iterate and (b) the distance of the golden
    values to the nearest 6-decimal rounding boundary, and asserts the
    margin exceeds the gap with ≥4x headroom (measured: gap ≤ 8.5e-9,
    margin ≥ 4.6e-8 across SFs). If a fixture regeneration ever lands
    values near a boundary, this fails loudly here instead of as a
    driver hash mismatch."""
    from collections import defaultdict

    from mini_hive_server_spark import registry
    from mini_hive_server_spark.catalog import load_tables
    from mini_hive_server_spark.operators.graph import (
        _DAMPING,
        _GOLDEN_ITER,
        _PR_EPS,
        _transition_graph,
    )

    qs = registry.queries()
    for sf in (SF_SMOKE, "/root/testdata/sf0.01"):
        conv = {
            r["event_type"]: r["pagerank"]
            for r in qs["graph_pagerank_converged"](spark, sf).collect()
        }
        gold_rows = qs["graph_pagerank_golden"](spark, sf).collect()
        gold = {r["event_type"]: r["pagerank"] for r in gold_rows}
        assert gold_rows and all(r["converged"] for r in gold_rows), sf
        assert conv == gold, (sf, conv, gold)  # the driver-gate equality

        # margin proof: replay the recurrence in pure Python
        events = load_tables(spark, sf)["events"]
        edges_df, nodes_df = _transition_graph(events)
        edges = [(r["src"], r["dst"], r["w"]) for r in edges_df.collect()]
        nodes = sorted(r["node"] for r in nodes_df.collect())
        n = len(nodes)
        pr = {v: 1.0 / n for v in nodes}
        stop_pr = None
        stop_round = None
        for k in range(1, _GOLDEN_ITER + 1):
            contrib = defaultdict(float)
            for s, d, w in edges:
                contrib[d] += pr[s] * w
            new = {
                v: (1 - _DAMPING) / n + _DAMPING * contrib[v] for v in nodes
            }
            delta = max(abs(new[v] - pr[v]) for v in nodes)
            pr = new
            if stop_pr is None and delta <= _PR_EPS:
                stop_pr, stop_round = dict(pr), k
        assert stop_pr is not None, f"{sf}: fixture no longer ε-converges"
        # ADVICE r8: the golden-unroll oracle's validity rests on the
        # fixture converging WELL before the 12-round unroll. Require
        # ≥ _GOLDEN_ITER/2 spare contraction rounds so a regenerated or
        # slower-mixing fixture fails loudly here, not at driver time.
        assert stop_round <= _GOLDEN_ITER // 2, (
            f"{sf}: ε-stop at round {stop_round} leaves too little "
            f"contraction headroom before the {_GOLDEN_ITER}-round unroll"
        )
        gap = max(abs(stop_pr[v] - pr[v]) for v in nodes)
        margin = min(
            abs((v * 1e6) - int(v * 1e6) - 0.5) for v in pr.values()
        ) / 1e6
        assert margin > 4 * gap, (
            f"{sf}: rounding margin {margin:.2e} too close to the "
            f"ε-stop/golden gap {gap:.2e} — the golden-values oracle "
            "for graph_pagerank_converged is no longer safe"
        )


def test_star_contraction_matches_union_find(spark):
    """`star_contraction_labels` (the large-star/small-star core of
    `graph_connected_components`) must agree with a driver-side union-find
    on adversarial synthetic shapes: a long PATH (the diameter case plain
    min-label propagation is linear on, star contraction logarithmic), a
    forest of STARS (already-converged input), and a seeded random
    multigraph with self-loops and both edge orientations (canonicalization
    paths)."""
    import collections
    import random

    from mini_hive_server_spark.operators.graph import star_contraction_labels

    rng = random.Random(7)
    edge_sets = {
        "path40": [(i, i + 1) for i in range(40)],
        "stars": [(100, 100 + i) for i in range(1, 8)]
        + [(200, 200 + i) for i in range(1, 4)],
        "rand": sorted(
            {(rng.randrange(60), rng.randrange(60)) for _ in range(90)}
        ),
    }
    for name, es in edge_sets.items():
        sdf = spark.createDataFrame(es, "u: long, v: long")
        got = dict(star_contraction_labels(sdf).collect())
        parent: dict[int, int] = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        undirected = [(u, v) for u, v in es if u != v]
        for u, v in undirected:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        comp = collections.defaultdict(set)
        for x in parent:
            comp[find(x)].add(x)
        want = {x: min(comp[find(x)]) for x in parent}
        assert got == want, name


def test_local_contract_layout_independent(spark):
    """Round 8: the partition-local union-find pre-pass
    (`graph._local_contract`) claims connectivity preservation under ANY
    edge-to-partition layout — the layout only decides how MUCH
    contracts locally. Pin it: the same mixed graph (path + star +
    seeded random block) must label identically through
    `star_contraction_labels` across round-robin layouts of 1/3/16/64
    partitions (64 > edge count → many empty/singleton partitions) AND
    a range-partitioned contiguous layout, all equal to driver-side
    union-find."""
    import collections
    import random

    from mini_hive_server_spark.operators.graph import star_contraction_labels

    rng = random.Random(11)
    es = (
        [(i, i + 1) for i in range(60)]
        + [(200 + i, 200) for i in range(1, 6)]
        + sorted({(300 + rng.randrange(40), 300 + rng.randrange(40)) for _ in range(50)})
    )
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in es:
        if u == v:
            continue
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comp = collections.defaultdict(set)
    nodes = {x for u, v in es if u != v for x in (u, v)}
    for x in nodes:
        comp[find(x)].add(x)
    want = {x: min(comp[find(x)]) for x in nodes}

    base = spark.createDataFrame(es, "u: long, v: long")
    layouts = [base.repartition(p) for p in (1, 3, 16, 64)]
    layouts.append(base.repartitionByRange(8, "u"))
    for i, sdf in enumerate(layouts):
        got = dict(star_contraction_labels(sdf).collect())
        assert got == want, f"layout {i}"


def test_prepass_kernel_memory_at_budget():
    """VERDICT r9 #6: validate the pre-pass memory claim EMPIRICALLY.
    `graph._PREPASS_EDGE_BUDGET` (1M edges/chunk) is justified by a
    "~250 MB per task worst case" comment; this runs the exact
    production union-find core (`graph._unionfind_stars`, the function
    `_local_contract`'s mapInPandas kernel calls) on the worst-case
    budget-sized chunk — a path graph, where every node is distinct,
    every node enters the parent dict, and every node emits a star row
    — under tracemalloc, feeding numpy-int64 pairs through the same
    `zip(pdf[a], pdf[b])` iteration the kernel uses. Measured 94.3 MiB
    peak (round 10); pinned at < 250 MiB so a kernel change that blows
    the per-task budget fails here, not on an executor OOM at scale."""
    import tracemalloc

    import numpy as np
    import pandas as pd

    from mini_hive_server_spark.operators.graph import (
        _PREPASS_EDGE_BUDGET,
        _unionfind_stars,
    )

    n = _PREPASS_EDGE_BUDGET
    pdf = pd.DataFrame(
        {
            "a": np.arange(1, n + 1, dtype=np.int64),
            "b": np.arange(0, n, dtype=np.int64),
        }
    )
    tracemalloc.start()
    out_a, out_b = _unionfind_stars((x, y) for x, y in zip(pdf["a"], pdf["b"]))
    peak = tracemalloc.get_traced_memory()[1]
    tracemalloc.stop()
    assert len(out_a) == n, "path graph must star every non-root node"
    assert all(r == 0 for r in out_b[:100]), "union-by-min root must be 0"
    assert peak < 250 * 1024 * 1024, (
        f"pre-pass kernel peaked at {peak / 1048576:.1f} MiB on a "
        f"budget-sized chunk — the documented per-task ceiling is 250 MiB"
    )


def test_kcore_peel_matches_bruteforce(spark):
    """`kcore_peel` (the iterative core of `graph_kcore_decomposition`)
    must agree with a driver-side brute-force peel on adversarial shapes:
    a PATH at k=2 (endpoints peel one layer per round — the maximal
    cascade-depth case, ending empty), a CYCLE with a pendant tail at k=2
    (the cycle is exactly the 2-core, the tail cascades away), a CLIQUE
    with pendant vertices at k=3 (already-converged core after one
    round), and a seeded random graph at k=3 (mixed survivors)."""
    import collections
    import random

    from mini_hive_server_spark.operators.graph import kcore_peel

    def brute(es, k):
        es = {tuple(sorted(e)) for e in es if e[0] != e[1]}
        while True:
            deg = collections.Counter()
            for u, v in es:
                deg[u] += 1
                deg[v] += 1
            keep = {n for n, d in deg.items() if d >= k}
            nxt = {(u, v) for u, v in es if u in keep and v in keep}
            if nxt == es:
                return es
            es = nxt

    rng = random.Random(13)
    cases = {
        "path12@2": ([(i, i + 1) for i in range(12)], 2),
        "cycle8_tail@2": (
            [(i, (i + 1) % 8) for i in range(8)]
            + [(7, 20), (20, 21), (21, 22)],
            2,
        ),
        "k5_pendants@3": (
            [(i, j) for i in range(5) for j in range(i + 1, 5)]
            + [(0, 50), (1, 51), (2, 52)],
            3,
        ),
        "rand@3": (
            sorted({(rng.randrange(40), rng.randrange(40)) for _ in range(120)}),
            3,
        ),
    }
    for name, (es, k) in cases.items():
        canon = sorted({(min(u, v), max(u, v)) for u, v in es if u != v})
        sdf = spark.createDataFrame(canon, "u: long, v: long")
        got = {(r["u"], r["v"]) for r in kcore_peel(sdf, k).collect()}
        assert got == brute(canon, k), name


def test_kcore_oracle_reaches_the_fixpoint(spark, tmp_path):
    """The k-core oracle equals the query whenever the query converges
    within its own round cap: peeling is monotone, so an oracle unrolled
    to `_KCORE_MAX_ROUNDS` rounds sits on the fixpoint. The fixture's
    co-purchase graph is the square of a 60-node path (every edge bought
    in 2 orders), whose 3-core peels away two nodes a round and is empty
    after ~30 rounds — deeper than any fixed small unroll."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mini_hive_server_spark.catalog import TABLE_NAMES, table_path
    from mini_hive_server_spark.operators.graph import _KCORE_K

    from .oracle_harness import compare, run_duckdb_oracle

    sf_dir = str(tmp_path / "path_square")
    os.makedirs(sf_dir)
    for name in TABLE_NAMES:
        if name != "lineitem":
            os.symlink(table_path(SF_SMOKE, name), table_path(sf_dir, name))
    edges = [(i, j) for i in range(1, 61) for j in (i + 1, i + 2) if j <= 60]
    rows = [(2 * n + c, p) for n, e in enumerate(edges) for c in (0, 1) for p in e]
    orderkeys, partkeys = zip(*rows)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(orderkeys, pa.int64()),
                "l_partkey": pa.array(partkeys, pa.int64()),
            }
        ),
        table_path(sf_dir, "lineitem"),
    )

    name = "graph_kcore_decomposition"
    oracle = registry.oracles()[name]
    assert not compare(name, QS[name](spark, sf_dir), oracle, sf_dir)
    for d in (sf_dir, SF_SMOKE):
        row = run_duckdb_oracle(oracle, d).to_pylist()[0]
        assert row["min_core_degree"] >= _KCORE_K or row["n_core_edges"] == 0, (
            d,
            row,
        )


def test_lsh_clusters_agree_with_star_contraction(spark):
    """`dedup_lsh_clusters` labels the real verified LSH pair graph
    through the large-star/small-star core; an independent driver-side
    union-find over the same collected `dedup_minhash_lsh` pairs must
    give identical cluster labels (the component minimum), so star
    contraction is cross-validated on live data, not just synthetic
    shapes."""
    from mini_hive_server_spark.operators.dedup import dedup_minhash_lsh

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in dedup_minhash_lsh(spark, SF_SMOKE).collect():
        ru, rv = find(r["d1"]), find(r["d2"])
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    union_find = {x: find(x) for x in parent}
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in registry.queries()["dedup_lsh_clusters"](
            spark, SF_SMOKE
        ).collect()
    }
    assert clusters == union_find
    assert union_find, "no near-dup clusters in the smoke fixture?"


def test_minmax_mv_refresh_edge_cases(spark):
    """Drive the dirty-group min/max maintenance core through the edge
    cases the fixture's modulo folds may not produce — a fully-deleted
    group (must vanish), an insert-only new group (clean path from
    nulls), a duplicated extreme with one copy deleted (conservatively
    dirty, value unchanged), and a deleted unique extreme (dirty, value
    moves) — and compare against a brute-force recompute."""
    import collections

    from pyspark.sql import functions as F

    from mini_hive_server_spark.operators.ingest import minmax_mv_refresh

    # (group, cents, fold): fold b=base-survivor, d=deleted, i=insert
    rows = [
        ("gone", 10, "d"), ("gone", 20, "d"),          # fully deleted
        ("new", 7, "i"), ("new", 3, "i"),              # insert-only group
        ("dupmin", 5, "b"), ("dupmin", 5, "d"), ("dupmin", 9, "b"),
        ("uniqmax", 1, "b"), ("uniqmax", 8, "d"),      # deleted unique max
        ("clean", 2, "b"), ("clean", 6, "b"), ("clean", 4, "d"),
        ("extended", 5, "b"), ("extended", 1, "i"), ("extended", 9, "i"),
    ]
    df = spark.createDataFrame(rows, "g: string, cents: long, fold: string")
    base = df.filter(F.col("fold") != "i").select("g", "cents")
    ins = df.filter(F.col("fold") == "i").select("g", "cents")
    dels = df.filter(F.col("fold") == "d").select("g", "cents")
    survivors = df.filter(F.col("fold") == "b").select("g", "cents")
    got = {
        r["g"]: (r["n_after"], r["min_after"], r["max_after"], r["recomputed"])
        for r in minmax_mv_refresh(base, ins, dels, survivors, ["g"]).collect()
    }
    # brute force
    final = collections.defaultdict(list)
    for g, c, fold in rows:
        if fold in ("b", "i"):
            final[g].append(c)
    base_rows = collections.defaultdict(list)
    for g, c, fold in rows:
        if fold in ("b", "d"):
            base_rows[g].append(c)
    want = {}
    for g, cs in final.items():
        dirty = any(
            fold == "d" and base_rows[g] and c in (min(base_rows[g]), max(base_rows[g]))
            for gg, c, fold in rows
            if gg == g
        )
        want[g] = (len(cs), min(cs), max(cs), dirty)
    assert got == want, (got, want)
    assert "gone" not in got
    assert got["dupmin"] == (2, 5, 9, True)      # conservative recompute
    assert got["new"][3] is False                # clean path from nulls
    assert got["uniqmax"] == (1, 1, 1, True)     # extreme moved


def test_mmr_first_pick_is_argmax_and_selection_diversifies(spark):
    """Semantic pins for `retrieval_mmr_diverse` beyond the oracle replay:
    (a) pick 1 is the plain relevance argmax (maxsim has nothing to
    penalize yet), (b) the greedy actually changes the selection vs the
    relevance top-k on the fixture, and (c) the point of the operator —
    the MMR set's mean pairwise similarity is strictly below the
    relevance top-k's (measured: ~42k vs ~80k at sf0.001)."""
    from pyspark.sql import functions as F

    from mini_hive_server_spark import registry
    from mini_hive_server_spark.catalog import load_tables
    from mini_hive_server_spark.operators.similarity import (
        _MMR_K,
        _MMR_QUERY_ID,
        _MMR_QV,
        _DOT_L,
    )

    rows = registry.queries()["retrieval_mmr_diverse"](spark, SF_SMOKE).collect()
    assert [r["pick_order"] for r in rows] == list(range(1, _MMR_K + 1))
    mmr_ids = [r["vec_id"] for r in rows]

    base = (
        load_tables(spark, SF_SMOKE)["embeddings"]
        .select("vec_id", F.expr(_MMR_QV).alias("qv"))
    )
    q = base.filter(F.col("vec_id") == _MMR_QUERY_ID).select(
        F.col("qv").alias("q_qv")
    )
    rel_top = (
        base.filter(F.col("vec_id") != _MMR_QUERY_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.expr(_DOT_L.format(a="qv", b="q_qv")).alias("rel"))
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_K)
        .collect()
    )
    rel_ids = [r["vec_id"] for r in rel_top]
    assert mmr_ids[0] == rel_ids[0]  # (a)
    assert set(mmr_ids) != set(rel_ids)  # (b)

    vecs = {
        r["vec_id"]: r["qv"]
        for r in base.filter(
            F.col("vec_id").isin(list(set(mmr_ids) | set(rel_ids)))
        ).collect()
    }

    def mean_pair_sim(ids):
        dots = [
            sum(x * y for x, y in zip(vecs[a], vecs[b]))
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
        ]
        return sum(dots) / len(dots)

    assert mean_pair_sim(mmr_ids) < mean_pair_sim(rel_ids)  # (c)


def test_kcenter_radius_monotone_and_covers(spark):
    """Greedy k-center invariants beyond the oracle replay: the pick
    radii are non-increasing from step 2 on (adding centers only
    shrinks min-distances, and the greedy always takes the current
    farthest point), and the last pick's radius is a COVERAGE
    certificate — every unselected corpus vector lies within that
    squared distance of some selected center."""
    from pyspark.sql import functions as F

    from mini_hive_server_spark import registry
    from mini_hive_server_spark.catalog import load_tables
    from mini_hive_server_spark.operators.similarity import _DOT_L, _KC_QV

    rows = registry.queries()["corpus_kcenter_coreset"](spark, SF_SMOKE).collect()
    radii = [r["mind2"] for r in rows[1:]]
    assert radii == sorted(radii, reverse=True), radii

    picked = {r["vec_id"] for r in rows}
    base = load_tables(spark, SF_SMOKE)["embeddings"].select(
        "vec_id",
        F.expr(_KC_QV).alias("qv"),
        F.expr(_DOT_L.format(a=_KC_QV, b=_KC_QV)).alias("norm2"),
    )
    centers = {
        r["vec_id"]: (list(r["qv"]), r["norm2"])
        for r in base.filter(F.col("vec_id").isin(list(picked))).collect()
    }
    cand = base.filter(~F.col("vec_id").isin(list(picked)))
    dists = []
    for i, (v, n2) in enumerate(centers.values()):
        cand = cand.withColumn(
            f"c_{i}", F.array(*[F.lit(int(x)) for x in v])
        )
        dists.append(
            F.col("norm2") + F.lit(n2) - 2 * F.expr(_DOT_L.format(a="qv", b=f"c_{i}"))
        )
    worst = cand.select(F.least(*dists).alias("d")).agg(F.max("d")).first()[0]
    assert worst <= rows[-1]["mind2"], (worst, rows[-1]["mind2"])


def test_roc_auc_matches_bruteforce_pair_count(spark):
    """`classifier_roc_auc` must equal the DEFINITION: the probability a
    random positive outranks a random negative, ties counting half —
    computed by brute-force pair counting over the collected (score, y)
    at sf0.001. Also pins AUC > 0.9 (the score was fit to the rule
    label, so near-perfect ranking is the expected regime) and
    gini = 2*AUC - 1."""
    from pyspark.sql import functions as F

    from mini_hive_server_spark import registry
    from mini_hive_server_spark.operators.curation import classifier_pr_auc  # noqa: F401

    row = registry.queries()["classifier_roc_auc"](spark, SF_SMOKE).first()
    # reconstruct (score, y) via the sibling query's scoring path: the
    # calibration query exposes them; simplest is to recompute from the
    # per-score histogram the AUC query itself aggregates — so instead
    # collect scores straight from the shared expressions.
    from mini_hive_server_spark.catalog import load_tables, parallelize_scan
    from mini_hive_server_spark.operators import _scoring as cu
    from mini_hive_server_spark.operators._text import STOPWORDS, WORDS_SPARK

    docs = load_tables(spark, SF_SMOKE)["documents"]
    t = parallelize_scan(docs.select("doc_id", "text")).select(
        "doc_id", F.expr(WORDS_SPARK).alias("w")
    )
    nw = F.size(F.col("w"))
    awl = F.expr(
        "aggregate(transform(w, x -> length(x)), 0L, (a, x) -> a + x)"
    ) * F.lit(1.0) / nw
    ns = F.expr(f"size(filter(w, x -> x IN ({STOPWORDS})))")
    top_frac = F.expr(
        "array_max(transform(array_distinct(w),"
        " x -> size(filter(w, y -> y = x))))"
    ) * F.lit(1.0) / nw
    score = F.round(
        F.lit(1.0)
        / (
            F.lit(1.0)
            + F.exp(
                -(
                    F.lit(cu._LR_W["bias"])
                    + F.lit(cu._LR_W["nw"]) * nw
                    + F.lit(cu._LR_W["awl"]) * awl
                    + F.lit(cu._LR_W["stop"]) * ns
                    + F.lit(cu._LR_W["rep"]) * top_frac
                )
            )
        ),
        6,
    )
    y = (
        nw.between(cu._MIN_WORDS, cu._MAX_WORDS)
        & awl.between(cu._MIN_AWL, cu._MAX_AWL)
        & (ns >= cu._MIN_STOPWORDS)
        & (top_frac <= cu._MAX_TOP_WORD_FRAC)
    ).cast("int")
    pairs = [
        (r["s"], r["yy"])
        for r in t.select(score.alias("s"), y.alias("yy")).collect()
    ]
    pos = [s for s, yy in pairs if yy == 1]
    neg = [s for s, yy in pairs if yy == 0]
    wins = sum(1.0 if p > q else 0.5 if p == q else 0.0 for p in pos for q in neg)
    brute = wins / (len(pos) * len(neg))
    assert abs(row["roc_auc"] - brute) < 1e-6, (row["roc_auc"], brute)
    assert row["roc_auc"] > 0.9
    assert abs(row["gini_index"] - (2 * row["roc_auc"] - 1)) < 2e-6


def test_stacked_quality_and_retrieval_queries_agree_with_standalone(spark):
    """Queries that stack a scoring rule must report what the standalone
    query reports: the quality dashboard's Gopher / classifier columns,
    the recipe funnel's first two stages, and the hybrid retriever's
    lexical ranks against `text_bm25_topk`."""
    gopher = {r.source: r for r in QS["text_gopher_quality"](spark, SF_SMOKE).collect()}
    clf = {r.source: r for r in QS["text_quality_classifier"](spark, SF_SMOKE).collect()}
    report = QS["text_quality_report"](spark, SF_SMOKE).collect()
    assert {r.source for r in report} == set(gopher) == set(clf)
    for r in report:
        assert r.n_gopher_pass == gopher[r.source].n_pass, r
        assert r.n_classifier_keep == clf[r.source].n_keep, r
        assert r.avg_quality_score == clf[r.source].avg_score, r

    funnel = {r.stage: r for r in QS["corpus_recipe_funnel"](spark, SF_SMOKE).collect()}
    assert funnel["raw"].n_docs == sum(g.n_docs for g in gopher.values())
    assert funnel["quality_pass"].n_docs == sum(g.n_pass for g in gopher.values())

    bm25 = [r.doc_id for r in QS["text_bm25_topk"](spark, SF_SMOKE).collect()]
    lexical = [
        r
        for r in QS["retrieval_rrf_hybrid"](spark, SF_SMOKE).collect()
        if 1 <= r.lex_rank <= len(bm25)
    ]
    assert lexical, "no fused row carries a top-10 lexical rank"
    for r in lexical:
        assert r.doc_id == bm25[r.lex_rank - 1], (r, bm25)


def test_signature_tier_selector_surface(spark):
    """`signature_tier_select` must encode the three measured crossover
    points (SCALE.md rounds 10-12), and the census must route a
    synthetic long document to the 'long'/OPH stratum while the fixture
    corpus — max 97 shingles/doc — reads entirely 'short'/classic."""
    from pyspark.sql import functions as F

    from mini_hive_server_spark.operators.dedup import (
        _TIER_LONG_DOC_SHINGLES,
        dedup_signature_tier_census,
        signature_tier_select,
    )

    # the selector, evaluated at the measured points: classic at K=64
    # for BOTH doc lengths; at K=256 classic short, oph long
    probe = spark.createDataFrame([(128,), (4096,)], "n_sh int").select(
        "n_sh",
        signature_tier_select(F.col("n_sh"), 64).alias("k64"),
        signature_tier_select(F.col("n_sh"), 256).alias("k256"),
    )
    got = {r.n_sh: (r.k64, r.k256) for r in probe.collect()}
    assert got == {128: ("classic", "classic"), 4096: ("classic", "oph")}

    # fixture corpus: one 'short' stratum, classic at both widths —
    # i.e. the census itself documents that this corpus never reaches
    # the OPH crossover regime
    rows = dedup_signature_tier_census(spark, SF_SMOKE).collect()
    assert [r.stratum for r in rows] == ["short"]
    assert rows[0].scheme_k64 == "classic"
    assert rows[0].scheme_k256 == "classic"
    assert rows[0].max_shingles < _TIER_LONG_DOC_SHINGLES

    # a synthetic book-length doc (>= threshold distinct shingles) lands
    # in 'long' and gets the OPH prescription at K=256; a sub-3-word doc
    # censuses as 0 shingles instead of being dropped
    import uuid

    long_text = " ".join(
        uuid.uuid5(uuid.NAMESPACE_DNS, str(i)).hex for i in range(_TIER_LONG_DOC_SHINGLES + 2)
    )
    docs = spark.createDataFrame(
        [(1, long_text), (2, "tiny doc"), (3, "three word doc")],
        "doc_id long, text string",
    )
    import mini_hive_server_spark.operators.dedup as dd
    from mini_hive_server_spark import catalog

    orig = catalog.load_tables
    try:
        catalog.load_tables = lambda s, d, **kw: {"documents": docs}
        dd.load_tables = catalog.load_tables
        out = {r.stratum: r for r in dedup_signature_tier_census(spark, "ignored").collect()}
    finally:
        catalog.load_tables = orig
        dd.load_tables = orig
    assert out["long"].n_docs == 1
    assert out["long"].scheme_k256 == "oph"
    assert out["long"].scheme_k64 == "classic"
    assert out["short"].n_docs == 2
    assert out["short"].total_shingles == 1  # 'three word doc'; 'tiny doc' -> 0


def test_planted_skew_salting_mechanism(spark):
    """The planted-hot-key operating point must really be at its design
    regime, and the salt must really flatten it — measured, not prose:

    * the NATURAL corpus's skew is mild (top user < 10% of clicks), so
      the natural-corpus query alone cannot drive the defense;
    * the plant re-keys >= 25% of clicks onto one user — the ~30%
      bot-traffic shape an unsalted shuffle join funnels through one
      reducer;
    * after salting, the hottest (user_id, salt) group carries ~1/N of
      the hot key's rows (uniformity slack 1.5x) — the per-reducer
      ceiling the rewrite exists to enforce;
    * salting changes NO output row: the salted result equals the plain
      join on the identical planted relation (the DuckDB oracle proves
      this against SQL; this pins it Spark-vs-Spark too)."""
    from pyspark.sql import functions as F

    from mini_hive_server_spark.catalog import load_tables
    from mini_hive_server_spark.operators.behavior import (
        _HOT_USER_ID,
        _N_JOIN_SALT,
        planted_skew_events,
    )

    sf = "/root/testdata/sf0.01"
    events = load_tables(spark, sf)["events"]
    clicks = events.filter(F.col("event_type") == "click")
    n_clicks = clicks.count()
    natural_top = (
        clicks.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
    )
    assert natural_top < 0.10 * n_clicks, (natural_top, n_clicks)

    planted = planted_skew_events(events)
    p_clicks = planted.filter(F.col("event_type") == "click")
    hot = p_clicks.filter(F.col("user_id") == _HOT_USER_ID).count()
    assert hot >= 0.25 * n_clicks, (hot, n_clicks)

    salted_max = (
        p_clicks.groupBy(
            "user_id", (F.col("event_id") % _N_JOIN_SALT).alias("salt")
        )
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert salted_max <= 1.5 * hot / _N_JOIN_SALT, (salted_max, hot)

    from mini_hive_server_spark.operators.behavior import _salted_attribution

    plain = (
        p_clicks.select("user_id", F.col("ts").alias("cts"))
        .join(
            planted.filter(F.col("event_type") == "purchase").select(
                F.col("user_id").alias("p_user_id"), F.col("ts").alias("pts")
            ),
            (F.col("p_user_id") == F.col("user_id"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_attributed"))
        .orderBy(F.col("n_attributed").desc(), "user_id")
        .limit(20)
    )
    assert [tuple(r) for r in _salted_attribution(planted).collect()] == [
        tuple(r) for r in plain.collect()
    ]


def test_salted_attribution_is_targeted_not_blanket(spark):
    """Structural pin for the round-13 TARGETED rework: output equality
    (the oracle and the test above) cannot distinguish targeted salting
    from the blanket first cut — both are result-invariant — so this
    pins the PLAN. The analyzed plan must carry (a) the per-row
    conditional `sequence(...)` replication domain (blanket used a
    constant 8-element array literal: every build row always fanned
    out), and (b) the heavy-hitter census aggregate feeding broadcast
    flag-joins. A future refactor silently reverting to
    replicate-everything re-opens the N x build shuffle at 100 TB;
    this fails it in seconds instead."""
    from pyspark.sql import functions as F

    from mini_hive_server_spark.operators.behavior import _salted_attribution

    events = spark.range(100).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 10).alias("user_id"),
        F.when(F.pmod("id", F.lit(2)) == 0, F.lit("click"))
        .otherwise(F.lit("purchase"))
        .alias("event_type"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias("ts"),
    )
    plan = str(
        _salted_attribution(events)._jdf.queryExecution().analyzed()
    )
    assert "sequence(" in plan, plan  # conditional replication domain
    # the census: a count-per-key aggregate and its mean threshold
    assert plan.count("ResolvedHint") >= 2, plan  # hot-set broadcasts
    assert "avg(" in plan, plan  # the FACTOR x mean threshold


def _expression_nodes(plan, node_name: str) -> list:
    """Every expression named ``node_name`` in a logical plan's tree."""
    found = []

    def walk(seq, visit):
        for i in range(seq.size()):
            visit(seq.apply(i))

    def walk_expr(e):
        if e.nodeName() == node_name:
            found.append(e)
        walk(e.children(), walk_expr)

    def walk_plan(p):
        walk(p.expressions(), walk_expr)
        walk(p.children(), walk_plan)

    walk_plan(plan)
    return found


def test_text_quality_word_length_fold_is_bigint(spark):
    """`text_quality_score` sums word lengths in a bigint accumulator,
    as the Gopher features do: an int sum overflows on a document of
    more than 2^31 characters."""
    df = QS["text_quality_score"](spark, SF_SMOKE)
    folds = _expression_nodes(df._jdf.queryExecution().analyzed(), "aggregate")
    assert folds
    assert [f.dataType().simpleString() for f in folds] == ["bigint"] * len(folds)
