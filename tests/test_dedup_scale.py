"""Round-3 scale-design tests for the dedup suite: b x r MinHash
banding selectivity, Manku simhash block-combination completeness, the
salted/broadcast df-cap plan shape, and the LSH-prefiltered keep map
equalling the exhaustive one."""

from __future__ import annotations

import pyspark.sql.functions as F

from tests.conftest import SF_DIR, driver_cap


def _mid_similarity_corpus(spark, n_docs: int = 20):
    """Docs sharing a 12-token prefix with 20 unique suffix tokens each:
    pairwise shingle-jaccard ~0.2 (mid similarity — the regime whose
    candidates flood an r=1 banding). Plus one true near-dup pair."""
    prefix = " ".join(f"common{i}" for i in range(12))
    rows = [
        (i, prefix + " " + " ".join(f"uniq{i}x{j}" for j in range(20)))
        for i in range(n_docs)
    ]
    near = rows[0][1] + " tail"
    rows.append((n_docs, near))  # (0, n_docs) is a j~0.94 near-dup pair
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bxr_banding_cuts_mid_similarity_candidates(spark):
    """The round-3 fix's acceptance test: with r=2 the per-band collision
    probability is j^2, so mid-similarity pairs stop being candidates
    while true near-dups are retained."""
    from deepref_spark.operators.dedup import minhash_lsh_pairs

    df = _mid_similarity_corpus(spark)
    r1 = minhash_lsh_pairs(df, n_bands=8, rows_per_band=1).count()
    r2_pairs = {(r["a"], r["b"]) for r in
                minhash_lsh_pairs(df, n_bands=8, rows_per_band=2).collect()}
    assert len(r2_pairs) < r1, (
        f"r=2 banding must generate fewer candidates than r=1 on a "
        f"mid-similarity corpus (r1={r1}, r2={len(r2_pairs)})"
    )
    assert (0, 20) in r2_pairs, "true near-dup pair must survive r=2 banding"


def test_minhash_values_are_full_width(spark):
    """Band signature components are 32-bit values, not 16-bit slices:
    on a long document the min of a few hundred 32-bit draws stays well
    above the 16-bit range (P(min < 2^16) = 1 - (1 - 2^-16)^n ~ n/65536)."""
    from deepref_spark.operators.dedup import minhash_band_keys

    text = " ".join(f"tok{i}" for i in range(300))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    sigs = [r["sig"] for r in minhash_band_keys(df).collect()]
    vals = [int(p) for s in sigs for p in s.split(":")]
    assert max(vals) > 1 << 16, "minhash values must span the 32-bit space"


def test_simhash_block_pairs_complete_and_exact(spark):
    """Manku block-combination candidate generation is COMPLETE for
    hamming <= max and the verify excludes hamming > max — including
    the adversarial placement of one flipped bit per block."""
    from deepref_spark.operators.dedup import simhash_block_pairs

    base = 0x1234_5678_9ABC_DEF
    flips3_spread = base ^ (1 << 2) ^ (1 << 25) ^ (1 << 60)  # 3 distinct blocks
    flips3_one_block = base ^ 0b111  # 3 bits in one block
    flips4 = base ^ (1 << 1) ^ (1 << 15) ^ (1 << 30) ^ (1 << 45)
    far = 0x7FF_FFFF_FFFF_FFFF ^ base
    fps = spark.createDataFrame(
        [(1, base), (2, flips3_spread), (3, flips3_one_block), (4, flips4), (5, far)],
        "doc_id long, simhash long",
    )
    got = {(r["a"], r["b"]): r["hamming"]
           for r in simhash_block_pairs(fps, max_hamming=3).collect()}
    assert got[(1, 2)] == 3, "3 flips across 3 blocks must be found"
    assert got[(1, 3)] == 3, "3 flips inside one block must be found"
    assert (1, 4) not in got, "hamming-4 pair must be excluded"
    assert (1, 5) not in got


def test_simhash_block_pairs_randomized_completeness(spark):
    """Every <=3-bit corruption of a random fingerprint is recovered —
    exercised over a deterministic spread of flip patterns."""
    import random

    from deepref_spark.operators.dedup import simhash_block_pairs

    rng = random.Random(7)
    rows, expected = [], set()
    for trial in range(12):
        base_doc = trial * 4
        base = rng.getrandbits(63)
        bits = rng.sample(range(63), 3)
        rows.append((base_doc, base))
        for n_flip in (1, 2, 3):
            mutated = base
            for b in bits[:n_flip]:
                mutated ^= 1 << b
            rows.append((base_doc + n_flip, mutated))
            expected.add((base_doc, base_doc + n_flip))
    fps = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {(r["a"], r["b"]) for r in simhash_block_pairs(fps, max_hamming=3).collect()}
    assert expected <= got, f"missing pairs: {sorted(expected - got)[:5]}"


def test_df_cap_plan_has_no_shingle_window(spark):
    """The df-cap must not materialize a hot shingle's whole posting
    list in one partition: the plan has no Window operator (round-2
    regression guard) and still matches uncapped semantics on a corpus
    with no over-cap shingle."""
    from deepref_spark.operators.dedup import ngram_jaccard_pairs

    df = _mid_similarity_corpus(spark, n_docs=6)
    capped = ngram_jaccard_pairs(df, threshold=0.5, df_cap=50)
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "df-cap must be computed without a per-shingle window"
    uncapped = {(r["a"], r["b"]) for r in ngram_jaccard_pairs(df, threshold=0.5).collect()}
    # cap of 50 on a 7-doc corpus drops nothing -> identical output
    assert {(r["a"], r["b"]) for r in capped.collect()} == uncapped


def test_df_cap_drops_ubiquitous_shingles(spark):
    """With a binding cap the ubiquitous boilerplate shingles leave the
    index and pairs whose only overlap is boilerplate disappear."""
    from deepref_spark.operators.dedup import ngram_jaccard_pairs

    boiler = ("all rights reserved copyright notice applies here "
              "terms of service subject to change")
    rows = [(i, boiler + " " + " ".join(f"own{i}w{j}" for j in range(4)))
            for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    loose = ngram_jaccard_pairs(df, threshold=0.3).count()
    capped = ngram_jaccard_pairs(df, threshold=0.3, df_cap=5).count()
    assert loose > 0 and capped == 0


def test_keep_map_prefiltered_equals_exact(spark):
    """VERDICT round-3 item 4 acceptance: the scale-shape keep map (LSH
    prefilter -> candidate-only verify) equals the exhaustive one on
    the real fixture corpus."""
    from deepref_spark.operators.dedup import near_dup_keep_map
    from deepref_spark.queries import documents

    docs = documents(spark, SF_DIR).select("doc_id", "text")
    fast = {(r["doc_id"], r["keep_doc_id"])
            for r in near_dup_keep_map(docs, prefilter=True).collect()}
    exact = {(r["doc_id"], r["keep_doc_id"])
             for r in near_dup_keep_map(docs, prefilter=False).collect()}
    assert fast == exact


def test_candidate_pair_jaccard_matches_inverted_index(spark):
    """The array-intersect verifier and the inverted-index verifier
    agree pairwise (same distinct-shingle-set semantics)."""
    from deepref_spark.operators.dedup import (
        candidate_pair_jaccard, ngram_jaccard_pairs,
    )

    df = _mid_similarity_corpus(spark, n_docs=8)
    full = {(r["a"], r["b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(df, threshold=0.1).collect()}
    all_pairs = spark.createDataFrame(
        [(a, b) for (a, b) in full], "a long, b long"
    )
    via_arrays = {(r["a"], r["b"]): r["jaccard"]
                  for r in candidate_pair_jaccard(df, all_pairs, threshold=0.1).collect()}
    assert via_arrays == full


# --- connected-components hardening (round-3 item 8) -------------------------


def _path_edges(spark, n: int):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "a long, b long"
    )


def test_cc_driver_and_distributed_paths_agree(spark):
    from deepref_spark.operators.linking import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "a long, b long",
    )
    fast = {r["entity"]: r["component"]
            for r in connected_components(edges).collect()}
    with driver_cap(spark, 0):
        dist = {r["entity"]: r["component"]
                for r in connected_components(edges).collect()}
    expected = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    assert fast == expected and dist == expected


def test_cc_pointer_doubling_converges_on_long_chain(spark):
    """A path graph far longer than 2 * max_iter plain hops: pointer
    doubling must still converge (O(log diameter) rounds) on the
    distributed path — the round-2 version silently returned a partial
    merge here."""
    from deepref_spark.operators.linking import connected_components

    n = 300  # diameter 300 >> 2 hops/round * 20 rounds without doubling
    with driver_cap(spark, 0):
        comps = connected_components(_path_edges(spark, n), max_iter=20).collect()
    assert all(r["component"] == 0 for r in comps)
    assert len(comps) == n + 1


def test_cc_raises_loudly_on_budget_exhaustion(spark):
    """When the round budget genuinely cannot cover the diameter the
    operator must raise, never return a half-merged labelling."""
    import pytest

    from deepref_spark.operators.linking import connected_components

    with driver_cap(spark, 0), pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_path_edges(spark, 300), max_iter=1)


def test_cc_string_labels_min_component(spark):
    """String entities (the canonical_map case): component = lexicographic
    min member on both paths."""
    from deepref_spark.operators.linking import DRIVER_MAX_ROWS, connected_components

    edges = spark.createDataFrame(
        [("beta", "alpha"), ("beta", "gamma")], "a string, b string"
    )
    for cap in (DRIVER_MAX_ROWS, 0):
        with driver_cap(spark, cap):
            comps = {r["entity"]: r["component"]
                     for r in connected_components(edges).collect()}
        assert comps == {"alpha": "alpha", "beta": "alpha", "gamma": "alpha"}


# --- IVF k-means refinement (round-3 item 10) --------------------------------


def test_ivf_kmeans_codebook_and_recall(spark):
    """The k-means codebook drops the dense-vec_id assumption (seeds by
    md5 sample + one Lloyd step) and the IVF top-k reaches reasonable
    recall vs exact brute force on the fixture embeddings."""
    import pyspark.sql.functions as F

    from deepref_spark.operators.similarity import (
        _ivf_codebook, brute_force_topk, ivf_ann_topk, ivf_assignments,
    )
    from deepref_spark.schemas import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    # sparse, non-contiguous ids must still produce a full codebook
    sparse = emb.withColumn("vec_id", F.col("vec_id") * 1000 + 7)
    cb = _ivf_codebook(sparse, n_lists=8).collect()
    assert len(cb) == 8
    assign = ivf_assignments(sparse, n_lists=8)
    n_lists_used = assign.select("list_id").distinct().count()
    assert n_lists_used >= 4, "Lloyd-refined lists should be broadly used"
    # recall@5 vs brute force on a small query sample
    queries = emb.orderBy("vec_id").limit(10)
    exact = brute_force_topk(emb, queries, k=5).collect()
    approx = ivf_ann_topk(emb, queries, k=5, n_lists=8, nprobe=2).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["nbr_id"])
    got_sets = {}
    for r in approx:
        got_sets.setdefault(r["query_id"], set()).add(r["nbr_id"])
    recalls = [len(exact_sets[q] & got_sets.get(q, set())) / len(exact_sets[q])
               for q in exact_sets]
    avg_recall = sum(recalls) / len(recalls)
    assert avg_recall >= 0.4, f"IVF nprobe=2/8 recall too low: {avg_recall:.2f}"


def test_ivf_training_is_sample_based(spark):
    """Round-4 scale fix: Lloyd refinement must depend ONLY on the
    md5-ordered training sample, never the rest of the corpus — codebook
    built from the full table equals the codebook built from just the
    sample rows (so at 100 TB each refinement pass costs a 4k-row scan,
    not a corpus pass)."""
    import pyspark.sql.functions as F

    from deepref_spark.operators.similarity import _ivf_codebook
    from deepref_spark.schemas import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    n_lists, per_list = 4, 8
    sample_only = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(per_list * n_lists)
    )
    full = {r["list_id"]: r["cvec"] for r in _ivf_codebook(
        emb, n_lists=n_lists, train_sample=per_list).collect()}
    sampled = {r["list_id"]: r["cvec"] for r in _ivf_codebook(
        sample_only, n_lists=n_lists, train_sample=per_list).collect()}
    assert full == sampled


def test_pq_ann_codes_and_rerank(spark):
    """PQ-ADC: codes are deterministic m-length int arrays in
    [0, k_sub); the ADC shortlist captures the true top-5 far better
    than random candidates (uniform-random vectors are PQ's worst
    case — measured ~5x lift at shortlist=50 over a 500-vector
    corpus); exact re-rank of the shortlist returns correctly ranked
    results whose recall equals the shortlist coverage."""
    import pyspark.sql.functions as F

    from deepref_spark.operators.similarity import (
        brute_force_topk, pq_ann_rerank_topk, pq_codebooks, pq_encode,
    )
    from deepref_spark.schemas import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    books = pq_codebooks(emb, dim=64, m=8, k_sub=16)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)
    codes = pq_encode(emb, books).collect()
    n = emb.count()
    assert len(codes) == n
    for r in codes[:20]:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])
    # determinism: same codes on a re-run
    again = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, books).collect()}
    assert all(again[r["vec_id"]] == list(r["codes"]) for r in codes)

    queries = emb.orderBy("vec_id").limit(10)
    exact = brute_force_topk(emb, queries, k=5).collect()
    got = pq_ann_rerank_topk(emb, queries, k=5, shortlist=50).collect()
    es, gs = {}, {}
    for r in exact:
        es.setdefault(r["query_id"], set()).add(r["nbr_id"])
    for r in got:
        gs.setdefault(r["query_id"], set()).add(r["nbr_id"])
    recalls = [len(es[q] & gs.get(q, set())) / len(es[q]) for q in es]
    avg = sum(recalls) / len(recalls)
    # random-candidate baseline expectation at shortlist 50 of ~n is
    # 50/n; require a clear multiple of it (measured 0.54 at sf0.01)
    assert avg >= min(1.0, 3 * 50 / n), f"PQ rerank recall too low: {avg:.2f}"
    # re-ranked cosines are EXACT: they match brute-force values
    exact_cos = {(r["query_id"], r["nbr_id"]): r["cosine"] for r in exact}
    for r in got:
        key = (r["query_id"], r["nbr_id"])
        if key in exact_cos:
            assert abs(r["cosine"] - exact_cos[key]) < 1e-9


def test_pq_lloyd_refinement_improves_recall(spark):
    """The round-5 Lloyd refinement (per-subspace k-means over the
    md5-ordered checkpointed sample, exactly the _ivf_codebook
    discipline): refined codebooks must capture at least as much of
    the brute-force top-5 as the raw seed codebooks they replace
    (measured 0.24 vs 0.14 at sf0.001 — a real lift even on
    uniform-random vectors, PQ's worst case), and every refined
    centroid component sits on the 1e-6 grid (the exact-integer-mean
    portability contract with the SQL oracle)."""
    import pyspark.sql.functions as F

    from deepref_spark.operators.similarity import (
        brute_force_topk, pq_ann_topk, pq_codebooks,
    )
    from deepref_spark.schemas import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    qs = emb.where(F.expr("vec_id % 50 = 0"))
    truth = {}
    for r in brute_force_topk(emb, qs, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["nbr_id"])

    def recall(books):
        got = {}
        for r in pq_ann_topk(emb, qs, k=5, books=books).collect():
            got.setdefault(r["query_id"], set()).add(r["nbr_id"])
        hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
        return hits / sum(len(v) for v in truth.values())

    raw = pq_codebooks(emb, lloyd_iters=0)
    refined = pq_codebooks(emb, lloyd_iters=1)
    assert refined != raw  # the refinement actually moved centroids
    for book in refined:
        for cent in book:
            for v in cent:
                assert abs(v * 1_000_000 - round(v * 1_000_000)) < 1e-6
    assert recall(refined) >= recall(raw)
