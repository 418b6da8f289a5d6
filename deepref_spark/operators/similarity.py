"""Similarity search over the `embeddings` table (array<float> column):
brute-force cosine top-k as the correctness baseline, sign-LSH bucketed
ANN as the scale path, and embedding-cosine near-duplicate detection.

Spark-first: the dot product is a built-in ``aggregate`` over
``zip_with`` (JVM-side), top-k is a window over the blocked candidate
space. At 100 TB the brute-force path is gated to a sampled query set;
the LSH path's bucket join is the production shape (bucket count scales
with corpus size; broadcast the query side when small).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from deepref_spark.session import local_frame


def _norm_col(vec: str) -> F.Column:
    return F.sqrt(F.expr(f"aggregate({vec}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"))


def _dot(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    queries: (vec_id, embedding). The query side is broadcast (it is
    small by contract); the corpus side streams — one pass, no corpus
    shuffle, ranking via per-query window over the joined space."""
    corpus = embeddings.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("embedding").alias("nbr_emb"),
        _norm_col("embedding").alias("nbr_norm"),
    )
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _norm_col("embedding").alias("q_norm"),
        )
    )
    scored = (
        corpus.crossJoin(q)
        .where(F.col("nbr_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(_dot("q_emb", "nbr_emb") / (F.col("q_norm") * F.col("nbr_norm")), 4),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", F.col("cosine").alias("cosine"), "rank")
    )


def gaussian_planes(dim: int, n_planes: int = 8, seed: int = 42):
    """Seeded Gaussian hyperplanes, rounded to 6 decimals so the exact
    same constants can be embedded as literals in a SQL oracle."""
    import numpy as np

    rs = np.random.RandomState(seed)
    return np.round(rs.normal(0.0, 1.0, size=(n_planes, dim)), 6)


def plane_literal_sql(plane, d: str = "spark") -> str:
    vals = ", ".join(f"CAST({v!r} AS DOUBLE)" for v in plane.tolist())
    return f"array({vals})" if d == "spark" else f"[{', '.join(repr(v) for v in plane.tolist())}]"


def gaussian_lsh_buckets(embeddings: DataFrame, dim: int,
                         n_planes: int = 8, seed: int = 42) -> DataFrame:
    """Random-hyperplane LSH with REAL seeded Gaussian planes — the
    production bucketing (recall is controlled for any embedding
    distribution, unlike the raw-coordinate sign trick below). The
    planes are literals in the plan (tiny: n_planes x dim doubles), so
    the same constants appear verbatim in the DuckDB oracle — no
    broadcast machinery needed for a kilobyte of floats."""
    planes = gaussian_planes(dim, n_planes, seed)
    bits = [
        "CASE WHEN aggregate(zip_with(embedding, "
        + plane_literal_sql(p)
        + ", (x, p) -> CAST(x AS DOUBLE) * p), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        " >= 0 THEN '1' ELSE '0' END"
        for p in planes
    ]
    return embeddings.select(
        "vec_id", "embedding",
        F.expr("concat(" + ", ".join(bits) + ")").alias("bucket"),
    )


def sign_lsh_buckets(embeddings: DataFrame, n_planes: int = 8) -> DataFrame:
    """Axis-aligned sign LSH: the sign pattern of the first n_planes
    coordinates as the bucket key (coordinates of trained embeddings are
    near-random projections already). Kept for the cheapest bucketing;
    gaussian_lsh_buckets is the production default."""
    bucket_bits = [
        f"CASE WHEN CAST(element_at(embedding, {i + 1}) AS DOUBLE) >= 0 THEN '1' ELSE '0' END"
        for i in range(n_planes)
    ]
    return embeddings.select(
        "vec_id", "embedding",
        F.expr("concat(" + ", ".join(bucket_bits) + ")").alias("bucket"),
    )


def lsh_ann_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                 n_planes: int = 8, dim: int | None = None) -> DataFrame:
    """ANN: candidates share the query's LSH bucket; exact cosine +
    window ranking within the bucket only. With ``dim`` set the bucket
    key comes from seeded Gaussian planes (production default);
    otherwise the axis-aligned sign fallback."""
    def buckets(df):
        if dim is not None:
            return gaussian_lsh_buckets(df, dim, n_planes)
        return sign_lsh_buckets(df, n_planes)

    corpus = buckets(embeddings).select(
        F.col("vec_id").alias("nbr_id"), F.col("embedding").alias("nbr_emb"),
        _norm_col("embedding").alias("nbr_norm"), "bucket",
    )
    q = F.broadcast(
        buckets(queries).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"),
            _norm_col("embedding").alias("q_norm"), "bucket",
        )
    )
    scored = (
        corpus.join(q, "bucket")
        .where(F.col("nbr_id") != F.col("query_id"))
        .withColumn("cosine", F.round(_dot("q_emb", "nbr_emb") / (F.col("q_norm") * F.col("nbr_norm")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", F.col("cosine").alias("cosine"), "rank")
    )


def embedding_near_dups(embeddings: DataFrame, threshold: float = 0.95,
                        n_planes: int = 6) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via bucketed self-join.
    Buckets are staged so the fingerprint derivation runs once, not per
    join side."""
    b = sign_lsh_buckets(embeddings, n_planes).localCheckpoint(eager=False)
    left = b.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"),
                    _norm_col("embedding").alias("na"), "bucket")
    right = b.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"),
                     _norm_col("embedding").alias("nb"), "bucket")
    return (
        left.join(right, "bucket").where(F.col("a") < F.col("b"))
        .withColumn("cosine", F.round(_dot("ea", "eb") / (F.col("na") * F.col("nb")), 4))
        .where(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def _assign_to(embeddings: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, embedding, list_id): max-cosine centroid per vector via
    a broadcast join over the tiny codebook — one corpus pass. The
    argmax is max_by over (csim, -list_id), a hash aggregate that
    combines MAP-SIDE (the N x n_lists scored rows reduce to N before
    the shuffle) — a row_number window would sort-shuffle the full
    scored set. Tie-break (highest csim, then smallest list_id) matches
    the oracle's ORDER BY csim DESC, list_id."""
    scored = (
        embeddings.select("vec_id", "embedding", _norm_col("embedding").alias("vnorm"))
        .crossJoin(F.broadcast(cents))
        .withColumn("csim", _dot("embedding", "cvec") / (F.col("vnorm") * F.col("cnorm")))
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.expr("max_by(struct(embedding, list_id), struct(csim, -list_id))").alias("_w"),
        )
        .select("vec_id", F.col("_w.embedding").alias("embedding"),
                F.col("_w.list_id").alias("list_id"))
    )


def _ivf_codebook(embeddings: DataFrame, n_lists: int, lloyd_iters: int = 1,
                  train_sample: int = 256):
    """The coarse-quantizer k-means codebook (broadcast), shared by
    assignment and query probing.

    Training is SAMPLE-BASED (the FAISS discipline: the coarse
    quantizer trains on ~train_sample vectors per list, not the
    corpus): one full-corpus TakeOrdered takes the
    ``train_sample * n_lists`` vectors with smallest md5(vec_id) — a
    uniform pseudo-random sample independent of the id distribution,
    planned as TakeOrderedAndProject (no global sort) — and every
    Lloyd refinement pass runs over that checkpointed sample. The
    seeds are the first ``n_lists`` rows of the SAME ordering, i.e. a
    prefix of the sample, so deriving them re-sorts 4k checkpointed
    rows instead of re-scanning the corpus. Net corpus passes for
    training: exactly ONE, independent of ``lloyd_iters`` (round 3 ran
    assignment over the full corpus per iteration — one extra 100-TB
    pass per refinement to train 16 centroids).

    Each Lloyd pass: assign (broadcast argmax over the sample) ->
    element-wise mean per list (posexplode + exact 6dp-quantized
    BIGINT sums, one tiny shuffle). The integer-sum mean is
    aggregation-order independent, so the SQL oracle reproduces the
    centroids bit-identically under any partitioning; empty lists keep
    their seed vector."""
    sample = (
        embeddings
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(train_sample * n_lists)
        .select("vec_id", "embedding")
        .localCheckpoint(eager=False)
    )
    seeds = (
        sample
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(n_lists)
        .select(
            F.col("vec_id").alias("list_id"),
            F.expr("transform(embedding, x -> round(CAST(x AS DOUBLE), 6))").alias("cvec"),
        )
        .localCheckpoint(eager=False)
    )
    cents = seeds
    for _ in range(lloyd_iters):
        assigned = _assign_to(sample, cents.withColumn("cnorm", _norm_col("cvec")))
        # element mean via exact integer sums: each component is
        # quantized to 6dp (floor(v*1e6+0.5), IEEE-identical in Spark
        # and DuckDB) and summed as BIGINT — plain avg(double) is
        # partial-aggregation-order dependent and can flip the 6dp
        # rounding of a boundary value between engines/partitionings
        # (same rule as text_analysis' order-independent rollup)
        newc = (
            assigned.select(
                "list_id",
                F.posexplode("embedding").alias("pos", "v"),
            )
            .groupBy("list_id", "pos")
            .agg(
                F.sum(
                    F.expr("CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)")
                ).alias("s"),
                F.count("v").alias("c"),
            )
            # engine round() on s/(1e6*c) is NOT portable: the integer
            # quantization creates systematic .5 ties that Spark
            # (HALF_UP on shortest-decimal) and DuckDB (IEEE on the
            # scaled double) round in opposite directions. floor of
            # (2s+c)/(2c) is tie-free and IEEE-identical (quotients are
            # rationals with denominator 2c — when not exact they sit
            # >= 1/(2c) away from an integer, far beyond one ulp), so
            # both engines produce the same 1e-6-grid value.
            .select(
                "list_id", "pos",
                F.expr(
                    "CAST(floor((2.0 * s + c) / (2.0 * c)) AS DOUBLE) / 1000000.0"
                ).alias("m"),
            )
            .groupBy("list_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("list_id", F.expr("transform(pm, x -> x.m)").alias("cvec"))
        )
        cents = (
            seeds.select("list_id", F.col("cvec").alias("_seed"))
            .join(newc, "list_id", "left")
            .select("list_id", F.coalesce("cvec", "_seed").alias("cvec"))
        )
    # the refinement chain feeds assignment AND probing — materialize once
    return cents.withColumn("cnorm", _norm_col("cvec")).localCheckpoint(eager=False)


def ivf_assignments(embeddings: DataFrame, n_lists: int = 16,
                    codebook: DataFrame | None = None) -> DataFrame:
    """IVF coarse quantizer over the k-means codebook (_ivf_codebook).
    Assignment = max-cosine centroid via a broadcast join over the tiny
    codebook — one corpus pass, fully reproducible in a SQL oracle."""
    cents = _ivf_codebook(embeddings, n_lists) if codebook is None else codebook
    return _assign_to(embeddings, cents)


def ivf_ann_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                 n_lists: int = 16, nprobe: int = 2,
                 codebook: DataFrame | None = None) -> DataFrame:
    """IVF-flat ANN: each query probes its ``nprobe`` nearest inverted
    lists and searches only those lists exactly — the classic
    coarse-quantize-then-scan scale path (search cost ~ nprobe/n_lists
    of brute force; lists shard naturally across executors).
    ``codebook`` lets callers pass an already-trained (persisted)
    codebook — identical centroids by construction."""
    cents = (_ivf_codebook(embeddings, n_lists) if codebook is None
             else codebook)
    assign = ivf_assignments(embeddings, n_lists, codebook=cents).localCheckpoint(eager=False)
    qprobe = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _norm_col("embedding").alias("q_norm"),
        )
        .crossJoin(F.broadcast(cents))
        .withColumn("csim", _dot("q_emb", "cvec") / (F.col("q_norm") * F.col("cnorm")))
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("list_id"))
    probes = (
        qprobe.withColumn("_r", F.row_number().over(wq))
        .where(F.col("_r") <= nprobe)
        .select("query_id", "q_emb", "q_norm", "list_id")
    )
    corpus = assign.select(
        F.col("vec_id").alias("nbr_id"), F.col("embedding").alias("nbr_emb"),
        _norm_col("embedding").alias("nbr_norm"), "list_id",
    )
    scored = (
        corpus.join(F.broadcast(probes), "list_id")
        .where(F.col("nbr_id") != F.col("query_id"))
        .withColumn("cosine", F.round(_dot("q_emb", "nbr_emb") / (F.col("q_norm") * F.col("nbr_norm")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    # (query, nbr) pairs are structurally unique: every corpus vector
    # lives in exactly one inverted list
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cosine", "rank")
    )


def semdedup(embeddings: DataFrame, n_lists: int = 16,
             threshold: float = 0.95) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster
    the corpus with the IVF coarse quantizer, then prune near-duplicate
    pairs WITHIN each cluster — the clustering bounds the quadratic
    pairwise term to cluster size, which is the whole scale story
    (at 100 TB raise ``n_lists`` ~ N/target_cluster_size so clusters
    stay executor-sized; the codebook still trains on one sampled
    corpus pass, see _ivf_codebook).

    Keep rule (the paper keeps the member FURTHEST from its centroid
    to preserve diversity): within a duplicate pair, the vector whose
    centroid cosine is lower (tie: smaller vec_id) is kept and the
    other dropped. Expressed as one EXISTS over the within-cluster
    pair set — no iteration, no driver collect.

    Returns the full corpus as (vec_id, list_id, centroid_sim, keep).
    """
    cents = _ivf_codebook(embeddings, n_lists)
    scored = (
        embeddings.select("vec_id", "embedding", _norm_col("embedding").alias("vnorm"))
        .crossJoin(F.broadcast(cents))
        .withColumn("csim", _dot("embedding", "cvec") / (F.col("vnorm") * F.col("cnorm")))
    )
    # argmax centroid, carrying the winning csim for the keep order —
    # same map-side max_by shape as _assign_to
    assign = (
        scored.groupBy("vec_id")
        .agg(F.expr(
            "max_by(struct(embedding, vnorm, csim, list_id), struct(csim, -list_id))"
        ).alias("_w"))
        .select(
            "vec_id", F.col("_w.embedding").alias("embedding"),
            F.col("_w.vnorm").alias("vnorm"), F.col("_w.csim").alias("csim"),
            F.col("_w.list_id").alias("list_id"),
        )
        .localCheckpoint(eager=False)
    )
    left = assign.select(
        F.col("vec_id").alias("a"), F.col("embedding").alias("ea"),
        F.col("vnorm").alias("na"), F.col("csim").alias("ca"), "list_id")
    right = assign.select(
        F.col("vec_id").alias("b"), F.col("embedding").alias("eb"),
        F.col("vnorm").alias("nb"), F.col("csim").alias("cb"), "list_id")
    drops = (
        left.join(right, "list_id")
        .where(F.col("a") != F.col("b"))
        .withColumn("cos", F.round(_dot("ea", "eb") / (F.col("na") * F.col("nb")), 4))
        .where(F.col("cos") >= F.lit(threshold))
        # a is dropped when its neighbor b precedes it in keep order
        .where((F.col("cb") < F.col("ca"))
               | ((F.col("cb") == F.col("ca")) & (F.col("b") < F.col("a"))))
        .select(F.col("a").alias("vec_id"))
        .distinct()
    )
    return (
        assign.join(drops.withColumn("_d", F.lit(False)), "vec_id", "left")
        .select(
            "vec_id", "list_id",
            F.round("csim", 4).alias("centroid_sim"),
            F.coalesce("_d", F.lit(True)).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the memory-bound scale path: each
# corpus vector is stored as m sub-codes (m small ints instead of dim
# floats), and query scoring is per-subspace TABLE LOOKUPS (ADC), not
# full-width dot products. At 100 TB the corpus scan carries ~8 bytes
# per vector instead of 256 and the per-pair cost is m adds.
# ---------------------------------------------------------------------------


def pq_codebooks(embeddings: DataFrame, dim: int = 64, m: int = 8,
                 k_sub: int = 16, lloyd_iters: int = 1,
                 train_sample: int = 256) -> list:
    """Per-subspace LLOYD-REFINED codebooks (the same sample-based
    k-means discipline as _ivf_codebook): seeds are subvectors of the
    k_sub md5-smallest sample vectors; each refinement pass reassigns
    the ``train_sample * k_sub`` checkpointed sample's subvectors to
    their nearest centroid (squared L2, min-index tie-break — the
    pq_encode rule) and recomputes element means with the exact
    6dp-quantized BIGINT sums + tie-free floor((2s+c)/(2c)) rounding
    the IVF codebook uses, so the oracle reproduces the refined books
    bit-identically under any partitioning. Empty clusters keep their
    seed subvector. Net corpus passes for training: exactly ONE (the
    sample TakeOrdered); refinement runs over the checkpointed sample.
    Returns books[j][c] = list of dim/m floats on the 1e-6 grid —
    plan-literal-sized by construction, like a label map (driver
    collects: k_sub seed rows + m*k_sub*dim/m refined means)."""
    sub = dim // m
    sample = (
        embeddings
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(train_sample * k_sub)
        .select("vec_id", "embedding")
        .localCheckpoint(eager=False)
    )
    seed_rows = (
        sample
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(k_sub)
        .select(F.expr("transform(embedding, x -> round(CAST(x AS DOUBLE), 6))").alias("e"))
        .collect()
    )
    books = [
        [list(r["e"][j * sub:(j + 1) * sub]) for r in seed_rows]
        for j in range(m)
    ]
    for _ in range(lloyd_iters):
        # assign: the sample's per-subspace codes under the current
        # books (same kernel queries use), then element means per
        # (subspace, centroid, component) via exact integer sums
        enc = pq_encode(sample, books, dim)
        assigned = (
            sample.join(enc, "vec_id")
            .select("embedding", F.posexplode("codes").alias("j", "c"))
            .select(
                "j", "c",
                F.posexplode(
                    F.expr(f"slice(embedding, j * {sub} + 1, {sub})")
                ).alias("i", "v"),
            )
        )
        means = (
            assigned.groupBy("j", "c", "i")
            .agg(
                F.sum(
                    F.expr("CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)")
                ).alias("s"),
                F.count("v").alias("n"),
            )
            # tie-free portable rounding — see _ivf_codebook's comment
            .select(
                "j", "c", "i",
                F.expr(
                    "CAST(floor((2.0 * s + n) / (2.0 * n)) AS DOUBLE) / 1000000.0"
                ).alias("mval"),
            )
            .collect()
        )
        refined: dict = {}
        for r in means:
            refined.setdefault((r["j"], r["c"]), {})[r["i"]] = r["mval"]
        books = [
            [
                [refined[(j, c)][i] for i in range(sub)]
                if (j, c) in refined else books[j][c]
                for c in range(k_sub)
            ]
            for j in range(m)
        ]
    return books


def _book_literal(book: list, d: str = "spark") -> str:
    """One subspace's codebook as an array-of-arrays literal."""
    if d == "spark":
        return "array(" + ", ".join(
            "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in cent) + ")"
            for cent in book
        ) + ")"
    return "[" + ", ".join(
        "[" + ", ".join(repr(v) for v in cent) + "]" for cent in book
    ) + "]"


def pq_encode(embeddings: DataFrame, books: list, dim: int = 64) -> DataFrame:
    """(vec_id, embedding) -> (vec_id, codes array<int>): per subspace
    the index of the nearest centroid by squared L2, min-index
    tie-break — pure JVM expressions over the literal codebooks (the
    books are a kilobyte; a broadcast join would cost a shuffle-side
    plan for what a literal does in codegen)."""
    m = len(books)
    sub = dim // m
    code_exprs = []
    for j, book in enumerate(books):
        lit = _book_literal(book, "spark")
        sv = f"transform(slice(embedding, {j * sub + 1}, {sub}), x -> CAST(x AS DOUBLE))"
        # struct ordering = (distance, centroid index): array_min picks
        # the smallest distance with the smallest index on ties —
        # deterministic and identical to the oracle's ORDER BY d, c
        code_exprs.append(
            f"array_min(zip_with({lit}, sequence(0, {len(book) - 1}), "
            f"(cent, c) -> struct(aggregate(zip_with({sv}, cent, (x, y) -> (x - y) * (x - y)), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS d, c AS c))).c"
        )
    return embeddings.select(
        "vec_id",
        F.expr("array(" + ", ".join(code_exprs) + ")").alias("codes"),
    )


def pq_ann_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                dim: int = 64, m: int = 8, k_sub: int = 16,
                books: list | None = None,
                codes: DataFrame | None = None) -> DataFrame:
    """PQ-ADC approximate cosine top-k: each query precomputes a
    per-subspace lookup table dt[j][c] = <q_j, centroid_jc> plus the
    centroid norm table; a (query, corpus) pair then costs m array
    lookups (codes -> table), never a full-width dot. Cosine uses the
    DECODED corpus norm (sqrt of summed centroid norms) — the standard
    ADC approximation. Query side broadcasts.

    Scan cost as wired: with the default ``codes=None`` the corpus side
    encodes INLINE from the full-width embeddings (one full-width scan
    per call — fine for a one-shot query). The memory-bound benefit
    (~m bytes/vector scanned) applies when the caller persists
    ``pq_encode`` output once and passes it as ``codes`` — a
    (vec_id, codes) DataFrame — which serving-style repeated queries
    should do; ``books`` must then be the same codebooks the codes
    were encoded with."""
    books = pq_codebooks(embeddings, dim, m, k_sub) if books is None else books
    sub = dim // m
    if codes is None:
        codes = pq_encode(embeddings, books, dim)
    codes = codes.select(F.col("vec_id").alias("nbr_id"), "codes")
    dt_exprs = []
    for j, book in enumerate(books):
        lit = _book_literal(book, "spark")
        qv = f"transform(slice(q_emb, {j * sub + 1}, {sub}), x -> CAST(x AS DOUBLE))"
        dt_exprs.append(
            f"transform({lit}, cent -> aggregate(zip_with({qv}, cent, (x, y) -> x * y), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
        )
    # centroid norms are QUERY-INDEPENDENT: compute them in Python with
    # the same sequential 0.0-seeded fold the oracle's list_reduce runs
    # (IEEE-identical) and embed one literal — round 3 of this file had
    # them as a per-query-row expression broadcast with every row
    def _fold_n2(cent):
        acc = 0.0
        for y in cent:
            acc += y * y
        return acc

    nt2_lit = "array(" + ", ".join(
        "array(" + ", ".join(f"CAST({_fold_n2(c)!r} AS DOUBLE)" for c in book) + ")"
        for book in books
    ) + ")"
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _norm_col("embedding").alias("q_norm"),
        )
        .withColumn("dt", F.expr("array(" + ", ".join(dt_exprs) + ")"))
        .drop("q_emb")
    )
    m_idx = f"sequence(1, {m})"
    approx_dot = (
        f"aggregate({m_idx}, CAST(0.0 AS DOUBLE), "
        f"(acc, j) -> acc + element_at(element_at(dt, j), element_at(codes, j) + 1))"
    )
    dec_norm2 = (
        f"aggregate({m_idx}, CAST(0.0 AS DOUBLE), "
        f"(acc, j) -> acc + element_at(element_at({nt2_lit}, j), element_at(codes, j) + 1))"
    )
    scored = (
        codes.crossJoin(q)
        .where(F.col("nbr_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                F.expr(approx_dot) / (F.col("q_norm") * F.sqrt(F.expr(dec_norm2))), 4
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cosine", "rank")
    )


def pq_ann_rerank_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                       shortlist: int = 50, dim: int = 64, m: int = 8,
                       k_sub: int = 16, books: list | None = None,
                       codes: DataFrame | None = None) -> DataFrame:
    """The production PQ shape: ADC shortlist (cheap, code-table
    lookups over the whole corpus) -> EXACT cosine re-rank of the
    shortlist only (``shortlist`` rows per query fetch their full
    vectors). Final recall equals the shortlist's coverage of the true
    top-k, at exact-ranking precision — the standard FAISS
    IVFPQ+refine discipline. Note the quantization-error caveat:
    uniform-random vectors (this repo's synthetic corpus) are PQ's
    worst case; on clustered real embeddings the same codebooks cover
    far more of the true top-k per shortlist slot. Pass persisted
    ``books``/``codes`` (from pq_codebooks/pq_encode) to avoid the
    inline full-width encode scan on repeated queries."""
    # the shortlist is queries x shortlist rows — small by contract —
    # so the exact-rerank join BROADCASTS it against the corpus scan
    # (at 100 TB a shuffle join would move the corpus to fetch a few
    # thousand vectors)
    short = F.broadcast(
        pq_ann_topk(embeddings, queries, k=shortlist, dim=dim, m=m,
                    k_sub=k_sub, books=books, codes=codes)
        .select("query_id", "nbr_id")
    )
    corpus = embeddings.select(
        F.col("vec_id").alias("nbr_id"), F.col("embedding").alias("nbr_emb"),
        _norm_col("embedding").alias("nbr_norm"),
    )
    q = F.broadcast(queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"),
        _norm_col("embedding").alias("q_norm"),
    ))
    exact = (
        short.join(corpus, "nbr_id").join(q, "query_id")
        .withColumn("cosine", F.round(
            _dot("q_emb", "nbr_emb") / (F.col("q_norm") * F.col("nbr_norm")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cosine", "rank")
    )


def pq_distortion_report(embeddings: DataFrame, dim: int = 64, m: int = 8,
                         k_sub: int = 16,
                         books: list | None = None) -> DataFrame:
    """Per-subspace PQ reconstruction-distortion report — the ANALYZE
    step next to ivf_quality (coarse-quantizer cohesion) and sq8_error
    (scalar-quantizer error): for each of the ``m`` subspaces, the
    member count plus the mean and worst squared L2 between a vector's
    subvector and its assigned centroid. This is exactly the quantity
    Lloyd refinement minimizes, so the report is the acceptance gate
    an index build publishes before trusting the codebooks (a subspace
    whose distortion dwarfs the others needs more centroids or a
    rotation — the OPQ signal).

    One corpus scan: per row the same literal-codebook min-distance
    struct fold pq_encode runs (the chosen centroid's distance IS the
    reconstruction error — no decode join, no second pass), then ONE
    combineable groupBy on m rows. Each error is quantized to the 1e-6
    grid as BIGINT before summing (floor(x*1e6+0.5), IEEE-identical in
    Spark and DuckDB), mean via the tie-free floor((2s+n)/(2n)) — the
    ivf_quality discipline, so the report is aggregation-order
    independent under any partitioning."""
    books = pq_codebooks(embeddings, dim, m, k_sub) if books is None else books
    sub = dim // m
    err_exprs = []
    for j, book in enumerate(books):
        lit = _book_literal(book, "spark")
        sv = (f"transform(slice(embedding, {j * sub + 1}, {sub}), "
              f"x -> CAST(x AS DOUBLE))")
        # same (d, c) struct fold as pq_encode — .d instead of .c
        err_exprs.append(
            f"array_min(zip_with({lit}, sequence(0, {len(book) - 1}), "
            f"(cent, c) -> struct(aggregate(zip_with({sv}, cent, "
            f"(x, y) -> (x - y) * (x - y)), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS d, c AS c))).d"
        )
    errs = embeddings.select(
        F.posexplode(F.expr("array(" + ", ".join(err_exprs) + ")"))
        .alias("subspace", "err")
    ).select(
        F.col("subspace").cast("long").alias("subspace"),
        F.expr("CAST(floor(err * 1000000.0 + 0.5) AS BIGINT)").alias("u"),
    )
    return (
        errs.groupBy("subspace")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"),
             F.sum("u").alias("_s"),
             F.max("u").alias("_m"))
        .select(
            "subspace", "n_vectors",
            F.expr("CAST(floor((2.0 * _s + n_vectors) / (2.0 * n_vectors)) "
                   "AS DOUBLE) / 1000000.0").alias("mean_sq_err"),
            (F.col("_m").cast("double") / F.lit(1000000.0)).alias("max_sq_err"),
        )
    )


# ---------------------------------------------------------------------------
# Nearest-centroid classification over the labeled embedding table
# ---------------------------------------------------------------------------

def centroid_classify(embeddings: DataFrame) -> DataFrame:
    """Nearest-centroid (Rocchio) classifier over the labeled embedding
    table: per-label mean centroids on the exact 1e-6 integer grid (the
    _ivf_codebook discipline — quantize floor(v*1e6+0.5), BIGINT sums,
    tie-free floor((2s+c)/(2c)) mean), then every vector assigned to
    its nearest centroid by squared L2 computed ENTIRELY in BIGINT
    arithmetic — every intermediate exact, so assignments (and the
    deterministic lowest-label tie-break) are plan- and
    partitioning-independent. Output = confusion counts
    (label, pred_label, n): the embedding-space class-separability
    audit a labeling/distillation pipeline publishes.

    Scale shape: training is one posexplode shuffle keyed
    (label, pos) — map-side combinable, output n_labels x dim rows;
    the centroid table broadcasts for scoring (one scan, no corpus
    self-join). The 2s+c double hop inside the mean stays exact while
    per-(label, dim) counts < ~4.5e9; past that swap the mean to pure
    HUGE-int SQL/decimal on both sides."""
    q = embeddings.select(
        "vec_id", "label",
        F.expr(
            "transform(embedding, v -> "
            "CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"
        ).alias("qv"),
    ).localCheckpoint(eager=False)  # feeds centroid training AND scoring
    cents = (
        q.select("label", F.posexplode("qv").alias("pos", "e"))
        .groupBy("label", "pos")
        .agg(F.sum("e").alias("s"), F.count("e").alias("c"))
        .select(
            "label", "pos",
            F.expr("CAST(floor((2.0 * s + c) / (2.0 * c)) AS BIGINT)").alias("m"),
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(F.col("label").alias("c_label"),
                F.expr("transform(pm, x -> x.m)").alias("cv"))
    )
    scored = q.crossJoin(F.broadcast(cents)).select(
        "vec_id", "label", "c_label",
        F.expr(
            "aggregate(zip_with(qv, cv, (a, b) -> (a - b) * (a - b)), "
            "0L, (acc, x) -> acc + x)"
        ).alias("d2"),
    )
    best = scored.groupBy("vec_id", "label").agg(
        F.min(F.struct("d2", "c_label")).alias("b"))
    return (
        best.select("label", F.col("b.c_label").alias("pred_label"))
        .groupBy("label", "pred_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def ann_recall_eval(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                    bf: DataFrame | None = None,
                    n_lists: int = 16, nprobe: int = 2) -> DataFrame:
    """Recall@k of the IVF ANN against exact brute-force top-k, per
    query — the quality gate an ANN deployment runs at small SF before
    trusting approximate neighbors at 100 TB (the companion of the
    dedup lane's minhash_calibration). Returns (query_id, k, n_hits,
    recall_ppm) with recall on the ppm integer grid.

    Both ranked lists use the same deterministic total order (cosine
    rounded 4dp DESC, nbr_id ASC), so the set intersection is
    reproducible across engines and partitionings. Cost: the
    brute-force side is the by-contract calibration scan (broadcast
    query side, one corpus pass); the IVF side is the production path.
    """
    bf = (brute_force_topk(embeddings, queries, k=k)
          if bf is None else bf) \
        .select("query_id", "nbr_id")
    ivf = ivf_ann_topk(embeddings, queries, k=k,
                       n_lists=n_lists, nprobe=nprobe) \
        .select("query_id", "nbr_id", F.lit(1).alias("_hit"))
    return (
        bf.join(ivf, ["query_id", "nbr_id"], "left")
        .groupBy("query_id")
        .agg(
            F.lit(k).cast("long").alias("k"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_hits"),
        )
        .select(
            "query_id", "k", "n_hits",
            F.expr(f"n_hits * 1000000 div {k}").cast("long").alias("recall_ppm"),
        )
    )


def sq8_error(embeddings: DataFrame, scale_bits: int = 30) -> DataFrame:
    """SQ8 scalar quantization (the FAISS ScalarQuantizer discipline
    next to the IVF/PQ lanes above): per-dimension [min, max] trained
    in one corpus pass, each component encoded to an 8-bit cell
    (floor((x - mn) * 255 / rng), clamped), reconstructed at the cell
    midpoint, and the per-vector reconstruction error reported on the
    2^scale_bits integer grid. Returns
    (vec_id, code_sum, err_units, mse_x1e9) — all BIGINT, so the
    result is bit-identical under any partitioning and in the twin.

    Scale shape: training is ONE posexplode + a dim-sized min/max agg
    (map-side combined) collapsed to a 1-row array pair that joins
    back as a broadcast; encode + error are per-row zip_with/aggregate
    array expressions — the corpus pass has NO shuffle and NO row
    explosion. Order-independence: per-dim error units are BIGINTs
    summed inside the array (fixed order), never a float sum across a
    shuffle."""
    ex = embeddings.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    )
    d = (
        ex.select(F.posexplode("e").alias("j", "x"))
        .groupBy("j").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    stats = d.agg(
        F.expr("transform(array_sort(collect_list(struct(j, mn))), s -> s.mn)")
        .alias("mins"),
        F.expr("transform(array_sort(collect_list(struct(j, mx))), s -> s.mx)")
        .alias("maxs"),
    )
    unit = 1 << scale_bits
    # staged array transforms: (x, mn, mx) -> +code -> +diff -> (c, u);
    # each stage names the previous stage's fields, so no expression is
    # spliced into another (the lambda re-evaluation trap does not
    # apply inside one row's array pipeline, but clarity does)
    zip3 = ("zip_with(zip_with(e, mins, (x, mn) -> "
            "named_struct('x', x, 'mn', mn)), maxs, (s, mx) -> "
            "named_struct('x', s.x, 'mn', s.mn, 'mx', mx))")
    coded = (
        f"transform({zip3}, t -> named_struct('x', t.x, 'mn', t.mn, "
        f"'mx', t.mx, 'c', CASE WHEN t.mx = t.mn THEN 0L ELSE "
        f"least(255L, greatest(0L, CAST(floor((t.x - t.mn) * 255 "
        f"/ (t.mx - t.mn)) AS BIGINT))) END))"
    )
    diffed = (
        f"transform({coded}, t -> named_struct('c', t.c, 'd', "
        f"t.x - (t.mn + (CAST(t.c AS DOUBLE) + 0.5d) * (t.mx - t.mn) / 256)))"
    )
    pair = (
        f"transform({diffed}, t -> named_struct('c', t.c, "
        f"'u', CAST(floor(t.d * t.d * {unit} + 0.5) AS BIGINT)))"
    )
    return (
        ex.crossJoin(F.broadcast(stats))
        .select("vec_id", F.expr(pair).alias("p"), F.size("e").alias("dim"))
        .select(
            "vec_id",
            F.expr("aggregate(p, 0L, (a, s) -> a + s.c)").alias("code_sum"),
            F.expr("aggregate(p, 0L, (a, s) -> a + s.u)").alias("err_units"),
            "dim",
        )
        .select(
            "vec_id", "code_sum", "err_units",
            F.expr(f"(err_units * 1000000000L) div ({unit}L * dim)")
            .alias("mse_x1e9"),
        )
    )


def mmr_rerank(embeddings: DataFrame, queries: DataFrame,
               n_shortlist: int = 8, n_select: int = 4,
               lam_num: int = 7, lam_den: int = 10) -> DataFrame:
    """Maximal-Marginal-Relevance diverse re-ranking (Carbonell &
    Goldstein 1998) — the serving-side diversity pass after any ANN
    lane: per query, greedily pick n_select of the exact top
    n_shortlist, each round maximizing lam*relevance -
    (1-lam)*max-similarity-to-already-picked. Scores live on the ppm
    integer grid scaled by lam_den (7*rel_ppm - 3*maxsim_ppm for the
    default 0.7), ties break on nbr_id, so every pick is deterministic
    and SQL-twin-exact. Returns (query_id, pick, nbr_id, mmr_u).

    Scale shape: the ONLY corpus-sized work is the shortlist pass
    (brute_force_topk here by contract — swap in the IVF/PQ lanes for
    recall/latency trades); everything after operates on
    queries x n_shortlist rows: one self-join for pairwise sims and
    n_select - 1 join+window rounds on that tiny table. Greedy
    selection is inherently sequential in ROUNDS, but each round is a
    full-width DataFrame op — never a per-query driver loop."""
    short = (
        brute_force_topk(embeddings, queries, k=n_shortlist)
        .select("query_id", "nbr_id",
                F.expr("CAST(floor(cosine * 1000000 + 0.5) AS BIGINT)")
                .alias("rel_ppm"))
    )
    semb = short.join(
        embeddings.select(F.col("vec_id").alias("nbr_id"),
                          F.col("embedding").alias("emb"),
                          _norm_col("embedding").alias("nrm")),
        "nbr_id",
    )
    a = semb.select("query_id", F.col("nbr_id").alias("a"),
                    F.col("emb").alias("ea"), F.col("nrm").alias("na"))
    b = semb.select("query_id", F.col("nbr_id").alias("b"),
                    F.col("emb").alias("eb"), F.col("nrm").alias("nb"))
    sims = (
        a.join(b, "query_id")
        .where(F.col("a") != F.col("b"))
        .select(
            "query_id", "a", "b",
            F.expr("CAST(floor(round(aggregate(zip_with(ea, eb, (x, y) -> "
                   "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0d, "
                   "(acc, v) -> acc + v) / (na * nb), 4) * 1000000 + 0.5) "
                   "AS BIGINT)").alias("sim_ppm"),
        )
        .localCheckpoint(eager=False)
    )
    w_rel = Window.partitionBy("query_id").orderBy(
        F.col("rel_ppm").desc(), F.col("nbr_id").asc())
    sel = (
        short.withColumn("_rn", F.row_number().over(w_rel))
        .where(F.col("_rn") == 1)
        .select("query_id", "nbr_id",
                (F.col("rel_ppm") * lam_num).cast("long").alias("mmr_u"),
                F.lit(1).cast("long").alias("pick"))
    )
    for r in range(2, n_select + 1):
        cand = short.join(sel.select("query_id", "nbr_id"),
                          ["query_id", "nbr_id"], "left_anti")
        picked = sel.select("query_id", F.col("nbr_id").alias("_pb"))
        s = sims.select(F.col("query_id").alias("_q"),
                        F.col("a").alias("_a"), F.col("b").alias("_b"),
                        "sim_ppm")
        ms = (
            cand.join(picked, "query_id")
            .join(s, (F.col("query_id") == F.col("_q"))
                  & (F.col("nbr_id") == F.col("_a"))
                  & (F.col("_pb") == F.col("_b")))
            .groupBy("query_id", "nbr_id", "rel_ppm")
            .agg(F.max("sim_ppm").alias("ms"))
        )
        score = (F.col("rel_ppm") * lam_num
                 - F.col("ms") * (lam_den - lam_num)).cast("long")
        w = Window.partitionBy("query_id").orderBy(
            score.desc(), F.col("nbr_id").asc())
        pick = (
            ms.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("query_id", "nbr_id", score.alias("mmr_u"),
                    F.lit(r).cast("long").alias("pick"))
        )
        sel = sel.unionAll(pick).localCheckpoint(eager=False)
    return sel.select("query_id", "pick", "nbr_id", "mmr_u")


def sign_words_expr(dim: int, dialect: str = "spark") -> str:
    """Pack the sign bits of a ``dim``-wide double array column ``e``
    into ceil(dim/63) BIGINT words (63 bits per word — the sign bit is
    never touched) as one literal arithmetic expression, identical
    logic in both dialects."""
    n_words = (dim + 62) // 63
    words = []
    for w in range(n_words):
        terms = []
        for i in range(min(63, dim - w * 63)):
            idx = w * 63 + i + 1
            el = f"element_at(e, {idx})" if dialect == "spark" else f"e[{idx}]"
            terms.append(f"CASE WHEN {el} >= 0 THEN {1 << i} ELSE 0 END")
        words.append("CAST(" + " + ".join(terms) + " AS BIGINT)")
    if dialect == "spark":
        return "array(" + ", ".join(words) + ")"
    return "[" + ", ".join(words) + "]"


def hamming_topk(embeddings: DataFrame, queries: DataFrame, dim: int,
                 k: int = 5) -> DataFrame:
    """Binary-embedding retrieval: sign-binarize every vector into
    63-bit BIGINT words and rank by Hamming distance
    (sum of bit_count(xor) over the words) — the cheap first-stage
    retrieval lane next to cosine/IVF/PQ/SQ (1 bit per dimension
    scanned instead of 4 bytes). Returns
    (query_id, nbr_id, hamming, rank); ties break on nbr_id, all
    arithmetic BIGINT.

    Scale shape: codes are a per-row literal-arithmetic projection
    (no train pass at all); the query side broadcasts; distance is a
    fixed n_words-step integer fold inside whole-stage codegen."""
    pack = sign_words_expr(dim, "spark")

    def coded(df: DataFrame, id_alias: str, w_alias: str) -> DataFrame:
        return df.select(
            F.col("vec_id").alias(id_alias),
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
        ).select(id_alias, F.expr(pack).alias(w_alias))

    corpus = coded(embeddings, "nbr_id", "cw")
    q = F.broadcast(coded(queries, "query_id", "qw"))
    scored = (
        corpus.crossJoin(q)
        .where(F.col("nbr_id") != F.col("query_id"))
        .select(
            "query_id", "nbr_id",
            F.expr("aggregate(zip_with(qw, cw, (x, y) -> "
                   "CAST(bit_count(x ^ y) AS BIGINT)), 0L, (a, v) -> a + v)")
            .alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def ivf_quality(embeddings: DataFrame, n_lists: int = 16,
                codebook: DataFrame | None = None) -> DataFrame:
    """Clustering-quality report for the IVF coarse quantizer — the
    ANALYZE step a serving lane runs before trusting an index build:
    per inverted list, the member count and the mean / worst member
    cosine to the winning centroid (the cosine analogue of k-means
    inertia — this codebook assigns by max cosine, so cohesion is
    measured on the same functional).

    One corpus pass: the same broadcast-codebook argmax as
    ivf_assignments but keeping the winning csim, then ONE combineable
    groupBy on the tiny list table. Each csim is quantized to the 1e-6
    grid as BIGINT before summing (floor(x*1e6+0.5), IEEE-identical in
    Spark and DuckDB), so mean and min are aggregation-order
    independent — the same integer-grid discipline as _ivf_codebook's
    Lloyd means.
    """
    cents = (_ivf_codebook(embeddings, n_lists) if codebook is None
             else codebook)
    scored = (
        embeddings.select("vec_id", "embedding",
                          _norm_col("embedding").alias("vnorm"))
        .crossJoin(F.broadcast(cents))
        .withColumn("csim", _dot("embedding", "cvec")
                    / (F.col("vnorm") * F.col("cnorm")))
    )
    best = (
        scored.groupBy("vec_id")
        .agg(F.expr(
            "max_by(struct(csim, list_id), struct(csim, -list_id))").alias("w"))
        .select(
            F.col("w.list_id").alias("list_id"),
            F.expr("CAST(floor(CAST(w.csim AS DOUBLE) * 1000000.0 + 0.5) "
                   "AS BIGINT)").alias("u"),
        )
    )
    return (
        best.groupBy("list_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"),
             F.sum("u").alias("_s"),
             F.min("u").alias("_m"))
        .select(
            "list_id", "n_members",
            F.expr("CAST(floor((2.0 * _s + n_members) / (2.0 * n_members)) "
                   "AS DOUBLE) / 1000000.0").alias("mean_csim"),
            (F.col("_m").cast("double") / F.lit(1000000.0)).alias("min_csim"),
        )
    )


def knn_graph(embeddings: DataFrame, k: int = 3,
              n_planes: int = 4) -> DataFrame:
    """Mutual k-NN graph construction over LSH buckets — the
    embedding-to-graph bridge (kNN graph -> community detection /
    label propagation is the standard clustering pipeline at corpus
    scale): each vector keeps its ``k`` highest-cosine IN-BUCKET
    neighbors (candidate-graph semantics: the bucket bounds the
    quadratic term exactly as in embedding_near_dups), and an edge
    survives only if BOTH endpoints keep each other (the mutual filter
    that prunes hub attachments).

    One bucketed self-join (per-bucket quadratic, bucket count 2^n_planes
    — at 100 TB raise n_planes so buckets stay executor-sized), one
    per-node top-k window over the candidate rows, one self-join for
    mutuality. Cosines on the 4dp grid with (cosine DESC, nbr ASC)
    tie-break, so the graph is deterministic under any partitioning.
    """
    b = (sign_lsh_buckets(embeddings, n_planes)
         .withColumn("vnorm", _norm_col("embedding"))
         .localCheckpoint(eager=False))  # both sides of the self-join
    pairs = (
        b.alias("x").join(b.alias("y"),
                          (F.col("x.bucket") == F.col("y.bucket"))
                          & (F.col("x.vec_id") != F.col("y.vec_id")))
        .select(
            F.col("x.vec_id").alias("src"), F.col("y.vec_id").alias("dst"),
            F.round(_dot("x.embedding", "y.embedding")
                    / (F.col("x.vnorm") * F.col("y.vnorm")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    topk = (pairs.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= k)
            .select("src", "dst", "cosine")
            .localCheckpoint(eager=False))  # both sides of the mutual join
    return (
        topk.alias("f").join(
            topk.select(F.col("src").alias("dst"),
                        F.col("dst").alias("src")).alias("r"),
            ["src", "dst"])
        .where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"), "cosine")
    )


def rrf_fuse(lists: list, k: int = 5, c: int = 60) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) — the hybrid-search
    combiner every modern retrieval stack runs over its lexical +
    vector lanes: each candidate's fused score is the sum over input
    lists of 1/(c + rank), here on the exact ppm integer grid
    (1000000 DIV (c + rank)) so the fusion is deterministic and
    oracle-checkable; ties break toward the smaller neighbor id.

    Inputs are (query_id, nbr_id, rank) top-k frames from ANY
    retrieval lane (BM25, LSH, IVF, PQ ...). One unionAll + one
    combineable grouped sum + one per-query window over <= |lists|*k
    candidate rows — the fusion cost is bounded by the shortlists,
    never the corpus.
    """
    if not lists:
        raise ValueError("rrf_fuse needs at least one ranked list")
    u = None
    for df in lists:
        part = df.select(
            "query_id", "nbr_id",
            F.expr(f"1000000 DIV ({int(c)} + rank)").cast("long").alias("w"))
        u = part if u is None else u.unionAll(part)
    fused = u.groupBy("query_id", "nbr_id").agg(
        F.sum("w").cast("long").alias("rrf_ppm"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_ppm"), F.asc("nbr_id"))
    return (fused.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "nbr_id", "rrf_ppm",
                    F.col("rank").cast("long").alias("rank")))


def hybrid_recall_eval(embeddings: DataFrame, queries: DataFrame,
                       k: int = 5,
                       codebook: DataFrame | None = None,
                       bf: DataFrame | None = None,
                       lsh: DataFrame | None = None) -> DataFrame:
    """Micro recall@k of THREE retrieval lanes — IVF, sign-LSH, and
    their reciprocal-rank fusion — against the exact brute-force top-k,
    one row per lane: the comparison table that justifies shipping the
    hybrid (RRF can only draw from its input lanes, so its recall vs
    each single lane is the whole argument). recall_ppm is the exact
    micro average total_hits * 1e6 DIV (k * n_queries); every number
    is a BIGINT on the ppm grid.

    The two base shortlists are computed ONCE and reused by the fusion
    (localCheckpoint), so the eval costs two ANN passes + one
    brute-force calibration scan regardless of lane count.
    """
    bf = brute_force_topk(embeddings, queries, k=k) \
        .select("query_id", "nbr_id").localCheckpoint(eager=False)
    ivf = ivf_ann_topk(embeddings, queries, k=k, codebook=codebook) \
        .select("query_id", "nbr_id", "rank").localCheckpoint(eager=False)
    lsh = (lsh_ann_topk(embeddings, queries, k=k)
           if lsh is None else lsh) \
        .select("query_id", "nbr_id", "rank").localCheckpoint(eager=False)
    rrf = rrf_fuse([ivf, lsh], k=k).select("query_id", "nbr_id")
    nq = bf.select("query_id").distinct().count()  # bounded: the query set

    def _row(name, lane):
        return (
            bf.join(lane.select("query_id", "nbr_id"),
                    ["query_id", "nbr_id"], "left_semi")
            .agg(F.lit(name).alias("lane"),
                 F.lit(nq).cast("long").alias("n_queries"),
                 F.count(F.lit(1)).cast("long").alias("total_hits"))
            .withColumn("recall_ppm",
                        F.expr(f"total_hits * 1000000 DIV ({k} * n_queries)")
                        .cast("long"))
        )
    out = _row("ivf", ivf)
    for name, lane in (("lsh", lsh), ("rrf", rrf)):
        out = out.unionAll(_row(name, lane))
    return out


def maxsim_topk(embeddings: DataFrame, group_width: int = 4,
                k: int = 3, query_mod: int = 50) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia
    2020) over multi-vector documents: MaxSim(q, d) = sum over query
    token vectors of the max cosine against d's token vectors. Vectors
    are grouped into pseudo-documents of ``group_width`` consecutive
    vec_ids (group = vec_id DIV width) — the plumbing is exactly what
    a real per-token embedding table needs (group key + token key),
    synthetic only in how the groups are drawn.

    Determinism across engines: each pair cosine stays a raw IEEE
    double (dot/sqrt products are bit-identical), is snapped ONCE to
    the e4 integer grid (floor(c*10000 + 0.5)), and all downstream
    max/sum run on BIGINTs — summing rounded DOUBLES would be
    order-dependent under partitioning and poison the oracle hash.

    Scale shape: query groups are broadcast by contract (the
    brute_force_topk gate); the corpus streams once; per-query maxes
    and sums are combineable grouped aggs; final top-k per query is a
    window over the bounded (queries x corpus-groups) score table.
    The scale path swaps the crossJoin for an LSH/IVF shortlist on
    the token level exactly like pq_ann_rerank_topk."""
    toks = embeddings.select(
        F.expr(f"vec_id DIV {group_width}").cast("long").alias("grp"),
        F.col("vec_id"),
        F.col("embedding"),
        _norm_col("embedding").alias("nrm"),
    )
    qtok = F.broadcast(
        toks.where(F.expr(f"grp % {query_mod} = 0"))
        .select(F.col("grp").alias("qg"), F.col("vec_id").alias("q_tok"),
                F.col("embedding").alias("q_emb"),
                F.col("nrm").alias("q_nrm")))
    best = (
        toks.crossJoin(qtok)
        .where(F.col("grp") != F.col("qg"))
        .select(
            "qg", "q_tok", F.col("grp").alias("dg"),
            F.expr(
                "CAST(floor(aggregate(zip_with(q_emb, embedding, "
                "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                "CAST(0.0 AS DOUBLE), (a, v) -> a + v) "
                "/ (q_nrm * nrm) * 10000 + 0.5) AS BIGINT)"
            ).alias("cos_e4"),
        )
        .groupBy("qg", "q_tok", "dg")
        .agg(F.max("cos_e4").alias("best_e4"))
    )
    scored = best.groupBy("qg", "dg").agg(
        F.sum("best_e4").cast("long").alias("maxsim_e4"))
    w = Window.partitionBy("qg").orderBy(
        F.col("maxsim_e4").desc(), F.col("dg").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(F.col("qg").alias("query_group"),
                F.col("dg").alias("doc_group"), "maxsim_e4", "rank")
    )


def matryoshka_eval(embeddings: DataFrame, queries: DataFrame,
                    k: int = 5, dims: tuple = (64, 32, 16)) -> DataFrame:
    """Matryoshka truncation evaluation (Kusupati et al. 2022): how
    much exact top-k retrieval survives when vectors are cut to their
    leading dims[1:], scored against the full-width (dims[0]) top-k —
    THE sizing read before shipping truncated embeddings to a 100 TB
    ANN index (half the dims = half the index bytes and double the
    scan rate, IF recall holds; MRL-trained encoders hold, PCA-less
    raw ones often don't).

    One corpus pass: a single broadcast-query crossing computes the
    cosine at EVERY width from the same row (prefix dots via
    zip_with over slice — no second scan per width), the per-width
    rankings are per-query windows over that one staged table, and
    recall@k is an equi-join of each truncated ranking against the
    full-width one. Cosines round to 4dp before ranking (the
    emb-lane discipline: float32 parquet -> double is exact, 4dp
    makes rank ties engine-portable; ties break by nbr_id).
    Output: (query_id, dim, n_hit, recall_ppm) per truncated width,
    with the full width riding along as the 1e6 anchor row.
    """
    corpus = embeddings.select(
        F.col("vec_id").alias("nbr_id"), F.col("embedding").alias("nbr_emb"))
    q = F.broadcast(queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")))
    cos_cols = []
    for d in dims:
        dot = (
            f"aggregate(zip_with(slice(q_emb, 1, {d}), slice(nbr_emb, 1, {d}),"
            f" (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        nq = (
            f"sqrt(aggregate(slice(q_emb, 1, {d}), CAST(0.0 AS DOUBLE),"
            f" (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
        )
        nn = (
            f"sqrt(aggregate(slice(nbr_emb, 1, {d}), CAST(0.0 AS DOUBLE),"
            f" (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
        )
        cos_cols.append(
            F.expr(f"round({dot} / ({nq} * {nn}), 4)").alias(f"cos_{d}"))
    scored = (
        corpus.crossJoin(q)
        .where(F.col("nbr_id") != F.col("query_id"))
        .select("query_id", "nbr_id", *cos_cols)
        .localCheckpoint(eager=False)  # ONE crossing feeds every width
    )

    def _topk(d: int) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.desc(f"cos_{d}"), F.asc("nbr_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "nbr_id")
        )

    full = _topk(dims[0]).localCheckpoint(eager=False)
    out = None
    for d in dims:
        hits = (
            (_topk(d) if d != dims[0] else full)
            .join(full, ["query_id", "nbr_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
            .select(
                "query_id", F.lit(d).cast("long").alias("dim"), "n_hit",
                F.expr(f"n_hit * 1000000 div {k}").cast("long")
                .alias("recall_ppm"),
            )
        )
        out = hits if out is None else out.unionAll(hits)
    return out


def silhouette_report(embeddings: DataFrame, n_lists: int = 16,
                      codebook: DataFrame | None = None) -> DataFrame:
    """Centroid-silhouette report for the IVF coarse quantizer — the
    SEPARATION read next to ivf_quality's cohesion: per vector, the
    simplified silhouette s = (b - a) / max(a, b) with a = cosine
    distance to the OWN centroid and b = to the runner-up centroid
    (Rousseeuw's per-point formula with centroid distances standing in
    for mean member distances — the O(n*k) form that scales where the
    O(n^2) exact silhouette cannot). A list whose mean silhouette
    sits near 0 is not separated from its nearest neighbor list —
    nprobe recall there is luck, not structure.

    Both cosines quantize ONCE onto the 1e-6 BIGINT grid (u =
    floor(csim * 1e6 + 0.5), the ivf_quality discipline), and because
    a = 1e6 - u1 <= b = 1e6 - u2 by construction, s reduces to
    sil_ppm = (u1 - u2) * 1e6 div (1e6 - u2) — pure integer
    arithmetic, aggregation-order independent, bit-identical to the
    single-threaded oracle.

    One corpus pass: the same broadcast-codebook crossing as
    ivf_assignments, the top-2 kept per vector by one grouped
    sort_array over the n_lists-sized struct list (no corpus-wide
    window), then one combineable rollup on the tiny list table."""
    cents = (_ivf_codebook(embeddings, n_lists) if codebook is None
             else codebook)
    scored = (
        embeddings.select("vec_id", "embedding",
                          _norm_col("embedding").alias("vnorm"))
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id", "list_id",
            (_dot("embedding", "cvec")
             / (F.col("vnorm") * F.col("cnorm"))).alias("csim"),
        )
    )
    two = (
        scored.groupBy("vec_id")
        # (csim DESC, list_id ASC) — the ivf_assignments argmax
        # tie-break, encoded as sort_array desc over (csim, -list_id)
        .agg(F.expr(
            "slice(sort_array(collect_list("
            "struct(csim, -list_id AS nl, list_id)), false), 1, 2)")
            .alias("t"))
        .select(
            F.expr("t[0].list_id").alias("list_id"),
            F.expr("CAST(floor(CAST(t[0].csim AS DOUBLE) * 1000000.0 + 0.5)"
                   " AS BIGINT)").alias("u1"),
            F.expr("CAST(floor(CAST(t[1].csim AS DOUBLE) * 1000000.0 + 0.5)"
                   " AS BIGINT)").alias("u2"),
        )
        .select(
            "list_id",
            F.expr("(u1 - u2) * 1000000 DIV greatest(1, 1000000 - u2)")
            .cast("long").alias("sil"),
        )
    )
    return (
        two.groupBy("list_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"),
             F.sum("sil").alias("_s"),
             F.min("sil").cast("long").alias("min_sil_ppm"))
        .select(
            "list_id", "n_members",
            F.expr("_s DIV n_members").cast("long").alias("mean_sil_ppm"),
            "min_sil_ppm",
        )
    )


def dim_stats(embeddings: DataFrame, dim: int = 64) -> DataFrame:
    """Per-dimension distribution report over the embedding corpus —
    the ANALYZE table a vector-index build publishes before choosing a
    truncation width (the emb_matryoshka decision input) or an OPQ
    rotation: for each dimension, count / mean / variance / min / max
    plus the dimension's share of total variance and the cumulative
    energy share in descending-variance order ("the top-k dims hold
    p% of the energy" — the Matryoshka truncation curve's analytic
    twin).

    Determinism discipline: values ride the 1e-3 BIGINT grid
    (floor(x*1000+0.5) — float32 inputs are exact in double, so the
    grid is engine-independent); per-dim sums and the variance
    numerator n*Σu² − (Σu)² stay BIGINT (exact to ~1e9 vectors at
    |x|<=3 — beyond that swap the sums to decimal); mean, variance and
    the shares are each ONE double division of exact BIGINTs, rounded
    6dp (the predicate_profile discipline — sign-safe, unlike the
    integer-DIV mean grid, since per-dim means can be negative).

    Scale shape: one corpus scan, posexplode into (dim, u), ONE
    map-side-combined groupBy on ``dim`` rows; the share windows run
    over the dim-row table (64 rows), never the corpus.
    """
    e = embeddings.select(
        F.posexplode(F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
            " * 1000 + 0.5) AS BIGINT))")).alias("dim", "u"))
    agg = (
        e.groupBy(F.col("dim").cast("long").alias("dim"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"),
             F.sum("u").cast("long").alias("_s"),
             F.sum(F.col("u") * F.col("u")).cast("long").alias("_s2"),
             F.min("u").cast("long").alias("_mn"),
             F.max("u").cast("long").alias("_mx"))
        .withColumn("_var_num",
                    F.col("n_vectors") * F.col("_s2")
                    - F.col("_s") * F.col("_s"))
    )
    # windows over the 64-row dim table only (single partition is fine)
    w_all = Window.partitionBy(F.lit(1))
    w_cum = (Window.partitionBy(F.lit(1))
             .orderBy(F.desc("_var_num"), F.asc("dim"))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        agg.withColumn("_tot", F.sum("_var_num").over(w_all))
        .withColumn("_cum", F.sum("_var_num").over(w_cum))
        .select(
            "dim", "n_vectors",
            F.round(F.col("_s").cast("double") / F.col("n_vectors")
                    / F.lit(1000.0), 6).alias("mean_val"),
            F.round(F.col("_var_num").cast("double")
                    / F.col("n_vectors") / F.col("n_vectors")
                    / F.lit(1000000.0), 6).alias("var_val"),
            (F.col("_mn") / F.lit(1000.0)).alias("min_val"),
            (F.col("_mx") / F.lit(1000.0)).alias("max_val"),
            F.round(F.col("_var_num").cast("double") / F.col("_tot"), 6)
            .alias("var_share"),
            F.round(F.col("_cum").cast("double") / F.col("_tot"), 6)
            .alias("cum_share"),
        )
    )


def quantize_int8_audit(embeddings: DataFrame, dim: int = 64) -> DataFrame:
    """Per-dimension symmetric int8 quantization audit — the
    compression report a vector store publishes before flipping a
    64-dim float corpus to 1-byte codes (16x smaller scans than the
    raw floats, 2x smaller than PQ-free float16): per dim, the
    absmax scale, how many codes saturate at ±127, and the mean
    absolute reconstruction error.

    Determinism discipline: inputs ride the 1e-3 BIGINT grid u =
    floor(x*1000+0.5) (the dim_stats pattern); the code is the
    half-up rounding of 127*u/amax computed entirely in BIGINT on the
    SHIFTED non-negative value — code = (254*(u+amax) + amax) DIV
    (2*amax) − 127 — so Spark's truncating DIV and DuckDB's flooring
    // agree (operands never negative); the reconstruction error
    numerator |127*u − code*amax| stays BIGINT and the mean rides the
    micro grid via one tie-free DIV. Zero floats anywhere.

    Scale shape: one posexplode scan feeds a 64-row per-dim absmax
    agg, which broadcast-joins back onto a second scan for the code
    pass — two columnar scans of one array column, both groupBys
    map-side combined, no corpus-sized shuffle or window.
    """
    e = embeddings.select(
        F.posexplode(F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
            " * 1000 + 0.5) AS BIGINT))")).alias("dim", "u"))
    amax = e.groupBy("dim").agg(
        F.greatest(F.max(F.abs(F.col("u"))), F.lit(1)).cast("long")
        .alias("amax_u"))
    coded = (
        e.join(F.broadcast(amax), "dim")
        .withColumn("code",
                    F.expr("CAST((254 * (u + amax_u) + amax_u)"
                           " DIV (2 * amax_u) AS BIGINT) - 127"))
        .withColumn("err127",
                    F.abs(F.lit(127) * F.col("u")
                          - F.col("code") * F.col("amax_u")))
    )
    return (
        coded.groupBy(F.col("dim").cast("long").alias("dim"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"),
             F.min("amax_u").cast("long").alias("amax_u"),
             F.sum((F.abs(F.col("code")) == 127).cast("int")).cast("long")
             .alias("n_saturated"),
             F.sum("err127").cast("long").alias("_se"))
        .select(
            "dim", "n_vectors", "amax_u", "n_saturated",
            F.expr("CAST((n_saturated * 1000000) DIV n_vectors AS BIGINT)")
            .alias("sat_ppm"),
            F.expr("CAST((2000 * _se + 127 * n_vectors)"
                   " DIV (2 * 127 * n_vectors) AS BIGINT)")
            .alias("mean_abs_err_micro"),
        )
    )


def cov_topk(embeddings: DataFrame, dim: int = 64,
             k: int = 20) -> DataFrame:
    """Top-k strongest off-diagonal covariances between embedding
    dimensions — the redundancy readout behind OPQ-style rotation and
    dimension-drop decisions (dim_stats reports the diagonal; this is
    the cross-talk). Per pair (d1 < d2): the exact covariance
    numerator n*S12 − S1*S2 on DECIMAL(38,0) from 1e-3-grid inputs,
    ranked by absolute magnitude with a (d1, d2) tiebreak; cov itself
    is ONE double division rounded 6dp.

    Scale shape: one posexplode scan self-joined on vec_id (fan-out
    dim^2/2 per vector — the by-contract exact path; at extreme scale
    the same sums come from a mapInPandas per-partition Gram partial
    of dim x dim, which this operator's grids port to unchanged), one
    map-side-combined groupBy on dim^2/2 pair rows, and a TakeOrdered
    top-k on the unique (|cov| DESC, d1, d2) order.
    """
    e = embeddings.select(
        "vec_id",
        F.posexplode(F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
            " * 1000 + 0.5) AS BIGINT))")).alias("dim", "u"))
    a = e.select("vec_id", F.col("dim").alias("d1"), F.col("u").alias("u1"))
    b = e.select("vec_id", F.col("dim").alias("d2"), F.col("u").alias("u2"))
    dec = "DECIMAL(38,0)"
    pairs = (
        a.join(b, "vec_id")
        .where(F.col("d1") < F.col("d2"))
        .groupBy(F.col("d1").cast("long").alias("d1"),
                 F.col("d2").cast("long").alias("d2"))
        .agg(F.count(F.lit(1)).cast(dec).alias("n"),
             F.sum("u1").cast(dec).alias("s1"),
             F.sum("u2").cast(dec).alias("s2"),
             F.sum(F.col("u1").cast(dec) * F.col("u2")).cast(dec)
             .alias("s12"))
        .withColumn("cov_num", F.expr("n * s12 - s1 * s2"))
    )
    return (
        pairs.select(
            "d1", "d2", F.col("n").cast("long").alias("n_vectors"),
            F.round(F.expr("CAST(cov_num AS DOUBLE)")
                    / F.col("n").cast("double") / F.col("n").cast("double")
                    / F.lit(1000000.0), 6).alias("cov"),
            F.abs(F.col("cov_num")).alias("_a"),
        )
        .orderBy(F.col("_a").desc(), F.col("d1").asc(), F.col("d2").asc())
        .limit(k)
        .drop("_a")
    )


def knn_label_purity(embeddings: DataFrame, sample_n: int = 64) -> DataFrame:
    """1-NN label-purity diagnostic — the embedding-space quality
    probe behind "are same-label points actually neighbors?": for an
    md5-stable sample of query vectors, find each one's exact nearest
    other vector (cosine) and roll up per label how often the
    neighbor's label agrees. Low purity on a label means its region
    is entangled and every ANN lane will misroute it.

    Contract: the query side is a bounded TakeOrdered sample
    (md5(vec_id) order — deterministic, distribution-blind) and
    BROADCASTS; the corpus side streams once with no shuffle (the
    brute_force_topk shape). This is an offline diagnostic by
    contract — the serving path stays IVF/LSH/PQ. Ranking
    determinism: cosine rounded to 4dp with an nbr_id tiebreak, the
    corpus discipline.
    """
    q = F.broadcast(
        embeddings.select("vec_id", "embedding", "label")
        .orderBy(F.md5(F.col("vec_id").cast("string")).asc(),
                 F.col("vec_id").asc())
        .limit(int(sample_n))
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("q_emb"),
                F.col("label").alias("q_label"),
                _norm_col("embedding").alias("q_norm"))
    )
    corpus = embeddings.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("embedding").alias("nbr_emb"),
        F.col("label").alias("nbr_label"),
        _norm_col("embedding").alias("nbr_norm"),
    )
    scored = (
        corpus.crossJoin(q)
        .where(F.col("nbr_id") != F.col("query_id"))
        .withColumn("cosine",
                    F.round(_dot("q_emb", "nbr_emb")
                            / (F.col("q_norm") * F.col("nbr_norm")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("nbr_id"))
    nn = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") == 1)
        .select("query_id", "q_label", "nbr_label")
    )
    return (
        nn.groupBy(F.col("q_label").cast("long").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_queries"),
             F.sum(F.expr("CAST(q_label = nbr_label AS INT)")).cast("long")
             .alias("n_match"))
        .withColumn("purity_ppm",
                    F.expr("CAST((n_match * 1000000) DIV n_queries"
                           " AS BIGINT)"))
    )


def norm_outliers(embeddings: DataFrame, k: int = 20) -> DataFrame:
    """Vector-norm outlier screen — the ingest-hygiene probe a vector
    store runs on every batch: rows whose L2 norm sits far from the
    corpus distribution are almost always pipeline defects (zeroed
    rows, double-scaled rows, wrong-model rows), and they poison both
    ANN recall and any cosine threshold. Reports the top-k vectors by
    |z| of the SQUARED norm (squared stays on the exact BIGINT grid;
    the monotone map preserves the outlier ranking) with a vec_id
    tiebreak.

    Determinism: norm2 = sum(u^2) is BIGINT on the 1e-3 input grid;
    corpus moments ride DECIMAL(38,0); z is ONE double expression of
    exact decimals rounded 6dp; ranking keys on the exact BIGINT
    |n*norm2 − sum| distance (not the rounded z), so ties are
    integer-exact. Scale shape: one in-row aggregate per vector (no
    explode), a 1-row broadcast moment agg, a TakeOrdered top-k.
    """
    per = embeddings.select(
        "vec_id", "label",
        F.expr(
            "aggregate(transform(embedding, x -> CAST(floor("
            "CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)),"
            " CAST(0 AS BIGINT), (acc, u) -> acc + u * u)")
        .alias("norm2"),
    ).localCheckpoint(eager=False)  # feeds moments AND ranking
    dec = "DECIMAL(38,0)"
    mom = F.broadcast(per.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("norm2").cast(dec).alias("s"),
        F.sum(F.col("norm2").cast(dec) * F.col("norm2")).cast(dec)
        .alias("s2"),
    ))
    return (
        per.crossJoin(mom)
        .select(
            "vec_id", F.col("label").cast("long").alias("label"), "norm2",
            F.expr("abs(CAST(n AS DECIMAL(38,0)) * norm2 - s)")
            .alias("_dist"),
            F.round(F.expr(
                "CASE WHEN CAST(n * s2 - s * s AS DOUBLE) > 0 THEN"
                " CAST(CAST(n AS DECIMAL(38,0)) * norm2 - s AS DOUBLE)"
                " / sqrt(CAST(n * s2 - s * s AS DOUBLE))"
                " ELSE 0.0 END"), 6).alias("z"),
        )
        .orderBy(F.col("_dist").desc(), F.col("vec_id").asc())
        .limit(k)
        .drop("_dist")
    )


def centroid_drift(embeddings: DataFrame) -> DataFrame:
    """Split-half embedding drift monitor: per-dimension centroid shift
    between the vec_id-parity halves of the corpus — the ingest-hygiene
    probe that catches a model-version mixup or a renormalization
    mid-feed (a healthy homogeneous corpus drifts ~0 on every
    dimension; a two-model corpus shows a coherent per-dim offset).

    Parity is a deterministic stand-in for the ingest-batch column a
    production feed carries (swap ``vec_id % 2`` for the batch id).
    Values ride the 1e-3 BIGINT grid; per-arm sums are
    map-side-combined conditional BIGINTs in ONE grouped aggregate
    (one corpus pass, no self-join); each mean and the shift are
    double expressions of exact integers rounded 6dp (sign-safe — the
    dim_stats double-division discipline)."""
    e = embeddings.select(
        (F.col("vec_id") % 2).cast("int").alias("arm"),
        F.posexplode(F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
            " * 1000 + 0.5) AS BIGINT))")).alias("dim", "u"))
    agg = (
        e.groupBy(F.col("dim").cast("long").alias("dim"))
        .agg(F.sum(F.expr("CAST(arm = 0 AS INT)")).cast("long").alias("n_a"),
             F.sum(F.expr("CAST(arm = 1 AS INT)")).cast("long").alias("n_b"),
             F.sum(F.expr("CAST(arm = 0 AS INT) * u")).cast("long")
             .alias("s_a"),
             F.sum(F.expr("CAST(arm = 1 AS INT) * u")).cast("long")
             .alias("s_b"))
    )
    mean_a = "CAST(s_a AS DOUBLE) / n_a / 1000.0"
    mean_b = "CAST(s_b AS DOUBLE) / n_b / 1000.0"
    return agg.select(
        "dim", "n_a", "n_b",
        F.round(F.expr(mean_a), 6).alias("mean_a"),
        F.round(F.expr(mean_b), 6).alias("mean_b"),
        F.round(F.expr(f"{mean_b} - ({mean_a})"), 6).alias("shift"),
    )


def top_eigen(embeddings: DataFrame, iters: int = 8) -> DataFrame:
    """Leading principal component of the embedding covariance matrix
    via INTEGER-GRID power iteration — the PCA readout behind OPQ
    rotation, whitening, and "is one direction eating the variance?"
    health checks, computed so that two engines agree bit-for-bit.

    Derivation: the exact covariance numerator n*S12 − S1*S2 per dim
    pair on DECIMAL(38,0) from 1e-3-grid inputs (the cov_topk
    formula, full matrix incl. diagonal), snapped to the micro grid
    (round(cov * 1e6) — one int->double conversion below 2^53 and a
    floor(x+0.5), deterministic everywhere). Power iteration then
    NEVER leaves BIGINT: v0 = 1e6 on every dim; each round w = C·v
    (|w| <= 64 * 1e6 * 1e6 ~ 6e13, no overflow), renormalized as
    w DIV max(|w| DIV 1e6, 1) back onto the ~1e6 grid — truncating
    integer division, identical in Spark DIV and DuckDB //. The
    eigenvalue is a Rayleigh quotient of exact integers (v DIV 1000
    against the final un-normalized w) with ONE double division at
    the end; eig_share divides by the exact BIGINT trace.

    Scale shape: one posexplode scan self-joined on vec_id for the
    Gram sums (the cov_topk contract — at extreme scale the same sums
    come from a per-partition mapInPandas Gram partial); the dim x dim
    matrix is then a BOUNDED driver collect (dim² rows — 4096 here —
    independent of corpus size, the pq_codebooks bounded-collect
    discipline) and the iteration runs as exact Python-int arithmetic
    on it. Measured why: expressing the 9 tiny join+agg rounds as
    DataFrame ops costs 13.5 s of Catalyst compile (lazy checkpoints)
    or 9 sequential job launches (eager) for 0.7 s of actual work —
    the solve is driver-sized by construction, only the Gram pass
    scales. The two final double divisions (eig, eig_share) run
    IN-ENGINE over the literal integers so round() semantics stay the
    engine's own."""
    # dim-pair expansion WITHOUT a self-join: stage the grid array once,
    # explode twice (narrow, per-partition generation), and let the
    # map-side combine reduce the dim^2 fan-out to dim^2 partials per
    # task — the only shuffle is those partials. The cov_topk self-join
    # shape moves the full n x dim^2 row set through an exchange; this
    # one never does (measured 13 s -> ~3 s at sf0.01, local[32]).
    va = embeddings.select(F.expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
        " * 1000 + 0.5) AS BIGINT))").alias("va"))
    e = va.select("va", F.posexplode("va").alias("i", "u1"))
    pairs_src = e.select("i", "u1", F.posexplode("va").alias("j", "u2"))
    dec = "DECIMAL(38,0)"
    cov = (
        pairs_src
        .groupBy(F.col("i").cast("long").alias("i"),
                 F.col("j").cast("long").alias("j"))
        .agg(F.count(F.lit(1)).cast(dec).alias("n"),
             F.sum("u1").cast(dec).alias("s1"),
             F.sum("u2").cast(dec).alias("s2"),
             F.sum(F.col("u1").cast(dec) * F.col("u2")).cast(dec)
             .alias("s12"))
        .select("i", "j", F.expr(
            "CAST(floor(CAST(n * s12 - s1 * s2 AS DOUBLE)"
            " / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) AS BIGINT)")
            .alias("cv"))
    )
    # bounded by contract: dim^2 rows, independent of corpus size
    mat = cov.collect()
    dims = sorted({r["i"] for r in mat})
    C = {(r["i"], r["j"]): r["cv"] for r in mat}

    def tdiv(num: int, den: int) -> int:
        # truncating integer division — Spark DIV / DuckDB // semantics
        # (Python // floors, which differs on negatives)
        quot = abs(num) // abs(den)
        return quot if (num >= 0) == (den >= 0) else -quot

    v = {d: 1000000 for d in dims}
    for _ in range(int(iters)):
        w = {i: sum(C[i, j] * v[j] for j in dims) for i in dims}
        m = max(max(abs(x) for x in w.values()) // 1000000, 1)
        v = {i: tdiv(w[i], m) for i in dims}
    w = {i: sum(C[i, j] * v[j] for j in dims) for i in dims}
    rn = sum(tdiv(v[i], 1000) * w[i] for i in dims)
    rd = sum(tdiv(v[i], 1000) ** 2 for i in dims)
    trace = sum(C[d, d] for d in dims)
    out = local_frame(
        embeddings.sparkSession,
        [(int(d), int(v[d]), int(rn), int(rd), int(trace)) for d in dims],
        "dim long, component_micro long, rn long, rd long, trace long")
    # rd = 0 only when the iterate degenerated to the zero vector
    # (v0 exactly orthogonal to the dominant eigenvector — measure-zero
    # on real data); pin the readout to 0.0 rather than inheriting
    # engine-specific NaN/NULL division semantics.
    return out.select(
        "dim", "component_micro",
        F.round(F.expr(
            "CASE WHEN rd = 0 THEN CAST(0.0 AS DOUBLE)"
            " ELSE CAST(rn AS DOUBLE) / rd / 1000.0 / 1000000.0 END"), 6)
        .alias("eig"),
        F.round(F.expr(
            "CASE WHEN rd = 0 OR trace = 0 THEN CAST(0.0 AS DOUBLE)"
            " ELSE CAST(rn AS DOUBLE) / rd / 1000.0 / CAST(trace AS DOUBLE)"
            " END"), 6).alias("eig_share"))


def rademacher_planes(dim: int, n_planes: int = 16, seed: int = 7):
    """Seeded ±1 (Rademacher) projection rows — Achlioptas 2001's
    database-friendly Johnson–Lindenstrauss family: integer entries,
    so projections of grid-snapped vectors stay EXACT BIGINTs and the
    identical literals embed in a SQL oracle."""
    import numpy as np

    rs = np.random.RandomState(seed)
    return np.where(rs.random_sample((n_planes, dim)) < 0.5, -1, 1)


def int_plane_sql(plane, d: str = "spark") -> str:
    """±1 plane as a BIGINT array literal for either engine."""
    if d == "spark":
        return "array(" + ", ".join(f"{int(v)}L" for v in plane.tolist()) + ")"
    return "[" + ", ".join(str(int(v)) for v in plane.tolist()) + "]"


def jl_distortion(embeddings: DataFrame, dim: int | None = None,
                  n_proj: int = 16, sample_n: int = 32,
                  seed: int = 7) -> DataFrame:
    """Johnson–Lindenstrauss distortion audit: how faithfully a
    ``n_proj``-dim Rademacher projection preserves pairwise squared
    distances — the go/no-go measurement before swapping a reduced
    width into an ANN lane (E[proj_dist² / n_proj] = dist² for ±1
    planes). Entirely on the integer grid: 1e-3 u-vectors, ±1 plane
    literals in the plan, both distances exact BIGINT sums, the
    per-pair fidelity one BIGINT DIV on the ppm grid (1e6 = perfect).

    Contract: the audited pairs come from an md5-ordered TakeOrdered
    sample (``sample_n`` vectors, all pairs within — bounded,
    distribution-blind, the IVF sample discipline); projection runs
    on the sample only, because the audit is the product, not the
    projected corpus. Identical-vector pairs (d² = 0) pin to the
    perfect 1e6 rather than dividing by zero."""
    planes = rademacher_planes(
        int(dim) if dim else _infer_dim(embeddings), n_proj, seed)
    grid = ("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
            " * 1000 + 0.5) AS BIGINT))")
    proj = ", ".join(
        f"aggregate(zip_with(va, {int_plane_sql(p)}, (x, s) -> x * s),"
        f" CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        for p in planes)
    s = (embeddings
         .select("vec_id", F.expr(grid).alias("va"),
                 F.expr("md5(CAST(vec_id AS STRING))").alias("mk"))
         .orderBy("mk")
         .limit(int(sample_n))
         .select("vec_id", "va", F.expr(f"array({proj})").alias("y")))
    a = s.select(F.col("vec_id").alias("vec_a"), F.col("va").alias("va_a"),
                 F.col("y").alias("y_a"))
    b = s.select(F.col("vec_id").alias("vec_b"), F.col("va").alias("va_b"),
                 F.col("y").alias("y_b"))
    scored = (
        F.broadcast(a).crossJoin(F.broadcast(b))
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a", "vec_b",
            F.expr("aggregate(zip_with(va_a, va_b,"
                   " (x, y) -> (x - y) * (x - y)),"
                   " CAST(0 AS BIGINT), (acc, v) -> acc + v)")
            .alias("d2_grid"),
            F.expr("aggregate(zip_with(y_a, y_b,"
                   " (x, y) -> (x - y) * (x - y)),"
                   " CAST(0 AS BIGINT), (acc, v) -> acc + v)")
            .alias("pj2_grid"))
    )
    return scored.select(
        "vec_a", "vec_b", "d2_grid", "pj2_grid",
        F.expr(f"CASE WHEN d2_grid = 0 THEN CAST(1000000 AS BIGINT)"
               f" ELSE pj2_grid * 1000000 DIV ({int(n_proj)} * d2_grid)"
               f" END").cast("long").alias("ratio_ppm"))


def _infer_dim(embeddings: DataFrame) -> int:
    """Embedding width from the first row — driver-side, one row."""
    row = embeddings.select(F.size("embedding").alias("d")).first()
    return int(row["d"]) if row else 0


def label_reliability(embeddings: DataFrame, sample_n: int = 32) -> DataFrame:
    """Cosine-to-same-label reliability curve — the metric-learning
    health readout ("does higher cosine actually mean same class?")
    behind every ANN-powered labeling or semi-supervised lane: bin
    pairwise cosines (rounded 4dp, the LSH ranking discipline) into
    ten width-0.2 buckets over [-1, 1] (cos = 1.0 clamps into the top
    bucket) and report the pair count and exact same-label rate (ppm)
    per bucket.

    Contract: pairs come from an md5-ordered TakeOrdered sample
    (bounded, distribution-blind — the jl_distortion discipline); the
    curve is the product, not the pairing, so the quadratic stays on
    sample_n² / 2 rows."""
    s = (embeddings
         .select("vec_id", "embedding", "label",
                 F.expr("md5(CAST(vec_id AS STRING))").alias("mk"))
         .orderBy("mk")
         .limit(int(sample_n))
         .select("vec_id", "embedding", "label",
                 _norm_col("embedding").alias("nrm")))
    a = s.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"),
                 F.col("label").alias("la"), F.col("nrm").alias("na"))
    b = s.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"),
                 F.col("label").alias("lb"), F.col("nrm").alias("nb"))
    pairs = (
        F.broadcast(a).crossJoin(F.broadcast(b))
        .where(F.col("va") < F.col("vb"))
        .select(
            F.round(_dot("ea", "eb") / (F.col("na") * F.col("nb")), 4)
            .alias("cosine"),
            (F.col("la") == F.col("lb")).cast("int").alias("same"))
    )
    return (
        pairs
        .select(F.expr("CAST(least(9, floor((cosine + 1.0) / 0.2)) AS BIGINT)")
                .alias("bucket"), "same")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
             F.sum("same").cast("long").alias("n_same"))
        .select("bucket", "n_pairs", "n_same",
                F.expr("n_same * 1000000 DIV n_pairs").cast("long")
                .alias("same_ppm"))
    )


def mahalanobis_outliers(embeddings: DataFrame, dim: int = 64,
                         k: int = 5) -> DataFrame:
    """Per-label diagonal-covariance Mahalanobis OOD screen — the
    label-conditioned companion to norm_outliers' global L2 screen
    and knn_purity's neighborhood probe: for each labeled vector,
    score_d = Σ_d (x_d − μ_d)² / σ²_d against ITS OWN label's
    per-dimension statistics, and report the top-``k`` most atypical
    vectors per label (mislabel / contamination review queue).

    Determinism discipline: values ride the 1e-3 BIGINT grid; per-
    (label, dim) sums stay BIGINT; each dimension's term uses the
    n-scaled identity (x−μ)²/σ² = (n·x−S)² / (n·S2−S²) as a BIGINT
    milli-grid integer division, so the per-vector score is an
    ORDER-INDEPENDENT BIGINT sum over dims (no double accumulation
    across dimensions anywhere). Magnitude: (n·x)²·1000 needs
    n·|x|·√1000 < 3·10⁹ — exact to ~10⁶ vectors per label at |x|≤3;
    beyond that port the term to decimal(38,0) unchanged.

    Scale shape: one posexplode corpus scan feeds the (label, dim)
    stats (map-side combined, labels×dims rows) which join back
    BROADCAST; the score is one grouped BIGINT sum per vector; the
    top-k window sorts per label on (score DESC, vec_id) — swap for
    per-label TakeOrdered if labels are few and vectors are billions.
    """
    e = embeddings.select(
        "vec_id", "label",
        F.posexplode(F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
            " * 1000 + 0.5) AS BIGINT))")).alias("dm", "u"))
    stats = (
        e.groupBy("label", "dm")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("u").cast("long").alias("s"),
             F.sum(F.col("u") * F.col("u")).cast("long").alias("s2"))
        .withColumn("var_num", F.expr("n * s2 - s * s"))
    )
    scored = (
        e.join(F.broadcast(stats), ["label", "dm"])
        .withColumn("term_milli", F.expr(
            "CASE WHEN var_num > 0 THEN"
            " (n * u - s) * (n * u - s) * 1000 DIV var_num"
            " ELSE 0 END").cast("long"))
        .groupBy("vec_id", "label")
        .agg(F.sum("term_milli").cast("long").alias("score_milli"))
    )
    w = (Window.partitionBy("label")
         .orderBy(F.col("score_milli").desc(), F.col("vec_id").asc()))
    return (
        scored
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select(F.col("label").cast("long").alias("label"),
                "vec_id", "score_milli", "rk")
    )


def ndcg_weights(k: int = 5) -> list:
    """Integer NDCG discount table: w_r = round(1e6 / log2(r+1)) for
    rank r = 1..k. The single transcendental (log2) is evaluated ONCE
    here in driver Python and baked into both engines' plans as
    integer literals, so the DCG sums are exact BIGINT arithmetic —
    the same plan-literal discipline as the LSH plane constants."""
    import math

    return [round(1_000_000 / math.log2(r + 1)) for r in range(1, k + 1)]


def ann_ndcg_eval(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                  n_lists: int = 16, nprobe: int = 2,
                  codebook: DataFrame | None = None) -> DataFrame:
    """NDCG@k of the IVF ANN lane with label-match relevance — the
    position-sensitive companion of ann_recall_eval: recall@k treats
    every slot equally, NDCG pays more for relevant neighbors ranked
    early (w_r = 1/log2(r+1) on the integer unit grid), which is the
    metric that actually moves when an ANN index starts returning the
    right set in the wrong order.

    rel(q, nbr) = 1 iff label(nbr) == label(q). IDCG uses the true
    ideal: the prefix-sum of the first min(k, R) weights where R is
    the corpus count of same-label vectors excluding the query itself
    (so a query from a tiny label class is not penalized for an
    unfillable top-k). ndcg_ppm = dcg * 1e6 div idcg, one integer
    division per query.

    Scale shape: the IVF lane is the production search path; labels
    join in by vec_id (co-partitioned equi-joins); the per-label
    corpus counts are a map-side-combined groupBy broadcast back onto
    the query side. No doubles beyond the IVF lane's own cosine.
    """
    wts = ndcg_weights(k)
    prefix = [sum(wts[: i + 1]) for i in range(k)]
    lab = embeddings.select("vec_id", F.col("label").cast("long").alias("label"))
    lcnt = lab.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    qside = (
        queries.select(F.col("vec_id").alias("query_id"),
                       F.col("label").cast("long").alias("qlabel"))
        .join(F.broadcast(lcnt), F.col("qlabel") == F.col("label"))
        .select("query_id", "qlabel", (F.col("cnt") - 1).alias("r_total"))
    )
    wt = F.element_at(F.array(*[F.lit(w) for w in wts]), F.col("rank").cast("int"))
    hits = (
        ivf_ann_topk(embeddings, queries, k=k, n_lists=n_lists, nprobe=nprobe,
                     codebook=codebook)
        .join(lab.select(F.col("vec_id").alias("nbr_id"),
                         F.col("label").alias("nlabel")), "nbr_id")
        .join(qside, "query_id")
        .select(
            "query_id", "qlabel", "r_total",
            F.when(F.col("nlabel") == F.col("qlabel"), F.lit(1))
            .otherwise(F.lit(0)).alias("rel"),
            wt.alias("wt"),
        )
    )
    # greatest(1, .) keeps the array index valid when r_total = 0 (a
    # singleton label class); the surrounding when() zeroes that row out
    idcg = F.element_at(
        F.array(*[F.lit(p) for p in prefix]),
        F.greatest(F.lit(1), F.least(F.lit(k), F.col("r_total"))).cast("int"))
    return (
        hits.groupBy("query_id", "qlabel", "r_total")
        .agg(F.sum(F.col("rel") * F.col("wt")).cast("long").alias("dcg_units"),
             F.sum("rel").cast("long").alias("n_rel_at_k"))
        .select(
            "query_id", F.col("qlabel").alias("label"), "n_rel_at_k",
            "dcg_units",
            F.when(F.col("r_total") >= 1, idcg).otherwise(F.lit(0))
            .cast("long").alias("idcg_units"),
        )
        .withColumn(
            "ndcg_ppm",
            F.when(F.col("idcg_units") > 0,
                   F.expr("dcg_units * 1000000 div idcg_units"))
            .otherwise(F.lit(0)).cast("long"),
        )
    )


def ivf_nprobe_curve(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                     n_lists: int = 16, nprobes=(1, 2, 4),
                     codebook: DataFrame | None = None,
                     bf: DataFrame | None = None) -> DataFrame:
    """The nprobe tuning curve for the IVF lane — recall@k at several
    probe budgets from ONE index build and ONE scored candidate set:
    the table an ANN-tuning decision actually reads (recall climbs
    with nprobe while scan cost grows ~ nprobe/n_lists), the ANN-lane
    analogue of kg_blocking_curve's band-count trade-off.

    One-pass construction: probes are ranked once up to max(nprobes)
    with their probe rank kept as a column, candidates are scored once
    against that superset, and each curve point re-ranks the SAME
    checkpointed scored table filtered to prank <= nprobe — the index
    is never rebuilt and the corpus is never re-scanned per point.
    Recall is sum-of-hits over the brute-force top-k on the ppm grid
    (one integer division per row).
    """
    cents = (_ivf_codebook(embeddings, n_lists) if codebook is None
             else codebook)
    assign = ivf_assignments(embeddings, n_lists, codebook=cents) \
        .localCheckpoint(eager=False)
    bf = brute_force_topk(embeddings, queries, k=k) \
        .select("query_id", "nbr_id").localCheckpoint(eager=False)
    maxp = max(nprobes)
    qprobe = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _norm_col("embedding").alias("q_norm"),
        )
        .crossJoin(F.broadcast(cents))
        .withColumn("csim", _dot("q_emb", "cvec")
                    / (F.col("q_norm") * F.col("cnorm")))
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("csim"),
                                                F.asc("list_id"))
    probes = (
        qprobe.withColumn("prank", F.row_number().over(wq))
        .where(F.col("prank") <= maxp)
        .select("query_id", "q_emb", "q_norm", "list_id", "prank")
    )
    corpus = assign.select(
        F.col("vec_id").alias("nbr_id"), F.col("embedding").alias("nbr_emb"),
        _norm_col("embedding").alias("nbr_norm"), "list_id",
    )
    scored = (
        corpus.join(F.broadcast(probes), "list_id")
        .where(F.col("nbr_id") != F.col("query_id"))
        .withColumn("cosine", F.round(
            _dot("q_emb", "nbr_emb")
            / (F.col("q_norm") * F.col("nbr_norm")), 4))
        .select("query_id", "nbr_id", "cosine", "prank")
        .localCheckpoint(eager=False)  # every curve point re-reads this
    )
    nq = F.broadcast(bf.select("query_id").distinct()
                     .agg(F.count(F.lit(1)).cast("long").alias("n_queries")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("nbr_id"))
    outs = []
    for np_ in nprobes:
        sel = (
            scored.where(F.col("prank") <= np_)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "nbr_id")
        )
        outs.append(
            bf.join(sel, ["query_id", "nbr_id"], "left_semi")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
            .select(F.lit(np_).cast("long").alias("nprobe"), "n_hits")
        )
    curve = outs[0]
    for o in outs[1:]:
        curve = curve.unionAll(o)
    return (
        curve.crossJoin(nq)
        .select("nprobe", "n_queries", "n_hits",
                F.expr(f"n_hits * 1000000 div ({k} * n_queries)")
                .cast("long").alias("recall_ppm"))
    )


def prf_expansion_report(embeddings: DataFrame, queries: DataFrame,
                         bf: DataFrame | None = None,
                         k_fb: int = 3, k: int = 5) -> DataFrame:
    """Pseudo-relevance-feedback (Rocchio, beta-only) query expansion
    A/B read: for each query, the expanded query is the per-dimension
    MEAN of its top-``k_fb`` exact neighbors on the 1e6 integer grid
    (half-up BIGINT mean — partition-order independent), and the
    report compares the original vs expanded exact top-``k`` sets:
    overlap count and Jaccard ppm. High overlap = expansion is a
    no-op on this corpus; low overlap = PRF genuinely reshapes the
    neighborhood and a retrieval deployment should A/B it for recall
    (the decide-before-deploy read, same family as emb_hybrid_recall).

    All three ranking passes are the by-contract brute-force
    calibration scans (broadcast query side, corpus streams);
    production would swap the IVF lane in. Ranking ties break on the
    house (cosine 4dp DESC, nbr_id ASC) total order; the expanded
    vector re-enters ranking as exact doubles u/1e6 — one IEEE
    division per dim, identical cross-engine.
    """
    r_fb = brute_force_topk(embeddings, queries, k=k_fb) \
        .select("query_id", "nbr_id")
    fb_dims = (
        r_fb.join(embeddings.select(F.col("vec_id").alias("nbr_id"),
                                    F.col("embedding")), "nbr_id")
        .select("query_id", F.posexplode("embedding").alias("dm", "x"))
        .select("query_id", "dm",
                F.expr("CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)"
                       " AS BIGINT)").alias("u"))
        .groupBy("query_id", "dm")
        .agg(F.expr("(2 * sum(u) + count(u)) div (2 * count(u))")
             .alias("mu"))
    )
    q2 = (
        fb_dims.groupBy("query_id")
        .agg(F.expr("transform(array_sort(collect_list(struct(dm, mu))),"
                    " e -> CAST(e.mu AS DOUBLE) / 1000000.0)").alias("q2"))
        .select(F.col("query_id").alias("vec_id"),
                F.col("q2").cast("array<double>").alias("embedding"))
    )
    orig = (brute_force_topk(embeddings, queries, k=k)
            if bf is None else bf) \
        .select("query_id", "nbr_id").localCheckpoint(eager=False)
    exp = brute_force_topk(embeddings, q2, k=k) \
        .select("query_id", F.col("nbr_id").alias("nbr2"))
    inter = (
        orig.join(exp, (orig["query_id"] == exp["query_id"])
                  & (orig["nbr_id"] == exp["nbr2"]))
        .groupBy(orig["query_id"].alias("query_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    return (
        orig.select("query_id").distinct()
        .join(inter, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            F.expr(f"coalesce(n_overlap, 0) * 1000000"
                   f" div ({2 * k} - coalesce(n_overlap, 0))")
            .cast("long").alias("jaccard_ppm"),
        )
    )


def rank_agreement(embeddings: DataFrame, queries: DataFrame,
                   k: int = 5, n_lists: int = 16, nprobe: int = 2,
                   n_planes: int = 8,
                   codebook: DataFrame | None = None,
                   lsh: DataFrame | None = None) -> DataFrame:
    """ORDER-level agreement between the IVF and LSH ANN lanes — the
    step past emb_hybrid_recall's set overlap: for each query, the
    items BOTH lanes retrieve in their top-k, with the Spearman-
    footrule distance (sum of |rank_ivf - rank_lsh| over the shared
    items — exact BIGINT, no correlation doubles needed). Two lanes
    can agree on the SET and still disagree on order; for a
    rank-sensitive consumer (RRF fusion, rerank budgets) this is the
    table that says whether fusing the lanes can actually change
    anything.

    Both lanes are the production paths; the join is per-query on
    (query_id, nbr_id); output is one bounded row per query.
    """
    ivf = ivf_ann_topk(embeddings, queries, k=k, n_lists=n_lists,
                       nprobe=nprobe, codebook=codebook) \
        .select("query_id", "nbr_id", F.col("rank").alias("r_ivf"))
    lsh = (lsh_ann_topk(embeddings, queries, k=k, n_planes=n_planes)
           if lsh is None else lsh) \
        .select("query_id", "nbr_id", F.col("rank").alias("r_lsh"))
    shared = (
        ivf.join(lsh, ["query_id", "nbr_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"),
             F.sum(F.abs(F.col("r_ivf") - F.col("r_lsh"))).cast("long")
             .alias("footrule"))
    )
    return (
        ivf.select("query_id").distinct()
        .join(shared, "query_id", "left")
        .select("query_id",
                F.coalesce("n_shared", F.lit(0)).cast("long")
                .alias("n_shared"),
                F.coalesce("footrule", F.lit(0)).cast("long")
                .alias("footrule"))
    )
