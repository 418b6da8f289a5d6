"""Training-data text analysis over the raw `documents` table:
language-ID, quality scoring, token counting, document fingerprinting.

Everything here is built-in expressions (whole-stage codegen, no Python
boundary), formulated to be reproducible in the DuckDB oracle via
portable.py's shared fragments.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from deepref_spark import portable
from deepref_spark.portable import SPARK
from deepref_spark.session import local_frame

# language-ID lexicons: tiny per-language function-word sets; the n-gram
# heuristic scores by function-word hit ratio.
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "von", "zu"),
    "fr": ("le", "la", "les", "et", "de", "est", "pas", "pour", "dans", "une"),
    "es": ("el", "la", "los", "de", "que", "es", "en", "por", "con", "una"),
}


def _pieces_expr(tokens: str | None = None) -> str:
    """The BPE-ish piece-count formula (<=4-char pieces, the refsem
    wordpiece width) — ONE definition; token_count, pack_offsets, and
    mixing_plan all reference it so a width change cannot silently
    desync a subset of the oracle pairs. ``tokens`` names an
    already-staged token-array column (curate_corpus passes 't' so the
    whole composition tokenizes once); default tokenizes from text."""
    return (
        "aggregate({t}, 0L, (acc, w) -> acc + CAST(ceil(length(w) / 4.0) AS LONG))"
        .format(t=tokens or portable.norm_tokens("text", SPARK))
    )


def _tokens_col() -> F.Column:
    return F.expr(portable.norm_tokens("text", SPARK))


def _tok_frame(documents: DataFrame, cols: tuple = ("doc_id",),
               checkpoint: bool = True) -> DataFrame:
    """(*cols, t) token-staged view (round 6). When the input frame
    already carries a token-array column ``t`` (the queries-layer
    doc_toks stage — built with this exact norm_tokens expression over
    the same scan, so rows are identical by construction), reuse it AS
    IS — no localCheckpoint on top: the stage is already materialized,
    and re-staging a cached frame is the shingle-posting regression
    documented in OPTIMIZATION_r06.md. Otherwise tokenize from
    ``text`` and lazily checkpoint so downstream consumers tokenize
    once (the fingerprint staging discipline)."""
    need = list(cols)
    if "t" in documents.columns and all(c in documents.columns for c in need):
        return documents.select(*need, "t")
    staged = documents.select(
        *need, F.expr(portable.norm_tokens("text", SPARK)).alias("t"))
    return staged.localCheckpoint(eager=False) if checkpoint else staged


def token_count(documents: DataFrame) -> DataFrame:
    """Whitespace tokens + a BPE-ish estimate (pieces of <=4 chars, the
    same piece width as the deterministic wordpiece in refsem)."""
    if "t" in documents.columns:  # round 6: pre-staged token reuse
        return documents.select(
            "doc_id",
            F.size("t").alias("n_tokens"),
            F.expr(_pieces_expr("t")).alias("n_pieces"),
        )
    return documents.select(
        "doc_id",
        F.size(_tokens_col()).alias("n_tokens"),
        F.expr(_pieces_expr()).alias("n_pieces"),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Function-word-ratio language ID: argmax over per-language marker
    hit counts, 'und' (undetermined) when nothing hits."""
    toks = portable.norm_tokens("text", SPARK)
    cols = [F.col("doc_id")]
    for lang, markers in LANG_MARKERS.items():
        inlist = ", ".join(f"'{m}'" for m in markers)
        cols.append(
            F.expr(f"size(filter({toks}, w -> w IN ({inlist})))").alias(f"hits_{lang}")
        )
    hits = documents.select(*cols)
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in langs])
    pick = F.lit("und")
    # reversed so earlier languages win ties (stable priority order)
    for lg in reversed(langs):
        pick = F.when(F.col(f"hits_{lg}") == best, F.lit(lg)).otherwise(pick)
    return hits.select(
        "doc_id",
        F.when(best > 0, pick).otherwise(F.lit("und")).alias("lang_pred"),
        best.alias("marker_hits"),
    )


def _quality_cols(toks: str) -> dict:
    """The quality-heuristic output columns (name -> unaliased Column)
    over a token-array expression — ONE definition shared by
    quality_score and curate_corpus, so the flagship composition can
    compute `quality` INLINE on its staged scan (a projection needs no
    join) without risking drift from the standalone query."""
    sw = ", ".join(f"'{w}'" for w in sorted(LANG_MARKERS["en"]))
    n = F.expr(f"size({toks})").cast("double")
    n_sw = F.expr(f"size(filter({toks}, w -> w IN ({sw})))").cast("double")
    n_alpha = F.expr(f"size(filter({toks}, w -> w rlike '^[a-z]+$'))").cast("double")
    mean_len = F.expr(
        f"aggregate({toks}, 0L, (acc, w) -> acc + length(w))"
    ).cast("double") / F.greatest(n, F.lit(1.0))
    len_ok = F.when((n >= 10) & (n <= 5000), F.lit(1.0)).otherwise(F.lit(0.0))
    wl_ok = F.when((mean_len >= 2.5) & (mean_len <= 10.0), F.lit(1.0)).otherwise(F.lit(0.0))
    sw_ratio = n_sw / F.greatest(n, F.lit(1.0))
    alpha_ratio = n_alpha / F.greatest(n, F.lit(1.0))
    score = (
        0.25 * len_ok + 0.25 * wl_ok
        + 0.25 * F.least(sw_ratio * F.lit(4.0), F.lit(1.0))
        + 0.25 * alpha_ratio
    )
    return {
        "n_tokens": n.cast("int"),
        "stopword_ratio": F.round(sw_ratio, 6),
        "alpha_ratio": F.round(alpha_ratio, 6),
        "quality": F.round(score, 6),
    }


def quality_score(documents: DataFrame, carry_cols: tuple = (),
                  tokens_expr: str | None = None) -> DataFrame:
    """Deterministic quality heuristics: length band, alpha ratio,
    stopword ratio, mean word length. score in [0,1]. ``carry_cols``
    pass metadata columns (lang, source, ...) through the projection so
    downstream rollups need no corpus-wide re-join. ``tokens_expr``
    names an already-staged token-array column (see _pieces_expr)."""
    if tokens_expr is None and "t" in documents.columns:
        tokens_expr = "t"  # round 6: pre-staged token reuse
    toks = tokens_expr or portable.norm_tokens("text", SPARK)
    cols = _quality_cols(toks)
    carry = [c for c in (carry_cols or ()) if c in documents.columns]
    return documents.select(
        "doc_id", *carry,
        *[col.alias(name) for name, col in cols.items()],
    )


def fingerprint(documents: DataFrame, k: int = 5) -> DataFrame:
    """Winnowing-style document fingerprint: the minimum hash over all
    k-token shingles (portable md5 formula — identical in DuckDB).

    Tokens are STAGED as a column behind a pushdown barrier before the
    per-shingle lambda — splicing the raw norm_tokens expression into
    `slice({toks}, i, k)` re-runs the whole tokenize regex chain once
    per window position (the lambda re-evaluation trap this repo
    measured at ~10x+; O(len^2) tokenize per doc on long documents).
    Same staging discipline as contamination_screen below."""
    staged = _tok_frame(documents)  # barrier: keep tokenize out of the lambda
    h = portable.md5_mod(f"array_join(slice(t, i, {k}), ' ')", 1_000_003)
    return staged.select(
        "doc_id",
        F.expr(
            f"aggregate(sequence(1, greatest(1, size(t) - {k - 1})), "
            f"1000003, (acc, i) -> least(acc, {h}))"
        ).alias("fingerprint"),
    )


def quality_by_source(documents: DataFrame) -> DataFrame:
    """Corpus-curation rollup: quality/stopword/alpha aggregates per
    (lang, source) — the per-slice view a 100 TB cleaning run uses to
    pick drop thresholds. Pure grouped aggregation over the per-doc
    quality projection (map-side combined): carry_cols threads the
    group keys through the projection, so ONE corpus scan and zero
    joins (the round-2 version re-scanned documents for a self-join)."""
    keyed = quality_score(documents, carry_cols=("lang", "source"))
    # averages via exact integer sums (the 6dp-rounded inputs scale to
    # integers), so the result is independent of partial-agg order —
    # plain avg(double) differs from the oracle in the last rounded
    # digit on boundary values
    def exact_avg(col: str) -> F.Column:
        s = F.sum(F.round(F.col(col) * 1_000_000).cast("long"))
        return F.round(s / F.count(F.lit(1)) / 1_000_000.0, 6)

    return (
        keyed.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            exact_avg("quality").alias("avg_quality"),
            exact_avg("stopword_ratio").alias("avg_stopword_ratio"),
            F.round(F.sum("n_tokens") / F.count(F.lit(1)), 6).alias("avg_tokens"),
        )
    )


def pack_offsets(documents: DataFrame, max_tokens: int = 2048,
                 n_buckets: int = 32, pieces_col: str | None = None,
                 carry_cols: tuple = ()) -> DataFrame:
    """Concat-and-chop packing placement — the standard LLM-pretraining
    packing (documents concatenated in a deterministic order, the token
    stream chopped into fixed ``max_tokens`` training chunks). Emits
    per-document placement: which bucket stream it lands in, its start
    offset there, and the first/last chunk indexes its tokens span
    (a document crossing a chunk boundary contributes to both — the
    downstream chopper splits it, exactly like GPT-style packing).

    Scale shape: documents are hashed into ``n_buckets`` independent
    streams (doc_id % n_buckets) and ALL window work is per-bucket —
    no global ordering or single-partition cumsum; buckets scale out
    like any grouped aggregation and each one's chunk ids are local to
    it. Deterministic order within a bucket is doc_id. ``n_buckets``
    caps the window parallelism — size it to at least the cluster's
    shuffle partitions at scale (the 32 default fits local runs; a
    1000-executor job wants thousands). ``pieces_col`` reuses an
    already-computed piece-count column (curate_corpus); ``carry_cols``
    thread metadata through the placement."""
    pieces = (F.col(pieces_col) if pieces_col is not None
              else F.expr(_pieces_expr()))
    carry = [c for c in (carry_cols or ()) if c in documents.columns]
    sized = documents.select(
        "doc_id", *carry,
        (F.col("doc_id") % n_buckets).alias("bucket"),
        pieces.alias("n_pieces"),
    )
    w = Window.partitionBy("bucket").orderBy("doc_id")
    return (
        sized
        .withColumn("start_off", F.sum("n_pieces").over(w) - F.col("n_pieces"))
        .select(
            "doc_id", *carry, "bucket", "n_pieces",
            # double, not BIGINT: the oracle's uncast window SUM
            # promotes to HUGEINT, which a dataframe-typed fetch reads
            # as float64 — identical values, driver-hash representation
            # drift on text_curate_pipeline (round-5 verdict #1b) and
            # latent on text_pack_chunks. Ints below 2^53 are exact.
            F.col("start_off").cast("double").alias("start_off"),
            F.floor(F.col("start_off") / max_tokens).cast("long").alias("first_chunk"),
            F.floor((F.col("start_off") + F.greatest(F.col("n_pieces"), F.lit(1)) - 1)
                    / max_tokens).cast("long").alias("last_chunk"),
        )
    )


# the full Gopher repetition-filter n-gram orders (Rae et al. App. A1.1):
# top-{2,3,4}-gram and duplicated-{5..10}-gram
REP_TOP_NS = (2, 3, 4)
REP_DUP_NS = (5, 6, 7, 8, 9, 10)


def repetition_stats(documents: DataFrame,
                     tokens_col: str | None = None,
                     orders: tuple | None = None,
                     include_sentences: bool = True) -> DataFrame:
    """The FULL Gopher repetition-filter table (Rae et al. 2021,
    "Scaling Language Models", App. A1.1), over the normalized token
    stream (char fractions use the space-joined normalized text, so
    both engines measure the identical characters):

      * top_2gram_frac  — tokens covered by the single most frequent
        bigram (count*2 / n_tokens) — kept from round 4;
      * dup_3gram_frac  — tokens covered by trigrams occurring more
        than once — kept from round 4;
      * dup_sent_frac   — duplicated sentence fraction ('.'-split);
      * top_{2,3,4}gram_char_frac — fraction of characters covered by
        the most frequent n-gram (count * charlen / total chars; the
        most-frequent pick tie-breaks on (count, charlen), under which
        the covered-character product is unique);
      * dup_{5..10}gram_char_frac — fraction of characters in
        duplicate n-gram occurrences beyond each gram's first
        ((count-1) * charlen summed over grams with count > 1, capped
        at 1 — overlapping occurrences can double-count, the standard
        set-based accounting).

    Shape: ONE generator pass builds (doc, n, gram) rows for all nine
    orders (9x token-stream row inflation, same total as nine separate
    explodes but a single corpus scan and ONE map-side-combined
    groupBy keyed (doc_id, n, gram)); per-doc rollups are conditional
    aggregations over the tiny per-(doc,n) table. No cross-document
    state anywhere.

    ``orders`` restricts the computed n-gram orders (must include 2
    and 3; char-fraction columns are emitted only for the retained
    orders) and ``include_sentences=False`` drops the sentence stage —
    curate_corpus passes orders=(2, 3) because its filter reads only
    the two token fractions, cutting the generator inflation from 9x
    to 2x of the token stream."""
    all_ns = (sorted(set(REP_TOP_NS) | set(REP_DUP_NS)) if orders is None
              else sorted(set(orders)))
    if not {2, 3} <= set(all_ns):
        raise ValueError("repetition orders must include 2 and 3")
    top_ns = [n for n in REP_TOP_NS if n in all_ns]
    dup_ns = [n for n in REP_DUP_NS if n in all_ns]
    if tokens_col is None:
        base = documents.select("doc_id", _tokens_col().alias("t"))
        base = base.where(F.size("t") >= 1)
        base = base.localCheckpoint(eager=False)  # feeds 3 consumers once
    else:
        # tokens already staged (and checkpointed) by the caller —
        # re-checkpointing would materialize a second RDD copy
        base = documents.select(
            "doc_id", F.col(tokens_col).alias("t")
        ).where(F.size("t") >= 1)
    sizes = base.select(
        "doc_id", F.size("t").alias("n_tokens"),
        F.length(F.expr("array_join(t, ' ')")).alias("n_chars"),
    )

    ns_lit = "array(" + ", ".join(str(n) for n in all_ns) + ")"
    counts = (
        base.select("doc_id", "t", F.explode(F.expr(ns_lit)).alias("n"))
        .select(
            "doc_id", "n",
            F.explode(
                # CASE-guard short docs: sequence(1, 0) infers step -1
                F.expr(
                    "CASE WHEN size(t) >= n THEN "
                    "transform(sequence(1, size(t) - n + 1), "
                    "i -> array_join(slice(t, i, n), ' ')) "
                    "ELSE array() END"
                )
            ).alias("g"),
        )
        .groupBy("doc_id", "n", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_n = counts.groupBy("doc_id", "n").agg(
        F.max("c").alias("max_c"),
        # most-frequent gram's covered chars: max over (count, charlen)
        # then count * charlen — unique under the tie-break
        F.max(F.struct(F.col("c"), F.length("g").alias("l"))).alias("topcl"),
        F.sum(F.when(F.col("c") > 1, F.col("c"))).alias("dup_occ"),
        F.sum(
            F.when(F.col("c") > 1, (F.col("c") - 1) * F.length("g"))
        ).alias("dup_chars"),
    )

    def pick(n, col):
        return F.max(F.when(F.col("n") == n, F.col(col)))

    per_doc = per_n.groupBy("doc_id").agg(
        pick(2, "max_c").alias("top2_c"),
        pick(3, "dup_occ").alias("dup3_occ"),
        *[
            (pick(n, "topcl")["c"] * pick(n, "topcl")["l"]).alias(f"top{n}_chars")
            for n in top_ns
        ],
        *[pick(n, "dup_chars").alias(f"dup{n}_chars") for n in dup_ns],
    )
    sents = None if not include_sentences else (
        base.select(
            "doc_id",
            # strip the trailing ' .' first: the separator needs spaces
            # on both sides, so without this the FINAL sentence keeps a
            # ' .' suffix and never matches a duplicate of itself
            F.expr("filter(transform(split(regexp_replace(array_join(t, ' '), "
                   "' \\\\.$', ''), ' \\\\. '), "
                   "s -> trim(s)), s -> s != '')").alias("ss"),
        )
        .select("doc_id", F.size("ss").alias("n_sents"),
                F.size(F.array_distinct("ss")).alias("n_uniq_sents"))
    )

    def char_frac(col):
        return F.round(
            F.least(
                F.coalesce(F.col(col), F.lit(0)) / F.greatest("n_chars", F.lit(1)),
                F.lit(1.0),
            ), 6,
        )

    joined = sizes.join(per_doc, "doc_id", "left")
    if include_sentences:
        joined = joined.join(sents, "doc_id", "left")
    sent_cols = [
        F.round(
            (F.col("n_sents") - F.col("n_uniq_sents")) / F.greatest("n_sents", F.lit(1)),
            6,
        ).alias("dup_sent_frac"),
    ] if include_sentences else []
    return (
        joined
        .select(
            "doc_id", "n_tokens",
            F.round(
                F.coalesce(F.col("top2_c") * 2 / F.col("n_tokens"), F.lit(0.0)), 6
            ).alias("top_2gram_frac"),
            F.round(
                F.least(
                    F.coalesce(F.col("dup3_occ") * 3, F.lit(0)) / F.col("n_tokens"),
                    F.lit(1.0),
                ), 6
            ).alias("dup_3gram_frac"),
            *sent_cols,
            *[
                char_frac(f"top{n}_chars").alias(f"top_{n}gram_char_frac")
                for n in top_ns
            ],
            *[
                char_frac(f"dup{n}_chars").alias(f"dup_{n}gram_char_frac")
                for n in dup_ns
            ],
        )
    )


def mixing_plan(documents: DataFrame, target: dict | None = None,
                pieces_col: str | None = None) -> DataFrame:
    """Source-mixing planner (DoReMi-style rebalancing, deterministic):
    per-source token shares and the down-sampling rate that moves the
    mix toward ``target`` (source -> desired share; default uniform
    across observed sources). rate = min(1, target_share/actual_share)
    — only down-sampling, never up (duplication is a dedup problem, not
    a mixer's). One grouped aggregation; the tiny per-source table then
    gets its rates from a window over the total (source count is
    bounded by contract — it is the GROUPING key of a curation run).
    ``pieces_col`` reuses an already-computed piece-count column."""
    toks = (F.col(pieces_col) if pieces_col is not None
            else F.expr(_pieces_expr()))
    per_src = (
        documents.select("source", toks.alias("n_pieces"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_pieces").alias("n_tokens"))
    )
    w = Window.partitionBy()
    # rates divide the RAW share (rounding first would shift the 6th
    # decimal of the quotient; outputs round at the end only)
    share_raw = F.col("n_tokens") / F.sum("n_tokens").over(w)
    shared = per_src.withColumn("_share_raw", share_raw)
    if target is None:
        tgt = (F.lit(1.0) / F.count(F.lit(1)).over(w))
    else:
        tgt = F.lit(None).cast("double")
        for src, share in sorted(target.items()):
            tgt = F.when(F.col("source") == src, F.lit(float(share))).otherwise(tgt)
        # an observed source absent from the target is a caller error,
        # not an implicit drop: silently coalescing to 0.0 would give it
        # sample_rate 0 and a downstream sampler would delete the whole
        # source with no warning
        tgt = F.coalesce(
            tgt,
            F.expr(
                "CAST(raise_error(concat('mixing_plan: source absent from "
                "target dict: ', source)) AS DOUBLE)"
            ),
        )
    return shared.select(
        "source", "n_docs", "n_tokens",
        F.round(F.col("_share_raw"), 6).alias("token_share"),
        F.round(tgt, 6).alias("target_share"),
        F.round(F.least(F.lit(1.0), tgt / F.col("_share_raw")), 6).alias("sample_rate"),
    )


# GPT-3-style eval-contamination screen: the benchmark side is a set of
# 13-gram keys (hashed with the portable formula so oracles reproduce
# them); a document is contaminated when any of its 13-grams hits the
# set. The set broadcasts (benchmarks are small by definition); the
# corpus side streams its grams through one hash + one broadcast
# semi-join — no shuffle of corpus data.
CONTAM_NGRAM = 13


def benchmark_gram_keys(benchmark_texts, n: int = CONTAM_NGRAM) -> list:
    """Portable hash keys of every n-gram in the benchmark texts
    (driver-side: benchmarks are bounded small)."""
    from deepref_spark import refsem

    keys = set()
    for t in benchmark_texts:
        toks = portable.norm_tokens_py(t)
        for i in range(max(0, len(toks) - n + 1)):
            keys.add(refsem.md5_mod_py(" ".join(toks[i:i + n]), 1 << 30))
    return sorted(keys)


# above this many benchmark keys the IN-list plan literal stops being
# "kilobytes riding the plan" and the screen switches to a broadcast
# join automatically (the literal bloats plan serialization + codegen;
# a broadcast hashmap is exactly what IN compiles to anyway, minus the
# plan bloat)
CONTAM_JOIN_THRESHOLD = 100_000


def _contam_hits_expr(t: str, keys, n: int = CONTAM_NGRAM) -> str:
    """Inline n-hit count over a STAGED token-array column ``t`` for a
    plan-literal key set — shared by contamination_screen's small-key
    path and curate_corpus (where inlining makes contamination a
    projection on the staged scan instead of a corpus-wide join). The
    CASE guards short docs: sequence(1, 0) infers step -1 and yields
    [1, 0], feeding slice() an invalid 0 start."""
    gram_hash = portable.md5_mod(f"array_join(slice({t}, i, {n}), ' ')", 1 << 30)
    inlist = ", ".join(str(k) for k in keys) or "-1"
    return (
        f"CASE WHEN size({t}) >= {n} THEN "
        f"size(filter(transform(sequence(1, size({t}) - {n - 1}), i -> {gram_hash}), "
        f"h -> h IN ({inlist}))) ELSE 0 END"
    )


def contamination_screen(documents: DataFrame, benchmark_texts,
                         n: int = CONTAM_NGRAM,
                         join_threshold: int = CONTAM_JOIN_THRESHOLD,
                         tokens_col: str | None = None) -> DataFrame:
    """(doc_id, n_grams, n_hits, contaminated): how many of the doc's
    n-gram OCCURRENCES appear in the benchmark key set. Small key sets
    (<= ``join_threshold``) ride as a plan-literal IN-set; larger ones
    auto-switch to an exploded-gram broadcast join with identical
    semantics (each gram hash matches at most one key, so the
    per-occurrence count is preserved; docs with zero hits are kept by
    the doc-level left join).

    Tokens are STAGED as a column before the gram lambda — referencing
    the raw norm_tokens expression inside the per-gram transform would
    re-run the whole tokenize regex chain once per gram (the lambda
    re-evaluation trap; measured ~10x+)."""
    keys = benchmark_gram_keys(benchmark_texts, n)
    if tokens_col is None:
        staged = documents.select(
            "doc_id", F.expr(portable.norm_tokens("text", SPARK)).alias("t")
        ).localCheckpoint(eager=False)  # barrier: keep tokenize out of the lambda
    else:
        # tokens already staged/checkpointed by the caller
        staged = documents.select("doc_id", F.col(tokens_col).alias("t"))
    if len(keys) <= join_threshold:
        out = staged.select(
            "doc_id",
            F.expr(f"greatest(0, size(t) - {n - 1})").cast("int").alias("n_grams"),
            F.expr(_contam_hits_expr("t", keys, n)).alias("n_hits"),
        )
    else:
        gram_hash = portable.md5_mod(f"array_join(slice(t, i, {n}), ' ')", 1 << 30)
        # CASE-guard short docs: Spark sequence(1, 0) yields [1, 0]
        # (step inferred -1), which would feed slice() a 0 start and raise
        grams = (
            f"CASE WHEN size(t) >= {n} THEN "
            f"transform(sequence(1, size(t) - {n - 1}), i -> {gram_hash}) "
            f"ELSE array() END"
        )
        base = staged.select(
            "doc_id",
            F.expr(f"greatest(0, size(t) - {n - 1})").cast("int").alias("n_grams"),
            F.expr(grams).alias("gh"),
        )
        spark = documents.sparkSession
        keys_df = local_frame(spark, [(int(k),) for k in keys], "k long")
        hits = (
            base.select("doc_id", F.explode("gh").alias("h"))
            .join(F.broadcast(keys_df), F.col("h").cast("long") == F.col("k"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_hits"))
        )
        out = (
            base.select("doc_id", "n_grams")
            .join(hits, "doc_id", "left")
            .select(
                "doc_id", "n_grams",
                F.coalesce("n_hits", F.lit(0)).cast("int").alias("n_hits"),
            )
        )
    return out.withColumn("contaminated", F.col("n_hits") > 0)


def contaminated_coverage(documents: DataFrame, benchmark_texts,
                          n: int = CONTAM_NGRAM,
                          join_threshold: int = CONTAM_JOIN_THRESHOLD,
                          tokens_col: str | None = None) -> DataFrame:
    """(doc_id, n_tokens, n_hit_grams, n_covered, covered_frac): the
    decontamination DEPTH signal — how much of each document the
    benchmark-overlapping n-grams actually cover. The boolean screen
    (contamination_screen) answers "drop or keep?"; this answers
    "excise a span or drop the doc?" (a 0.01 coverage doc loses one
    sentence, a 0.6 coverage doc IS the benchmark).

    Same dataflow as the screen: staged tokens (the lambda
    re-evaluation trap), hit START positions via a plan-literal IN
    filter below ``join_threshold`` or an exploded-gram broadcast join
    above it; coverage = size of the distinct union of [i, i+n-1]
    ranges — computed per doc from its own hit list (flatten +
    array_distinct, order-independent), never a corpus-wide shuffle.
    """
    keys = benchmark_gram_keys(benchmark_texts, n)
    if tokens_col is None:
        staged = documents.select(
            "doc_id", F.expr(portable.norm_tokens("text", SPARK)).alias("t")
        ).localCheckpoint(eager=False)  # barrier: keep tokenize out of the lambda
    else:
        staged = documents.select("doc_id", F.col(tokens_col).alias("t"))
    gram_hash = portable.md5_mod(f"array_join(slice(t, i, {n}), ' ')", 1 << 30)
    if len(keys) <= join_threshold:
        inlist = ", ".join(str(k) for k in keys) or "-1"
        starts = (
            f"CASE WHEN size(t) >= {n} THEN "
            f"filter(sequence(1, size(t) - {n - 1}), i -> {gram_hash} IN ({inlist})) "
            f"ELSE array() END"
        )
        base = staged.select(
            "doc_id", F.expr("size(t)").cast("int").alias("n_tokens"),
            F.expr(starts).alias("starts"),
        )
    else:
        grams = (
            f"CASE WHEN size(t) >= {n} THEN "
            f"transform(sequence(1, size(t) - {n - 1}), i -> {gram_hash}) "
            f"ELSE array() END"
        )
        spark = documents.sparkSession
        keys_df = local_frame(spark, [(int(k),) for k in keys], "k long")
        pre = staged.select(
            "doc_id", F.expr("size(t)").cast("int").alias("n_tokens"),
            F.expr(grams).alias("gh"),
        ).localCheckpoint(eager=False)  # feeds the hit join AND the doc spine
        hits = (
            pre.select("doc_id", F.posexplode("gh").alias("p", "h"))
            .join(F.broadcast(keys_df), F.col("h").cast("long") == F.col("k"))
            .groupBy("doc_id")
            # coverage/count are order-independent aggregates of this
            # list, so collect_list's nondeterministic order is safe
            .agg(F.collect_list(F.col("p") + 1).alias("starts"))
        )
        base = (
            pre.select("doc_id", "n_tokens")
            .join(hits, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    F.coalesce("starts", F.expr("array()")).alias("starts"))
        )
    covered = (f"size(array_distinct(flatten("
               f"transform(starts, i -> sequence(i, i + {n - 1})))))")
    # n_covered is referenced twice downstream (output + frac), which
    # is exactly what keeps CollapseProject from re-inlining the
    # flatten/distinct tree into both references (SPARK-36718 guard)
    staged_cov = base.select(
        "doc_id", "n_tokens",
        F.expr("size(starts)").cast("int").alias("n_hit_grams"),
        F.expr(covered).cast("int").alias("n_covered"),
    )
    return staged_cov.select(
        "doc_id", "n_tokens", "n_hit_grams", "n_covered",
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.col("n_covered").cast("double") / F.col("n_tokens"), 6),
        ).otherwise(F.lit(0.0)).alias("covered_frac"),
    )


def _curate_signals(documents: DataFrame, benchmark_texts,
                    keep_map: DataFrame | None = None) -> DataFrame:
    """The per-doc curation signal frame shared by curate_corpus (which
    filters on it) and curation_funnel (which aggregates it): one row
    per doc with (doc_id, source, n_pieces, quality, contaminated,
    top_2gram_frac, dup_3gram_frac, keep_doc_id).

    Single scan for the per-doc stages: documents are tokenized ONCE
    into a checkpointed (doc_id, source, text, t, n_pieces) stage;
    quality, repetition, contamination, AND the dedup keep_map all
    consume that stage (zero re-reads of the source table; the
    checkpoint is also the pushdown barrier that keeps the tokenize
    out of every per-gram lambda). Per-doc signals that are pure
    projections — quality, and contamination when the key set rides as
    a plan literal — are computed INLINE on the staged scan (zero
    shuffle). Only the stages that inherently aggregate or cross
    documents join back: repetition (grouped agg) and the near-dup
    keep map, both co-partitioned on doc_id."""
    from deepref_spark.operators.dedup import near_dup_keep_map

    if keep_map is not None:
        # text is only ever read by the keep-map build; with a
        # pre-materialized keep_map the staged frame needs no text
        # column, so the shared doc_toks stage can feed the whole
        # composition (round 6 — _tok_frame reuses its `t` column).
        staged = _tok_frame(documents, ("doc_id", "source")) \
            .withColumn("n_pieces", F.expr(_pieces_expr("t")))
    else:
        staged = (
            documents.select(
                "doc_id", "source", "text",
                F.expr(portable.norm_tokens("text", SPARK)).alias("t"),
            )
            .withColumn("n_pieces", F.expr(_pieces_expr("t")))
            .localCheckpoint(eager=False)  # THE single scan of documents
        )
    keys = benchmark_gram_keys(benchmark_texts)
    per_doc = staged.select(
        "doc_id", "source", "n_pieces",
        _quality_cols("t")["quality"].alias("quality"),
        *([(F.expr(_contam_hits_expr("t", keys)) > 0).alias("contaminated")]
          if len(keys) <= CONTAM_JOIN_THRESHOLD else []),
    )
    if len(keys) > CONTAM_JOIN_THRESHOLD:
        # large key sets need the broadcast-join screen (same auto-gate
        # as the standalone query); the corpus side is the staged scan
        per_doc = per_doc.join(
            contamination_screen(staged, benchmark_texts, tokens_col="t")
            .select("doc_id", "contaminated"),
            "doc_id",
        )
    # the curation filter reads only the two token fractions: restrict
    # the repetition stage to orders (2, 3) and skip the sentence pass
    # — 2x token-stream inflation instead of the full table's 9x
    rep = repetition_stats(
        staged, tokens_col="t", orders=(2, 3), include_sentences=False
    ).select("doc_id", "top_2gram_frac", "dup_3gram_frac")
    # ``keep_map`` lets callers pass an already-materialized keep map
    # (the session's persisted stage) — identical rows by construction
    keep = (near_dup_keep_map(staged.select("doc_id", "text"))
            if keep_map is None else keep_map)
    return per_doc.join(rep, "doc_id").join(keep, "doc_id")


def curate_corpus(documents: DataFrame, benchmark_texts,
                  quality_min: float = 0.5, top2_max: float = 0.2,
                  dup3_max: float = 0.3, max_tokens: int = 2048,
                  n_buckets: int = 32, target: dict | None = None,
                  keep_map: DataFrame | None = None) -> DataFrame:
    """The LLM-curation FLAGSHIP composition — what a 100 TB cleaning
    run actually executes, as one plan:

      quality filter -> Gopher repetition filter -> 13-gram
      eval-contamination screen -> near-dup keep_map (LSH -> verify ->
      connected components) -> source-mixing sample rates ->
      concat-and-chop packing placement.

    Output: one row per SURVIVING doc with its packing placement
    (doc_id, source, quality, sample_rate, bucket, n_pieces,
    start_off, first_chunk, last_chunk).

    Scale shape: the per-doc signal stages run as ONE staged corpus
    scan (see _curate_signals — shared with curation_funnel; round-4's
    version built them as separate DataFrames and shuffle-joined the
    corpus back to itself on doc_id, twice). The mixing rates
    broadcast (per-source table is bounded by contract); sampling is a
    deterministic portable-hash Bernoulli keep (md5_unit(doc_id) <
    rate), so the whole composition is reproducible in the SQL oracle
    row-for-row.
    The reference analogue is the chained preprocess -> tokenize ->
    score lifecycle (deepref/framework/train.py:91-124) — here the
    chained stages are the curation operators."""
    survivors = (
        _curate_signals(documents, benchmark_texts, keep_map=keep_map)
        .where(
            (F.col("quality") >= quality_min)
            & (F.col("top_2gram_frac") <= top2_max)
            & (F.col("dup_3gram_frac") <= dup3_max)
            & (~F.col("contaminated"))
            & (F.col("doc_id") == F.col("keep_doc_id"))
        )
        .select("doc_id", "source", "n_pieces", "quality")
        .localCheckpoint(eager=False)  # feeds the mixer AND the packer
    )
    rates = F.broadcast(
        mixing_plan(survivors, target=target, pieces_col="n_pieces")
        .select("source", "sample_rate")
    )
    sampled = (
        survivors.join(rates, "source")
        .where(
            F.expr(portable.md5_unit("CAST(doc_id AS STRING)"))
            < F.col("sample_rate")
        )
    )
    return pack_offsets(
        sampled, max_tokens=max_tokens, n_buckets=n_buckets,
        pieces_col="n_pieces", carry_cols=("source", "quality", "sample_rate"),
    ).select(
        "doc_id", "source", "quality", "sample_rate", "bucket",
        "n_pieces", "start_off", "first_chunk", "last_chunk",
    )


# Gopher non-repetition quality-filter bounds (Rae et al. 2021 App.
# A1.1, the "quality filtering" family): word count, mean word length,
# symbol-to-word ratio, bullet/ellipsis line fractions, alphabetic-word
# fraction, minimum stop-word hits
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(documents: DataFrame) -> DataFrame:
    """The Gopher QUALITY filter table (the non-repetition half of
    App. A1.1; repetition_stats is the other half): per-doc signals
    plus the composite pass flag, over RAW whitespace words (Gopher
    filters run before normalization — token-level stats live in
    quality_score):

      * n_words, mean_word_len — doc in [50, 100k] words with mean
        word length in [3, 10];
      * symbol_ratio — '#' or '...' occurrences per word, < 0.1;
      * bullet_line_frac / ellipsis_line_frac — lines starting with a
        bullet (< 90%) / ending with an ellipsis (< 30%);
      * alpha_word_frac — words containing >= 1 alphabetic char
        (>= 80%);
      * stopword_hits — distinct Gopher stop words present (>= 2).

    One projection, all built-in expressions (whole-stage codegen);
    raw words staged as a column so no split runs inside a lambda."""
    staged = documents.select(
        "doc_id", "text",
        F.expr(r"split(trim(text), '\\s+')").alias("w"),
        F.expr(r"split(text, '\\n')").alias("lines"),
    )
    n = F.greatest(F.size("w"), F.lit(1)).cast("double")
    n_lines = F.greatest(F.size("lines"), F.lit(1)).cast("double")
    sw_hits = F.expr(
        "size(filter(array({}), s -> array_contains(w, s)))".format(
            ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
        )
    )
    symbols = (
        F.expr("size(split(text, '#')) - 1")
        + F.expr(r"size(split(text, '\\.\\.\\.')) - 1")
    )
    out = staged.select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.round(
            F.expr("aggregate(w, 0L, (acc, x) -> acc + length(x))") / n, 6
        ).alias("mean_word_len"),
        F.round(symbols / n, 6).alias("symbol_ratio"),
        F.round(
            F.expr("size(filter(lines, l -> trim(l) rlike '^([*-]|•)'))") / n_lines, 6
        ).alias("bullet_line_frac"),
        F.round(
            F.expr(r"size(filter(lines, l -> trim(l) rlike '\\.\\.\\.$'))") / n_lines, 6
        ).alias("ellipsis_line_frac"),
        F.round(
            F.expr("size(filter(w, x -> x rlike '[A-Za-z]'))") / n, 6
        ).alias("alpha_word_frac"),
        sw_hits.cast("int").alias("stopword_hits"),
    )
    return out.withColumn(
        "passes",
        (F.col("n_words") >= 50) & (F.col("n_words") <= 100_000)
        & (F.col("mean_word_len") >= 3.0) & (F.col("mean_word_len") <= 10.0)
        & (F.col("symbol_ratio") < 0.1)
        & (F.col("bullet_line_frac") < 0.9)
        & (F.col("ellipsis_line_frac") < 0.3)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("stopword_hits") >= 2),
    )


# C4 line-level cleaning rules (Raffel et al. 2020 §2.2): keep lines
# that end in terminal punctuation, have >= 3 words, and don't mention
# javascript; drop pages with < 5 sentences, a curly brace, or "lorem
# ipsum". (The paper's badword page filter is policy CONTENT, not an
# algorithm — the has_lorem/has_brace page flags are the same plumbing
# a word-list flag would use.)
C4_MIN_LINE_WORDS = 3
C4_MIN_SENTENCES = 5
C4_TERMINAL = '[.!?"]'


def c4_filters(documents: DataFrame,
               min_line_words: int = C4_MIN_LINE_WORDS,
               min_sentences: int = C4_MIN_SENTENCES) -> DataFrame:
    """C4-style line-level cleaning: per-doc kept-line reconstruction
    plus the page-level drop flags.

      * a line is KEPT when trim(line) ends in terminal punctuation
        ([.!?"]), has >= min_line_words whitespace words, and does not
        contain 'javascript' (case-insensitive);
      * clean_text is the kept lines rejoined with newlines;
      * n_sentences counts terminal marks ([.!?]) in the kept text;
      * page flags: has_lorem ('lorem ipsum' anywhere, lowercased),
        has_brace ('{' anywhere);
      * passes = n_sentences >= min_sentences AND no page flag.

    One all-JVM projection (whole-stage codegen). The kept-line array
    and the rejoined text are STAGED as columns across nested selects
    — each is consumed by 2+ downstream expressions, and a
    multi-referenced alias is what keeps Catalyst's CollapseProject
    from re-inlining the filter lambda into every consumer (the
    re-evaluation trap documented on contamination_screen)."""
    kept = (
        f"filter(lines, l -> trim(l) rlike '{C4_TERMINAL}$' "
        f"AND size(split(trim(l), '\\\\s+')) >= {min_line_words} "
        "AND NOT contains(lower(l), 'javascript'))"
    )
    staged = (
        documents.select(
            "doc_id", "text", F.expr(r"split(text, '\\n')").alias("lines")
        )
        .select(
            "doc_id", "text",
            F.size("lines").alias("n_lines"),
            F.expr(kept).alias("kept"),
        )
        .select(
            "doc_id", "text", "n_lines",
            F.size("kept").alias("n_kept"),
            F.array_join("kept", "\n").alias("clean_text"),
        )
        .select(
            "doc_id", "text", "n_lines", "n_kept", "clean_text",
            F.regexp_count("clean_text", F.lit("[.!?]")).alias("n_sentences"),
        )
    )
    return staged.select(
        "doc_id", "n_lines", "n_kept", "clean_text", "n_sentences",
        F.lower("text").contains("lorem ipsum").alias("has_lorem"),
        F.col("text").contains("{").alias("has_brace"),
        (
            (F.col("n_sentences") >= min_sentences)
            & ~F.lower("text").contains("lorem ipsum")
            & ~F.col("text").contains("{")
        ).alias("passes"),
    )


# PII patterns (The Stack / StarCoder-style redaction): the common
# regex subset of Java (Spark) and RE2 (DuckDB) — \b is the ASCII word
# boundary and \d is [0-9] in both engines, so the two sides match the
# same spans.
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_IP_RE = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
PII_PHONE_RE = "(\\+\\d{1,2} )?\\d{3}[-. ]\\d{3}[-. ]\\d{4}"


def pii_mask(documents: DataFrame) -> DataFrame:
    """PII detection + redaction: per-doc match counts for emails,
    IPv4 addresses, and phone numbers, plus the redacted text.

    Counts are computed INDEPENDENTLY on the raw text per category;
    masking is SEQUENTIAL (email -> ip -> phone) so an address like
    user@192.0.2.1 redacts to user-part@<IP> deterministically (the
    email pattern requires an alphabetic TLD, so a dotted-quad domain
    is the IP rule's to mask). The phone pattern accepts -, ., and
    space separators, and a dotted-quad never matches it (an IPv4
    octet can't fill the trailing 4-digit group).

    Pure JVM projection — regexp_count/regexp_replace, whole-stage
    codegen, no shuffle; at 100 TB this is scan-bound, exactly what a
    redaction pass should be."""
    masked = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", PII_EMAIL_RE, "<EMAIL>"),
            PII_IP_RE, "<IP>",
        ),
        PII_PHONE_RE, "<PHONE>",
    )
    n_emails = F.regexp_count("text", F.lit(PII_EMAIL_RE))
    n_ips = F.regexp_count("text", F.lit(PII_IP_RE))
    n_phones = F.regexp_count("text", F.lit(PII_PHONE_RE))
    return documents.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
        masked.alias("masked_text"),
        ((n_emails + n_ips + n_phones) > 0).alias("has_pii"),
    )


def lm_score(documents: DataFrame, vocab_size: int = 65536) -> DataFrame:
    """CCNet-style unigram-LM quality score: per-doc cross-entropy in
    nats under a unigram LM trained on the corpus itself (the classic
    perplexity-bucket quality signal, with the corpus standing in for
    the pretrained LM this container can't hold).

    Two-pass shape built for 100 TB:
      * pass 1 — token -> count: ONE shuffle, map-side combined. The
        count table is checkpointed once and feeds BOTH the total-mass
        row and the top-V vocab (without the barrier Catalyst re-runs
        the corpus aggregation per consumer).
      * vocab — global top-``vocab_size`` by (count DESC, token ASC):
        a TakeOrdered over the bounded count table, broadcast to the
        scorers. Per-token nats are computed ONCE PER VOCAB ENTRY as
        round(ln(total/cnt)*1e6) longs — ln evaluated V times, not
        once per token instance — so the per-doc sum is an exact
        integer sum: order-independent under partial aggregation and
        bit-identical to the DuckDB oracle.
      * pass 2 — explode -> broadcast vocab join -> per-doc grouped
        sum (map-side combined). OOV tokens take the 1/total floor
        (ln(total) nats), so a rare-word doc scores strictly worse
        than the rarest in-vocab word would.
    The token array is staged behind one checkpoint: the corpus is
    tokenized exactly once across both passes."""
    staged = _tok_frame(documents)  # tokenize once; feeds both passes
    ex = staged.select("doc_id", F.explode("t").alias("tok"))
    counts = (
        ex.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)  # feeds total AND vocab once
    )
    total_df = counts.agg(F.sum("cnt").alias("total"))  # one row
    vocab = (
        counts.orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .crossJoin(F.broadcast(total_df))
        .select(
            "tok",
            F.round(F.log(F.col("total") / F.col("cnt")) * 1e6)
            .cast("long").alias("nats_x1e6"),
        )
    )
    scored = (
        ex.join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(total_df))
        .select(
            "doc_id",
            F.coalesce(
                "nats_x1e6",
                F.round(F.log("total") * 1e6).cast("long"),
            ).alias("nats"),
            F.col("nats_x1e6").isNull().cast("int").alias("oov"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("oov").cast("long").alias("n_oov"),
        F.round(F.sum("nats") / F.count(F.lit(1)) / 1e6, 6).alias("xent_nats"),
    )


def tfidf_topk(documents: DataFrame, k: int = 5, min_df: int = 2) -> DataFrame:
    """Per-doc top-k TF-IDF keywords: tf from a (doc, token) grouped
    count, document frequency from a token grouped count over that,
    idf = ln(n_docs/df), ranked per doc by (tf*idf DESC, token ASC).

    Scale shape: the (doc_id, token) count is the only corpus-sized
    shuffle (map-side combined) and is checkpointed once for its two
    consumers (the df rollup and the scoring join). idf is quantized
    ONCE PER TOKEN to a round(ln(n_docs/df)*1e6) long, so the ranking
    key tf*idf_x1e6 is an exact integer — the per-doc row_number is
    total-ordered identically in Spark and the DuckDB oracle, no
    float-tie nondeterminism. The tf<->df join keys on token with no
    forced strategy: AQE broadcasts the df side while it fits and
    falls back to shuffle join on an unbounded vocabulary. The window
    partitions by doc_id — parallel across docs, k rows out each."""
    staged = _tok_frame(documents)  # tokenize once
    tf = (
        staged.select("doc_id", F.explode("t").alias("term"))
        .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)  # feeds df rollup AND scoring join
    )
    n_docs_df = staged.agg(F.count(F.lit(1)).alias("n_docs"))  # one row
    dfreq = (
        tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
        .filter(F.col("df_docs") >= min_df)
        .crossJoin(F.broadcast(n_docs_df))
        .select(
            "term", "df_docs",
            F.round(F.log(F.col("n_docs") / F.col("df_docs")) * 1e6)
            .cast("long").alias("idf_x1e6"),
        )
    )
    scored = tf.join(dfreq, "term").select(
        "doc_id", "term", "tf", "df_docs",
        (F.col("tf") * F.col("idf_x1e6")).alias("score_x1e6"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_x1e6").desc(), F.col("term").asc()
    )
    return (
        scored.select(
            "doc_id", F.row_number().over(w).alias("rank"),
            "term", "tf", "df_docs",
            F.round(F.col("score_x1e6") / 1e6, 6).alias("score"),
        )
        .filter(F.col("rank") <= k)
    )


def curation_funnel(documents: DataFrame, benchmark_texts,
                    quality_min: float = 0.5, top2_max: float = 0.2,
                    dup3_max: float = 0.3,
                    keep_map: DataFrame | None = None) -> DataFrame:
    """Per-source curation funnel report: how many docs each pipeline
    stage drops, attributed to the FIRST failing stage in pipeline
    order (quality -> repetition -> contamination -> near-dup), so the
    drop columns plus survivors sum exactly to n_docs per source —
    the accounting table a 100 TB cleaning run publishes next to its
    output.

    One pass over the shared _curate_signals frame (same staged
    single-scan dataflow as curate_corpus) followed by a single
    grouped conditional aggregation on source (map-side combined,
    output bounded by the source count)."""
    sig = _curate_signals(documents, benchmark_texts, keep_map=keep_map)
    f_quality = F.col("quality") < quality_min
    f_rep = (F.col("top_2gram_frac") > top2_max) | (
        F.col("dup_3gram_frac") > dup3_max)
    f_con = F.col("contaminated")
    f_dup = F.col("doc_id") != F.col("keep_doc_id")

    def n(cond: F.Column, name: str) -> F.Column:
        return F.sum(cond.cast("int")).cast("long").alias(name)

    return sig.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        n(f_quality, "drop_quality"),
        n(~f_quality & f_rep, "drop_repetition"),
        n(~f_quality & ~f_rep & f_con, "drop_contaminated"),
        n(~f_quality & ~f_rep & ~f_con & f_dup, "drop_near_dup"),
        n(~f_quality & ~f_rep & ~f_con & ~f_dup, "n_survivors"),
    )


def length_quantiles(documents: DataFrame,
                     pcts: tuple = (25, 50, 75, 90, 99)) -> DataFrame:
    """Exact per-source token-length quantiles (type-1 / inverted-CDF:
    the value at sorted position ceil(q*n) — no interpolation, so the
    answer is an observed integer and cross-engine comparison never
    hinges on float interpolation semantics).

    Shape for scale: the stream-sized work is ONE grouped count on
    (source, n_tokens) — a histogram whose row count is bounded by the
    distinct-length support, not the corpus. The cumulative window and
    the per-percentile min run on that histogram. This is the exact
    analogue of percentile_approx's sketch path, except the histogram
    is exact (token lengths have small support; for unbounded-support
    metrics swap in percentile_approx and drop the oracle to
    rows-only). Position arithmetic is integer: pos = ceil(p*n/100) =
    (p*n + 99) div 100."""
    lens = documents.select(
        "source", F.size(_tokens_col()).cast("long").alias("n_tokens"))
    hist = lens.groupBy("source", "n_tokens").agg(
        F.count(F.lit(1)).cast("long").alias("c"))
    w = (Window.partitionBy("source").orderBy("n_tokens")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = hist.withColumn("cum", F.sum("c").over(w).cast("long"))
    tot = hist.groupBy("source").agg(F.sum("c").cast("long").alias("n_docs"))
    pq = tot.select(
        "source", "n_docs",
        F.explode(F.array(*[F.lit(int(p)) for p in pcts])).alias("pct"),
    ).withColumn("pos", F.expr("(pct * n_docs + 99) DIV 100").cast("long"))
    return (
        cum.join(pq, "source")
        .where(F.col("cum") >= F.col("pos"))
        .groupBy("source", F.col("pct").cast("int").alias("pct"), "n_docs")
        .agg(F.min("n_tokens").cast("long").alias("value"))
    )


def chunk_overlap(documents: DataFrame, size: int = 12,
                  overlap: int = 4) -> DataFrame:
    """RAG / long-context chunking: split every document's token
    stream into chunks of ``size`` tokens that overlap by ``overlap``
    (stride = size - overlap), the standard retrieval-index prep that
    complements pack_offsets (which concatenates-and-chops WITHOUT
    overlap for pretraining). Chunk starts are 1, 1+stride, 1+2*stride
    ... while start <= n, so every token is covered and the final
    chunk may be short.

    Tokens are staged behind a checkpoint barrier (the repo's lambda
    re-evaluation discipline — the per-chunk slice must not re-run the
    tokenizer per chunk index), then ONE posexplode emits the chunk
    rows: a single corpus scan, no shuffle at all until a consumer
    aggregates. Per-chunk md5 gives the retrieval layer a stable chunk
    key for incremental re-embedding.
    """
    stride = size - overlap
    if stride <= 0:
        raise ValueError("chunk_overlap needs overlap < size")
    staged = _tok_frame(documents).withColumn("n", F.size("t"))
    chunks = staged.select(
        "doc_id", "n",
        F.posexplode(
            F.expr(f"transform(sequence(1, greatest(1, n), {stride}), "
                   f"s -> array_join(slice(t, s, {size}), ' '))")
        ).alias("chunk_idx", "chunk_text"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        (F.col("chunk_idx").cast("long") * stride).alias("start0"),
        F.least(F.lit(size),
                F.col("n").cast("long") - F.col("chunk_idx") * stride)
        .cast("long").alias("chunk_len"),
        F.expr("md5(chunk_text)").alias("chunk_hash"),
    )


def zipf_profile(documents: DataFrame) -> DataFrame:
    """Per-source vocabulary profile on the Zipf axis: token
    frequencies bucketed by floor(log2(freq)) — the exact-integer
    bit-length bucketing shared with kgquality.degree_histogram (never
    float log2: boundary rounding is library-dependent). Per (source,
    bucket): distinct vocabulary size, total occurrence mass, and
    within-source share in ppm (integer arithmetic, order-
    independent). Bucket 0 is the hapax band — the single-occurrence
    tail whose share drives vocabulary-growth (Heaps-law)
    extrapolation and tokenizer-vocab sizing for a 100 TB corpus.

    Two map-side-combinable groupBys (token counts, then bucket
    rollup over the vocabulary-sized intermediate) and a broadcast
    join of the tiny per-source totals — no window, no collect.
    """
    toks = _tok_frame(documents, ("source",), checkpoint=False) \
        .select("source", F.explode("t").alias("tok"))
    freq = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("freq"))
    buckets = (
        freq.withColumn("bucket", F.expr("CAST(length(bin(freq)) - 1 AS INT)"))
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("freq").cast("long").alias("occurrences"),
            F.min("freq").cast("long").alias("min_freq"),
            F.max("freq").cast("long").alias("max_freq"),
        )
    )
    total = buckets.groupBy("source").agg(
        F.sum("occurrences").cast("long").alias("_tot"))
    return (
        buckets.join(F.broadcast(total), "source")
        .withColumn("share_ppm",
                    F.expr("CAST((occurrences * 1000000) DIV _tot AS BIGINT)"))
        .drop("_tot")
    )


def bpe_merge_pairs(documents: DataFrame, top_k: int = 20) -> DataFrame:
    """The BPE vocabulary-induction primitive at corpus scale: global
    frequencies of ADJACENT token pairs — each greedy BPE round merges
    the current top pair, so this table IS one iteration of the Gage /
    Sennrich training loop re-expressed as a distributed agg (the
    per-round merge application is a per-doc map; the corpus-wide
    reduction is the part that needs the cluster). Returned: the
    ``top_k`` pairs under the deterministic total order (count DESC,
    pair ASC — unique boundary, so LIMIT is engine-stable).

    One staged-token scan -> one posexplode-free transform+explode ->
    one map-side-combined count -> TakeOrderedAndProject for the
    top-k (never a single-partition rank window).
    """
    staged = _tok_frame(documents).withColumn("n", F.size("t"))
    pairs = staged.where(F.col("n") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, n - 1), "
                   "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(top_k)
    )


def ccnet_buckets(documents: DataFrame, vocab_size: int = 65536) -> DataFrame:
    """CCNet head/middle/tail quality split (Wenzek et al. 2020): per
    SOURCE, rank documents by unigram-LM cross-entropy and cut the
    distribution into exact tertiles — head = cleanest third, the slice
    CCNet keeps unconditionally. Returns one row per (source, bucket)
    with the doc count and the integer cut value that bounded it.

    The per-doc score is the lm_score sum on the integer grid, kept as
    ``sum(nats_x1e6) div n_tokens`` (floor mean, BIGINT) so bucket
    comparisons never touch a double. Bucketing avoids CCNet's global
    per-source sort: a (source, score) histogram (the
    length_quantiles discipline) yields the two tertile cuts — the
    cumulative window runs over the HISTOGRAM, whose size is bounded by
    distinct integer scores, not the corpus — and docs bucket by
    comparing to their source's broadcast cuts. Corpus-sized work is
    exactly lm_score's two passes plus one grouped count.
    """
    staged = _tok_frame(documents, ("doc_id", "source"))  # tokenize once; feeds both passes
    ex = staged.select("doc_id", "source", F.explode("t").alias("tok"))
    counts = (
        ex.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    total_df = counts.agg(F.sum("cnt").alias("total"))  # one row
    vocab = (
        counts.orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .crossJoin(F.broadcast(total_df))
        .select(
            "tok",
            F.round(F.log(F.col("total") / F.col("cnt")) * 1e6)
            .cast("long").alias("nats_x1e6"),
        )
    )
    doc = (
        ex.join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(total_df))
        .select(
            "doc_id", "source",
            F.coalesce(
                "nats_x1e6",
                F.round(F.log("total") * 1e6).cast("long"),
            ).alias("nats"),
        )
        .groupBy("doc_id", "source")
        .agg(F.expr("sum(nats) div count(1)").cast("long").alias("score"))
        .localCheckpoint(eager=False)  # feeds the histogram AND the bucket join
    )
    hist = doc.groupBy("source", "score").agg(
        F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.partitionBy("source").orderBy("score") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.withColumn("cum", F.sum("c").over(w))  # histogram-sized window
    tot = hist.groupBy("source").agg(F.sum("c").cast("long").alias("n_docs"))
    cuts = (
        cum.join(tot, "source")
        .groupBy("source")
        .agg(
            F.min(F.when(F.col("cum") * 3 >= F.col("n_docs"), F.col("score")))
            .alias("cut1"),
            F.min(F.when(F.col("cum") * 3 >= F.col("n_docs") * 2, F.col("score")))
            .alias("cut2"),
        )
    )
    bucketed = doc.join(F.broadcast(cuts), "source").select(
        "source",
        F.when(F.col("score") <= F.col("cut1"), F.lit("head"))
        .when(F.col("score") <= F.col("cut2"), F.lit("middle"))
        .otherwise(F.lit("tail")).alias("bucket"),
        "cut1", "cut2",
    )
    return bucketed.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("cut1").cast("long").alias("cut1"),
        F.max("cut2").cast("long").alias("cut2"),
    )


def dsir_weights(documents: DataFrame, n_buckets: int = 256) -> DataFrame:
    """DSIR-style importance scores for data selection (Xie et al.
    2023: hashed n-gram features, importance = target-vs-raw likelihood
    ratio): the TARGET distribution is the lexicographically smallest
    source (deterministic stand-in for "the high-quality domain"); the
    RAW distribution is the whole corpus. Each token hashes into one of
    ``n_buckets`` feature buckets; a document's score is the mean
    per-token bucket ratio.

    Integer-grid surrogate for the log-ratio: per bucket,
    ``ratio_ppm = tgt_ppm * 1e6 div max(1, raw_ppm)`` where tgt_ppm /
    raw_ppm are the bucket's ppm shares of the target / raw token mass
    (BIGINT throughout; cnt*1e6 is BIGINT-safe to ~9e12 tokens per
    side — coarsen the grid past that). Ratio > 1e6 means the bucket
    is target-enriched; the per-doc mean is a floor-divided BIGINT so
    partial-aggregation order cannot flip a rounding.

    Scale shape: tokenize once (staged + checkpointed), ONE corpus
    explode feeding (a) the 256-row bucket table (two map-side-combined
    counts) and (b) the per-doc scorer; the bucket table broadcasts.
    """
    staged = _tok_frame(documents, ("doc_id", "source"))  # tokenize once
    tgt_src = staged.agg(F.min("source").alias("s"))  # one row
    ex = staged.select(
        "doc_id", "source",
        F.explode("t").alias("tok"),
    ).select(
        "doc_id", "source",
        F.expr(portable.md5_mod("tok", n_buckets)).cast("int").alias("bucket"),
    ).localCheckpoint(eager=False)  # feeds the bucket table AND the scorer
    ex_flag = ex.crossJoin(F.broadcast(tgt_src)).select(
        "doc_id", "bucket", (F.col("source") == F.col("s")).cast("long").alias("is_tgt"))
    buckets = ex_flag.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("raw_cnt"),
        F.sum("is_tgt").cast("long").alias("tgt_cnt"),
    )
    totals = buckets.agg(F.sum("raw_cnt").alias("raw_tot"),
                         F.sum("tgt_cnt").alias("tgt_tot"))  # one row
    ratios = (
        buckets.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.expr("(tgt_cnt * 1000000 div greatest(1L, tgt_tot)) * 1000000 "
                   "div greatest(1L, raw_cnt * 1000000 div raw_tot)")
            .cast("long").alias("ratio_ppm"),
        )
    )
    return (
        ex_flag.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.expr("sum(ratio_ppm) div count(1)").cast("long").alias("dsir_ppm"),
        )
    )


def winnow_fingerprints(documents: DataFrame, k: int = 5, w: int = 4) -> DataFrame:
    """Robust winnowing fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): from each sliding window of ``w``
    consecutive k-gram hashes, select the minimum (RIGHTMOST position
    on ties, the paper's robustness rule), then emit the distinct
    selected (position, hash) pairs per document. Guarantees every
    match of length >= w+k-1 shares a fingerprint while storing ~2/(w+1)
    of the hashes — the principled subset doc_fingerprint's plain
    k-gram set does not give.

    All built-ins: the k-gram hash array is staged as a multi-referenced
    column (the _with_shingles CollapseProject discipline — tokenize and
    hash once per document, not once per window); window selection is a
    transform over index sequences with array_min + reversed
    array_position for the rightmost tie-break. One explode + one
    distinct; no joins, no corpus-wide state.
    """
    from deepref_spark.portable import hex32

    staged = _tok_frame(documents, checkpoint=False) \
        .withColumnRenamed("t", "_toks").withColumn("_n", F.size("_toks"))
    hashed = staged.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, greatest(1, _n - {k - 1})), "
            f"i -> md5(array_join(slice(_toks, i, {k}), ' ')))"
        ).alias("_hs"),
    ).withColumn("_m", F.size("_hs")).select(
        "doc_id",
        F.expr(f"transform(_hs, h -> {hex32('h', 0, SPARK)})").alias("hv"),
        F.col("_m"),
    )
    # per window i: v = min(slice), pos = i + rightmost index of v - 1
    sel = hashed.select(
        "doc_id",
        F.explode(F.expr(
            f"transform(sequence(1, greatest(1, _m - {w - 1})), i -> "
            f"named_struct("
            f"'fp', array_min(slice(hv, i, {w})), "
            f"'pos', i + size(slice(hv, i, {w})) "
            f"      - array_position(reverse(slice(hv, i, {w})), "
            f"                       array_min(slice(hv, i, {w})))"
            f"))"
        )).alias("s"),
    )
    return (
        sel.select("doc_id",
                   F.col("s.pos").cast("int").alias("pos"),
                   F.col("s.fp").cast("long").alias("fp"))
        .distinct()
    )


# default BM25 retrieval benchmark queries over the synthetic corpus
# vocabulary — literal (query_id, text) pairs so both engines embed the
# identical term sets as plan constants
BM25_QUERIES = (
    ("q1", "spark join filter"),
    ("q2", "window merge sort"),
    ("q3", "fast table scan customer"),
)
# k1 = 1.2, b = 0.75 as exact rationals: score term
#   idf * tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl/avgdl)
# with avgdl = TL/N multiplied through by 10*TL becomes the all-integer
#   idf_x1e6 * 22*tf*TL // (10*tf*TL + 3*TL + 9*dl*N)
# (numerators below; see bm25_topk for the overflow budget)


def bm25_topk(documents: DataFrame, queries=BM25_QUERIES,
              k: int = 5, min_should_match: int = 1) -> DataFrame:
    """Per-query BM25 top-k document retrieval (Robertson/Sparck Jones
    idf, k1=1.2, b=0.75) — the relevance-ranking primitive a curation
    pipeline uses for targeted corpus slicing (pull the top documents
    for each probe query before an expensive human/model review pass).
    Returns (query_id, rank, doc_id, n_hit_terms, score).

    Exact-integer discipline: idf is quantized once per term to
    round(ln((N-df+0.5)/(df+0.5)+1)*1e6) BIGINT, and the per-(doc,term)
    contribution is the floor-divided micro-score
    idf_x1e6*22*tf*TL // (10*tf*TL + 3*TL + 9*dl*N) — k1/b multiplied
    through by 10*TL so the denominator is integral. Per-doc totals
    are BIGINT sums (aggregation-order independent), the top-k
    row_number orders on (total DESC, doc_id) with no float ties, and
    the one double division (score = total/1e6) happens after ranking.
    Overflow budget: idf_x1e6 ≤ ~21e6 (ln caps near e^?·N), so the
    numerator stays under 2^63 while tf·TL < ~2e13 — beyond that
    (≳10^12 corpus tokens) coarsen the grid to x1e3 or compute the
    contribution in DOUBLE and drop the oracle to rows-only.

    Scale shape: tokenize once behind a checkpoint barrier, ONE
    corpus-sized (doc,term) grouped count semi-joined down to query
    terms immediately (the df/dl/N/TL statistics are computed on the
    full corpus, but the scoring join only ever carries query-term
    postings), query terms broadcast, totals one grouped sum bounded
    by n_queries × corpus hits, and the ranking window partitions by
    query_id over ≤ hit-count rows."""
    qterms = [
        (qid, t)
        for qid, text in queries
        for t in sorted(set(portable.norm_tokens_py(text)))
    ]
    spark = documents.sparkSession
    qt = F.broadcast(local_frame(spark, qterms, "query_id string, term string"))
    staged = _tok_frame(documents)  # tokenize once for tf AND dl
    tf = (
        staged.select("doc_id", F.explode("t").alias("term"))
        .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)  # feeds df stats AND scoring join
    )
    dl = staged.select("doc_id", F.size("t").cast("long").alias("dl"))
    corpus = F.broadcast(
        dl.agg(F.count(F.lit(1)).alias("n_docs"),
               F.sum("dl").alias("tl"))
    )  # one row
    dfreq = (
        tf.join(qt.select("term").distinct(), "term", "left_semi")
        .groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
        .crossJoin(corpus)
        .select(
            "term",
            F.round(F.log(
                (F.col("n_docs") - F.col("df_docs") + F.lit(0.5))
                / (F.col("df_docs") + F.lit(0.5)) + F.lit(1.0)
            ) * 1e6).cast("long").alias("idf_x1e6"),
        )
    )
    hits = (
        qt.join(tf, "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(corpus)
        .select(
            "query_id", "doc_id",
            F.expr(portable.idiv(
                "(idf_x1e6 * 22 * tf * tl)",
                "(10 * tf * tl + 3 * tl + 9 * dl * n_docs)", SPARK,
            )).alias("micro"),
        )
    )
    totals = hits.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
        F.sum("micro").cast("long").alias("total"),
    ).where(F.col("n_hit_terms") >= min_should_match)
    w = Window.partitionBy("query_id").orderBy(
        F.col("total").desc(), F.col("doc_id").asc())
    return (
        totals.select(
            "query_id", F.row_number().over(w).alias("rank"),
            "doc_id", "n_hit_terms",
            F.round(F.col("total") / 1e6, 6).alias("score"),
        )
        .where(F.col("rank") <= k)
    )


def textrank_keywords(documents: DataFrame, min_len: int = 4,
                      iters: int = 3, k: int = 20) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004, adjacency
    window = 2): content words (length >= min_len) become nodes, an
    undirected edge links words adjacent in any document, and the
    fixed-iteration integer-grid PageRank (operators/graph.pagerank)
    ranks them. Returns the corpus top-k: (rank, word, score).

    Scale shape: tokens are STAGED behind a lazy localCheckpoint (the
    lambda re-evaluation trap), adjacency pairs are built inline from
    the array (no position self-join), the edge set is distinct-ed to
    vocab^2-bounded size, and the PageRank iterate is the shared
    checkpointed-loop operator. The final top-k window runs on the
    vocab-sized rank table, never on corpus rows."""
    from deepref_spark.operators.graph import pagerank

    staged = _tok_frame(documents)
    pairs = staged.select(
        F.explode(F.expr(
            "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1), "
            "i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b)) "
            "ELSE array() END"
        )).alias("p")
    ).select("p.a", "p.b").where(
        (F.length("a") >= min_len) & (F.length("b") >= min_len)
        & (F.col("a") != F.col("b"))
    )
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
    )
    pr = pagerank(edges, iters=iters)
    w = Window.orderBy(F.col("pagerank").desc(), F.col("entity").asc())
    return (
        pr.select(F.row_number().over(w).cast("long").alias("rank"),
                  F.col("entity").alias("word"),
                  F.round("pagerank", 6).alias("score"))
        .where(F.col("rank") <= k)
    )


def vocab_growth(documents: DataFrame, bucket_docs: int = 100) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: per doc_id bucket of
    ``bucket_docs`` documents, the running total tokens seen and the
    running distinct vocabulary — the (N, V) pairs a tokenizer-sizing
    or corpus-scaling analysis fits Heaps' V = K*N^beta against.
    Returns (bucket, n_docs, n_tokens, n_tokens_cum, new_terms,
    vocab_cum).

    Scale shape: token totals are sum(size(tokens)) grouped per bucket
    (no explode); the vocabulary side explodes once but immediately
    min-aggregates to one row per distinct term (first_bucket, the
    kg_discovery_curve discipline — order-independent min), then
    counts per bucket. Both cumulative windows run on the tiny bucket
    table only."""
    staged = _tok_frame(documents)
    bucket = F.expr(f"doc_id div {bucket_docs}").alias("bucket")
    totals = staged.groupBy(bucket).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("t")).cast("long").alias("n_tokens"),
    )
    first_seen = (
        staged.select(bucket, F.explode("t").alias("term"))
        .groupBy("term").agg(F.min("bucket").alias("first_bucket"))
        .groupBy(F.col("first_bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("new_terms"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        totals.join(first_seen, "bucket", "left")
        .select("bucket", "n_docs", "n_tokens",
                F.coalesce("new_terms", F.lit(0)).cast("long")
                .alias("new_terms"))
        .select(
            "bucket", "n_docs", "n_tokens",
            F.sum("n_tokens").over(w).cast("long").alias("n_tokens_cum"),
            "new_terms",
            F.sum("new_terms").over(w).cast("long").alias("vocab_cum"),
        )
    )


def readability(documents: DataFrame) -> DataFrame:
    """Flesch reading-ease on the milli integer grid: words = the
    shared norm-tokens count, sentences = terminator runs ([.!?]+,
    min 1), syllables = vowel-group runs — all via regexp_extract_all
    counts (simple character classes, identical semantics in Java and
    RE2 regex engines). flesch_milli = 206835
    - (1015 * words) div sentences - (84600 * syllables) div words,
    so the score is bit-identical in the SQL twin. Returns
    (doc_id, n_words, n_sentences, n_syllables, flesch_milli) — the
    classic quality signal next to the Gopher/C4 filter tables.

    Pure JVM single-scan projection; each regex runs once per document
    (no per-token lambda)."""
    toks = portable.norm_tokens("text", SPARK)
    return documents.select(
        "doc_id",
        F.expr(f"CAST(size({toks}) AS BIGINT)").alias("n_words"),
        F.expr("CAST(greatest(size(regexp_extract_all(text, '[.!?]+', 0)), 1)"
               " AS BIGINT)").alias("n_sentences"),
        F.expr("CAST(size(regexp_extract_all(lower(text), '[aeiou]+', 0)) "
               "AS BIGINT)").alias("n_syllables"),
    ).select(
        "doc_id", "n_words", "n_sentences", "n_syllables",
        F.expr("CAST(206835 - (1015 * n_words) div n_sentences "
               "- (84600 * n_syllables) div greatest(n_words, 1) AS BIGINT)")
        .alias("flesch_milli"),
    )


def hash_features(documents: DataFrame, dim: int = 32) -> DataFrame:
    """Feature-hashing (hashing-trick) document vectors — the
    fixed-width featurization (Weinberger et al. 2009) a scalable ML
    prep stage uses instead of a vocabulary dictionary: every token
    hashes to one of ``dim`` feature indexes and the doc's vector is
    the per-index count, emitted as sparse (doc_id, feat, cnt) rows.

    No vocabulary state anywhere (the whole point at 100 TB: no
    dictionary build, no broadcast, new tokens never resize anything);
    one explode + one map-side-combinable grouped count. The md5-based
    index is the repo's cross-engine hash, so the oracle reproduces
    every bucket exactly.
    """
    from deepref_spark.portable import md5_mod

    return (
        _tok_frame(documents, checkpoint=False)
        .select("doc_id", F.explode("t").alias("tok"))
        .select("doc_id",
                F.expr("CAST(" + md5_mod("tok", dim) + " AS INT)")
                .alias("feat"))
        .groupBy("doc_id", "feat")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def rake_keywords(documents: DataFrame, k: int = 20,
                  max_phrase_len: int = 4) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal token runs free of stopwords AND of the kept
    punctuation tokens , . ( ) (both delimit, per the paper's
    phrase-boundary rule); each word scores
    degree/frequency where degree(w) = sum of the lengths of the
    phrases containing w (co-occurrence counting, self included) and
    frequency(w) = its occurrence count across phrases; a phrase
    scores the sum of its member-word scores. The statistical
    companion to textrank_keywords (corpus co-occurrence graph): RAKE
    is per-phrase local, so multi-word keyphrases surface directly.

    Determinism + scale shape: word scores live on the exact ppm grid
    (deg * 1e6 DIV freq); tokens are STAGED behind a lazy
    localCheckpoint (the lambda re-evaluation trap); the run-splitting
    window partitions per doc_id; phrases DEDUPLICATE to (text, plen,
    n_occ) before the word explode, so word statistics stream from
    the distinct-phrase table weighted by n_occ — identical totals,
    far fewer rows. Runs longer than ``max_phrase_len`` are dropped
    (they are degree-inflating glue, and the cap also bounds the
    zero-stopword-document pathological phrase); the oracle applies
    the same cap. The final top-k window runs on the bounded
    distinct-phrase score table."""
    staged = _tok_frame(documents)
    pos = staged.select(
        "doc_id", F.posexplode("t").alias("pos", "tok"))
    pos = pos.withColumn(
        "is_sw",
        F.when(F.expr(portable.stopword_cond("tok"))
               | F.col("tok").isin(",", ".", "(", ")"),
               1).otherwise(0))
    wdoc = Window.partitionBy("doc_id").orderBy("pos") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    runs = (
        pos.withColumn("grp", F.sum("is_sw").over(wdoc))
        .where(F.col("is_sw") == 0)
    )
    phrases = (
        runs.groupBy("doc_id", "grp")
        .agg(F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(pos, tok))), s -> s.tok), ' ')").alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("plen"))
        .where(F.col("plen") <= max_phrase_len)
    )
    dphrase = (
        phrases.groupBy("phrase", "plen")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
        .localCheckpoint(eager=False)  # feeds word stats + final score
    )
    words = dphrase.select(
        "plen", "n_occ", F.explode(F.split("phrase", " ")).alias("w"))
    wstats = (
        words.groupBy("w")
        .agg(F.sum("n_occ").cast("long").alias("freq"),
             F.sum(F.col("n_occ") * F.col("plen")).cast("long").alias("deg"))
        .withColumn("score_ppm",
                    F.expr("deg * 1000000 DIV freq").cast("long"))
    )
    pscore = (
        dphrase.select("phrase", "plen", "n_occ",
                       F.explode(F.split("phrase", " ")).alias("w"))
        .join(wstats.select("w", "score_ppm"), "w")
        .groupBy("phrase", "plen", "n_occ")
        .agg(F.sum("score_ppm").cast("long").alias("score_ppm"))
    )
    wtop = Window.orderBy(F.col("score_ppm").desc(), F.col("phrase"))
    return (
        pscore.select(
            F.row_number().over(wtop).cast("long").alias("rank"),
            "phrase", F.col("plen").alias("n_words"),
            F.col("n_occ").alias("n_occurrences"), "score_ppm")
        .where(F.col("rank") <= k)
    )


def novelty_stats(documents: DataFrame, k: int = 5) -> DataFrame:
    """Cross-document k-gram novelty: for every document, the fraction
    of its DISTINCT k-token shingles that appear in no other document
    — the memorization/duplication diagnostic between exact dedup
    (identical docs) and contamination_screen (overlap vs a benchmark
    set): a corpus whose novelty collapses is recycling boilerplate
    even when no two documents are near-duplicates.

    Pipeline: tokens STAGED behind a checkpoint barrier (the
    fingerprint/contamination staging discipline — the shingle lambda
    must never re-run the tokenizer), per-doc DISTINCT shingle md5
    keys (portable grid, same formula in the oracle), then ONE grouped
    count per gram key — since the per-doc distinct ran first,
    n_docs(gram) >= 2 IS "shared with another doc"; a semi-join-shaped
    equi-join carries the flag back and a per-doc sum finishes.
    Map-side combinable everywhere; no self-join, no pair explosion —
    gram cardinality, not gram-pair cardinality, bounds the shuffle.
    Short docs (< k tokens) contribute ONE shingle over their whole
    token list (fingerprint's greatest(1, ...) bound — NOT
    greatest(0, ...): Spark's sequence(1, 0) descends), so every doc
    surfaces in the output.
    """
    staged = _tok_frame(documents)
    gram = portable.md5_mod(f"array_join(slice(t, i, {k}), ' ')", 1_000_003)
    doc_grams = (
        staged.select(
            "doc_id",
            F.explode(F.expr(
                f"transform(sequence(1, greatest(1, size(t) - {k - 1})), "
                f"i -> {gram})"
            )).alias("g"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds the gram count AND the carry-back
    )
    gram_docs = doc_grams.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("nd"))
    per_doc = (
        doc_grams.join(gram_docs, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("nd") >= 2).cast("long")).cast("long").alias("n_shared"),
        )
    )
    return (
        staged.select("doc_id").join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            F.expr(
                "coalesce((n_grams - n_shared) * 1000000"
                " div greatest(1L, n_grams), 1000000)"
            ).cast("long").alias("novelty_ppm"),
        )
    )


def watermark_stats(documents: DataFrame,
                    min_tokens: int = 50,
                    flag_ppm: int = 640_000) -> DataFrame:
    """Green-list watermark detector (Kirchenbauer et al. 2023,
    hash-partition form): a generation-time watermark biases sampling
    toward a pseudorandom "green" half of the vocabulary, so detection
    is counting how far a document's green-token fraction sits above
    the 1/2 a clean text produces. The screen a training-data pipeline
    runs to keep watermarked synthetic text OUT of a pretraining mix
    (self-training collapse hygiene).

    Stand-in keying: a real deployment keys green membership on
    hash(prev_token, token) with a secret salt; here the green set is
    the portable md5 parity of the token itself — the same detector
    dataflow (tokenize -> membership -> binomial tail) with a key both
    engines can evaluate. Flag rule on the exact integer grid:
    n_tokens >= min_tokens AND green_ppm >= flag_ppm (640000 ~ a
    one-sided z >= 2 at n = 50; tighten per corpus). Pure projection +
    per-doc sums over the staged token column — one scan, no joins.
    """
    staged = _tok_frame(documents, checkpoint=False)
    green = portable.md5_mod("x", 2)
    return staged.select(
        "doc_id",
        F.expr("size(t)").cast("long").alias("n_tokens"),
        F.expr(
            f"aggregate(t, 0L, (acc, x) -> acc + {green})"
        ).cast("long").alias("n_green"),
    ).select(
        "doc_id", "n_tokens", "n_green",
        F.expr("n_green * 1000000 div greatest(1L, n_tokens)")
        .cast("long").alias("green_ppm"),
        F.expr(
            f"n_tokens >= {int(min_tokens)} AND "
            f"n_green * 1000000 div greatest(1L, n_tokens) >= {int(flag_ppm)}"
        ).alias("watermark_flag"),
    )


def fertility_stats(documents: DataFrame) -> DataFrame:
    """Tokenizer fertility per language: pieces-per-word of the REAL
    BERT tokenization (BasicTokenizer normalization + greedy wordpiece
    over the pinned vocab — operators/tokenize.wordpiece_basic_words)
    over the `documents` corpus, rolled up per lang — the standard
    multilingual-tokenizer efficiency read (fertility >> 1 for a
    language means its text costs that many times more sequence
    positions per word, the signal that drives vocab re-balancing
    before a 100 TB pretraining run). n_unk counts [UNK] pieces (vocab
    coverage failures) on the same grid.

    Zipf shape: the wordpiece kernel runs over the DISTINCT-WORD
    dictionary only (orders of magnitude smaller than the token
    stream); per-(lang, word) occurrence counts are one map-side-
    combined groupBy, and the dictionary joins back by word — the
    tokenize-batch piece-cache discipline as a corpus rollup.
    """
    from deepref_spark.operators.tokenize import wordpiece_basic_words

    staged = documents.select(
        "lang", F.expr(portable.norm_tokens("text", SPARK)).alias("t"))
    wcnt = (
        staged.select("lang", F.explode("t").alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)  # feeds the dictionary AND the join
    )
    wp = wordpiece_basic_words(wcnt.select("word").distinct())
    wpn = wp.select(
        "word",
        F.expr("size(filter(split(wp, ' '), x -> x <> ''))")
        .cast("long").alias("np"),
        F.expr("size(filter(split(wp, ' '), x -> x = '[UNK]'))")
        .cast("long").alias("nu"),
    )
    return (
        wcnt.join(wpn, "word")
        .groupBy("lang")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.col("np")).cast("long").alias("n_pieces"),
            F.sum(F.col("c") * F.col("nu")).cast("long").alias("n_unk"),
        )
        .select(
            "lang", "n_words", "n_pieces", "n_unk",
            F.expr("n_pieces * 1000000 div greatest(1L, n_words)")
            .cast("long").alias("fertility_ppm"),
        )
    )


def js_divergence(documents: DataFrame) -> DataFrame:
    """Per-source Jensen-Shannon divergence between each source's
    unigram token distribution and the pooled corpus distribution —
    the corpus-drift audit a mixing pipeline runs BEFORE reweighting
    (mixing_plan decides how much of each source to take; this
    measures how far each source's language actually sits from the
    blend, the signal behind domain-weight tuning and ingest drift
    alarms). JS, unlike KL, is finite for tokens a source never emits.

    Exact cross-engine arithmetic: with c = per-(source,token) count,
    T_s = source total, C = corpus token count, T = corpus total,
        p/m = 2cT  / (cT + C*T_s)         (m the midpoint mixture)
        q/m = 2C*T_s / (cT + C*T_s)
    so both log ratios are rationals of BIGINTs. Each is rounded ONCE
    onto the micro-nat grid (floor(ln(x)*1e6 + 0.5) — floor(+0.5),
    not round(), because half-even vs half-away differs between
    engines on negative values), then
        2*T_s*JS_left  = sum_c>0 c * nl1     (BIGINT sum)
        2*T*JS_right   = sum_all C * nl2     (BIGINT sum)
    and js_nats is ONE fixed float expression over the two exact
    sums. ln is evaluated once per (source x vocab) cell — 20 sources
    x vocab here; at larger vocabs the grid stays sources-bounded.
    BIGINT headroom: the rational's terms need c*T < 2^63 — fine to
    ~3e9-token corpora per the 1e6 grid; beyond that coarsen counts
    (the lm_score/pagerank grid discipline).

    Scale shape: ONE corpus explode feeds a map-side-combined
    (source, token) count (checkpointed — it derives the corpus
    rollup, the per-source totals, and the scoring grid without
    re-scanning documents); the scoring grid is corpus-vocab x
    source-count rows built by broadcasting the tiny per-source total
    table twice — no shuffle wider than the count itself.
    """
    cnt = (
        _tok_frame(documents, ("source",), checkpoint=False)
        .select("source", F.explode("t").alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)  # feeds rollups AND the grid once
    )
    corpus = cnt.groupBy("tok").agg(F.sum("c").cast("long").alias("cc"))
    totals = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("ts"))
    tot = cnt.agg(F.sum("c").cast("long").alias("t"))
    grid = (
        corpus.crossJoin(F.broadcast(totals))
        .join(cnt, ["source", "tok"], "left")
        .na.fill({"c": 0})
        .crossJoin(F.broadcast(tot))
    )
    nl = grid.select(
        "source", "ts", "t", "c", "cc",
        F.expr("CAST(floor(ln(CAST(2 * c * t AS DOUBLE) / "
               "CAST(c * t + cc * ts AS DOUBLE)) * 1000000.0 + 0.5) "
               "AS BIGINT)").alias("nl1"),
        F.expr("CAST(floor(ln(CAST(2 * cc * ts AS DOUBLE) / "
               "CAST(c * t + cc * ts AS DOUBLE)) * 1000000.0 + 0.5) "
               "AS BIGINT)").alias("nl2"),
    )
    return (
        nl.groupBy("source")
        .agg(
            F.max("ts").cast("long").alias("n_tokens"),
            F.max("t").cast("long").alias("n_corpus"),
            F.sum(F.when(F.col("c") > 0, F.col("c") * F.col("nl1"))
                  .otherwise(F.lit(0))).cast("long").alias("s1_units"),
            F.sum(F.col("cc") * F.col("nl2")).cast("long").alias("s2_units"),
        )
        .select(
            "source", "n_tokens", "s1_units", "s2_units",
            F.expr("0.5 * (CAST(s1_units AS DOUBLE) / CAST(n_tokens AS DOUBLE)"
                   " + CAST(s2_units AS DOUBLE) / CAST(n_corpus AS DOUBLE))"
                   " / 1000000.0").alias("js_nats"),
        )
    )


def code_stats(documents: DataFrame,
               symbol_ppm_gate: int = 20000,
               kw_gate: int = 2) -> DataFrame:
    """Per-source code-vs-prose screen — the pretraining split every
    mixed crawl runs before routing documents to a code or text lane
    (StarCoder/The-Stack-style heuristics reduced to engine-portable
    arithmetic): per doc, the code-symbol character mass (braces,
    brackets, semicolons, operators — chars prose rarely uses) on the
    ppm grid plus distinct code-keyword hits; a doc flags as code when
    either exceeds its gate. Rolled up per source: doc counts, flag
    rate, mean symbol mass — the routing table a mixing plan consumes.

    All signals are single-scan JVM expressions (one regexp_replace
    length diff + fixed LIKE probes — no tokenize, no Python); the
    rollup is one map-side-combined grouped agg. Integer ppm
    arithmetic end-to-end, so the DuckDB oracle matches bit-for-bit.
    """
    kws = ["def ", "return ", "import ", "class ", "function ",
           "void ", "#include"]
    kw_expr = " + ".join(
        f"CAST(text LIKE '%{k}%' AS INT)" for k in kws)
    per_doc = documents.select(
        "source",
        F.expr("length(text)").cast("long").alias("nc"),
        F.expr("length(text) - length(regexp_replace(text,"
               " '[{}\\\\[\\\\]();=<>#_]', ''))").cast("long").alias("sym"),
        F.expr(f"CAST({kw_expr} AS INT)").alias("kw_hits"),
    ).select(
        "source", "nc", "sym", "kw_hits",
        F.expr("sym * 1000000 DIV greatest(1, nc)").cast("long")
        .alias("symbol_ppm"),
    ).withColumn(
        "is_code",
        ((F.col("symbol_ppm") >= symbol_ppm_gate)
         | (F.col("kw_hits") >= kw_gate)).cast("int"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("is_code").cast("long").alias("n_code"),
            F.sum("sym").cast("long").alias("sym_chars"),
            F.sum("nc").cast("long").alias("n_chars"),
        )
        .select(
            "source", "n_docs", "n_code",
            F.expr("n_code * 1000000 DIV n_docs").cast("long")
            .alias("code_ppm"),
            F.expr("sym_chars * 1000000 DIV greatest(1, n_chars)")
            .cast("long").alias("mean_symbol_ppm"),
        )
    )


def entropy_stats(documents: DataFrame) -> DataFrame:
    """Per-source unigram token entropy — the within-source diversity
    read next to js_divergence's cross-source drift (a source whose
    entropy collapses is templated/boilerplate even if its vocabulary
    matches the blend): H_s = ln(T_s) - (1/T_s) * sum_tok c*ln(c),
    with every ln rounded ONCE onto the micro-nat grid
    (floor(x*1e6 + 0.5)) so the heavy sum is a BIGINT and the final
    entropy/normalized-entropy values are fixed float expressions over
    exact integers. norm_entropy = H / ln(V) in [0, 1] (1 = uniform
    over the source vocabulary).

    Scale shape: one map-side-combined (source, token) count
    (checkpointed — it feeds the c*ln(c) sum AND the totals), one
    tiny per-source rollup; ln evaluates once per distinct
    (source, token), never per occurrence.
    """
    cnt = (
        _tok_frame(documents, ("source",), checkpoint=False)
        .select("source", F.explode("t").alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    return (
        cnt.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_vocab"),
            F.sum(F.expr(
                "c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0 + 0.5)"
                " AS BIGINT)")).cast("long").alias("clnc_units"),
        )
        .select(
            "source", "n_tokens", "n_vocab", "clnc_units",
            F.expr(
                "CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5)"
                " AS BIGINT)").alias("lnt_units"),
            F.expr(
                "CAST(floor(ln(CAST(n_vocab AS DOUBLE)) * 1000000.0 + 0.5)"
                " AS BIGINT)").alias("lnv_units"),
        )
        .select(
            "source", "n_tokens", "n_vocab", "clnc_units",
            F.expr("(CAST(lnt_units AS DOUBLE)"
                   " - CAST(clnc_units AS DOUBLE) / CAST(n_tokens AS DOUBLE))"
                   " / 1000000.0").alias("entropy_nats"),
            F.expr("CAST(floor((CAST(lnt_units AS DOUBLE)"
                   " - CAST(clnc_units AS DOUBLE) / CAST(n_tokens AS DOUBLE))"
                   " / CAST(greatest(1, lnv_units) AS DOUBLE)"
                   " * 1000000.0 + 0.5) AS BIGINT)")
            .alias("norm_entropy_ppm"),
        )
    )


def chat_template_stats(documents: DataFrame,
                        marker_gate: int = 2) -> DataFrame:
    """Per-source synthetic-data / chat-markup screen — the
    contamination class the 13-gram benchmark screen does NOT catch:
    model-generated text carries instruction-tuning scaffolding
    (chat-template control tokens, '### Instruction' headers, Q:/A:
    turn markers, assistant self-reference) that a pretraining corpus
    must route out or cap. Per doc, distinct marker-family hits via
    fixed LIKE/rlike probes; a doc flags as templated when it hits
    >= ``marker_gate`` families OR contains a hard control token
    (<|im_start|>-style — one hit suffices, no prose writes those).
    Rolled up per source: doc count, flag count, flag rate and mean
    marker hits on the exact ppm/milli grids.

    Single-scan JVM expressions (LIKE probes + one rlike), one
    map-side-combined grouped agg — the code_stats discipline.
    """
    hard = ["<|im_start|>", "<|endoftext|>", "[INST]", "<|assistant|>"]
    soft = ["### Instruction", "### Response", "As an AI ",
            "I cannot assist", "Sure, here is"]
    hard_expr = " + ".join(
        f"CAST(text LIKE '%{m}%' AS INT)" for m in hard)
    soft_expr = " + ".join(
        f"CAST(text LIKE '%{m}%' AS INT)" for m in soft)
    qa_expr = ("CAST(text rlike 'Q:.*A:' AS INT)")
    per_doc = documents.select(
        "source",
        F.expr(f"CAST({hard_expr} AS INT)").alias("hard_hits"),
        F.expr(f"CAST({soft_expr} AS INT) + {qa_expr}").alias("soft_hits"),
    ).select(
        "source", "hard_hits", "soft_hits",
        F.expr(f"CAST(hard_hits >= 1 OR soft_hits >= {int(marker_gate)}"
               " AS INT)").alias("is_templated"),
    )
    return (
        per_doc.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.sum("is_templated").cast("long").alias("n_templated"),
             F.sum("hard_hits").cast("long").alias("_h"),
             F.sum("soft_hits").cast("long").alias("_s"))
        .select(
            "source", "n_docs", "n_templated",
            F.expr("CAST((n_templated * 1000000) DIV n_docs AS BIGINT)")
            .alias("templated_ppm"),
            # CAST ... AS DOUBLE before the division: BIGINT / 1000.0
            # promotes to DECIMAL(27,6) under Spark's decimal rules
            # while the DuckDB oracle's same expression is a double —
            # bit-identical values, but the driver's hash compares the
            # dataframe representation (round-5 verdict #1a). Double
            # division mirrors DuckDB's op exactly.
            F.expr("CAST(CAST((2000 * (_h + _s) + n_docs) DIV (2 * n_docs)"
                   " AS BIGINT) AS DOUBLE) / 1000.0")
            .alias("mean_marker_hits"),
        )
    )


def bigram_lm_score(documents: DataFrame) -> DataFrame:
    """Per-doc bigram-LM cross-entropy — the next step up from the
    unigram lm_score: each document is scored by the mean negative
    log of P(w2 | w1) under the MLE bigram model trained on the
    corpus itself, so formulaic text (low surprise given the previous
    word) separates from incoherent or shuffled text that a unigram
    model cannot tell apart. Docs with fewer than two tokens emit no
    row (they have no bigrams).

    Determinism discipline (the lm_score pattern, lifted to order 2):
    per-bigram nats are computed ONCE PER DISTINCT BIGRAM as
    round(ln(C(w1) / C(w1,w2)) * 1e6) BIGINTs — ln runs |vocab^2
    observed| times, never once per instance — and the per-doc score
    is an exact integer sum divided once at the end, so partial
    aggregation order cannot move a bit.

    Scale shape: tokens are staged behind ONE checkpoint (tokenize
    once); the exploded bigram-instance table is checkpointed once
    and feeds BOTH the count model and the scoring join; the model
    join keys on (w1, w2) with no forced strategy — AQE broadcasts
    while the observed-bigram table fits and shuffle-joins beyond.
    """
    staged = _tok_frame(documents)  # tokenize once
    inst = (
        staged.select(
            "doc_id",
            F.explode(F.expr(
                "CASE WHEN size(t) >= 2 THEN sequence(1, size(t) - 1)"
                " ELSE array() END")).alias("i"),
            "t")
        .select("doc_id",
                F.expr("element_at(t, i)").alias("w1"),
                F.expr("element_at(t, i + 1)").alias("w2"))
        .localCheckpoint(eager=False)  # feeds model AND scoring once
    )
    bg = (
        inst.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt2"))
        .localCheckpoint(eager=False)  # feeds context rollup AND nats
    )
    ctx = bg.groupBy("w1").agg(F.sum("cnt2").alias("cnt1"))
    nats = bg.join(ctx, "w1").select(
        "w1", "w2",
        F.round(F.log(F.col("cnt1") / F.col("cnt2")) * 1e6)
        .cast("long").alias("nats_x1e6"),
    )
    return (
        inst.join(nats, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
             F.sum("nats_x1e6").alias("_s"))
        .select("doc_id", "n_bigrams",
                F.round(F.col("_s") / F.col("n_bigrams") / 1e6, 6)
                .alias("xent_nats"))
    )


_OCR_MIXED = "[a-z].*[0-9]|[0-9].*[a-z]"
_OCR_RUN = "[bcdfghjklmnpqrstvwxz]{5,}"
# rendered inside a DOUBLE-quoted Spark SQL literal (Spark drops
# unknown backslash escapes like \x27 from single-quoted literals);
# the DuckDB oracle writes the same class with a doubled single quote
_OCR_WEIRD = "[^a-z0-9.,;:!?()'\\\"-]"


def ocr_garbage_stats(documents: DataFrame,
                      flag_ppm: int = 100000) -> DataFrame:
    """Per-doc OCR-noise screen — the curation signal the quality /
    Gopher / C4 families do NOT carry: scanned-and-OCRed text shows
    up as letter-digit hash tokens ("q7x9z2"), impossible consonant
    runs ("zzxkqwv"), and stray non-prose symbols inside tokens.
    Tokens are the RAW lowercase whitespace split (normalizing first
    would strip exactly the junk being measured); a doc flags when
    its any-signal garbage rate beats ``flag_ppm``.

    Scale shape: entirely row-wise JVM expressions over one column —
    size(filter(...rlike...)) per signal on the in-row token array,
    NO explode, NO shuffle, no window; the heaviest cost is the regex
    probes inside whole-stage codegen. All counts BIGINT, rate on the
    ppm grid via tokens-guarded DIV.
    """
    toks = "filter(split(lower(text), '\\\\s+'), x -> x <> '')"
    sig = (f"size(filter({toks}, t -> t rlike '{_OCR_MIXED}'))",
           f"size(filter({toks}, t -> t rlike '{_OCR_RUN}'))",
           f'size(filter({toks}, t -> t rlike "{_OCR_WEIRD}"))')
    any_re = f"({_OCR_MIXED})|({_OCR_RUN})|({_OCR_WEIRD})"
    return (
        documents.select(
            "doc_id",
            F.expr(f"CAST(size({toks}) AS BIGINT)").alias("n_tokens"),
            F.expr(f"CAST({sig[0]} AS BIGINT)").alias("n_mixed"),
            F.expr(f"CAST({sig[1]} AS BIGINT)").alias("n_runs"),
            F.expr(f"CAST({sig[2]} AS BIGINT)").alias("n_weird"),
            F.expr(f'CAST(size(filter({toks},'
                   f' t -> t rlike "{any_re}")) AS BIGINT)')
            .alias("n_garbage"),
        )
        .withColumn(
            "garbage_ppm",
            F.expr("CAST((n_garbage * 1000000)"
                   " DIV greatest(n_tokens, 1) AS BIGINT)"))
        .withColumn(
            "flagged",
            (F.col("garbage_ppm") > F.lit(int(flag_ppm))).cast("int"))
    )


def collocations(documents: DataFrame, k: int = 20,
                 min_count: int = 5) -> DataFrame:
    """Top-k PMI collocations over a ±2-token window — the classic
    word-association mining pass (Church & Hanks 1990): unordered
    token pairs co-occurring within two positions, scored by
    ln(c12 * Nt^2 / (Np * c1 * c2)) against the unigram model, with a
    ``min_count`` support floor so hapax pairs can't saturate the
    ranking.

    Determinism: PMI is quantized ONCE PER DISTINCT PAIR to a
    round(ln*1e6) BIGINT (the lm_score discipline) and the top-k
    ranks on the unique (pmi_x1e6 DESC, w1, w2) order. Scale shape:
    tokens stage behind ONE checkpoint; the pair stream is built
    IN-ROW (two sequence explodes — distance 1 and 2 — never a
    positions self-join, whose doc-keyed fan-out is quadratic); pair
    and unigram counts are map-side-combined groupBys; the two 1-row
    totals broadcast into the scoring expression.
    """
    staged = _tok_frame(documents)  # tokenize once, feeds pairs AND unigrams
    d1 = staged.select(
        F.explode(F.expr(
            "CASE WHEN size(t) >= 2 THEN sequence(1, size(t) - 1)"
            " ELSE array() END")).alias("i"), "t"
    ).select(F.expr("least(element_at(t, i), element_at(t, i + 1))")
             .alias("w1"),
             F.expr("greatest(element_at(t, i), element_at(t, i + 1))")
             .alias("w2"))
    d2 = staged.select(
        F.explode(F.expr(
            "CASE WHEN size(t) >= 3 THEN sequence(1, size(t) - 2)"
            " ELSE array() END")).alias("i"), "t"
    ).select(F.expr("least(element_at(t, i), element_at(t, i + 2))")
             .alias("w1"),
             F.expr("greatest(element_at(t, i), element_at(t, i + 2))")
             .alias("w2"))
    pairs = (
        d1.unionAll(d2)
        .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
        .where(F.col("c12") >= int(min_count))
        .localCheckpoint(eager=False)  # feeds Np AND the scoring join
    )
    uni = (
        staged.select(F.explode("t").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)  # feeds Nt AND both unigram joins
    )
    np_df = F.broadcast(d1.unionAll(d2).agg(
        F.count(F.lit(1)).cast("long").alias("np")))
    nt_df = F.broadcast(uni.agg(F.sum("c").cast("long").alias("nt")))
    scored = (
        pairs
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")),
              "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")),
              "w2")
        .crossJoin(np_df).crossJoin(nt_df)
        .select(
            "w1", "w2",
            F.col("c12").cast("long").alias("c12"),
            F.col("c1").cast("long").alias("c1"),
            F.col("c2").cast("long").alias("c2"),
            F.round(F.log(
                F.col("c12").cast("double") * F.col("nt") * F.col("nt")
                / (F.col("np").cast("double") * F.col("c1") * F.col("c2")))
                * 1e6).cast("long").alias("pmi_x1e6"),
        )
    )
    return (
        scored.orderBy(F.col("pmi_x1e6").desc(), F.col("w1").asc(),
                       F.col("w2").asc())
        .limit(k)
        .select("w1", "w2", "c12", "c1", "c2", "pmi_x1e6",
                F.round(F.col("pmi_x1e6") / 1e6, 6).alias("pmi"))
    )


def source_overlap(documents: DataFrame, n: int = 5) -> DataFrame:
    """Cross-source n-gram overlap matrix: per unordered source pair,
    the count of shared DISTINCT n-gram hashes and the exact Jaccard
    on the ppm grid — the contamination / licensing diagnostic ("how
    much of source B already lives in source A?") a mixing plan runs
    before trusting its source labels, and the corpus-level
    counterpart of the per-doc contamination screen.

    Scale shape: tokens STAGED as a column before the gram lambda
    (the re-evaluation trap), grams hashed onto the 30-bit grid, then
    ONE distinct over (source, gram) — the shuffle currency is
    distinct grams, not occurrences; the pair join is keyed on the
    gram hash, whose fan-out is bounded by sources² per gram (the
    source vocabulary is small by contract); per-source gram counts
    ride as broadcasts. Pairs sharing zero grams don't appear."""
    staged = _tok_frame(documents, ("source",))  # barrier: tokenize once per doc
    gram_hash = portable.md5_mod(f"array_join(slice(t, i, {n}), ' ')",
                                 1 << 30)
    grams = (f"CASE WHEN size(t) >= {n} THEN "
             f"transform(sequence(1, size(t) - {n - 1}), i -> {gram_hash}) "
             f"ELSE array() END")
    sg = (
        staged.select("source", F.explode(F.expr(grams)).alias("g"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds sizes AND the pair join
    )
    sizes = sg.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"))
    a = sg.select(F.col("source").alias("src_a"), "g")
    b = sg.select(F.col("source").alias("src_b"), "g")
    common = (
        a.join(b, "g")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        common
        .join(F.broadcast(sizes.withColumnRenamed("source", "src_a")
                          .withColumnRenamed("n_grams", "n_a")), "src_a")
        .join(F.broadcast(sizes.withColumnRenamed("source", "src_b")
                          .withColumnRenamed("n_grams", "n_b")), "src_b")
        .select("src_a", "src_b", "n_common", "n_a", "n_b",
                F.expr("n_common * 1000000 DIV (n_a + n_b - n_common)")
                .cast("long").alias("jaccard_ppm"))
    )


def backoff_lm_score(documents: DataFrame,
                     held_out_source: str = "src0") -> DataFrame:
    """Held-out stupid-backoff trigram scoring (Brants et al. 2007) —
    the LM-quality filter the on-corpus MLE scorers (lm_score /
    bigram_lm_score) cannot be: the model trains on every source
    EXCEPT ``held_out_source`` and scores only that source's docs, so
    unseen trigrams genuinely occur and the backoff chain genuinely
    fires. This is the decide-before-deploy shape of a perplexity
    filter: score candidate shards under a trusted-corpus LM.

    S(w3 | w1 w2) on the exact ppm grid, all-integer:
      trigram seen:  c123 * 1e6    div c12        (MLE)
      bigram  seen:  c23  * 400000 div c2         (0.4 backoff, exact)
      unigram seen:  c3   * 160000 div N          (0.4^2 backoff)
      OOV:           0  (counted in n_oov)
    Each tier is one integer division per DISTINCT joined row; the
    per-doc mean divides the BIGINT sum once — no doubles anywhere,
    so partial-aggregation order cannot move a bit.

    Scale shape: the model passes are map-side-combined grouped counts
    over the (large) training split; the scoring side explodes the
    (small) held-out split's trigrams once; all joins are equi-joins
    on token keys with no forced strategy (AQE broadcasts the
    observed-gram tables while they fit). Tokens staged behind one
    checkpoint per split — tokenize once, the fingerprint lesson.
    """
    toks = _tok_frame(documents, ("doc_id", "source"))  # tokenize once, feeds both splits

    def grams(df, n):
        return (
            df.select(
                "doc_id",
                F.explode(F.expr(
                    f"CASE WHEN size(t) >= {n} THEN sequence(1, size(t) - {n - 1})"
                    " ELSE array() END")).alias("i"),
                "t")
            .select("doc_id",
                    *[F.expr(f"element_at(t, i + {j})").alias(f"w{j + 1}")
                      for j in range(n)])
        )

    train = toks.where(F.col("source") != held_out_source)
    score = toks.where(F.col("source") == held_out_source)
    tri = grams(train, 3).groupBy("w1", "w2", "w3") \
        .agg(F.count(F.lit(1)).cast("long").alias("c123")) \
        .localCheckpoint(eager=False)  # feeds c12 rollup AND the join
    c12 = tri.groupBy("w1", "w2").agg(F.sum("c123").cast("long").alias("c12"))
    bi = grams(train, 2).groupBy(F.col("w1").alias("bw1"),
                                 F.col("w2").alias("bw2")) \
        .agg(F.count(F.lit(1)).cast("long").alias("c23")) \
        .localCheckpoint(eager=False)
    c2 = bi.groupBy(F.col("bw1").alias("uw")) \
        .agg(F.sum("c23").cast("long").alias("c2"))
    uni = train.select(F.explode("t").alias("w")) \
        .groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c3")) \
        .localCheckpoint(eager=False)
    n_tok = F.broadcast(uni.agg(F.sum("c3").cast("long").alias("n_train")))

    inst = grams(score, 3)
    scored = (
        inst
        .join(tri, ["w1", "w2", "w3"], "left")
        .join(c12, ["w1", "w2"], "left")
        .join(bi, (F.col("w2") == F.col("bw1"))
              & (F.col("w3") == F.col("bw2")), "left")
        .join(c2, F.col("w2") == F.col("uw"), "left")
        .join(uni.select(F.col("w").alias("w3u"),
                         F.col("c3")), F.col("w3") == F.col("w3u"), "left")
        .crossJoin(n_tok)
        .select(
            "doc_id",
            F.when(F.col("c123").isNotNull(),
                   F.expr("c123 * 1000000 div c12"))
            .when(F.col("c23").isNotNull(),
                  F.expr("c23 * 400000 div c2"))
            .when(F.col("c3").isNotNull(),
                  F.expr("c3 * 160000 div n_train"))
            .otherwise(F.lit(0)).cast("long").alias("s_ppm"),
            F.when(F.col("c123").isNotNull(), "tri")
            .when(F.col("c23").isNotNull(), "bi")
            .when(F.col("c3").isNotNull(), "uni")
            .otherwise("oov").alias("tier"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"),
             F.sum(F.when(F.col("tier") == "tri", 1).otherwise(0))
             .cast("long").alias("n_hit3"),
             F.sum(F.when(F.col("tier") == "bi", 1).otherwise(0))
             .cast("long").alias("n_hit2"),
             F.sum(F.when(F.col("tier") == "uni", 1).otherwise(0))
             .cast("long").alias("n_hit1"),
             F.sum(F.when(F.col("tier") == "oov", 1).otherwise(0))
             .cast("long").alias("n_oov"),
             F.sum("s_ppm").cast("long").alias("_s"))
        .select("doc_id", "n_tri", "n_hit3", "n_hit2", "n_hit1", "n_oov",
                F.expr("_s div n_tri").cast("long").alias("score_ppm"))
    )


def len_quality_corr(documents: DataFrame) -> DataFrame:
    """Per-source Pearson correlation between document length
    (n_tokens) and the quality score — the curation-bias audit: a
    strongly positive r means the quality gate is mostly a length
    gate in disguise for that source (and a downstream length-balanced
    sample will shift its quality mix). Companion read to
    text_quality_by_source's level stats.

    Moment sums accumulate as DECIMAL(38,0) (the events_acf
    discipline — n*syy on the ppm grid overflows int64 at corpus
    scale), the variance/covariance cross-products stay exact, and
    the single irrational step (two sqrts + one division) happens once
    per SOURCE row, rounded to 6dp on both engines.
    """
    q = quality_score(documents, carry_cols=("source",)).select(
        "source",
        F.col("n_tokens").cast("long").alias("x"),
        F.expr("CAST(floor(quality * 1000000 + 0.5) AS BIGINT)").alias("y"),
    )
    dec = "DECIMAL(38,0)"
    agg = q.groupBy("source").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast(dec).alias("syy"),
    )
    return agg.select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.round(
            F.expr(
                "CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0"
                " AND CAST(n * syy - sy * sy AS DOUBLE) > 0"
                " THEN CAST(n * sxy - sx * sy AS DOUBLE)"
                " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
                "    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))"
                " ELSE 0.0 END"), 6).alias("len_quality_r"),
    )


def oov_curve(documents: DataFrame,
              budgets: tuple = (1000, 4000, 16000)) -> DataFrame:
    """OOV rate vs vocabulary budget — the tokenizer-budget decision
    table (the lexical analogue of the IVF nprobe curve): for each
    candidate vocab size K, the fraction of token INSTANCES that fall
    outside the top-K types by frequency. Read together with
    text_vocab_growth (how fast types appear) and text_fertility (what
    a subword vocab does about it), this is the table that sizes a
    word-level vocab or decides subwords are mandatory.

    No explode-join per budget: every curve point reads the SAME
    ranked type table — rank by (count DESC, token ASC), OOV instances
    for budget K = sum of counts at rank > K — so the corpus is
    tokenized and counted exactly once and the curve is three grouped
    sums over the vocabulary table. The global rank window runs over
    the TYPE table (bounded by vocabulary size, Heaps-sublinear in
    corpus size), never the instance stream.
    """
    toks = _tok_frame(documents, (), checkpoint=False) \
        .select(F.explode("t").alias("tok"))
    counts = (
        toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn("rnk", F.row_number().over(
            Window.orderBy(F.desc("cnt"), F.asc("tok"))))
        .localCheckpoint(eager=False)  # every curve point re-reads this
    )
    tot = F.broadcast(counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("cnt").cast("long").alias("n_instances")))
    parts = []
    for k in budgets:
        parts.append(
            counts.where(F.col("rnk") > k)
            .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long")
                 .alias("oov_instances"))
            .crossJoin(tot)
            .select(
                F.lit(k).cast("long").alias("vocab_budget"),
                "n_types", "n_instances", "oov_instances",
                F.expr("oov_instances * 1000000 div n_instances")
                .cast("long").alias("oov_ppm"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def markdown_stats(documents: DataFrame) -> DataFrame:
    """Per-doc structural/markdown profile — the LAYOUT curation
    signal the token-level screens (quality, code_stats, ocr_garbage)
    do not carry: heading lines, list items, code fences, blank
    lines, and their ppm shares of total lines. Heavily-structured
    pages (README walls, nav-list boilerplate) separate from prose at
    a glance, and a pretraining mix typically caps them.

    Pure JVM single scan: split on newline once, count line classes
    with filter() over the staged line array — no regex backtracking
    (prefix tests only), no Python, no shuffle beyond none at all
    (it is a projection).
    """
    lines = "split(text, '\\n')"
    n = f"size({lines})"

    def share(cnt: str) -> str:
        return f"CAST({cnt} * 1000000 div greatest({n}, 1) AS BIGINT)"

    heading = (f"size(filter({lines}, x -> startswith(ltrim(x), '#')))")
    listing = (f"size(filter({lines}, x -> startswith(ltrim(x), '- ')"
               f" OR startswith(ltrim(x), '* ')))")
    fence = f"size(filter({lines}, x -> startswith(ltrim(x), '```')))"
    blank = f"size(filter({lines}, x -> length(trim(x)) = 0))"
    return documents.select(
        "doc_id",
        F.expr(f"CAST({n} AS BIGINT)").alias("n_lines"),
        F.expr(f"CAST({heading} AS BIGINT)").alias("n_heading"),
        F.expr(f"CAST({listing} AS BIGINT)").alias("n_list"),
        F.expr(f"CAST({fence} AS BIGINT)").alias("n_fence"),
        F.expr(f"CAST({blank} AS BIGINT)").alias("n_blank"),
        F.expr(share(heading)).alias("heading_ppm"),
        F.expr(share(listing)).alias("list_ppm"),
        F.expr(share(blank)).alias("blank_ppm"),
    )


def mattr_stats(documents: DataFrame, window: int = 50) -> DataFrame:
    """Moving-average type-token ratio (MATTR, Covington & McFall
    2010) — the length-robust lexical-diversity score: plain TTR
    collapses as documents grow (types saturate), so comparing docs of
    different lengths on TTR is a length artifact; MATTR averages TTR
    over fixed ``window``-token spans, making the score comparable
    across lengths — the diversity signal the curation stack reads
    next to entropy (source-level) and repetition (duplication-level).

    Exact integer form: for each complete window position i (stride =
    window, non-overlapping — bounded work per doc), the distinct
    count is size(array_distinct(slice(toks, ...))); mattr_ppm =
    sum(distinct counts) * 1e6 div (n_windows * window) — one
    division per doc. Tokens are STAGED behind the checkpoint barrier
    (the fingerprint lesson: never splice the tokenizer into the
    per-window lambda). Docs shorter than one window emit plain TTR
    over their full length, flagged by n_windows = 0.
    """
    staged = _tok_frame(documents)  # barrier: tokenize once, not per window
    k = int(window)
    wins = (f"transform(sequence(1, size(t) DIV {k}), "
            f"i -> size(array_distinct(slice(t, (i - 1) * {k} + 1, {k}))))")
    return staged.select(
        "doc_id",
        F.expr("CAST(size(t) AS BIGINT)").alias("n_tokens"),
        F.expr(f"CAST(size(t) DIV {k} AS BIGINT)").alias("n_windows"),
        F.expr(
            f"CASE WHEN size(t) >= {k} THEN "
            f"CAST(aggregate({wins}, 0L, (a, x) -> a + x) * 1000000 "
            f"div ((size(t) DIV {k}) * {k}) AS BIGINT) "
            f"WHEN size(t) > 0 THEN "
            f"CAST(size(array_distinct(t)) * 1000000 div size(t) AS BIGINT) "
            f"ELSE 0 END"
        ).alias("mattr_ppm"),
    )
