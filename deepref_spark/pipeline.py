"""End-to-end KG-construction pipeline (SURVEY.md §7 step 4 slice).

docs -> text sentences -> parsed mentions -> preprocessing variant ->
entity-marker tokenize -> batched scoring -> entity canonicalization ->
deduplicated triples. Each stage is one operator module; stage
boundaries optionally persist via io.tables.ensure_stage for
checkpoint/resume.

The reference's equivalent path is train.py's ensure-convert ->
ensure-preprocess -> DataLoader -> eval (§3.1 of SURVEY.md); here every
arrow is a DataFrame transform and the whole graph is one lazy plan
unless checkpointing is requested.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from deepref_spark.operators import convert, linking, parse, preprocess, score, tokenize
from deepref_spark.portable import RELATION_NAMES


def extract_scored(
    spark: SparkSession,
    docs: DataFrame,
    preprocessing: list[str] | None = None,
    max_length: int = 128,
    relations: list[str] | None = None,
    fused: bool = True,
    engine: str = "arrow",
) -> DataFrame:
    """docs -> scored mentions with predicted relation names.

    fused=True (default): parse/preprocess/tokenize/score in ONE
    mapInPandas crossing. engine picks the parse/preproc
    implementation inside that shape — both are row-for-row equal
    (tests/test_parse_jvm.py):

    * "arrow" (default): the memoized reference kernels inside the
      Arrow batch, batched tokenize+forward. MEASURED FASTER at every
      local scale tried (30k docs / 8 cores, min-of-3: 1.90s vs 3.33s
      no-preproc, 2.18s vs 4.45s with sw+d) — the Zipf-skewed token
      distribution lets per-word work amortize to dict hits, which
      per-occurrence JVM regex/array expressions cannot match.
    * "jvm": parse (and span-safe preprocessing) as built-in
      expressions (operators/parse_jvm.py + preproc_jvm.py); the
      crossing does only batched tokenize+forward. No Python worker
      dependency before the scorer and full plan transparency — the
      operational choice where Python workers are the constraint.

    fused=False: the modular operator chain — same kernels, same
    output, 3 extra Python crossings; kept for stage-level inspection
    and the operator-parity tests."""
    if engine not in ("arrow", "jvm"):
        # a typo'd engine must not silently measure/run the arrow path
        # while evidence records the requested name
        raise ValueError(f"unknown engine {engine!r}: expected 'arrow' or 'jvm'")
    relations = relations or RELATION_NAMES
    sentences = convert.text_sentences(docs)
    rel2id = score.rel2id_from_relations(relations)
    if fused and engine == "jvm":
        from deepref_spark.operators.fused import extract_scored_jvm

        scored = extract_scored_jvm(
            spark, sentences, n_relations=len(rel2id),
            preprocessing=preprocessing, max_length=max_length,
        )
    elif fused:
        from deepref_spark.operators.fused import extract_scored_fused

        scored = extract_scored_fused(
            spark, sentences, n_relations=len(rel2id),
            preprocessing=preprocessing, max_length=max_length,
        )
    else:
        mentions = parse.parse_mentions(sentences)
        if preprocessing:
            mentions = preprocess.apply_variant(mentions, preprocessing)
        tokenized = tokenize.tokenize_mentions(mentions, max_length=max_length)
        scored = score.score_tokenized(spark, tokenized, n_relations=len(rel2id))
    return score.attach_pred_names(scored, rel2id)


def triples_from_scored(scored: DataFrame, canonicalize: bool = True,
                        negative_class: str = "Other") -> DataFrame:
    """Scored mentions -> deduplicated (subj, pred, obj) triples.

    A predicted (h.name, relation, t.name) IS a KG triple
    (reference README.md:7 framing); negative-class predictions emit no
    edge. Dedup keeps max score + contributing docs per canonical
    triple."""
    pos = scored.where(F.col("pred_relation") != F.lit(negative_class))
    triples = pos.select(
        F.col("h_name").alias("subj"),
        F.col("pred_relation").alias("pred"),
        F.col("t_name").alias("obj"),
        "doc_id", "score",
    )
    if canonicalize:
        # Canonicalization is iterative (many actions): materialize the
        # extraction result once so the CC loop never re-runs the
        # parse/tokenize/score chain. In a checkpointed run the stage
        # table plays this role (io.tables.ensure_stage).
        triples = triples.localCheckpoint()
        ents = (
            triples.select(F.col("subj").alias("entity"))
            .union(triples.select(F.col("obj").alias("entity")))
            .distinct()
        )
        # the map is a LocalRelation when solved on the driver and a lazy
        # local checkpoint otherwise (linking.canonical_map), so the
        # size count and both joins read it without re-running the
        # linking plan, and no cache() entry outlives the call
        canon = linking.canonical_map(ents)
        # broadcast only when the entity map is provably small — at
        # 10^12 docs the distinct-entity table is not broadcast-sized
        # and the gate falls back to a shuffle join (AQE skew-handled)
        canon, _ = linking.size_gated_broadcast(canon)
        triples = (
            triples
            .join(canon.withColumnRenamed("entity", "subj")
                  .withColumnRenamed("canonical", "subj_canon"), "subj", "left")
            .join(canon.withColumnRenamed("entity", "obj")
                  .withColumnRenamed("canonical", "obj_canon"), "obj", "left")
            .withColumn("subj_canon", F.coalesce("subj_canon", "subj"))
            .withColumn("obj_canon", F.coalesce("obj_canon", "obj"))
        )
    else:
        triples = triples.withColumn("subj_canon", F.col("subj")).withColumn("obj_canon", F.col("obj"))

    return (
        triples.groupBy("subj_canon", "pred", "obj_canon")
        .agg(
            F.max("score").alias("score"),
            F.min("subj").alias("subj"),
            F.min("obj").alias("obj"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .select("subj", "pred", "obj", "subj_canon", "obj_canon", "score", "n_docs")
    )


def run_pipeline(spark: SparkSession, docs: DataFrame,
                 preprocessing: list[str] | None = None,
                 warehouse: str | None = None,
                 engine: str = "arrow") -> DataFrame:
    """Full extraction; when ``warehouse`` is set, scored mentions and
    triples persist as resumable stage tables. ``engine`` selects the
    parse/preproc implementation ("arrow" default / "jvm" — see
    extract_scored for the measured decision rule). A resume builds
    no extraction plan: the scored stage's compute runs only when the
    stage is missing."""
    if warehouse:
        from deepref_spark.io import tables

        scored = tables.ensure_stage(
            spark, warehouse, "scored",
            lambda: extract_scored(spark, docs, preprocessing, engine=engine),
            lineage={"stage": "extract_scored", "preprocessing": preprocessing or []},
        )
        return tables.ensure_stage(
            spark, warehouse, "triples", lambda: triples_from_scored(scored),
            lineage={"stage": "triples"},
        )
    return triples_from_scored(extract_scored(spark, docs, preprocessing, engine=engine))
