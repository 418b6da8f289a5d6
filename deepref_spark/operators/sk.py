"""Semantic-knowledge lookup (SURVEY.md §2.2 T8).

The reference calls WordNet per sentence per entity
(semantic_knowledge.py:12-31) — at 10^12-doc scale that's a skewed,
repeated dictionary lookup, so here it is a broadcast join against a
precomputed (entity -> father, grandpa) table instead of a UDF: the
hypernym chain walk happens ONCE per distinct surface form on the
driver-side tiny dict (or a real WordNet dump when available), and the
join is broadcast so no shuffle touches the big side.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from deepref_spark import refsem
from deepref_spark.session import local_frame


def sk_table(spark: SparkSession, hypernyms: dict[str, str] | None = None) -> DataFrame:
    """Materialize entity -> (father, grandpa) for every key in the
    hypernym map, per SemanticKNWL.extract semantics
    (semantic_knowledge.py:12-31 + unigram :70-72)."""
    hyp = hypernyms if hypernyms is not None else refsem.DEFAULT_HYPERNYMS
    rows = []
    for entity in sorted(hyp):
        vec = refsem.sk_extract([entity, entity], hyp)["ses1"]
        rows.append((entity, vec[0], vec[1]))
    return local_frame(spark, rows,
                       "entity string, father string, grandpa string")


def attach_sk(mentions: DataFrame, sk: DataFrame) -> DataFrame:
    """Broadcast-join sk for both entities; entities absent from the map
    fall back to themselves (the reference's no-synset branch)."""
    sk1 = F.broadcast(sk.withColumnRenamed("entity", "h_name_key"))
    sk2 = F.broadcast(
        sk.select(
            F.col("entity").alias("t_name_key"),
            F.col("father").alias("t_father"),
            F.col("grandpa").alias("t_grandpa"),
        )
    )
    out = (
        mentions
        .join(sk1, mentions["h.name"] == sk1["h_name_key"], "left")
        .join(sk2, mentions["t.name"] == sk2["t_name_key"], "left")
    )
    return out.select(
        *[c for c in mentions.columns],
        F.struct(
            F.array(
                F.coalesce("father", F.col("h.name")),
                F.coalesce("grandpa", F.col("h.name")),
            ).alias("ses1"),
            F.array(
                F.coalesce("t_father", F.col("t.name")),
                F.coalesce("t_grandpa", F.col("t.name")),
            ).alias("ses2"),
        ).alias("sk"),
    )
