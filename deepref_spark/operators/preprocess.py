"""Preprocessing variants (SURVEY.md §2.2 T9-T13 over kernel P1).

Composition semantics match deepref/framework/train.py:91-124: fixed
application order sw -> p -> b -> d -> eb/nb regardless of the key
order the caller passes; eb+nb together collapse to nb
(config.py:8-15); the variant key is the sorted '_'-join
(dataset.py:65-70).

Two execution strategies, same semantics:
  * ``apply_variant`` — one Arrow-batched mapInPandas kernel running
    the refsem composition per batch (the general path; handles the
    stateful bracket scan and the blinding position rewrites).
  * ``digit_blind_builtin`` — pure built-in zip_with for the 'd'
    variant alone (digit_blinding_preprocessor.py:20-24 is stateless),
    kept to show the JVM-side fast path and exercised in tests against
    the kernel.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from deepref_spark import refsem
from deepref_spark.operators.parse import MENTION_SCHEMA


def _to_mention(row) -> refsem.Mention:
    return refsem.Mention(
        token=list(row.token),
        h={"name": row.h["name"], "pos": list(row.h["pos"])},
        t={"name": row.t["name"], "pos": list(row.t["pos"])},
        relation=row.relation,
        pos_tags=list(row.pos_tags),
        deps=list(row.deps),
        ner=list(row.ner),
    )


def apply_variant(
    mentions: DataFrame,
    preprocessing_types: list[str],
    entity_replacement: str = "ENTITY",
) -> DataFrame:
    """Apply one preprocessing variant to a mentions DataFrame."""
    kinds = refsem.normalize_preproc(preprocessing_types)
    if not kinds:
        return mentions

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in pdf.columns}
            for row in pdf.itertuples(index=False):
                m = _to_mention(row)
                try:
                    m = refsem.apply_preprocessing(m, kinds, entity_replacement)
                except AssertionError:
                    continue  # invariant-violating row dropped (reference would raise)
                out["doc_id"].append(row.doc_id)
                out["span_idx"].append(row.span_idx)
                out["sent_id"].append(row.sent_id)
                out["token"].append(m.token)
                out["h"].append({"name": m.h["name"], "pos": m.h["pos"]})
                out["t"].append({"name": m.t["name"], "pos": m.t["pos"]})
                out["relation"].append(row.relation)
                out["pos_tags"].append(m.pos_tags)
                out["deps"].append(m.deps)
                out["ner"].append(m.ner)
            if out["doc_id"]:
                yield pd.DataFrame(out)

    return mentions.mapInPandas(run, schema=MENTION_SCHEMA)


def digit_blind_builtin(mentions: DataFrame) -> DataFrame:
    """'d' alone, fully JVM-side (whole-stage codegen):
    token -> 'DIGIT' where the aligned upos is NUM
    (digit_blinding_preprocessor.py:20-24)."""
    return mentions.withColumn(
        "token",
        F.expr("zip_with(token, pos_tags, (tok, p) -> IF(p = 'NUM', 'DIGIT', tok))"),
    )
