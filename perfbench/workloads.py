"""The two workloads.  Each runs whole rounds through the program's
public entry points; a round is the same list of operations every time,
so the share of failed operations never depends on how many rounds fit.

* ``Build``: one ``pipeline.run_pipeline`` into a fresh warehouse, the
  same build again into another fresh warehouse (the warm build), then
  RESUMES resumes of the completed warehouse, then the lineage resume
  (``preprocessing=["eb"]`` on a slice), which fails until
  ``io.tables.ensure_stage`` compares lineage.
* ``Queries``: one cold pass over the query list in a fresh session,
  then WARM_PASSES warm passes.

Timed operations run inside ``Meter.phase``; everything else (row
collection for the checks, the lineage resume) runs in an untimed job
group and enters no metric.
"""

from __future__ import annotations

import contextlib
import inspect
import os
import shutil
import time

import numpy as np
import pandas as pd

import checks

RESUMES = 5
WARM_PASSES = 5
SAMPLE_MENTIONS = 200

# name -> why it is on the list
KG_QUERIES = {
    "kg_canonical_triples": "builds the mentions and canonical-triples stages "
                            "that every other kg query reads",
    "kg_connected_components": "the linking layer: banded LSH edges, then "
                               "linking.connected_components (size-gated "
                               "driver union-find twin)",
    "kg_scc": "builds the SCC-label stage (size-gated driver twin); warm calls "
              "are pure stage reads",
}

class Meter:
    """Times phases (wall and process-tree CPU) and records them as spans
    with their parent; each phase runs in its own Spark job group."""

    def __init__(self, tree):
        self.tree = tree
        self.spans: list[dict] = []
        self._open: list[str] = []
        self.spark = None

    def untimed(self, what: str) -> None:
        self.spark.sparkContext.setJobGroup(f"u:{what}", what)

    @contextlib.contextmanager
    def phase(self, name: str, group: str | None = None, light: bool = False):
        """``light``: a span nested in a timed phase of an untraced run;
        it keeps the parent's job group and reads no CPU, so it adds
        next to nothing to the parent's time."""
        sc = self.spark.sparkContext
        if not light:
            sc.setJobGroup(group or f"t:{name}", name)
        parent = self._open[-1] if self._open else None
        self._open.append(name)
        c0 = 0.0 if light else self.tree.cpu_s()
        t0 = time.perf_counter()
        span = {"name": name, "parent": parent, "start": t0}
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            span["wall_s"] = span["end"] - t0
            self._open.pop()
            self.spans.append(span)
            if not light:
                span["cpu_s"] = self.tree.cpu_s() - c0
                if self._open:
                    sc.setJobGroup(f"t:{self._open[-1]}", self._open[-1])
                else:
                    self.untimed("between")


def _rows(df) -> list[tuple]:
    """Order-free rows with floats rounded to six decimals."""
    return checks.frame_rows(pd.DataFrame([tuple(r) for r in df.collect()],
                                          columns=df.columns))


def _du_mb(path: str) -> float:
    total = 0
    for d, _subdirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Build:
    name = "build"

    def __init__(self, work: str, corpus: dict):
        self.work = work
        self.corpus = corpus
        self.last_wh = None
        self.canon = None
        self.build_rows = None
        self.problems: list[str] = []
        self.eb_rows: list[list[tuple]] = []

    @staticmethod
    def ops_per_round() -> int:
        return 3 + RESUMES

    def round(self, spark, meter: Meter, k: int, traced: bool) -> dict:
        from deepref_spark.pipeline import run_pipeline

        wh = os.path.join(self.work, f"wh{k}")
        shutil.rmtree(wh, ignore_errors=True)
        docs_dir = self.corpus["docs_dir"]
        rec: dict = {"layers": {}}
        if traced:
            self._traced_build(spark, meter, wh, rec)
        else:
            from deepref_spark.operators import linking

            # keep a reference to the canonical map the build makes, for
            # the checks; the wrapper only passes the call through
            orig = linking.canonical_map

            def keep(*a, **kw):
                self.canon = orig(*a, **kw)
                return self.canon

            linking.canonical_map = keep
            try:
                with meter.phase("build") as sp:
                    _noop(run_pipeline(spark, spark.read.parquet(docs_dir), warehouse=wh))
            finally:
                linking.canonical_map = orig
            rec["build_s"] = sp["wall_s"]
        meter.untimed("check")
        from deepref_spark.io import tables

        rows = _rows(tables.read_stage(spark, wh, "triples"))
        if self.build_rows is None:
            self.build_rows = rows
        elif rows != self.build_rows:
            self.problems.append(f"round {k}: build rows differ from round 0")
        # the build a session pays for every further corpus once its JIT
        # is warm; a resume is mostly py4j round trips, whose latency on
        # a shared host swings too much to bound (README)
        warm_wh = wh + "w"
        shutil.rmtree(warm_wh, ignore_errors=True)
        with meter.phase("warm_build") as sp:
            _noop(run_pipeline(spark, spark.read.parquet(docs_dir), warehouse=warm_wh))
        rec["warm_build_s"] = sp["wall_s"]
        meter.untimed("check")
        if _rows(tables.read_stage(spark, warm_wh, "triples")) != rows:
            self.problems.append(f"round {k}: the warm build's rows differ from the build's")
        rec["resume_s"] = []
        for i in range(RESUMES):
            with meter.phase(f"resume{i}") as sp:
                out = run_pipeline(spark, spark.read.parquet(docs_dir), warehouse=wh)
                _noop(out)
            rec["resume_s"].append(sp["wall_s"])
            meter.untimed("check")
            if _rows(out) != rows:
                self.problems.append(f"round {k}: resume {i} returned other rows")
        # the lineage resume: untimed, checked against a fresh ["eb"]
        # build of the slice at the end of the run
        meter.untimed("lineage_resume")
        self.eb_rows.append(_rows(run_pipeline(
            spark, spark.read.parquet(self.corpus["slice_dir"]),
            preprocessing=["eb"], warehouse=wh)))
        rec["stage_mb"] = _du_mb(os.path.join(wh, "scored")) + _du_mb(os.path.join(wh, "triples"))
        self.last_wh = wh
        return rec

    def _traced_build(self, spark, meter: Meter, wh: str, rec: dict) -> None:
        """The build with each layer run on its materialized input, in
        pipeline order, each in its own span and job group."""
        from deepref_spark import pipeline
        from deepref_spark.io import tables
        from deepref_spark.operators import convert, fused, linking, score
        from deepref_spark.portable import RELATION_NAMES

        L = rec["layers"]
        rel2id = score.rel2id_from_relations(RELATION_NAMES)
        with meter.phase("build") as top:
            with meter.phase("convert.text_sentences") as sp:
                sentences = convert.text_sentences(
                    spark.read.parquet(self.corpus["docs_dir"])).localCheckpoint(eager=True)
            L["convert.s"] = sp["wall_s"]
            meter.untimed("count")
            L["convert.sentences"] = sentences.count()
            with meter.phase("fused.extract_scored_fused") as sp:
                scored = score.attach_pred_names(
                    fused.extract_scored_fused(spark, sentences, n_relations=len(rel2id)),
                    rel2id).localCheckpoint(eager=True)
            L["fused.s"] = sp["wall_s"]
            meter.untimed("count")
            mentions = scored.count()
            L["fused.mentions_per_s"] = mentions / sp["wall_s"]
            with meter.phase("tables.write_stage.scored") as sp:
                tables.write_stage(scored, wh, "scored",
                                   lineage={"stage": "extract_scored", "preprocessing": []})
            write_s = sp["wall_s"]
            staged = tables.read_stage(spark, wh, "scored")
            pos = staged.where("pred_relation != 'Other'")
            meter.untimed("entities")
            ents = (pos.selectExpr("h_name AS entity")
                    .union(pos.selectExpr("t_name AS entity"))
                    .distinct().localCheckpoint(eager=True))
            L["linking.entities"] = ents.count()
            with meter.phase("linking.canonical_map", group="t:linking") as sp:
                canon = linking.canonical_map(ents).localCheckpoint(eager=True)
            self.canon = canon
            L["linking.canonical_map_s"] = sp["wall_s"]
            orig = linking.canonical_map
            linking.canonical_map = lambda *a, **kw: canon
            try:
                with meter.phase("pipeline.dedup") as sp:
                    triples = pipeline.triples_from_scored(staged).localCheckpoint(eager=True)
            finally:
                linking.canonical_map = orig
            L["pipeline.dedup_s"] = sp["wall_s"]
            meter.untimed("count")
            L["pipeline.triples"] = triples.count()
            with meter.phase("tables.write_stage.triples") as sp:
                tables.write_stage(triples, wh, "triples", lineage={"stage": "triples"})
            L["tables.write_s"] = write_s + sp["wall_s"]
        L["tables.write_mb"] = (_du_mb(os.path.join(wh, "scored"))
                                + _du_mb(os.path.join(wh, "triples")))
        rec["build_s"] = top["wall_s"]

    # -- checks ------------------------------------------------------------

    def check(self, spark, seed: int) -> tuple[list[str], int]:
        """Returns (problems, failed operations)."""
        from deepref_spark.operators import linking
        from deepref_spark.pipeline import run_pipeline

        problems = list(self.problems)
        wh = self.last_wh
        scored = pd.read_parquet(os.path.join(wh, "scored"))
        if len(scored) != self.corpus["text_spans"]:
            problems.append(f"scored mentions {len(scored)} != text spans written "
                            f"{self.corpus['text_spans']}")
        problems += self._recompute_sample(scored, seed)

        pos = scored[scored["pred_relation"] != "Other"]
        canon = self.canon.toPandas()
        if set(canon["entity"]) != set(pos["h_name"]) | set(pos["t_name"]):
            problems.append("the canonical map does not cover exactly the triple entities")
        threshold = inspect.signature(linking.canonical_map).parameters["threshold"].default
        problems += checks.canonical_problems(canon, threshold)[:5]

        want = checks.frame_rows(checks.pandas_triples(scored, canon))
        got = checks.frame_rows(pd.read_parquet(os.path.join(wh, "triples"))[
            ["subj", "pred", "obj", "subj_canon", "obj_canon", "score", "n_docs"]])
        if got != want:
            problems.append(f"triples ({len(got)}) differ from the pandas dedup of "
                            f"the scored stage ({len(want)})")

        fresh = _rows(run_pipeline(spark, spark.read.parquet(self.corpus["slice_dir"]),
                                   preprocessing=["eb"]))
        failed = sum(rows != fresh for rows in self.eb_rows)
        return problems, failed

    def _recompute_sample(self, scored: pd.DataFrame, seed: int) -> list[str]:
        """Driver-side scoring of a seeded sample of mentions."""
        from deepref_spark import model, refsem
        from deepref_spark.nlp import get_tagger
        from deepref_spark.operators import score
        from deepref_spark.portable import RELATION_NAMES

        docs = pd.read_parquet(self.corpus["docs_dir"])
        text = {}
        for doc_id, spans in zip(docs["doc_id"], docs["spans"]):
            for i, s in enumerate(spans):
                if s["kind"] == "text":
                    text[f"{doc_id}#{i}"] = s["text"]
        sample = scored.sample(n=min(SAMPLE_MENTIONS, len(scored)), random_state=seed)
        tagger = get_tagger("ruletag")
        weights = model.build_weights(len(score.rel2id_from_relations(RELATION_NAMES)))
        ids, masks, p1, p2 = [], [], [], []
        problems = []
        for r in sample.itertuples():
            relation, tagged = text[r.sent_id].split("\t", 1)
            m = refsem.build_mention(tagged, relation, tagger)
            if (m.h["name"], m.t["name"]) != (r.h_name, r.t_name):
                problems.append(f"{r.sent_id}: entities {m.h['name']!r}/{m.t['name']!r} "
                                f"!= scored {r.h_name!r}/{r.t_name!r}")
            i, a, x, y = refsem.bert_entity_tokenize(m.token, m.h["pos"], m.t["pos"])
            ids.append(i), masks.append(a), p1.append(x), p2.append(y)
        pred, prob = model.forward_batch(weights, np.array(ids), np.array(masks),
                                         np.array(p1), np.array(p2))
        bad = int(np.sum(pred != sample["pred_id"].to_numpy()))
        off = float(np.max(np.abs(prob - sample["score"].to_numpy())))
        if bad:
            problems.append(f"{bad} of {len(sample)} sampled pred_id differ from the "
                            f"driver-side recomputation")
        if off > 1e-6:
            problems.append(f"sampled scores differ from the recomputation by up to {off:.3g}")
        return problems[:5]


class Queries:
    def __init__(self, name: str, queries: list[str], tables_dir: str, tables: list[str]):
        self.name = name
        self.queries = queries
        self.tables_dir = tables_dir
        self.tables = tables
        self.results: list[dict] = []  # per round: {query: [rows of each pass]}

    def ops_per_round(self) -> int:
        return len(self.queries) * (1 + WARM_PASSES)

    def _stages(self, spark) -> dict:
        from deepref_spark import queries as Q

        app = spark.sparkContext.applicationId
        return {k: v for k, v in Q._STAGE_CACHE.items() if k[0] == app}

    def _stage_mb(self, spark) -> float:
        total = 0
        for df in self._stages(spark).values():
            stats = df._jdf.queryExecution().optimizedPlan().stats()
            total += int(str(stats.sizeInBytes()))
        return total / 1e6

    def round(self, spark, meter: Meter, k: int, traced: bool) -> dict:
        if not traced:
            return self._round(spark, meter, {}, traced=False)
        from deepref_spark.operators import linking

        layer = {"linking.components_s": 0.0, "linking.jobs": 0}
        orig = linking.connected_components
        tracker = spark.sparkContext.statusTracker()

        def traced_cc(*a, **kw):
            group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
            j0 = len(tracker.getJobIdsForGroup(group))
            with meter.phase("linking.connected_components", group=group) as sp:
                out = orig(*a, **kw)
            layer["linking.components_s"] += sp["wall_s"]
            layer["linking.jobs"] += len(tracker.getJobIdsForGroup(group)) - j0
            return out

        linking.connected_components = traced_cc
        try:
            return self._round(spark, meter, layer, traced=True)
        finally:
            linking.connected_components = orig

    def _round(self, spark, meter: Meter, layers: dict, traced: bool) -> dict:
        from deepref_spark.queries import REGISTRY

        rec: dict = {"passes": [], "queries": {}, "layers": layers}
        rows: dict = {}
        for p in range(1 + WARM_PASSES):
            kind = "cold" if p == 0 else "warm"
            with meter.phase(f"{kind}{p}") as top:
                for q in self.queries:
                    n0 = len(self._stages(spark))
                    with meter.phase(f"{kind}{p}:{q}", group=f"t:{kind}{p}:{q}",
                                     light=not traced) as sp:
                        df = REGISTRY[q]["spark"](spark, self.tables_dir)
                        got = df.collect()
                    rows.setdefault(q, []).append(checks.spark_rows(df.schema, got))
                    qr = rec["queries"].setdefault(q, {"cold_s": 0.0, "warm_s": [],
                                                       "stages_built": 0})
                    if p == 0:
                        qr["cold_s"] = sp["wall_s"]
                        qr["stages_built"] = len(self._stages(spark)) - n0
                    else:
                        qr["warm_s"].append(sp["wall_s"])
            rec["passes"].append(top["wall_s"])
            if p == 0:
                meter.untimed("stage_size")
                rec["stage_mb"] = self._stage_mb(spark)
        self.results.append(rows)
        return rec

    def check(self, spark, seed: int) -> tuple[list[str], int]:
        from deepref_spark.queries import oracle_sql_for

        problems = []
        oracle = checks.Oracle(self.tables_dir, self.tables)
        try:
            for q in self.queries:
                want = oracle.rows(oracle_sql_for(q))
                for rows in self.results:
                    for i, got in enumerate(rows[q]):
                        ok, why = checks.same_rows(got, want)
                        if not ok:
                            problems.append(f"{q} pass {i} vs oracle: {why}")
                        ok, why = checks.same_rows(got, rows[q][0])
                        if not ok:
                            problems.append(f"{q} pass {i} vs cold pass: {why}")
        finally:
            oracle.close()
        return problems, 0
