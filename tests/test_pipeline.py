"""End-to-end Spark pipeline tests: span-sequence invariant, oracle
parity of the parse/preprocess stages against refsem, scoring
determinism, triples shape (SURVEY.md §5 strategies (2)-(5))."""

import pandas as pd
import pyspark.sql.functions as F
import pytest

from deepref_spark import refsem, synth
from deepref_spark.nlp import RuleTagger
from deepref_spark.operators import convert, parse, preprocess, tokenize
from deepref_spark.pipeline import extract_scored, triples_from_scored

N_DOCS = 60


@pytest.fixture(scope="module")
def docs(spark):
    return synth.generate_docs(spark, N_DOCS, partitions=4).cache()


def test_synth_deterministic_and_distributed_matches_pandas(spark, docs):
    local = synth.generate_docs_pandas(N_DOCS)
    dist = docs.orderBy("doc_id").toPandas()
    assert list(dist["doc_id"]) == sorted(local["doc_id"])
    local = local.sort_values("doc_id").reset_index(drop=True)
    for a, b in zip(dist["spans"], local["spans"]):
        assert [tuple(x) if not isinstance(x, dict) else (x["kind"], x["text"], x["media_ref"], x["offset"]) for x in b] == [
            (r["kind"], r["text"], r["media_ref"], r["offset"]) for r in a
        ]


def test_span_sequence_invariant_roundtrip(spark, docs):
    """explode -> shuffle -> reassemble == identity on
    (kind, text, media_ref, offset) sequences — the per-row invariant."""
    exploded = convert.explode_spans(docs).repartition(7, "text")
    back = convert.reassemble_docs(exploded)
    orig = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
            for r in docs.collect()}
    round_ = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
              for r in back.collect()}
    assert orig == round_


def test_media_spans_flow_through_untouched(spark, docs):
    media = convert.media_spans(docs)
    rows = media.collect()
    assert all(r["text"] == "" and r["media_ref"].startswith("media://") for r in rows)
    n_media = sum(
        1 for r in docs.select(F.explode("spans").alias("s")).collect() if r["s"]["kind"] == "media"
    )
    assert len(rows) == n_media


def test_parse_matches_refsem_oracle(spark, docs):
    sentences = convert.text_sentences(docs)
    got = {r["sent_id"]: r for r in parse.parse_mentions(sentences).collect()}
    tagger = RuleTagger()
    checked = 0
    for r in sentences.collect():
        m = refsem.build_mention(r["tagged"], r["relation"], tagger)
        g = got[r["sent_id"]]
        assert list(g["token"]) == m.token
        assert g["h"]["name"] == m.h["name"] and list(g["h"]["pos"]) == m.h["pos"]
        assert g["t"]["name"] == m.t["name"] and list(g["t"]["pos"]) == m.t["pos"]
        assert list(g["pos_tags"]) == m.pos_tags
        assert list(g["deps"]) == m.deps
        checked += 1
    assert checked > 50


@pytest.mark.parametrize("variant", [["sw"], ["p"], ["d"], ["b"], ["eb"], ["nb"], ["sw", "d", "eb"], ["b", "d", "p"]])
def test_preprocess_variants_match_oracle(spark, docs, variant):
    sentences = convert.text_sentences(docs)
    mentions = parse.parse_mentions(sentences).cache()
    got = {r["sent_id"]: r for r in preprocess.apply_variant(mentions, variant).collect()}
    tagger = RuleTagger()
    for r in mentions.collect():
        m = refsem.Mention(
            token=list(r["token"]),
            h={"name": r["h"]["name"], "pos": list(r["h"]["pos"])},
            t={"name": r["t"]["name"], "pos": list(r["t"]["pos"])},
            relation=r["relation"],
            pos_tags=list(r["pos_tags"]), deps=list(r["deps"]), ner=list(r["ner"]),
        )
        try:
            expect = refsem.apply_preprocessing(m, variant)
        except AssertionError:
            assert r["sent_id"] not in got
            continue
        g = got[r["sent_id"]]
        assert list(g["token"]) == expect.token, (variant, r["sent_id"])
        assert list(g["h"]["pos"]) == expect.h["pos"]
        assert list(g["t"]["pos"]) == expect.t["pos"]


def test_digit_blind_builtin_equals_kernel(spark, docs):
    mentions = parse.parse_mentions(convert.text_sentences(docs))
    a = preprocess.digit_blind_builtin(mentions).select("sent_id", "token").collect()
    b = preprocess.apply_variant(mentions, ["d"]).select("sent_id", "token").collect()
    assert {r["sent_id"]: list(r["token"]) for r in a} == {r["sent_id"]: list(r["token"]) for r in b}


def test_scoring_deterministic_across_partitionings(spark, docs):
    scored1 = extract_scored(spark, docs).select("sent_id", "pred_id", "score")
    scored2 = extract_scored(spark, docs.repartition(13)).select("sent_id", "pred_id", "score")
    p1 = {r["sent_id"]: (r["pred_id"], round(r["score"], 12)) for r in scored1.collect()}
    p2 = {r["sent_id"]: (r["pred_id"], round(r["score"], 12)) for r in scored2.collect()}
    assert p1 == p2


def test_triples_end_to_end(spark, docs):
    scored = extract_scored(spark, docs)
    triples = triples_from_scored(scored, canonicalize=True)
    pdf = triples.toPandas()
    assert len(pdf) > 0
    assert set(pdf.columns) == {"subj", "pred", "obj", "subj_canon", "obj_canon", "score", "n_docs"}
    assert (pdf["pred"] != "Other").all()
    # dedup: canonical triple key unique
    assert not pdf.duplicated(["subj_canon", "pred", "obj_canon"]).any()


def test_tokenize_matches_oracle(spark, docs):
    mentions = parse.parse_mentions(convert.text_sentences(docs))
    got = {r["sent_id"]: r for r in tokenize.tokenize_mentions(mentions, max_length=64).collect()}
    for r in mentions.collect():
        ids, mask, p1, p2 = refsem.bert_entity_tokenize(
            list(r["token"]), list(r["h"]["pos"]), list(r["t"]["pos"]), max_length=64
        )
        g = got[r["sent_id"]]
        assert list(g["ids"]) == ids and list(g["att_mask"]) == mask
        assert g["pos1"] == p1 and g["pos2"] == p2


def test_fused_equals_modular(spark, docs):
    """The fused single-crossing operator must be bit-identical to the
    modular parse->preprocess->tokenize->score chain."""
    for prep in (None, ["sw", "d"]):
        a = extract_scored(spark, docs, preprocessing=prep, fused=True)
        b = extract_scored(spark, docs, preprocessing=prep, fused=False)
        ra = {r["sent_id"]: (r["pred_id"], r["score"], r["h_name"], r["t_name"]) for r in a.collect()}
        rb = {r["sent_id"]: (r["pred_id"], r["score"], r["h_name"], r["t_name"]) for r in b.collect()}
        assert ra == rb


def test_size_gated_broadcast_non_broadcast_path(spark, docs):
    """Above the config limit the canonical map must NOT carry a
    broadcast hint, and the triples must be identical either way."""
    from deepref_spark.operators.linking import size_gated_broadcast

    small = spark.createDataFrame(
        [("a", "a"), ("b", "a")], "entity string, canonical string"
    )
    hinted, n = size_gated_broadcast(small)
    assert n == 2
    assert "hint" in hinted._jdf.queryExecution().analyzed().toString().lower()
    spark.conf.set("deepref.broadcast.max_entities", "0")
    try:
        plain, n2 = size_gated_broadcast(small)
        assert n2 == 2
        assert "hint" not in plain._jdf.queryExecution().analyzed().toString().lower()
        scored = extract_scored(spark, docs)
        shuffled = {
            (r["subj_canon"], r["pred"], r["obj_canon"], round(r["score"], 9))
            for r in triples_from_scored(scored, canonicalize=True).collect()
        }
    finally:
        spark.conf.unset("deepref.broadcast.max_entities")
    broadcasted = {
        (r["subj_canon"], r["pred"], r["obj_canon"], round(r["score"], 9))
        for r in triples_from_scored(extract_scored(spark, docs), canonicalize=True).collect()
    }
    assert shuffled == broadcasted


def test_run_pipeline_leaves_no_cache_entry(spark, docs):
    """Canonicalization's entity map is staged for the two joins only:
    nothing unpersists it, so repeated run_pipeline calls in one
    session must not add CacheManager entries."""
    from deepref_spark.pipeline import run_pipeline

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    before = cache_manager.numCachedEntries()
    for _ in range(2):
        run_pipeline(spark, docs).collect()
    assert cache_manager.numCachedEntries() == before


def test_checkpoint_resume_reuses_stage_tables(spark, docs, tmp_path):
    """north rule: resumable from checkpoint. Second run with the same
    warehouse must return bit-identical triples AND read them from the
    persisted stage tables rather than recomputing (proven by feeding a
    DIFFERENT docs frame on resume — the stage manifest wins)."""
    from deepref_spark import synth
    from deepref_spark.pipeline import run_pipeline

    wh = str(tmp_path / "wh")
    first = run_pipeline(spark, docs, warehouse=wh)
    key = lambda r: (r["subj_canon"], r["pred"], r["obj_canon"],  # noqa: E731
                     round(r["score"], 9), r["n_docs"])
    rows1 = sorted(key(r) for r in first.collect())

    other_docs = synth.generate_docs(spark, 10, partitions=2)
    resumed = run_pipeline(spark, other_docs, warehouse=wh)
    rows2 = sorted(key(r) for r in resumed.collect())
    assert rows1 == rows2, "resume must serve the checkpointed stages"

    # fresh warehouse with the other docs -> genuinely different output
    fresh = run_pipeline(spark, other_docs, warehouse=str(tmp_path / "wh2"))
    assert sorted(key(r) for r in fresh.collect()) != rows1


@pytest.mark.parametrize("partition_by", [None, ["p"]])
def test_stage_resume_reads_the_manifest_schema(spark, tmp_path, partition_by):
    """ensure_stage reads a stage with the schema it was written with:
    the manifest's row count is observed on the write, a resume runs no
    Spark job (no schema inference), the schema read equals the one
    inference gives, and a manifest whose schema does not parse still
    resumes, by inference."""
    import json
    import os

    from deepref_spark.io.tables import (
        MANIFEST, _fs_write_text, ensure_stage, read_stage, stage_path,
    )

    wh = str(tmp_path / "wh")
    src = spark.range(7).selectExpr(
        "id", "CAST(id AS STRING) AS s", "array(CAST(id AS FLOAT), NULL) AS v",
        "IF(id % 2 = 0, 'x', 'y') AS p")
    first = ensure_stage(spark, wh, "probe", lambda: src, partition_by)
    mpath = os.path.join(stage_path(wh, "probe"), MANIFEST)
    with open(mpath) as f:
        manifest = json.load(f)
    assert manifest["rows"] == 7
    assert manifest["schema"] == src.schema.simpleString()
    want = sorted(map(tuple, first.collect()))
    assert len(want) == 7

    def recompute():
        raise AssertionError("a complete stage was recomputed")

    sc = spark.sparkContext
    sc.setJobGroup("stage-resume-probe", "resume")
    try:
        resumed = ensure_stage(spark, wh, "probe", recompute, partition_by)
        assert resumed.schema == first.schema
        jobs = sc.statusTracker().getJobIdsForGroup("stage-resume-probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []
    assert resumed.schema == read_stage(spark, wh, "probe").schema
    assert sorted(map(tuple, resumed.collect())) == want

    manifest["schema"] = "struct<id:bigint,... 3 more fields>"
    _fs_write_text(spark, mpath, json.dumps(manifest))
    inferred = ensure_stage(spark, wh, "probe", recompute, partition_by)
    assert inferred.schema == first.schema
    assert sorted(map(tuple, inferred.collect())) == want


def test_stage_complete_rejects_corrupt_manifest(spark, docs, tmp_path):
    """A crash-truncated (empty/partial) manifest must NOT mark a stage
    complete — stage_complete validates the JSON, and the temp+rename
    write never leaves a partial manifest at the final path."""
    import os

    from deepref_spark.io.tables import (
        MANIFEST, stage_complete, stage_path, write_stage,
    )

    wh = str(tmp_path / "wh")
    write_stage(docs.limit(5), wh, "probe")
    assert stage_complete(wh, "probe", spark)
    mpath = os.path.join(stage_path(wh, "probe"), MANIFEST)
    assert not os.path.exists(mpath + ".inprogress")  # rename completed
    with open(mpath, "w"):
        pass  # simulate the crash-between-create-and-close artifact
    assert not stage_complete(wh, "probe", spark)
    assert not stage_complete(wh, "probe", None)
