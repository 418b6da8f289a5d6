"""Operator-level Spark tests: corpus sources, linking/CC, dedup,
multimodal plumbing, skew helper, streaming (SURVEY.md §5)."""

import os

import pyspark.sql.functions as F
import pytest

from deepref_spark import refsem

SEMEVAL_RAW = """1\t"The <e1>outline</e1> focuses on <e2>spirituality</e2> and mysticism."
Message-Topic(e1,e2)
Comment:

2\t"A <e1>misty ridge</e1> rises from the <e2>surge</e2> quickly."
Other
Comment:

"""

DDI_XML = """<?xml version="1.0" encoding="UTF-8"?>
<document id="d1">
  <sentence id="d1.s0" text="Aspirin increases the effect of warfarin.">
    <entity id="d1.s0.e0" charOffset="0-6" type="drug" text="Aspirin"/>
    <entity id="d1.s0.e1" charOffset="33-40" type="drug" text="warfarin"/>
    <pair id="d1.s0.p0" e1="d1.s0.e0" e2="d1.s0.e1" type="effect"/>
    <pair id="d1.s0.p1" e1="d1.s0.e0" e2="d1.s0.e1" type=""/>
  </sentence>
  <sentence id="d1.s1" text="Penicillin and amoxicillin with aspirin daily.">
    <entity id="d1.s1.e0" charOffset="0-9" type="drug" text="Penicillin"/>
    <entity id="d1.s1.e1" charOffset="15-25;32-38" type="drug" text="amoxicillin"/>
    <pair id="d1.s1.p0" e1="d1.s1.e0" e2="d1.s1.e1" type="advise"/>
  </sentence>
</document>
"""


def test_semeval2010_source(spark, tmp_path):
    p = tmp_path / "semeval.txt"
    p.write_text(SEMEVAL_RAW)
    from deepref_spark.sources.semeval2010 import read_semeval2010

    rows = {r["group_id"]: r for r in read_semeval2010(spark, str(p)).collect()}
    assert len(rows) == 2
    assert rows[0]["relation"] == "Message-Topic(e1,e2)"
    # matches the pure-python converter semantics exactly
    assert rows[0]["tagged"] == refsem.tag_sentence_semeval(
        '1\t"The <e1>outline</e1> focuses on <e2>spirituality</e2> and mysticism."'
    )
    assert rows[1]["tagged"].startswith("A ENTITYSTART misty ridge ENTITYEND")


def test_ddi_xml_source(spark, tmp_path):
    d = tmp_path / "ddi"
    os.makedirs(d, exist_ok=True)
    (d / "doc1.xml").write_text(DDI_XML)
    from deepref_spark.sources.ddi_xml import read_ddi_xml

    rows = {r["pair_id"]: r for r in read_ddi_xml(spark, str(d)).collect()}
    # empty-type pair skipped (ddi_converter.py:41-42)
    assert set(rows) == {"d1.s0.p0", "d1.s1.p0"}
    assert rows["d1.s0.p0"]["relation"] == "effect"
    assert rows["d1.s0.p0"]["tagged"] == refsem.tag_sentence_offsets(
        "Aspirin increases the effect of warfarin.", ["0-6"], ["33-40"], []
    )
    # ';'-split charOffset: two ENTITYOTHER spans for amoxicillin/aspirin
    assert rows["d1.s1.p0"]["tagged"].count("ENTITYOTHERSTART") == 2


def test_connected_components_known_graph(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"), ("r", "p")],
        "a string, b string",
    )
    from deepref_spark.operators.linking import connected_components

    comps = {r["entity"]: r["component"] for r in connected_components(edges).collect()}
    assert comps["a"] == comps["b"] == comps["c"] == "a"
    assert comps["x"] == comps["y"] == "x"
    assert comps["p"] == comps["q"] == comps["r"] == "p"


def test_canonical_map_merges_typos_not_distinct_names(spark):
    ents = spark.createDataFrame(
        [("aspirin",), ("aspirn",), ("warfarin",), ("recycling",)], "entity string"
    )
    from deepref_spark.operators.linking import canonical_map

    # char-3gram jaccard(aspirin, aspirn) = 4/9 ≈ 0.444
    canon = {r["entity"]: r["canonical"] for r in canonical_map(ents, threshold=0.4).collect()}
    assert canon["aspirin"] == canon["aspirn"]  # typo merges
    assert canon["warfarin"] != canon["recycling"]  # distinct stay apart
    assert canon["recycling"] == "recycling"  # singleton maps to itself


def test_salted_count_equals_plain_groupby(spark):
    df = spark.createDataFrame(
        [("hot",)] * 50 + [("cold",)] * 3 + [("warm",)] * 7, "k string"
    )
    from deepref_spark.operators.skew import salted_count

    got = {r["k"]: r["n"] for r in salted_count(df, ["k"]).collect()}
    assert got == {"hot": 50, "cold": 3, "warm": 7}


def test_confusion_matrix_counts_golden_pred_pairs(spark):
    from deepref_spark.operators.metrics import confusion_matrix

    preds = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("a", "a"), ("b", "b")],
        "relation string, pred_relation string")
    got = {(r["golden"], r["pred"]): r["n"] for r in confusion_matrix(preds).collect()}
    assert got == {("a", "a"): 2, ("a", "b"): 1, ("b", "b"): 1}


def test_sentence_length_histogram(spark):
    from deepref_spark.operators.metrics import sentence_length_histogram

    mentions = spark.createDataFrame(
        [(["x", "y"],), (["z", "w"],), (["v"],)], "token array<string>")
    got = {r["sentence_length"]: r["n"]
           for r in sentence_length_histogram(mentions).collect()}
    assert got == {2: 2, 1: 1}


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text here"), (2, "same text here"), (3, "different")],
        "doc_id long, text string",
    )
    from deepref_spark.operators.dedup import exact_dedup

    rows = exact_dedup(df).collect()
    groups = {r["keep_doc_id"]: r["n_dups"] for r in rows}
    assert groups == {1: 2, 3: 1}


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "completely unrelated content with nothing shared at all")],
        "doc_id long, text string",
    )
    from deepref_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    pairs = {(r["a"], r["b"]) for r in minhash_lsh_pairs(df).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    strict = {(r["a"], r["b"]) for r in ngram_jaccard_pairs(df, threshold=0.5).collect()}
    assert (1, 2) in strict


def test_multimodal_plumbing(spark):
    from deepref_spark import synth
    from deepref_spark.operators.convert import media_spans
    from deepref_spark.operators.multimodal import (
        FEATURE_DIM, extract_media_features, fake_decode, decode_media, media_stats,
    )

    docs = synth.generate_docs(spark, 30, partitions=2)
    media = media_spans(docs)
    feats = extract_media_features(media)
    rows = feats.collect()
    assert len(rows) == media.count()
    for r in rows[:5]:
        assert len(r["features"]) == FEATURE_DIM
        expect = fake_decode(r["media_ref"].encode("utf-8"))
        assert [round(float(x), 6) for x in r["features"]] == [round(float(x), 6) for x in expect]
    assert media_stats(feats).count() >= 1
    with pytest.raises(NotImplementedError):
        decode_media(b"real-bytes")


def test_streaming_windowed_counts(spark, tmp_path):
    """File-source streaming smoke: watermarked tumbling window agg
    driven to completion with processAllAvailable."""
    from deepref_spark.schemas import load_table
    from deepref_spark.streaming.stream_ops import windowed_event_counts

    src = str(tmp_path / "events_in")
    load_table(spark, "/root/testdata/sf0.001", "events").limit(200).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.outputMode("append").format("memory")
        .queryName("win_out").trigger(availableNow=True).start()
    )
    q.processAllAvailable()
    q.stop()
    # append mode only emits closed windows; compare the batch twin on
    # the same data for the windows that did close
    batch = windowed_event_counts(spark.read.parquet(src), window="1 hour")
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    expect = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["total_value"])
        for r in batch.collect()
    }
    for k, v in got.items():
        assert expect[k] == v


def test_streaming_triple_dedup(spark, tmp_path):
    from deepref_spark.streaming.stream_ops import streaming_triple_dedup

    src = str(tmp_path / "triples_in")
    spark.createDataFrame(
        [("a", "r", "b", "2024-01-01 00:00:00"),
         ("a", "r", "b", "2024-01-01 00:10:00"),
         ("c", "r", "d", "2024-01-01 00:20:00")],
        "subj string, pred string, obj string, event_time string",
    ).withColumn("event_time", F.to_timestamp("event_time")).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_triple_dedup(stream).writeStream.outputMode("append")
        .format("memory").queryName("trip_out").trigger(availableNow=True).start()
    )
    q.processAllAvailable()
    q.stop()
    rows = {(r["subj"], r["pred"], r["obj"]) for r in spark.sql("SELECT * FROM trip_out").collect()}
    assert rows == {("a", "r", "b"), ("c", "r", "d")}


def test_funnel_ordered_semantics(spark):
    """Hand-checked ordered funnel: user 1 completes all four steps in
    order; user 2 clicks BEFORE viewing (out of order -> stops at
    view); user 3 only signs up; a view with no prior signup never
    counts. Zero-user steps still emit a row."""
    from deepref_spark.operators.events import funnel

    rows = [
        (1, "signup", "2024-01-01 00:00:00"), (1, "view", "2024-01-01 01:00:00"),
        (1, "click", "2024-01-01 02:00:00"), (1, "purchase", "2024-01-01 03:00:00"),
        (2, "signup", "2024-01-01 00:00:00"), (2, "click", "2024-01-01 00:30:00"),
        (2, "view", "2024-01-01 01:00:00"),
        (3, "signup", "2024-01-02 00:00:00"),
        (4, "view", "2024-01-02 00:00:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    out = {r["step"]: (r["step_idx"], r["n_users"])
           for r in funnel(ev, ["signup", "view", "click", "purchase"]).collect()}
    # user 2's click at 00:30 precedes their view at 01:00 -> no click-
    # after-view, so only user 1 reaches click and purchase
    assert out == {"signup": (1, 3), "view": (2, 2),
                   "click": (3, 1), "purchase": (4, 1)}


def test_funnel_strictly_after_excludes_simultaneous(spark):
    from deepref_spark.operators.events import funnel

    ev = spark.createDataFrame(
        [(1, "signup", "2024-01-01 00:00:00"), (1, "view", "2024-01-01 00:00:00")],
        "user_id long, event_type string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["step"]: r["n_users"] for r in funnel(ev, ["signup", "view"]).collect()}
    assert out == {"signup": 1, "view": 0}


def test_retention_hand_checked(spark):
    """User 1 active on days 0, 1, 3 of their cohort; user 2 (same
    cohort date) only day 0; activity past the horizon is excluded."""
    from deepref_spark.operators.events import retention

    rows = [
        (1, "2024-01-01 08:00:00"), (1, "2024-01-02 09:00:00"),
        (1, "2024-01-04 10:00:00"), (1, "2024-01-20 00:00:00"),
        (2, "2024-01-01 23:00:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    out = {(str(r["cohort_date"]), r["day_offset"]): r["n_active"]
           for r in retention(ev, horizon_days=7).collect()}
    assert out == {("2024-01-01", 0): 2, ("2024-01-01", 1): 1,
                   ("2024-01-01", 3): 1}


def test_stream_stream_attribution_join(spark, tmp_path):
    """TRUE stream-stream join: both sides file-source streams with
    watermarks + the time-range condition (Spark requires both for
    bounded state), driven with processAllAvailable and pinned
    row-for-row against the batch execution of the same expression."""
    from deepref_spark.schemas import load_table
    from deepref_spark.streaming.stream_ops import attribution_join_stream

    src = str(tmp_path / "events_in")
    load_table(spark, "/root/testdata/sf0.001", "events").write.parquet(src)
    schema = spark.read.parquet(src).schema
    t_stream = spark.readStream.schema(schema).parquet(src).where(
        "event_type = 'view'")
    a_stream = spark.readStream.schema(schema).parquet(src).where(
        "event_type = 'click'")
    q = (
        attribution_join_stream(t_stream, a_stream)
        .writeStream.outputMode("append").format("memory")
        .queryName("attr_out").trigger(availableNow=True).start()
    )
    q.processAllAvailable()
    q.stop()
    batch_df = attribution_join_stream(
        spark.read.parquet(src).where("event_type = 'view'"),
        spark.read.parquet(src).where("event_type = 'click'"),
    )
    key = lambda r: (r["user_id"], r["trigger_id"], r["action_id"])
    got = {key(r): (str(r["trigger_ts"]), str(r["action_ts"]),
                    r["lag_seconds"], r["action_value"])
           for r in spark.sql("SELECT * FROM attr_out").collect()}
    expect = {key(r): (str(r["trigger_ts"]), str(r["action_ts"]),
                       r["lag_seconds"], r["action_value"])
              for r in batch_df.collect()}
    assert got == expect
    assert len(got) > 0
    assert all(0 <= v[2] <= 1800 for v in got.values())


def test_stateful_running_entity_counts(spark, tmp_path):
    """applyInPandasWithState over a file-source stream: running
    per-entity mention counts + best score (update mode)."""
    import pyspark.sql.functions as F
    from deepref_spark.streaming.stream_ops import running_entity_counts

    src = str(tmp_path / "scored_in")
    spark.createDataFrame(
        [("aspirin", 0.9), ("aspirin", 0.7), ("engine", 0.5), ("aspirin", 0.95)],
        "subj string, score double",
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        running_entity_counts(stream).writeStream.outputMode("update")
        .format("memory").queryName("state_out").trigger(availableNow=True).start()
    )
    q.processAllAvailable()
    q.stop()
    rows = {r["subj"]: r for r in spark.sql(
        "SELECT subj, max(n_mentions) n_mentions, max(best_score) best_score FROM state_out GROUP BY subj"
    ).collect()}
    assert rows["aspirin"]["n_mentions"] == 3 and abs(rows["aspirin"]["best_score"] - 0.95) < 1e-9
    assert rows["engine"]["n_mentions"] == 1


def test_label_map_sink(tmp_path):
    from deepref_spark.io.tables import read_label_map, write_label_map

    p = str(tmp_path / "rel2id.json")
    write_label_map(p, {"b-rel": 1, "a-rel": 0, "Other": 2})
    assert read_label_map(p) == {"a-rel": 0, "b-rel": 1, "Other": 2}


def test_graph_table_materialization_fallback(spark, tmp_path):
    """north rule graph materialize: the Iceberg probe correctly reports
    no catalog here and the parquet fallback round-trips with the same
    partition spec."""
    from deepref_spark.io import tables

    assert tables.iceberg_catalog(spark) is None  # no jar in container
    df = spark.createDataFrame(
        [("a", "cause-effect", "b", 0.9), ("c", "message-topic", "d", 0.8)],
        "subj string, pred string, obj string, score double",
    )
    out = tables.write_graph_table(df, str(tmp_path), "triples", partition_by=["pred"])
    back = spark.read.parquet(out)
    assert back.count() == 2
    assert set(back.columns) == {"subj", "pred", "obj", "score"}
    import os

    assert any(p.startswith("pred=") for p in os.listdir(out))


def test_multimodal_resize_and_frame_plumbing(spark):
    """resize (1->1) and frame sampling (1->N for video, 1->1 else):
    batch shapes, metadata, and decoder parity."""
    from deepref_spark.operators import multimodal as mm

    media = spark.createDataFrame(
        [("1", 0, "/img/1.png"), ("2", 0, "/vid/2.mp4"), ("3", 1, "/aud/3.wav")],
        "doc_id string, span_idx int, media_ref string",
    )
    resized = {r["media_ref"]: r for r in mm.resize_media(media, 224, 224).collect()}
    assert len(resized) == 3
    for ref, r in resized.items():
        assert (r["width"], r["height"]) == (224, 224)
        assert r["resized_n_bytes"] >= 1
        expect = mm.fake_decode(ref.encode("utf-8"))
        assert abs(r["features"][0] - float(expect[0])) < 1e-6

    frames = mm.sample_frames(media, n_frames=4).collect()
    per_ref = {}
    for r in frames:
        per_ref.setdefault(r["media_ref"], []).append(r)
    assert len(per_ref["/vid/2.mp4"]) == 4
    assert len(per_ref["/img/1.png"]) == 1
    vid = sorted(per_ref["/vid/2.mp4"], key=lambda r: r["frame_idx"])
    assert [v["frame_idx"] for v in vid] == [0, 1, 2, 3]
    assert vid[0]["frame_ts"] == 0.0
    assert vid[1]["frame_ts"] < vid[2]["frame_ts"] < vid[3]["frame_ts"]
    # per-frame features differ (frame index feeds the decoder)
    assert vid[0]["features"][0] != vid[1]["features"][0]


def test_streaming_watermark_drops_late_data_across_restarts(spark, tmp_path):
    """Watermark semantics across micro-batches AND a query restart:
    batch 1 advances the watermark; after a checkpointed restart, a
    wave-2 event older than the watermark horizon is dropped from its
    (already-closed) window while an in-horizon wave-2 event still
    lands. This is the behavior the single-pass availableNow tests
    cannot show."""
    from deepref_spark.streaming.stream_ops import streaming_triple_dedup

    src = str(tmp_path / "late_in")
    ckpt = str(tmp_path / "late_ckpt")

    def write_wave(rows):
        spark.createDataFrame(
            rows, "subj string, pred string, obj string, event_time string",
        ).withColumn("event_time", F.to_timestamp("event_time")).write.mode(
            "append"
        ).parquet(src)

    out = str(tmp_path / "late_out")

    def run_pass():
        # file sink, not memory: the memory sink cannot recover from a
        # checkpoint, and the restart IS the point of this test
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming_triple_dedup(stream, watermark="1 hour")
            .writeStream.outputMode("append").format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.processAllAvailable()
        q.stop()

    # wave 1: watermark advances to 12:00 - 1h = 11:00
    write_wave([("a", "r", "b", "2024-01-01 12:00:00")])
    run_pass()
    # wave 2 after restart: a DUPLICATE of (a,r,b) stamped before the
    # watermark horizon must be treated as late (its dedup state is
    # still live only within the horizon — the duplicate is dropped
    # either way); a FRESH key stamped before the horizon is the real
    # probe: state for it was never seen, and append-mode dedup drops
    # late rows outright.
    write_wave([
        ("late", "r", "x", "2024-01-01 09:00:00"),   # < 11:00 horizon: dropped
        ("fresh", "r", "y", "2024-01-01 12:30:00"),  # in horizon: emitted
        ("a", "r", "b", "2024-01-01 12:31:00"),      # duplicate: suppressed
    ])
    run_pass()
    rows = [
        (r["subj"], r["pred"], r["obj"])
        for r in spark.read.parquet(out).collect()
    ]
    assert rows.count(("a", "r", "b")) == 1          # dedup held across restart
    assert ("fresh", "r", "y") in rows
    assert ("late", "r", "x") not in rows            # watermark dropped it


def test_streaming_session_window(spark, tmp_path):
    """sessionize_stream (native session_window) driven as a REAL
    stream: sessions close when the watermark passes the gap, and the
    per-session rollups equal the batch sessionize twin's on the same
    data (session boundaries are the same gap rule)."""
    from deepref_spark.streaming.stream_ops import sessionize, sessionize_stream

    src = str(tmp_path / "sess_in")
    rows = [
        ("u1", "2024-01-01 10:00:00", 1.0),
        ("u1", "2024-01-01 10:10:00", 2.0),   # same session (gap 10m < 30m)
        ("u1", "2024-01-01 12:00:00", 4.0),   # new session (gap 110m)
        ("u2", "2024-01-01 10:05:00", 8.0),
        # sentinel tail events: append mode only emits a session once
        # the watermark (max event time) passes its close; without a
        # LATER event per user the final session would stay open and
        # never be emitted by the availableNow pass
        ("u1", "2024-01-01 15:00:00", 0.0),
        ("u2", "2024-01-01 15:00:00", 0.0),
    ]
    spark.createDataFrame(rows, "user_id string, ts string, value double") \
        .withColumn("ts", F.to_timestamp("ts")).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        sessionize_stream(stream, gap_minutes=30, watermark="0 seconds")
        .writeStream.outputMode("append").format("memory")
        .queryName("sess_out").trigger(availableNow=True).start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["user_id"], str(r["session_start"])): (r["n_events"], r["session_value"])
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    batch = {
        (r["user_id"], str(r["session_start"])): (r["n_events"], r["session_value"])
        for r in sessionize(spark.read.parquet(src), gap_minutes=30).collect()
    }
    # every CLOSED session matches the batch twin; the sentinel
    # sessions (15:00) are the open tails and correctly absent
    open_tails = {k for k in batch if "15:00:00" in k[1]}
    assert got == {k: v for k, v in batch.items() if k not in open_tails}
    assert got[("u1", "2024-01-01 10:00:00")] == (2, 3.0)
    assert got[("u1", "2024-01-01 12:00:00")] == (1, 4.0)
    assert got[("u2", "2024-01-01 10:05:00")] == (1, 8.0)


def test_pack_offsets_invariants(spark):
    """Concat-and-chop packing: per-bucket streams are gapless (each
    doc starts where the previous ended), chunk spans are consistent
    with offsets, and bucket chunk counts equal ceil(total/max)."""
    from deepref_spark.queries import documents
    from deepref_spark.operators.text_analysis import pack_offsets

    out = pack_offsets(
        documents(spark, "/root/testdata/sf0.001"), max_tokens=256, n_buckets=8
    ).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r)
    assert len(by_bucket) == 8
    for b, rows in by_bucket.items():
        rows.sort(key=lambda r: r["doc_id"])
        off = 0
        for r in rows:
            assert r["start_off"] == off, (b, r)
            assert r["first_chunk"] == r["start_off"] // 256
            assert r["last_chunk"] == (r["start_off"] + max(r["n_pieces"], 1) - 1) // 256
            assert r["first_chunk"] <= r["last_chunk"]
            off += r["n_pieces"]
        total = sum(r["n_pieces"] for r in rows)
        assert rows[-1]["last_chunk"] == (total - 1) // 256


def test_fingerprint_plan_has_no_lambda_tokenize(spark):
    """Regression guard for the lambda re-evaluation trap (the repo's
    measured ~10x): fingerprint must stage the token array behind a
    pushdown barrier, so the per-shingle aggregate lambda references a
    plain column — ZERO tokenize regex chains may appear in the plan
    downstream of the barrier (round 4 spliced norm_tokens into the
    shingle slice, re-tokenizing once per window position)."""
    from deepref_spark.queries import documents
    from deepref_spark.operators.text_analysis import fingerprint

    df = fingerprint(documents(spark, "/root/testdata/sf0.001"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("regexp_replace") == 0, (
        "tokenize leaked into the per-shingle lambda"
    )


def test_repetition_stats_planted(spark):
    """Gopher repetition signals on planted boilerplate: a doc that is
    one bigram repeated scores top_2gram_frac ~1; duplicated trigram
    runs are counted; duplicated sentences detected; a clean doc scores
    0 on all three."""
    from deepref_spark.operators.text_analysis import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam ham " * 6),                       # one bigram over and over
            (2, "alpha beta gamma alpha beta gamma delta"),  # dup trigram run
            (3, "one clear sentence. one clear sentence. another one."),
            (4, "all tokens here are fully distinct words"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    # doc1: 12 tokens, 'spam ham' occurs 6x -> 12/12 = 1.0
    assert out[1]["top_2gram_frac"] == 1.0
    assert out[1]["dup_3gram_frac"] == 1.0  # capped at 1
    # doc2: 'alpha beta gamma' twice -> 6 tokens covered of 7
    assert abs(out[2]["dup_3gram_frac"] - round(6 / 7, 6)) < 1e-9
    # doc3: 3 sentences, one duplicated -> 1/3
    assert abs(out[3]["dup_sent_frac"] - round(1 / 3, 6)) < 1e-9
    # trailing-dot regression: the FINAL sentence duplicating an earlier
    # one must be detected (the separator-needs-spaces quirk previously
    # left ' .' glued to the last sentence)
    tail = spark.createDataFrame(
        [(9, "buy now. buy now.")], "doc_id long, text string"
    )
    tr = repetition_stats(tail).collect()[0]
    assert tr["dup_sent_frac"] == 0.5
    # clean doc: all zeros
    assert out[4]["top_2gram_frac"] <= round(2 / 7, 6)  # any single bigram once
    assert out[4]["dup_3gram_frac"] == 0.0
    assert out[4]["dup_sent_frac"] == 0.0
    # --- full Gopher char-fraction columns (round-5 extension) ---
    # doc1 joined text = 'spam ham' x6 = 53 chars; 'spam ham' (8 chars)
    # occurs 6x -> 48/53 of characters; dup-5grams over-cover (cap 1);
    # the duplicated 10-gram is 'spam ham' x5 = 44 chars once beyond
    # its first occurrence
    assert out[1]["top_2gram_char_frac"] == round(48 / 53, 6)
    assert out[1]["dup_5gram_char_frac"] == 1.0
    assert out[1]["dup_10gram_char_frac"] == round(44 / 53, 6)
    # doc2: 'alpha beta gamma' (16 chars) twice of 39 chars total; no
    # duplicated 5-gram exists
    assert out[2]["top_3gram_char_frac"] == round(32 / 39, 6)
    assert out[2]["dup_5gram_char_frac"] == 0.0
    # clean doc: every dup char fraction is exactly 0
    for n in (5, 6, 7, 8, 9, 10):
        assert out[4][f"dup_{n}gram_char_frac"] == 0.0


def test_contamination_join_path_matches_literal(spark):
    """The auto-gated key-set representation: forcing the key count
    over the threshold (join_threshold=0) must switch the screen to
    the exploded-gram broadcast join and produce IDENTICAL rows to the
    plan-literal IN-list path — including per-occurrence hit counts
    and zero-hit docs kept by the left join."""
    from deepref_spark.operators.text_analysis import contamination_screen
    from deepref_spark.queries import documents

    docs = documents(spark, "/root/testdata/sf0.001").limit(60)
    bench = [
        r["text"] for r in docs.where("doc_id < 3").orderBy("doc_id").collect()
    ]
    lit_rows = {
        r["doc_id"]: (r["n_grams"], r["n_hits"], r["contaminated"])
        for r in contamination_screen(docs, bench).collect()
    }
    joined = contamination_screen(docs, bench, join_threshold=0)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    join_rows = {
        r["doc_id"]: (r["n_grams"], r["n_hits"], r["contaminated"])
        for r in joined.collect()
    }
    assert join_rows == lit_rows
    assert any(v[1] > 0 for v in join_rows.values())  # positives exercised
    assert any(v[1] == 0 for v in join_rows.values())  # zero-hit docs kept


def test_contaminated_coverage_planted_overlap(spark):
    """Hand-checked coverage arithmetic: doc 10 = 'x' + 13*'a' + 'y z'
    (16 tokens) against a benchmark of 13*'a' -> exactly one hit gram
    starting at position 2, covering positions 2..14 -> 13/16. Doc 11
    is benchmark-free -> all-zero row. Doc 12 repeats the benchmark
    with one token between -> two OVERLAPPING hit windows whose union
    (not sum) is the covered count."""
    from deepref_spark.operators.text_analysis import contaminated_coverage

    bench = [" ".join(["aa"] * 13)]
    docs = spark.createDataFrame(
        [
            (10, "xx " + " ".join(["aa"] * 13) + " yy zz"),
            (11, " ".join(f"w{i}" for i in range(20))),
            # 13 a's, separator, 12 a's: hits start at 1 (a*13) and at
            # 15..? -> only windows fully inside an 'aa' run of >= 13;
            # the second run has 12, so the extra hits come from
            # positions 2 (a*12+sep? no — sep breaks it). Just overlap
            # within one run of 15 a's: starts 1,2,3.
            (12, " ".join(["aa"] * 15)),
        ],
        schema="doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in contaminated_coverage(docs, bench).collect()}
    assert (rows[10]["n_tokens"], rows[10]["n_hit_grams"],
            rows[10]["n_covered"]) == (16, 1, 13)
    assert rows[10]["covered_frac"] == round(13 / 16, 6)
    assert (rows[11]["n_hit_grams"], rows[11]["n_covered"],
            rows[11]["covered_frac"]) == (0, 0, 0.0)
    # 15-token run: hit starts 1,2,3; union covers all 15 positions
    assert (rows[12]["n_tokens"], rows[12]["n_hit_grams"],
            rows[12]["n_covered"], rows[12]["covered_frac"]) == (15, 3, 15, 1.0)


def test_contaminated_coverage_join_path_matches_literal(spark):
    """The auto-gate must hold for the coverage operator too: forcing
    join_threshold=0 switches to the exploded-gram broadcast join and
    must reproduce the IN-list rows exactly (collect_list order
    nondeterminism must not leak into the order-independent outputs)."""
    from deepref_spark.operators.text_analysis import contaminated_coverage
    from deepref_spark.queries import documents

    docs = documents(spark, "/root/testdata/sf0.001").limit(60)
    bench = [
        r["text"] for r in docs.where("doc_id < 3").orderBy("doc_id").collect()
    ]
    lit_rows = {r["doc_id"]: tuple(r)[1:]
                for r in contaminated_coverage(docs, bench).collect()}
    joined = contaminated_coverage(docs, bench, join_threshold=0)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    join_rows = {r["doc_id"]: tuple(r)[1:] for r in joined.collect()}
    assert join_rows == lit_rows
    assert any(v[2] > 0 for v in join_rows.values())  # covered > 0 somewhere


def test_mixing_plan_and_contamination(spark):
    """Mixing planner: shares sum to ~1, a custom skewed target caps at
    rate 1.0 and downsamples the rest. Contamination screen: a doc
    containing a benchmark 13-gram verbatim is flagged; clean docs are
    not; short docs (<13 tokens) score 0 grams without erroring."""
    from deepref_spark.operators.text_analysis import (
        contamination_screen, mixing_plan,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha " * 40, "en", "web"),
            (2, "beta " * 40, "en", "web"),
            (3, "gamma " * 120, "en", "books"),
            (4, "tiny doc", "en", "web"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    plan = {r["source"]: r for r in mixing_plan(docs).collect()}
    assert abs(sum(r["token_share"] for r in plan.values()) - 1.0) < 1e-4
    # uniform target: the over-represented source downsamples
    over = max(plan.values(), key=lambda r: r["token_share"])
    assert over["sample_rate"] < 1.0
    skew = mixing_plan(docs, target={"web": 0.9, "books": 0.1}).collect()
    rates = {r["source"]: r["sample_rate"] for r in skew}
    assert rates["web"] == 1.0          # target above actual -> capped
    assert rates["books"] < 1.0
    # an observed source MISSING from the target dict raises (silently
    # coalescing to rate 0 would delete the source downstream)
    import pytest as _pytest

    with _pytest.raises(Exception, match="absent from target"):
        mixing_plan(docs, target={"web": 1.0}).collect()

    bench = ["the quick brown fox jumps over the lazy dog again and again today"]
    corpus = spark.createDataFrame(
        [
            (1, "prefix words " + bench[0] + " suffix words"),
            (2, "a completely different document with no overlap at all here today friend"),
            (3, "short doc"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in contamination_screen(corpus, bench).collect()}
    assert out[1]["contaminated"] and out[1]["n_hits"] >= 1
    assert not out[2]["contaminated"]
    assert out[3]["n_grams"] == 0 and not out[3]["contaminated"]


def test_curate_pipeline_single_scan_and_drops(spark):
    """The curation flagship composition: (a) single-scan evidence —
    every per-doc stage consumes the one staged checkpoint, so the
    FINAL plan contains zero parquet re-scans of the documents table
    (the only source scan happens materializing the stage); (b) each
    filter actually drops its planted offender while clean docs
    survive, keep the representative of a near-dup pair, and packing
    is gapless per bucket."""
    import pyspark.sql.functions as F

    from deepref_spark.operators.text_analysis import curate_corpus

    # stopword-interleaved unique words: every bigram/trigram occurs
    # once, stopword ratio ~0.5, length > 10 -> passes every filter
    def clean(prefix, n=30):
        sws = ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"]
        return " ".join(f"{sws[i % 10]} {prefix}{i}" for i in range(n))

    bench = "the apple and banana of cherry to date in elder is fig that grape"
    rows = [
        # clean survivors, two sources
        (10, "web", clean("w")),
        (11, "books", clean("v")),
        # low quality: short, digit-heavy, no stopwords
        (12, "web", "z9 q8 7 7"),
        # boilerplate: one bigram repeated (top_2gram_frac ~1)
        (13, "web", "spam ham " * 40),
        # contaminated: contains the benchmark 13-gram verbatim, all
        # other n-gram / quality filters pass
        (14, "web", bench + " " + clean("u", 14)),
        # near-dup pair: 15 should keep, 16 drop (keep = component min)
        (15, "web", clean("d")),
        (16, "web", clean("d")),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    # target = the surviving token shares (web keeps 2 docs, books 1),
    # so every sample_rate is 1.0 and the drop assertions below
    # isolate the FILTER stages (the sampler itself is oracle-checked
    # row-for-row in text_curate_pipeline)
    out = curate_corpus(docs, [bench], target={"web": 2 / 3, "books": 1 / 3})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "parquet" not in plan.lower(), "documents re-scanned past the stage"
    got = {r["doc_id"]: r for r in out.collect()}
    assert 10 in got and 11 in got, got.keys()
    assert 12 not in got  # quality filter
    assert 13 not in got  # repetition filter
    assert 14 not in got  # contamination screen
    assert 16 not in got  # near-dup: only the representative survives
    assert 15 in got
    # packing placement is gapless within each bucket
    by_bucket = {}
    for r in got.values():
        by_bucket.setdefault(r["bucket"], []).append(r)
    for rows_b in by_bucket.values():
        rows_b.sort(key=lambda r: r["doc_id"])
        off = 0
        for r in rows_b:
            assert r["start_off"] == off
            off += r["n_pieces"]


def test_gopher_quality_planted(spark):
    """Gopher non-repetition quality filters on planted offenders: a
    good doc passes; symbol-heavy, bullet-list, ellipsis-heavy,
    non-alpha, and stopword-free docs each fail their specific rule."""
    from deepref_spark.operators.text_analysis import gopher_quality

    good = ("the quality of this document is fine and it has words that "
            "carry meaning with some length to be clear about things "
            + "extra words keep the count above fifty for the bounds "
            + " ".join(f"word{i} more of the text and that have with be to" for i in range(4)))
    rows = [
        (1, good),
        (2, "# " * 60 + good),                     # symbol ratio >= 0.1
        (3, "\n".join("* bullet item here" for _ in range(10))),   # bullets
        (4, "\n".join("trailing line ..." for _ in range(10))),    # ellipses
        (5, " ".join("123" for _ in range(60))),   # no alphabetic words
        (6, " ".join(f"w{i}" for i in range(60))), # no stop words
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_quality(docs).collect()}
    assert out[1]["passes"], out[1]
    assert not out[2]["passes"] and out[2]["symbol_ratio"] >= 0.1
    assert not out[3]["passes"] and out[3]["bullet_line_frac"] >= 0.9
    assert not out[4]["passes"] and out[4]["ellipsis_line_frac"] >= 0.3
    assert not out[5]["passes"] and out[5]["alpha_word_frac"] < 0.8
    assert not out[6]["passes"] and out[6]["stopword_hits"] < 2


def test_c4_filters_planted(spark):
    """C4 line-level cleaning on planted pages: each line rule
    (terminal punctuation, >= 3 words, no 'javascript') drops exactly
    its offending line, and each page rule (>= 5 sentences, no brace,
    no 'lorem ipsum') flips `passes` on its own."""
    from deepref_spark.operators.text_analysis import c4_filters

    good = ("The first sentence has plenty of words here.\n"
            "Another full line with terminal punctuation arrives.\n"
            "Sentences three and four live here. They both count.\n"
            "A fifth sentence closes the page out.")
    rows = [
        (1, good),
        (2, "Enable javascript to view this page.\n"
            "too short.\n"
            "this line has no terminal punctuation\n" + good),
        (3, "Lorem ipsum dolor sit amet. " * 3 + good),
        (4, "function f() { return 1; }\n" + good),
        (5, "One short sentence only lives here.\nAnd a second one.\n"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_filters(docs).collect()}

    assert out[1]["passes"] and out[1]["n_kept"] == 4
    assert out[1]["n_sentences"] == 5 and out[1]["clean_text"] == good
    # doc 2: all three bad lines dropped, the good tail survives intact
    assert out[2]["n_lines"] == 7 and out[2]["n_kept"] == 4
    assert out[2]["clean_text"] == good and out[2]["passes"]
    # doc 3: lines pass but the page-level lorem flag kills it
    assert out[3]["has_lorem"] and not out[3]["passes"]
    # doc 4: brace flag kills the page even though good lines remain
    assert out[4]["has_brace"] and not out[4]["passes"]
    # doc 5: clean lines but only 2 sentences < 5; trailing \n counts a line
    assert out[5]["n_lines"] == 3 and out[5]["n_kept"] == 2
    assert out[5]["n_sentences"] == 2 and not out[5]["passes"]


def test_pii_mask_planted(spark):
    """PII redaction on planted rows: per-category counts on the raw
    text, sequential email->ip->phone masking, and the documented
    user@dotted-quad interaction (email needs an alphabetic TLD, so
    the IP rule owns the dotted quad)."""
    from deepref_spark.operators.text_analysis import pii_mask

    rows = [
        (1, "contact alice at alice.smith+test@example.org "
            "or call 555-123-4567 today"),
        (2, "server 192.168.1.1 backup 10.0.0.255 admin root@ops.example.com"),
        (3, "call +1 415-555-0133 or 415.555.0188 now"),
        (4, "no personal data in this line at all"),
        (5, "login from user@192.0.2.1 overnight"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_mask(docs).collect()}

    assert (out[1]["n_emails"], out[1]["n_ips"], out[1]["n_phones"]) == (1, 0, 1)
    assert out[1]["masked_text"] == "contact alice at <EMAIL> or call <PHONE> today"
    assert (out[2]["n_emails"], out[2]["n_ips"], out[2]["n_phones"]) == (1, 2, 0)
    assert out[2]["masked_text"] == "server <IP> backup <IP> admin <EMAIL>"
    # doc 3: country-code form and dotted form both match the phone rule
    assert out[3]["n_phones"] == 2 and out[3]["n_ips"] == 0
    assert out[3]["masked_text"] == "call <PHONE> or <PHONE> now"
    assert not out[4]["has_pii"] and out[4]["masked_text"] == rows[3][1]
    # doc 5: no alphabetic TLD -> not an email; the IP rule masks the quad
    assert (out[5]["n_emails"], out[5]["n_ips"]) == (0, 1)
    assert out[5]["masked_text"] == "login from user@<IP> overnight"


def test_lm_score_and_tfidf_planted(spark):
    """Unigram-LM score and TF-IDF on a tiny planted corpus with
    hand-computable counts: common words score cheap, the rare word
    drives both the LM tail and the TF-IDF top keyword, and an
    out-of-vocab token takes the 1/total floor."""
    import math
    from deepref_spark.operators.text_analysis import lm_score, tfidf_topk

    rows = [
        (1, "alpha alpha alpha beta"),
        (2, "alpha beta beta gamma"),
        (3, "alpha beta rare"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # vocab_size=3 keeps {alpha(5), beta(4), gamma(1)}... ties: gamma
    # and rare both cnt=1 -> (cnt DESC, tok ASC) keeps gamma; rare OOV
    out = {r["doc_id"]: r for r in lm_score(docs, vocab_size=3).collect()}
    total = 11
    nats = {"alpha": round(math.log(total / 5) * 1e6),
            "beta": round(math.log(total / 4) * 1e6),
            "gamma": round(math.log(total / 1) * 1e6)}
    floor = round(math.log(total) * 1e6)
    assert out[3]["n_oov"] == 1 and out[1]["n_oov"] == 0
    exp3 = round((nats["alpha"] + nats["beta"] + floor) / 3 / 1e6, 6)
    assert out[3]["xent_nats"] == exp3
    exp1 = round((3 * nats["alpha"] + nats["beta"]) / 4 / 1e6, 6)
    assert out[1]["xent_nats"] == exp1
    assert out[1]["xent_nats"] < out[3]["xent_nats"]  # common < rare+OOV

    # min_df=2 drops gamma (df 1) and rare (df 1); alpha/beta have
    # df 3 -> idf = ln(1) = 0 -> every kept score is 0; rank then
    # orders alphabetically and doc 3 has exactly 2 kept terms
    kept = tfidf_topk(docs, k=5, min_df=2).collect()
    by_doc = {}
    for r in kept:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert all(r["score"] == 0.0 for r in kept)
    d3 = sorted(by_doc[3], key=lambda r: r["rank"])
    assert [r["term"] for r in d3] == ["alpha", "beta"]


def test_curation_funnel_first_fail_attribution(spark):
    """Funnel drop accounting on a 5-doc planted corpus where each doc
    fails exactly one stage (or none): drops land on the FIRST failing
    stage in pipeline order and sum with survivors to n_docs."""
    from deepref_spark.operators.text_analysis import curation_funnel

    good = ("the cat sat on the mat with a dog and the bird flew over "
            "the tree today")
    bench = ("the quick brown fox jumps over the lazy dog while the sun "
             "sets behind green hills today")
    rows = [
        (1, "s", good),               # survives
        (2, "s", "zzz"),              # quality 0.5 < 0.6
        (3, "s", "the spam " * 20),   # top-2gram frac 1.0 > 0.2
        (4, "s", bench),              # hits the benchmark 13-grams
        (5, "s", good),               # exact dup of 1 -> keep_doc_id=1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = curation_funnel(docs, [bench], quality_min=0.6).collect()
    assert len(out) == 1
    r = out[0]
    assert r["source"] == "s" and r["n_docs"] == 5
    assert (r["drop_quality"], r["drop_repetition"], r["drop_contaminated"],
            r["drop_near_dup"], r["n_survivors"]) == (1, 1, 1, 1, 1)


# --- as-of join (operators/asof.py) -----------------------------------------

def _asof_events(spark):
    rows = [
        # user 1: error at t=10 and t=20 (two at t=20: ids 3,4), clicks
        # at t=5 (no prior error), t=10 (tie: backward-INCLUSIVE),
        # t=25 (max-tie winner among the t=20 pair must be id 4)
        (1, 5.0, 101, "click", 1.5),
        (1, 10.0, 102, "click", 2.5),
        (1, 10.0, 1, "error", 9.0),
        (1, 20.0, 3, "error", 7.0),
        (1, 20.0, 4, "error", 8.0),
        (1, 25.0, 103, "click", 3.5),
        # user 2: clicks only — every asof column NULL
        (2, 7.0, 201, "click", 4.5),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, t double, event_id long, event_type string, value double")
    return df.withColumn("ts", F.col("t").cast("timestamp")).drop("t")


def test_asof_join_semantics(spark):
    from deepref_spark.operators.asof import asof_join

    ev = _asof_events(spark)
    out = asof_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "error"),
        on="ts", by="user_id", tie="event_id", values=("value",),
    )
    got = {r["event_id"]: (r["asof_event_id"], r["asof_value"])
           for r in out.collect()}
    assert got[101] == (None, None)          # nothing before t=5
    assert got[102] == (1, 9.0)              # same-instant error visible
    assert got[103] == (4, 8.0)              # tie at t=20 -> max event_id
    assert got[201] == (None, None)          # user 2 has no errors
    assert len(got) == 4                     # every click survives


def test_asof_join_tolerance(spark):
    from deepref_spark.operators.asof import asof_join

    ev = _asof_events(spark)
    out = asof_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "error"),
        on="ts", by="user_id", tie="event_id", values=("value",),
        tolerance_s=4.0,
    )
    got = {r["event_id"]: r["asof_event_id"] for r in out.collect()}
    assert got[102] == 1       # age 0 <= 4s
    assert got[103] is None    # age 5s > 4s -> voided
    assert got[101] is None and got[201] is None


# --- stratified sampling (operators/sampling.py) -----------------------------

def test_balanced_sample_rates_and_determinism(spark):
    from deepref_spark.operators.sampling import (
        balanced_rates, balanced_sample, balanced_sample_summary)

    rows = ([(i, "big") for i in range(40)]
            + [(i, "small") for i in range(100, 110)])
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    rates = {r["source"]: (r["n_rows"], r["rate"])
             for r in balanced_rates(docs).collect()}
    assert rates["small"] == (10, 1.0)        # smallest stratum: keep all
    assert rates["big"] == (40, 10 / 40)      # downsampled toward 10

    kept = sorted(r["doc_id"] for r in balanced_sample(docs).collect())
    # determinism: membership survives an arbitrary repartition
    kept2 = sorted(
        r["doc_id"]
        for r in balanced_sample(docs.repartition(7, "source")).collect())
    assert kept == kept2
    assert set(range(100, 110)) <= set(kept)  # rate-1.0 stratum intact

    summ = {r["source"]: r for r in balanced_sample_summary(docs).collect()}
    assert summ["small"]["n_sampled"] == 10
    assert summ["big"]["n_sampled"] == len([k for k in kept if k < 100])


# --- co-occurrence PMI (operators/graph.py) ----------------------------------

def test_cooccurrence_pmi_hand_computed(spark):
    import math

    from deepref_spark.operators.graph import cooccurrence_pmi

    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c"),
            (1, "a")]  # duplicate observation must not double-count
    de = spark.createDataFrame(rows, "doc_id long, entity string")
    got = {(r["e1"], r["e2"]): (r["n_co"], r["pmi"])
           for r in cooccurrence_pmi(de).collect()}
    # n_docs=3, c_a=3, c_b=2, c_c=1
    assert got[("a", "b")] == (2, round(math.log(2 * 3 / (3 * 2)), 6))  # 0.0
    assert got[("a", "c")] == (1, round(math.log(1 * 3 / (3 * 1)), 6))  # 0.0
    assert ("b", "c") not in got

    capped = cooccurrence_pmi(de, per_doc_cap=1).collect()
    assert capped == []  # every doc has >= 2 entities -> all dropped

    min2 = {(r["e1"], r["e2"]) for r in cooccurrence_pmi(de, min_count=2).collect()}
    assert min2 == {("a", "b")}


def test_triangle_counts_hand_computed(spark):
    from deepref_spark.operators.graph import triangle_counts

    # triangle a-b-c, pendant d on a, plus a disconnected edge e-f;
    # directed duplicates must collapse into the undirected view
    rows = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
            ("a", "d"), ("e", "f")]
    edges = spark.createDataFrame(rows, "src string, dst string")
    got = {r["entity"]: (r["und_degree"], r["n_triangles"], r["clustering"])
           for r in triangle_counts(edges).collect()}
    assert got["a"] == (3, 1, round(2 * 1 / (3 * 2), 6))  # 0.333333
    assert got["b"] == (2, 1, 1.0)
    assert got["c"] == (2, 1, 1.0)
    assert got["d"] == (1, 0, 0.0)
    assert got["e"] == (1, 0, 0.0) and got["f"] == (1, 0, 0.0)


def test_kg_ingest_stream_matches_sequential_batch_merge(spark, tmp_path):
    """Continuous KG construction (stream_ops.kg_ingest_stream): a
    2-file document stream folded through foreachBatch merge_triples
    must equal the SAME two batches folded sequentially in batch mode
    — counts add, scores max, per-batch canonicalization preserved
    (the merge_triples canonical-drift contract)."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from deepref_spark import synth
    from deepref_spark.operators.graph import merge_triples
    from deepref_spark.pipeline import extract_scored, triples_from_scored
    from deepref_spark.streaming.stream_ops import (
        GRAPH_SNAPSHOT_SCHEMA, kg_ingest_stream,
    )

    docs = synth.generate_docs(spark, 40, partitions=2)
    src = tmp_path / "docs_in"
    src.mkdir()
    dnum = F.expr("CAST(substr(doc_id, 2) AS INT)")  # synth ids: d%09d
    for i, (lo, hi) in enumerate([(0, 20), (20, 40)]):
        part_dir = tmp_path / f"part{i}"
        docs.where((dnum >= lo) & (dnum < hi)) \
            .coalesce(1).write.parquet(str(part_dir))
        pf = next(p for p in os.listdir(part_dir) if p.endswith(".parquet"))
        dst = src / f"{i}.parquet"
        shutil.copy(part_dir / pf, dst)
        os.utime(dst, (1700000000 + i * 60, 1700000000 + i * 60))

    snap = str(tmp_path / "snapshot")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    q = kg_ingest_stream(stream, snap, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    got = {
        (r["subj_canon"], r["pred"], r["obj_canon"], r["n_docs"],
         round(r["max_score"], 6))
        for r in spark.read.parquet(snap).collect()
    }

    def incoming(batch_path):
        d = spark.read.parquet(str(batch_path))
        t = triples_from_scored(extract_scored(spark, d))
        return t.select("subj_canon", "pred", "obj_canon", "n_docs",
                        F.col("score").alias("max_score"))

    folded = spark.createDataFrame([], GRAPH_SNAPSHOT_SCHEMA)
    for i in range(2):
        folded = merge_triples(folded, incoming(src / f"{i}.parquet")) \
            .select("subj_canon", "pred", "obj_canon", "n_docs", "max_score") \
            .localCheckpoint(eager=True)
    want = {
        (r["subj_canon"], r["pred"], r["obj_canon"], r["n_docs"],
         round(r["max_score"], 6))
        for r in folded.collect()
    }
    assert got == want and len(got) > 0
    # the status audit column survives in the snapshot
    assert "status" in spark.read.parquet(snap).columns
