"""Planted-semantics tests for the KG-quality tier
(operators/kgquality.py) plus the trending/quantile additions — each
pin the exact rows a hand-checkable input must produce, independent of
the DuckDB oracle sweep (tests/test_queries.py covers cross-engine
equality; these pin the SEMANTICS)."""

import pytest

import pyspark.sql.functions as F

from deepref_spark.operators.kgquality import (
    b3_eval, functional_conflicts, negative_sample, predicate_profile,
)


def _triples(spark, rows):
    return spark.createDataFrame(rows, "subj_canon string, pred string, obj_canon string")


def test_predicate_profile_exact_ratios(spark):
    # p1: 3 triples, 2 subjects, 3 objects -> functionality 2/3
    # p2: 2 triples, 2 subjects, 1 object  -> functionality 1.0, inv 0.5
    t = _triples(spark, [
        ("a", "p1", "x"), ("a", "p1", "y"), ("b", "p1", "z"),
        ("a", "p2", "x"), ("b", "p2", "x"),
    ])
    got = {r["pred"]: r.asDict() for r in predicate_profile(t).collect()}
    assert got["p1"]["n_triples"] == 3 and got["p1"]["n_subj"] == 2
    assert got["p1"]["functionality"] == pytest.approx(0.666667)
    assert got["p1"]["inv_functionality"] == 1.0
    assert got["p2"]["functionality"] == 1.0
    assert got["p2"]["inv_functionality"] == 0.5


def test_predicate_profile_distincts_input(spark):
    # duplicate (s,p,o) rows must not inflate counts
    t = _triples(spark, [("a", "p", "x")] * 3)
    row = predicate_profile(t).collect()[0]
    assert (row["n_triples"], row["n_subj"], row["n_obj"]) == (1, 1, 1)


def test_functional_conflicts_threshold_binds(spark):
    # p_good: functionality 3/4 (qualifies at >= 3/4), one subject with
    # two objects -> exactly one conflict row with sorted objs.
    # p_bad: functionality 1/2 < 3/4 -> its multi-object subject is
    # EXCLUDED even though it conflicts harder.
    t = _triples(spark, [
        ("s1", "p_good", "o2"), ("s1", "p_good", "o1"),
        ("s2", "p_good", "o3"), ("s3", "p_good", "o4"),
        ("s9", "p_bad", "a"), ("s9", "p_bad", "b"),
        ("s9", "p_bad", "c"), ("s9", "p_bad", "d"),
        ("s8", "p_bad", "a"), ("s8", "p_bad", "b"),
        ("s7", "p_bad", "a"), ("s7", "p_bad", "b"),
    ])
    rows = functional_conflicts(t, func_num=3, func_den=4).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["subj"], r["pred"], r["n_obj"], r["objs"]) == (
        "s1", "p_good", 2, "o1|o2")


def test_negative_sample_filtered_and_deterministic(spark):
    t = _triples(spark, [
        ("a", "p", "x"), ("a", "p", "y"), ("b", "p", "x"),
        ("c", "q", "y"), ("d", "q", "z"),
    ])
    ents = t.select(F.col("subj_canon").alias("entity")).union(
        t.select("obj_canon")).distinct()
    out1 = sorted(map(tuple, negative_sample(t, ents, k=3, n_buckets=4).collect()))
    out2 = sorted(map(tuple, negative_sample(t, ents, k=3, n_buckets=4).collect()))
    assert out1 == out2 and len(out1) > 0
    known = {(r[0], r[1], r[2]) for r in t.collect()}
    pool = {r[0] for r in ents.collect()}
    for subj, pred, obj, slot, neg in out1:
        # the filtered protocol: no emitted corruption is a true triple
        assert (subj, pred, neg) not in known
        assert neg in pool and 0 <= slot < 3
    # at most k corruptions per positive (fewer only via the filter)
    from collections import Counter
    per_trip = Counter((s, p, o) for s, p, o, _, _ in out1)
    assert all(v <= 3 for v in per_trip.values())


def test_b3_perfect_clustering_is_all_ones(spark):
    a = spark.createDataFrame(
        [("m1", "c1", "g1"), ("m2", "c1", "g1"), ("m3", "c2", "g2")],
        "item string, pc string, gc string")
    r = b3_eval(a).collect()[0]
    assert (r["n_items"], r["b3_precision"], r["b3_recall"], r["b3_f1"]) == (
        3, 1.0, 1.0, 1.0)


def test_b3_known_example(spark):
    # one predicted cluster merging two gold clusters of sizes 2 and 1:
    # precision per item: 2/3, 2/3, 1/3 -> P = 5/9; recall = 1.0
    a = spark.createDataFrame(
        [("m1", "c", "g1"), ("m2", "c", "g1"), ("m3", "c", "g2")],
        "item string, pc string, gc string")
    r = b3_eval(a).collect()[0]
    assert r["b3_precision"] == pytest.approx(5 / 9, abs=1e-6)
    assert r["b3_recall"] == 1.0
    p, q = 5 / 9, 1.0
    assert r["b3_f1"] == pytest.approx(2 * p * q / (p + q), abs=1e-6)


def test_topk_trending_rank_and_tiebreak(spark):
    from deepref_spark.operators.events import topk_trending

    ev = spark.createDataFrame(
        [(i, "2024-01-01 10:%02d:00" % i, t) for i, t in enumerate(
            ["a"] * 3 + ["b"] * 3 + ["c"] * 2 + ["d"])],
        "event_id long, ts string, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rows = {r["event_type"]: r for r in topk_trending(ev, k=3).collect()}
    # a and b tie at 3 -> a wins rank 1 by type ascending; d (n=1) cut
    assert rows["a"]["rnk"] == 1 and rows["b"]["rnk"] == 2
    assert rows["c"]["rnk"] == 3 and "d" not in rows
    assert rows["a"]["window_start"] == "2024-01-01 10:00:00"


def test_length_quantiles_type1_positions(spark):
    from deepref_spark.operators.text_analysis import length_quantiles

    # 4 docs with 1, 2, 3, 10 tokens: type-1 quantile = value at
    # position ceil(q*n): p25 -> pos 1 -> 1; p50 -> pos 2 -> 2;
    # p75 -> pos 3 -> 3; p90/p99 -> pos 4 -> 10.
    docs = spark.createDataFrame(
        [(i, " ".join(["tok"] * n), "s") for i, n in enumerate([1, 2, 3, 10])],
        "doc_id long, text string, source string")
    got = {r["pct"]: r["value"] for r in length_quantiles(docs).collect()}
    assert got == {25: 1, 50: 2, 75: 3, 90: 10, 99: 10}


def test_rule_mining_exact_confidence(spark):
    from deepref_spark.operators.kgquality import mine_path_rules

    # body p(x,y) ∧ q(y,z) holds for (a,c), (b,d), (e,g);
    # head r(x,z) holds for (a,c) and (b,d) only -> support 2,
    # body_supp 3, confidence 2/3; head r has 3 triples -> hc 2/3.
    t = _triples(spark, [
        ("a", "p", "m"), ("m", "q", "c"),
        ("b", "p", "n"), ("n", "q", "d"),
        ("e", "p", "o"), ("o", "q", "g"),
        ("a", "r", "c"), ("b", "r", "d"), ("z", "r", "w"),
    ])
    rows = mine_path_rules(t, min_support=2).collect()
    got = {(r["p1"], r["p2"], r["p3"]): r for r in rows}
    r = got[("p", "q", "r")]
    assert (r["support"], r["body_supp"], r["n_head"]) == (2, 3, 3)
    assert r["confidence"] == pytest.approx(2 / 3, abs=1e-6)
    assert r["head_coverage"] == pytest.approx(2 / 3, abs=1e-6)


def test_rule_mining_excludes_reflexive_and_caps_hubs(spark):
    from deepref_spark.operators.kgquality import mine_path_rules

    # every 2-hop path here is a round-trip (x == z), so reflexive
    # exclusion leaves no body row and no rule at all.
    t = _triples(spark, [
        ("a", "p", "m"), ("m", "q", "a"),
        ("b", "p", "n"), ("n", "q", "b"),
    ])
    assert mine_path_rules(t, min_support=1).count() == 0

    # hub guard: y='h' has in*out = 2*2 = 4 > cap 3 -> excluded from
    # the wedge position, killing both rules through it.
    t2 = _triples(spark, [
        ("a", "p", "h"), ("b", "p", "h"),
        ("h", "q", "c"), ("h", "q", "d"),
        ("a", "r", "c"), ("b", "r", "d"),
    ])
    uncapped = mine_path_rules(t2, min_support=1).count()
    capped = mine_path_rules(t2, min_support=1, hub_cap=3).count()
    assert uncapped > 0 and capped == 0


def test_rule_mining_rejects_hub_cap_with_prebuilt_body(spark):
    """A pre-built body is uncapped; hub_cap must not be dropped silently."""
    from deepref_spark.operators.kgquality import mine_path_rules

    t = _triples(spark, [("a", "p", "h"), ("h", "q", "c")])
    body = spark.createDataFrame([("a", "p", "q", "c")], "x string, p1 string, p2 string, z string")
    with pytest.raises(ValueError, match="hub_cap"):
        mine_path_rules(t, hub_cap=3, body=body)


def test_inverse_symmetry_scores(spark):
    from deepref_spark.operators.kgquality import inverse_symmetry

    # p and q are perfect inverses (2 pairs); s is symmetric on one
    # x<->y pair (ordered count 2, n_s = 2 -> score 1.0).
    t = _triples(spark, [
        ("a", "p", "b"), ("c", "p", "d"),
        ("b", "q", "a"), ("d", "q", "c"),
        ("x", "s", "y"), ("y", "s", "x"),
    ])
    got = {(r["pred_a"], r["pred_b"]): r for r in inverse_symmetry(t).collect()}
    inv = got[("p", "q")]
    assert (inv["n_overlap"], inv["n_a"], inv["n_b"]) == (2, 2, 2)
    assert inv["score"] == 1.0
    sym = got[("s", "s")]
    assert sym["n_overlap"] == 2 and sym["score"] == 1.0
    assert ("p", "p") not in got  # p alone has no reversed pairs


def test_maintenance_report_composes_standalone_formulas(spark):
    from deepref_spark.operators.kgquality import (
        inverse_symmetry, maintenance_report, mine_path_rules,
    )

    t = _triples(spark, [
        ("a", "p", "m"), ("m", "q", "c"), ("a", "r", "c"),
        ("b", "p", "n"), ("n", "q", "d"), ("b", "r", "d"),
        ("x", "s", "y"), ("y", "s", "x"),
        ("k", "r", "v"), ("k", "r", "w"),
    ])
    rep = {r["pred"]: r.asDict() for r in maintenance_report(t).collect()}
    # profile columns agree with the standalone operator
    prof = {r["pred"]: r.asDict() for r in
            __import__("deepref_spark.operators.kgquality",
                       fromlist=["predicate_profile"])
            .predicate_profile(t).collect()}
    for p, row in prof.items():
        for c in ("n_triples", "n_subj", "n_obj", "functionality"):
            assert rep[p][c] == row[c], (p, c)
    # rule p∧q⇒r (support 2) lands on head predicate r
    rules = mine_path_rules(t, min_support=2).collect()
    assert rep["r"]["n_rules_as_head"] == sum(1 for x in rules if x["p3"] == "r")
    assert rep["r"]["best_confidence"] == max(
        x["confidence"] for x in rules if x["p3"] == "r")
    # symmetry diagonal matches inverse_symmetry's (s, s) row
    diag = {r["pred_a"]: r["n_overlap"] for r in
            inverse_symmetry(t).collect() if r["pred_a"] == r["pred_b"]}
    assert rep["s"]["sym_overlap"] == diag["s"] == 2
    # conflict pressure: k holds v and w under r -> one conflict subject
    assert rep["r"]["n_conflict_subjects"] == 1
    # zero defaults where nothing fires
    assert rep["p"]["n_rules_as_head"] == 0
    assert rep["p"]["best_confidence"] == 0.0
    assert rep["p"]["sym_overlap"] == 0


def test_rate_anomaly_gap_aware_baseline_and_exact_ppm(spark):
    from deepref_spark.operators.events import rate_anomaly

    # type 'e': 12 events at hour 0, NOTHING for 22 hours, then 30 at
    # hour 23. Trailing 24h sum at hour 23 = 12 (gap hours count as
    # zero baseline); n*24 = 720 > 2*12 and trail >= 10 -> spike.
    rows = [(i, "2024-01-01 00:00:%02d" % i, "e") for i in range(12)]
    rows += [(100 + i, "2024-01-01 23:00:%02d" % i, "e") for i in range(30)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r["window_start"]: r for r in rate_anomaly(ev).collect()}
    first = got["2024-01-01 00:00:00"]
    # no preceding hours: trail 0, never a spike (min_base gate)
    assert (first["trail"], bool(first["is_spike"])) == (0, False)
    spike = got["2024-01-01 23:00:00"]
    assert (spike["n"], spike["trail"]) == (30, 12)
    # exact ppm: (30*24 - 12) * 1e6 // 12 = 59_000_000
    assert spike["deviation_ppm"] == 59_000_000
    assert bool(spike["is_spike"]) is True


def test_rate_anomaly_horizon_excludes_old_hours(spark):
    from deepref_spark.operators.events import rate_anomaly

    # 25 hours apart: the old burst is OUTSIDE the trailing 24h frame,
    # so trail = 0 and min_base suppresses the flag.
    rows = [(i, "2024-01-01 00:00:%02d" % i, "e") for i in range(40)]
    rows += [(100 + i, "2024-01-02 01:00:%02d" % i, "e") for i in range(40)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r["window_start"]: r for r in rate_anomaly(ev).collect()}
    late = got["2024-01-02 01:00:00"]
    assert late["trail"] == 0 and bool(late["is_spike"]) is False


def test_implication_directional_confidence(spark):
    from deepref_spark.operators.kgquality import implication

    # p holds on 4 pairs, q on 2 of the SAME pairs -> q ⇒ p with
    # confidence 1.0; p ⇒ q only 0.5. Reversed pairs never count.
    t = _triples(spark, [
        ("a", "p", "b"), ("c", "p", "d"), ("e", "p", "f"), ("g", "p", "h"),
        ("a", "q", "b"), ("c", "q", "d"),
        ("b", "r", "a"),  # reverse direction of p(a,b): no overlap
    ])
    got = {(r["pred_a"], r["pred_b"]): r for r in
           implication(t, min_overlap=2).collect()}
    assert got[("q", "p")]["confidence"] == 1.0
    assert got[("p", "q")]["confidence"] == 0.5
    assert got[("p", "q")]["n_overlap"] == 2 and got[("p", "q")]["n_a"] == 4
    assert ("r", "p") not in got and ("p", "r") not in got


def test_degree_histogram_log2_buckets(spark):
    from deepref_spark.operators.kgquality import degree_histogram

    # star: hub h has degree 5 (bucket 2); each leaf degree 1 (bucket
    # 0); plus one chain node of degree 2 (bucket 1).
    edges = spark.createDataFrame(
        [("h", f"l{i}") for i in range(5)] + [("l0", "m")],
        "src string, dst string")
    got = {r["bucket"]: r for r in degree_histogram(edges).collect()}
    assert got[0]["n_entities"] == 5  # l1..l4 and m at degree 1
    assert (got[1]["min_degree"], got[1]["max_degree"]) == (2, 2)  # l0
    assert (got[2]["n_entities"], got[2]["min_degree"]) == (1, 5)  # hub


def test_transition_matrix_exact_probs_and_tie_order(spark):
    from deepref_spark.operators.events import transition_matrix

    # user 1: a -> b -> a -> c (pairs ab, ba, ac); user 2: b -> b.
    # Two simultaneous events for user 1 at 10:02 break ties by
    # event_id (2 before 3), pinning the a->c pair.
    rows = [
        (1, "2024-01-01 10:00:00", 1, "a"),
        (2, "2024-01-01 10:01:00", 1, "b"),
        (3, "2024-01-01 10:02:00", 1, "a"),   # event_id 3
        (4, "2024-01-01 10:02:00", 1, "c"),   # same ts, id 4 -> after
        (5, "2024-01-01 09:00:00", 2, "b"),
        (6, "2024-01-01 09:05:00", 2, "b"),
    ]
    ev = spark.createDataFrame(
        [(eid, ts, u, t) for eid, ts, u, t in rows],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {(r["from_type"], r["to_type"]): r
           for r in transition_matrix(ev).collect()}
    assert got[("a", "b")]["n"] == 1 and got[("a", "c")]["n"] == 1
    assert got[("a", "b")]["n_from"] == 2
    assert got[("a", "b")]["prob"] == 0.5
    assert got[("b", "a")]["prob"] == 0.5 and got[("b", "b")]["prob"] == 0.5
    # no cross-user pair: user 2's first event never follows user 1's
    assert ("c", "b") not in got
