"""KG quality / maintenance operators over the materialized triples.

A KG-construction engine at 10^12-document scale does more than emit
triples: it profiles predicates (which relations behave functionally —
the signal a cleaner uses to spot contradictions), lists conflict
candidates under near-functional predicates, evaluates the entity
canonicalizer against a gold clustering (B-cubed, the standard
mention-clustering metric), and produces corrupted negatives for
KG-embedding training. The reference stops at writing predictions
(`deepref/framework/train.py` prediction loop); these are the
beyond-reference graph-maintenance tier (SURVEY.md §2.8).

Cross-engine determinism disciplines (shared with operators/graph.py):
ratios are a SINGLE double division of two BIGINTs (IEEE-deterministic,
then round 6dp); threshold comparisons happen on exact integer
cross-products, never on rounded doubles; B-cubed sums ride the BIGINT
unit grid with floor division so partial-aggregation order cannot flip
a rounding.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from deepref_spark.portable import md5_mod

UNIT = 1_000_000_000  # B-cubed unit grid, same scale as graph.pagerank


def predicate_profile(triples: DataFrame, subj: str = "subj_canon",
                      pred: str = "pred", obj: str = "obj_canon") -> DataFrame:
    """Per-predicate cardinality profile over distinct (s, p, o) rows.

    functionality(p)      = n_subj / n_triples (1.0 means every subject
                            carries exactly one object under p)
    inv_functionality(p)  = n_obj / n_triples

    One map-side-combined groupBy on ``pred`` — the predicate dimension
    is tiny (the relation vocabulary), so the output is a broadcastable
    dim table whatever the fact-table scale. Each ratio is one double
    division of two BIGINTs, rounded 6dp.
    """
    spo = triples.select(
        F.col(subj).alias("subj"), F.col(pred).alias("pred"),
        F.col(obj).alias("obj"),
    ).distinct()
    prof = spo.groupBy("pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_triples"),
        F.countDistinct("subj").cast("long").alias("n_subj"),
        F.countDistinct("obj").cast("long").alias("n_obj"),
    )
    return prof.select(
        "pred", "n_triples", "n_subj", "n_obj",
        F.round(F.col("n_subj").cast("double") / F.col("n_triples"), 6)
        .alias("functionality"),
        F.round(F.col("n_obj").cast("double") / F.col("n_triples"), 6)
        .alias("inv_functionality"),
    )


def functional_conflicts(triples: DataFrame, func_num: int = 4,
                         func_den: int = 5, subj: str = "subj_canon",
                         pred: str = "pred",
                         obj: str = "obj_canon") -> DataFrame:
    """Contradiction candidates: under predicates whose functionality is
    at least ``func_num/func_den`` (default 4/5), subjects holding more
    than one distinct object.

    The threshold test is the exact integer cross-product
    ``n_subj * func_den >= n_triples * func_num`` — never a comparison
    on a rounded double, so the qualifying predicate set is identical
    in any engine. The qualifying-predicate list is a broadcast
    semi-join (predicate dim is tiny); the conflict list itself is one
    grouped agg on (subj, pred) with a sorted collect_set so the object
    list is deterministic.
    """
    spo = triples.select(
        F.col(subj).alias("subj"), F.col(pred).alias("pred"),
        F.col(obj).alias("obj"),
    ).distinct()
    functional = predicate_profile(triples, subj, pred, obj).where(
        F.col("n_subj") * F.lit(func_den) >= F.col("n_triples") * F.lit(func_num)
    ).select("pred")
    return (
        spo.join(F.broadcast(functional), "pred")
        .groupBy("subj", "pred")
        .agg(
            F.countDistinct("obj").cast("long").alias("n_obj"),
            F.array_join(F.sort_array(F.collect_set("obj")), "|").alias("objs"),
        )
        .where(F.col("n_obj") >= 2)
    )


def negative_sample(triples: DataFrame, entities: DataFrame, k: int = 2,
                    n_buckets: int = 16, subj: str = "subj_canon",
                    pred: str = "pred", obj: str = "obj_canon") -> DataFrame:
    """Deterministic bucketed negative sampling for KG-embedding
    training: for each (s, p, o) and slot in [0, k), corrupt the object
    with a hash-chosen entity, then FILTER corruptions that are true
    triples (the standard "filtered" protocol, Bordes et al. 2013,
    TransE — public paper).

    Scale shape follows PyTorch-BigGraph's bucketed sampler (public):
    entities get a hash bucket and a RANK WITHIN BUCKET (row_number
    partitioned by bucket — distributed; never a global sort of the
    entity dim), the per-bucket counts are a ``n_buckets``-row
    broadcast, and each corruption picks (bucket, rank) by md5
    arithmetic, joining back to the ring on the composite key. The
    filter is one left-anti join on (s, p, neg_obj). Every choice is a
    pure function of the triple text, so any partitioning — and the
    single-threaded SQL oracle — emits the identical sample.
    """
    spo = triples.select(
        F.col(subj).alias("subj"), F.col(pred).alias("pred"),
        F.col(obj).alias("obj"),
    ).distinct().localCheckpoint(eager=False)
    ring = entities.select(
        F.col(entities.columns[0]).alias("entity"),
        F.expr(md5_mod("entity", n_buckets)).cast("int").alias("bucket"),
    )
    ring = ring.withColumn(
        "rk",
        (F.row_number().over(Window.partitionBy("bucket").orderBy("entity")) - 1)
        .cast("long"),
    ).localCheckpoint(eager=False)
    cnts = ring.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("bcnt"))

    exp = spo.select(
        "subj", "pred", "obj",
        F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("slot"),
    )
    key = "concat(subj, '#', pred, '#', obj, '#', slot)"
    exp = (
        exp.withColumn("bucket", F.expr(md5_mod(key, n_buckets)).cast("int"))
        .join(F.broadcast(cnts), "bucket")
        .withColumn(
            "rk",
            F.expr(md5_mod(f"concat({key}, '#r')", "bcnt")).cast("long"),
        )
    )
    picked = exp.join(
        ring.select("bucket", "rk", F.col("entity").alias("neg_obj")),
        ["bucket", "rk"],
    )
    known = spo.select(
        "subj", "pred", F.col("obj").alias("neg_obj"))
    return (
        picked.join(known, ["subj", "pred", "neg_obj"], "left_anti")
        .select("subj", "pred", "obj", F.col("slot").cast("int").alias("slot"),
                "neg_obj")
    )


def b3_eval(assign: DataFrame, item: str = "item", pred_col: str = "pc",
            gold_col: str = "gc") -> DataFrame:
    """B-cubed precision/recall/F1 of a predicted clustering against a
    gold clustering (Bagga & Baldwin 1998 — the standard
    entity-canonicalization metric).

    Per item i: precision = |C(i) ∩ L(i)| / |C(i)|, recall with the
    gold cluster in the denominator; B3 P/R are the means over items.
    Grouped by (pred, gold) cell this is
    sum over cells of n_cell^2 / cluster_size, which rides the BIGINT
    unit grid (``n*n*UNIT div size`` per cell, then a BIGINT sum) so
    the result is independent of partial-aggregation order. The final
    P, R, F1 are a constant number of IEEE double ops on identical
    BIGINTs — bit-identical cross-engine, rounded 6dp.

    Three shuffles on the assignment table (cells, pred sizes, gold
    sizes), each a plain map-side-combined count; the two size tables
    are per-cluster (small relative to items) and join back on their
    own keys.
    """
    a = assign.select(
        F.col(item).alias("item"), F.col(pred_col).alias("pc"),
        F.col(gold_col).alias("gc"),
    ).localCheckpoint(eager=False)
    cells = a.groupBy("pc", "gc").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ps = a.groupBy("pc").agg(F.count(F.lit(1)).cast("long").alias("psz"))
    gs = a.groupBy("gc").agg(F.count(F.lit(1)).cast("long").alias("gsz"))
    u = F.lit(UNIT).cast("long")
    sums = (
        cells.join(ps, "pc").join(gs, "gc")
        .select(
            F.expr(f"n * n * CAST({UNIT} AS BIGINT) DIV psz").alias("pu"),
            F.expr(f"n * n * CAST({UNIT} AS BIGINT) DIV gsz").alias("ru"),
            F.col("n"),
        )
        .agg(
            F.sum("pu").cast("long").alias("sp"),
            F.sum("ru").cast("long").alias("sr"),
            F.sum("n").cast("long").alias("n_items"),
        )
    )
    p0 = F.col("sp").cast("double") / (F.col("n_items") * u).cast("double")
    r0 = F.col("sr").cast("double") / (F.col("n_items") * u).cast("double")
    return sums.select(
        "n_items",
        F.round(p0, 6).alias("b3_precision"),
        F.round(r0, 6).alias("b3_recall"),
        F.round(
            F.when(p0 + r0 > 0, 2.0 * p0 * r0 / (p0 + r0)).otherwise(F.lit(0.0)),
            6,
        ).alias("b3_f1"),
    )


def mine_path_rules(triples: DataFrame, min_support: int = 2,
                    hub_cap: int | None = None, subj: str = "subj_canon",
                    pred: str = "pred", obj: str = "obj_canon",
                    spo: DataFrame | None = None,
                    body: DataFrame | None = None) -> DataFrame:
    """AMIE-style length-2 horn-rule mining (Galárraga et al. 2013 —
    public paper): candidate rules p1(x,y) ∧ p2(y,z) ⇒ p3(x,z) with
    support   = #distinct (x,z) satisfying body AND head,
    body_supp = #distinct (x,z) satisfying the body,
    confidence = support / body_supp (the "std" confidence),
    head_coverage = support / #p3 triples.
    Reflexive instantiations (x = z) are excluded — they manufacture
    trivial rules through round-trips.

    Plan shape: one self-join at the shared entity y (the only
    stream-sized shuffle, keyed on the entity id — exactly the shape
    AQE's skew handling targets), a distinct body projection, one join
    of the body against the head triples on (x, z), and grouped counts.
    ``spo`` / ``body`` are optional pre-materialized stage tables (the
    round-6 pass-through pattern): callers that run several rule-lane
    analytics share ONE distinct (subj, pred, obj) projection and ONE
    distinct wedge table instead of replaying the self-join per query.
    A passed ``body`` is uncapped, so passing it with ``hub_cap``
    raises ValueError. ``hub_cap`` is the deterministic skew guard
    for web-scale graphs:
    entities whose in-count × out-count exceeds the cap are EXCLUDED
    from the y position (never sampled — exclusion is reproducible
    under any partitioning; AMIE's own scale story samples instead).
    At 10^12-triple scale run with a cap (popular entities otherwise
    quadratically dominate the wedge join); the emitted rules are then
    a documented under-count, the same contract as
    link_prediction(hub_cap=...). Ratios are one double division of
    two BIGINTs, rounded 6dp.
    """
    if body is not None and hub_cap is not None:
        raise ValueError("mine_path_rules: hub_cap cannot apply to a pre-built body")
    if spo is None:
        spo = triples.select(
            F.col(subj).alias("subj"), F.col(pred).alias("pred"),
            F.col(obj).alias("obj"),
        ).distinct().localCheckpoint(eager=False)
    left, right = spo, spo
    if hub_cap is not None:
        in_c = spo.groupBy(F.col("obj").alias("y")).agg(
            F.count(F.lit(1)).cast("long").alias("ic"))
        out_c = spo.groupBy(F.col("subj").alias("y")).agg(
            F.count(F.lit(1)).cast("long").alias("oc"))
        hot = (
            in_c.join(out_c, "y")
            .where(F.col("ic") * F.col("oc") > hub_cap)
            .select("y")
        )
        left = spo.join(F.broadcast(hot.withColumnRenamed("y", "obj")),
                        "obj", "left_anti")
        right = spo.join(F.broadcast(hot.withColumnRenamed("y", "subj")),
                         "subj", "left_anti")
    if body is None:
        body = (
            left.alias("t1")
            .join(right.alias("t2"), F.col("t1.obj") == F.col("t2.subj"))
            .where(F.col("t1.subj") != F.col("t2.obj"))
            .select(
                F.col("t1.subj").alias("x"), F.col("t1.pred").alias("p1"),
                F.col("t2.pred").alias("p2"), F.col("t2.obj").alias("z"),
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
    bodies = body.groupBy("p1", "p2").agg(
        F.count(F.lit(1)).cast("long").alias("body_supp"))
    matched = (
        body.join(
            spo.select(F.col("subj").alias("x"), F.col("pred").alias("p3"),
                       F.col("obj").alias("z")),
            ["x", "z"],
        )
        .groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    head_sz = spo.groupBy(F.col("pred").alias("p3")).agg(
        F.count(F.lit(1)).cast("long").alias("n_head"))
    return (
        matched.where(F.col("support") >= min_support)
        .join(bodies, ["p1", "p2"])
        .join(F.broadcast(head_sz), "p3")
        .select(
            "p1", "p2", "p3", "support", "body_supp", "n_head",
            F.round(F.col("support").cast("double") / F.col("body_supp"), 6)
            .alias("confidence"),
            F.round(F.col("support").cast("double") / F.col("n_head"), 6)
            .alias("head_coverage"),
        )
    )


def inverse_symmetry(triples: DataFrame, subj: str = "subj_canon",
                     pred: str = "pred",
                     obj: str = "obj_canon") -> DataFrame:
    """Inverse-predicate and symmetry detection: for predicate pairs
    (a <= b), the ordered-pair overlap |{(x,y): a(x,y) ∧ b(y,x)}| and
    score = overlap / min(n_a, n_b). The diagonal rows (a = b) measure
    each predicate's symmetry fraction; off-diagonal rows flag inverse
    pairs — the schema-alignment signal a KG merger uses before fusing
    two extractors' outputs.

    One self-join on the reversed (subj, obj) key (the only
    stream-sized shuffle), grouped to the tiny predicate-pair table,
    plus a broadcast of per-predicate counts. Overlap counts ORDERED
    pairs (a symmetric x<->y pair under one predicate contributes 2 on
    the diagonal — documented, and identical in the oracle).
    """
    spo = triples.select(
        F.col(subj).alias("subj"), F.col(pred).alias("pred"),
        F.col(obj).alias("obj"),
    ).distinct().localCheckpoint(eager=False)
    ov = (
        spo.alias("a")
        .join(spo.alias("b"),
              (F.col("a.subj") == F.col("b.obj"))
              & (F.col("a.obj") == F.col("b.subj")))
        .where(F.col("a.pred") <= F.col("b.pred"))
        .groupBy(F.col("a.pred").alias("pred_a"),
                 F.col("b.pred").alias("pred_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    sz = spo.groupBy("pred").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        ov.join(F.broadcast(sz.select(F.col("pred").alias("pred_a"),
                                      F.col("n").alias("n_a"))), "pred_a")
        .join(F.broadcast(sz.select(F.col("pred").alias("pred_b"),
                                    F.col("n").alias("n_b"))), "pred_b")
        .select(
            "pred_a", "pred_b", "n_overlap", "n_a", "n_b",
            F.round(F.col("n_overlap").cast("double")
                    / F.least("n_a", "n_b").cast("double"), 6).alias("score"),
        )
    )


def maintenance_report(triples: DataFrame, min_support: int = 2,
                       subj: str = "subj_canon", pred: str = "pred",
                       obj: str = "obj_canon",
                       spo: DataFrame | None = None,
                       body: DataFrame | None = None) -> DataFrame:
    """The composed per-predicate KG-maintenance report a build
    publishes next to its triples: cardinality profile, conflict
    pressure, symmetry, and mined-rule support in ONE plan over ONE
    shared (s, p, o) materialization — the graph_report composition
    discipline applied to the predicate lane. A 100 TB run amortizes
    the expensive canonical-triples derivation across all four
    analytics instead of replaying it per query.

    Columns: pred, n_triples, n_subj, n_obj, functionality,
    inv_functionality, n_conflict_subjects (subjects with >=2 objects —
    unthresholded, the raw pressure number), sym_overlap (ordered
    self-inverse pairs), n_rules_as_head and best_confidence (mined
    length-2 rules concluding in this predicate). Left joins keep
    rule-less/conflict-free predicates with explicit zero defaults.
    """
    if spo is None:
        spo = triples.select(
            F.col(subj).alias("subj"), F.col(pred).alias("pred"),
            F.col(obj).alias("obj"),
        ).distinct().localCheckpoint(eager=False)
    prof = predicate_profile(spo, "subj", "pred", "obj")
    conf = (
        functional_conflicts(spo, func_num=0, func_den=1,
                             subj="subj", pred="pred", obj="obj")
        .groupBy("pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_conflict_subjects"))
    )
    sym = (
        inverse_symmetry(spo, "subj", "pred", "obj")
        .where(F.col("pred_a") == F.col("pred_b"))
        .select(F.col("pred_a").alias("pred"),
                F.col("n_overlap").alias("sym_overlap"))
    )
    rules = (
        mine_path_rules(spo, min_support=min_support,
                        subj="subj", pred="pred", obj="obj",
                        spo=spo, body=body)
        .groupBy(F.col("p3").alias("pred"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rules_as_head"),
            F.max("confidence").alias("best_confidence"),
        )
    )
    return (
        prof.join(conf, "pred", "left")
        .join(sym, "pred", "left")
        .join(rules, "pred", "left")
        .select(
            "pred", "n_triples", "n_subj", "n_obj", "functionality",
            "inv_functionality",
            F.coalesce("n_conflict_subjects", F.lit(0)).cast("long")
            .alias("n_conflict_subjects"),
            F.coalesce("sym_overlap", F.lit(0)).cast("long")
            .alias("sym_overlap"),
            F.coalesce("n_rules_as_head", F.lit(0)).cast("long")
            .alias("n_rules_as_head"),
            F.coalesce("best_confidence", F.lit(0.0))
            .alias("best_confidence"),
        )
    )


def implication(triples: DataFrame, min_overlap: int = 2,
                subj: str = "subj_canon", pred: str = "pred",
                obj: str = "obj_canon") -> DataFrame:
    """Subsumption/implication detection between predicates: for each
    ordered pair (a, b), the count of (x, y) pairs carrying BOTH a and
    b in the SAME direction and confidence = overlap / n_a (the
    fraction of a's pairs that also hold b — a ⇒ b when it nears 1).
    The length-1 rule complement of mine_path_rules' length-2 wedges
    and inverse_symmetry's reversed overlap; together they cover the
    AMIE rule templates expressible without a fresh variable.

    One self-join on the (subj, obj) pair key (the only stream-sized
    shuffle), predicate-pair grouped counts, broadcast per-predicate
    sizes. Emits both orders (confidence is direction-specific);
    a = b rows are excluded (trivially confidence 1).
    """
    spo = triples.select(
        F.col(subj).alias("subj"), F.col(pred).alias("pred"),
        F.col(obj).alias("obj"),
    ).distinct().localCheckpoint(eager=False)
    ov = (
        spo.alias("a")
        .join(spo.alias("b"),
              (F.col("a.subj") == F.col("b.subj"))
              & (F.col("a.obj") == F.col("b.obj"))
              & (F.col("a.pred") != F.col("b.pred")))
        .groupBy(F.col("a.pred").alias("pred_a"),
                 F.col("b.pred").alias("pred_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
        .where(F.col("n_overlap") >= min_overlap)
    )
    sz = spo.groupBy("pred").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        ov.join(F.broadcast(sz.select(F.col("pred").alias("pred_a"),
                                      F.col("n").alias("n_a"))), "pred_a")
        .select(
            "pred_a", "pred_b", "n_overlap", "n_a",
            F.round(F.col("n_overlap").cast("double") / F.col("n_a"), 6)
            .alias("confidence"),
        )
    )


def degree_histogram(edges: DataFrame, src: str = "src",
                     dst: str = "dst") -> DataFrame:
    """Log2-bucketed degree distribution over the entity graph — the
    skew-monitoring rollup the salting operator's hot-key threshold is
    calibrated against (a heavy tail here = salt / cap before the
    next join). Buckets: floor(log2(degree)), exact via BIGINT bit
    length (never float log), so bucket edges are engine-identical.

    Two stream-sized grouped counts (out per src, in per dst, unioned
    before one combine) then a tiny per-bucket count.
    """
    deg = (
        edges.select(F.col(src).alias("v"))
        .union(edges.select(F.col(dst).alias("v")))
        .groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    # floor(log2(d)) for d >= 1 as (bit length - 1): exact integer via
    # bin(), which both Spark and DuckDB expose with identical output —
    # never float log2, whose boundary rounding is library-dependent.
    bucket = F.expr("CAST(length(bin(degree)) - 1 AS INT)")
    return (
        deg.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_entities"),
            F.min("degree").cast("long").alias("min_degree"),
            F.max("degree").cast("long").alias("max_degree"),
        )
    )


def type_induction(triples: DataFrame, subj: str = "subj_canon",
                   pred: str = "pred", obj: str = "obj_canon") -> DataFrame:
    """Schema induction by predicate signature: each entity's "type" is
    the sorted set of (direction, predicate) roles it plays — 'S:born_in
    O:capital_of' — and entities sharing a signature form an induced
    class. The schema-discovery pass an ontology-free KG runs to
    propose classes before any manual typing (cf. statistical schema
    induction over SPO triples); downstream, conflicts/negative
    sampling can then be scoped per induced class.

    Scale shape: one distinct on (entity, role) — map-side combined —
    then two grouped aggs. collect_set is bounded by 2x the predicate
    vocabulary (tiny by contract), never by corpus size. The signature
    groupBy keys on the signature string; skewed mega-classes (every
    entity with the same lone role) are a single combineable count, not
    a row explosion.
    """
    roles = (
        triples.select(F.col(subj).alias("entity"),
                       F.concat(F.lit("S:"), F.col(pred)).alias("role"))
        .union(triples.select(F.col(obj).alias("entity"),
                              F.concat(F.lit("O:"), F.col(pred)).alias("role")))
        .distinct()
    )
    sig = roles.groupBy("entity").agg(
        F.array_join(F.array_sort(F.collect_set("role")), " ").alias("signature"))
    return sig.groupBy("signature").agg(
        F.count(F.lit(1)).cast("long").alias("n_entities"),
        F.min("entity").alias("exemplar"),
    )


def fuse_extractors(triples: DataFrame, n_extractors: int = 3,
                    subj: str = "subj_canon", pred: str = "pred",
                    obj: str = "obj_canon") -> DataFrame:
    """Multi-extractor confidence fusion (the Knowledge-Vault move:
    one triple, k independent extractor confidences, one fused belief):
    per triple, ``n_extractors`` per-extractor confidences are fused by
    noisy-or ``1 - prod(1 - p_i)`` on the ppm integer grid, plus a
    majority vote count at the 0.5 line. Extractor confidences stand in
    as deterministic per-(triple, extractor) hashes — the swap-in is a
    join against real per-extractor score tables keyed by (s, p, o,
    extractor_id); only the p_i column sources change.

    Scale shape: a pure per-row projection (the k confidences are
    staged columns, the noisy-or an unrolled BIGINT expression that
    floors back to the ppm grid after every multiply — overflow-safe
    for any k). No shuffle; whole-stage codegen end to end.
    """
    from deepref_spark.portable import SPARK, noisy_or_ppm_expr

    key = f"concat({subj}, '|', {pred}, '|', {obj}, '|ex', "
    staged = triples.select(
        F.col(subj).alias("subj"), F.col(pred).alias("pred"),
        F.col(obj).alias("obj"),
        *[F.expr("CAST(" + md5_mod(key + str(i) + ")", 1000000) + " AS BIGINT)")
          .alias(f"p{i}") for i in range(1, n_extractors + 1)],
    )
    ps = [f"p{i}" for i in range(1, n_extractors + 1)]
    votes = " + ".join(f"(CASE WHEN {p} >= 500000 THEN 1 ELSE 0 END)" for p in ps)
    return staged.select(
        "subj", "pred", "obj", *ps,
        F.expr(noisy_or_ppm_expr(ps, SPARK)).alias("fused_ppm"),
        F.expr(f"CAST({votes} AS INT)").alias("votes"),
    )


def pairwise_eval(assign: DataFrame, item: str = "item", pred_col: str = "pc",
                  gold_col: str = "gc") -> DataFrame:
    """Pairwise precision/recall/F1 of a predicted clustering against a
    gold clustering — the second standard entity-resolution metric next
    to B-cubed (b3_eval): a pair of items counts as true-positive when
    BOTH clusterings co-cluster it. Pair counts are C(n,2) sums over
    the (pred, gold) contingency cells and the per-cluster size tables
    — pairs are COUNTED by formula, never enumerated, so a mega-cluster
    costs one row, not C(n,2) rows (the kg_blocking_quality
    discipline).

    All counts are BIGINTs; P/R/F1 are a constant number of IEEE double
    ops on identical BIGINTs, rounded 6dp — bit-identical cross-engine.
    Same three map-side-combined shuffles as b3_eval.
    """
    a = assign.select(
        F.col(item).alias("item"), F.col(pred_col).alias("pc"),
        F.col(gold_col).alias("gc"),
    ).localCheckpoint(eager=False)
    tp = a.groupBy("pc", "gc").agg(F.count(F.lit(1)).cast("long").alias("n")) \
        .agg(F.sum(F.expr("n * (n - 1) div 2")).cast("long").alias("tp_pairs"),
             F.sum("n").cast("long").alias("n_items"))
    pp = a.groupBy("pc").agg(F.count(F.lit(1)).cast("long").alias("n")) \
        .agg(F.sum(F.expr("n * (n - 1) div 2")).cast("long").alias("pred_pairs"))
    gp = a.groupBy("gc").agg(F.count(F.lit(1)).cast("long").alias("n")) \
        .agg(F.sum(F.expr("n * (n - 1) div 2")).cast("long").alias("gold_pairs"))
    joined = tp.crossJoin(F.broadcast(pp)).crossJoin(F.broadcast(gp))
    p0 = F.when(F.col("pred_pairs") > 0,
                F.col("tp_pairs").cast("double") / F.col("pred_pairs")) \
        .otherwise(F.lit(0.0))
    r0 = F.when(F.col("gold_pairs") > 0,
                F.col("tp_pairs").cast("double") / F.col("gold_pairs")) \
        .otherwise(F.lit(0.0))
    return joined.select(
        "n_items", "tp_pairs", "pred_pairs", "gold_pairs",
        F.round(p0, 6).alias("pair_precision"),
        F.round(r0, 6).alias("pair_recall"),
        F.round(
            F.when(p0 + r0 > 0, 2.0 * p0 * r0 / (p0 + r0)).otherwise(F.lit(0.0)),
            6,
        ).alias("pair_f1"),
    )


def train_split(triples: DataFrame, train_pct: int = 80, val_pct: int = 10,
                subj: str = "subj_canon", pred: str = "pred",
                obj: str = "obj_canon") -> DataFrame:
    """Deterministic train/valid/test split for KG-embedding training
    with the standard coverage guarantee: every entity AND every
    relation appears in train (an eval triple whose entity was never
    trained is unscorable — the FB15k/WN18 protocol). Base assignment
    hashes the triple key into [0, 100); the guarantee is single-pass,
    not iterative: each entity's (and relation's) md5-minimal triple is
    FORCED into train, overriding its hash bucket.

    Scale shape: one roles explode (3 rows per triple) -> grouped min
    (map-side combined) -> one semi-join back on (group, key). The
    forced set is at most #entities + #relations rows; everything else
    is a pure hash projection. Deterministic under any partitioning:
    ties inside a group cannot happen (the key embeds s|p|o, distinct
    by construction).
    """
    spo = triples.select(
        F.col(subj).alias("subj"), F.col(pred).alias("pred"),
        F.col(obj).alias("obj"),
    ).distinct().withColumn(
        "k", F.expr("md5(concat(subj, '|', pred, '|', obj))")
    ).localCheckpoint(eager=False)  # feeds roles AND the final projection
    roles = (
        spo.select(F.concat(F.lit("e:"), F.col("subj")).alias("g"), "k")
        .union(spo.select(F.concat(F.lit("e:"), F.col("obj")).alias("g"), "k"))
        .union(spo.select(F.concat(F.lit("r:"), F.col("pred")).alias("g"), "k"))
    )
    forced = roles.groupBy("g").agg(F.min("k").alias("k")) \
        .select("k").distinct()
    bucket = F.expr("CAST(" + md5_mod("k", 100) + " AS INT)")
    return (
        spo.join(forced.withColumn("_f", F.lit(1)), "k", "left")
        .select(
            "subj", "pred", "obj",
            F.when(F.col("_f").isNotNull(), F.lit("train"))
            .when(bucket < train_pct, F.lit("train"))
            .when(bucket < train_pct + val_pct, F.lit("valid"))
            .otherwise(F.lit("test")).alias("split"),
            F.col("_f").isNotNull().cast("int").alias("forced"),
        )
    )


def lp_rank_eval(triples: DataFrame, subj: str = "subj_canon",
                 pred: str = "pred", obj: str = "obj_canon") -> DataFrame:
    """Link-prediction evaluation of the TransE scorer on the held-out
    test split — the standard KG-embedding protocol (Bordes et al.
    2013, FILTERED setting): for each test triple (s, p, o), every
    entity is scored as a candidate tail, candidates that form a
    DIFFERENT true triple are filtered out, and the true tail's rank
    (energy ASC, entity ASC tie-break — fully deterministic on the
    integer energy grid) yields mean rank, MRR and Hits@{1,3,10}.
    Completes the embedding lane: id maps -> split -> negatives ->
    scoring -> THIS.

    Scale shape: candidates broadcast (the entity dimension; at 1e9+
    entities swap in negative_sample's bucketed ring — only the
    candidate source changes); the filter is one left-anti join against
    the true-triple set; ranks are one grouped count per test triple
    (e_cand < e_true, ties by name). MRR rides the ppm integer grid
    (sum of 1e6 div rank), aggregation-order independent.
    """
    from deepref_spark.portable import transe_energy_expr

    split = train_split(triples, subj=subj, pred=pred, obj=obj) \
        .localCheckpoint(eager=False)  # feeds test AND the filter set
    ents = (
        split.select(F.col("subj").alias("cand"))
        .union(split.select(F.col("obj").alias("cand")))
        .distinct()
        .withColumn("ch", F.expr("md5(concat('e|', cand))"))
        .localCheckpoint(eager=False)
    )
    test = split.where(F.col("split") == "test").select(
        "subj", "pred", "obj",
        F.expr("md5(concat('e|', subj))").alias("hh"),
        F.expr("md5(concat('r|', pred))").alias("rh"),
        F.expr("md5(concat('e|', obj))").alias("th"),
    ).withColumn("e_true", F.expr(transe_energy_expr("hh", "rh", "th")))
    pairs = (
        test.crossJoin(F.broadcast(ents))
        .withColumn("e_cand", F.expr(transe_energy_expr("hh", "rh", "ch")))
        # filtered protocol: drop candidates forming a DIFFERENT true
        # triple (the anti join also drops cand == obj, which the rank
        # count never includes anyway)
        .join(split.select(F.col("subj"), F.col("pred"),
                           F.col("obj").alias("cand")),
              ["subj", "pred", "cand"], "left_anti")
    )
    better = (
        pairs.groupBy("subj", "pred", "obj")
        .agg(F.sum(
            ((F.col("e_cand") < F.col("e_true"))
             | ((F.col("e_cand") == F.col("e_true"))
                & (F.col("cand") < F.col("obj")))).cast("long")
        ).alias("n_better"))
    )
    # left join back: a test triple whose every candidate was filtered
    # still ranks 1, it must not vanish from the aggregate
    ranks = test.select("subj", "pred", "obj").join(
        better, ["subj", "pred", "obj"], "left"
    ).select((F.lit(1) + F.coalesce("n_better", F.lit(0))).cast("long").alias("rank"))
    return ranks.agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum("rank").cast("long").alias("sum_rank"),
        F.expr("sum(1000000 div rank) div count(1)").cast("long").alias("mrr_ppm"),
        F.sum((F.col("rank") <= 1).cast("long")).cast("long").alias("hits1"),
        F.sum((F.col("rank") <= 3).cast("long")).cast("long").alias("hits3"),
        F.sum((F.col("rank") <= 10).cast("long")).cast("long").alias("hits10"),
    )


def domain_range_audit(triples: DataFrame, subj: str = "subj_canon",
                       pred: str = "pred",
                       obj: str = "obj_canon") -> DataFrame:
    """RDFS-style domain/range audit over INDUCED types: each entity's
    type is its predicate-signature (the same derivation as
    type_induction); each predicate's expected domain (resp. range) is
    the majority subject (resp. object) signature; every triple whose
    subject/object deviates counts as a violation — the schema-
    conformance report a KG-construction run publishes before
    accepting an extractor's output (SHACL's sh:class check, with
    classes induced rather than declared).

    Scale shape: the signature table is one distinct + one grouped
    agg (collect_set bounded by 2x the predicate vocabulary); it joins
    the triple set twice on the entity key; the majority pick and the
    violation rollup are combineable aggs on (pred[, signature]) —
    cardinality bounded by |preds| x |signatures|, never corpus-sized.
    Majority tie-break is deterministic: max (n, signature).
    """
    roles = (
        triples.select(F.col(subj).alias("entity"),
                       F.concat(F.lit("S:"), F.col(pred)).alias("role"))
        .union(triples.select(F.col(obj).alias("entity"),
                              F.concat(F.lit("O:"), F.col(pred)).alias("role")))
        .distinct()
    )
    sig = roles.groupBy("entity").agg(
        F.array_join(F.array_sort(F.collect_set("role")), " ")
        .alias("signature")).localCheckpoint(eager=False)
    typed = (
        triples.select(F.col(pred).alias("pred"),
                       F.col(subj).alias("s_ent"),
                       F.col(obj).alias("o_ent"))
        .join(sig.select(F.col("entity").alias("s_ent"),
                         F.col("signature").alias("s_sig")), "s_ent")
        .join(sig.select(F.col("entity").alias("o_ent"),
                         F.col("signature").alias("o_sig")), "o_ent")
        .localCheckpoint(eager=False)  # feeds the majority AND the audit
    )

    def _major(col):
        return (
            typed.groupBy("pred", col)
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("pred")
            .agg(F.expr(f"max_by({col}, struct(n, {col}))").alias(col[0] + "_major"))
        )
    audit = (
        typed.join(F.broadcast(_major("s_sig")), "pred")
        .join(F.broadcast(_major("o_sig")), "pred")
        .groupBy("pred")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_triples"),
            F.sum(F.when(F.col("s_sig") != F.col("s_major"), 1)
                  .otherwise(0)).cast("long").alias("n_domain_viol"),
            F.sum(F.when(F.col("o_sig") != F.col("o_major"), 1)
                  .otherwise(0)).cast("long").alias("n_range_viol"),
            F.min("s_major").alias("domain_sig"),
            F.min("o_major").alias("range_sig"),
        )
    )
    return audit


def rules_pca_confidence(triples: DataFrame, min_support: int = 2,
                         subj: str = "subj_canon", pred: str = "pred",
                         obj: str = "obj_canon",
                         spo: DataFrame | None = None,
                         body: DataFrame | None = None) -> DataFrame:
    """AMIE PCA confidence (Galárraga et al. 2013 §4.2) for the
    length-2 horn rules next to the std confidence: under the Partial
    Completeness Assumption the denominator counts only body
    instantiations whose x is KNOWN to have some p3 fact — pca_body =
    #distinct (x, z) satisfying the body with exists z': p3(x, z') —
    so rules are not punished for facts the KG simply hasn't ingested
    (std confidence under-scores on incomplete graphs; PCA is the
    number AMIE actually ranks by).

    Same wedge-join plan as mine_path_rules (one stream-sized shuffle
    at the shared entity); the PCA denominator adds ONE join of the
    distinct body against the distinct (subj, pred) projection — body
    rows are distinct on (x, p1, p2, z) and the head projection on
    (x, p3), so the joined rows are distinct on the 5-tuple and a
    plain grouped count IS the distinct count (no count-distinct
    shuffle)."""
    if spo is None:
        spo = triples.select(
            F.col(subj).alias("subj"), F.col(pred).alias("pred"),
            F.col(obj).alias("obj"),
        ).distinct().localCheckpoint(eager=False)
    if body is None:
        body = (
            spo.alias("t1")
            .join(spo.alias("t2"), F.col("t1.obj") == F.col("t2.subj"))
            .where(F.col("t1.subj") != F.col("t2.obj"))
            .select(
                F.col("t1.subj").alias("x"), F.col("t1.pred").alias("p1"),
                F.col("t2.pred").alias("p2"), F.col("t2.obj").alias("z"),
            )
            .distinct()
            .localCheckpoint(eager=False)  # bodies + matched + pca
        )
    bodies = body.groupBy("p1", "p2").agg(
        F.count(F.lit(1)).cast("long").alias("body_supp"))
    matched = (
        body.join(
            spo.select(F.col("subj").alias("x"), F.col("pred").alias("p3"),
                       F.col("obj").alias("z")),
            ["x", "z"],
        )
        .groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    hsubj = spo.select(F.col("subj").alias("x"),
                       F.col("pred").alias("p3")).distinct()
    pca = (
        body.join(hsubj, "x")
        .groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).cast("long").alias("pca_body"))
    )
    return (
        matched.where(F.col("support") >= min_support)
        .join(bodies, ["p1", "p2"])
        .join(pca, ["p1", "p2", "p3"])
        .select(
            "p1", "p2", "p3", "support", "body_supp", "pca_body",
            F.round(F.col("support").cast("double") / F.col("body_supp"), 6)
            .alias("confidence"),
            F.round(F.col("support").cast("double") / F.col("pca_body"), 6)
            .alias("pca_confidence"),
        )
    )


def distant_supervision(pairs: DataFrame) -> DataFrame:
    """Distant-supervision labeling report (Mintz 2009, the NYT-FB
    protocol behind the reference's bag-level training mode,
    `opennre/framework/bag_re.py` lineage): canonicalize every
    sentence-level mention pair, build the KB from the non-negative
    extractions, then join EVERY mention pair (including the
    'Other'-predicted ones) back against the KB on its canonical
    (subject, object) — a mention is silver-labeled with predicate p
    whenever the KB holds p for its entity pair, regardless of what
    the sentence-level extractor said. Per predicate: matched mention
    and bag counts, how many matches agree with the sentence-level
    extraction (direct) vs disagree (silver — the DS noise a
    multi-instance learner must absorb), and the silver share on the
    exact ppm grid (BIGINT multiply, integer DIV — no float).

    ``pairs``: one row per sentence-level mention pair with columns
    (doc_id, h_name, t_name, pred_relation).

    Scale shape: the canon map is the kg_canonical_triples window
    derivation (min surface over the normalized key) — built once over
    the DISTINCT surface vocabulary, size-gated broadcast onto the
    pair stream; the canonicalized pairs are lazily checkpointed once
    and feed BOTH the KB distinct and the DS join; the KB (distinct
    canonical triples) is size-gated broadcast, so the only
    corpus-sized shuffle is the surface distinct. Join fan-out per
    mention is bounded by the predicate vocabulary (a canonical pair
    holds at most |relations| KB predicates), never by corpus size.
    """
    from deepref_spark.operators.linking import size_gated_broadcast

    ents = (pairs.select(F.col("h_name").alias("entity"))
            .union(pairs.select(F.col("t_name").alias("entity")))
            .distinct())
    w = Window.partitionBy(
        F.expr("regexp_replace(entity, '[^a-z0-9]', '')"))
    canon = (ents.withColumn("canonical", F.min("entity").over(w))
             .localCheckpoint(eager=False))
    canon, _ = size_gated_broadcast(canon)
    cp = (
        pairs
        .join(canon.select(F.col("entity").alias("h_name"),
                           F.col("canonical").alias("hc")), "h_name")
        .join(canon.select(F.col("entity").alias("t_name"),
                           F.col("canonical").alias("tc")), "t_name")
        .select("doc_id", "hc", "tc", "pred_relation")
        .localCheckpoint(eager=False)  # feeds the KB distinct AND the DS join
    )
    kb = (cp.where(F.col("pred_relation") != "Other")
          .select(F.col("hc").alias("subj"),
                  F.col("pred_relation").alias("pred"),
                  F.col("tc").alias("obj"))
          .distinct())
    kb, _ = size_gated_broadcast(kb)
    ds = cp.join(kb, (F.col("hc") == F.col("subj"))
                 & (F.col("tc") == F.col("obj")))
    return (
        ds.groupBy("pred")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_mentions"),
            F.countDistinct(F.concat_ws("#|#", "hc", "tc")).cast("long")
            .alias("n_bags"),
            F.sum((F.col("pred_relation") == F.col("pred")).cast("long"))
            .cast("long").alias("n_direct"),
            F.sum((F.col("pred_relation") != F.col("pred")).cast("long"))
            .cast("long").alias("n_silver"),
        )
        .withColumn("silver_ppm",
                    F.expr("CAST((n_silver * 1000000) DIV n_mentions"
                           " AS BIGINT)"))
    )


def void_summary(triples: DataFrame) -> DataFrame:
    """One-row VoID-style dataset descriptor over the canonical
    triples — the stats block (void:triples, void:distinctSubjects /
    distinctObjects / properties, entity count, mean out-degree) a KG
    PUBLISHES next to its dump so consumers can size joins before
    reading a byte. Mean out-degree rides the milli grid via the
    tie-free (2000t + s) DIV (2s).

    Two map-side-combined single-row aggregations (one over the spo
    set, one over the entity union) cross-joined — no corpus-sized
    shuffle beyond the distincts the counts require.
    """
    spo = triples.select("subj", "pred", "obj").distinct() \
        .localCheckpoint(eager=False)
    a = spo.agg(
        F.count(F.lit(1)).cast("long").alias("n_triples"),
        F.countDistinct("subj").cast("long").alias("n_subjects"),
        F.countDistinct("obj").cast("long").alias("n_objects"),
        F.countDistinct("pred").cast("long").alias("n_predicates"),
    )
    ents = (spo.select(F.col("subj").alias("e"))
            .union(spo.select(F.col("obj").alias("e")))
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("n_entities")))
    return (
        a.crossJoin(F.broadcast(ents))
        # double division: BIGINT / 1000.0 would promote to
        # DECIMAL(27,6) vs the oracle's DOUBLE (round-5 verdict #3
        # latent carrier) — same values, driver-hash drift
        .withColumn("mean_out_degree",
                    F.expr("CAST(CAST((2000 * n_triples + n_subjects)"
                           " DIV (2 * n_subjects) AS BIGINT) AS DOUBLE)"
                           " / 1000.0"))
    )


def schema_completeness(triples: DataFrame, subj: str = "subj_canon",
                        pred: str = "pred", obj: str = "obj_canon",
                        min_class: int = 2) -> DataFrame:
    """ReCoin-style schema-completeness matrix over the induced
    classes: for each (induced class, subject-predicate), what
    fraction of the class's entities assert that predicate? Classes
    come from the type_induction signature (the sorted role set); a
    low-coverage cell on an otherwise-universal predicate is exactly
    where a completeness tool tells curators to look for missing
    facts. Only classes with >= ``min_class`` members report (a
    singleton class is trivially 100% everywhere).

    Scale shape: the distinct (entity, role) set is derived once and
    checkpointed — it feeds the signature build AND the
    subject-predicate assertions (filtered from the same rows, no
    second corpus scan); class sizes broadcast back onto the
    per-(class, pred) counts (induced-class table is bounded by the
    signature vocabulary). Coverage on the ppm grid.
    """
    roles = (
        triples.select(F.col(subj).alias("entity"),
                       F.concat(F.lit("S:"), F.col(pred)).alias("role"))
        .union(triples.select(
            F.col(obj).alias("entity"),
            F.concat(F.lit("O:"), F.col(pred)).alias("role")))
        .distinct()
        .localCheckpoint(eager=False)  # feeds signatures AND assertions
    )
    sig = roles.groupBy("entity").agg(
        F.array_join(F.array_sort(F.collect_set("role")), " ")
        .alias("signature"))
    sizes = (
        sig.groupBy("signature")
        .agg(F.count(F.lit(1)).cast("long").alias("n_entities"))
        .where(F.col("n_entities") >= int(min_class))
    )
    s_asserts = (
        roles.where(F.col("role").startswith("S:"))
        .select("entity", F.expr("substring(role, 3)").alias("pred"))
        .join(sig, "entity")
    )
    cells = s_asserts.groupBy("signature", "pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_with"))
    return (
        cells.join(F.broadcast(sizes), "signature")
        .select("signature", "pred", "n_entities", "n_with",
                F.expr("CAST((n_with * 1000000) DIV n_entities AS BIGINT)")
                .alias("coverage_ppm"))
    )


def predicate_pairs(triples: DataFrame, subj: str = "subj_canon",
                    pred_col: str = "pred") -> DataFrame:
    """Predicate co-occurrence mining over subjects — the schema-
    discovery readout ("entities with pred A usually also carry pred
    B") that seeds type induction and attribute-suggestion: for every
    unordered predicate pair sharing at least one subject, the subject
    co-count and the lift vs independence on the exact milli grid
    (lift = n_ab * n_subjects / (n_a * n_b), >1000 milli = attract).

    Scale shape: ONE distinct over (subject, pred) — cardinality
    n_subjects x avg-preds-per-subject, far below the triple count —
    then a self-join keyed on the subject whose fan-out is bounded by
    the per-subject predicate count squared (predicate vocabularies
    are small; a hub subject contributes |preds|² pairs, not degree²).
    The per-pred counts and the subject total are tiny broadcasts."""
    sp = (
        triples.select(F.col(subj).alias("s"), F.col(pred_col).alias("p"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds three derivations below
    )
    pc = sp.groupBy(F.col("p").alias("pred")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pred"))
    ns = sp.agg(F.countDistinct("s").cast("long").alias("n_subj"))
    a = sp.select(F.col("s"), F.col("p").alias("pred_a"))
    b = sp.select(F.col("s"), F.col("p").alias("pred_b"))
    pairs = (
        a.join(b, "s")
        .where(F.col("pred_a") < F.col("pred_b"))
        .groupBy("pred_a", "pred_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    return (
        pairs
        .join(F.broadcast(pc.withColumnRenamed("pred", "pred_a")
                          .withColumnRenamed("n_pred", "n_a")), "pred_a")
        .join(F.broadcast(pc.withColumnRenamed("pred", "pred_b")
                          .withColumnRenamed("n_pred", "n_b")), "pred_b")
        .crossJoin(F.broadcast(ns))
        .select("pred_a", "pred_b", "n_ab", "n_a", "n_b",
                F.expr("n_ab * n_subj * 1000 DIV (n_a * n_b)").cast("long")
                .alias("lift_milli"))
    )


def entity_card(triples: DataFrame, subj: str = "subj_canon",
                pred: str = "pred", obj: str = "obj_canon") -> DataFrame:
    """Per-entity summary card over the canonical triple set: triple
    count, distinct predicates, distinct objects, and the dominant
    predicate with its share — the entity-summarization rollup a KG
    browser or downstream sampler reads per node (cf. RDF entity
    summaries / LinkSUM-style predicate ranking, computed exactly).

    Dominant predicate = max(struct(n, pred)): highest count, ties
    broken toward the lexicographically LARGER predicate name — one
    deterministic aggregate, no window sort over the corpus. The
    oracle replays the same rule as ORDER BY n DESC, pred DESC.

    Scale shape: two grouped passes over the (already deduplicated)
    triple table — per-(subj, pred) counts rolled up per subject, and
    a distinct-object count in the scalable two-stage shape — joined
    on the subject key. Share as integer-division ppm."""
    sp = (triples
          .groupBy(F.col(subj).alias("subj"), F.col(pred).alias("p"))
          .agg(F.count(F.lit(1)).cast("long").alias("n")))
    per_s = (sp.groupBy("subj").agg(
        F.sum("n").cast("long").alias("n_triples"),
        F.count(F.lit(1)).cast("long").alias("n_preds"),
        F.max(F.struct(F.col("n"), F.col("p"))).alias("top")))
    objs = (triples
            .select(F.col(subj).alias("subj"), F.col(obj).alias("o"))
            .distinct()
            .groupBy("subj")
            .agg(F.count(F.lit(1)).cast("long").alias("n_objs")))
    return (
        per_s.join(objs, "subj")
        .select("subj", "n_triples", "n_preds", "n_objs",
                F.col("top.p").alias("top_pred"),
                F.col("top.n").cast("long").alias("top_pred_n"),
                F.expr("top.n * 1000000 DIV n_triples").cast("long")
                .alias("top_share_ppm"))
    )


def conf_support_corr(triples: DataFrame) -> DataFrame:
    """Per-predicate Pearson r between a triple's supporting-document
    count and its max extraction score — the evidence-confidence
    coupling audit: if r ~ 0 the scorer learns nothing from
    redundancy and noisy-or fusion (fuse_extractors) carries all the
    multi-evidence lift; a strongly negative r is the red flag that
    heavily-asserted triples are systematically LOW-confidence
    (template spam / boilerplate extraction).

    x = n_docs, y = floor(max_score * 1e6 + 0.5); DECIMAL(38,0)
    moment sums (the events_acf discipline), one sqrt + division per
    predicate row rounded 6dp on both engines.
    """
    import pyspark.sql.functions as F

    q = triples.select(
        "pred",
        F.col("n_docs").cast("long").alias("x"),
        F.expr("CAST(floor(max_score * 1000000 + 0.5) AS BIGINT)")
        .alias("y"))
    dec = "DECIMAL(38,0)"
    agg = q.groupBy("pred").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast(dec).alias("syy"),
    )
    return agg.select(
        "pred", F.col("n").cast("long").alias("n_triples"),
        F.round(
            F.expr(
                "CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0"
                " AND CAST(n * syy - sy * sy AS DOUBLE) > 0"
                " THEN CAST(n * sxy - sx * sy AS DOUBLE)"
                " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
                "    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))"
                " ELSE 0.0 END"), 6).alias("support_score_r"),
    )
