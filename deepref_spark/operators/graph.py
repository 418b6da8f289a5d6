"""Graph analytics over the materialized KG (canonical triples).

The reference stops at materializing (subj, pred, obj) triples
(`deepref/framework/train.py` writes predictions; SURVEY.md §2.8 adds
the canonicalize/materialize stages). A KG-construction engine at
100 TB also has to ANSWER questions about the graph it built — degree
profiles for hub/skew detection (what the salting operator keys on)
and a centrality measure for entity ranking. Both are expressed as
plain DataFrame aggregations/joins so Catalyst plans them; PageRank
iterates a fixed, small number of rounds with lazy localCheckpoints
between (the connected-components discipline from linking.py: without
the checkpoint every iteration re-plans and re-runs the whole upstream
pipeline).

PageRank runs on an INTEGER unit grid (1 pr-point = 1e-9) with
floor-division contributions, so every aggregation is a BIGINT sum —
aggregation-order independent and therefore bit-identical between any
Spark partitioning and a single-threaded SQL oracle (the same
discipline as _ivf_codebook's quantized centroid means). Plain
double-precision PageRank sums are partial-aggregation-order dependent
and can flip a 6dp rounding between engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from deepref_spark import portable
from deepref_spark.operators.linking import driver_rows
from deepref_spark.session import local_frame

# one pagerank point = 1e-9: BIGINT headroom is ~9.2e18 units, so the
# grid supports total graph mass up to ~9.2e9 full points. At a
# 1e12-node scale, coarsen the grid (1e6 units) or partition the rank
# computation per graph component; the arithmetic below is unchanged.
UNIT = 1_000_000_000
DAMP_NUM, DAMP_DEN = 17, 20  # damping 0.85 as an exact rational


def graph_edges(triples: DataFrame, src: str = "subj_canon",
                dst: str = "obj_canon") -> DataFrame:
    """Distinct directed (src, dst) entity edges, self-loops dropped —
    the adjacency view shared by degrees and PageRank."""
    return (
        triples.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col(src) != F.col(dst))
        .distinct()
    )


def entity_degrees(edges: DataFrame) -> DataFrame:
    """(entity, out_deg, in_deg, degree) over the distinct edge set.

    Two map-side-combined counts + one outer join on the (small)
    per-entity tables; the corpus-sized edge set is scanned twice but
    never shuffled wider than its key. Degree profiles are what the
    skew-salting operator (operators/skew.py) keys its hot-entity list
    on at scale.
    """
    out_d = edges.groupBy(F.col("src").alias("entity")).agg(
        F.count(F.lit(1)).alias("out_deg"))
    in_d = edges.groupBy(F.col("dst").alias("entity")).agg(
        F.count(F.lit(1)).alias("in_deg"))
    return (
        out_d.join(in_d, "entity", "full_outer")
        .select(
            "entity",
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
        )
        .withColumn("degree", (F.col("out_deg") + F.col("in_deg")).cast("long"))
    )


def _round6_spark(x: float) -> float:
    """Python twin of Spark/DuckDB round(x, 6) on doubles: HALF_UP on
    the shortest decimal representation (Python's round() is half-even
    on the binary value and can differ at .5 boundaries)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                           rounding=ROUND_HALF_UP))


def pagerank(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Fixed-iteration PageRank on the integer unit grid.

    Per round: contribution(src->dst) = u(src) div out_deg(src)
    (BIGINT floor division — deterministic), inflow = BIGINT sum,
    u'(n) = (1-d)*UNIT + (17*inflow) div 20. Dangling-node mass is
    dropped (documented simplification — the classic redistribution
    term needs a global scalar per round; at 100 TB that is one extra
    tiny agg, omitted here so the oracle stays a pure unrolled CTE).

    Each round is one join + one map-side-combinable sum; the rank
    table is lazily checkpointed per round so round k+1's plan does
    not replay rounds 1..k (linking.connected_components discipline).
    Returns (entity, pagerank DOUBLE) where pagerank = u / UNIT — an
    exact BIGINT-to-double conversion followed by one IEEE division,
    identical in any engine.
    """
    edges = edges.localCheckpoint(eager=False)
    # size-adaptive (round 6): under the driver cap the whole unit-grid
    # iteration runs on collected rows with exact Python integers —
    # bit-identical to the distributed floor-division grid; the loop
    # below stays the at-scale path.
    rows = driver_rows(edges.select("src", "dst"))
    if rows is not None:
        import pyspark.sql.types as T

        outd: dict = {}
        nodes_s: set = set()
        for a, b in rows:
            outd[a] = outd.get(a, 0) + 1
            nodes_s.add(a)
            nodes_s.add(b)
        base_i = UNIT - (DAMP_NUM * UNIT) // DAMP_DEN
        u = {n: UNIT for n in nodes_s}
        for _ in range(iters):
            inflow: dict = {}
            for a, b in rows:
                inflow[b] = inflow.get(b, 0) + u[a] // outd[a]
            u = {n: base_i + (DAMP_NUM * inflow.get(n, 0)) // DAMP_DEN
                 for n in nodes_s}
        node_t = edges.schema["src"].dataType
        schema = T.StructType([
            T.StructField("entity", node_t, False),
            T.StructField("pagerank", T.DoubleType(), False),
        ])
        return local_frame(edges.sparkSession,
                           [(n, u[n] / float(UNIT)) for n in nodes_s], schema)
    nodes = (
        edges.select(F.col("src").alias("entity"))
        .union(edges.select(F.col("dst").alias("entity")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    base = UNIT - (DAMP_NUM * UNIT) // DAMP_DEN  # (1-d)*UNIT, exact
    pr = nodes.withColumn("u", F.lit(UNIT).cast("long"))
    for _ in range(iters):
        contrib = (
            edges
            .join(pr.withColumnRenamed("entity", "src"), "src")
            .join(out_deg, "src")
            .select(
                F.col("dst").alias("entity"),
                F.expr("u div out_deg").alias("c"),
            )
        )
        inflow = contrib.groupBy("entity").agg(F.sum("c").alias("inflow"))
        pr = (
            nodes.join(inflow, "entity", "left")
            .select(
                "entity",
                (F.lit(base)
                 + F.expr(f"({DAMP_NUM} * coalesce(inflow, 0L)) div {DAMP_DEN}")
                 ).cast("long").alias("u"),
            )
            .localCheckpoint(eager=False)
        )
    return pr.select(
        "entity", (F.col("u").cast("double") / F.lit(float(UNIT))).alias("pagerank")
    )


def cooccurrence_pmi(doc_entities: DataFrame, per_doc_cap: int | None = None,
                     min_count: int = 1) -> DataFrame:
    """Entity co-occurrence PMI over (doc_id, entity) observations:
    (e1, e2, n_co, pmi) for unordered pairs seen in the same document,
    pmi = ln(n_co * n_docs / (c_e1 * c_e2)) over document frequencies.

    The classic KG-enrichment signal (which entity pairs co-occur more
    than chance — candidate relations the extractor missed). The pair
    expansion is a self-join on doc_id, quadratic in entities-per-doc,
    so at web scale ``per_doc_cap`` drops documents mentioning more
    than cap entities (the same hot-key discipline as the n-gram
    df-cap in dedup.py) — entity lists per doc are short by contract,
    the cap guards the adversarial tail. All counts are BIGINT sums
    (order-independent); the one double, pmi, is a single ln() both
    engines evaluate identically on identical integer inputs, rounded
    to 6dp on both sides.
    """
    de = doc_entities.select("doc_id", "entity").distinct()
    if per_doc_cap is not None:
        sizes = de.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n"))
        de = (
            de.join(sizes.where(F.col("_n") > per_doc_cap), "doc_id", "left_anti")
        )
    de = de.localCheckpoint(eager=False)  # feeds n, c_x AND the self-join
    n = de.select(F.countDistinct("doc_id").alias("n_docs"))
    cx = de.groupBy("entity").agg(F.count(F.lit(1)).alias("c"))
    pairs = (
        de.alias("a")
        .join(de.alias("b"), "doc_id")
        .where(F.col("a.entity") < F.col("b.entity"))
        .groupBy(F.col("a.entity").alias("e1"), F.col("b.entity").alias("e2"))
        .agg(F.count(F.lit(1)).alias("n_co"))
        .where(F.col("n_co") >= min_count)
    )
    return (
        pairs
        .join(cx.select(F.col("entity").alias("e1"), F.col("c").alias("c1")), "e1")
        .join(cx.select(F.col("entity").alias("e2"), F.col("c").alias("c2")), "e2")
        .crossJoin(F.broadcast(n))
        .select(
            "e1", "e2", F.col("n_co").cast("long").alias("n_co"),
            F.round(
                F.log(
                    (F.col("n_co").cast("double") * F.col("n_docs"))
                    / (F.col("c1").cast("double") * F.col("c2"))
                ), 6,
            ).alias("pmi"),
        )
    )


def _und_adj(und: DataFrame) -> DataFrame:
    """Both-direction (v, nbr) adjacency view of an undirected distinct
    edge set (a < b)."""
    return und.select(F.col("a").alias("v"), F.col("b").alias("nbr")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("nbr"))
    )


def link_prediction(edges: DataFrame, hub_cap: int | None = None,
                    min_common: int = 1) -> DataFrame:
    """Common-neighbor link prediction over the undirected entity graph:
    (e1, e2, n_common, jaccard, ra) for non-adjacent pairs sharing at
    least ``min_common`` neighbors — the KG-completion candidate list
    (edges the extractor plausibly missed, ranked by neighborhood
    overlap).

    ra is the Resource Allocation index (Zhou, Lü & Zhang 2009),
    sum over common neighbors v of 1/deg(v), computed on the BIGINT
    unit grid as sum(UNIT div deg(v)) — exact integer arithmetic, so
    the score is aggregation-order independent and bit-identical
    between any Spark partitioning and the single-threaded oracle
    (Adamic-Adar's 1/ln(deg) weight would make the sum a
    double-association hazard cross-engine; RA is the same family with
    exact arithmetic). jaccard = n_common / (d1 + d2 - n_common), one
    double division rounded to 6dp on both sides.

    Scale shape: candidate pairs are enumerated at their common
    neighbor (one self-join of the adjacency list on v), so a
    degree-d hub generates d^2 wedges — ``hub_cap`` excludes common
    neighbors with degree > cap from enumeration (the per_doc_cap
    discipline from cooccurrence_pmi; a neighbor shared by everything
    carries ~zero RA weight anyway, 1/d -> 0). Existing edges drop via
    one anti-join; everything else is map-side-combinable BIGINT aggs.
    """
    und = (
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds adjacency AND the anti-join
    )
    adj = _und_adj(und)
    dg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("d")) \
        .localCheckpoint(eager=False)  # feeds wedge weights AND output degrees
    mid = adj.join(dg, "v")
    if hub_cap is not None:
        mid = mid.where(F.col("d") <= hub_cap)
    wedges = (
        mid.alias("x")
        .join(mid.alias("y"), "v")
        .where(F.col("x.nbr") < F.col("y.nbr"))
        .select(
            F.col("x.nbr").alias("e1"), F.col("y.nbr").alias("e2"),
            F.expr(f"{UNIT} div x.d").alias("w"),
        )
    )
    scores = (
        wedges.groupBy("e1", "e2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"),
             F.sum("w").cast("long").alias("ra_units"))
        .where(F.col("n_common") >= min_common)
    )
    cand = scores.join(
        und.select(F.col("a").alias("e1"), F.col("b").alias("e2")),
        ["e1", "e2"], "left_anti",
    )
    return (
        cand
        .join(dg.select(F.col("v").alias("e1"), F.col("d").alias("d1")), "e1")
        .join(dg.select(F.col("v").alias("e2"), F.col("d").alias("d2")), "e2")
        .select(
            "e1", "e2", "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("d1") + F.col("d2") - F.col("n_common")), 6
            ).alias("jaccard"),
            F.round(F.col("ra_units").cast("double") / F.lit(float(UNIT)), 6)
            .alias("ra"),
        )
    )


def kcore(edges: DataFrame, k: int = 2, max_rounds: int = 16) -> DataFrame:
    """k-core decomposition membership: iteratively peel nodes of
    undirected degree < k until fixpoint; return (entity, core_deg)
    for the surviving nodes with their within-core degree — the dense
    backbone of the KG (the subgraph entity-resolution and community
    passes should run on first at 100 TB, because peeling typically
    drops the long degree-1/2 tail that dominates row count).

    Each round is one degree agg + two anti-joins, eagerly
    localCheckpoint'ed so round r+1 plans against materialized edges
    instead of replaying rounds 1..r (the connected-components
    discipline). Convergence is a per-round isEmpty() on the peeled
    set — one bounded driver scalar per round, same contract as the
    CC loop's convergence probe. Raises if ``max_rounds`` is hit
    before fixpoint, so a truncated decomposition can never be
    silently reported as the k-core (the oracle unrolls a fixed round
    count; extra rounds past fixpoint are no-ops on both sides).
    """
    # size-adaptive (round 6): collected peeling under the driver cap;
    # the distributed round loop below stays the at-scale path.
    rows = driver_rows(edges.select("src", "dst"))
    if rows is not None:
        import pyspark.sql.types as T

        und = {(min(a, b), max(a, b)) for a, b in rows}
        for _ in range(max_rounds):
            deg: dict = {}
            for a, b in und:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            bad = {v for v, d in deg.items() if d < k}
            if not bad:
                node_t = edges.schema["src"].dataType
                schema = T.StructType([
                    T.StructField("entity", node_t, False),
                    T.StructField("core_deg", T.LongType(), False),
                ])
                return local_frame(edges.sparkSession, sorted(deg.items()),
                                   schema)
            und = {(a, b) for a, b in und if a not in bad and b not in bad}
        raise RuntimeError(
            f"kcore(k={k}) did not converge in {max_rounds} rounds")
    surv = (
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        deg = _und_adj(surv).groupBy("v").agg(F.count(F.lit(1)).alias("d"))
        bad = deg.where(F.col("d") < k).select("v").localCheckpoint()
        if bad.isEmpty():
            return (
                _und_adj(surv).groupBy(F.col("v").alias("entity"))
                .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
            )
        surv = (
            surv.join(bad.withColumnRenamed("v", "a"), "a", "left_anti")
            .join(bad.withColumnRenamed("v", "b"), "b", "left_anti")
            .select("a", "b")
            .localCheckpoint()
        )
    raise RuntimeError(f"kcore(k={k}) did not converge in {max_rounds} rounds")


def merge_triples(existing: DataFrame, incoming: DataFrame,
                  keys: tuple = ("subj_canon", "pred", "obj_canon")) -> DataFrame:
    """Incremental KG maintenance: fold a new batch of canonical
    triples into the existing graph table — the engine-neutral form of
    the MERGE INTO a partitioned Iceberg graph table that a continuous
    construction run executes per ingest batch (io/tables.py's
    parquet fallback gets identical semantics). Evidence counts ADD,
    scores MAX, and every output row is labeled ``new`` (first seen in
    this batch), ``updated`` (seen in both), or ``existing``
    (untouched by this batch) — the audit column an incremental run
    publishes with its lineage rows.

    One full-outer shuffle on the triple key; both aggregates are
    order-independent (BIGINT sum, max), so the merged table is
    bit-identical under any partitioning. At scale the existing side
    is bucketed by the same key, which turns this into a co-located
    join with no re-shuffle of the big side."""
    ks = list(keys)
    e = existing.select(
        *ks, F.col("n_docs").alias("e_docs"), F.col("max_score").alias("e_score"))
    i = incoming.select(
        *ks, F.col("n_docs").alias("i_docs"), F.col("max_score").alias("i_score"))
    return (
        e.join(i, ks, "full_outer")
        .select(
            *ks,
            (F.coalesce("e_docs", F.lit(0)) + F.coalesce("i_docs", F.lit(0)))
            .cast("long").alias("n_docs"),
            F.round(
                F.greatest(F.coalesce("e_score", "i_score"),
                           F.coalesce("i_score", "e_score")), 6
            ).alias("max_score"),
            F.when(F.col("e_docs").isNull(), F.lit("new"))
            .when(F.col("i_docs").isNull(), F.lit("existing"))
            .otherwise(F.lit("updated")).alias("status"),
        )
    )


def multihop(edges: DataFrame, max_hops: int = 3) -> DataFrame:
    """Bounded multi-hop reachability with exact path counts over the
    directed canonical edge set: (src, dst, min_hops, n_paths) for
    every pair connected by a directed path of length <= ``max_hops``
    — the KG-inference primitive behind "A relates to C via B"
    candidate facts. Rows with src = dst are directed cycles through
    the node (min_hops = cycle length).

    hop-k paths = hop-(k-1) paths joined to edges at the frontier
    node, path counts MULTIPLY along the join and SUM per (src, dst) —
    all BIGINT, so counts are plan-independent. Each expansion is one
    shuffle on the frontier key; the per-hop frames are lazily
    checkpointed so hop k+1 plans against hop k's result, not the
    whole chain (the CC/pagerank discipline). At web scale run this
    from a landmark/seed set (filter src first — the join then only
    expands the seeds' frontier) and salt hub frontier keys; the
    all-pairs form below is the test-scale shape."""
    edges = edges.localCheckpoint(eager=False)
    # size-adaptive (round 6): exact path counting on collected rows
    # (Python ints never overflow); distributed matrix powers below
    # stay the at-scale path.
    rows = driver_rows(edges.select("src", "dst"))
    if rows is not None:
        import pyspark.sql.types as T

        adj: dict = {}
        for a, b in rows:
            adj.setdefault(a, []).append(b)
        agg: dict = {}
        cur = {}
        for a, b in rows:
            cur[(a, b)] = cur.get((a, b), 0) + 1
        for (a, b), c in cur.items():
            agg[(a, b)] = [1, c]
        for k in range(2, max_hops + 1):
            nxt: dict = {}
            for (a, m), c in cur.items():
                for b in adj.get(m, ()):
                    nxt[(a, b)] = nxt.get((a, b), 0) + c
            cur = nxt
            for (a, b), c in cur.items():
                if (a, b) in agg:
                    agg[(a, b)][1] += c
                else:
                    agg[(a, b)] = [k, c]
        node_t = edges.schema["src"].dataType
        schema = T.StructType([
            T.StructField("src", node_t, False),
            T.StructField("dst", node_t, False),
            T.StructField("min_hops", T.IntegerType(), False),
            T.StructField("n_paths", T.LongType(), False),
        ])
        out_rows = [(a, b, mh, np) for (a, b), (mh, np) in agg.items()]
        return local_frame(edges.sparkSession, out_rows, schema)
    hop = edges.select(
        "src", "dst", F.lit(1).cast("long").alias("n_paths")
    ).localCheckpoint(eager=False)
    by_hops = [hop.withColumn("hops", F.lit(1))]
    for k in range(2, max_hops + 1):
        hop = (
            hop.withColumnRenamed("dst", "mid")
            .join(edges.withColumnRenamed("src", "mid"), "mid")
            .groupBy("src", "dst")
            .agg(F.sum("n_paths").cast("long").alias("n_paths"))
            .localCheckpoint(eager=False)
        )
        by_hops.append(hop.withColumn("hops", F.lit(k)))
    allk = by_hops[0]
    for h in by_hops[1:]:
        allk = allk.unionByName(h)
    return allk.groupBy("src", "dst").agg(
        F.min("hops").cast("int").alias("min_hops"),
        F.sum("n_paths").cast("long").alias("n_paths"),
    )


def graph_report(edges: DataFrame, k: int = 3, pr_iters: int = 3) -> DataFrame:
    """The composed per-entity graph-analytics report a KG build
    publishes next to its triples: (entity, out_deg, in_deg, degree,
    pagerank, und_degree, n_triangles, clustering, core_deg,
    in_kcore) — degrees, PageRank, triangle/clustering, and k-core
    membership in ONE plan over ONE shared edge set.

    Composition is the point: the canonical edge set is checkpointed
    once and every analytic consumes that materialization (the
    curate_corpus single-scan discipline applied to the graph lane) —
    a 100 TB run amortizes the expensive edges derivation across all
    four analytics instead of replaying it per query. Left joins keep
    isolated/out-of-core entities with explicit zero/flag defaults."""
    edges = edges.localCheckpoint(eager=False)  # shared by all four
    deg = entity_degrees(edges)
    pr = pagerank(edges, iters=pr_iters)
    tri = triangle_counts(edges)
    core = kcore(edges, k=k)
    return (
        deg.join(pr, "entity")
        .join(tri, "entity", "left")
        .join(core, "entity", "left")
        .select(
            "entity", "out_deg", "in_deg", "degree", "pagerank",
            F.coalesce("und_degree", F.lit(0)).cast("long").alias("und_degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.coalesce("clustering", F.lit(0.0)).alias("clustering"),
            F.coalesce("core_deg", F.lit(0)).cast("long").alias("core_deg"),
            F.col("core_deg").isNotNull().alias("in_kcore"),
        )
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-entity triangle participation + local clustering coefficient
    over the undirected view of the edge set: (entity, und_degree,
    n_triangles, clustering).

    Degree-ordered orientation (the scalable node-iterator variant):
    every undirected edge is oriented from its lower-(degree, name)
    endpoint to the higher one, wedges are enumerated at each edge's
    common LOW endpoint, and a wedge closes iff the oriented edge
    between its two high endpoints exists — each triangle found exactly
    once, and hub nodes never enumerate their own neighbor pairs (a
    degree-d hub's wedges are charged to its lower-degree neighbors),
    which is what keeps the self-join from exploding on skewed graphs
    at 100 TB. The (degree, name) tie-break makes the orientation — and
    therefore the plan-independent BIGINT counts — deterministic, so
    the DuckDB oracle reproduces them bit-for-bit. clustering =
    2*T / (d*(d-1)) on the undirected distinct-neighbor degree, one
    double division rounded to 6dp on both sides.
    """
    # size-adaptive (round 6): same degree-ordered orientation on
    # collected rows under the driver cap; distributed below at scale.
    rows = driver_rows(edges.select("src", "dst"))
    if rows is not None:
        import pyspark.sql.types as T

        und_s = {(min(a, b), max(a, b)) for a, b in rows}
        deg: dict = {}
        for a, b in und_s:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        fwd: dict = {}
        oset = set()
        for a, b in und_s:
            lo_first = (deg[a], a) < (deg[b], b)
            src, dst = (a, b) if lo_first else (b, a)
            fwd.setdefault(src, []).append(dst)
            oset.add((src, dst))
        tcnt: dict = {}
        for x, outs in fwd.items():
            for i in range(len(outs)):
                for jj in range(len(outs)):
                    if i == jj:
                        continue
                    y, z = outs[i], outs[jj]
                    if (y, z) in oset:
                        tcnt[x] = tcnt.get(x, 0) + 1
                        tcnt[y] = tcnt.get(y, 0) + 1
                        tcnt[z] = tcnt.get(z, 0) + 1
        node_t = edges.schema["src"].dataType
        schema = T.StructType([
            T.StructField("entity", node_t, False),
            T.StructField("und_degree", T.LongType(), False),
            T.StructField("n_triangles", T.LongType(), False),
            T.StructField("clustering", T.DoubleType(), False),
        ])
        out_rows = []
        for v, d in sorted(deg.items()):
            t = tcnt.get(v, 0)
            c = (_round6_spark((2.0 * t) / (d * (d - 1.0)))
                 if d >= 2 else 0.0)
            out_rows.append((v, d, t, c))
        return local_frame(edges.sparkSession, out_rows, schema)
    und = (
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds degrees AND orientation
    )
    dg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v").agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)  # feeds orientation AND the output join
    )
    j = (
        und.join(dg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(dg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    )
    low_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = j.select(
        F.when(low_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(low_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    ).localCheckpoint(eager=False)  # consumed three times below
    wedges = (
        o.alias("e1")
        .join(o.alias("e2"), F.col("e1.src") == F.col("e2.src"))
        .where(F.col("e1.dst") != F.col("e2.dst"))
        .select(F.col("e1.src").alias("x"),
                F.col("e1.dst").alias("y"),
                F.col("e2.dst").alias("z"))
    )
    tri = wedges.join(
        o.select(F.col("src").alias("y"), F.col("dst").alias("z")), ["y", "z"]
    )
    tcnt = (
        tri.select(F.col("x").alias("v"))
        .unionAll(tri.select(F.col("y").alias("v")))
        .unionAll(tri.select(F.col("z").alias("v")))
        .groupBy("v").agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        dg.join(tcnt, "v", "left")
        .select(
            F.col("v").alias("entity"),
            F.col("d").cast("long").alias("und_degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
            .alias("n_triangles"),
            F.when(
                F.col("d") >= 2,
                F.round(
                    (F.lit(2.0) * F.coalesce(F.col("n_triangles"), F.lit(0)))
                    / (F.col("d") * (F.col("d") - F.lit(1.0))), 6),
            ).otherwise(F.lit(0.0)).alias("clustering"),
        )
    )


def id_map_triples(triples: DataFrame,
                   subj: str = "subj_canon", pred: str = "pred",
                   obj: str = "obj_canon") -> DataFrame:
    """KG-embedding training prep (the TransE / PyTorch-BigGraph input
    contract): dense integer ids for entities and relations plus the
    id-mapped triple list. Ids are row_number()-1 over the SORTED
    distinct entity (resp. relation) sets — the same deterministic
    convention as rel2id (SURVEY §2.5 A1, `deepref` sorts label maps),
    so the mapping is reproducible across runs and engines.

    Scale shape: the entity map is one distinct + one global sort —
    a real but legitimate shuffle (the id space must be dense and
    total-ordered once); at 1e9+ entities this is the same sort every
    embedding trainer's importer performs. The two mapping joins hash
    on entity strings; the relation map is tiny and broadcasts.
    """
    from pyspark.sql import Window

    ents = (
        triples.select(F.col(subj).alias("entity"))
        .union(triples.select(F.col(obj).alias("entity")))
        .distinct()
        .withColumn(
            "ent_id",
            (F.row_number().over(Window.orderBy("entity")) - 1).cast("long"),
        )
    )
    rels = (
        triples.select(F.col(pred).alias("rel")).distinct()
        .withColumn(
            "rel_id",
            (F.row_number().over(Window.orderBy("rel")) - 1).cast("long"),
        )
    )
    return (
        triples.select(F.col(subj).alias("subj"), F.col(pred).alias("rel"),
                       F.col(obj).alias("obj"))
        .join(ents.select(F.col("entity").alias("subj"),
                          F.col("ent_id").alias("h_id")), "subj")
        .join(F.broadcast(rels), "rel")
        .join(ents.select(F.col("entity").alias("obj"),
                          F.col("ent_id").alias("t_id")), "obj")
        .select("h_id", "rel_id", "t_id", "subj", "rel", "obj")
    )


def snapshot_at(oplog: DataFrame, cutoff: int) -> DataFrame:
    """Point-in-time KG state from an assert/retract audit log — the
    time-travel read a temporal graph table serves (Iceberg snapshot
    semantics re-expressed over an explicit op log, for engines whose
    history is a log rather than manifests). A triple is LIVE at
    ``cutoff`` iff the latest op with ts <= cutoff on its key is an
    'assert'.

    One map-side-combinable groupBy on the triple key: max(struct(ts,
    op)) picks the latest op (ties broken by op, 'retract' > 'assert',
    i.e. retract wins a same-timestamp race — deterministic either
    way). No window function, no per-key sort — the same plan shape at
    any scale.
    """
    latest = (
        oplog.where(F.col("ts") <= F.lit(cutoff))
        .groupBy("subj", "pred", "obj")
        .agg(F.max(F.struct("ts", "op")).alias("last"))
    )
    return (
        latest.where(F.col("last.op") == "assert")
        .select("subj", "pred", "obj",
                F.col("last.ts").cast("long").alias("valid_from"))
    )


def export_ntriples(triples: DataFrame,
                    subj: str = "subj_canon", pred: str = "pred",
                    obj: str = "obj_canon") -> DataFrame:
    """Materialize the graph as W3C N-Triples lines, partitioned by
    predicate — the interchange export a downstream triple store bulk-
    loads. Entity/relation keys become IRIs under a stable urn scheme
    with RFC-3986 percent-encoding of the only non-IRI-safe character
    the canonicalizer can emit (space; subj/obj are stripped to
    [a-z0-9 ] upstream, predicates are fixed label strings with '-').

    Pure per-row string projection — no shuffle at all; the sink
    partitions output files by ``pred`` exactly like
    io/tables.write_graph_table partitions the parquet graph table.
    """
    def iri(ns: str, col: str) -> F.Column:
        return F.concat(F.lit(f"<urn:kg:{ns}:"),
                        F.expr(f"replace({col}, ' ', '%20')"), F.lit(">"))

    return triples.select(
        F.col(pred).alias("pred"),
        F.concat(
            iri("e", subj), F.lit(" "), iri("p", pred), F.lit(" "),
            iri("e", obj), F.lit(" ."),
        ).alias("line"),
    )


def sym_closure(edges: DataFrame) -> DataFrame:
    """Distinct symmetric closure of a directed edge set, lazily
    checkpointed — the shared `und` view label_prop / community_quality
    / wl_refine / degree_assortativity all start from. Callers that
    feed SEVERAL of those operators compute it ONCE and pass it via
    their ``und=`` parameter instead of paying the distinct shuffle per
    operator (kg_conductance does this)."""
    return (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )


def label_prop(edges: DataFrame, iters: int = 2,
               und: DataFrame | None = None) -> DataFrame:
    """Synchronous label-propagation communities over the undirected
    entity graph, ``iters`` fixed rounds: every node starts labeled
    with itself; each round it adopts the most frequent label among
    its neighbors (tie -> lexicographically LARGEST label, so the
    whole update is deterministic and engine-portable); isolated
    update targets keep their current label. Two rounds already merge
    the dense cores a KG curator eyeballs for duplicate-entity
    neighborhoods; connected_components (linking.py) remains the
    exact-partition operator.

    Per round: one grouped neighbor-label count (map-side combined),
    one per-node max-count reduction, one max-label pick among the
    tied — three combineable aggs on the same key, NO window function
    and no per-node sort. Each round's label table is
    localCheckpoint'ed (the linking.py iteration discipline — without
    it round k re-plans and re-runs rounds 1..k-1).
    """
    if und is None:
        und = sym_closure(edges)
    # size-adaptive (round 6): pure string/int arithmetic (neighbor
    # label counts, max-label tie-break), so the driver twin is exact
    # by construction — Python str comparison (code points) equals
    # Spark's binary UTF-8 ordering; the distributed loop below stays
    # the at-scale path.
    rows = driver_rows(und.select("src", "dst"))
    if rows is not None:
        import pyspark.sql.types as T

        nbrs: dict = {}
        for s, d in rows:
            nbrs.setdefault(s, []).append(d)
        lbl = {v: v for v in nbrs}
        for _ in range(iters):
            new_lbl: dict = {}
            for v, ns in nbrs.items():
                cnt: dict = {}
                for n in ns:
                    ln = lbl.get(n)
                    if ln is None:  # inner-join semantics: unlabeled
                        continue    # neighbors contribute nothing
                    cnt[ln] = cnt.get(ln, 0) + 1
                if cnt:
                    mc = max(cnt.values())
                    new_lbl[v] = max(l for l, c in cnt.items() if c == mc)
            lbl = new_lbl
        node_t = und.schema["src"].dataType
        schema = T.StructType([
            T.StructField("entity", node_t, False),
            T.StructField("community", node_t, False),
        ])
        return local_frame(und.sparkSession, sorted(lbl.items()), schema)
    labels = (
        und.select(F.col("src").alias("v")).distinct()
        .withColumn("lbl", F.col("v"))
        .localCheckpoint(eager=False)
    )
    for _ in range(iters):
        nbr = (
            und.join(labels.withColumnRenamed("v", "dst"), "dst")
            .select(F.col("src").alias("v"), "lbl")
        )
        cnt = nbr.groupBy("v", "lbl").agg(F.count(F.lit(1)).cast("long").alias("c"))
        mx = cnt.groupBy("v").agg(F.max("c").alias("mc"))
        labels = (
            cnt.join(mx, "v")
            .where(F.col("c") == F.col("mc"))
            .groupBy("v").agg(F.max("lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
    return labels.select(F.col("v").alias("entity"), F.col("lbl").alias("community"))


def hits(edges: DataFrame, iters: int = 2) -> DataFrame:
    """Fixed-iteration HITS hubs/authorities on the integer unit grid
    (Kleinberg 1999): per round, authority(v) = sum of hub over
    in-neighbors, hub(v) = sum of authority over out-neighbors, each
    L1-normalized back onto the grid. Normalization is the pure-BIGINT
    two-stage division ``raw div greatest(1, total div UNIT)`` — never
    ``raw * UNIT div total``, whose intermediate product overflows
    BIGINT once raw exceeds ~9.2 (the grid headroom); the two-stage
    form carries a bounded relative bias <= UNIT/total (~0.3% on the
    test graph), identical in both engines because the ORACLE runs the
    same formula — determinism and cross-engine parity are the
    contract, not the last float digit of the classic L2 variant.

    Per round: two joins + two map-side-combinable sums + two scalar
    totals (1-row broadcast each); score tables lazily checkpointed
    per round (the pagerank/linking discipline).
    """
    edges = edges.localCheckpoint(eager=False)
    # size-adaptive (round 6): exact-integer driver twin of the grid
    # iteration (two-stage BIGINT normalization included); the
    # distributed loop below stays the at-scale path.
    rows = driver_rows(edges.select("src", "dst"))
    if rows is not None:
        import pyspark.sql.types as T

        nodes_s: set = set()
        for a, b in rows:
            nodes_s.add(a)
            nodes_s.add(b)
        auth_m = {n: UNIT for n in nodes_s}
        hub_m = {n: UNIT for n in nodes_s}

        def _norm_m(raw: dict) -> dict:
            t = sum(raw.values())
            d = max(1, t // UNIT)
            return {n: v // d for n, v in raw.items()}

        for _ in range(iters):
            a_raw = {n: 0 for n in nodes_s}
            for a, b in rows:
                a_raw[b] += hub_m[a]
            auth_m = _norm_m(a_raw)
            h_raw = {n: 0 for n in nodes_s}
            for a, b in rows:
                h_raw[a] += auth_m[b]
            hub_m = _norm_m(h_raw)
        node_t = edges.schema["src"].dataType
        schema = T.StructType([
            T.StructField("entity", node_t, False),
            T.StructField("authority", T.DoubleType(), False),
            T.StructField("hub", T.DoubleType(), False),
        ])
        out_rows = [(n, _round6_spark(auth_m[n] / float(UNIT)),
                     _round6_spark(hub_m[n] / float(UNIT)))
                    for n in nodes_s]
        return local_frame(edges.sparkSession, out_rows, schema)
    nodes = (
        edges.select(F.col("src").alias("entity"))
        .union(edges.select(F.col("dst").alias("entity")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _norm(raw: DataFrame, col: str) -> DataFrame:
        total = raw.agg(F.sum(col).cast("long").alias("_t"))
        return (
            raw.crossJoin(F.broadcast(total))
            .select(
                "entity",
                F.expr(f"{col} div greatest(1L, _t div {UNIT})")
                .cast("long").alias(col),
            )
            .localCheckpoint(eager=False)
        )

    auth = nodes.withColumn("a", F.lit(UNIT).cast("long"))
    hub = nodes.withColumn("h", F.lit(UNIT).cast("long"))
    for _ in range(iters):
        a_raw = (
            edges.join(hub.withColumnRenamed("entity", "src"), "src")
            .groupBy(F.col("dst").alias("entity"))
            .agg(F.sum("h").cast("long").alias("a"))
        )
        auth = _norm(
            nodes.join(a_raw, "entity", "left")
            .select("entity", F.coalesce("a", F.lit(0)).cast("long").alias("a")),
            "a")
        h_raw = (
            edges.join(auth.withColumnRenamed("entity", "dst"), "dst")
            .groupBy(F.col("src").alias("entity"))
            .agg(F.sum("a").cast("long").alias("h"))
        )
        hub = _norm(
            nodes.join(h_raw, "entity", "left")
            .select("entity", F.coalesce("h", F.lit(0)).cast("long").alias("h")),
            "h")
    return (
        auth.join(hub, "entity")
        .select(
            "entity",
            F.round(F.col("a").cast("double") / F.lit(float(UNIT)), 6).alias("authority"),
            F.round(F.col("h").cast("double") / F.lit(float(UNIT)), 6).alias("hub"),
        )
    )


def transe_energy(triples: DataFrame,
                  subj: str = "subj_canon", pred: str = "pred",
                  obj: str = "obj_canon",
                  dims: int = 8, m: int = 1000) -> DataFrame:
    """TransE plausibility scoring (Bordes et al. 2013) over the
    materialized triples: energy(h, r, t) = ||h + r - t||_1, lower =
    more plausible. This is the scoring half of the KG-embedding lane
    (id_map_triples prepares trainer input; negative_sample corrupts;
    this ranks) — with embeddings standing in as deterministic hash-grid
    vectors (dimension j of a role = a 4-hex slice of its md5, mod
    ``m``), the same swap-in convention as the model tier: a real
    trained embedding table would arrive as a broadcast join keyed by
    ent_id/rel_id, and ONLY the vector source changes.

    Scale shape: a pure per-row projection — three md5s per row staged
    as columns, the energy an unrolled integer expression over their
    slices. No joins, no shuffle, whole-stage codegen end to end; at
    10^12 triples this is scan-bound.
    """
    from deepref_spark.portable import transe_energy_expr

    staged = triples.select(
        F.col(subj).alias("subj"), F.col(pred).alias("pred"),
        F.col(obj).alias("obj"),
        F.expr("md5(concat('e|', " + subj + "))").alias("hh"),
        F.expr("md5(concat('r|', " + pred + "))").alias("rh"),
        F.expr("md5(concat('e|', " + obj + "))").alias("th"),
    )
    return staged.select(
        "subj", "pred", "obj",
        F.expr(transe_energy_expr("hh", "rh", "th", dims, m)).alias("energy"),
    )


def _driver_community_tally(und: DataFrame, labels: DataFrame):
    """Driver twin of the label-tag joins community_quality and
    modularity_profile share: (n_nodes, vol, internal, tv) — per-
    community dicts plus the und row count — or None (take the
    distributed path) when either frame fails ``driver_rows``, an
    entity carries two labels, or no und row has both endpoints
    labelled (the distributed aggregates are then empty or NULL)."""
    rows = driver_rows(und.select("src", "dst"))
    lab_rows = driver_rows(labels.select("entity", "community")) if rows else None
    if lab_rows is None:
        return None
    lab = dict(lab_rows)
    if len(lab) != len(lab_rows):
        return None
    n_nodes: dict = {}
    for _, c in lab_rows:
        n_nodes[c] = n_nodes.get(c, 0) + 1
    vol: dict = {}
    internal: dict = {}
    for s, d in rows:
        if s not in lab or d not in lab:  # inner-join semantics
            continue
        cs = lab[s]
        vol[cs] = vol.get(cs, 0) + 1
        if cs == lab[d]:
            internal[cs] = internal.get(cs, 0) + 1
    if not vol:
        return None
    return n_nodes, vol, internal, len(rows)


def community_quality(edges: DataFrame, labels: DataFrame,
                      und: DataFrame | None = None) -> DataFrame:
    """Per-community quality profile (conductance) for a community
    assignment ``labels`` (entity, community) over the directed edge
    set — the acceptance gate a KG curator runs on label_prop output
    before merging duplicate-entity neighborhoods.

    Over the symmetric closure ``und`` (each undirected edge counted
    once per direction):
      vol(c)       = directed rows whose src is in c  (degree sum)
      internal(c)  = directed rows with BOTH endpoints in c
      cut(c)       = vol(c) - internal(c)
      conductance  = cut / min(vol, total_vol - vol)   (ppm BIGINT)

    Scale shape: two hash joins tagging each und row with src/dst
    communities (labels is entity-sized, same key distribution as the
    edge list), then map-side-combinable grouped sums; the total-volume
    row broadcasts. conductance_ppm is floor-divided on BIGINTs — no
    double appears until nothing is left to aggregate.
    """
    if und is None:
        und = sym_closure(edges)  # feeds the tag join and total_vol once
    # size-adaptive (round 6): every output column is BIGINT
    # floor-division arithmetic on row counts, so the driver twin is
    # exact (gate in _driver_community_tally).
    tally = _driver_community_tally(und, labels)
    if tally is not None:
        import pyspark.sql.types as T

        n_nodes_m, vol, internal, tv = tally
        out_rows = []
        for c in sorted(vol):
            v, i = vol[c], internal.get(c, 0)
            out_rows.append((
                c, n_nodes_m[c], v, i // 2, v - i,
                (v - i) * 1_000_000 // max(1, min(v, tv - v)),
            ))
        node_t = labels.schema["community"].dataType
        schema = T.StructType([
            T.StructField("community", node_t, False),
            T.StructField("n_nodes", T.LongType(), False),
            T.StructField("vol", T.LongType(), False),
            T.StructField("internal_edges", T.LongType(), False),
            T.StructField("cut", T.LongType(), False),
            T.StructField("conductance_ppm", T.LongType(), False),
        ])
        return local_frame(und.sparkSession, out_rows, schema)
    lab_s = labels.select(F.col("entity").alias("src"), F.col("community").alias("c_src"))
    lab_d = labels.select(F.col("entity").alias("dst"), F.col("community").alias("c_dst"))
    tagged = und.join(lab_s, "src").join(lab_d, "dst")
    per_c = tagged.groupBy(F.col("c_src").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("vol"),
        F.sum((F.col("c_src") == F.col("c_dst")).cast("long")).cast("long").alias("internal"),
    )
    n_nodes = labels.groupBy("community").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"))
    total = und.agg(F.count(F.lit(1)).cast("long").alias("_tv"))  # one row
    return (
        per_c.join(n_nodes, "community")
        .crossJoin(F.broadcast(total))
        .select(
            "community", "n_nodes", "vol",
            F.expr("internal div 2").cast("long").alias("internal_edges"),
            (F.col("vol") - F.col("internal")).alias("cut"),
            F.expr("(vol - internal) * 1000000 div "
                   "greatest(1L, least(vol, _tv - vol))")
            .cast("long").alias("conductance_ppm"),
        )
    )


def personalized_pagerank(edges: DataFrame, n_seeds: int = 3,
                          iters: int = 3) -> DataFrame:
    """Personalized PageRank (fixed rounds, integer unit grid): the
    restart mass returns to a SEED SET instead of spreading uniformly —
    the entity-relatedness score a KG serves for "entities related to
    X" queries (Page et al.'s personalization vector; the standard
    KG-proximity ranker). Seeds are the ``n_seeds`` highest-degree
    entities (ties by entity ASC) — the hubs a curator actually asks
    about — picked via one bounded TakeOrdered (n_seeds rows on the
    driver, the label-set collect pattern).

    Per round: u'(n) = (seed ? (1-d)*UNIT : 0) + d * inflow(n), same
    floor-division contribution discipline as ``pagerank``; the seed
    flag rides the node table (one broadcast-sized join at build time,
    then checkpointed). Non-seed nodes with no inflow decay to exactly
    0 on the grid — mass concentrates around the seeds, which is the
    point.
    """
    edges = edges.localCheckpoint(eager=False)
    # size-adaptive (round 6): same exact-integer driver twin as
    # pagerank, seeds included (top-degree selection is deterministic)
    rows = driver_rows(edges.select("src", "dst"))
    if rows is not None:
        import pyspark.sql.types as T

        outd: dict = {}
        deg_m: dict = {}
        nodes_s: set = set()
        for a, b in rows:
            outd[a] = outd.get(a, 0) + 1
            deg_m[a] = deg_m.get(a, 0) + 1
            deg_m[b] = deg_m.get(b, 0) + 1
            nodes_s.add(a)
            nodes_s.add(b)
        seeds = {n for n, _ in sorted(deg_m.items(),
                                      key=lambda kv: (-kv[1], kv[0]))[:n_seeds]}
        base_i = UNIT - (DAMP_NUM * UNIT) // DAMP_DEN
        u = {n: (UNIT if n in seeds else 0) for n in nodes_s}
        for _ in range(iters):
            inflow: dict = {}
            for a, b in rows:
                inflow[b] = inflow.get(b, 0) + u[a] // outd[a]
            u = {n: ((UNIT - (DAMP_NUM * UNIT) // DAMP_DEN if n in seeds
                      else 0)
                     + (DAMP_NUM * inflow.get(n, 0)) // DAMP_DEN)
                 for n in nodes_s}
        del base_i
        node_t = edges.schema["src"].dataType
        schema = T.StructType([
            T.StructField("entity", node_t, False),
            T.StructField("is_seed", T.IntegerType(), False),
            T.StructField("ppr", T.DoubleType(), False),
        ])
        out_rows = [(n, 1 if n in seeds else 0, u[n] / float(UNIT))
                    for n in nodes_s if u[n] > 0]
        return local_frame(edges.sparkSession, out_rows, schema)
    nodes = (
        edges.select(F.col("src").alias("entity"))
        .union(edges.select(F.col("dst").alias("entity")))
        .distinct()
    )
    deg = (
        edges.select(F.col("src").alias("entity"))
        .union(edges.select(F.col("dst").alias("entity")))
        .groupBy("entity").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    seed_rows = deg.orderBy(F.col("degree").desc(), F.col("entity").asc()) \
        .limit(n_seeds).select("entity").collect()  # bounded: n_seeds rows
    seed_names = sorted(r["entity"] for r in seed_rows)
    flagged = nodes.withColumn(
        "is_seed", F.col("entity").isin(seed_names).cast("int")
    ).localCheckpoint(eager=False)

    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    base = UNIT - (DAMP_NUM * UNIT) // DAMP_DEN  # (1-d)*UNIT, exact
    pr = flagged.withColumn(
        "u", (F.col("is_seed") * F.lit(UNIT)).cast("long"))
    for _ in range(iters):
        contrib = (
            edges
            .join(pr.select(F.col("entity").alias("src"), "u"), "src")
            .join(out_deg, "src")
            .select(F.col("dst").alias("entity"),
                    F.expr("u div out_deg").alias("c"))
        )
        inflow = contrib.groupBy("entity").agg(F.sum("c").alias("inflow"))
        pr = (
            flagged.join(inflow, "entity", "left")
            .select(
                "entity", "is_seed",
                (F.col("is_seed") * F.lit(base)
                 + F.expr(f"({DAMP_NUM} * coalesce(inflow, 0L)) div {DAMP_DEN}")
                 ).cast("long").alias("u"),
            )
            .localCheckpoint(eager=False)
        )
    return pr.where(F.col("u") > 0).select(
        "entity", F.col("is_seed").cast("int").alias("is_seed"),
        (F.col("u").cast("double") / F.lit(float(UNIT))).alias("ppr"),
    )


def path_query_2hop(triples: DataFrame,
                    subj: str = "subj_canon", pred: str = "pred",
                    obj: str = "obj_canon") -> DataFrame:
    """Bound-predicate 2-hop path query — the SPARQL basic-graph-pattern
    ``?a p1 ?x . ?x p2 ?b`` served over the materialized triples, with
    (p1, p2) bound to the two most frequent predicates (count DESC,
    pred ASC — deterministic). This is the read side of the engine: a
    KG is built to be queried, and the 2-hop BGP is the canonical
    pattern a triple store optimizes for.

    Scale shape: the predicate ranking is one tiny grouped count +
    bounded TakeOrdered (2 rows); each bound predicate becomes a
    LITERAL equality filter pushed into the triple scan (partition
    pruning on a pred-partitioned graph table — the export_ntriples
    layout — turns each side into a single-partition read). The hop is
    one equi-join mid-entity hash join; a != b drops trivial loops.
    """
    spo = triples.select(F.col(subj).alias("s"), F.col(pred).alias("p"),
                         F.col(obj).alias("o")).localCheckpoint(eager=False)
    top = spo.groupBy("p").agg(F.count(F.lit(1)).alias("n")) \
        .orderBy(F.col("n").desc(), F.col("p").asc()).limit(2).collect()
    if len(top) < 2:
        raise ValueError("path_query_2hop needs >= 2 distinct predicates")
    p1, p2 = top[0]["p"], top[1]["p"]
    hop1 = spo.where(F.col("p") == p1).select(
        F.col("s").alias("a"), F.col("o").alias("x"))
    hop2 = spo.where(F.col("p") == p2).select(
        F.col("s").alias("x"), F.col("o").alias("b"))
    return (
        hop1.join(hop2, "x")
        .where(F.col("a") != F.col("b"))
        .select("a", F.lit(p1).alias("p1"), "x", F.lit(p2).alias("p2"), "b")
        .distinct()
    )


def wl_refine(edges: DataFrame, iters: int = 2) -> DataFrame:
    """1-dimensional Weisfeiler-Leman color refinement (structural-role
    discovery): nodes start colored by degree; each round a node's new
    color hashes (previous color, aggregate of neighbor colors).
    Entities sharing a final color occupy isomorphic local
    neighborhoods up to ``iters`` hops — the structural complement of
    type_induction's predicate signatures (same grouped output shape:
    color classes with size + exemplar).

    The neighbor multiset is combined COMMUTATIVELY — per neighbor a
    bounded integer hash of its color, then (sum, count) — instead of
    the textbook sorted-multiset concat, so the round is one join + one
    map-side-combinable grouped sum with NO collect_list: a 1e6-degree
    hub costs one combineable aggregate row, not a 1e6-element array on
    one executor. (Sum+count of per-color hashes distinguishes
    multisets up to hash collisions in a 2^~37 space per round —
    the standard WL-hashing trade, cf. Shervashidze et al. 2011's
    hashed label compression.) Per-round color tables are lazily
    checkpointed (the pagerank/linking discipline).
    """
    from deepref_spark.portable import md5_mod

    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # size-adaptive (round 6): the color chain is md5 hex strings +
    # the portable ascii-combine hash + integer (sum, count) — all
    # reproduced exactly by hashlib/md5_mod_py (the anf_hyperball
    # precedent); the distributed loop below stays the at-scale path.
    rows = driver_rows(und.select("src", "dst"))
    if rows is not None:
        import hashlib

        import pyspark.sql.types as T

        from deepref_spark.refsem import md5_mod_py

        deg: dict = {}
        for s, _d in rows:
            deg[s] = deg.get(s, 0) + 1
        colors = {
            v: hashlib.md5(("d" + str(d)).encode("utf-8")).hexdigest()
            for v, d in deg.items()
        }
        for _ in range(iters):
            s_acc: dict = {}
            c_acc: dict = {}
            for s, d in rows:
                cd = colors.get(d)
                if cd is None:  # inner-join semantics
                    continue
                h = md5_mod_py(cd, 1_000_000)
                s_acc[s] = s_acc.get(s, 0) + h
                c_acc[s] = c_acc.get(s, 0) + 1
            colors = {
                v: hashlib.md5(
                    (c + "|" + str(s_acc.get(v, 0)) + "|"
                     + str(c_acc.get(v, 0))).encode("utf-8")).hexdigest()
                for v, c in colors.items()
            }
        agg: dict = {}
        for v, c in colors.items():
            n, ex = agg.get(c, (0, None))
            agg[c] = (n + 1, v if ex is None or v < ex else ex)
        node_t = und.schema["src"].dataType
        schema = T.StructType([
            T.StructField("wl_color", T.StringType(), False),
            T.StructField("n_entities", T.LongType(), False),
            T.StructField("exemplar", node_t, False),
        ])
        return local_frame(
            und.sparkSession,
            [(c, n, ex) for c, (n, ex) in sorted(agg.items())], schema)
    colors = (
        und.groupBy(F.col("src").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .select("v", F.expr("md5(concat('d', CAST(d AS STRING)))").alias("color"))
        .localCheckpoint(eager=False)
    )
    for _ in range(iters):
        nbr = (
            und.join(colors.withColumnRenamed("v", "dst"), "dst")
            .select(F.col("src").alias("v"),
                    F.expr("CAST(" + md5_mod("color", 1_000_000) + " AS BIGINT)")
                    .alias("h"))
        )
        agg = nbr.groupBy("v").agg(
            F.sum("h").cast("long").alias("s"),
            F.count(F.lit(1)).cast("long").alias("c"))
        colors = (
            colors.join(agg, "v", "left")
            .select(
                "v",
                F.expr("md5(concat(color, '|', CAST(coalesce(s, 0) AS STRING), "
                       "'|', CAST(coalesce(c, 0) AS STRING)))").alias("color"),
            )
            .localCheckpoint(eager=False)
        )
    return colors.groupBy(F.col("color").alias("wl_color")).agg(
        F.count(F.lit(1)).cast("long").alias("n_entities"),
        F.min("v").alias("exemplar"),
    )


def validity_intervals(oplog: DataFrame) -> DataFrame:
    """Bitemporal validity intervals from an assert/retract op log —
    the interval complement of ``snapshot_at``'s point read: every
    'assert' opens an interval [valid_from, valid_to) closed by the
    next 'retract' on the same key (NULL valid_to = still live). A
    same-timestamp assert+retract pair orders (ts, op) so the retract
    follows and closes an empty interval — consistent with
    snapshot_at's retract-wins-tie rule.

    The window runs PER TRIPLE KEY over that key's op sequence —
    bounded by the key's version count (short by contract: a triple's
    edit history, not the corpus), so the sort inside each window is
    tiny regardless of log size; the partition hash is the same
    (s, p, o) shuffle every other triple groupBy uses.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("subj", "pred", "obj")
        .orderBy("ts", "op")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    closed = oplog.withColumn(
        "valid_to",
        F.min(F.when(F.col("op") == "retract", F.col("ts"))).over(w),
    )
    return (
        closed.where(F.col("op") == "assert")
        .select("subj", "pred", "obj",
                F.col("ts").cast("long").alias("valid_from"),
                F.col("valid_to").cast("long").alias("valid_to"))
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the undirected edge rows — one
    number saying whether hubs attach to hubs (>0) or to leaves (<0),
    the standard structural-health read next to the degree histogram.

    All five moment sums ride DECIMAL(38,0) (exact integer arithmetic
    in both engines — BIGINT would overflow silently at deg~1e6 hubs
    since sxy sums deg^2 terms); the coefficient is a constant number
    of double ops on the exact sums, rounded 6dp. One degree groupBy +
    two label joins + one global agg.
    """
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = und.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("d"))
    xy = (
        und.join(deg.select(F.col("v").alias("src"), F.col("d").alias("x")), "src")
        .join(deg.select(F.col("v").alias("dst"), F.col("d").alias("y")), "dst")
    )
    dec = "decimal(38,0)"
    sums = xy.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        # cast BEFORE multiplying: a LONG product of two ~1e6 hub
        # degrees is fine, but the discipline must survive 1e9 degrees
        F.sum(F.col("x").cast(dec) * F.col("y").cast(dec)).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return sums.select(
        F.col("n").cast("long").alias("n_edge_rows"),
        F.round(
            F.when((vx > 0) & (vy > 0), num / (F.sqrt(vx) * F.sqrt(vy)))
            .otherwise(F.lit(0.0)), 6,
        ).alias("assortativity"),
    )


def ktruss(edges: DataFrame, k: int = 3, max_rounds: int = 8) -> DataFrame:
    """k-truss decomposition membership: iteratively drop undirected
    edges whose triangle support (count of common neighbors) is below
    k-2 until fixpoint; return the surviving edges as (e1, e2, support)
    with e1 < e2 and the support measured in the FINAL truss — the
    cohesive relation backbone a 100 TB KG run feeds to downstream
    community/ER passes (a strictly stronger filter than k-core:
    every edge, not just every node, must sit in k-2 triangles).

    Per-round support reuses triangle_counts' degree-ordered
    orientation: wedges are enumerated at each edge's low-(degree,name)
    endpoint, so hub nodes never expand their own neighbor pairs and
    the wedge self-join stays bounded by sum-of-min-degree — the only
    shape that survives skewed entity graphs at scale. Each round's
    survivor set is eagerly localCheckpoint'ed (the connected-components
    discipline) so round r+1 plans against materialized edges; the
    convergence probe is one bounded isEmpty per round. Raises if
    ``max_rounds`` is hit before fixpoint so a truncated decomposition
    is never silently reported (the oracle unrolls a fixed round count;
    rounds past fixpoint are no-ops on both sides).
    """
    # size-adaptive (round 6): triangle supports are pure set
    # intersections on the collected edge list — exact integers, no
    # floats anywhere; same fixpoint/raise semantics as the
    # distributed peel below (which stays the at-scale path).
    rows = driver_rows(edges.select("src", "dst"))
    if rows is not None:
        import pyspark.sql.types as T

        es = {(a, b) if a < b else (b, a) for a, b in rows if a != b}
        adj: dict = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        for _ in range(max_rounds):
            sup = {(a, b): len(adj[a] & adj[b]) for a, b in es}
            dropped = [e for e, s in sup.items() if s < k - 2]
            if not dropped:
                node_t = edges.schema["src"].dataType
                schema = T.StructType([
                    T.StructField("e1", node_t, False),
                    T.StructField("e2", node_t, False),
                    T.StructField("support", T.LongType(), False),
                ])
                return local_frame(
                    edges.sparkSession,
                    [(a, b, s) for (a, b), s in sorted(sup.items())], schema)
            for a, b in dropped:
                es.discard((a, b))
                adj[a].discard(b)
                adj[b].discard(a)
        raise RuntimeError(
            f"ktruss(k={k}) did not converge in {max_rounds} rounds")
    surv = (
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        sup = _edge_support(surv).localCheckpoint()
        dropped = sup.where(F.col("support") < k - 2)
        if dropped.isEmpty():
            return sup.select(
                F.col("a").alias("e1"), F.col("b").alias("e2"),
                F.col("support").cast("long").alias("support"),
            )
        surv = (
            sup.where(F.col("support") >= k - 2)
            .select("a", "b")
            .localCheckpoint()
        )
    raise RuntimeError(f"ktruss(k={k}) did not converge in {max_rounds} rounds")


def _edge_support(und: DataFrame) -> DataFrame:
    """Per-edge triangle support |N(a) ∩ N(b)| over an undirected
    distinct edge set (a < b), via degree-ordered oriented wedges so
    each triangle is found once and charged to all three of its edges.
    Returns (a, b, support) for EVERY input edge (support 0 kept)."""
    dg = (
        _und_adj(und).groupBy("v").agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)
    )
    j = (
        und.join(dg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(dg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    )
    low_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = j.select(
        F.when(low_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(low_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    ).localCheckpoint(eager=False)  # wedge sides + closure probe
    tri = (
        o.alias("e1")
        .join(o.alias("e2"), F.col("e1.src") == F.col("e2.src"))
        .where(F.col("e1.dst") < F.col("e2.dst"))
        .select(F.col("e1.src").alias("x"),
                F.col("e1.dst").alias("y"),
                F.col("e2.dst").alias("z"))
        .join(o.select(F.col("src").alias("y"), F.col("dst").alias("z"))
              .unionAll(o.select(F.col("dst").alias("y"), F.col("src").alias("z"))),
              ["y", "z"])
    )
    # each triangle (x,y,z) supports its three undirected edges
    tri_edges = (
        tri.select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
        .unionAll(tri.select(F.least("x", "z").alias("a"),
                             F.greatest("x", "z").alias("b")))
        .unionAll(tri.select(F.least("y", "z").alias("a"),
                             F.greatest("y", "z").alias("b")))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
    )
    return (
        und.join(tri_edges, ["a", "b"], "left")
        .select("a", "b",
                F.coalesce(F.col("support"), F.lit(0)).cast("long")
                .alias("support"))
    )



def _und_maps(rows):
    """(adjacency dict, sorted seed ordering key fn) over the collected
    directed rows, mirroring the distributed least/greatest-distinct
    symmetrization the BFS family uses."""
    import hashlib

    und = set()
    for a, b in rows:
        if a != b:
            und.add((min(a, b), max(a, b)))
    adj: dict = {}
    for a, b in und:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)

    def seed_key(v):
        return (hashlib.md5(str(v).encode()).hexdigest(), v)

    return adj, seed_key


def bfs_distances(edges: DataFrame, n_seeds: int = 3,
                  max_hops: int = 4) -> DataFrame:
    """Multi-source BFS over the undirected view: hop distance from
    every reachable entity to its NEAREST seed, seeds being the
    ``n_seeds`` (md5(entity), entity)-smallest nodes — the
    deterministic stand-in for a curated seed list. Returns
    (entity, dist) for nodes within ``max_hops``; unreached nodes are
    absent (distance-to-seed is the standard KG-neighborhood scoping
    primitive: restrict an expensive pass to the k-hop ball around
    entities of interest before running it corpus-wide).

    Frontier-style iteration: each hop expands ONLY the newly-reached
    frontier through the symmetric adjacency and anti-joins the known
    set — per-round work is proportional to the frontier's edge
    boundary, not the reached set (the relax-everything variant
    re-expands the whole ball every round and is quadratic on small-
    diameter graphs). Frontier + known are eagerly localCheckpoint'ed
    per round; one bounded isEmpty probe per round for early exit.
    """
    # size-adaptive (round 6): multi-source BFS on collected rows under
    # the driver cap; the frontier loop below stays the at-scale path.
    rows = driver_rows(edges.select("src", "dst"))
    if rows is not None:
        import pyspark.sql.types as T

        adj, seed_key = _und_maps(rows)
        seeds_l = sorted(adj, key=seed_key)[:n_seeds]
        dist = {v: 0 for v in seeds_l}
        frontier = list(seeds_l)
        for hop in range(1, max_hops + 1):
            nxt = []
            for v in frontier:
                for w in adj.get(v, ()):
                    if w not in dist:
                        dist[w] = hop
                        nxt.append(w)
            if not nxt:
                break
            frontier = nxt
        node_t = edges.schema["src"].dataType
        schema = T.StructType([
            T.StructField("entity", node_t, False),
            T.StructField("dist", T.IntegerType(), False),
        ])
        return local_frame(edges.sparkSession, sorted(dist.items()), schema)
    sym = _und_adj(
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    ).localCheckpoint()
    nodes = sym.select(F.col("v").alias("entity")).distinct()
    seeds = (
        nodes.orderBy(F.md5(F.col("entity")), F.col("entity"))
        .limit(n_seeds)
    )
    known = seeds.select("entity", F.lit(0).alias("dist")).localCheckpoint()
    frontier = known
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier["entity"] == sym["v"])
            .select(F.col("nbr").alias("entity"))
            .distinct()
            .join(known.select("entity"), "entity", "left_anti")
            .select("entity", F.lit(hop).alias("dist"))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        known = known.unionAll(nxt).localCheckpoint()
        frontier = nxt
    return known.select("entity", F.col("dist").cast("int").alias("dist"))


# walk-corpus defaults: enough to exercise mid-walk dead-end handling
# at every SF while keeping the output a small multiple of node count
WALKS_PER_NODE = 2
WALK_LEN = 3


def random_walks(edges: DataFrame, walks_per_node: int = WALKS_PER_NODE,
                 walk_len: int = WALK_LEN) -> DataFrame:
    """DeepWalk-style walk corpus over the DIRECTED edge set: from
    every node, ``walks_per_node`` deterministic walks of up to
    ``walk_len`` steps; returns (walk_id, step, entity) rows — the
    training-sequence table a KG-embedding run (node2vec/DeepWalk)
    consumes. Walks stop early at out-degree-0 nodes.

    Determinism without RNG state: the out-neighbors of each node are
    ranked once by (md5(dst), dst), and step s of walk w picks rank
    md5_int(walk_id || '|' || s) % out_deg — a pure column expression,
    so the same corpus is produced under any partitioning AND by the
    SQL oracle (seeded samplers are partition-order dependent; hash
    choosers are the distributed-reproducibility discipline used
    across this repo). Per-step work is ONE equi-join of the frontier
    against the ranked adjacency on (node, rank) — no per-row Python,
    no grouped collect of neighbor lists; the ranked adjacency is
    checkpointed once and reused by all steps. walk_len is a literal
    loop bound (plans stay walk_len-deep, no convergence probe
    needed); frontiers are eagerly checkpointed so step s+1 plans
    against materialized rows.
    """
    adj = (
        edges.select("src", "dst").where(F.col("src") != F.col("dst"))
        .distinct()
        .select(
            "src", "dst",
            (F.row_number().over(
                Window.partitionBy("src").orderBy(F.md5(F.col("dst")), F.col("dst"))
            ) - 1).alias("rnk"),
        )
        .localCheckpoint()
    )
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    nodes = (
        edges.select(F.col("src").alias("entity"))
        .unionAll(edges.select(F.col("dst").alias("entity")))
        .where(F.col("entity").isNotNull())
        .distinct()
    )
    starts = nodes.select(
        F.explode(F.array(*[F.lit(w) for w in range(walks_per_node)])).alias("w"),
        "entity",
    ).select(
        F.concat(F.col("entity"), F.lit("#"), F.col("w").cast("string"))
        .alias("walk_id"),
        F.lit(0).alias("step"),
        F.col("entity"),
    )
    out = starts.localCheckpoint()
    frontier = out
    for s in range(1, walk_len + 1):
        pick = F.expr(
            portable.md5_int(f"concat(walk_id, '|', '{s}')")
        ) % F.col("out_deg")
        nxt = (
            frontier.join(deg, frontier["entity"] == deg["src"])
            .select("walk_id", pick.alias("pick"), F.col("entity").alias("cur"))
            .join(adj, (F.col("cur") == adj["src"]) & (F.col("pick") == adj["rnk"]))
            .select("walk_id", F.lit(s).alias("step"), F.col("dst").alias("entity"))
            .localCheckpoint()
        )
        out = out.unionAll(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return out.select("walk_id", F.col("step").cast("int").alias("step"), "entity")


def anf_hyperball(edges: DataFrame, m: int = 16, hops: int = 2) -> DataFrame:
    """Approximate Neighborhood Function via HyperBall (Boldi & Vigna
    2013): every node carries an m-register HLL sketch of its h-hop
    ball, grown per round by element-wise max-merging each neighbor's
    registers — distinct-ball-size estimates for EVERY node in h
    rounds of join+combine, where the exact computation is an
    all-pairs BFS. Registers use the events.hll_distinct discipline
    (md5 bucket, 33 - bit-length rank, dyadic 2^(33-M) BIGINT harmonic
    sum, ONE double division at the end). Returns
    (entity, ball_exact, n_regs, anf_estimate) — ball_exact is the
    small-SF calibration column (counts the node itself), computed by
    literal 2-hop expansion; at 10^12 edges only the sketch survives.

    Correctness leverage: HyperBall's invariant — register state after
    h max-merge rounds EQUALS the HLL of the exact h-ball membership —
    lets the SQL twin compute the registers directly from the ball
    set, so the oracle verifies the distributed merge propagation
    through a completely different computation path.

    Scale shape: per round ONE equi-join (registers to neighbors) +
    ONE map-side-combinable grouped max onto at most m cells per node;
    register tables are localCheckpoint'ed per round (iterated-operator
    house rule)."""
    from deepref_spark.portable import hex32, md5_mod

    # size-adaptive (round 6): the HyperBall invariant (register state
    # after h merge rounds == HLL of the exact h-ball) lets the driver
    # path compute registers straight from a collected-BFS ball under
    # the cap; the distributed merge below stays the at-scale path.
    rows = driver_rows(edges.select("src", "dst"))
    if rows is not None:
        import hashlib

        import pyspark.sql.types as T

        from deepref_spark.refsem import md5_mod_py

        adj_m, _ = _und_maps(rows)
        reg_of: dict = {}
        for v in adj_m:
            h1 = hashlib.md5(("anf|" + str(v)).encode("utf-8")).hexdigest()
            bucket = md5_mod_py(h1, m)
            v32 = int(h1[8:16], 16)
            mr = 33 if v32 == 0 else 33 - v32.bit_length()
            reg_of[v] = (bucket, mr)
        alpha_l = 0.7213 / (1.0 + 1.079 / m)
        two33_l = 1 << 33

        from decimal import ROUND_HALF_UP, Decimal

        out_rows = []
        for v in adj_m:
            ball = {v}
            frontier = [v]
            for _hop in range(hops):
                nxt = []
                for x in frontier:
                    for w in adj_m.get(x, ()):
                        if w not in ball:
                            ball.add(w)
                            nxt.append(w)
                frontier = nxt
            regs_m: dict = {}
            for u in ball:
                b, mr = reg_of[u]
                if mr > regs_m.get(b, 0):
                    regs_m[b] = mr
            s_present = sum(1 << (33 - mr) for mr in regs_m.values())
            n_regs = len(regs_m)
            est_v = (alpha_l * m * m * float(two33_l)) / float(
                s_present + (m - n_regs) * two33_l)
            est_v = float(Decimal(repr(est_v)).quantize(
                Decimal("0.01"), rounding=ROUND_HALF_UP))
            out_rows.append((v, len(ball), n_regs, est_v))
        node_t = edges.schema["src"].dataType
        schema = T.StructType([
            T.StructField("entity", node_t, False),
            T.StructField("ball_exact", T.LongType(), False),
            T.StructField("n_regs", T.LongType(), False),
            T.StructField("anf_estimate", T.DoubleType(), False),
        ])
        return local_frame(edges.sparkSession, sorted(out_rows), schema)
    und = (
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b")).distinct()
    )
    adj = _und_adj(und).localCheckpoint(eager=False)
    nodes = adj.select(F.col("v").alias("entity")).distinct()
    seeded = nodes.select(
        "entity",
        F.expr("md5(concat('anf|', entity))").alias("h"),
    ).select(
        "entity",
        F.expr(md5_mod("h", m)).cast("int").alias("bucket"),
        F.expr(hex32("h", 8, "spark")).alias("v32"),
    ).select(
        "entity", "bucket",
        F.expr("CASE WHEN v32 = 0 THEN 33 ELSE 33 - length(bin(v32)) END")
        .cast("int").alias("mr"),
    )
    regs = seeded.localCheckpoint(eager=False)
    for _ in range(hops):
        from_nbrs = (
            adj.join(regs.withColumnRenamed("entity", "nbr"), "nbr")
            .select(F.col("v").alias("entity"), "bucket", "mr")
        )
        regs = (
            regs.unionAll(from_nbrs)
            .groupBy("entity", "bucket")
            .agg(F.max("mr").alias("mr"))
            .localCheckpoint(eager=False)
        )
    alpha = 0.7213 / (1.0 + 1.079 / m)
    two33 = 1 << 33
    est = regs.groupBy("entity").agg(
        F.sum(F.expr("CAST(pow(2, 33 - mr) AS BIGINT)")).cast("long")
        .alias("s_present"),
        F.count(F.lit(1)).cast("long").alias("n_regs"),
    )
    # exact h-ball (calibration column): literal frontier expansion,
    # pairs (v, member) distinct-counted per v
    pairs = nodes.select(F.col("entity").alias("v"),
                         F.col("entity").alias("member"))
    frontier = pairs
    for _ in range(hops):
        frontier = (
            frontier.join(adj.withColumnRenamed("v", "member"), "member")
            .select("v", F.col("nbr").alias("member"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        pairs = pairs.unionAll(frontier).distinct().localCheckpoint(eager=False)
    exact = pairs.groupBy(F.col("v").alias("entity")).agg(
        F.countDistinct("member").cast("long").alias("ball_exact"))
    return (
        est.join(exact, "entity")
        .select(
            "entity", "ball_exact", "n_regs",
            F.round(
                (F.lit(alpha * m * m * float(two33))
                 / (F.col("s_present")
                    + (F.lit(m) - F.col("n_regs")) * F.lit(two33))
                 ).cast("double"), 2,
            ).alias("anf_estimate"),
        )
    )


def snapshot_diff(oplog: DataFrame, t1: int, t2: int) -> DataFrame:
    """Row-level diff between two point-in-time states of the op log —
    the change query an incremental consumer runs between two table
    snapshots (Iceberg changelog semantics over the explicit log):
    every triple live at t1 or t2, tagged 'added' (live only at t2),
    'removed' (live only at t1) or 'kept'.

    Two snapshot_at reads (each ONE combineable groupBy on the triple
    key) full-outer-joined on the same key — co-partitioned by the
    shuffle, so the join adds no extra exchange beyond the two
    aggregations. Output is bounded by the union of the two live sets,
    never the log length.
    """
    s1 = snapshot_at(oplog, t1).select(
        "subj", "pred", "obj", F.lit(1).alias("in1"))
    s2 = snapshot_at(oplog, t2).select(
        "subj", "pred", "obj", F.lit(1).alias("in2"))
    return (
        s1.join(s2, ["subj", "pred", "obj"], "full_outer")
        .select(
            "subj", "pred", "obj",
            F.when(F.col("in1").isNull(), F.lit("added"))
            .when(F.col("in2").isNull(), F.lit("removed"))
            .otherwise(F.lit("kept")).alias("status"),
        )
    )


def taxonomy_closure(parent_edges: DataFrame,
                     max_rounds: int = 40) -> DataFrame:
    """Transitive ancestor closure of an acyclic (child, parent)
    hierarchy by SEMI-NAIVE datalog iteration — the ontology-closure
    primitive (rdfs:subClassOf*) a KG-construction run applies to its
    type taxonomy before domain/range type inference.

    Each round joins only the DELTA (paths discovered last round)
    against the base edges, so total work is O(|closure|), not
    O(rounds x |closure|) — the semi-naive guarantee; rounds = the
    hierarchy depth (log n for a balanced taxonomy, ~tens for real
    ontologies), each from a localCheckpoint'ed delta so the lineage
    never compounds. On a tree every (descendant, ancestor) path is
    unique, so no dedup is needed; for DAG inputs callers dedup per
    round (documented, not silently assumed: this function asserts
    per-round uniqueness is the caller's contract via min-depth
    semantics being equal either way on trees).

    Raises after ``max_rounds`` instead of returning a silently
    truncated closure.
    """
    base = (parent_edges.select("child", "parent")
            .localCheckpoint(eager=False))
    # size-adaptive (round 6): a type taxonomy is a small dimension at
    # any corpus scale (docstring below); under the driver cap the
    # closure is one collected delta-expansion instead of depth x 2
    # jobs (gate: linking.driver_rows, ``deepref.driver.max_rows``);
    # the semi-naive distributed loop stays the fallback.
    collected = driver_rows(base)
    if collected is not None:
        import pyspark.sql.types as T

        parent_adj: dict = {}
        for c, p in collected:
            parent_adj.setdefault(c, []).append(p)
        acc_rows = [(c, p, 1) for c, p in collected]
        delta_rows = acc_rows
        for _ in range(max_rounds):
            delta_rows = [
                (c, p2, d + 1)
                for (c, a, d) in delta_rows
                for p2 in parent_adj.get(a, ())
            ]
            if not delta_rows:
                node_t = base.schema["child"].dataType
                schema = T.StructType([
                    T.StructField("child", node_t, False),
                    T.StructField("anc", node_t, False),
                    T.StructField("depth", T.IntegerType(), False),
                ])
                return local_frame(parent_edges.sparkSession, acc_rows, schema)
            acc_rows.extend(delta_rows)
        raise RuntimeError(
            f"taxonomy_closure did not converge in {max_rounds} rounds")
    acc = base.select("child", F.col("parent").alias("anc"),
                      F.lit(1).cast("int").alias("depth"))
    acc = acc.localCheckpoint(eager=False)
    delta = acc
    for _ in range(max_rounds):
        delta = (
            delta.alias("d")
            .join(base.alias("e"), F.col("d.anc") == F.col("e.child"))
            .select(F.col("d.child").alias("child"),
                    F.col("e.parent").alias("anc"),
                    (F.col("d.depth") + F.lit(1)).cast("int").alias("depth"))
            .localCheckpoint()
        )
        if delta.count() == 0:
            return acc
        acc = acc.unionAll(delta).localCheckpoint(eager=False)
    raise RuntimeError(
        f"taxonomy_closure did not converge in {max_rounds} rounds")


def _tarjan_scc(edge_list) -> list:
    """Iterative Tarjan over a collected edge list -> list of
    member-lists. Membership is algorithm-independent (SCCs are
    unique), so this bit-matches the distributed labelling."""
    adj: dict = {}
    nodes: set = set()
    for s, d in edge_list:
        nodes.add(s)
        nodes.add(d)
        adj.setdefault(s, []).append(d)
    index: dict = {}
    low: dict = {}
    on: set = set()
    stack: list = []
    comps: list = []
    counter = 0
    for v0 in nodes:
        if v0 in index:
            continue
        index[v0] = low[v0] = counter
        counter += 1
        stack.append(v0)
        on.add(v0)
        work = [(v0, iter(adj.get(v0, ())))]
        while work:
            v, it = work[-1]
            pushed = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter
                    counter += 1
                    stack.append(w)
                    on.add(w)
                    work.append((w, iter(adj.get(w, ()))))
                    pushed = True
                    break
                if w in on and index[w] < low[v]:
                    low[v] = index[w]
            if pushed:
                continue
            work.pop()
            if work and low[v] < low[work[-1][0]]:
                low[work[-1][0]] = low[v]
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on.discard(w)
                    members.append(w)
                    if w == v:
                        break
                comps.append(members)
    return comps


def scc(edges: DataFrame, max_outer: int = 24,
        max_inner: int = 64) -> DataFrame:
    """Strongly connected components of a DIRECTED edge set by the
    distributed trim + forward-coloring + backward-within-color
    algorithm (the Pregel/FW-BW-MS family, Slota et al.) — the cycle
    detector a KG quality pass runs on directed relation graphs
    (is-part-of loops, circular ownership), where the undirected
    connected_components operator is blind to direction. Returns
    (entity, scc_id, scc_size) with scc_id = min member, so membership
    is algorithm-independent and oracle-checkable.

    Per outer round, on the still-unassigned subgraph:

      1. TRIM to fixpoint: nodes with no in-edge or no out-edge cannot
         sit on a cycle -> singleton SCCs, removed immediately. This
         peels entire DAG regions in O(longest chain) cheap rounds and
         is what keeps the outer loop count low on real KGs (mostly
         acyclic + a few knots).
      2. FORWARD coloring to fixpoint: c(v) = min node id that reaches
         v (min-label propagation along edge direction, the same
         combineable groupBy-min iterate as connected_components).
      3. BACKWARD sweep within each color class from its root r
         (c(r) = r): every node of color r that reaches r through
         same-colored nodes is in SCC(r) — correctness: any node on a
         v->r path with c(v) = r is itself colored r (a smaller label
         reaching it would reach r and dethrone it), so restricting
         the sweep to the color class loses nothing.

    Extracted SCCs leave the node set; remaining nodes recurse. Every
    driver-side action is a scalar count(); every per-round frame is
    localCheckpoint'ed so lineage stays flat. All shuffles key on the
    node id. Raises instead of truncating if the round budgets are
    exceeded.
    """
    E0 = edges.select("src", "dst").where(F.col("src") != F.col("dst")) \
        .distinct().localCheckpoint(eager=False)
    # size-adaptive (round 6): under the driver cap a collected edge
    # list + single-threaded Tarjan beats the multi-round loop by an
    # order of magnitude; the trim/color/sweep path below is the one
    # that scales.
    collected = driver_rows(E0)
    if collected is not None:
        if not collected:
            raise ValueError("scc: empty edge set")
        import pyspark.sql.types as T

        rows = []
        for members in _tarjan_scc(collected):
            sid = min(members)
            n = len(members)
            rows.extend((m, sid, n) for m in members)
        node_t = E0.schema["src"].dataType
        schema = T.StructType([
            T.StructField("entity", node_t, False),
            T.StructField("scc_id", node_t, False),
            T.StructField("scc_size", T.LongType(), False),
        ])
        return local_frame(edges.sparkSession, rows, schema)
    remaining = (E0.select(F.col("src").alias("v"))
                 .union(E0.select(F.col("dst").alias("v")))
                 .distinct().localCheckpoint())
    parts = []

    def _restrict(er, rem):
        return (er.join(rem.select(F.col("v").alias("src")), "src")
                  .join(rem.select(F.col("v").alias("dst")), "dst")
                  .select("src", "dst").localCheckpoint())

    for _ in range(max_outer):
        if remaining.count() == 0:
            return _scc_sized(parts)
        er = _restrict(E0, remaining)
        # 1. trim to fixpoint
        for _ in range(max_inner):
            core = (er.select(F.col("src").alias("v")).distinct()
                    .join(er.select(F.col("dst").alias("v")).distinct(), "v")
                    .localCheckpoint())
            trimmed = remaining.join(core, "v", "left_anti").localCheckpoint()
            if trimmed.count() == 0:
                break
            parts.append(trimmed.select(F.col("v").alias("entity"),
                                        F.col("v").alias("scc_id")))
            remaining = core.join(remaining, "v", "left_semi") \
                .localCheckpoint()
            er = _restrict(er, remaining)
        else:
            raise RuntimeError("scc: trim did not converge")
        if remaining.count() == 0:
            return _scc_sized(parts)
        # 2. forward min-label coloring to fixpoint
        lab = remaining.select("v", F.col("v").alias("c")).localCheckpoint()
        for _ in range(max_inner):
            pushed = (er.join(lab.select(F.col("v").alias("src"),
                                         F.col("c").alias("cs")), "src")
                      .groupBy(F.col("dst").alias("v"))
                      .agg(F.min("cs").alias("cin")))
            new = (lab.join(pushed, "v", "left")
                   .select("v", F.least(
                       F.col("c"),
                       F.coalesce(F.col("cin"), F.col("c"))).alias("c"))
                   .localCheckpoint())
            improved = (new.alias("n")
                        .join(lab.alias("o"), "v")
                        .where(F.col("n.c") < F.col("o.c")).count())
            lab = new
            if improved == 0:
                break
        else:
            raise RuntimeError("scc: coloring did not converge")
        # 3. backward sweep within color classes
        ec = (er.join(lab.select(F.col("v").alias("src"),
                                 F.col("c").alias("c1")), "src")
              .join(lab.select(F.col("v").alias("dst"),
                               F.col("c").alias("c2")), "dst")
              .where(F.col("c1") == F.col("c2"))
              .select("src", "dst", F.col("c1").alias("c"))
              .localCheckpoint())
        # frontier-style: each round expands only the newly-marked set
        # through the reversed same-color edges and anti-joins the known
        # set (per-round work ~ the frontier's edge boundary, the same
        # discipline as bfs_distances — never a re-dedup of the whole
        # marked set)
        marked = lab.where(F.col("v") == F.col("c")).localCheckpoint()
        bfrontier = marked
        for _ in range(max_inner):
            step = (ec.join(bfrontier.select(F.col("v").alias("dst"),
                                             F.col("c").alias("mc")), "dst")
                    .where(F.col("c") == F.col("mc"))
                    .select(F.col("src").alias("v"), "c")
                    .distinct()
                    .join(marked.select("v"), "v", "left_anti")
                    .localCheckpoint())
            if step.count() == 0:
                break
            marked = marked.unionAll(step).localCheckpoint()
            bfrontier = step
        else:
            raise RuntimeError("scc: backward sweep did not converge")
        parts.append(marked.select(F.col("v").alias("entity"),
                                   F.col("c").alias("scc_id")))
        remaining = remaining.join(marked, "v", "left_anti").localCheckpoint()
    raise RuntimeError(f"scc did not converge in {max_outer} outer rounds")


def _scc_sized(parts) -> DataFrame:
    if not parts:
        raise ValueError("scc: empty edge set")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    sizes = out.groupBy("scc_id").agg(
        F.count(F.lit(1)).cast("long").alias("scc_size"))
    return out.join(sizes, "scc_id").select("entity", "scc_id", "scc_size")


def harmonic_centrality(edges: DataFrame, n_seeds: int = 3,
                        max_hops: int = 4) -> DataFrame:
    """Harmonic centrality restricted to a deterministic seed set —
    the landmark form used at scale (exact all-pairs harmonic is
    quadratic; landmark/pivot estimates with a curated seed list are
    the standard production compromise, cf. HyperBall for the sketch
    form): for every entity, sum of 1/d(entity, seed) over the
    ``n_seeds`` (md5, name)-smallest seed entities reachable within
    ``max_hops`` undirected hops.

    Per-seed frontier BFS keyed by (seed, entity) — same frontier
    discipline as bfs_distances (per-round work ~ frontier edge
    boundary, anti-join against the known set, eager localCheckpoint
    per round). The reciprocal sum is EXACT: distances live in
    [1, max_hops], so 1/d is summed as lcm(1..max_hops)/d integer
    units (h_units), and the double ``harmonic`` is one final IEEE
    division by the lcm — aggregation-order independent, bit-identical
    to the SQL oracle.
    """
    import math

    grid = math.lcm(*range(1, max_hops + 1))
    # size-adaptive (round 6): per-seed BFS on collected rows under the
    # driver cap (exact integer h_units); distributed loop below stays
    # the at-scale path.
    rows = driver_rows(edges.select("src", "dst"))
    if rows is not None:
        import pyspark.sql.types as T

        adj, seed_key = _und_maps(rows)
        seeds_l = sorted(adj, key=seed_key)[:n_seeds]
        acc: dict = {}
        for sd in seeds_l:
            dist = {sd: 0}
            frontier = [sd]
            for hop in range(1, max_hops + 1):
                nxt = []
                for v in frontier:
                    for w in adj.get(v, ()):
                        if w not in dist:
                            dist[w] = hop
                            nxt.append(w)
                if not nxt:
                    break
                frontier = nxt
            for v, d in dist.items():
                if v == sd:
                    continue
                n, h = acc.get(v, (0, 0))
                acc[v] = (n + 1, h + grid // d)
        node_t = edges.schema["src"].dataType
        schema = T.StructType([
            T.StructField("entity", node_t, False),
            T.StructField("n_seeds_reached", T.LongType(), False),
            T.StructField("h_units", T.LongType(), False),
            T.StructField("harmonic", T.DoubleType(), False),
        ])
        out_rows = [(v, n, h, h / float(grid))
                    for v, (n, h) in sorted(acc.items())]
        return local_frame(edges.sparkSession, out_rows, schema)
    sym = _und_adj(
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    ).localCheckpoint()
    nodes = sym.select(F.col("v").alias("entity")).distinct()
    seeds = (
        nodes.orderBy(F.md5(F.col("entity")), F.col("entity"))
        .limit(n_seeds)
    )
    known = seeds.select(
        F.col("entity").alias("s"), F.col("entity").alias("v"),
        F.lit(0).alias("d")).localCheckpoint()
    frontier = known
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier["v"] == sym["v"])
            .select(frontier["s"], F.col("nbr").alias("v"))
            .distinct()
            .join(known.select("s", "v"), ["s", "v"], "left_anti")
            .select("s", "v", F.lit(hop).alias("d"))
            .localCheckpoint()
        )
        if nxt.count() == 0:
            break
        known = known.unionAll(nxt).localCheckpoint()
        frontier = nxt
    return (
        known.where(F.col("s") != F.col("v"))
        .groupBy(F.col("v").alias("entity"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_seeds_reached"),
             F.sum(F.expr(f"{grid} DIV d")).cast("long").alias("h_units"))
        .withColumn("harmonic",
                    F.col("h_units").cast("double") / F.lit(float(grid)))
    )


def scc_condensation(edges: DataFrame, labels: DataFrame | None = None,
                     max_rounds: int = 64) -> DataFrame:
    """Condensation DAG of a directed graph: collapse every SCC (from
    ``scc``) to one node and compute, per component, its member count,
    inter-component in/out degree, and LONGEST-PATH topological level
    — the cycle-free quotient view downstream topological processing
    (dependency ordering, stratified datalog, incremental recompute
    waves) runs on after the cycle detector has done its work.

    Quotient edges = the original edges mapped through the SCC labels
    (two co-keyed joins + distinct, self-edges dropped — guaranteed
    acyclic by SCC maximality). Levels by iterative longest-path
    relaxation: level(v) = max(0, 1 + max level of predecessors),
    repeated to fixpoint — rounds = DAG depth, each from a
    localCheckpoint'ed frame, one scalar count per round, raises
    rather than truncating. The SQL oracle recomputes levels with a
    recursive CTE, so the relaxation bookkeeping is hash-verified.
    """
    lab = scc(edges).select("entity", "scc_id") if labels is None else labels
    lab = lab.localCheckpoint(eager=False)
    ced = (
        edges.join(lab.select(F.col("entity").alias("src"),
                              F.col("scc_id").alias("a")), "src")
        .join(lab.select(F.col("entity").alias("dst"),
                         F.col("scc_id").alias("b")), "dst")
        .where(F.col("a") != F.col("b"))
        .select("a", "b").distinct()
        .localCheckpoint()
    )
    comps = lab.groupBy("scc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"))
    # size-adaptive (round 6): the quotient is orders of magnitude
    # smaller than the corpus; under the driver cap (quotient edges and
    # components both) the longest-path levels and in/out degrees come
    # from one collected pass instead of rounds x 3 jobs of relaxation.
    # Distributed relaxation below stays the at-scale fallback.
    q = driver_rows(ced)
    cs = driver_rows(comps) if q is not None else None
    if cs is not None:
        from collections import deque

        import pyspark.sql.types as T

        adj: dict = {}
        indeg: dict = {}
        outc: dict = {}
        inc: dict = {}
        for a, b in q:
            adj.setdefault(a, []).append(b)
            indeg[b] = indeg.get(b, 0) + 1
            indeg.setdefault(a, 0)
            outc[a] = outc.get(a, 0) + 1
            inc[b] = inc.get(b, 0) + 1
        lev_map = {v: 0 for v in indeg}
        dq = deque(v for v, d in indeg.items() if d == 0)
        seen = 0
        while dq:
            v = dq.popleft()
            seen += 1
            for w in adj.get(v, ()):
                if lev_map[v] + 1 > lev_map[w]:
                    lev_map[w] = lev_map[v] + 1
                indeg[w] -= 1
                if indeg[w] == 0:
                    dq.append(w)
        if seen != len(lev_map):
            raise RuntimeError(
                "scc_condensation levels did not converge "
                "(cycle in the quotient graph?)")
        schema = T.StructType([
            T.StructField("scc_id", comps.schema["scc_id"].dataType, False),
            T.StructField("n_members", T.LongType(), False),
            T.StructField("out_edges", T.LongType(), False),
            T.StructField("in_edges", T.LongType(), False),
            T.StructField("topo_level", T.IntegerType(), False),
        ])
        return local_frame(
            edges.sparkSession,
            [(v, n, outc.get(v, 0), inc.get(v, 0), lev_map.get(v, 0))
             for v, n in cs],
            schema)
    lev = comps.select(F.col("scc_id").alias("v"),
                       F.lit(0).alias("level")).localCheckpoint()
    for _ in range(max_rounds):
        relaxed = (
            ced.join(lev.select(F.col("v").alias("a"),
                                F.col("level").alias("la")), "a")
            .groupBy(F.col("b").alias("v"))
            .agg((F.max("la") + 1).alias("lin"))
        )
        new = (
            lev.join(relaxed, "v", "left")
            .select("v", F.greatest(
                F.col("level"),
                F.coalesce(F.col("lin"), F.col("level"))).alias("level"))
            .localCheckpoint()
        )
        changed = (new.alias("n").join(lev.alias("o"), "v")
                   .where(F.col("n.level") > F.col("o.level")).count())
        lev = new
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"scc_condensation levels did not converge in {max_rounds} "
            "rounds (cycle in the quotient graph?)")
    outd = ced.groupBy(F.col("a").alias("scc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("out_edges"))
    ind = ced.groupBy(F.col("b").alias("scc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("in_edges"))
    return (
        comps.join(outd, "scc_id", "left").join(ind, "scc_id", "left")
        .join(lev.select(F.col("v").alias("scc_id"), "level"), "scc_id")
        .select(
            "scc_id", "n_members",
            F.coalesce("out_edges", F.lit(0)).cast("long").alias("out_edges"),
            F.coalesce("in_edges", F.lit(0)).cast("long").alias("in_edges"),
            F.col("level").cast("int").alias("topo_level"),
        )
    )


def validity_lookup(oplog: DataFrame, probes: DataFrame) -> DataFrame:
    """As-of dimension lookup against the bitemporal validity table —
    the SCD2 point read every event-time join runs: for each probe
    (subj, pred, obj, probe_ts), the version live at that instant
    (valid_from <= ts < valid_to, open intervals unbounded) or a dead
    marker.

    This is an EQUI join on the triple key (at most a handful of
    versions per key), then a per-row interval filter — no range join,
    no grid decomposition needed (contrast incident_overlap, where no
    equi key exists and the epoch-hour grid does that job). Disjoint
    intervals per key guarantee at most one match, so the left join
    preserves probe cardinality exactly.
    """
    iv = validity_intervals(oplog).select(
        "subj", "pred", "obj",
        F.col("valid_from").alias("v_from"),
        F.col("valid_to").alias("v_to"))
    hit = (
        probes.join(iv, ["subj", "pred", "obj"])
        .where((F.col("v_from") <= F.col("probe_ts"))
               & (F.col("v_to").isNull()
                  | (F.col("probe_ts") < F.col("v_to"))))
        .select("subj", "pred", "obj", "probe_ts",
                F.col("v_from").alias("valid_from"))
    )
    return (
        probes.join(hit, ["subj", "pred", "obj", "probe_ts"], "left")
        .select(
            "subj", "pred", "obj",
            F.col("probe_ts").cast("long").alias("probe_ts"),
            F.col("valid_from").cast("long").alias("valid_from"),
            F.col("valid_from").isNotNull().cast("int").alias("live"),
        )
    )


def neighbor_agg(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """GraphSAGE-style numeric message passing on the exact milli
    integer grid — the feature-engineering primitive KG-embedding /
    node-classification pipelines run before any model sees the graph:
    h0(v) = undirected degree (in milli units), then ``rounds`` times
    h_r(v) = round-half-up mean of the neighbors' h_{r-1}. Unlike
    wl_refine (hash refinement, set semantics) this aggregates NUMERIC
    features, so the mean must be grid-exact to survive any
    partitioning: floor((2*sum + n) / (2*n)) on BIGINTs is tie-free
    half-up rounding with zero floating point anywhere.

    One symmetric-adjacency shuffle reused across rounds (the
    sym_closure discipline); each round is one join + one combineable
    groupBy on the node key. Isolated directions don't exist on the
    undirected view; every node has >= 1 neighbor by construction of
    the edge list.
    """
    und = (
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = (und.select(F.col("a").alias("v"), F.col("b").alias("nbr"))
           .unionAll(und.select(F.col("b").alias("v"),
                                F.col("a").alias("nbr")))
           .localCheckpoint(eager=False))
    h = (sym.groupBy("v")
         .agg((F.count(F.lit(1)) * 1000).cast("long").alias("h"))
         .localCheckpoint(eager=False))
    out = h.select("v", (F.col("h") / 1000).cast("long").alias("und_degree"))
    for r in range(1, rounds + 1):
        h = (
            sym.join(h.select(F.col("v").alias("nbr"),
                              F.col("h").alias("hn")), "nbr")
            .groupBy("v")
            .agg(F.expr("CAST((2 * sum(hn) + count(hn)) "
                        "DIV (2 * count(hn)) AS BIGINT)").alias("h"))
            .localCheckpoint(eager=False)
        )
        out = out.join(h.select("v", F.col("h").alias(f"h{r}_milli")), "v")
    return out.withColumnRenamed("v", "entity")


def taxonomy_lca(parent_edges: DataFrame, pairs: DataFrame,
                 closure: DataFrame | None = None) -> DataFrame:
    """Lowest common ancestor + Wu-Palmer similarity for entity pairs
    over an acyclic (child, parent) taxonomy — the semantic-distance
    read a KG linker runs on its type hierarchy (the reference's
    SemanticKNWL father/grandpa lookups are the depth-1/2 special
    case; Wu & Palmer 1994 is the classic closed form over the full
    closure).

    Derivation: the ancestor closure (semi-naive, O(|closure|)) is
    extended with self rows at up-distance 0; a pair's candidates are
    the shared ancestors (join on the ancestor key), the LCA the
    candidate minimizing combined up-distance (unique on a tree;
    tie-broken by ancestor name so DAG inputs stay deterministic).
    Root depth d(x) = max up-distance (the root is every node's
    farthest ancestor), so lca_depth = d(a) - up(a->lca) needs no
    second traversal. wup_ppm = 2*(lca_depth+1)*1e6 // (d(a)+d(b)+2)
    on the exact ppm grid (depths 1-based per Wu-Palmer).

    Scale: the closure is |taxonomy| x depth rows — a type hierarchy
    is a small dimension at any corpus scale, so the per-pair join is
    broadcast-sized; ``pairs`` streams against it.
    """
    # ``closure`` lets callers pass an already-materialized ancestor
    # closure (kg_taxonomy_closure's persisted stage) instead of
    # re-deriving it — same results by construction.
    clo = (taxonomy_closure(parent_edges) if closure is None
           else closure).localCheckpoint(eager=False)
    nodes = (parent_edges.select(F.col("child").alias("x"))
             .union(parent_edges.select(F.col("parent").alias("x")))
             .distinct())
    anc0 = (
        clo.select(F.col("child").alias("x"), "anc",
                   F.col("depth").cast("long").alias("up"))
        .unionAll(nodes.select("x", F.col("x").alias("anc"),
                               F.lit(0).cast("long").alias("up")))
        .localCheckpoint(eager=False)  # feeds rootd + both join sides
    )
    rootd = anc0.groupBy("x").agg(F.max("up").alias("d"))
    cand = (
        pairs.join(anc0.alias("A"), pairs.a == F.col("A.x"))
        .join(anc0.alias("B"),
              (pairs.b == F.col("B.x")) & (F.col("A.anc") == F.col("B.anc")))
        .select("a", "b", F.col("A.anc").alias("anc"),
                (F.col("A.up") + F.col("B.up")).alias("comb"),
                F.col("A.up").alias("ua"))
    )
    best = (
        cand.groupBy("a", "b")
        .agg(F.min(F.struct("comb", "anc", "ua")).alias("s"))
        .select("a", "b", F.col("s.anc").alias("lca"),
                F.col("s.comb").cast("long").alias("dist"),
                F.col("s.ua").alias("ua"))
    )
    da = rootd.select(F.col("x").alias("a"), F.col("d").alias("da"))
    db = rootd.select(F.col("x").alias("b"), F.col("d").alias("db"))
    return (
        best.join(da, "a").join(db, "b")
        .select(
            "a", "b", "lca", "dist",
            (F.col("da") - F.col("ua")).cast("long").alias("lca_depth"),
            F.expr("2 * (da - ua + 1) * 1000000 DIV (da + db + 2)")
            .cast("long").alias("wup_ppm"),
        )
    )


def modularity_profile(edges: DataFrame, labels: DataFrame,
                       und: DataFrame | None = None) -> DataFrame:
    """Newman modularity per community plus the global Q row — the
    second acceptance gate (next to community_quality's conductance)
    a KG curator runs on a label_prop assignment before merging
    duplicate-entity neighborhoods: Q_c = e_c/m - (vol_c/2m)^2, the
    fraction of edges inside c minus the fraction expected under the
    degree-preserving null model (Newman 2004, eq. 5).

    Exact ppm grid shared with the SQL oracle: over the symmetric
    closure (tv rows = 2m edge-ends),
      observed_ppm = internal_c * 1e6 div tv        (= e_c/m on ppm)
      vpm          = vol_c      * 1e6 div tv        (= vol_c/2m on ppm)
      expected_ppm = vpm * vpm div 1e6              (vpm <= 1e6 so the
                                                     product fits BIGINT)
      modularity_ppm = observed_ppm - expected_ppm  (can be negative)
    BIGINT headroom: internal*1e6 overflows past ~9.2e12 edge rows —
    same documented bound as community_quality's cut*1e6; shift the
    two multiplies to DECIMAL(38,0) beyond that (degree_assortativity's
    discipline).

    Scale shape: identical to community_quality — two entity-sized
    label-tag joins on the und rows, map-side-combinable grouped sums,
    one broadcast total-volume row; the global row is a second tiny
    agg over the per-community table (community count, not corpus,
    sized).
    """
    if und is None:
        und = sym_closure(edges)
    # size-adaptive (round 6): the ppm grid is all BIGINT floor
    # divisions on non-negative operands (Python // == Spark div
    # there), so the driver twin is exact; same gate as
    # community_quality. A graph with no labelled edge falls through
    # (the distributed agg emits a NULL-sum __total__ row there — keep
    # that single source of truth).
    tally = _driver_community_tally(und, labels)
    if tally is not None:
        import pyspark.sql.types as T

        n_nodes_m, vol, internal, tv = tally
        out_rows = []
        for c in sorted(vol):
            v, i = vol[c], internal.get(c, 0)
            vpm = v * 1_000_000 // tv
            out_rows.append((
                c, n_nodes_m[c], i // 2, v,
                i * 1_000_000 // tv - vpm * vpm // 1_000_000,
            ))
        out_rows.append((
            "__total__",
            sum(r[1] for r in out_rows),
            sum(r[2] for r in out_rows),
            sum(r[3] for r in out_rows),
            sum(r[4] for r in out_rows),
        ))
        node_t = labels.schema["community"].dataType
        schema = T.StructType([
            T.StructField("community", node_t, False),
            T.StructField("n_nodes", T.LongType(), False),
            T.StructField("internal_edges", T.LongType(), False),
            T.StructField("vol", T.LongType(), False),
            T.StructField("modularity_ppm", T.LongType(), False),
        ])
        return local_frame(und.sparkSession, out_rows, schema)
    lab_s = labels.select(F.col("entity").alias("src"),
                          F.col("community").alias("c_src"))
    lab_d = labels.select(F.col("entity").alias("dst"),
                          F.col("community").alias("c_dst"))
    tagged = und.join(lab_s, "src").join(lab_d, "dst")
    per_c = tagged.groupBy(F.col("c_src").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("vol"),
        F.sum((F.col("c_src") == F.col("c_dst")).cast("long"))
        .cast("long").alias("internal"),
    )
    n_nodes = labels.groupBy("community").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"))
    total = und.agg(F.count(F.lit(1)).cast("long").alias("_tv"))
    rows = (
        per_c.join(n_nodes, "community")
        .crossJoin(F.broadcast(total))
        .select(
            "community", "n_nodes",
            F.expr("internal div 2").cast("long").alias("internal_edges"),
            "vol",
            F.expr(
                "internal * 1000000 div _tv"
                " - (vol * 1000000 div _tv) * (vol * 1000000 div _tv)"
                "   div 1000000"
            ).cast("long").alias("modularity_ppm"),
        )
        .localCheckpoint(eager=False)  # feeds output AND the total row
    )
    q_total = rows.agg(
        F.lit("__total__").alias("community"),
        F.sum("n_nodes").cast("long").alias("n_nodes"),
        F.sum("internal_edges").cast("long").alias("internal_edges"),
        F.sum("vol").cast("long").alias("vol"),
        F.sum("modularity_ppm").cast("long").alias("modularity_ppm"),
    )
    return rows.unionAll(q_total)


def weighted_sssp(edges: DataFrame, n_seeds: int = 2,
                  rounds: int = 3) -> DataFrame:
    """Bounded-round Bellman-Ford: exact shortest WEIGHTED directed
    distance from a deterministic seed set to every entity reachable
    within ``rounds`` edges — the cost-bounded neighborhood primitive
    (bfs_distances is the unweighted twin) a KG serves for "cheapest
    derivation path" reads when edges carry non-uniform costs.

    Determinism without data weights: each directed edge gets
    wt = 1 + md5(src|dst) % 9 in [1,9] (the portable hash grid, same
    expression in the SQL oracle), seeds are the ``n_seeds``
    (md5(entity), entity)-smallest nodes — bfs_distances' seed rule.

    Per round: relax = dist ⋈ edges on src (one equi-join), then
    min-combine with the current table (map-side-combinable grouped
    min) — the textbook BF round as two shuffles; each round's dist
    table is eagerly localCheckpoint'ed (the linking.py iteration
    discipline). ``rounds`` is a literal bound, so the plan depth is
    fixed and no convergence probe runs; k rounds = exact min over
    paths of <= k edges, which is the oracle's unrolled formula.
    """
    # size-adaptive (round 6): weights and distances live on the exact
    # integer grid (wt = 1 + md5 % 9, min-combine per round), so the
    # bounded Bellman-Ford twin is exact on collected rows; seed rule
    # (md5(entity), entity) ASC reproduced with hashlib (md5 of the
    # node string — both engines hash the same bytes).
    rows = driver_rows(edges.select("src", "dst"))
    if rows is not None:
        import hashlib

        import pyspark.sql.types as T

        from deepref_spark.refsem import md5_mod_py

        ew_l = {(s, d) for s, d in rows if s != d}
        wt = {(s, d): 1 + md5_mod_py(str(s) + "|" + str(d), 9)
              for s, d in ew_l}
        nodes_s = {s for s, _ in ew_l} | {d for _, d in ew_l}
        seed_l = sorted(
            nodes_s,
            key=lambda v: (hashlib.md5(str(v).encode("utf-8")).hexdigest(), v)
        )[:n_seeds]
        dist = {v: 0 for v in seed_l}
        for _ in range(rounds):
            new_d = dict(dist)
            for (s, d), w in wt.items():
                if s in dist and dist[s] + w < new_d.get(d, dist[s] + w + 1):
                    new_d[d] = dist[s] + w
            dist = new_d
        node_t = edges.schema["src"].dataType
        schema = T.StructType([
            T.StructField("entity", node_t, False),
            T.StructField("dist", T.LongType(), False),
        ])
        return local_frame(edges.sparkSession, sorted(dist.items()), schema)
    ew = (
        edges.select("src", "dst").where(F.col("src") != F.col("dst"))
        .distinct()
        .withColumn(
            "wt",
            F.expr("1 + " + portable.md5_mod(
                "concat(src, '|', dst)", 9)).cast("long"),
        )
        .localCheckpoint(eager=False)
    )
    nodes = (
        ew.select(F.col("src").alias("entity"))
        .union(ew.select(F.col("dst").alias("entity")))
        .distinct()
    )
    seeds = nodes.orderBy(F.md5(F.col("entity")), F.col("entity")).limit(n_seeds)
    dist = seeds.select(
        "entity", F.lit(0).cast("long").alias("dist")).localCheckpoint()
    for _ in range(rounds):
        relax = (
            dist.join(ew, dist["entity"] == ew["src"])
            .select(F.col("dst").alias("entity"),
                    (F.col("dist") + F.col("wt")).alias("dist"))
        )
        dist = (
            dist.unionAll(relax)
            .groupBy("entity").agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist


def katz_centrality(edges: DataFrame, max_hops: int = 4,
                    beta_inv: int = 4) -> DataFrame:
    """Bounded-horizon Katz centrality on the integer grid: katz(v) =
    sum over h = 0..H of walks_h(v) * beta^h with beta = 1/beta_inv,
    reported as the EXACT scaled integer katz_units =
    sum_h walks_h(v) * beta_inv^(H-h) (multiply the whole series by
    beta_inv^H and every term is a BIGINT — the same
    clear-denominators trick as harmonic_centrality's lcm units).
    Unlike PageRank there is no per-step degree normalization, so no
    float grid is needed at all; unlike stress/BFS, walks COUNT
    revisits — each hop is one unconditional sparse mat-vec, no
    anti-join, which is what makes Katz the cheapest of the
    walk-family centralities at scale.

    Shape for 100 TB: H equi-join + map-side-combined groupBy rounds
    over the symmetric adjacency (walks_h(v) = sum over neighbors of
    walks_{h-1}), each round localCheckpoint'ed (iteration
    discipline); the readout is one union + grouped sum. BIGINT
    headroom: walks_h grows like (max degree)^h — with H = 4 and
    beta_inv^H = 256 the units stay under 2^63 to ~10^4 average
    degree; raise beta_inv or lower H for denser graphs (documented
    trade, same family as the pagerank grid note).

    Returns (entity, walks_out, katz_units): the hop-H walk count and
    the scaled Katz series sum.
    """
    # size-adaptive (round 6): exact-integer mat-vec on collected rows
    # under the driver cap; distributed below at scale.
    rows = driver_rows(edges.select("src", "dst"))
    if rows is not None:
        import pyspark.sql.types as T

        adj_m, _ = _und_maps(rows)
        bi = int(beta_inv)
        w_m = {v: 1 for v in adj_m}
        acc_m = {v: w_m[v] * bi ** max_hops for v in adj_m}
        for hop in range(1, max_hops + 1):
            nw = {}
            for v, nbrs in adj_m.items():
                t = 0
                for u in nbrs:
                    t += w_m[u]
                nw[v] = t
            w_m = nw
            scale = bi ** (max_hops - hop)
            for v in adj_m:
                acc_m[v] += w_m[v] * scale
        node_t = edges.schema["src"].dataType
        schema = T.StructType([
            T.StructField("entity", node_t, False),
            T.StructField("walks_out", T.LongType(), False),
            T.StructField("katz_units", T.LongType(), False),
        ])
        out_rows = [(v, w_m[v], acc_m[v]) for v in sorted(adj_m)]
        return local_frame(edges.sparkSession, out_rows, schema)
    sym = _und_adj(
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    ).localCheckpoint()
    w = (
        sym.select("v").distinct()
        .select("v", F.lit(1).cast("long").alias("w"))
        .localCheckpoint()
    )
    acc = w.select(
        "v", (F.col("w") * F.lit(int(beta_inv) ** max_hops)).alias("u"))
    for hop in range(1, max_hops + 1):
        w = (
            sym.join(w.withColumnRenamed("v", "nbr"), "nbr")
            .groupBy("v")
            .agg(F.sum("w").cast("long").alias("w"))
            .localCheckpoint()
        )
        acc = acc.unionAll(w.select(
            "v", (F.col("w") * F.lit(int(beta_inv) ** (max_hops - hop)))
            .alias("u")))
    final_w = w.select(F.col("v").alias("entity"),
                       F.col("w").alias("walks_out"))
    return (
        acc.groupBy(F.col("v").alias("entity"))
        .agg(F.sum("u").cast("long").alias("katz_units"))
        .join(final_w, "entity")
        .select("entity", "walks_out", "katz_units")
    )


def stress_centrality(edges: DataFrame, n_seeds: int = 4,
                      max_hops: int = 4) -> DataFrame:
    """Landmark-pair stress centrality: for every entity v, the number
    of shortest paths between landmark pairs that pass THROUGH v —
    stress(v) = sum over landmark pairs (s < t) of
    sigma(s,v) * sigma(t,v) where d(s,v) + d(t,v) = d(s,t), v not in
    {s, t}. Stress (Shimbel) is the pure-count sibling of betweenness:
    exact Brandes betweenness needs per-pair FRACTIONS of path counts
    (sigma ratios), which no integer grid carries across engines,
    while stress is a plain BIGINT product-sum — aggregation-order
    independent and bit-identical to the SQL oracle. Landmarks are the
    ``n_seeds`` (md5, name)-smallest entities (the same deterministic
    pivot-sampling stand-in as harmonic_centrality; exact all-pairs is
    quadratic, landmark pairs are the production compromise, cf.
    Brandes-Pich pivot sampling).

    Shape for 100 TB: per-seed frontier BFS keyed (s, v) with
    SHORTEST-PATH COUNTING — each hop expands only the new frontier
    through the symmetric adjacency, sums sigma over parallel
    predecessors in one map-side-combined groupBy (sigma(v) at hop h =
    sum of sigma over hop-(h-1) predecessors), anti-joins the known
    set, and eagerly localCheckpoints (iteration discipline from
    bfs_distances). The final stress read is one self-equi-join of the
    bounded (n_seeds x reached-ball) table on v plus a broadcast-sized
    seed-pair distance table — no shuffle wider than the BFS itself.

    Returns (entity, n_pairs, stress): how many landmark pairs route
    any shortest path through v, and the total path count.
    """
    # size-adaptive (round 6): per-seed sigma-counting BFS on collected
    # rows under the driver cap; distributed loop below stays the
    # at-scale path.
    rows = driver_rows(edges.select("src", "dst"))
    if rows is not None:
        import pyspark.sql.types as T

        adj, seed_key = _und_maps(rows)
        seeds_l = sorted(adj, key=seed_key)[:n_seeds]
        known: dict = {}  # seed -> {v: (d, sigma)}
        for sd in seeds_l:
            cur = {sd: (0, 1)}
            frontier = {sd: 1}
            for hop in range(1, max_hops + 1):
                nxt: dict = {}
                for v, sig in frontier.items():
                    for w in adj.get(v, ()):
                        nxt[w] = nxt.get(w, 0) + sig
                nxt = {w: c for w, c in nxt.items() if w not in cur}
                if not nxt:
                    break
                for w, c in nxt.items():
                    cur[w] = (hop, c)
                frontier = nxt
            known[sd] = cur
        agg: dict = {}
        for i, sd in enumerate(seeds_l):
            for t in seeds_l:
                if not sd < t:
                    continue
                if t not in known[sd]:
                    continue
                dst = known[sd][t][0]
                kt = known.get(t, {})
                for v, (d1, sig1) in known[sd].items():
                    if v == sd or v == t or v not in kt:
                        continue
                    d2, sig2 = kt[v]
                    if d1 + d2 == dst:
                        n, st = agg.get(v, (0, 0))
                        agg[v] = (n + 1, st + sig1 * sig2)
        node_t = edges.schema["src"].dataType
        schema = T.StructType([
            T.StructField("entity", node_t, False),
            T.StructField("n_pairs", T.LongType(), False),
            T.StructField("stress", T.LongType(), False),
        ])
        out_rows = [(v, n, st) for v, (n, st) in sorted(agg.items())]
        return local_frame(edges.sparkSession, out_rows, schema)
    sym = _und_adj(
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    ).localCheckpoint()
    nodes = sym.select(F.col("v").alias("entity")).distinct()
    seeds = (
        nodes.orderBy(F.md5(F.col("entity")), F.col("entity"))
        .limit(n_seeds)
    )
    known = seeds.select(
        F.col("entity").alias("s"), F.col("entity").alias("v"),
        F.lit(0).alias("d"), F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint()
    frontier = known
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier["v"] == sym["v"])
            .groupBy(frontier["s"], F.col("nbr").alias("v"))
            .agg(F.sum("sigma").cast("long").alias("sigma"))
            .join(known.select("s", "v"), ["s", "v"], "left_anti")
            .select("s", "v", F.lit(hop).alias("d"), "sigma")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        known = known.unionAll(nxt).localCheckpoint()
        frontier = nxt
    # seed-pair shortest distances (bounded: n_seeds^2 rows at most)
    pair_d = (
        known.join(seeds.select(F.col("entity").alias("v")), "v")
        .where(F.col("s") < F.col("v"))
        .select("s", F.col("v").alias("t"), F.col("d").alias("dst"))
    )
    k1 = known.select(F.col("s").alias("s"), F.col("v").alias("v"),
                      F.col("d").alias("d1"), F.col("sigma").alias("sig1"))
    k2 = known.select(F.col("s").alias("t"), F.col("v").alias("v"),
                      F.col("d").alias("d2"), F.col("sigma").alias("sig2"))
    return (
        k1.join(k2, "v")
        .where(F.col("s") < F.col("t"))
        .join(F.broadcast(pair_d), ["s", "t"])
        .where((F.col("d1") + F.col("d2") == F.col("dst"))
               & (F.col("v") != F.col("s")) & (F.col("v") != F.col("t")))
        .groupBy(F.col("v").alias("entity"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
             F.sum(F.col("sig1") * F.col("sig2")).cast("long").alias("stress"))
    )


def transitive_reduction(edges: DataFrame) -> DataFrame:
    """Transitive-reduction flags over an acyclic (child, parent) edge
    set — the ontology-maintenance pass that finds ASSERTED edges
    already implied by the rest of the hierarchy (a subClassOf edge to
    a grandparent when the parent chain already reaches it): an edge
    (a, c) is redundant iff the closure holds a path a -> c of depth
    >= 2. Emits every edge with an is_redundant flag rather than
    silently dropping — the cleaner decides; a KG diff against the
    flagged set is the "axiom bloat" report.

    Scale shape: one semi-naive closure (taxonomy_closure — per-round
    work bounded by the delta, rounds = hierarchy depth), then one
    distinct on the depth>=2 pairs and one co-partitioned left join
    back onto the edges. On DAG inputs the closure enumerates one row
    per PATH; path multiplicity is bounded by the shortcut density on
    a chain (2^k for k shortcut edges along one ancestor chain), and
    the early distinct collapses it before the join.
    """
    e = edges.select("child", "parent").localCheckpoint(eager=False)
    clo = taxonomy_closure(e)
    red = (clo.where(F.col("depth") >= 2)
           .select("child", F.col("anc").alias("parent"))
           .distinct()
           .withColumn("_r", F.lit(1)))
    return (
        e.join(red, ["child", "parent"], "left")
        .select("child", "parent",
                F.coalesce(F.col("_r"), F.lit(0)).cast("int")
                .alias("is_redundant"))
    )


def reciprocity(triples: DataFrame) -> DataFrame:
    """Per-predicate dyad census over the directed canonical triple
    set — how often does pred(a, b) come with pred(b, a)? The KG
    symmetry readout behind inverse-predicate mining and schema
    review (a near-1.0 predicate is de-facto symmetric; near-0 is a
    true direction). Per pred: directed edge count (self-loops
    dropped), mutual-edge count, distinct unordered dyads, mutual
    dyads, and reciprocity = mutual edges / edges on the ppm grid.

    Scale shape: one distinct over (pred, s, o), checkpointed so its
    two consumers (the edge set and its reversal) share one
    derivation; the reversal join is an equi-join on (pred, s, o) —
    shuffle-partitioned by the same key on both sides, no broadcast
    needed and no fan-out (both sides are distinct sets). All-BIGINT
    counts; the mutual-edge count is even by construction so the dyad
    count is an exact DIV 2.
    """
    e = (
        triples.select("pred", F.col("subj").alias("s"),
                       F.col("obj").alias("o"))
        .where(F.col("s") != F.col("o"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    rev = e.select("pred", F.col("o").alias("s"), F.col("s").alias("o"),
                   F.lit(1).alias("_m"))
    flagged = e.join(rev, ["pred", "s", "o"], "left")
    return (
        flagged.groupBy("pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"),
             F.coalesce(F.sum("_m"), F.lit(0)).cast("long")
             .alias("n_mutual_edges"),
             F.countDistinct(F.least("s", "o"), F.greatest("s", "o"))
             .cast("long").alias("n_dyads"))
        .select(
            "pred", "n_edges", "n_mutual_edges", "n_dyads",
            F.expr("CAST(n_mutual_edges DIV 2 AS BIGINT)")
            .alias("n_mutual_dyads"),
            F.expr("CAST((n_mutual_edges * 1000000) DIV n_edges AS BIGINT)")
            .alias("reciprocity_ppm"),
        )
    )


RICH_CLUB_LADDER = (1, 2, 4, 8, 16)


def rich_club(edges: DataFrame,
              ladder: tuple = RICH_CLUB_LADDER) -> DataFrame:
    """Rich-club coefficient profile (Zhou & Mondragon 2004) over the
    undirected entity graph: for each degree threshold k in the
    ladder, the club is the nodes with degree > k, and phi(k) =
    2*E_club / (N_club*(N_club-1)) — do hubs preferentially wire to
    each other? The skew readout that complements assortativity (a
    correlation) with an absolute density at the top of the degree
    distribution.

    Scale shape: the undirected distinct edge set is checkpointed
    once and feeds the degree table and the per-edge endpoint-degree
    join (two equi-joins on the node key — at 1e12 edges these are
    the same shuffles every degree-keyed operator pays); the ladder
    is a plan literal exploded per row (|ladder| small constant), and
    both rollups are map-side-combined groupBys on |ladder| rows.
    phi rides the ppm grid; clubs smaller than 2 nodes report 0.
    """
    und = (
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("d"))
        .localCheckpoint(eager=False)
    )
    lad = F.array(*[F.lit(int(k)) for k in ladder])
    node_k = (
        deg.select(F.explode(lad).alias("k"), "d")
        .where(F.col("d") > F.col("k"))
        .groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n_club"))
    )
    edge_k = (
        und.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")),
                 "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")),
              "b")
        .select(F.explode(lad).alias("k"),
                F.least("da", "db").alias("dmin"))
        .where(F.col("dmin") > F.col("k"))
        .groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("e_club"))
    )
    base = local_frame(edges.sparkSession, [(int(k),) for k in ladder], "k int")
    return (
        base.join(node_k, "k", "left").join(edge_k, "k", "left")
        .select(
            F.col("k").cast("long").alias("k"),
            F.coalesce("n_club", F.lit(0)).cast("long").alias("n_club"),
            F.coalesce("e_club", F.lit(0)).cast("long").alias("e_club"),
            F.expr("CASE WHEN coalesce(n_club, 0) >= 2 THEN "
                   "CAST((2 * coalesce(e_club, 0) * 1000000)"
                   " DIV (coalesce(n_club, 0) * (coalesce(n_club, 0) - 1))"
                   " AS BIGINT) ELSE CAST(0 AS BIGINT) END")
            .alias("phi_ppm"),
        )
    )


def degree_centralization(edges: DataFrame) -> DataFrame:
    """Freeman degree-centralization index (Freeman 1978) over the
    undirected entity graph — the one-row "how star-shaped is this
    network" readout: C_D = sum(d_max − d_i) / ((n−1)(n−2)),
    1.0 for a perfect star, 0.0 for any regular graph. The companion
    to the degree histogram: one number a monitoring dashboard can
    threshold, where the histogram needs a human.

    All-BIGINT: the numerator is n*d_max − sum(d) (algebraically
    identical to the per-node sum, but needs only the 1-row max and
    sum aggregates — no second pass), the denominator (n−1)(n−2), and
    the index rides the ppm grid via one tie-free DIV. One distinct
    edge set, one degree groupBy, one 1-row agg. Graphs with n < 3
    report 0 (the index is undefined below a triangle's node count).
    """
    und = (
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    return (
        deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
                F.sum("d").cast("long").alias("sum_deg"),
                F.max("d").cast("long").alias("max_deg"))
        .select(
            "n_nodes", "sum_deg", "max_deg",
            F.expr("CASE WHEN n_nodes >= 3 THEN "
                   "CAST((2 * (n_nodes * max_deg - sum_deg) * 1000000"
                   " + (n_nodes - 1) * (n_nodes - 2))"
                   " DIV (2 * (n_nodes - 1) * (n_nodes - 2)) AS BIGINT)"
                   " ELSE CAST(0 AS BIGINT) END")
            .alias("centralization_ppm"),
        )
    )


def triad_census(edges: DataFrame) -> DataFrame:
    """Directed 2-path closure census (the transitivity/cyclicity core
    of the Holland–Leinhardt triad census): over the distinct directed
    edge set, count open 2-paths a→b→c (a≠c), the ones closed
    transitively (edge a→c exists) and the ones closed cyclically
    (edge c→a exists), plus the two closure rates in exact ppm. Each
    TRANSITIVE triangle contributes one closed path per spanning
    2-path; each pure 3-cycle is counted once per rotation (3x) —
    documented counting convention, matching the SQL oracle verbatim.

    Scale shape: the 2-path self-join shuffles once on the shared
    middle vertex b — the standard deg² path-enumeration cost, same
    envelope as triangle counting — and each closure probe is one
    further join keyed on the (endpoint, endpoint) pair against the
    distinct edge set. Skewed middles amortize under AQE skew-join;
    hub caps belong to the caller (link_prediction's hub_cap pattern)
    when degree distributions are Zipf at corpus scale. All counts are
    order-independent BIGINT sums; ratios are integer-division ppm."""
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=False)
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    paths = e1.join(e2, "b").where(F.col("a") != F.col("c"))
    closed_t = paths.join(
        e.select(F.col("src").alias("a"), F.col("dst").alias("c")),
        ["a", "c"], "left_semi")
    closed_c = paths.join(
        e.select(F.col("src").alias("c"), F.col("dst").alias("a")),
        ["a", "c"], "left_semi")
    counts = (
        paths.select(F.lit(1).alias("k")).groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_2paths"))
        .join(closed_t.select(F.lit(1).alias("k"))
              .groupBy("k")
              .agg(F.count(F.lit(1)).cast("long").alias("n_transitive")),
              "k", "left")
        .join(closed_c.select(F.lit(1).alias("k"))
              .groupBy("k")
              .agg(F.count(F.lit(1)).cast("long").alias("n_cyclic")),
              "k", "left")
    )
    return counts.select(
        "n_2paths",
        F.coalesce("n_transitive", F.lit(0)).cast("long")
        .alias("n_transitive"),
        F.coalesce("n_cyclic", F.lit(0)).cast("long").alias("n_cyclic"),
        F.expr("coalesce(n_transitive, 0) * 1000000 DIV n_2paths")
        .cast("long").alias("transitivity_ppm"),
        F.expr("coalesce(n_cyclic, 0) * 1000000 DIV n_2paths")
        .cast("long").alias("cyclicity_ppm"),
    )


def bowtie_regions(edges: DataFrame, labels: DataFrame | None = None,
                   max_rounds: int = 64) -> DataFrame:
    """Bow-tie decomposition of a directed graph (Broder et al.,
    "Graph structure in the Web" — the canonical macro-shape readout
    for web-scale knowledge graphs): collapse SCCs (from ``scc``),
    take the LARGEST component as the CORE (ties -> smaller scc_id),
    and classify every component as core / in (reaches the core) /
    out (reached from the core) / other (tendrils, tubes and
    disconnected mass, reported as one bucket). A component that both
    reaches and is reached by the core would be IN the core by SCC
    maximality, so the regions are disjoint by construction.

    Reachability runs on the CONDENSATION (component quotient), not
    the entity graph — after the SCC pass the quotient is orders of
    magnitude smaller than the corpus and acyclic, so the semi-naive
    frontier expansion below does O(|quotient closure|) total join
    work in rounds = DAG depth, each from a localCheckpoint'ed
    frontier. The one driver-side collect is the single core-id row;
    per-round actions are scalar counts (under the driver cap the whole
    readout runs on collected rows instead). Raises rather than
    truncating if ``max_rounds`` is exceeded.

    Output: (region, n_components, n_entities) — at most four rows.
    """
    lab = (scc(edges).select("entity", "scc_id") if labels is None
           else labels).localCheckpoint(eager=False)
    ced = (
        edges.join(lab.select(F.col("entity").alias("src"),
                              F.col("scc_id").alias("a")), "src")
        .join(lab.select(F.col("entity").alias("dst"),
                         F.col("scc_id").alias("b")), "dst")
        .where(F.col("a") != F.col("b"))
        .select("a", "b").distinct()
        .localCheckpoint()
    )
    comps = (lab.groupBy("scc_id")
             .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
             .localCheckpoint())
    spark = edges.sparkSession

    # size-adaptive (round 6): under the driver cap (quotient edges and
    # components both) the core pick and both reachability closures
    # run on the collected rows, one BFS each, instead of rounds x 3
    # jobs of semi-naive frontier expansion; the distributed loop
    # below is the at-scale fallback.
    q = driver_rows(ced)
    cs = driver_rows(comps) if q is not None else None
    if cs is not None:
        if not cs:
            raise ValueError("bowtie_regions: empty edge set has no core")
        core = min(cs, key=lambda r: (-r[1], r[0]))[0]
        fwd: dict = {}
        bwd: dict = {}
        for a, b in q:
            fwd.setdefault(a, []).append(b)
            bwd.setdefault(b, []).append(a)

        def _bfs(adj: dict) -> set:
            seen = {core}
            frontier = [core]
            while frontier:
                nxt = []
                for v in frontier:
                    for w in adj.get(v, ()):
                        if w not in seen:
                            seen.add(w)
                            nxt.append(w)
                frontier = nxt
            return seen

        inset, outset = _bfs(bwd), _bfs(fwd)
        regions: dict = {}
        for v, n in cs:
            r = ("core" if v == core else "in" if v in inset
                 else "out" if v in outset else "other")
            nc, ne = regions.get(r, (0, 0))
            regions[r] = (nc + 1, ne + n)
        return local_frame(
            spark, [(r, nc, ne) for r, (nc, ne) in regions.items()],
            "region string, n_components long, n_entities long")
    core_rows = (comps.orderBy(F.col("n_members").desc(),
                               F.col("scc_id"))
                 .select("scc_id").limit(1).collect())
    if not core_rows:
        raise ValueError("bowtie_regions: empty edge set has no core")
    core = core_rows[0][0]

    def _closure(quot: DataFrame) -> DataFrame:
        # semi-naive forward closure from the core over quotient edges
        reach = (spark.range(1).select(F.lit(core).alias("v"))
                 .localCheckpoint())
        frontier = reach
        for _ in range(max_rounds):
            new = (
                quot.join(frontier.select(F.col("v").alias("a")), "a")
                .select(F.col("b").alias("v")).distinct()
                .join(reach, "v", "left_anti")
                .localCheckpoint()
            )
            if new.limit(1).count() == 0:
                return reach
            reach = reach.union(new).localCheckpoint()
            frontier = new
        raise RuntimeError(
            f"bowtie_regions: quotient closure exceeded {max_rounds} "
            "rounds; raise max_rounds")

    outset = _closure(ced)
    inset = _closure(ced.select(F.col("b").alias("a"),
                                F.col("a").alias("b")))
    return (
        comps
        .join(inset.select(F.col("v").alias("scc_id"),
                           F.lit(1).alias("in_f")), "scc_id", "left")
        .join(outset.select(F.col("v").alias("scc_id"),
                            F.lit(1).alias("out_f")), "scc_id", "left")
        .select(
            F.when(F.col("scc_id") == F.lit(core), "core")
            .when(F.col("in_f") == 1, "in")
            .when(F.col("out_f") == 1, "out")
            .otherwise("other").alias("region"),
            "n_members")
        .groupBy("region")
        .agg(F.count(F.lit(1)).cast("long").alias("n_components"),
             F.sum("n_members").cast("long").alias("n_entities"))
    )


def walk_skipgram_pairs(edges: DataFrame, walks_per_node: int = 2,
                        walk_len: int = 3, window: int = 2,
                        walks: DataFrame | None = None) -> DataFrame:
    """Skip-gram (center, context) training pairs from the
    deterministic DeepWalk corpus (random_walks above) — the
    word2vec-style preprocessing step between walk generation and an
    embedding trainer: every ordered pair of walk positions within
    ``window`` steps of each other becomes one co-occurrence, counted
    across the whole corpus with word2vec's harmonic distance
    down-weighting on the BIGINT unit grid (w = UNIT div |dist| —
    exact, so the weighted counts are partition-order independent).

    Returns (center, context, n_pairs, w_units) with context != center
    positions (self-pairs at distance 0 are excluded by construction;
    a node co-occurring with ITSELF at distance >= 1 — a revisit —
    does count, as in word2vec).

    Scale shape: the only join is the per-walk self-join keyed on
    walk_id; a walk holds at most walk_len+1 rows, so each walk emits
    O(walk_len * window) pairs — linear in corpus size with a
    constant factor, never quadratic in anything data-dependent. The
    walk corpus is checkpointed once and both sides of the self-join
    read the materialized rows; the final count is one map-side
    combined groupBy.
    """
    # ``walks`` lets callers pass the already-materialized walk corpus
    # (kg_random_walks' persisted stage) — identical rows by
    # construction since the walks are deterministic hash choices.
    if walks is None:
        walks = random_walks(edges, walks_per_node=walks_per_node,
                             walk_len=walk_len)
    walks = walks.localCheckpoint(eager=False)
    a = walks.select("walk_id", F.col("step").alias("si"),
                     F.col("entity").alias("center"))
    b = walks.select("walk_id", F.col("step").alias("sj"),
                     F.col("entity").alias("context"))
    return (
        a.join(b, "walk_id")
        .where((F.col("si") != F.col("sj"))
               & (F.abs(F.col("si") - F.col("sj")) <= window))
        .select("center", "context",
                F.abs(F.col("si") - F.col("sj")).alias("dist"))
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
             F.sum(F.expr(f"{UNIT} div dist")).cast("long")
             .alias("w_units"))
    )


def dev_sample_report(triples: DataFrame, rate_den: int = 4) -> DataFrame:
    """Node-induced dev-subgraph sampling report — the planning read
    before cutting a small faithful dev corpus out of a 100 TB graph:
    entities are kept by a deterministic hash gate (md5 % rate_den ==
    0), an edge survives iff BOTH endpoints are kept, and the per-
    predicate retention shows the rate^2 coupling node sampling
    induces on edges (a 1/4 node sample keeps ~1/16 of edges — the
    non-obvious budget number this report exists to surface; hub-heavy
    predicates retain more than the square law predicts).

    The keep gate is a pure column expression (portable.md5_mod), so
    the sample is identical under any partitioning and in the SQL
    twin — no RNG state, the repo-wide distributed-reproducibility
    discipline. One scan, one map-side-combined groupBy; no joins.
    """
    from deepref_spark import portable

    kept = (F.expr(portable.md5_mod("subj_canon", rate_den)) == 0) & (
        F.expr(portable.md5_mod("obj_canon", rate_den)) == 0)
    return (
        triples.select("pred", kept.cast("long").alias("k"))
        .groupBy("pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"),
             F.sum("k").cast("long").alias("n_kept"))
        .select("pred", "n_edges", "n_kept",
                F.expr("n_kept * 1000000 div n_edges").cast("long")
                .alias("kept_ppm"))
    )


def weighted_pagerank(wedges: DataFrame, iters: int = 3) -> DataFrame:
    """Evidence-weighted PageRank: transitions proportional to edge
    weight (here: triple support counts) instead of uniform — the
    centrality a KG-construction pipeline actually wants, where an
    edge asserted by 40 documents should carry 40x the mass of a
    single-extraction edge. Same integer unit grid as pagerank:
    contribution(src->dst) = (u(src) * w) div W(src) with W the src's
    total out-weight — BIGINT floor division, so the iterate is
    bit-identical under any partitioning and in the oracle. Dangling
    mass dropped (same documented simplification as pagerank).

    wedges: (src, dst, w) with w a positive BIGINT; parallel edges
    should be pre-summed (one row per (src, dst)).
    """
    wedges = wedges.localCheckpoint(eager=False)
    nodes = (
        wedges.select(F.col("src").alias("entity"))
        .union(wedges.select(F.col("dst").alias("entity")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    ow = wedges.groupBy("src").agg(F.sum("w").cast("long").alias("wsum"))
    base = UNIT - (DAMP_NUM * UNIT) // DAMP_DEN
    pr = nodes.withColumn("u", F.lit(UNIT).cast("long"))
    for _ in range(iters):
        contrib = (
            wedges
            .join(pr.withColumnRenamed("entity", "src"), "src")
            .join(ow, "src")
            .select(
                F.col("dst").alias("entity"),
                F.expr("(u * w) div wsum").alias("c"),
            )
        )
        inflow = contrib.groupBy("entity").agg(F.sum("c").alias("inflow"))
        pr = (
            nodes.join(inflow, "entity", "left")
            .select(
                "entity",
                (F.lit(base)
                 + F.expr(f"({DAMP_NUM} * coalesce(inflow, 0L)) div {DAMP_DEN}")
                 ).cast("long").alias("u"),
            )
            .localCheckpoint(eager=False)
        )
    return pr.select(
        "entity",
        (F.col("u").cast("double") / F.lit(float(UNIT))).alias("pagerank"),
    )


def _log2_bucket_case(col: str, max_pow: int = 20) -> str:
    """floor(log2(d)) as a literal CASE ladder — identical expression
    text in Spark SQL and DuckDB (no log() call, no float)."""
    branches = " ".join(
        f"WHEN {col} < {1 << (p + 1)} THEN {p}" for p in range(max_pow))
    return f"CASE {branches} ELSE {max_pow} END"


def jdd_buckets(edges: DataFrame) -> DataFrame:
    """Joint degree distribution in log2 buckets — the structural
    readout BEHIND the single-number degree assortativity: for every
    undirected edge, the (unordered) pair of endpoint degree buckets.
    A hub-hub-heavy corner says the graph is assortative at the top;
    a hub-leaf ridge is the star/celebrity pattern that decides
    whether hub-capping (cooccurrence_pmi's per_doc_cap, the
    link-prediction hub_cap) will bite. Bucketing is an exact integer
    CASE ladder (no log()), so counts are engine-exact.

    One distinct-edge pass, one degree agg, two broadcast-joinable
    lookups, one grouped count — no windows, no self-joins.
    """
    und = (
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds degrees AND the lookup joins
    )
    dg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    bk = _log2_bucket_case("d")
    dgb = dg.select("v", F.expr(bk).cast("long").alias("bkt"))
    j = (
        und.join(dgb.select(F.col("v").alias("a"),
                            F.col("bkt").alias("ba")), "a")
        .join(dgb.select(F.col("v").alias("b"),
                         F.col("bkt").alias("bb")), "b")
    )
    return (
        j.select(F.least("ba", "bb").alias("b_lo"),
                 F.greatest("ba", "bb").alias("b_hi"))
        .groupBy("b_lo", "b_hi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )


def degree_gini(edges: DataFrame) -> DataFrame:
    """Gini coefficient of the undirected degree distribution — the
    hub-concentration SCALAR next to kg_degree_hist's buckets and
    kg_jdd_buckets' matrix: one number that tracks whether the graph
    is drifting toward celebrity hubs as the corpus grows (the
    condition under which the repo's hub-capping and skew-salting
    knobs start to matter). Same closed histogram form as
    events.engagement_gini: for degree value d with frequency f and F
    nodes below, the rank-weighted mass is d*f*(2F + f + 1) — exact
    BIGINT, no global sort, the cumulative window runs over the
    distinct-degree histogram only.
    """
    und = (
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    dg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    hist = dg.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("f"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    return (
        hist.withColumn(
            "fb", F.coalesce(F.sum("f").over(w), F.lit(0)).cast("long"))
        .agg(
            F.sum("f").cast("long").alias("n_nodes"),
            F.sum(F.col("d") * F.col("f")).cast("long").alias("sum_deg"),
            F.sum(F.col("d") * F.col("f")
                  * (2 * F.col("fb") + F.col("f") + 1)).cast("long")
            .alias("u_units"),
        )
        .select(
            "n_nodes", "sum_deg",
            F.expr("(u_units - (n_nodes + 1) * sum_deg) * 1000000 "
                   "DIV greatest(1, n_nodes * sum_deg)").cast("long")
            .alias("gini_ppm"),
        )
    )
