"""Entity linking + canonicalization (SURVEY.md §2.8 — new operators
with no reference counterpart; the reference receives gold entity ids).

Stages:
  1. surface forms -> char-ngram shingles -> MinHash band signatures
     (built-in expressions only: the minhash is a min-aggregate of a
     deterministic md5-based hash over the shingle array, so it runs
     inside whole-stage codegen and is reproducible in the DuckDB
     oracle — portable.md5_mod is the shared formula);
  2. LSH blocking: self-join on (band, signature) — candidate pairs
     only within blocks, never the quadratic all-pairs;
  3. edge filter: exact Jaccard over shingle sets on candidates only;
  4. connected components: iterative min-label propagation (small-star
     style) with localCheckpoint every few rounds to cut lineage —
     driver-controlled loop, executor-side joins;
  5. canonical id = lexicographically smallest member of the component.

Both CC and the whole map are size-adaptive under the one driver gate
(``driver_rows``): ``connected_components`` solves an edge set under
the cap with driver union-find, and ``canonical_map`` computes stages
1-5 on the driver when the distinct names and their blocks' candidate
pairs fit the cap. Every driver twin here hands its rows back through
``session.local_frame``: a LocalRelation whose exact size the planner
sees, so a map of a few thousand names is broadcast as it is and
reading it starts no Python worker. ``canonical_map``'s distributed
branch returns a lazy local checkpoint instead, so its callers read
the LSH and CC plan once.

Skew: the hot-entity head of the distribution makes the joins of the
map back onto the triples skewed; ``pipeline.triples_from_scored``
broadcasts the map when ``size_gated_broadcast`` proves it small and
otherwise leaves the shuffle join to AQE's skew-join splitting.
"""

from __future__ import annotations

from collections import defaultdict
from functools import cache
from itertools import combinations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

from deepref_spark.portable import md5_mod
from deepref_spark.refsem import md5_mod_py
from deepref_spark.session import local_frame

N_BANDS = 4
NGRAM = 3
HASH_SPACE = 1_000_003


def shingles_expr(col: str, n: int = NGRAM) -> str:
    """char n-gram array of a padded surface form (built-in only)."""
    padded = f"concat('^', {col}, '$')"
    return (
        f"transform(sequence(1, greatest(1, length({padded}) - {n - 1})), "
        f"i -> substring({padded}, i, {n}))"
    )


def minhash_signatures(forms: DataFrame, name_col: str = "entity",
                       n_bands: int = N_BANDS) -> DataFrame:
    """One row per (entity, band) with the band's minhash — the
    aggregate-over-array form keeps everything JVM-side."""
    sh = forms.withColumn("shingles", F.expr(shingles_expr(name_col)))
    bands = []
    for b in range(n_bands):
        h = md5_mod(f"concat('{b}:', s)", HASH_SPACE)
        bands.append(
            f"aggregate(shingles, {HASH_SPACE}, (acc, s) -> least(acc, {h})) as band_{b}"
        )
    sig = sh.selectExpr(name_col, "shingles", *bands)
    stacked = sig.selectExpr(
        name_col, "shingles",
        "stack({n}, {pairs}) as (band, sig)".format(
            n=n_bands,
            pairs=", ".join(f"{b}, band_{b}" for b in range(n_bands)),
        ),
    )
    return stacked


def candidate_pairs(signatures: DataFrame, name_col: str = "entity") -> DataFrame:
    """Self-join within (band, sig) blocks; a < b dedups the pair space.
    AQE's skew-join handles hot blocks."""
    left = signatures.select(
        F.col("band"), F.col("sig"),
        F.col(name_col).alias("a"), F.col("shingles").alias("sh_a"),
    )
    right = signatures.select(
        F.col("band"), F.col("sig"),
        F.col(name_col).alias("b"), F.col("shingles").alias("sh_b"),
    )
    return (
        left.join(right, ["band", "sig"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "sh_a", "sh_b")
        .dropDuplicates(["a", "b"])
    )


def similarity_edges(pairs: DataFrame, threshold: float = 0.6) -> DataFrame:
    """Exact shingle-set Jaccard on the blocked candidates only."""
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        pairs.withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


# Row count up to which an operator solves on the driver instead of
# running its distributed loop. Same design as a broadcast join (which
# also collects a bounded side to the driver). Sized for PYTHON-HEAP
# reality, not raw bytes: 200k collected rows with string ids cost
# ~50-80 MB transiently (row tuples + the twins' dicts + the output
# list are each several hundred bytes/entry in CPython — ~10x the
# serialized size), which keeps a default-sized driver safe. The conf
# key ``deepref.driver.max_rows`` overrides it for every driver twin.
DRIVER_MAX_ROWS = 200_000


def driver_max_rows(spark) -> int:
    """The driver cap: ``deepref.driver.max_rows``, else DRIVER_MAX_ROWS."""
    return int(spark.conf.get("deepref.driver.max_rows", str(DRIVER_MAX_ROWS)))


def driver_rows(df: DataFrame) -> list[tuple] | None:
    """The collected rows of ``df`` when the caller may solve on the
    driver, else None (take the distributed path) — the one size gate
    of every driver twin. One count() against ``deepref.driver.max_rows``
    (it doubles as the materialization action for a caller's lazy
    localCheckpoint, so the upstream runs once whichever path is taken),
    then one collect(). A NULL anywhere also returns None: Python's
    ``<`` and dict lookups do not follow SQL NULL semantics, so the
    distributed path stays the one answer for such input."""
    if df.count() > driver_max_rows(df.sparkSession):
        return None
    rows = [tuple(r) for r in df.collect()]
    if any(v is None for r in rows for v in r):
        return None
    return rows


def union_find(pairs) -> dict:
    """node -> minimum member of its component, for every node of an
    (a, b) edge list: union-find with path compression, the driver
    solve behind both ``connected_components`` and ``canonical_map``.
    At driver-cap size the distributed loop pays seconds of per-round
    stage scheduling to do milliseconds of work; a production cluster
    makes the identical trade every time it broadcasts a join side."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for x in parent:
        r = find(x)
        m = comp_min.get(r)
        if m is None or x < m:
            comp_min[r] = x
    return {x: comp_min[find(x)] for x in parent}


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """(a, b) undirected edges -> (entity, component) with component =
    min member label.

    Size-adaptive: under the driver cap (``driver_rows``) the graph is
    solved with driver union-find — the broadcast-join trade, measured
    ~40x faster than the loop at the few-thousand-edge scale the
    flagship produces.
    Above it, distributed min-label propagation accelerated with
    POINTER DOUBLING (component := component[component], Shiloach-
    Vishkin style): chains collapse in O(log diameter) planned rounds
    instead of O(diameter) hops, so a 10^6-long boilerplate chain
    converges in ~20 rounds rather than silently exhausting the budget.
    Raises RuntimeError if max_iter rounds still have not converged —
    never returns a half-merged labelling. Lineage cut via
    localCheckpoint per round (SURVEY.md §4.2).

    Null endpoints are dropped up front: the distributed path would
    silently lose them in join semantics while the driver union-find's
    Python ``<`` would raise on None — filtering makes both paths
    agree (an edge with a null side is no edge)."""
    # the symmetrization union reads `edges` twice — stage it so callers'
    # (possibly expensive) edge pipelines run once
    edges = (
        edges.select("a", "b")
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .localCheckpoint(eager=False)
    )
    spark = edges.sparkSession
    rows = driver_rows(edges)
    if rows is not None:
        node_t = edges.schema[0].dataType
        schema = StructType([StructField("entity", node_t, False),
                             StructField("component", node_t, False)])
        return local_frame(spark, list(union_find(rows).items()), schema)

    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = (
        sym.select(F.col("a").alias("entity"))
        .union(sym.select(F.col("b").alias("entity")))
        .distinct()
        .withColumn("component", F.col("entity"))
    )
    sym = sym.localCheckpoint(eager=False)
    labels = labels.localCheckpoint(eager=False)

    def one_hop(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            sym.join(lbl, sym["b"] == lbl["entity"])
            .groupBy(F.col("a").alias("entity"))
            .agg(F.min("component").alias("n_comp"))
        )
        return (
            lbl.join(neighbor_min, "entity", "left")
            .select(
                "entity",
                F.least(F.col("component"), F.coalesce("n_comp", "component")).alias("component"),
                # convergence flag computed in the SAME pass — a second
                # labels-sized probe join per round costs a full stage
                (F.coalesce("n_comp", "component") < F.col("component")).alias("_changed"),
            )
        )

    def pointer_double(lbl: DataFrame) -> DataFrame:
        """component := min(component, component[component]). Component
        values are always entity labels, so the self-join resolves."""
        ptr = lbl.select(F.col("entity").alias("_pe"), F.col("component").alias("_pc"))
        return (
            lbl.join(ptr, lbl["component"] == ptr["_pe"], "left")
            .select(
                "entity",
                F.least(lbl["component"], F.coalesce("_pc", lbl["component"])).alias("component"),
                "_changed",
            )
        )

    for i in range(max_iter):
        # two propagation hops + one doubling per planned round:
        # planning/checkpoint/action are per-ROUND fixed costs (the
        # dominant cost at the small-graph end, measured), so batching
        # work per round amortizes them. Min-label propagation is
        # monotone, so the LAST HOP's no-change flag alone certifies
        # the fixed point (a stable min labelling is constant on each
        # component); the doubling after it only accelerates — its
        # changes never un-certify a stable hop.
        hop1 = one_hop(labels).drop("_changed")
        hop2 = one_hop(hop1)
        new_labels = pointer_double(hop2).localCheckpoint(eager=False)
        changed = new_labels.agg(F.max(F.col("_changed").cast("int"))).first()[0]
        labels = new_labels.drop("_changed")
        if not changed:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        f"({edges.count()} edges); raise max_iter — a silent partial merge "
        f"would corrupt every downstream canonical id"
    )


def _driver_canonical(names: list, threshold: float, max_pairs: int) -> list | None:
    """The whole canonical map solved on the driver over the collected
    distinct names: the same shingles, band minhashes, blocks, Jaccard
    edges and component minima as the distributed path, row for row
    (Python ``str`` order is Spark's UTF-8 binary order). None when the
    blocks would enumerate more than ``max_pairs`` candidate pairs —
    sized from the block sizes before any pair exists, since blocks
    grow with the vocabulary and the name count alone does not bound
    the work."""
    shingles = {}
    for e in names:
        p = f"^{e}$"
        shingles[e] = {p[i:i + NGRAM] for i in range(max(1, len(p) - (NGRAM - 1)))}

    @cache
    def band_hash(b, s):
        return md5_mod_py(f"{b}:{s}", HASH_SPACE)

    blocks = defaultdict(list)
    for e, sh in shingles.items():
        for b in range(N_BANDS):
            blocks[(b, min(HASH_SPACE, *(band_hash(b, s) for s in sh)))].append(e)
    if sum(len(m) * (len(m) - 1) // 2 for m in blocks.values()) > max_pairs:
        return None
    pairs = {ab for m in blocks.values() for ab in combinations(sorted(m), 2)}
    comp = union_find(
        (a, b) for a, b in pairs
        if len(shingles[a] & shingles[b]) / len(shingles[a] | shingles[b]) >= threshold)
    return [(e, comp.get(e, e)) for e in names]


def canonical_map(entities: DataFrame, name_col: str = "entity",
                  threshold: float = 0.6) -> DataFrame:
    """entity -> canonical entity (component min). Singletons map to
    themselves.

    Size-adaptive like ``connected_components``: when the distinct
    names pass ``driver_rows`` and their blocks' candidate pairs fit
    the same cap, ``_driver_canonical`` computes the whole map from one
    collect — no minhash, self-join, CC loop or join back. Otherwise
    (more names or pairs, a NULL name, a non-string column) the
    distributed path below."""
    ents = entities.select(F.col(name_col).alias("entity")).distinct().localCheckpoint(eager=False)
    spark = ents.sparkSession
    rows = driver_rows(ents) if ents.schema[0].dataType == StringType() else None
    if rows is not None:
        canon = _driver_canonical([e for (e,) in rows], threshold, driver_max_rows(spark))
        if canon is not None:
            return local_frame(spark, canon, "entity string, canonical string")
    # signatures feed BOTH sides of the LSH self-join — stage them so
    # the shingle/minhash derivation runs once, not per join side
    sigs = minhash_signatures(ents).localCheckpoint(eager=False)
    edges = similarity_edges(candidate_pairs(sigs), threshold)
    comps = connected_components(edges)
    # staged (lazily) so a caller's size count and join reads run the
    # LSH and CC plan once; the driver map above needs no staging
    return (
        ents.join(comps, "entity", "left")
        .select("entity", F.coalesce("component", "entity").alias("canonical"))
        .localCheckpoint(eager=False)
    )


def size_gated_broadcast(df: DataFrame, conf_key: str = "deepref.broadcast.max_entities",
                         default_limit: int = 1_000_000) -> tuple[DataFrame, int]:
    """Broadcast-hint ``df`` only when it is provably small.

    At 100 TB the distinct-entity table is NOT broadcast-sized, so an
    unconditional F.broadcast() (the round-1 shape) would OOM every
    executor; above the configured row limit the plain shuffle join
    (AQE handles skew) is the right plan. The count() is an action on
    what callers should already have cached/checkpointed. Returns
    (possibly-hinted df, row count)."""
    limit = int(df.sparkSession.conf.get(conf_key, str(default_limit)))
    n = df.count()
    if n <= limit:
        return F.broadcast(df), n
    return df, n


def incremental_components(labels: DataFrame, new_edges: DataFrame,
                           max_iter: int = 20) -> DataFrame:
    """Incremental connected-components maintenance: fold a NEW batch
    of undirected edges into an EXISTING (entity, component) labelling
    WITHOUT re-running CC over the full edge history — the continuous-
    ingest complement of connected_components, the same role
    dedup.incremental_dedup plays for the keep-map.

    The union graph's components equal the components of the CONTRACTED
    graph: collapse every existing component to its label, rewrite each
    new edge endpoint to its component label (entities unseen so far
    keep their own name — singleton components), and solve CC on that
    contracted edge set. The contracted graph is bounded by the NEW
    batch size (one edge per new edge), never the accumulated history;
    the rewrite is two hash joins against the label table — the same
    keyed lookup an ingest pipeline already pays. Expansion back is one
    join of the old labelling onto the contracted result. Equality with
    full-history CC is pinned by test (and follows from contraction
    preserving connectivity).
    """
    labels = labels.localCheckpoint(eager=False)  # rewrite + expansion
    la = labels.select(F.col("entity").alias("a"), F.col("component").alias("ca"))
    lb = labels.select(F.col("entity").alias("b"), F.col("component").alias("cb"))
    contracted = (
        new_edges.select("a", "b")
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .join(la, "a", "left").join(lb, "b", "left")
        .select(F.coalesce("ca", F.col("a")).alias("a"),
                F.coalesce("cb", F.col("b")).alias("b"))
    )
    merged = connected_components(contracted, max_iter=max_iter)
    # expand: every old member follows its old component's new label;
    # old components untouched by the batch keep their label (left join)
    old = (
        labels.join(
            merged.select(F.col("entity").alias("component"),
                          F.col("component").alias("new_c")),
            "component", "left")
        .select("entity", F.coalesce("new_c", F.col("component")).alias("component"))
    )
    # new entities first seen in this batch (not in the old labelling)
    new_only = (
        merged.join(labels.select(F.col("entity")), "entity", "left_anti")
        .select("entity", "component")
    )
    return old.union(new_only)


def editdist_verify(candidates: DataFrame, max_dist: int = 2) -> DataFrame:
    """Edit-distance verification of blocked candidate pairs — the ER
    verify stage for surface forms whose variation is typographic
    rather than token-level (where shingle-Jaccard under-scores short
    names). Input: (a, b) candidate pairs from the banded self-join;
    output: (a, b, dist) for levenshtein(a, b) <= max_dist.

    Scale shape: levenshtein is O(len^2) per pair, so it runs ONLY on
    the LSH-blocked candidates (the same contract as similarity_edges)
    — never a corpus cross product. Both engines expose the identical
    built-in, so the verify is SQL-twin-exact."""
    return (
        candidates.select("a", "b",
                          F.levenshtein("a", "b").cast("int").alias("dist"))
        .where(F.col("dist") <= max_dist)
    )


def fellegi_sunter(entities: DataFrame, name_col: str = "entity",
                   m_probs: tuple = (0.95, 0.9, 0.8),
                   match_ratio: float = 100.0,
                   possible_ratio: float = 1.0) -> DataFrame:
    """Fellegi-Sunter (1969) probabilistic record-linkage scoring over
    blocked surface-form pairs, with the u-probabilities estimated
    EXACTLY from the data (the standard random-pair estimator made
    exact): for each comparison field f, u_f = P(agree_f | random
    pair) = sum_v c_v(c_v-1) / n(n-1) over the field's value
    histogram — grouped integer counts, no sampling, no EM. The three
    fields are equality keys so that estimator applies: (1) the
    alnum-normalized surface, (2) the first whitespace token, (3) the
    normalized-length quartile bucket. m-probabilities are the fixed
    priors ``m_probs`` (the standard practice when no labeled match
    set exists; swap in EM estimates without touching the dataflow).

    The per-pair score is the LIKELIHOOD RATIO prod_f (agree ? m_f/u_f
    : (1-m_f)/(1-u_f)) — deliberately NOT the classical log2 weight:
    +,-,*,/ on doubles are IEEE-exact and bit-identical across
    engines, while transcendental log2 differs in the last ulp between
    libm implementations and would poison the cross-engine hash. The
    ratio is monotone with the log weight, so the match/possible/
    non-match decision bands are unchanged in meaning.

    Scale shape: candidates come from first-character blocking over
    the bounded DISTINCT-surface table (swap in minhash bands above
    ~1e6 surfaces — candidate_pairs() is the drop-in); the three
    u-estimates are grouped aggs crossJoined back as ONE broadcast
    1-row literal; zero driver collects."""
    norm = F.regexp_replace(F.col(name_col), "[^a-z0-9]", "")
    ents = (
        entities.select(
            F.col(name_col).alias("entity"),
            norm.alias("f1"),
            F.split(F.col(name_col), " ").getItem(0).alias("f2"),
            # DIV, not /-then-cast: DuckDB CAST(double AS BIGINT)
            # rounds while Spark truncates — integer division agrees
            F.expr(f"length(regexp_replace({name_col}, '[^a-z0-9]', ''))"
                   " DIV 4").cast("long").alias("f3"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # u-estimates + both join sides
    )

    def _agree_pairs(field):
        return (ents.groupBy(field)
                .agg(F.count(F.lit(1)).cast("long").alias("c"))
                .agg(F.sum(F.expr("c * (c - 1)")).cast("long")
                     .alias(f"ap_{field}")))

    n_tot = ents.agg(F.count(F.lit(1)).cast("long").alias("n"))
    stats = (n_tot
             .crossJoin(_agree_pairs("f1"))
             .crossJoin(_agree_pairs("f2"))
             .crossJoin(_agree_pairs("f3")))
    # u_f = agreeing ordered pairs / all ordered pairs, floored at one
    # agreeing pair so a field where nothing collides stays finite
    u_cols = [
        (F.greatest(F.col(f"ap_f{i}"), F.lit(1))
         / (F.col("n") * (F.col("n") - 1))).alias(f"u{i}")
        for i in (1, 2, 3)
    ]
    stats = stats.select(*u_cols)
    blocked = (
        ents.alias("x")
        .join(ents.alias("y"),
              F.expr("substring(x.f1, 1, 1) = substring(y.f1, 1, 1) "
                     "AND x.entity < y.entity"))
        .select(F.col("x.entity").alias("a"), F.col("y.entity").alias("b"),
                *[(F.col(f"x.f{i}") == F.col(f"y.f{i}"))
                  .cast("int").alias(f"agree{i}") for i in (1, 2, 3)])
    )
    scored = blocked.crossJoin(F.broadcast(stats))
    ratio = F.lit(1.0)
    for i, m in zip((1, 2, 3), m_probs):
        ratio = ratio * F.when(
            F.col(f"agree{i}") == 1, F.lit(m) / F.col(f"u{i}")
        ).otherwise(F.lit(1.0 - m) / (F.lit(1.0) - F.col(f"u{i}")))
    return (
        scored.select(
            "a", "b", "agree1", "agree2", "agree3",
            F.round(ratio, 6).alias("lr"),
            F.when(ratio >= match_ratio, "match")
            .when(ratio >= possible_ratio, "possible")
            .otherwise("non_match").alias("decision"),
        )
    )


def sorted_neighborhood_pairs(entities: DataFrame,
                              window: int = 3) -> DataFrame:
    """Multi-pass sorted-neighborhood ER blocking (Hernandez & Stolfo
    1995): sort the entity names on a blocking key, slide a window of
    ``window`` rows, and emit every pair that co-occurs in some window
    — the classic low-recall-risk complement to LSH blocking
    (minhash_lsh_pairs) for short strings, where shingle sets are too
    small to band reliably. Two passes with different keys (the
    standard multi-pass remedy for sort-boundary misses): the name
    itself, then the reversed name (suffix-sorted), so both
    prefix-typos and suffix-typos land adjacent in at least one pass.

    Scale shape: the global rank per pass comes from the two-phase
    ranked cumsum (metrics.global_ranked_cumsum — range repartition +
    per-partition window + broadcast offsets), NEVER a single-partition
    row_number window; the windowed pairing is an EQUI-join on
    rank+delta (delta exploded 1..window, so w small join copies, no
    range join, no window function over the pair space). Output is one
    row per unordered candidate pair with the number of passes that
    proposed it (2-pass agreement is a cheap match prior).
    """
    from deepref_spark.operators.metrics import global_ranked_cumsum

    # size-adaptive (round 6): the whole derivation is two sorted
    # walks + window pairing on the distinct entity VOCABULARY — exact
    # strings/integers, so under the driver cap (``driver_rows``) it
    # runs as one Python sort per pass (Python str order == Spark binary
    # UTF-8 order, and Python [::-1] == Spark reverse() — both reverse
    # characters); the two-phase ranked-cumsum path below stays the
    # at-scale shape. The gate counts RAW input rows (>= the distinct
    # count, so it is conservative) and dedupes on the driver —
    # collecting the raw projection is a narrow read, while counting
    # the distinct would pay the dedup shuffle before deciding to skip
    # it. A NULL entity takes the distributed path.
    raw = entities.select("entity").localCheckpoint(eager=False)
    spark = raw.sparkSession
    rows = driver_rows(raw)
    if rows is not None:
        import pyspark.sql.types as T

        names = sorted({r[0] for r in rows})
        w = int(window)
        pair_passes: dict = {}
        for pass_id, keyf in ((1, lambda e: e), (2, lambda e: e[::-1])):
            ranked = sorted(names, key=lambda e: (keyf(e), e))
            for i, lo in enumerate(ranked):
                for d in range(1, w + 1):
                    if i + d >= len(ranked):
                        break
                    hi = ranked[i + d]
                    pr = (lo, hi) if lo < hi else (hi, lo)
                    pair_passes.setdefault(pr, set()).add(pass_id)
        node_t = raw.schema["entity"].dataType
        schema = T.StructType([
            T.StructField("e1", node_t, False),
            T.StructField("e2", node_t, False),
            T.StructField("n_passes", T.LongType(), False),
        ])
        return local_frame(
            spark,
            [(a, b, len(ps)) for (a, b), ps in sorted(pair_passes.items())],
            schema)
    ent = raw.distinct()
    passes = []
    for pass_id, key_expr in ((1, "entity"), (2, "reverse(entity)")):
        ranked = global_ranked_cumsum(
            ent.select("entity", F.expr(key_expr).alias("k"),
                       F.lit(1).alias("one")),
            ["k", "entity"], "one",
        ).select("entity", "rk").localCheckpoint(eager=False)
        left = ranked.withColumn(
            "d", F.explode(F.expr(f"sequence(1, {int(window)})"))
        ).select(F.col("entity").alias("e_lo"),
                 (F.col("rk") + F.col("d")).alias("rk"))
        pair = (
            left.join(ranked, "rk")
            .select(
                F.least("e_lo", "entity").alias("e1"),
                F.greatest("e_lo", "entity").alias("e2"),
                F.lit(pass_id).alias("pass_id"),
            )
        )
        passes.append(pair)
    return (
        passes[0].unionAll(passes[1])
        .groupBy("e1", "e2")
        .agg(F.count_distinct("pass_id").cast("long").alias("n_passes"))
    )


def phonetic_blocks(surfaces: DataFrame) -> DataFrame:
    """Phonetic (Soundex) blocking over entity surface forms — the
    classic record-linkage blocking key next to the sorted-neighborhood
    and MinHash passes: surfaces that SOUND alike share a 4-char key
    (SMITH/SMYTH -> S530, ROBERT/RUPERT -> R163), so typo- and
    transliteration-variant spellings land in one block that the
    expensive verify stage (edit distance / Fellegi-Sunter) then
    scores. Report per block: the key, member count, the candidate
    pairs the block generates (C(n,2) — the verify-stage cost the
    blocking report exists to budget), and the sorted member list.

    The key is portable.soundex_from_letters — one formula text in
    both engines (the vowel-separator Soundex variant), keyed on a
    STAGED letters-only column so the regex chain runs once per
    surface. Unkeyable surfaces (no letters) are dropped explicitly.

    Scale shape: one distinct over the surface vocabulary, one
    map-side-combinable groupBy on the key; collect_set is bounded by
    the block fan-in (names per phonetic key), never the corpus. The
    pair count is reported, not materialized — the downstream verify
    join decides whether to expand a block or escalate it to a
    skew-split path.
    """
    from deepref_spark.portable import (SPARK, soundex_from_letters,
                                        soundex_letters)

    staged = (
        surfaces.select("entity").distinct()
        .withColumn("_s0", F.expr(soundex_letters("entity", SPARK)))
        .withColumn("sdx", F.expr(soundex_from_letters("_s0", SPARK)))
        .where(F.col("sdx") != "")
    )
    return (
        staged.groupBy("sdx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_surfaces"),
            F.array_join(F.array_sort(F.collect_set("entity")), " | ")
            .alias("members"),
        )
        .withColumn(
            "n_pairs",
            (F.col("n_surfaces") * (F.col("n_surfaces") - 1) / 2)
            .cast("long"),
        )
        .select("sdx", "n_surfaces", "n_pairs", "members")
    )


def block_size_spectrum(blocks: DataFrame) -> DataFrame:
    """ER blocking COST spectrum: given (block_key) rows — one per
    entity-in-block — the distribution of block sizes in log2 buckets
    with the implied candidate-pair count s*(s-1)/2 per bucket. This
    is the quadratic-blowup early warning the quality-side metrics
    (kg_blocking_quality's precision/recall) do not show: one
    mega-block can carry 99% of all pairs, and THIS table is where
    that reads off (then the fix is a finer key or the skew salting
    lane).

    One grouped size count, one bucketed rollup; the pair arithmetic
    is exact BIGINT (sizes bounded by entity count).
    """
    from deepref_spark.operators.graph import _log2_bucket_case

    sizes = blocks.groupBy("block_key").agg(
        F.count(F.lit(1)).cast("long").alias("s"))
    spec = (
        sizes.select(F.expr(_log2_bucket_case("s")).cast("long")
                     .alias("size_bucket"),
                     "s", F.expr("s * (s - 1) div 2").alias("pairs"))
        .groupBy("size_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_blocks"),
             F.sum("s").cast("long").alias("n_rows"),
             F.sum("pairs").cast("long").alias("n_pairs"))
        .localCheckpoint(eager=False)
    )
    tot = F.broadcast(spec.agg(
        F.coalesce(F.sum("n_pairs"), F.lit(0)).cast("long")
        .alias("tot_pairs")))
    return (
        spec.crossJoin(tot)
        .select("size_bucket", "n_blocks", "n_rows", "n_pairs",
                F.when(F.col("tot_pairs") > 0,
                       F.expr("n_pairs * 1000000 div tot_pairs"))
                .otherwise(F.lit(0)).cast("long").alias("pairs_ppm"))
    )


def transitivity_audit(edges: DataFrame) -> DataFrame:
    """ER similarity-graph transitivity audit — the connected-
    components blind spot quantified: CC merges a~b~c into one entity
    whether or not a~c was itself verified, so the fraction of open
    wedges (a~b, b~c verified, a~c NOT) is exactly the mass of merges
    CC makes on faith. A low closure rate says the threshold admits
    chains (and canonical groups will mix distinct entities); the fix
    is a higher threshold or a verify pass on CC's implied pairs.

    One row: (n_edges, n_wedges, n_closed, closure_ppm). Wedges are
    enumerated at their center from the undirected distinct edge set
    and closed by one join back to the edges (ordered endpoints, each
    wedge counted once) — the triangle_counts shape reduced to a
    corpus-level rate.
    """
    und = (
        edges.select(F.least("a", "b").alias("x"),
                     F.greatest("a", "b").alias("y"))
        .where(F.col("x") != F.col("y"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds adjacency AND closure join
    )
    adj = und.select(F.col("x").alias("v"), F.col("y").alias("nbr")) \
        .unionAll(und.select(F.col("y").alias("v"), F.col("x").alias("nbr")))
    wedges = (
        adj.alias("p").join(adj.alias("q"), "v")
        .where(F.col("p.nbr") < F.col("q.nbr"))
        .select(F.col("p.nbr").alias("x"), F.col("q.nbr").alias("y"))
    )
    closed = wedges.join(und, ["x", "y"], "left_semi")
    n_e = und.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_w = wedges.agg(F.count(F.lit(1)).cast("long").alias("n_wedges"))
    n_c = closed.agg(F.count(F.lit(1)).cast("long").alias("n_closed"))
    return (
        n_e.crossJoin(n_w).crossJoin(n_c)
        .select("n_edges", "n_wedges", "n_closed",
                F.when(F.col("n_wedges") > 0,
                       F.expr("n_closed * 1000000 div n_wedges"))
                .otherwise(F.lit(0)).cast("long").alias("closure_ppm"))
    )
