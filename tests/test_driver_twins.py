"""Every size-gated driver twin must be row-identical to the distributed
path it short-cuts, and hand its rows back as a LocalRelation
(``session.local_frame``). Each TWINS entry runs once at the default
``deepref.driver.max_rows`` (driver path at test scale) and once with
it at 0 (distributed path); the full sorted row sets must match
exactly, including the floor-division grids and round(…, 6) semantics.
The table runs on the sf0.001 graph and on small adversarial graphs:
NULL entities/communities, labels disjoint from the edges, duplicate
entities and edges, self-loops, and a vocabulary of awkward names."""

import ast
import math
from pathlib import Path
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from deepref_spark.operators import graph as G
from deepref_spark.operators import linking as L
from deepref_spark.queries import (
    _canonical_edges,
    _rank_taxonomy,
    _scc_aug_edges,
    clear_stage_cache,
)
from deepref_spark.session import local_frame
from tests.conftest import driver_cap

SF = "/root/testdata/sf0.001"

# (name, build): build(fx) -> the operator's output frame. A fixture
# fx carries edges (src, dst), aug (SCC input edges), tax (child,
# parent), labels (entity, community) with und the symmetric closure
# of edges, ents (entity) and pairs (a, b).
TWINS = [
    ("pagerank", lambda fx: G.pagerank(fx.edges, iters=3)),
    ("personalized_pagerank",
     lambda fx: G.personalized_pagerank(fx.edges, n_seeds=3, iters=3)),
    ("hits", lambda fx: G.hits(fx.edges, iters=2)),
    ("multihop", lambda fx: G.multihop(fx.edges, max_hops=3)),
    ("bfs_distances", lambda fx: G.bfs_distances(fx.edges, n_seeds=3, max_hops=4)),
    ("harmonic_centrality",
     lambda fx: G.harmonic_centrality(fx.edges, n_seeds=3, max_hops=4)),
    ("stress_centrality",
     lambda fx: G.stress_centrality(fx.edges, n_seeds=4, max_hops=4)),
    ("anf_hyperball", lambda fx: G.anf_hyperball(fx.edges, m=16, hops=2)),
    ("kcore", lambda fx: G.kcore(fx.edges, k=3)),
    ("triangle_counts", lambda fx: G.triangle_counts(fx.edges)),
    ("katz", lambda fx: G.katz_centrality(fx.edges, max_hops=4, beta_inv=4)),
    ("label_prop", lambda fx: G.label_prop(fx.edges, iters=2)),
    ("community_quality",
     lambda fx: G.community_quality(fx.edges, fx.labels, und=fx.und)),
    ("modularity_profile",
     lambda fx: G.modularity_profile(fx.edges, fx.labels, und=fx.und)),
    ("wl_refine", lambda fx: G.wl_refine(fx.edges, iters=2)),
    ("ktruss", lambda fx: G.ktruss(fx.edges, k=3, max_rounds=8)),
    ("weighted_sssp", lambda fx: G.weighted_sssp(fx.edges, n_seeds=2, rounds=3)),
    ("scc", lambda fx: G.scc(fx.aug)),
    ("scc_condensation", lambda fx: G.scc_condensation(fx.aug)),
    ("bowtie_regions", lambda fx: G.bowtie_regions(fx.aug)),
    ("taxonomy_closure", lambda fx: G.taxonomy_closure(fx.tax)),
    ("sorted_neighborhood",
     lambda fx: L.sorted_neighborhood_pairs(fx.ents, window=3)),
    ("connected_components", lambda fx: L.connected_components(fx.pairs)),
    ("canonical_map", lambda fx: L.canonical_map(fx.ents)),
]
LABELLED = ("community_quality", "modularity_profile")
NAMED = ("sorted_neighborhood", "canonical_map")


def _fixture(edges, tax, labels, ents, aug=None):
    edges = edges.localCheckpoint()
    return SimpleNamespace(
        edges=edges, aug=edges if aug is None else aug.localCheckpoint(),
        tax=tax.localCheckpoint(), labels=labels.localCheckpoint(),
        und=G.sym_closure(edges).localCheckpoint(),
        ents=ents.localCheckpoint(),
        pairs=edges.select(F.col("src").alias("a"), F.col("dst").alias("b")))


@pytest.fixture(scope="module")
def sf(spark):
    clear_stage_cache()
    edges = _canonical_edges(spark, SF).localCheckpoint()
    ents = (edges.select(F.col("src").alias("entity"))
            .union(edges.select(F.col("dst").alias("entity"))).distinct())
    fx = _fixture(edges, _rank_taxonomy(spark, SF)[1],
                  G.label_prop(edges, iters=2), ents,
                  aug=_scc_aug_edges(spark, SF))
    yield fx
    clear_stage_cache()


# two directed cycles (a-b-c, e-f-g-h) bridged by c->e and b->g
_EDGES = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "e"), ("e", "f"),
          ("f", "g"), ("g", "h"), ("h", "e"), ("b", "g"), ("f", "e")]
_LABELS = [("a", "x"), ("b", "x"), ("c", "x"), ("e", "y"), ("f", "y"),
           ("g", "y"), ("zz", "z")]
_TAX = [("t1", "t0"), ("t2", "t1"), ("t3", "t1"), ("t3", "t2")]
ADVERSARIAL = {
    # no NULL anywhere, so every gate takes the driver side at the
    # default cap: self-loops, duplicate edges, duplicate entities,
    # labels partly off the graph
    "dirty": dict(edges=_EDGES + [("a", "b"), ("c", "c"), ("d", "d")],
                  tax=_TAX + [("t1", "t0")], labels=_LABELS,
                  ents=["a", "b", "b", "ab", "ba", "c", "c"]),
    # a NULL sends the gate to the distributed path
    "nulls": dict(edges=_EDGES + [(None, "a"), ("b", None)],
                  tax=_TAX + [("t4", None)],
                  labels=_LABELS + [("h", None), (None, "y")],
                  ents=["a", "b", None, "ab"]),
    "labels_disjoint": dict(edges=_EDGES, tax=_TAX,
                            labels=[("p", "x"), ("q", "x"), ("r", "y")],
                            ents=["a"]),
    "labels_duplicate": dict(edges=_EDGES, tax=_TAX,
                             labels=_LABELS + [("a", "y")], ents=["a"]),
    # empty, one-character, non-ASCII, duplicate and near-duplicate
    # names; no NULL, so every gate takes the driver side
    "vocab": dict(edges=_EDGES, tax=_TAX, labels=_LABELS,
                  ents=["", "", "a", "b", "ab", "café", "cafe", "cafè", "Café",
                        "東京都", "東京", "北京市", "smith", "smyth", "smiths",
                        "john smith", "smith john", "jonathan smith",
                        "jonathan smyth", "東京都渋谷区役所", "東京都渋谷区役場",
                        "aaaa", "aaa", "x" * 40, "x" * 39 + "y", "smith"]),
}
# fixtures that run only for some operators (all others run the table)
ONLY = {"labels_disjoint": LABELLED, "labels_duplicate": LABELLED,
        "vocab": NAMED}


@pytest.fixture(scope="module")
def adversarial(spark):
    def frame(rows, cols):
        return spark.createDataFrame(rows, ", ".join(f"{c} string" for c in cols))

    return {name: _fixture(frame(d["edges"], ("src", "dst")),
                           frame(d["tax"], ("child", "parent")),
                           frame(d["labels"], ("entity", "community")),
                           frame([(e,) for e in d["ents"]], ("entity",)))
            for name, d in ADVERSARIAL.items()}


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _twin(spark, monkeypatch, build, fx):
    """Assert both paths return the same rows; return (rows, the side
    each gate took on the default-cap run: True = driver, whether that
    run's output is a LocalRelation)."""
    sides, real = [], L.driver_rows

    def gate(df):
        rows = real(df)
        sides.append(rows is not None)
        return rows

    monkeypatch.setattr(G, "driver_rows", gate)
    monkeypatch.setattr(L, "driver_rows", gate)
    out = build(fx)
    driver = _rows(out)
    taken = list(sides)
    with driver_cap(spark, 0):
        dist = _rows(build(fx))
    assert driver == dist
    return driver, taken, out.isLocal()


def _sf_test(build):
    def test(spark, sf, monkeypatch):
        rows, taken, local = _twin(spark, monkeypatch, build, sf)
        assert rows and taken and all(taken) and local
    return test


# one test per operator, named after it
for _name, _build in TWINS:
    globals()[f"test_{_name}_twin"] = _sf_test(_build)


@pytest.mark.parametrize("fx,build", [
    pytest.param(fx, b, id=f"{n}-{fx}")
    for fx in ADVERSARIAL for n, b in TWINS
    if n in ONLY.get(fx, (n,))
])
def test_adversarial_twin(spark, adversarial, monkeypatch, fx, build):
    _, taken, local = _twin(spark, monkeypatch, build, adversarial[fx])
    if fx in ("dirty", "vocab"):
        assert taken and all(taken) and local


def test_canonical_map_pair_guard(spark, monkeypatch):
    """Names under the cap whose blocks hold more candidate pairs than
    the cap: the map takes the distributed path, with the same rows."""
    names = [f"smithson{i:02d}" for i in range(40)] + ["jones"]
    assert L._driver_canonical(names, 0.6, len(names)) is None
    ents = spark.createDataFrame([(n,) for n in names], "entity string")
    solved, real = [], L._driver_canonical

    def twin(*a):
        out = real(*a)
        solved.append(out is not None)
        return out

    monkeypatch.setattr(L, "_driver_canonical", twin)
    driver = _rows(L.canonical_map(ents))
    with driver_cap(spark, len(names)):
        guarded = _rows(L.canonical_map(ents))
    assert solved == [True, False]
    assert guarded == driver
    assert ("smithson01", "smithson00") in driver


_ODD = [
    (1, "plain", [0.5, -0.0], 0.0),
    (None, "café 東京", None, float("nan")),
    (-(2 ** 63), None, [None, float("nan")], -0.0),
    (2 ** 63 - 1, "", [], float("-inf")),
]


def _same(x, y):
    """Equal, counting NaN as equal to NaN and -0.0 as unequal to 0.0."""
    if isinstance(x, float) and isinstance(y, float):
        return (math.isnan(x) and math.isnan(y)) or (
            x == y and math.copysign(1, x) == math.copysign(1, y))
    if isinstance(x, list) and isinstance(y, list):
        return len(x) == len(y) and all(map(_same, x, y))
    return x == y and type(x) is type(y)


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_local_frame_round_trips(spark, arrow):
    """NULLs in nullable long, string and array<float> columns,
    non-ASCII strings, NaN and signed zeros come back exactly, from a
    LocalRelation, with the Arrow conf on or off."""
    schema = "id long, s string, v array<float>, d double"
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", arrow)
    try:
        df = local_frame(spark, _ODD, schema)
        empty = local_frame(spark, [], schema)
        assert df.isLocal() and empty.isLocal()
        got = [tuple(r) for r in df.collect()]
        assert empty.collect() == [] and empty.schema == df.schema
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    assert len(got) == len(_ODD)
    for g, w in zip(got, _ODD):
        assert all(map(_same, g, w)), (g, w)


def test_local_frame_rejects_null_in_non_nullable(spark):
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("id", LongType(), False)])
    assert local_frame(spark, [(1,), (2,)], schema).count() == 2
    with pytest.raises(ValueError):
        local_frame(spark, [(1,), (None,)], schema)


def test_create_dataframe_only_in_local_frame():
    """Driver-built rows reach a plan through ``local_frame`` alone: a
    list handed to createDataFrame would be a pickled RDD that a
    Python worker re-serializes on every read."""
    def calls(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"):
            yield fn
        for child in ast.iter_child_nodes(node):
            yield from calls(child, fn)

    root = Path(__file__).resolve().parents[1] / "deepref_spark"
    found = [(path.relative_to(root).as_posix(), fn)
             for path in sorted(root.rglob("*.py"))
             for fn in calls(ast.parse(path.read_text()), "<module>")]
    assert found == [("session.py", "local_frame")]
