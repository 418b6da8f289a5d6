"""Driver-contract tests: every oracle-backed query in
__spark_entry__.queries() must match its DuckDB oracle at sf0.001 (the
local mirror of the driver's sf0.01 gate), and the model-path queries
must produce sane rows."""

import pytest

from harness import compare_query, duck_connection

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    from deepref_spark.queries import REGISTRY

    return REGISTRY


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF)
    yield con
    con.close()


def _oracle_names():
    from deepref_spark.queries import REGISTRY

    return sorted(n for n, s in REGISTRY.items() if s["oracle"] is not None)


@pytest.mark.parametrize("name", _oracle_names())
def test_query_matches_oracle(spark, duck, registry, name):
    from deepref_spark.queries import oracle_sql_for

    ok, detail = compare_query(
        spark, duck, registry[name]["spark"], oracle_sql_for(name), SF
    )
    assert ok, f"{name}: {detail}"


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.limit(2000).collect()
    assert len(rows) > 0
    assert {"subj", "pred", "obj", "subj_canon", "obj_canon", "score", "n_docs"} <= set(df.columns)
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 38


def test_model_queries_rows_only(spark, registry):
    triples = registry["kg_triples_model"]["spark"](spark, SF)
    pdf = triples.toPandas()
    assert len(pdf) > 0
    assert pdf["pred"].nunique() >= 2  # class-diverse predictions
    ev = registry["kg_eval_model"]["spark"](spark, SF).collect()[0]
    assert 0.0 <= ev["acc"] <= 1.0 and ev["micro_f1"] == ev["acc"]


def test_chunker_tokenize_twin_retired_to_tests(spark, duck):
    """The fixed-width chunker SQL twin (rounds 1-3's kg_tokenize
    oracle) stays pinned here: Spark chunker expressions vs the DuckDB
    chunker formula. The REGISTERED kg_tokenize now verifies the
    production greedy wordpiece instead."""
    from deepref_spark.queries import (
        SPARK, DUCK, _oracle_prefix, _split_select, _tokenize_sql,
        portable_mentions,
    )

    def chunker_fn(spark, sf_dir):
        m = portable_mentions(spark, sf_dir)
        return m.selectExpr("doc_id", *_split_select(_tokenize_sql(SPARK)))

    oracle = _oracle_prefix() + f"SELECT doc_id, {_tokenize_sql(DUCK)} FROM mentions"
    ok, detail = compare_query(spark, duck, chunker_fn, oracle, SF)
    assert ok, detail


def test_triples_model_golden_hash(spark, registry):
    """kg_triples_model is rows-only forever (numpy model forward, no
    SQL oracle by design) — this frozen full-output fixture makes any
    regression in the tokenize -> score -> CC -> dedup chain fail a
    test, not just a row count. Hash is over the sorted canonical
    triples at sf0.001, scores at 6dp."""
    import hashlib

    df = registry["kg_triples_model"]["spark"](spark, SF)
    rows = sorted(
        (r["subj"], r["pred"], r["obj"], r["subj_canon"], r["obj_canon"],
         f"{r['score']:.6f}", r["n_docs"])
        for r in df.collect()
    )
    h = hashlib.sha256(repr(rows).encode()).hexdigest()
    assert len(rows) == 447
    assert h == "82aa080a29e6902feadd89d61af637ffcfd703a57666f4c6186635cdc0fc3a04"


def _stable_hash(df):
    import hashlib

    cols = sorted(df.columns)
    rows = sorted(
        tuple(f"{r[c]:.6f}" if isinstance(r[c], float) else str(r[c]) for c in cols)
        for r in df.collect()
    )
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


@pytest.mark.parametrize("name,expected", [
    ("kg_eval_model", "a0ae801f4dad09607ed6ad6d3a363a3abf08f3f76cde664540f2197d28fa73c3"),
    ("kg_eval_ebem", "8c63e5cf8c8e23c7c0bae5de921711c72c34e30b86e33e4a3320c0e02e8c9e05"),
    ("kg_eval_cnn_pcnn", "566c2c47042f8ef2afabcbd4f117558a3f9c0e3cebcbc1b5c4115ddb38a67ce8"),
    ("kg_eval_crcnn_lstm_gru", "a66add333da8480b3252dbef32f952fec2f2727e7a497c6ce199232a6f353558"),
])
def test_rows_only_eval_goldens(spark, registry, name, expected):
    """Every rows-only eval query gets the same treatment as
    kg_triples_model: the full output frozen as a sha256 at sf0.001 (6dp
    floats, column/row-order independent), so the numpy model forwards
    for all seven encoder families are value-pinned, not just shaped."""
    assert _stable_hash(registry[name]["spark"](spark, SF)) == expected


def test_span_integrity_hash_detects_reorder(spark):
    """kg_span_integrity is only evidence if a broken round-trip
    actually changes seq_sha: corrupt the order key after explode
    (reverse span_idx within each doc) and every doc's hash must flip
    (every span string embeds its offset, so any reorder is visible)."""
    import pyspark.sql.functions as F

    from deepref_spark.operators import convert
    from deepref_spark.queries import _SPAN_SEQ_SPARK, documents

    spans = documents(spark, SF).selectExpr(
        "doc_id", f"{_SPAN_SEQ_SPARK} AS spans")
    exploded = convert.explode_spans(spans)
    part = ("concat_ws('|', s.kind, s.text, s.media_ref, "
            "CAST(s.offset AS STRING))")

    def sha(ex):
        back = convert.reassemble_docs(ex)
        return back.select(
            "doc_id",
            F.expr(f"md5(array_join(transform(spans, s -> {part}), '#'))")
            .alias("seq_sha"),
        )

    n = F.expr("CAST(doc_id % 4 AS INT) + 3")  # n_spans per the formula
    corrupted = exploded.withColumn("span_idx", n - 1 - F.col("span_idx"))
    clean = {r["doc_id"]: r["seq_sha"] for r in sha(exploded).collect()}
    bad = {r["doc_id"]: r["seq_sha"] for r in sha(corrupted).collect()}
    assert set(clean) == set(bad)
    assert all(clean[d] != bad[d] for d in clean)


def test_stage_lineage_totals(spark, registry):
    """kg_stage_lineage's per-partition rows are layout-dependent by
    design; the per-stage TOTALS are not — pin those."""
    import pyspark.sql.functions as F

    df = registry["kg_stage_lineage"]["spark"](spark, SF)
    totals = {
        r["stage"]: r["total"]
        for r in df.groupBy("stage").agg(F.sum("rows").alias("total")).collect()
    }
    assert totals == {"documents": 500, "mentions": 490, "scored": 490}


def test_driver_window_is_all_oracle_bearing(registry):
    """The driver's correctness sweep snapshots the first 50 registry
    entries: every one of them must carry a DuckDB oracle (the
    module-load assert enforces this; the test makes it visible)."""
    names = list(registry)
    assert len(names) >= 50
    assert all(registry[n]["oracle"] is not None for n in names[:50])
    # rows-only queries all registered past the window
    rows_only = [n for n in names if registry[n]["oracle"] is None]
    assert all(names.index(n) >= 50 for n in rows_only)


def test_queries_import_is_io_free():
    """`import deepref_spark.queries` must not import duckdb or read
    the vocab artifact (round-4 advice): oracles needing a duckdb
    probe or file I/O are declared as callables and resolved lazily
    by oracle_sql_for."""
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "import sys; import deepref_spark.queries; "
        "sys.exit(1 if 'duckdb' in sys.modules else 0)"
    )
    repo = str(Path(__file__).resolve().parent.parent)
    r = subprocess.run([sys.executable, "-c", code], cwd=repo,
                       env={"PYTHONPATH": repo, "PATH": "/usr/bin:/bin"})
    assert r.returncode == 0, "duckdb was imported at queries import time"


def test_stage_cache_keeps_a_hot_stage_through_64_insertions(spark):
    """_stage evicts the least-recently-used entry: a stage read between
    insertions is never rebuilt, while the cache cap still holds."""
    from deepref_spark.queries import _STAGE_CACHE, _STAGE_CACHE_MAX, _stage, clear_stage_cache

    builds = []

    def hot():
        builds.append(1)
        return spark.range(1)

    clear_stage_cache()
    try:
        _stage(spark, "lru", "hot", hot)
        for i in range(64):
            _stage(spark, "lru", f"cold{i}", lambda: spark.range(1))
            _stage(spark, "lru", "hot", hot)
        assert len(builds) == 1
        assert len(_STAGE_CACHE) == _STAGE_CACHE_MAX
    finally:
        clear_stage_cache()


def test_cached_stages_are_sized_by_their_data(spark, registry):
    """A stage persisted behind a shuffle holds AQE-coalesced
    partitions, not one block per spark.sql.shuffle.partitions: a few
    hundred rows must not cost a shuffle_partitions-task scan on every
    read."""
    from deepref_spark.queries import _STAGE_CACHE

    for name in ("kg_canonical_triples", "kg_connected_components"):
        registry[name]["spark"](spark, SF).collect()
    shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    app = spark.sparkContext.applicationId
    for stage in ("canon_triples", "banded_edges"):
        n = _STAGE_CACHE[(app, SF, stage)].rdd.getNumPartitions()
        assert n < shuffle_partitions, (stage, n, shuffle_partitions)


def test_registry_oracle_fingerprint(registry):
    """Registry order plus every oracle text, hashed: any edit to an
    oracle's SQL (or a reordering of the registry, which the driver's
    first-50 window depends on) changes the digest."""
    import hashlib

    from deepref_spark.queries import oracle_sql_for

    h = hashlib.sha256()
    for name in list(registry):
        o = oracle_sql_for(name)
        h.update(name.encode() + b"\0"
                 + (b"\1" + o.encode() if o is not None else b"\0") + b"\0")
    assert len(registry) == 345
    assert sum(registry[n]["oracle"] is not None for n in registry) == 338
    assert h.hexdigest() == "46ac5dbe1726ebf62ac6545487732e2e6745b8b7958f77ad610696dcd4168d11"


def test_sessionize_sub_second_gap(spark, registry, tmp_path):
    """A 1800.5 s gap is over the 30-minute rule (2 sessions) and an
    exact 1800 s gap is not (1 session), as in the oracle's
    epoch() doubles; a whole-second gap would merge the first pair."""
    import duckdb
    import pandas as pd

    from deepref_spark.queries import oracle_sql_for

    t0 = pd.Timestamp("2024-01-01 10:00:00.250")
    pd.DataFrame({
        "event_id": [1, 2, 3, 4],
        "ts": [t0, t0 + pd.Timedelta(seconds=1800.5),
               t0, t0 + pd.Timedelta(seconds=1800)],
        "user_id": [1, 1, 2, 2],
        "event_type": ["view"] * 4,
        "value": [1.0, 2.0, 4.0, 8.0],
        "props": ["{}"] * 4,
    }).astype({"ts": "datetime64[us]"}).to_parquet(tmp_path / "events.parquet")
    sessions = registry["events_sessionize"]["spark"](spark, str(tmp_path)).collect()
    assert sorted((r["user_id"], r["n_events"]) for r in sessions) == [(1, 1), (1, 1), (2, 2)]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')")
    try:
        ok, detail = compare_query(spark, con, registry["events_sessionize"]["spark"],
                                   oracle_sql_for("events_sessionize"), str(tmp_path))
    finally:
        con.close()
    assert ok, detail
