"""Entity linking, connected-components canonicalization, graph
materialization, and checkpoint/resume idempotence."""

import os

import pytest
from pyspark.sql import functions as F

from fastie_spark.cc import connected_components
from fastie_spark.fixtures import build_alias_edges, build_linker_dict
from fastie_spark.kg_job import run_kg_job
from fastie_spark.linking import link_mentions, normalize_surface, prepare_linker_dict
from fastie_spark.materialize import materialize_snapshot, read_manifest


@pytest.fixture(scope="module")
def linker_df(spark, vocab):
    return spark.createDataFrame(
        build_linker_dict(vocab),
        "alias string, canonical_id string, entity_type string, prior double",
    )


@pytest.fixture(scope="module")
def alias_fixture(vocab):
    return build_alias_edges(vocab)


@pytest.fixture(scope="module")
def edges_df(spark, alias_fixture):
    return spark.createDataFrame(alias_fixture[0], "src string, dst string")


def test_normalize_surface(spark):
    df = spark.createDataFrame([("Ａｂｃ　Ｘ",), ("MiXeD",)], "s string")
    out = [r["n"] for r in df.select(normalize_surface(F.col("s")).alias("n")).collect()]
    # U+3000 stays unmapped — exact dbc2sbc parity (decoders.dbc2sbc quirk)
    assert out == ["abc　x", "mixed"]


def test_sign_band_matches_duckdb_on_short_and_null_vectors(spark):
    """_sign_band and its DuckDB twin _sign_band_sql give the same string
    for a NULL dim, a vector shorter than the band and a NULL vector: the
    Spark side must read past-the-end dims as NULL (ANSI mode raises on
    element_at) and map them to the '9' sentinel like DuckDB does."""
    import duckdb

    from fastie_spark.linking import _sign_band, _sign_band_sql

    rows = [(0, [0.5, -0.2, None, 0.1]), (1, [0.3, -0.1]), (2, None)]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    spark_bands = {r["id"]: r["b"] for r in
                   df.select("id", _sign_band(0, 4).alias("b")).collect()}
    duck_bands = dict(duckdb.sql(
        f"SELECT id, {_sign_band_sql(0, 4)} AS b FROM (VALUES "
        "(0, [0.5, -0.2, NULL, 0.1]::DOUBLE[]), (1, [0.3, -0.1]::DOUBLE[]),"
        " (2, NULL::DOUBLE[])) t(id, v)"
    ).fetchall())
    assert spark_bands == duck_bands == {0: "1091", 1: "1099", 2: "9999"}


def test_linking_exact_and_variant(spark, vocab, linker_df, pages_df):
    """Every mention whose surface is a vocab entity links to that entity's
    canonical id (the fixture dictionary covers all vocab surfaces)."""
    surf, lbl = vocab.entity_vocab[0]
    m = spark.createDataFrame(
        [("u1", lbl, 0, len(surf), surf),
         ("u1", lbl, 0, len(surf), surf.lower()),
         ("u2", "mis", 0, 3, "完全未知表面形式XYZQ")],
        "url string, label string, start long, end long, surface string",
    )
    out = {(r["surface"], r["entity_id"]) for r in link_mentions(m, linker_df).collect()}
    assert (surf, "Q00000") in out
    assert (surf.lower(), "Q00000") in out  # case-normalized alias
    assert ("完全未知表面形式XYZQ", None) in out  # NIL mention stays null
    # broadcast join: dictionary side must be 1 row per normalized alias
    prepared = prepare_linker_dict(linker_df)
    assert prepared.groupBy("alias_norm").count().filter("count > 1").count() == 0


@pytest.mark.parametrize("threshold", [2_000_000, 0], ids=["driver-uf", "distributed"])
def test_connected_components_exact(spark, edges_df, alias_fixture, threshold):
    """Both strategies (driver union-find fast path and distributed
    label-prop + pointer-jump) must give identical, exact components."""
    _, expected = alias_fixture
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges_df, broadcast_threshold=threshold).collect()
    }
    # every node present in an edge must resolve to its cluster min
    for node, comp in got.items():
        assert comp == expected[node], node
    # all multi-node clusters are covered
    multi = {n for n, c in expected.items() if
             sum(1 for x in expected.values() if x == c) > 1}
    assert multi.issubset(got.keys())


@pytest.mark.parametrize("threshold", [2_000_000, 0], ids=["driver-uf", "distributed"])
def test_cc_handles_chain_and_cycle(spark, threshold):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("y", "x")],
        "src string, dst string",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, broadcast_threshold=threshold).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def test_kg_job_end_to_end(spark, pages_df, vocab, linker_df, edges_df,
                           alias_fixture, tmp_path):
    out_dir = str(tmp_path / "graph")
    res = run_kg_job(spark, pages_df, vocab, linker_df, edges_df,
                     out_dir=out_dir, snapshot_id="s1", n_buckets=4)
    assert res["n_triples"] > 50
    assert res["counts"].get("mention", 0) > 100
    # materialized tables exist and provenance counts match the manifest
    prov = spark.read.parquet(os.path.join(out_dir, "provenance"))
    man = read_manifest(out_dir, "s1")
    assert sum(b["triples"] for b in man["buckets"].values()) == prov.count()
    nodes = spark.read.parquet(os.path.join(out_dir, "nodes"))
    edges = spark.read.parquet(os.path.join(out_dir, "edges"))
    assert nodes.count() > 0 and edges.count() > 0
    # lineage columns present
    assert {"snapshot_id", "partition_id", "bucket"} <= set(prov.columns)
    # canonical ids: every graph id is a component root of the alias graph,
    # and every linked provenance row carries its subject's root
    expected = alias_fixture[1]
    graph_ids = {r["component"] for r in nodes.collect()}
    for r in edges.collect():
        graph_ids |= {r["subj_id"], r["obj_id"]}
    assert all(expected.get(x, x) == x for x in graph_ids)
    linked = prov.filter(F.col("subj_id").isNotNull()).collect()
    assert linked and all(
        r["subj_comp"] == expected.get(r["subj_id"], r["subj_id"])
        for r in linked)


def test_resume_idempotent(spark, pages_df, vocab, linker_df, edges_df, tmp_path):
    """Simulate a crash after 2 of 4 buckets: resume must produce exactly
    the same provenance table as an uninterrupted run."""
    from fastie_spark.linking import link_triples
    from fastie_spark.pipeline import run_extraction_fused

    triples = run_extraction_fused(spark, pages_df, vocab, num_partitions=4,
                                   do_events=False, persist=False,
                                   from_html=True)["triples"]
    linked = link_triples(triples, linker_df)
    linked = linked.withColumn("subj_comp", F.col("subj_id")).withColumn(
        "obj_comp", F.col("obj_id"))

    full_dir = str(tmp_path / "full")
    materialize_snapshot(linked, full_dir, "s2", n_buckets=4)

    # partial run: only buckets 0,1 marked complete (simulate by writing the
    # manifest as if a crash happened after bucket 0/1 commit)
    part_dir = str(tmp_path / "partial")
    materialize_snapshot(linked.filter(F.pmod(F.xxhash64("url"), F.lit(4)) < 2),
                         part_dir, "s2", n_buckets=4)
    man = read_manifest(part_dir, "s2")
    man["buckets"] = {k: v for k, v in man["buckets"].items() if k in ("0", "1")}
    from fastie_spark.materialize import write_manifest
    write_manifest(part_dir, man)

    # resume fills buckets 2,3 only
    materialize_snapshot(linked, part_dir, "s2", n_buckets=4)

    a = spark.read.parquet(os.path.join(full_dir, "provenance"))
    b = spark.read.parquet(os.path.join(part_dir, "provenance"))
    cols = ["url", "subj", "pred", "obj", "bucket", "snapshot_id"]
    assert a.count() == b.count()
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0
    man2 = read_manifest(part_dir, "s2")
    assert set(man2["buckets"]) == {"0", "1", "2", "3"}


def test_cc_empty_edges(spark):
    """An empty (but legitimate) alias table must yield an empty component
    table, not crash the broadcast fast path (round-2 ADVICE fix)."""
    edges = spark.createDataFrame([], "src string, dst string")
    out = connected_components(edges)
    assert out.count() == 0
    assert out.columns == ["node", "component"]


def test_materialize_empty_snapshot(spark, tmp_path):
    """Zero triples in a snapshot (e.g. one streaming micro-batch yielding
    nothing) must still commit a manifest with zero counts instead of
    failing the schema-inference readback (round-2 ADVICE fix)."""
    empty = spark.createDataFrame(
        [], "url string, subj string, pred string, obj string, "
            "subj_id string, obj_id string, subj_comp string, obj_comp string"
    )
    out_dir = str(tmp_path / "empty_snap")
    man = materialize_snapshot(empty, out_dir, "s0", n_buckets=4)
    assert sum(b["triples"] for b in man["buckets"].values()) == 0
    # a second (resume) call is a no-op and still succeeds
    man2 = materialize_snapshot(empty, out_dir, "s0", n_buckets=4)
    assert man2["buckets"] == man["buckets"]


def test_link_strategies_identical(spark, vocab, linker_df, pages_df):
    """Broadcast and shuffle-fallback linking must produce identical rows —
    strategy is a physical choice, never a semantic one."""
    from fastie_spark.linking import link_triples
    from fastie_spark.pipeline import run_extraction_fused

    triples = run_extraction_fused(spark, pages_df, vocab, num_partitions=4,
                                   do_events=False, persist=False,
                                   from_html=True)["triples"]
    cols = ["url", "subj", "pred", "obj", "subj_id", "obj_id"]

    def rows(strategy):
        out = link_triples(triples, linker_df, strategy=strategy)
        return sorted(tuple(r[c] for c in cols) for r in out.collect())

    assert rows("broadcast") == rows("shuffle")


def test_link_embedding_banded_recall(spark):
    """Banded candidates->verify vs exact enumeration: top-1 agreement on
    deterministic typo variants of 60 real-word aliases. The sign-band LSH
    contract is approximate; the gate pins it from collapsing."""
    from fastie_spark.linking import link_by_embedding
    from fastie_spark.session import local_df

    words = [
        "alberta", "berlin", "chicago", "denver", "edmonton", "frankfurt",
        "geneva", "houston", "istanbul", "jakarta", "karachi", "lisbon",
        "madrid", "nairobi", "oslo", "prague", "quebec", "rotterdam",
        "seattle", "toronto", "utrecht", "vienna", "warsaw", "xiamen",
        "yokohama", "zurich", "amsterdam", "barcelona", "calgary", "dublin",
    ]
    aliases = local_df(
        spark,
        [{"alias": w, "canonical_id": f"Q{i:05d}"} for i, w in enumerate(words)],
        "alias string, canonical_id string",
    )
    variants = sorted({w[0] + w[2:] for w in words} | {w[:-1] for w in words})
    queries = local_df(spark, [{"surface": v} for v in variants],
                       "surface string")
    exact = {r["surface"]: r["alias"]
             for r in link_by_embedding(queries, aliases).collect()}
    band = {r["surface"]: r["alias"]
            for r in link_by_embedding(queries, aliases,
                                       prefilter="band").collect()}
    agree = sum(1 for s in exact if band.get(s) == exact[s])
    assert agree / len(exact) >= 0.8, (agree, len(exact))


def test_link_shuffle_under_head_entity_skew(spark, linker_df):
    """The north rule's named concern: Zipf-heavy head entities. Build a
    mention table where ONE surface is half of all rows (extreme head) and
    link through the non-broadcast fallback — the path a Wikidata-scale
    dictionary forces — with AQE's skew split active. Results must equal
    the broadcast path exactly; the skewed key must not lose or duplicate
    rows."""
    from fastie_spark.linking import link_mentions
    from fastie_spark.session import local_df

    head = linker_df.collect()[0]["alias"]
    rows = [{"url": f"u{i}", "label": "per", "start": 0, "end": 1,
             "surface": head} for i in range(5000)]
    rows += [{"url": f"v{i}", "label": "per", "start": 0, "end": 1,
              "surface": f"nomatch{i}"} for i in range(5000)]
    mentions = local_df(
        spark, rows,
        "url string, label string, start long, end long, surface string",
    ).repartition(16)

    def counts(strategy):
        out = link_mentions(mentions, linker_df, strategy=strategy)
        agg = out.groupBy("entity_id").count().collect()
        return {r["entity_id"]: r["count"] for r in agg}

    bc, sh = counts("broadcast"), counts("shuffle")
    assert bc == sh
    # the head surface linked every one of its 5000 rows to one id
    head_ids = [k for k, v in sh.items() if v == 5000 and k is not None]
    assert len(head_ids) == 1
    assert sh.get(None) == 5000  # NIL mentions preserved, not dropped
