"""curate_corpus — the composed end-to-end curation DAG (exact dedup ->
LSH pairs -> keep-one clustering -> quality/lang filter -> stratified
sample) sharing ONE corpus scan. Oracle parity runs in
test_oracle_parity.py via the registry; these tests pin the composition
contract: stage flags must agree with the standalone operators, and the
plan must prove the text column is read exactly once."""

import pytest
from pyspark.sql import functions as F

from fastie_spark.textops import REGISTRY, release_caches

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def verdict(spark):
    rows = [r.asDict() for r in
            REGISTRY["curate_corpus"][0](spark, SF_DIR).collect()]
    yield rows
    release_caches()


def test_exact_winner_flag_matches_dedup_exact(spark, verdict):
    winners = {r["keep_doc_id"]
               for r in REGISTRY["dedup_exact"][0](spark, SF_DIR).collect()}
    flagged = {r["doc_id"] for r in verdict if r["is_exact_winner"]}
    assert flagged == winners


def test_clusters_match_near_dup_clusters(spark, verdict):
    standalone = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in REGISTRY["near_dup_clusters"][0](spark, SF_DIR).collect()
    }
    composed = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
                for r in verdict}
    assert composed == standalone


def test_in_sample_is_keep_intersect_stratified(spark, verdict):
    strat = {r["doc_id"]
             for r in REGISTRY["stratified_sample"][0](spark, SF_DIR).collect()}
    kept = {r["doc_id"] for r in verdict if r["keep"]}
    sampled = {r["doc_id"] for r in verdict if r["in_sample"]}
    assert sampled == kept & strat
    assert sampled <= kept


def test_verdict_rules_match_standalone_queries(spark, verdict):
    """The chain and the standalone registry queries apply the same
    document rules: per-doc quality and lang-id, the exact-dedup hash, and
    admission (kept == corpus_filter's admitted winners that are also
    their near-dup cluster's representative)."""
    def rows(name):
        return REGISTRY[name][0](spark, SF_DIR).collect()

    quality = {r["doc_id"]: r["quality"] for r in rows("quality_score")}
    pred_lang = {r["doc_id"]: r["pred_lang"] for r in rows("lang_id")}
    assert {r["doc_id"]: r["quality"] for r in verdict} == quality
    assert {r["doc_id"]: r["pred_lang"] for r in verdict} == pred_lang
    assert ({r["text_hash"] for r in verdict}
            == {r["text_hash"] for r in rows("dedup_exact")})
    admitted = {r["doc_id"] for r in rows("corpus_filter")}
    canonical = {r["doc_id"] for r in verdict if r["is_canonical"]}
    assert {r["doc_id"] for r in verdict if r["keep"]} == admitted & canonical


def test_keep_composition_rule(verdict):
    for r in verdict:
        assert r["keep"] == (
            r["is_exact_winner"] and r["is_canonical"]
            and r["quality"] > 0.05 and r["pred_lang"] != "unk"
        )
    # the chain must actually discard something and keep something
    n_keep = sum(1 for r in verdict if r["keep"])
    assert 0 < n_keep < len(verdict)


def test_curate_corpus_single_corpus_scan(spark):
    """All stages must replay the DISK_ONLY _curate_base intermediate: the
    executed final plan reads the cache (InMemoryTableScan) and every
    FileScan line it prints is the SAME scan — the one embedded in the
    cached relation's definition (the plan printer repeats the cache
    definition under each consumer) — so the corpus text column is read
    exactly once per run."""
    df = REGISTRY["curate_corpus"][0](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "InMemoryTableScan" in final
    scans = {l.strip(" :+-") for l in final.splitlines() if "FileScan" in l}
    assert len(scans) <= 1, scans
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    release_caches()


def test_report_counts_tie_to_verdict(spark, verdict):
    rep = {r["source"]: r.asDict()
           for r in REGISTRY["curate_report"][0](spark, SF_DIR).collect()}
    by_source: dict = {}
    for r in verdict:
        s = by_source.setdefault(r["source"], {"n_docs": 0, "n_kept": 0,
                                               "n_sampled": 0})
        s["n_docs"] += 1
        s["n_kept"] += bool(r["keep"])
        s["n_sampled"] += bool(r["in_sample"])
    assert set(rep) == set(by_source)
    for src, s in by_source.items():
        assert rep[src]["n_docs"] == s["n_docs"]
        assert rep[src]["n_kept"] == s["n_kept"]
        assert rep[src]["n_sampled"] == s["n_sampled"]
    release_caches()


def test_run_curate_cli_writes_verdict_and_report(spark, tmp_path):
    """jobs/run_curate.py end-to-end on a documents table: the written
    verdict must equal the in-session curate_verdict rows exactly, and the
    written report must tie to the verdict counts."""
    import json
    import os
    import subprocess
    import sys

    import duckdb

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    docs_src = f"{SF_DIR}/documents.parquet"
    docs_dst = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "curation")
    # copy through duckdb to get a standalone parquet file
    duckdb.sql(
        f"COPY (SELECT doc_id, source, lang, text FROM "
        f"read_parquet('{docs_src}')) TO '{docs_dst}' (FORMAT PARQUET)"
    )
    r = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "run_curate.py"),
         "--docs", docs_dst, "--out", out, "--master", "local[4]"],
        check=True, capture_output=True, text=True, cwd=repo,
    )
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["n_docs"] == 500

    written = {
        r["doc_id"]: (r["cluster_id"], r["keep"], r["in_sample"])
        for r in spark.read.parquet(f"{out}/verdict").collect()
    }
    live = {
        r["doc_id"]: (r["cluster_id"], r["keep"], r["in_sample"])
        for r in REGISTRY["curate_corpus"][0](spark, SF_DIR).collect()
    }
    release_caches()
    assert written == live
    rep = {r["source"]: r for r in
           spark.read.parquet(f"{out}/report").collect()}
    assert sum(r["n_kept"] for r in rep.values()) == summary["n_kept"]
