"""Driver-contract checks: entry() smoke, every queries() entry runs, and
each oracle_sql() matches the Spark result at sf0.001 (driver gate is
sf0.01 — same data shape)."""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

from tests.test_oracle_parity import SF_DIR, TABLES  # noqa: E402
from tools_oracle_check import norm  # noqa: E402


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"url", "subj", "pred", "obj"}
    assert len(rows) > 100  # flagship actually extracts triples


def test_release_caches_ends_kg_memo(spark):
    """_kg registers its persists with release_caches(): releasing them is
    visible in the JVM (storage level NONE), and the next _kg call rebuilds
    live caches with the same rows instead of reusing the released memo."""
    from pyspark import StorageLevel

    from fastie_spark.textops import release_caches

    kg = entrymod._kg(spark, SF_DIR)
    before = sorted(map(tuple, kg["triples"].collect()))
    release_caches()
    for k in ("linked", "_raw"):
        assert kg[k].storageLevel == StorageLevel.NONE, k
    again = entrymod._kg(spark, SF_DIR)
    for k in ("linked", "_raw"):
        assert again[k].storageLevel != StorageLevel.NONE, k
    assert sorted(map(tuple, again["triples"].collect())) == before


KG_KEYS = [
    "extract_mentions", "extract_triples", "link_triples",
    "canonical_components", "graph_edges", "classify_docs", "spo_convert",
    "extract_events", "decoder_coverage", "uie_extract", "event_prf",
    "image_stats", "audio_stats", "link_embedding",
    "link_embedding_banded", "link_triples_shuffle",
]


def test_link_embedding_recovers_origin_alias(spark):
    """Semantic check beyond oracle parity: a variant built by dropping one
    char from an alias of length >= 5 still shares its tail 3-grams, so
    embedding linking should usually recover the ORIGIN alias. (Length-3/4
    aliases share NO grams with their variant — those link arbitrarily and
    are excluded; at sf0.001 half the derived tokens are that short.)"""
    df = entrymod.queries()["link_embedding"](spark, SF_DIR)
    rows = df.collect()
    assert rows
    # restrict to variants whose surface length >= 4 (origin alias >= 5)
    cand = [r for r in rows if len(r["surface"]) >= 4]
    hits = sum(
        1 for r in cand if r["alias"][0] + r["alias"][2:] == r["surface"]
    )
    assert cand and hits / len(cand) >= 0.6, (hits, len(cand))


@pytest.mark.parametrize("name", KG_KEYS)
def test_kg_queries_match_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    sdf = q(spark, SF_DIR)
    scols = sorted(sdf.columns)
    srows = [r.asDict() for r in sdf.collect()]
    ddf = duck.sql(sql)
    dcols = sorted(ddf.columns)
    drows = [dict(zip(ddf.columns, r)) for r in ddf.fetchall()]
    assert scols == dcols, f"{name}: schema {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: rows {len(srows)} vs {len(drows)}"
    a, b = norm(srows, scols), norm(drows, dcols)
    assert a == b, f"{name}: first diffs {[p for p in zip(a, b) if p[0] != p[1]][:3]}"


def test_events_query_runs(spark):
    df = entrymod.queries()["extract_events"](spark, SF_DIR)
    assert df.count() >= 0
    assert "event_key" in df.columns


def test_every_oracle_key_has_query():
    q, o = entrymod.queries(), entrymod.oracle_sql()
    assert set(o) <= set(q)
    # round-2 bar: EVERY registered query has an exact oracle
    assert set(q) == set(o), f"queries without oracle: {set(q) - set(o)}"


def test_no_overlapping_occurrences(duck):
    """The decoder_coverage / uie_extract closed-form oracles rely on the
    derived vocab's containment filter making occurrences of distinct
    surfaces non-overlapping on the driver data. Assert it directly so a
    testdata change that breaks the assumption fails loudly here, not as an
    opaque driver hash mismatch."""
    sql = "WITH " + entrymod._VOCAB_CTE + """
    SELECT count(*) FROM occ a JOIN occ b
      ON a.doc_id = b.doc_id
     AND (a.tok <> b.tok OR a.pos <> b.pos)
     AND a.pos < b.pos + b.len AND b.pos < a.pos + a.len
    """
    assert duck.sql(sql).fetchone()[0] == 0
