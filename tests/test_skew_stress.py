"""Zipf/boilerplate band-bucket skew stress (round-4 verdict item 8).

Web corpora concentrate: boilerplate text drives most documents into a
handful of LSH band buckets (measured here: ~4,800 of 6,000 surfaces share
one sign band). Two distinct mechanics cover this at scale, and these
tests pin BOTH with evidence, not just output equality:

1. The banded LINKER join (queries x aliases on the band key) has
   ONE-SIDED skew — AQE's OptimizeSkewedJoin can split the hot query-side
   partition and replicate the matching alias partition. Asserted via
   ``skew=true`` in the executed adaptive plan.
2. The band SELF-join (near_dup_pairs) has the SAME hot key on BOTH
   sides — AQE cannot split it (splitting either side would require
   duplicating the other's identical hot partition), and its output is
   inherently quadratic in the bucket. The scale answer is structural,
   not adaptive: clustering (near_dup_clusters) never builds the pairwise
   set — _band_components contracts each bucket to its min-doc rep and
   runs connected components on the small rep graph. Asserted by the
   pairwise count and cluster correctness.

Threshold note: the skew-split thresholds here are scaled to test-sized
data (8KB vs the 256MB production default) and partition COALESCING is
disabled — at these toy sizes the coalescer merges the tiny partitions
first, which re-balances the median and masks the skew signal it would
never mask at real partition sizes.
"""

import re

import pytest
from pyspark.sql import functions as F

from fastie_spark.session import local_df

_SKEW_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
}


@pytest.fixture
def skew_confs(spark):
    old = {}
    for k, v in _SKEW_CONFS.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _boilerplate_queries(spark, n=6000):
    """Surfaces dominated by shared boilerplate text with a tiny unique
    tail: their 3-gram profiles agree on almost every dense-dim sign, so
    ~80% land in ONE sign band (the Zipf head this file stresses)."""
    return local_df(
        spark,
        [{"surface": "global corporate holdings international enterprises "
                     f"{i:04d}"} for i in range(n)],
        "surface string",
    )


def test_banded_linker_aqe_skew_split_engages(spark, skew_confs):
    """One-sided band skew: the hot query partition must be SPLIT by AQE
    (plan evidence), and the split must not lose or duplicate rows
    (output identical to the same call without skew handling)."""
    from fastie_spark.linking import link_by_embedding

    q = _boilerplate_queries(spark)
    a = local_df(
        spark,
        [{"alias": f"entity alias number {j} incorporated",
          "canonical_id": f"Q{j}"} for j in range(60)],
        "alias string, canonical_id string",
    )
    df = link_by_embedding(q, a, prefilter="band")
    skew_rows = sorted(
        (r["surface"], r["alias"], r["canonical_id"], r["rnk"])
        for r in df.collect()
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    markers = set(re.findall(r"skew[^\s,)]*", plan, re.I))
    assert "skew=true" in markers or "skewed" in markers, (
        f"AQE skew split did not engage; markers={markers}"
    )
    assert len(skew_rows) > 0

    # same call, default confs: results must be identical
    for k in _SKEW_CONFS:
        spark.conf.unset(k)
    plain = sorted(
        (r["surface"], r["alias"], r["canonical_id"], r["rnk"])
        for r in link_by_embedding(q, a, prefilter="band").collect()
    )
    assert skew_rows == plain


def test_selfjoin_band_skew_star_edges_linear(spark, tmp_path):
    """Two-sided self-join skew is structural: 600 byte-identical
    boilerplate docs put the same hot band key on BOTH sides of
    near_dup_pairs' self-join (un-splittable by AQE, quadratic output:
    C(600,2) pairs), while near_dup_clusters contracts the bucket to its
    min-doc rep and still produces the identical one cluster with the
    min-doc canonical."""
    from fastie_spark.textops import near_dup_clusters, near_dup_pairs

    boiler = ("the same boilerplate navigation footer text repeated "
              "verbatim across the site " * 4)
    rows = [{"doc_id": i, "text": boiler, "lang": "en", "source": "s",
             "n_chars": len(boiler)} for i in range(600)]
    # truly distinct fillers: pseudo-random hex, no shared 8-gram shingles
    # (template-y "unique doc {i}" texts share most of their shingle set
    # and would be CORRECTLY clustered as near-dups)
    import hashlib

    def distinct_text(i: int) -> str:
        return " ".join(
            hashlib.md5(f"{i}-{j}".encode()).hexdigest() for j in range(4)
        )

    rows += [{"doc_id": 10_000 + i, "text": distinct_text(i),
              "lang": "en", "source": "s", "n_chars": 10}
             for i in range(200)]
    d = str(tmp_path)
    local_df(
        spark, rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    # the pairwise operator's output contract IS quadratic in the bucket
    n_pairs = near_dup_pairs(spark, d).count()
    assert n_pairs >= 600 * 599 // 2

    clusters = near_dup_clusters(spark, d).collect()
    boiler_rows = [r for r in clusters if r["doc_id"] < 600]
    assert all(r["cluster_id"] == 0 for r in boiler_rows)
    assert sum(1 for r in boiler_rows if r["is_canonical"]) == 1
    # unique docs stay singletons
    uniq = [r for r in clusters if r["doc_id"] >= 10_000]
    assert all(r["cluster_id"] == r["doc_id"] and r["is_canonical"]
               for r in uniq)
