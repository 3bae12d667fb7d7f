"""Physical-plan quality gates: column pruning / filter pushdown reach the
parquet scan, dictionary joins broadcast, and hot paths don't shuffle more
than designed. These are the 100 TB guardrails — a regression here is a
performance bug even if results stay correct."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from fastie_spark.linking import link_mentions, prepare_linker_dict
from fastie_spark.session import local_df
from fastie_spark.textops import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    """Formatted plan (node details: PushedFilters, ReadSchema...)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_tree(df) -> str:
    """Simple-mode tree — each operator appears exactly once, so substring
    counts == operator counts."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    return buf.getvalue()


def test_chunk_stats_column_pruning(spark):
    df = REGISTRY["chunk_stats"][0](spark, SF_DIR)
    # scan must read only doc_id + text, not lang/source/n_chars
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan_of(df)
    assert "Exchange" not in plan_tree(df)  # pure projection, no shuffle


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("lang") == "en")
        .select("doc_id")
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_linking_join_is_broadcast(spark, vocab):
    from fastie_spark.fixtures import build_linker_dict

    linker = local_df(
        spark, build_linker_dict(vocab),
        "alias string, canonical_id string, entity_type string, prior double",
    )
    mentions = spark.createDataFrame(
        [("u", "per", 0, 3, "abc")],
        "url string, label string, start long, end long, surface string",
    )
    plan = plan_of(link_mentions(mentions, linker))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_exact_single_shuffle(spark):
    plan = plan_tree(REGISTRY["dedup_exact"][0](spark, SF_DIR))
    # one hash-aggregate pair around exactly one exchange (map-side partial)
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2


def test_minhash_signature_is_shuffle_free(spark):
    """The per-doc minima are row-local array reductions (array_min over
    transform) — the signature stage must be a pure projection: no keyed
    (hash-partitioned) Exchange, no Generate (explode), no aggregate. The
    one exchange permitted is _scan_parallel's ROUND-ROBIN repartition,
    which fires only when the input arrives as fewer scan splits than half
    the cores (tiny local files; never at scale) to spread the md5 work."""
    plan = plan_tree(REGISTRY["minhash_signature"][0](spark, SF_DIR))
    assert "hashpartitioning" not in plan
    assert "Generate" not in plan
    assert "Aggregate" not in plan
    # any exchange present must be the adaptive scan-parallelizer
    assert plan.count("Exchange") == plan.count("RoundRobinPartitioning")


def test_knn_query_side_broadcast(spark):
    plan = plan_of(REGISTRY["knn_cosine"][0](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


@pytest.mark.parametrize("from_html", [True, False])
def test_fused_extraction_no_extra_shuffle(spark, vocab, pages_df, from_html):
    from fastie_spark.pipeline import run_extraction_fused

    out = run_extraction_fused(spark, pages_df, vocab, persist=False,
                               from_html=from_html)
    plan = plan_tree(out["triples"])
    # exactly the one designed shuffle: the explicit url-hash repartition
    assert plan.count("Exchange") == 1
    assert "Exchange hashpartitioning(xxhash64(url" in plan
    # and the whole decode stage is a single python stage (Arrow-native
    # since the fused path moved to mapInArrow)
    assert plan.count("MapInArrow") == 1
    assert "MapInPandas" not in plan


def test_python_stages_cross_one_arrow_boundary(spark, vocab, pages_df,
                                                monkeypatch, tmp_path):
    """Every per-row Python stage is a mapInArrow stage: the multi-decoder,
    the media operators and each UIE BFS level (read off the frame each
    level checkpoint writes, since the result reads back from parquet)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from fastie_spark.multi_decoder import run_multi_decoder
    from fastie_spark.multimodal import ensure_media_parquet, image_features
    from fastie_spark.uie import run_uie_spark

    written = []
    real_parquet = DataFrameWriter.parquet

    def parquet(self, *a, **k):
        written.append(plan_tree(self._df))
        return real_parquet(self, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    subj, pred, _ = vocab.relation_vocab[0]
    run_uie_spark(spark, pages_df, vocab,
                  {dict(vocab.entity_vocab)[subj]: [pred]},
                  work_dir=str(tmp_path / "uie"))
    assert len(written) == 2  # one checkpoint per BFS level
    media = spark.read.parquet(ensure_media_parquet())
    for plan in written + [
        plan_tree(run_multi_decoder(spark, pages_df, vocab)),
        plan_tree(image_features(media)),
    ]:
        assert plan.count("MapInArrow") == 1
        assert "MapInPandas" not in plan


def test_corpus_filter_single_scan_for_predicates(spark):
    """corpus_filter computes quality + lang-id in the same projection —
    the plan must show exactly two scans of documents (per-row side +
    dedup-winner side) and a semi join."""
    plan = plan_tree(REGISTRY["corpus_filter"][0](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 2
    assert "LeftSemi" in plan or "left_semi" in plan.lower()


def test_seeded_shuffle_no_global_sort(spark):
    """The deterministic-shuffle rank must NOT move the table through one
    task: no single-partition Exchange feeding the row-level Window (the
    only SinglePartition allowed is the dictionary-sized bucket-offset
    cumsum), and the row window must be hash-partitioned by bucket."""
    df = REGISTRY["seeded_shuffle"][0](spark, SF_DIR)
    tree = plan_tree(df)
    # the base-table window runs over hashpartitioning(b, ...)
    assert "hashpartitioning(b#" in tree
    # at most one SinglePartition exchange, and it must sit under an
    # aggregate (the 65536-row offsets table), never under the parquet scan
    single = tree.count("Exchange SinglePartition")
    assert single <= 1
    if single:
        seg = tree[tree.find("Exchange SinglePartition"):]
        assert "HashAggregate" in seg  # offsets side, post-aggregation


def test_emb_near_dup_no_cross_join(spark):
    """emb_near_dup is candidates->verify: band-bucketed self-joins only,
    never an all-pairs cartesian."""
    plan = plan_tree(REGISTRY["emb_near_dup"][0](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_semi_filters_shingles(spark):
    """The exact-Jaccard verify stage must semi-join-filter the shingle
    table to candidate docs before the intersection join."""
    plan = plan_tree(REGISTRY["ngram_jaccard_pairs"][0](spark, SF_DIR))
    assert "LeftSemi" in plan


def test_link_embedding_alias_side_broadcast(spark):
    """Embedding linking must broadcast the (dictionary-sized) alias side
    everywhere it joins — no SortMergeJoin against the alias embeddings or
    norms, and the query/alias pair enumeration is a broadcast nested loop,
    never a shuffled cartesian."""
    from fastie_spark.linking import link_by_embedding

    queries = local_df(spark, [{"surface": s} for s in ("abcd", "bcde")],
                       "surface string")
    aliases = local_df(
        spark,
        [{"alias": a, "canonical_id": f"Q{i:05d}"}
         for i, a in enumerate(("abcde", "bcdef", "cdefg"))],
        "alias string, canonical_id string",
    )
    plan = plan_tree(link_by_embedding(queries, aliases))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # broadcast pair enumeration
    assert "BroadcastHashJoin" in plan  # dim-join + alias-norm join


def test_link_embedding_banded_no_cross_product(spark):
    """prefilter="band" is the 100 TB path: candidate generation is an
    equi-join on the sign-band key — no BroadcastNestedLoopJoin, no
    CartesianProduct anywhere in the plan, so a 10^8-alias dictionary
    never has to broadcast or enumerate all pairs."""
    from fastie_spark.linking import link_by_embedding

    queries = local_df(spark, [{"surface": s} for s in ("abcd", "bcde")],
                       "surface string")
    aliases = local_df(
        spark,
        [{"alias": a, "canonical_id": f"Q{i:05d}"}
         for i, a in enumerate(("abcde", "bcdef", "cdefg"))],
        "alias string, canonical_id string",
    )
    plan = plan_tree(link_by_embedding(queries, aliases, prefilter="band"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_link_dictionary_shuffle_fallback_plan(spark, vocab):
    """strategy="shuffle" must produce a shuffled hash join (the
    non-broadcastable-dictionary fallback) and never re-broadcast the
    dictionary via Catalyst's own size stats."""
    from fastie_spark.fixtures import build_linker_dict

    linker = local_df(
        spark, build_linker_dict(vocab),
        "alias string, canonical_id string, entity_type string, prior double",
    )
    mentions = spark.createDataFrame(
        [("u", "per", 0, 3, "abc")],
        "url string, label string, start long, end long, surface string",
    )
    plan = plan_of(link_mentions(mentions, linker, strategy="shuffle"))
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_resolved_dictionary_one_join_per_side(spark, vocab):
    """link_and_canonicalize resolves each alias to (id, prior, component)
    once, on the dictionary: every sink plan does one broadcast join per
    linked side (subj + obj for triples and edges, surface for nodes) and
    none of them re-aggregates the dictionary by alias."""
    from fastie_spark.fixtures import build_alias_edges, build_linker_dict
    from fastie_spark.kg_job import link_and_canonicalize

    linker = local_df(
        spark, build_linker_dict(vocab),
        "alias string, canonical_id string, entity_type string, prior double",
    )
    edges = local_df(spark, build_alias_edges(vocab)[0], "src string, dst string")
    triples = spark.createDataFrame(
        [("u", "abc", "p", "def")],
        "url string, subj string, pred string, obj string",
    )
    mentions = spark.createDataFrame(
        [("u", "per", 0, 3, "abc")],
        "url string, label string, start long, end long, surface string",
    )
    chain = link_and_canonicalize(triples, mentions, linker, edges)
    for name, joins in [("triples", 2), ("nodes", 1), ("edges", 2)]:
        plan = plan_tree(chain[name])
        assert plan.count("BroadcastHashJoin") == joins, name
        assert "hashpartitioning(alias_norm" not in plan, name


def test_near_dup_clusters_no_cross_product(spark):
    """Cluster dedup composes the banded pair join + CC + one keyed corpus
    join — no cartesian anywhere, and the corpus-side join is an equi-join
    on doc_id."""
    plan = plan_tree(REGISTRY["near_dup_clusters"][0](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_source_profile_single_corpus_pass(spark):
    """source_profile's three consumers must read the DISK_ONLY-persisted
    (source, hash, lang) intermediate (InMemoryTableScan over the cached
    relation), not re-scan the corpus per branch — the text column is read
    exactly once."""
    df = REGISTRY["source_profile"][0](spark, SF_DIR)
    df.collect()  # materializes the cache
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "InMemoryTableScan" in final


def test_near_dup_pairs_signature_computed_once(spark):
    """The projection-based minhash has no Exchange of its own, so the
    banding self-join must repartition the slim (doc_id, band) table and
    REUSE that exchange for both sides — one signature/md5 pass over the
    corpus, not two. Exchange reuse is an AQE decision, so assert on the
    EXECUTED final plan. If another operator's DISK_ONLY signature cache
    is still alive in the shared session, Catalyst substitutes the
    InMemoryRelation instead (also a single pass) — clear it first so the
    gate tests the cold-plan shape."""
    from fastie_spark.textops import release_caches

    release_caches()
    df = REGISTRY["near_dup_pairs"][0](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final or "InMemoryTableScan" in final
