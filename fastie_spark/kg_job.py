"""End-to-end KG construction job: extract -> link -> canonicalize -> materialize.

This is the north_rule pipeline in one callable, used by bench.py (the
triples/sec metric times exactly this) and by tests. Its link ->
canonicalize -> graph chain, ``link_and_canonicalize``, is also the one
the driver's KG oracle rows (``__spark_entry__._kg``) check. All stages
are the DataFrame compositions defined in the sibling modules; the only
Python-side loops are the CC iteration (driver-side, O(log n) rounds) and
the decode logic inside the fused Arrow UDF.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .cc import canonicalize, connected_components
from .linking import link_surfaces, prepare_linker_dict
from .materialize import build_graph_tables, materialize_snapshot
from .pipeline import run_extraction_fused
from .scorer import Vocab


def link_and_canonicalize(
    triples: DataFrame,
    mentions: DataFrame,
    linker: DataFrame,
    alias_edges: DataFrame,
    normalize: bool = True,
) -> dict:
    """Lazy link -> canonicalize -> graph chain over extracted triples and
    mentions. Canonicalization runs on the dictionary, not on the rows: the
    best ``linker`` row per alias is mapped to its component once, and that
    resolved ``(alias_norm, canonical_id, prior, comp)`` table is collected
    into a local frame, so each side (subj, obj, mention surface) takes id,
    prior and component from one broadcast join. ``normalize=False`` keeps
    exact surface matching (for a surface-exact dictionary). The union-find
    over ``alias_edges`` and the dictionary collect are the only jobs this
    runs; everything returned is a lazy frame:
    ``{triples, mentions, components, nodes, edges}``."""
    components = connected_components(alias_edges)
    resolved = canonicalize(prepare_linker_dict(linker, normalize),
                            components, "canonical_id", "comp").select(
        "alias_norm", "canonical_id", "prior", "comp")
    # every sink broadcast this dictionary, and a broadcast collects its
    # build side to the driver: one collect keeps the same size envelope
    resolved = linker.sparkSession.createDataFrame(resolved.toArrow())
    linked = link_surfaces(triples, resolved, "subj", "subj", normalize)
    linked = link_surfaces(linked, resolved, "obj", "obj", normalize)
    triples = linked.select(*triples.columns, "subj_id", "subj_prior",
                            "obj_id", "obj_prior", "subj_comp", "obj_comp")
    mentions = link_surfaces(mentions, resolved, "surface", "entity",
                             normalize)
    return {"triples": triples, "mentions": mentions,
            "components": components, **build_graph_tables(triples, mentions)}


def run_kg_job(
    spark: SparkSession,
    pages: DataFrame,
    vocab: Vocab,
    linker: DataFrame,
    alias_edges: DataFrame,
    out_dir: str,
    snapshot_id: str = "snap-000",
    n_buckets: int = 8,
    repartition: bool = True,
) -> dict:
    """Extract, link, canonicalize and materialize ``pages`` into
    ``out_dir`` (provenance snapshot + nodes + edges). Returns the stage
    DataFrames and summary counts/timings. The extraction persist is owned
    here and released before returning."""
    t0 = time.time()

    stages = run_extraction_fused(
        spark, pages, vocab, from_html=True, repartition=repartition
    )
    # per-kind counts ride along with the fill count (observe =
    # CollectMetrics) instead of paying a dedicated groupBy job + cache scan
    obs = Observation("kind_counts")
    raw = stages["_raw"].observe(
        obs,
        F.sum((F.col("kind") == "mention").cast("long")).alias("mention"),
        F.sum((F.col("kind") == "triple").cast("long")).alias("triple"),
        F.sum((F.col("kind") == "event").cast("long")).alias("event"),
    )

    # stages 3-4: entity linking, canonicalization, graph aggregation
    graph = link_and_canonicalize(stages["triples"], stages["mentions"],
                                  linker, alias_edges)

    def _write(name, df):
        # no coalesce: it capped the FINAL aggregation stage (not just the
        # file write) at 8 tasks; AQE's partition coalescing already
        # right-sizes the post-shuffle partition count for these small
        # tables, so the plain write keeps the agg at full parallelism and
        # still emits few files (measured: nodes write 1.15s plain vs 3.5s
        # coalesced on the 600k-doc bench)
        df.write.mode("overwrite").parquet(f"{out_dir}/{name}")

    # ONE extract-only action (count over the observed raw) fills the
    # persist and carries the kind counts as CollectMetrics. The three sinks
    # — provenance, nodes, edges — are then all independent jobs over the
    # hot cache, so they run from ONE 3-thread pool (guide-style overlap of
    # independent jobs): each is a cache scan + its own small
    # shuffle/write, and the later jobs' tasks back-fill executors freed by
    # the earlier jobs' tails. Deterministic single-compute: the cache is
    # complete BEFORE any sink starts, so no sink can race another into
    # recomputing extraction partitions. (Previously the provenance write
    # doubled as the fill and nodes+edges waited for all of it; measured
    # 6.93 -> 6.47 s at 600k docs.)
    try:
        raw.count()
        with ThreadPoolExecutor(max_workers=3) as pool:
            futs = [
                pool.submit(materialize_snapshot, graph["triples"], out_dir,
                            snapshot_id, n_buckets=n_buckets),
                pool.submit(_write, "nodes", graph["nodes"]),
                pool.submit(_write, "edges", graph["edges"]),
            ]
            manifest = [f.result() for f in futs][0]
    finally:
        stages["_raw"].unpersist()
    # the fill count flowed every raw row through the observe node —
    # obs.get is a metadata fetch, not another job
    counts = {k: int(v) for k, v in obs.get.items() if v and int(v) > 0}
    return {
        "mentions": graph["mentions"],
        "triples": graph["triples"],
        "events": stages["events"],
        "nodes": graph["nodes"],
        "edges": graph["edges"],
        "manifest": manifest,
        # per-bucket lineage counts already paid for the pass — reuse
        "n_triples": sum(b["triples"] for b in manifest["buckets"].values()),
        "counts": counts,
        "wall_sec": time.time() - t0,
    }
