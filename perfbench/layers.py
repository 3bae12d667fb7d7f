"""Per-layer measurements for the traced run.

Harnesses built from the benchmark side around public calls:

- `loop_layers`: the fused per-document loop (`make_fused_doc_arrow_fn`)
  run in this process, with a timing wrapper around each callable it
  calls into a layer (see `_LoopProbe`). The matcher scan is timed
  separately by wrapping the scorer's `MultiPatternMatcher.occurrences`,
  and its time is subtracted from the scorer call that paid for it.
- `kg_phases`: `run_kg_job`'s public calls replayed one phase at a time,
  each phase its own action under its own job description, so the event
  log can be folded per phase (see eventlog.py). `CcProbe` does the same
  for the connected-components call inside the curation chain.
- `stream_leg`: `run_streaming_kg_pipeline` over a file sequence with
  re-deliveries, checked against `run_kg_job` on the deduped pages.
"""

from __future__ import annotations

import statistics
from collections import defaultdict
from contextlib import contextmanager
from time import perf_counter as clock

from pyspark.sql import functions as F

PHASES = ["extract", "linking", "cc", "materialize.provenance",
          "materialize.nodes", "materialize.edges"]


def _per_layer_units() -> dict:
    units = {
        "text_extract.busy_s": "s", "text_extract.pages": "count",
        "text_extract.poison_pages": "count", "chunking.busy_s": "s",
        "chunking.chunks_per_doc": "ratio", "tokenizer.busy_s": "s",
        "tokenizer.calls": "count", "matcher.busy_s": "s",
        "matcher.scans": "count", "matcher.chars_scanned": "count",
        "scorer.event_views.self_s": "s", "scorer.mentions_fast.busy_s": "s",
        "scorer.triples_fast.busy_s": "s", "decoders.event_decode.busy_s": "s",
        "decoders.events": "count", "pipeline.fused_fn.busy_s": "s",
        "pipeline.row_build.self_s": "s", "pipeline.rows_out": "count",
        "executor_init.build_s": "s",
    }
    for name in PHASES + ["textops.curate"]:
        units.update({f"{name}.jobs": "count", f"{name}.task_max_s": "s",
                      f"{name}.task_median_s": "s",
                      f"{name}.shuffle_write_bytes": "bytes",
                      f"{name}.spill_bytes": "bytes"})
    for name in PHASES:
        units.update({f"{name}.wall_s": "s", f"{name}.rows_out": "count"})
    units.update({
        "extract.py_bytes_in": "bytes", "extract.py_bytes_out": "bytes",
        "linking.link_rate": "ratio", "cc.rows_in": "count",
        "streaming.batches": "count", "streaming.batch_wall_s": "s",
        "streaming.state_rows": "count", "streaming.state_mem_bytes": "bytes",
        "streaming.dedup_drop_frac": "ratio", "materialize.commits": "count",
        "scaling.eff_1_to_n": "ratio", "trace.phase_sum_s": "s",
        "trace.untraced_wall_s": "s", "trace.overhead_s": "s",
        "jobs_per_run": "count", "cold_wall_s": "s", "peak_rss_mb": "MB",
        "triples_per_s": "1/s",
    })
    return units


# every per-layer metric the traced run reports, with its unit
PER_LAYER = _per_layer_units()


class _LoopProbe:
    """Timing wrappers over the callables the fused per-doc loop calls.

    `pipeline._fused_doc_processor`'s `process` looks up the tokenizer and
    the event decoders as `pipeline` module globals, takes the html->text
    and chunking functions from their modules when `_fused_doc_processor`
    is called, and calls the scorer's methods on the cached scorer
    instance. Each is replaced by a timed wrapper for the life of the
    probe, so the program's own loop runs and is measured. A scorer span
    excludes the matcher scans made inside it (`matcher` is its own span).
    """

    def __init__(self):
        self.s: dict = defaultdict(float)
        self.n: dict = defaultdict(int)
        self._undo: list = []

    def time(self, owner, attr: str, span: str, count=None) -> None:
        orig = getattr(owner, attr)
        s = self.s

        def timed(*a, **k):
            m0, t = s["matcher"], clock()
            try:
                out = orig(*a, **k)
            except Exception:
                if count:
                    count(a, None, False)
                raise
            finally:
                s[span] += clock() - t - (s["matcher"] - m0)
            if count:
                count(a, out, True)
            return out

        # an instance attribute shadows the class method; restore by delete
        self._undo.append((owner, attr, vars(owner).get(attr),
                           attr in vars(owner)))
        setattr(owner, attr, timed)

    def restore(self) -> None:
        for owner, attr, old, had in reversed(self._undo):
            if had:
                setattr(owner, attr, old)
            else:
                delattr(owner, attr)
        self._undo.clear()

    @contextmanager
    def installed(self, scorer):
        from fastie_spark import chunking, pipeline, text_extract

        n = self.n

        def extracted(a, out, ok):
            n["pages" if ok else "poison"] += 1

        def split(a, out, ok):
            n["docs"] += 1
            n["chunks"] += len(out) if ok else 0

        def encoded(a, out, ok):
            n["tok_calls"] += 1

        def scanned(a, out, ok):
            n["scans"] += 1
            n["chars"] += len(a[0])

        def events(a, out, ok):
            n["events"] += len(out) if ok else 0

        try:
            self.time(text_extract, "extract_text_py", "text_extract",
                      extracted)
            self.time(chunking, "split_one", "chunking", split)
            self.time(chunking, "char_bases", "chunking")
            self.time(pipeline, "encode", "tokenizer", encoded)
            self.time(pipeline, "event_decode_from_argus", "event_decode")
            self.time(pipeline, "event_set2json", "event_decode", events)
            self.time(scorer._matcher, "occurrences", "matcher", scanned)
            for name in ("event_views", "mentions_fast", "triples_fast"):
                self.time(scorer, name, name)
            yield self
        finally:
            self.restore()


def _batches(rows, src_col: str, size: int = 1024) -> list:
    import pyarrow as pa

    table = pa.table({"url": [r["url"] for r in rows],
                      src_col: [r[src_col] for r in rows]})
    return table.to_batches(max_chunksize=size)


def loop_layers(vocab, rows, poison: set, passes: int = 3) -> tuple:
    """Per-layer busy time of the fused per-doc loop, run in this process
    through `make_fused_doc_arrow_fn` on Arrow batches of `rows` (median of
    `passes` passes), and the scorer build time. Returns (metrics,
    failures)."""
    from fastie_spark import executor_init
    from fastie_spark.pipeline import (
        _fused_doc_processor,
        make_fused_doc_arrow_fn,
    )

    setup, _ = _fused_doc_processor(vocab, from_html=True)
    builds = []
    for _ in range(5):
        executor_init._CACHE.clear()
        t = clock()
        ctx = setup()
        builds.append(clock() - t)

    batches = _batches(rows, "html")
    probes, fused_s, n_rows = [], [], 0
    for _ in range(passes):
        probe = _LoopProbe()
        # the wrappers go in before make_fused_doc_arrow_fn imports the
        # chunking and html->text functions; its setup() returns the cached
        # scorer that carries the instance wrappers
        with probe.installed(ctx[0]):
            fn = make_fused_doc_arrow_fn(vocab, from_html=True)
            t = clock()
            out = list(fn(iter(batches)))
            fused_s.append(clock() - t)
        probes.append(probe)
        n_rows = sum(b.num_rows for b in out)

    n = probes[-1].n
    fails = []
    want_poison = sum(1 for r in rows if r["url"] in poison)
    if n["pages"] + n["poison"] != len(rows) or n["poison"] != want_poison:
        fails.append(f"loop probe saw {n['pages']} pages and {n['poison']} "
                     f"undecodable of {len(rows)}, {want_poison} seeded")
    if not (n["tok_calls"] and n["scans"]):
        fails.append("loop probe saw no tokenizer or matcher calls")

    spans = {k: statistics.median(p.s[k] for p in probes) for k in (
        "text_extract", "chunking", "tokenizer", "matcher", "event_views",
        "mentions_fast", "triples_fast", "event_decode")}
    fused = statistics.median(fused_s)
    metrics = {
        "text_extract.busy_s": spans["text_extract"],
        "text_extract.pages": n["pages"],
        "text_extract.poison_pages": n["poison"],
        "chunking.busy_s": spans["chunking"],
        "chunking.chunks_per_doc": n["chunks"] / max(n["docs"], 1),
        "tokenizer.busy_s": spans["tokenizer"],
        "tokenizer.calls": n["tok_calls"],
        "matcher.busy_s": spans["matcher"],
        "matcher.scans": n["scans"],
        "matcher.chars_scanned": n["chars"],
        "scorer.event_views.self_s": spans["event_views"],
        "scorer.mentions_fast.busy_s": spans["mentions_fast"],
        "scorer.triples_fast.busy_s": spans["triples_fast"],
        "decoders.event_decode.busy_s": spans["event_decode"],
        "decoders.events": n["events"],
        "pipeline.fused_fn.busy_s": fused,
        "pipeline.row_build.self_s": fused - sum(spans.values()),
        "pipeline.rows_out": n_rows,
        "executor_init.build_s": statistics.median(builds),
    }
    return metrics, fails


class CcProbe:
    """Wraps fastie_spark.cc.connected_components (looked up by module
    attribute at each call) to time it under its own job description and
    count the edge rows handed to the driver-side union-find and the
    nodes it labels."""

    def __init__(self, sc):
        self.sc = sc
        self.wall_s = 0.0
        self.rows_in = 0
        self.rows_out = 0

    @contextmanager
    def installed(self, outer_desc: str | None):
        from fastie_spark import cc

        orig_cc, orig_uf = cc.connected_components, cc._driver_union_find

        def connected_components(*a, **k):
            self.sc.setJobDescription("cc")
            t = clock()
            try:
                return orig_cc(*a, **k)
            finally:
                self.wall_s += clock() - t
                self.sc.setJobDescription(outer_desc)

        def driver_union_find(spark, pairs, *a, **k):
            self.rows_in += len(pairs)
            self.rows_out += len({n for pair in pairs for n in pair})
            return orig_uf(spark, pairs, *a, **k)

        cc.connected_components = connected_components
        cc._driver_union_find = driver_union_find
        try:
            yield self
        finally:
            cc.connected_components = orig_cc
            cc._driver_union_find = orig_uf


def kg_phases(spark, ctx, out_dir: str) -> dict:
    """run_kg_job's calls, one tagged action per phase. Returns
    {phase: {wall_s, rows_out}} plus linking's link rate."""
    from fastie_spark.cc import canonicalize
    from fastie_spark.linking import link_mentions, link_triples
    from fastie_spark.materialize import (
        build_graph_tables,
        materialize_snapshot,
    )
    from fastie_spark.pipeline import (
        MENTION_COLS,
        TRIPLE_COLS,
        run_extraction_fused,
    )

    sc = spark.sparkContext
    out: dict = {}

    def phase(name, fn):
        sc.setJobDescription(name)
        t = clock()
        try:
            rows = fn()
        finally:
            sc.setJobDescription(None)
        out[name] = {"wall_s": clock() - t, "rows_out": rows}

    stages = run_extraction_fused(spark, ctx.pages, ctx.vocab,
                                  from_html=True,
                                  repartition=False)
    raw = stages["_raw"]
    phase("extract", raw.count)
    mentions_raw = raw.filter(F.col("kind") == "mention").select(*MENTION_COLS)
    triples_raw = raw.filter(F.col("kind") == "triple").select(*TRIPLE_COLS)
    tl = link_triples(triples_raw, ctx.linker, strategy="broadcast")
    ml = link_mentions(mentions_raw, ctx.linker, strategy="broadcast")
    link = {}

    def linking():
        r = ml.agg(F.count(F.lit(1)).alias("n"),
                   F.count("entity_id").alias("linked")).collect()[0]
        link["rate"] = r["linked"] / max(r["n"], 1)
        return r["n"] + tl.count()

    phase("linking", linking)
    probe = CcProbe(sc)
    comp = {}

    def components():
        with probe.installed(None):
            from fastie_spark import cc

            comp["df"] = cc.connected_components(ctx.edges)
        return comp["df"].count()

    phase("cc", components)
    tl = canonicalize(tl, comp["df"], "subj_id", "subj_comp")
    tl = canonicalize(tl, comp["df"], "obj_id", "obj_comp")
    ml = canonicalize(ml, comp["df"], "entity_id", "entity_comp")
    graph = build_graph_tables(tl, ml)

    def provenance():
        m = materialize_snapshot(tl, out_dir, "trace", n_buckets=8)
        return sum(b["triples"] for b in m["buckets"].values())

    def write(name):
        def go():
            graph[name].write.mode("overwrite").parquet(f"{out_dir}/{name}")
            return None
        return go

    phase("materialize.provenance", provenance)
    phase("materialize.nodes", write("nodes"))
    phase("materialize.edges", write("edges"))
    sc.setJobDescription("verify")
    for name in ("nodes", "edges"):
        out[f"materialize.{name}"]["rows_out"] = spark.read.parquet(
            f"{out_dir}/{name}").count()
    sc.setJobDescription(None)
    raw.unpersist()
    out["linking"]["link_rate"] = link["rate"]
    out["cc"]["rows_in"] = probe.rows_in
    return out


STREAM_FILES, STREAM_PER_TRIGGER, REDELIVER_SHARE = 8, 2, 0.1


def stream_inputs(rows: list, seed: int) -> list:
    """Page files for the stream leg: `rows` split over STREAM_FILES files,
    and a seeded share of each file's pages delivered again, 30 s of event
    time later (inside the 1-hour TTL), in the next file. Returns a list of
    row lists, one per file, each starting with its first deliveries."""
    import datetime as dt

    import numpy as np

    rng = np.random.default_rng((seed, 0x57EA))
    per = len(rows) // STREAM_FILES
    files = [list(rows[i * per:(i + 1) * per]) for i in range(STREAM_FILES)]
    for i in range(STREAM_FILES - 1):
        k = round(per * REDELIVER_SHARE)
        for j in sorted(rng.choice(per, size=k, replace=False).tolist()):
            again = dict(files[i][j])
            again["warc_ts"] = again["warc_ts"] + dt.timedelta(seconds=30)
            files[i + 1].append(again)
    return files


def stream_leg(ctx, work: str, seed: int, n_pages: int = 4000) -> tuple:
    """run_streaming_kg_pipeline over a file sequence with re-deliveries,
    drained with maxFilesPerTrigger, against run_kg_job on the deduped
    pages. Returns (metrics, failures)."""
    import glob
    import json
    import os

    from fastie_spark.kg_job import run_kg_job
    from fastie_spark.streaming import incremental
    from inputs import write_file, write_pages
    from pyspark.sql import Observation

    spark = ctx.spark
    # the stream path reads text, the batch reference reads html: leave the
    # undecodable pages out so both see the same documents
    clean = [r for r in ctx.rows if r["url"] not in ctx.poison][:n_pages]
    files = stream_inputs(clean, seed)
    per = len(clean) // STREAM_FILES
    in_dir = os.path.join(work, "stream_in")
    os.makedirs(in_dir)
    for i, f in enumerate(files):
        # one file per arrival; the file source orders by modification time
        path = os.path.join(in_dir, f"part-{i:03d}.parquet")
        write_file(f, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    unique = [r for f in files for r in f[:per]]
    n_in = sum(len(f) for f in files)

    observed = []
    orig = incremental.run_extraction_fused

    def counted(spark_, df, *a, **k):
        obs = Observation(f"stream_batch_{len(observed)}")
        observed.append(obs)
        return orig(spark_, df.observe(obs, F.count(F.lit(1)).alias("n")),
                    *a, **k)

    out_dir = os.path.join(work, "stream_out")
    incremental.run_extraction_fused = counted
    try:
        q = incremental.run_streaming_kg_pipeline(
            spark, in_dir, out_dir, os.path.join(work, "stream_ckpt"),
            ctx.vocab, ctx.linker, ttl="1 hour",
            watermark_delay="10 minutes", n_buckets=8,
            max_files_per_trigger=STREAM_PER_TRIGGER)
    finally:
        incremental.run_extraction_fused = orig
    progress = [p if isinstance(p, dict) else json.loads(p)
                for p in q.recentProgress]
    batches = [p for p in progress if p.get("numInputRows")]
    state = [(p.get("stateOperators") or [{}])[0] for p in batches]
    emitted = sum(int(o.get.get("n", 0)) for o in observed)

    ref_dir = os.path.join(work, "stream_ref")
    uniq_path = os.path.join(work, "stream_unique")
    write_pages(unique, uniq_path, 1)
    run_kg_job(spark, spark.read.parquet(uniq_path), ctx.vocab, ctx.linker,
               ctx.edges, out_dir=ref_dir, snapshot_id="ref", n_buckets=8,
               repartition=False)
    key = ["url", "subj", "pred", "obj", "subj_id", "obj_id"]

    def triples(d):
        return {tuple(r) for r in
                spark.read.parquet(f"{d}/provenance").select(*key).collect()}

    fails = []
    got, want = triples(out_dir), triples(ref_dir)
    if got != want or not want:
        fails.append(f"stream provenance differs from the batch job on the "
                     f"deduped pages: {len(got ^ want)} of {len(want)} rows")
    if emitted != len(unique):
        fails.append(f"dedup emitted {emitted} pages, expected {len(unique)}")
    commits = glob.glob(os.path.join(out_dir, "_manifest_*.json"))
    metrics = {
        "streaming.batches": len(batches),
        "streaming.batch_wall_s": statistics.median(
            p["durationMs"]["triggerExecution"] / 1000.0 for p in batches),
        "streaming.state_rows": state[-1].get("numRowsTotal", 0),
        "streaming.state_mem_bytes": state[-1].get("memoryUsedBytes", 0),
        "streaming.dedup_drop_frac": 1.0 - emitted / n_in,
        "materialize.commits": len(commits),
    }
    return metrics, fails
