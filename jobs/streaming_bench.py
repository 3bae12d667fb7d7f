#!/usr/bin/env python
"""Streaming throughput evidence (round-4 verdict item 6): measure the
continuous KG pipeline (run_streaming_kg_pipeline: event-time-TTL stateful
dedup -> fused extraction -> broadcast linking -> manifest-committed
materialization) as a sequence of bounded micro-batches and report

  - sustained docs/sec (input rows / sum of trigger-execution time),
  - per-batch end-to-end latency (triggerExecution ms),
  - state-store rows + memory over time (the bounded-state claim:
    TTL-dedup state grows with DISTINCT urls inside the TTL window, not
    with the stream length).

Usage:  python jobs/streaming_bench.py [n_docs] [files_per_trigger]
        (defaults 120_000 pages in 12 files, 2 files per trigger
         => 6 micro-batches)
Prints one JSON line; paste the row into BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from fastie_spark.fixtures import build_linker_dict, build_vocab  # noqa: E402
from fastie_spark.session import get_spark, local_df  # noqa: E402
from fastie_spark.streaming.incremental import (  # noqa: E402
    run_streaming_kg_pipeline,
)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 120_000
    files_per_trigger = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    n_files = 12

    spark = get_spark(app_name="streaming_bench")
    vocab = build_vocab()
    linker = local_df(
        spark, build_linker_dict(vocab),
        "alias string, canonical_id string, entity_type string, prior double",
    )

    work = tempfile.mkdtemp(prefix="stream_bench_")
    input_dir = os.path.join(work, "pages")

    # synthesize the stream input as n_files parquet files (each file is a
    # unit of stream arrival; files_per_trigger bounds each micro-batch)
    def gen(batches):
        import pandas as pd

        from fastie_spark.fixtures import build_page_row

        for pdf in batches:
            yield pd.DataFrame(
                [build_page_row(vocab, int(i)) for i in pdf["id"]]
            )

    (
        spark.range(n_docs).repartition(n_files)
        .mapInPandas(
            gen,
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string",
        )
        .write.mode("overwrite").parquet(input_dir)
    )

    out_dir = os.path.join(work, "graph")
    ckpt = os.path.join(work, "ckpt")
    t0 = time.time()
    q = run_streaming_kg_pipeline(
        spark, input_dir, out_dir, ckpt, vocab, linker,
        ttl="1 hour", watermark_delay="1 minute",
        n_buckets=spark.sparkContext.defaultParallelism,
        max_files_per_trigger=files_per_trigger,
    )
    wall = time.time() - t0

    batches = []
    for raw in q.recentProgress:
        p = raw if isinstance(raw, dict) else json.loads(raw)
        rows = p.get("numInputRows", 0)
        if not rows:
            continue  # the final empty commit batch
        dur = p["durationMs"].get("triggerExecution", 0)
        st = (p.get("stateOperators") or [{}])[0]
        batches.append({
            "batch_id": p.get("batchId"),
            "rows": rows,
            "trigger_ms": dur,
            "docs_per_sec": round(rows / (dur / 1000.0), 1) if dur else None,
            "state_rows": st.get("numRowsTotal"),
            "state_mem_bytes": st.get("memoryUsedBytes"),
        })
    batches.sort(key=lambda b: b["batch_id"])
    total_rows = sum(b["rows"] for b in batches)
    total_trigger_s = sum(b["trigger_ms"] for b in batches) / 1000.0
    prov = spark.read.parquet(os.path.join(out_dir, "provenance"))
    n_triples = prov.count()

    print(json.dumps({
        "metric": "streaming_kg_docs_per_sec",
        "value": round(total_rows / total_trigger_s, 1),
        "unit": "docs/sec",
        "n_docs": total_rows,
        "n_triples": n_triples,
        "triples_per_sec": round(n_triples / total_trigger_s, 1),
        "n_batches": len(batches),
        "wall_sec": round(wall, 3),
        "sum_trigger_sec": round(total_trigger_s, 3),
        "batch_latency_ms": [b["trigger_ms"] for b in batches],
        "batch_docs_per_sec": [b["docs_per_sec"] for b in batches],
        "state_rows_over_time": [b["state_rows"] for b in batches],
        "state_mem_bytes_over_time": [b["state_mem_bytes"] for b in batches],
    }))
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
