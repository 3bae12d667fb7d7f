"""Continuous KG construction over a stream of page files.

The reference is a batch framework (SURVEY.md §2.8: no streaming
counterpart), but the north rule requires snapshot-checkpointed incremental
runs. ``run_streaming_kg_pipeline`` is the one streaming composition,
realized with Structured Streaming:

- ``readStream`` file source over the pages directory (new parquet files =
  new crawl snapshots),
- ``stateful.dedup_stream_ttl`` drops in-TTL re-deliveries before any
  extraction work,
- ``foreachBatch`` runs the SAME batch extraction+linking pipeline per
  micro-batch (epoch = snapshot), writing through
  materialize.materialize_snapshot — whose per-(snapshot, bucket)
  overwrite + manifest commit makes replayed epochs idempotent, giving
  effectively-once output on top of the streaming checkpoint's
  at-least-once replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..linking import link_triples
from ..materialize import materialize_snapshot, read_manifest
from ..pipeline import run_extraction_fused
from ..scorer import Vocab

PAGES_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def run_streaming_kg_pipeline(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    vocab: Vocab,
    linker: DataFrame,
    ttl: str = "1 hour",
    watermark_delay: str = "10 minutes",
    n_buckets: int = 8,
    max_files_per_trigger: int | None = None,
):
    """The CONTINUOUS composition of the whole engine: pages stream ->
    event-time-TTL dedup (stateful, recrawl-freshness contract) -> fused
    extraction -> broadcast linking -> manifest-committed materialization.

    One streaming query: ``dedup_stream_ttl`` (applyInPandasWithState —
    in-TTL re-deliveries never reach the extractor, post-TTL recrawls do)
    feeds ``foreachBatch`` running the SAME batch pipeline per micro-batch.
    Exactly-once output: the streaming checkpoint gives at-least-once
    epochs, state versions roll back with a replayed batch (the TTL filter
    re-emits the identical rows), and materialize_snapshot's idempotent
    per-(snapshot,bucket) overwrite absorbs the replay — asserted in
    tests/test_streaming.py by replaying a committed epoch."""
    from .stateful import dedup_stream_ttl

    reader = spark.readStream.schema(PAGES_DDL)
    if max_files_per_trigger is not None:
        # micro-batch sizing knob: availableNow drains the backlog in
        # bounded batches instead of one giant epoch — what a production
        # operator tunes for latency/throughput, and what the streaming
        # bench (jobs/streaming_bench.py) uses to measure sustained
        # per-batch throughput and state growth
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    deduped = dedup_stream_ttl(stream, ttl=ttl,
                               watermark_delay=watermark_delay)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        snapshot_id = f"epoch-{epoch_id:06d}"
        if len(read_manifest(out_dir, snapshot_id)["buckets"]) >= n_buckets:
            # replayed, fully-committed epoch: the snapshot is already on
            # disk, but the batch must still be CONSUMED — the stateful
            # dedup stage only commits its state-store version when every
            # partition runs, and Spark validates those commits per batch.
            # A noop-format write is the cheapest full pass.
            batch_df.write.format("noop").mode("overwrite").save()
            return
        stages = run_extraction_fused(
            spark, batch_df.select("url", "text"), vocab, from_html=False,
            persist=False,
        )
        linked = link_triples(stages["triples"], linker).withColumn(
            "subj_comp", F.col("subj_id")
        ).withColumn("obj_comp", F.col("obj_id"))
        materialize_snapshot(
            linked, out_dir, snapshot_id=snapshot_id, n_buckets=n_buckets,
        )

    q = (
        deduped.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q  # terminated; recentProgress carries per-batch metrics

