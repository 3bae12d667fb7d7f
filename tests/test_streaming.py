"""Structured-Streaming KG construction: the TTL dedup operator and the
continuous pipeline built on it (run_streaming_kg_pipeline) — exactly-once
snapshots across restarts, epoch replay, and recrawl-freshness dedup."""

import os

import pytest
from pyspark.sql import functions as F

from fastie_spark.fixtures import build_linker_dict, build_pages
from fastie_spark.session import local_df
from fastie_spark.streaming.incremental import (
    PAGES_DDL,
    run_streaming_kg_pipeline,
)

PAGES_SCHEMA = PAGES_DDL


@pytest.fixture(scope="module")
def linker_df(spark, vocab):
    return local_df(
        spark, build_linker_dict(vocab),
        "alias string, canonical_id string, entity_type string, prior double",
    )


def _write_wave(spark, pages, path):
    local_df(spark, pages, PAGES_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_incremental_exactly_once(spark, vocab, linker_df, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir, exist_ok=True)

    def run():
        # one file per micro-batch: a run over a backlog commits one
        # epoch (= snapshot) per file; returns the pages the run read
        q = run_streaming_kg_pipeline(spark, in_dir, out_dir, ckpt, vocab,
                                      linker_df, max_files_per_trigger=1)
        return sum(p["numInputRows"] for p in q.recentProgress)

    def prov():
        return spark.read.parquet(os.path.join(out_dir, "provenance"))

    def snapshots():
        return {r["snapshot_id"]
                for r in prov().select("snapshot_id").distinct().collect()}

    all_pages = build_pages(vocab, n_docs=60, seed=3)
    # wave 1 lands as two files before the first run
    _write_wave(spark, all_pages[:15], in_dir)
    _write_wave(spark, all_pages[15:30], in_dir)
    assert run() == 30
    n1 = prov().count()
    urls1 = {r["url"] for r in prov().select("url").distinct().collect()}
    snaps1 = snapshots()
    assert n1 > 0
    assert urls1 <= {p["url"] for p in all_pages[:30]}
    assert len(snaps1) >= 2  # maxFilesPerTrigger split the backlog

    # second wave: only the new files are processed (streaming checkpoint)
    _write_wave(spark, all_pages[30:], in_dir)
    assert run() == 30
    n2 = prov().count()
    assert n2 > n1
    new = prov().filter(~F.col("snapshot_id").isin(*snaps1))
    urls2 = {r["url"] for r in new.select("url").distinct().collect()}
    assert urls2 and urls2 <= {p["url"] for p in all_pages[30:]}
    assert prov().filter(F.col("snapshot_id").isin(*snaps1)).count() == n1
    # no duplicated triples (exactly-once)
    dup = (
        prov().groupBy("url", "subj", "pred", "obj").count()
        .filter("count > 1")
    )
    assert dup.count() == 0

    # re-run with no new input: nothing changes (idempotent restart)
    snaps2 = snapshots()
    assert run() == 0
    assert prov().count() == n2
    assert snapshots() == snaps2


def test_stateful_dedup_stream_ttl(spark, vocab, tmp_path):
    """Event-time TTL dedup: a url re-delivered WITHIN the ttl is
    suppressed; re-delivered AFTER ttl of silence it is emitted again
    (recrawl-freshness semantics); brand-new urls always pass. State
    expires with the watermark (bounded over unbounded streams)."""
    import datetime

    from fastie_spark.streaming.stateful import dedup_stream_ttl

    in_dir = str(tmp_path / "ttl_in")
    out_dir = str(tmp_path / "ttl_out")
    ckpt = str(tmp_path / "ttl_ckpt")
    os.makedirs(in_dir, exist_ok=True)
    pages = build_pages(vocab, n_docs=25, seed=13)
    base = datetime.datetime(2026, 1, 1, 0, 0, 0)

    def stamped(rows, minutes):
        ts = base + datetime.timedelta(minutes=minutes)
        return [{**r, "warc_ts": ts} for r in rows]

    def run_wave(rows):
        local_df(spark, rows, PAGES_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        stream = spark.readStream.schema(PAGES_SCHEMA).parquet(in_dir)
        q = (
            dedup_stream_ttl(stream, ttl="1 hour",
                             watermark_delay="10 minutes")
            .writeStream.outputMode("append")
            .format("parquet").option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # wave 1: u0..u19 at t0 -> all emitted
    run_wave(stamped(pages[:20], 0))
    assert spark.read.parquet(out_dir).count() == 20

    # wave 2: u0..u9 at t0+30min (inside ttl -> suppressed),
    #         u10..u19 at t0+2h (ttl elapsed -> re-emitted),
    #         u20..u24 new at t0+2h -> emitted
    run_wave(stamped(pages[:10], 30) + stamped(pages[10:20], 120)
             + stamped(pages[20:], 120))
    out = spark.read.parquet(out_dir).groupBy("url").count().collect()
    counts = {r["url"]: r["count"] for r in out}
    for p in pages[:10]:
        assert counts[p["url"]] == 1  # inside-ttl repeat suppressed
    for p in pages[10:20]:
        assert counts[p["url"]] == 2  # post-ttl recrawl re-emitted
    for p in pages[20:]:
        assert counts[p["url"]] == 1  # new url passes


def test_streaming_kg_pipeline_ttl_compose(spark, vocab, linker_df, tmp_path):
    """The full continuous composition: TTL-deduped pages -> extract ->
    link -> materialize, ONE streaming query. Covers (a) exactly-once under
    an epoch REPLAY (commit marker deleted -> batch re-executes -> the
    idempotent snapshot overwrite absorbs it), (b) in-TTL re-delivery never
    re-extracted, (c) post-TTL recrawl re-extracted into a new epoch."""
    import datetime
    import shutil

    from fastie_spark.streaming.incremental import run_streaming_kg_pipeline

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir, exist_ok=True)
    pages = build_pages(vocab, n_docs=25, seed=13)
    base = datetime.datetime(2026, 1, 1, 0, 0, 0)

    def stamped(rows, minutes):
        ts = base + datetime.timedelta(minutes=minutes)
        return [{**r, "warc_ts": ts} for r in rows]

    def write_wave(rows):
        local_df(spark, rows, PAGES_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    def run():
        run_streaming_kg_pipeline(spark, in_dir, out_dir, ckpt, vocab,
                                  linker_df, ttl="1 hour",
                                  watermark_delay="10 minutes")

    def prov():
        return spark.read.parquet(os.path.join(out_dir, "provenance"))

    # wave 1: 20 urls at t0
    write_wave(stamped(pages[:20], 0))
    run()
    n1 = prov().count()
    assert n1 > 0
    snaps1 = {r["snapshot_id"] for r in prov().select("snapshot_id")
              .distinct().collect()}

    # REPLAY the committed epoch: drop the newest commit marker; restart
    # re-executes that batch (state rolls back to the pre-batch version,
    # the TTL filter re-emits identical rows) and the per-(snapshot,bucket)
    # overwrite must leave provenance byte-count-identical
    cdir = os.path.join(ckpt, "commits")
    last = sorted(f for f in os.listdir(cdir) if not f.startswith("."))[-1]
    os.remove(os.path.join(cdir, last))
    crc = os.path.join(cdir, f".{last}.crc")  # hadoop local-FS sidecar
    if os.path.exists(crc):
        os.remove(crc)
    run()
    assert prov().count() == n1

    # wave 2: urls 0-9 re-delivered INSIDE ttl (suppressed), urls 10-19
    # recrawled PAST ttl (re-extracted), urls 20-24 new
    write_wave(stamped(pages[:10], 30) + stamped(pages[10:20], 120)
               + stamped(pages[20:], 120))
    run()
    per_url_snaps = {
        r["url"]: r["n"]
        for r in prov().groupBy("url")
        .agg(F.countDistinct("snapshot_id").alias("n")).collect()
    }
    for p in pages[:10]:
        if p["url"] in per_url_snaps:
            assert per_url_snaps[p["url"]] == 1  # in-TTL repeat suppressed
    recrawled = [p["url"] for p in pages[10:20] if p["url"] in per_url_snaps]
    assert recrawled  # some wave-1 urls with triples were recrawled
    for u in recrawled:
        assert per_url_snaps[u] == 2  # post-TTL recrawl re-extracted
    for p in pages[20:]:
        if p["url"] in per_url_snaps:
            assert per_url_snaps[p["url"]] == 1
    # and no triple is duplicated WITHIN a snapshot
    dup = (prov().groupBy("snapshot_id", "url", "subj", "pred", "obj")
           .count().filter("count > 1"))
    assert dup.count() == 0
