"""Custom stateful streaming operator: cross-batch url dedup with an
event-time TTL (applyInPandasWithState — the SURVEY.md §2.8 'custom
stateful operator' slot; no reference counterpart, required by the
streaming surface).

A crawl stream re-delivers urls (recrawls, mirror copies). This operator
keys the stream by a url-hash shard and keeps a per-shard url -> last
sighting map, emitting a page only when its url was not seen within the
TTL. State expires with the watermark, so it is bounded by the distinct
urls per TTL window, not by the stream's lifetime. It is the dedup stage
of ``incremental.run_streaming_kg_pipeline``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

N_SHARDS = 64
TTL_OUT_DDL = "url string, text string, lang string, warc_ts timestamp"
TTL_STATE_DDL = "urls array<string>, ts array<long>"  # epoch millis


def make_ttl_dedup_fn(ttl_ms: int):
    """Per-shard first-seen-within-TTL filter: a url is emitted when never
    seen, or when its event time is >= last SIGHTING + ttl (sliding window —
    a recrawl after ttl of silence is fresh content again; a url re-seen
    within the window stays suppressed and the window slides forward from
    the new sighting). State is bounded in TIME, not just
    space: entries with stored_ts + ttl < watermark are evicted — any
    future event the watermark still admits (ts >= watermark) would satisfy
    the re-emission condition anyway, so the entry carries no information.
    That is the honest unbounded-crawl contract: state size ~ distinct urls
    per TTL window, not per stream lifetime. Rows are processed in
    (event_time, url) order so output is batch-arrival-order independent."""
    if ttl_ms <= 0:
        raise ValueError(f"ttl_ms must be positive, got {ttl_ms}")

    def fn(key, pdfs, state):
        if state.exists:
            got = state.get
            seen = dict(zip(got[0], got[1]))
        else:
            seen = {}
        rows = []
        for pdf in pdfs:
            for url, text, lang, ts in zip(
                pdf["url"], pdf["text"], pdf["lang"], pdf["warc_ts"]
            ):
                if url is None or ts is None:
                    continue
                rows.append((int(ts.value) // 1_000_000, url, text, lang, ts))
        rows.sort(key=lambda r: (r[0], r[1]))
        out = []
        for ts_ms, url, text, lang, ts in rows:
            last = seen.get(url)
            if last is None or ts_ms >= last + ttl_ms:
                seen[url] = ts_ms
                out.append((url, text, lang, ts))
            elif ts_ms > last:
                # refresh the suppression horizon: the url was re-seen, so
                # the next emission needs ttl of silence after THIS sighting
                seen[url] = ts_ms
        wm = state.getCurrentWatermarkMs()
        if wm > 0:
            seen = {u: t for u, t in seen.items() if t + ttl_ms >= wm}
        state.update((list(seen.keys()), list(seen.values())))
        yield pd.DataFrame(out, columns=["url", "text", "lang", "warc_ts"])

    return fn


def dedup_stream_ttl(pages_stream: DataFrame, ttl: str = "1 hour",
                     watermark_delay: str = "10 minutes") -> DataFrame:
    """Streaming first-seen filter with an event-time TTL: re-delivered urls
    are suppressed only within ``ttl`` of their last sighting; state expires
    with the watermark. ttl: an interval string like '1 hour'."""
    import re as _re

    m = _re.fullmatch(r"(\d+)\s*(second|minute|hour|day)s?", ttl.strip())
    if not m:
        raise ValueError(f"unsupported ttl {ttl!r}")
    ttl_ms = int(m.group(1)) * {
        "second": 1_000, "minute": 60_000, "hour": 3_600_000,
        "day": 86_400_000,
    }[m.group(2)]
    sharded = pages_stream.withWatermark("warc_ts", watermark_delay).select(
        "url", "text", "lang", "warc_ts",
        F.pmod(F.xxhash64("url"), F.lit(N_SHARDS)).alias("shard"),
    )
    return sharded.groupBy("shard").applyInPandasWithState(
        make_ttl_dedup_fn(ttl_ms),
        outputStructType=TTL_OUT_DDL,
        stateStructType=TTL_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

