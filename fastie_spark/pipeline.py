"""Extraction pipeline: pages -> (extract, chunk, tokenize, score, decode,
rejoin) -> mention/triple/event rows.

Spark-first design notes:

- **One per-document stage.** html->text, fixed-window chunking (P6),
  space masking (P3), tokenize (T1), score and decode (M1/M8/M14) all run
  inside ONE ``mapInArrow`` stage, one row per page in. The token ids /
  offset maps / score grids never become DataFrame columns — they are
  intermediate per-doc state inside the Arrow batch, so nothing O(L) or
  O(L^2) is ever shuffled. The stage's output is already the small
  mention/triple/event relation.

- **Explicit url-hash repartition** before the heavy stage (input_hint):
  sizes tasks evenly; it is the plan's only exchange, and a source already
  bucketed by url can skip it (``repartition=False``).

- **Chunk rejoin happens in the doc loop.** Mention offsets are shifted by
  the chunk's cumulative char offset (J1). Mentions need no dedup (chunks
  cover disjoint char ranges and each chunk's decode already returns a
  set). Triples keep reference J2 semantics (plain set union per url,
  offsets dropped) as an in-memory set per doc, so no dedup shuffle is
  needed. Events are decoded on the first ``max_length - 2`` chars only —
  the reference event driver truncates instead of chunking
  (.../event_extraction/gplinker/decode_utils.py:104-136).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .decoders import (
    event_decode_from_argus,
    event_set2json,
    gplinker_decode_cells,
)
from .scorer import DictScorer, Vocab
from .session import arrow_map_fn
from .tokenizer import MAX_LENGTH, encode_meta as encode

EXTRACT_SCHEMA = (
    "url string, kind string, label string, start long, end long, "
    "surface string, subj string, pred string, obj string, "
    "event_type string, trigger string, role string, argument string, "
    "event_key string"
)

MENTION_COLS = ["url", "label", "start", "end", "surface"]
TRIPLE_COLS = ["url", "subj", "pred", "obj"]
EVENT_COLS = ["url", "event_type", "trigger", "role", "argument", "event_key"]


def repartition_by_url(df: DataFrame, num_partitions: int) -> DataFrame:
    """Explicit partitioning by xxhash64(url) (input_hint)."""
    return df.repartition(num_partitions, F.xxhash64("url"))


def _event_key(url: str, etype: str, trigger: str, args: list) -> str:
    # separators are C0 controls >0 so the exact same concatenation is
    # reproducible in DuckDB (chr(0) is not representable in its VARCHAR)
    canon = etype + "\x1d" + (trigger or "") + "\x1d" + "\x1f".join(
        f"{r}\x1e{a}" for r, a in sorted(args)
    )
    return hashlib.md5((url + "\x1d" + canon).encode("utf-8")).hexdigest()


def _fused_doc_processor(vocab: Vocab, max_length: int = MAX_LENGTH,
                         do_events: bool = True, from_html: bool = True,
                         split_sentence: bool = False, init_acc=None):
    """Whole-document fused stage: html->text (P-extract), chunking (P6),
    space-mask (P3), tokenize (T1), score, decode (M1/M8/M14), chunk-rejoin
    (J1/J2) — all inside ONE Arrow batch pass, one row per page in.
    Returns (setup, process): setup() resolves the per-worker scorer ctx,
    process(ctx, urls, srcs) -> row tuples; make_fused_doc_arrow_fn wraps
    them in the mapInArrow boundary.

    Why fused: each extra python stage costs a JVM<->Arrow boundary and a
    scheduler barrier, and the J2 per-doc set union becomes a free in-memory
    dedup here (urls are unique, so no global dedup shuffle is needed at
    all).

    Model init is per-PYTHON-WORKER, not per task: the scorer + label maps
    are built lazily through executor_init.get_or_build keyed by the vocab
    fingerprint, so with worker reuse the Nth task on a worker pays zero
    init cost — the seam where a real tokenizer/checkpoint load slots in
    (SURVEY §3.2). Pass ``init_acc`` (an accumulator) to observe actual
    build counts."""
    from .chunking import auto_splitter, char_bases, mask_spaces, split_one
    from .executor_init import get_or_build
    from .text_extract import extract_text_py

    cache_key = f"dict_scorer|{vocab.fingerprint()}|{max_length}"

    def setup():
        def build():
            return (
                DictScorer(vocab, max_length),
                dict(enumerate(vocab.ner_labels())),
                dict(enumerate(vocab.predicates())),
                dict(enumerate(vocab.event_labels())),
            )

        return get_or_build(cache_key, build, init_acc)

    def process(ctx, urls, srcs) -> list:
        """The per-doc extract->score->decode loop over one batch of
        (url, html) or (url, text) values; returns EXTRACT_SCHEMA row
        tuples. A page that yields no text (null, undecodable html) yields
        no rows."""
        scorer, ner_id2label, re_id2pred, event_id2label = ctx
        # affix-free vocabularies take the fused scorer fast paths
        # (mentions_fast always valid; triples_fast needs the gate — see
        # scorer.py proof sketches); other vocabs keep the generic
        # grid-build + decode, output-identical by the parity tests
        fast_re = scorer._affix_free
        rows = []
        for url, src in zip(urls, srcs):
            if from_html:
                try:
                    text = extract_text_py(src)
                except (UnicodeDecodeError, ValueError, TypeError,
                        AttributeError):
                    # real crawls carry garbage bytes; a poison page must
                    # not kill the task — it just yields no extractions
                    # (the byte-identity contract applies to well-formed
                    # pages and is asserted separately in tests)
                    continue
            elif src is None:  # nullable text (streaming, api) — no rows
                continue
            else:
                text = src
            if split_sentence:
                chunks, _ = auto_splitter([text], max_length - 2, True)
            else:
                chunks = split_one(text, max_length - 2)
            bases = char_bases(chunks)
            if do_events:
                # reference event driver truncates the DOC (no chunking,
                # decode_utils.py:104-136) — independent of chunk mode.
                # Only the first max_length-2 chars are decodable (the
                # scorer truncation-filters spans to that prefix and
                # seq_len caps there), so mask and scan ONLY the prefix:
                # identical cells at a fraction of the matcher work on
                # long docs. Running the event pass FIRST also makes its
                # masked text equal chunk 0's (fixed-window mode), so
                # the chunk loop's first occurrence scan is served from
                # the scorer memo instead of re-scanning.
                masked = mask_spaces(text[: max_length - 2])
                mapping = encode(masked, max_length)["offset_mapping"]
                # fused event path: argus come out of the scorer already
                # decoded (event_views), skipping the per-cell label
                # split + dead bound checks of the generic decode
                argus, eh, et = scorer.event_views(masked)
                for ev in event_set2json(
                    event_decode_from_argus(argus, eh, et, text, mapping)
                ):
                    etype, trigger = ev["event_type"], ev.get("trigger")
                    args = [(a["role"], a["argument"])
                            for a in ev["arguments"]]
                    key = _event_key(url, etype, trigger, args)
                    # a trigger-only event still exists: one null-role row
                    for role, arg in args or [(None, None)]:
                        rows.append(
                            (url, "event", None, None, None, None, None,
                             None, None, etype, trigger, role, arg, key)
                        )
            doc_triples: set = set()
            for chunk, base in zip(chunks, bases):
                masked = mask_spaces(chunk)
                enc = encode(masked, max_length)
                l, mapping = enc["seq_len"], enc["offset_mapping"]
                for lbl, s, e, surf in scorer.mentions_fast(
                    masked, chunk, mapping, ner_id2label
                ):
                    rows.append(
                        (url, "mention", lbl, s + base, e + base, surf,
                         None, None, None, None, None, None, None, None)
                    )
                if fast_re:
                    doc_triples |= scorer.triples_fast(
                        masked, chunk, mapping, re_id2pred
                    )
                else:
                    ent, head, tail = scorer.re_cells(masked)
                    doc_triples |= gplinker_decode_cells(
                        ent, head, tail, l, chunk, mapping, re_id2pred
                    )
            for pred, subj, obj in doc_triples:  # J2 union done in-doc
                rows.append(
                    (url, "triple", None, None, None, None,
                     subj, pred, obj, None, None, None, None, None)
                )
        return rows

    return setup, process


def make_fused_doc_arrow_fn(vocab: Vocab, max_length: int = MAX_LENGTH,
                            do_events: bool = True, from_html: bool = True,
                            split_sentence: bool = False, init_acc=None):
    """The per-doc processor behind the one Arrow boundary
    (session.arrow_map_fn): (url, html) or (url, text) batches in,
    EXTRACT_SCHEMA batches out."""
    setup, process = _fused_doc_processor(
        vocab, max_length=max_length, do_events=do_events,
        from_html=from_html, split_sentence=split_sentence,
        init_acc=init_acc,
    )
    src_col = "html" if from_html else "text"
    return arrow_map_fn(["url", src_col], EXTRACT_SCHEMA, process, setup)


def run_extraction_fused(
    spark: SparkSession,
    pages: DataFrame,
    vocab: Vocab,
    num_partitions: int | None = None,
    do_events: bool = True,
    from_html: bool = True,
    persist: bool = True,
    repartition: bool = True,
    split_sentence: bool = False,
    max_length: int = MAX_LENGTH,
    init_acc=None,
) -> dict:
    """pages -> {'mentions','triples','events','_raw'} DataFrames through
    the one fused mapInArrow stage. pages needs (url, html) when from_html
    else (url, text). Triples come out already per-doc-deduped (J2), so
    there is no dedup shuffle. split_sentence enables the P5
    sentence-level auto_splitter chunking (reference flag, default off).

    persist=True returns ``_raw`` persisted and hands its ownership to the
    caller, which unpersists it or registers it with
    textops.track_cache (see textops.release_caches for the rule).

    repartition=False skips the explicit url-hash shuffle: the fused stage
    is per-document, so co-location is not needed for correctness — only
    for task sizing when the source's own splits are skewed. With a
    well-bucketed source (e.g. an Iceberg table already bucketed by url)
    the shuffle of the raw html bytes is pure cost.

    init_acc: accumulator observing per-worker scorer builds
    (executor_init)."""
    cols = ["url", "html" if from_html else "text"]
    parts = num_partitions or spark.sparkContext.defaultParallelism
    src = pages.select(*cols)
    if repartition:
        src = repartition_by_url(src, parts)
    raw = src.mapInArrow(
        make_fused_doc_arrow_fn(
            vocab, max_length=max_length, do_events=do_events,
            from_html=from_html, split_sentence=split_sentence,
            init_acc=init_acc,
        ),
        schema=EXTRACT_SCHEMA,
    )
    if persist:
        raw = raw.persist()
    mentions = raw.filter(F.col("kind") == "mention").select(*MENTION_COLS)
    triples = raw.filter(F.col("kind") == "triple").select(*TRIPLE_COLS)
    events = raw.filter(F.col("kind") == "event").select(*EVENT_COLS)
    return {"mentions": mentions, "triples": triples, "events": events, "_raw": raw}

