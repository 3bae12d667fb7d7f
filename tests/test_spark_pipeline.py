"""Spark pipeline vs single-process oracle parity (the BASELINE P/R gate),
byte-identical text extraction, and relational-chunker equivalence."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from fastie_spark.chunking import auto_splitter
from fastie_spark.oracle import OracleEngine
from fastie_spark.pipeline import run_extraction_fused
from fastie_spark.session import local_df
from fastie_spark.text_extract import extract_text_py
from fastie_spark.textops import chunk_explode


@pytest.fixture(scope="module")
def oracle(vocab):
    return OracleEngine(vocab)


@pytest.fixture(scope="module")
def extraction(spark, pages_df, vocab):
    out = run_extraction_fused(spark, pages_df, vocab, num_partitions=8,
                               from_html=False)
    yield out
    out["_raw"].unpersist()


def test_text_extraction_byte_identical(spark, vocab, pages, pages_df):
    """input_hint per-row invariant: extracted text == stored text, every
    url; and the fused stage's html path extracts exactly the rows of its
    text path."""
    for p in pages:
        assert extract_text_py(p["html"]) == p["text"], p["url"]

    def rows(from_html):
        raw = run_extraction_fused(spark, pages_df, vocab, persist=False,
                                   from_html=from_html)["_raw"]
        return Counter(tuple(r) for r in raw.collect())

    from_text = rows(False)
    assert sum(from_text.values()) > 0
    assert rows(True) == from_text


def test_relational_chunker_matches_auto_splitter(spark, pages, pages_df,
                                                  tmp_path):
    """SQL sequence+substring chunker (textops.chunk_explode) == reference
    auto_splitter (P6) with split_sentence=False, including the char_base
    rejoin offsets."""
    pages_df.select(F.col("url").alias("doc_id"), "text").write.parquet(
        str(tmp_path / "documents.parquet"))
    rows = chunk_explode(spark, str(tmp_path)).orderBy(
        "doc_id", "chunk_idx").collect()
    text = {p["url"]: p["text"] for p in pages}
    got = {}
    for r in rows:
        b = r["char_base"]
        got.setdefault(r["doc_id"], []).append(
            (text[r["doc_id"]][b:b + r["chunk_len"]], b))
    assert max(map(len, got.values())) >= 2  # multi-chunk docs covered
    for p in pages:
        chunks, _ = auto_splitter([p["text"]], 510)
        bases, acc = [], 0
        for c in chunks:
            bases.append(acc)
            acc += len(c)
        assert got[p["url"]] == list(zip(chunks, bases)), p["url"]


def _mention_sets(rows):
    out = {}
    for r in rows:
        out.setdefault(r["url"], set()).add(
            (r["label"], r["start"], r["end"], r["surface"])
        )
    return out


def test_mention_parity(extraction, oracle, pages):
    """Spark GlobalPointer mentions == oracle (reference control flow),
    doc-qualified exact match -> P = R = 1.0 >= 0.95 gate."""
    got = _mention_sets(extraction["mentions"].collect())
    texts = [p["text"] for p in pages]
    want = oracle.predict_ner(texts)
    total_tp = total_pred = total_gold = 0
    for p, w in zip(pages, want):
        g = got.get(p["url"], set())
        total_tp += len(g & w)
        total_pred += len(g)
        total_gold += len(w)
    assert total_gold > 100  # fixture actually exercises the path
    assert total_tp == total_pred == total_gold


def test_triple_parity(extraction, oracle, pages):
    """Spark GPLinker triples == oracle. This is the headline triple P/R."""
    got = {}
    for r in extraction["triples"].collect():
        got.setdefault(r["url"], set()).add((r["pred"], r["subj"], r["obj"]))
    want = oracle.predict_re([p["text"] for p in pages])
    tp = npred = ngold = 0
    for p, w in zip(pages, want):
        g = got.get(p["url"], set())
        tp += len(g & w)
        npred += len(g)
        ngold += len(w)
    assert ngold > 50
    precision = tp / npred
    recall = tp / ngold
    assert precision >= 0.95 and recall >= 0.95  # BASELINE gate
    assert precision == 1.0 and recall == 1.0  # shared-scorer exactness


def test_event_parity(extraction, oracle, pages):
    got = {}
    for r in extraction["events"].collect():
        got.setdefault(r["url"], set()).add(
            (r["event_type"], r["trigger"], r["role"], r["argument"])
        )
    want_docs = oracle.predict_events([p["text"] for p in pages])
    want = {}
    for p, evs in zip(pages, want_docs):
        for ev in evs:
            for a in ev["arguments"]:
                want.setdefault(p["url"], set()).add(
                    (ev["event_type"], ev.get("trigger"), a["role"], a["argument"])
                )
            if not ev["arguments"]:  # trigger-only event -> null-role row
                want.setdefault(p["url"], set()).add(
                    (ev["event_type"], ev.get("trigger"), None, None)
                )
    assert sum(len(v) for v in want.values()) > 10
    assert got == want


def test_partitioning_invariance(spark, pages_df, vocab, extraction):
    """Same results at a different parallelism (decode is per-doc, never
    cross-batch) — the correctness half of the scaling criterion."""
    alt = run_extraction_fused(spark, pages_df, vocab, num_partitions=3,
                               persist=False, from_html=False)
    a = {tuple(r) for r in alt["triples"].collect()}
    b = {tuple(r) for r in extraction["triples"].collect()}
    assert a == b


def test_null_and_empty_text_yield_no_rows(spark, vocab, pages, extraction):
    """A null or empty text cell yields zero rows and does not kill the
    task; a multi-chunk page in the same batch keeps exactly its rows."""
    from collections import Counter

    page = next(p for p in pages if len(p["text"]) > 510)
    df = local_df(spark, [
        {"url": "null://1", "text": None},
        {"url": "empty://1", "text": ""},
        {"url": page["url"], "text": page["text"]},
    ], "url string, text string")
    out = run_extraction_fused(spark, df, vocab, num_partitions=1,
                               persist=False, from_html=False)
    got = Counter(map(tuple, out["_raw"].collect()))
    want = Counter(map(tuple, extraction["_raw"].filter(
        F.col("url") == page["url"]).collect()))
    assert want  # the page does produce rows
    assert got == want


def test_sentence_split_mode_parity(spark, vocab, pages):
    """split_sentence=True (P5 cut_chinese_sent inside auto_splitter) end to
    end: fused Spark mentions == oracle with the same flag."""
    oracle = OracleEngine(vocab, split_sentence=True)
    texts = [p["text"] for p in pages]
    want_docs = oracle.predict_ner(texts)
    want = set()
    for p, s in zip(pages, want_docs):
        for t in s:
            want.add((p["url"], *t))

    pdf = local_df(
        spark, [{"url": p["url"], "text": p["text"]} for p in pages],
        "url string, text string",
    )
    out = run_extraction_fused(spark, pdf, vocab, from_html=False,
                               persist=True, split_sentence=True)
    got = {(r["url"], r["label"], r["start"], r["end"], r["surface"])
           for r in out["mentions"].collect()}
    assert len(want) > 100
    assert got == want
    # events must follow the reference truncate-only semantics regardless of
    # the chunking mode (review finding: chunk0 under sentence mode is the
    # first SENTENCE, not the first 510 chars)
    ev_want = set()
    for p, evs in zip(pages, OracleEngine(vocab).predict_events(texts)):
        for ev in evs:
            for a in ev["arguments"]:
                ev_want.add((p["url"], ev["event_type"], ev.get("trigger"),
                             a["role"], a["argument"]))
            if not ev["arguments"]:
                ev_want.add((p["url"], ev["event_type"], ev.get("trigger"),
                             None, None))
    ev_got = {(r["url"], r["event_type"], r["trigger"], r["role"], r["argument"])
              for r in out["events"].collect()}
    out["_raw"].unpersist()
    assert ev_got == ev_want


def test_per_worker_lazy_scorer_init(spark, pages_df, vocab):
    """SURVEY §3.2 per-executor model initialization: the fused stage builds
    the scorer at most once per PYTHON WORKER (lazy worker-cache), not
    once per task — and a warm re-run with the same
    artifact fingerprint builds zero new scorers, with bit-identical
    output. This is the seam a real tokenizer/checkpoint load plugs into."""
    import copy
    import uuid

    # unique fingerprint so caches warmed by OTHER tests don't mask the
    # first-run init count; the added surface never occurs in any page, so
    # extraction output is unaffected
    v = copy.deepcopy(vocab)
    v.entity_vocab = list(v.entity_vocab) + [
        (f"绝不出现{uuid.uuid4().hex[:8]}", v.entity_vocab[0][1])
    ]

    acc = spark.sparkContext.accumulator(0)
    n_tasks = 32  # >> python-worker pool => reuse must kick in within a run
    ext = run_extraction_fused(
        spark, pages_df, v, persist=False, num_partitions=n_tasks,
        init_acc=acc,
    )
    rows1 = sorted(map(tuple, ext["_raw"].collect()))
    first = acc.value
    # at most one build per python worker (the reuse pool can hold more
    # workers than cores after earlier wider stages — observed 8 on
    # local[4] — but must stay far below one-per-task)
    assert 1 <= first <= 16 < n_tasks, first

    ext2 = run_extraction_fused(
        spark, pages_df, v, persist=False, num_partitions=n_tasks,
        init_acc=acc,
    )
    rows2 = sorted(map(tuple, ext2["_raw"].collect()))
    assert rows2 == rows1  # bit-identical through the lazy-init stage
    assert acc.value == first  # warm workers: zero re-inits
