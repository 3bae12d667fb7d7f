"""Handwritten semantics tests for the secondary decoders (M3-M13) and a
cross-decoder consistency check on the synthetic corpus."""

import numpy as np
import pytest

from fastie_spark.decoders_ext import (
    casrel_decode,
    cnn_decode,
    crf_decode,
    filter_clashed_by_priority,
    get_entities,
    grte_decode,
    onerel_decode,
    span_decode,
    tplinker_ner_decode,
    tplinker_re_decode,
    viterbi,
)
from fastie_spark.tokenizer import encode


def _enc(text):
    e = encode(text, 512)
    return e["seq_len"], e["offset_mapping"]


def test_bio_chunker():
    assert get_entities(["B-PER", "I-PER", "O", "B-LOC"]) == [
        ("PER", 0, 1), ("LOC", 3, 3)]
    # I without B still starts a chunk (seqeval semantics)
    assert get_entities(["O", "I-PER"]) == [("PER", 1, 1)]
    # type change inside a run splits
    assert get_entities(["B-PER", "I-LOC"]) == [("PER", 0, 0), ("LOC", 1, 1)]


def test_viterbi_and_crf_decode():
    # emissions favor O B-x I-x I-x O over "abcd" (tokens CLS a b c d SEP)
    l, mapping = _enc("abcd")
    T = 3  # O, B-x, I-x
    em = np.zeros((l, T), dtype=np.float32)
    em[:, 0] = 0.5
    em[2, 1] = 1.0  # char b = B
    em[3, 2] = 1.0  # char c = I
    assert viterbi(em) == [0, 0, 1, 2, 0, 0]
    out = crf_decode(em, l, "abcd", mapping, {0: "O", 1: "B-per", 2: "I-per"})
    assert out == {("per", 1, 3, "bc")}


def test_cascade_crf_decode():
    import numpy as np

    from fastie_spark.decoders_ext import cascade_crf_decode

    l, mapping = _enc("abcd")
    em = np.zeros((l, 3), dtype=np.float32)
    em[:, 0] = 0.5
    em[2, 1] = 1.0  # B at char b
    em[3, 2] = 1.0  # I at char c
    out = cascade_crf_decode(em, lambda span: 1 if span == (2, 3) else 0,
                             l, "abcd", mapping, {0: "O", 1: "per"})
    assert out == {("per", 1, 3, "bc")}
    # classifier says O (0) -> dropped via s*e*p != 0
    out = cascade_crf_decode(em, lambda span: 0, l, "abcd", mapping,
                             {0: "O", 1: "per"})
    assert out == set()


def test_span_decode_nearest_end():
    l, mapping = _enc("abcde")
    starts = [0, 0, 2, 0, 0, 0, 0]
    ends = [0, 0, 0, 0, 2, 0, 0]
    out = span_decode(starts, ends, l, "abcde", mapping, {0: "O", 1: "x", 2: "per"})
    assert out == {("per", 1, 4, "bcd")}
    # label mismatch -> no pair
    ends2 = [0, 0, 0, 0, 1, 0, 0]
    assert span_decode(starts, ends2, l, "abcde", mapping,
                       {0: "O", 1: "x", 2: "per"}) == set()


def test_tplinker_ner_decode():
    l, mapping = _enc("abcd")
    spots = [(2, 3, 0), (3, 2, 0), (0, 2, 0), (2, 5, 0)]
    out = tplinker_ner_decode(spots, l, "abcd", mapping, {0: "per"})
    assert out == {("per", 1, 3, "bc")}  # s>e, CLS, >=l-1 all rejected


def test_cnn_decode_clash_and_nesting():
    # two overlapping (non-nested) spans, equal confidence -> greedy keeps
    # the later-sorted one only; nested spans both kept (allow_nested)
    L = 6
    g = np.zeros((L, L, 2), dtype=np.float32)
    for (s, e, c) in [(0, 3, 0), (2, 5, 0), (1, 2, 1)]:
        g[s, e, c] = 1.0
        g[e, s, c] = 1.0
    out = cnn_decode(g, L, "abcdef", {0: "per", 1: "org"})
    # (2,5) sorts before (0,3) at equal conf (reverse tuple order)
    assert ("per", 2, 6, "cdef") in out
    assert ("per", 0, 4, "abcd") not in out  # clashed with (2,5)
    assert ("org", 1, 3, "bc") in out  # nested inside (2,5)? overlaps (2,5)
    # chunk (1,2) vs (2,5): s1<e2 and s2<e1 -> 2<3 and 2<2 False -> no clash


def test_casrel_nearest_pairing():
    l, mapping = _enc("AliceBerlin")
    # subject Alice tokens 1..5; object Berlin tokens 6..11
    def obj_fn(span):
        assert span == (1, 5)
        return [(6, 0)], [(11, 0)]

    out = casrel_decode([1], [5], obj_fn, l, "AliceBerlin", mapping, {0: "born_in"})
    assert out == {("born_in", "Alice", "Berlin")}
    # predicate mismatch between start and end -> nothing
    def obj_fn2(span):
        return [(6, 0)], [(11, 1)]
    out = casrel_decode([1], [5], obj_fn2, l, "AliceBerlin", mapping,
                        {0: "born_in", 1: "ceo_of"})
    assert out == set()


def test_tplinker_re_decode():
    l, mapping = _enc("AliceBerlin")
    id2label = {0: "ENT=EH2ET", 1: "r=SH2OH", 2: "r=OH2SH", 3: "r=ST2OT", 4: "r=OT2ST"}
    spots = [(1, 5, 0), (6, 11, 0), (1, 6, 1), (5, 11, 3)]
    out = tplinker_re_decode(spots, l, "AliceBerlin", mapping, id2label)
    assert out == {("r", "Alice", "Berlin")}
    # missing tail link kills it
    out = tplinker_re_decode(spots[:3], l, "AliceBerlin", mapping, id2label)
    assert out == set()


def test_grte_decode_tags():
    l, mapping = _enc("AliceBerlin")
    # multi-token subj (1..5) and obj (6..11): tags 6 at (sh,oh), 7 at (st,ot)
    cells = {(1, 6, 0): 6, (5, 11, 0): 7}
    out = grte_decode(cells, l, "AliceBerlin", mapping, {0: "r"})
    assert out == {("r", "Alice", "Berlin")}
    # tag 1: single-single
    l2, m2 = _enc("ab")
    out = grte_decode({(1, 2, 0): 1}, l2, "ab", m2, {0: "r"})
    assert out == {("r", "a", "b")}


def test_onerel_decode():
    l, mapping = _enc("AliceBerlin")
    cells = {(0, 1, 6): 1, (0, 1, 11): 2, (0, 5, 11): 3}
    out = onerel_decode(cells, l, "AliceBerlin", mapping, {0: "r"})
    assert out == {("r", "Alice", "Berlin")}
    # without HB-TE membership no triple
    out = onerel_decode({(0, 1, 6): 1, (0, 5, 11): 3}, l, "AliceBerlin",
                        mapping, {0: "r"})
    assert out == set()


def test_filter_clashed_priority_order():
    a, b, c = (True, 0, 3), (True, 2, 5), (True, 10, 12)
    assert filter_clashed_by_priority([a, b, c]) == [a, c]
    assert filter_clashed_by_priority([b, a, c]) == [b, c]


# ---------------------------------------------------------------------------
# cross-decoder consistency on the synthetic corpus
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def multi_rows(spark, vocab, pages):
    # spark: the stage parses its DDL output schema through a live session
    import pyarrow as pa

    from fastie_spark.multi_decoder import make_multi_decoder_fn

    # NULL and empty text are supported inputs (the driver's documents
    # table is nullable); they must flow through with no rows
    batch = pa.RecordBatch.from_pydict({
        "url": [p["url"] for p in pages] + ["u-null", "u-empty"],
        "text": [p["text"] for p in pages] + [None, ""],
    })
    fn = make_multi_decoder_fn(vocab)
    return pa.Table.from_batches(list(fn(iter([batch])))).to_pandas()


def test_null_and_empty_text_yield_no_rows(multi_rows):
    assert len(multi_rows) > 0
    assert not multi_rows["url"].isin(["u-null", "u-empty"]).any()


def _sets(df, kind, cols):
    out = {}
    for dec, grp in df[df["kind"] == kind].groupby("decoder"):
        out[dec] = set(map(tuple, grp[cols].itertuples(index=False)))
    return out


def test_ner_decoders_agree_on_dictionary_corpus(multi_rows):
    """On the no-containment vocab every NER decoder should recover the
    same contiguous mention set as GlobalPointer (CRF may merge adjacent
    same-type entities — BIO cannot represent a boundary between a B-run —
    so it is allowed to be a subset after removing merged spans)."""
    m = _sets(multi_rows, "mention", ["url", "label", "start", "end", "surface"])
    assert len(m["gp"]) > 300
    assert m["w2ner"] == m["gp"]
    assert m["tplinker"] == m["gp"]
    # span/cnn/crf variants can differ only where occurrences overlap/adjoin
    for dec in ("span", "cnn", "crf", "cascade_crf"):
        inter = len(m[dec] & m["gp"])
        assert inter / len(m["gp"]) > 0.9, dec
        assert inter / max(len(m[dec]), 1) > 0.9, dec


def test_re_decoders_agree_on_dictionary_corpus(multi_rows):
    t = _sets(multi_rows, "triple", ["url", "subj", "pred", "obj"])
    assert len(t["gplinker"]) > 100
    assert t["pfn"] == t["gplinker"]
    assert t["tplinker"] == t["gplinker"]
    # OneRel's grid tags can't distinguish repeated occurrences of the same
    # entity, so cross-occurrence (sh..st2) spans appear as extra triples —
    # faithful to the tag algebra. The true triples must all be recovered.
    assert t["gplinker"] <= t["onerel"]
    for dec in ("casrel", "grte"):
        inter = len(t[dec] & t["gplinker"])
        assert inter / len(t["gplinker"]) > 0.9, dec
