"""CI parity gates for the optimized hot path: Aho-Corasick vs naive
find_all, encode_meta vs encode, and the re_cells orphan-cell regression
(subjects/objects whose relation partner is absent must still fill the
entity grid — decode can pair them across relations)."""

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from fastie_spark.chunking import mask_spaces
from fastie_spark.decoders import gplinker_decode_cells
from fastie_spark.matcher import MultiPatternMatcher
from fastie_spark.scorer import DictScorer, Vocab, find_all
from fastie_spark.tokenizer import encode, encode_meta

ALPHA = "abc"


@given(
    st.lists(st.text(ALPHA, min_size=1, max_size=5), min_size=1, max_size=15),
    st.text(ALPHA, max_size=120),
)
@settings(max_examples=200, deadline=None)
def test_matcher_equals_naive(patterns, text):
    m = MultiPatternMatcher(patterns)
    got = m.occurrences(text)
    for p in set(patterns):
        assert got.get(p, []) == find_all(text, p), p


@given(st.text(max_size=1200), st.integers(min_value=3, max_value=512))
@settings(max_examples=80, deadline=None)
def test_encode_meta_equals_encode(text, max_length):
    a = encode(text, max_length)
    b = encode_meta(text, max_length)
    assert a["seq_len"] == b["seq_len"]
    assert list(a["offset_mapping"]) == list(b["offset_mapping"])


def test_re_cells_orphan_entity_cells():
    """Reviewer repro: subject 'ab' whose own object 'Z' is absent must
    still contribute entity cells, because decode pairs it with another
    relation's co-present object via shared head/tail cells (containment
    between surfaces makes the head positions coincide)."""
    v = Vocab(relation_vocab=[("ab", "p", "Z"), ("abc", "p", "Y"), ("b", "p", "Y")])
    sc = DictScorer(v)
    text = "abcY"
    ent, head, tail = sc.re_cells(text)
    # orphan subject 'ab' (object Z absent) still fills r=0 cells
    assert (0, 1, 2) in ent
    id2p = dict(enumerate(v.predicates()))
    out = gplinker_decode_cells(ent, head, tail, len(text) + 2, text,
                                encode_meta(text)["offset_mapping"], id2p)
    assert ("p", "ab", "Y") in out  # the cross-relation pairing
    assert ("p", "abc", "Y") in out and ("p", "b", "Y") in out


def test_re_cells_matches_bruteforce_reference():
    """Optimized re_cells == the original per-relation formulation for a
    vocab WITH substring containment (the case fixtures never generate)."""
    rels = [("ab", "p1", "bc"), ("abc", "p1", "c"), ("b", "p2", "ab"),
            ("c", "p2", "abc")]
    v = Vocab(relation_vocab=rels)
    sc = DictScorer(v)
    for text in ["abcabc", "ab", "bcbc", "xxabcx", "cab", ""]:
        ent, head, tail = sc.re_cells(text)
        # brute-force original semantics
        bent, bhead, btail = set(), set(), set()
        pred2id = sc.pred2id
        for subj, pred, obj in rels:
            p = pred2id[pred]
            so = [(s + 1, s + len(subj)) for s in find_all(text, subj)
                  if s + len(subj) <= min(len(text), 510)]
            oo = [(s + 1, s + len(obj)) for s in find_all(text, obj)
                  if s + len(obj) <= min(len(text), 510)]
            for sh, st in so:
                bent.add((0, sh, st))
            for oh, ot in oo:
                bent.add((1, oh, ot))
            for sh, st in so:
                for oh, ot in oo:
                    bhead.add((p, sh, oh))
                    btail.add((p, st, ot))
        assert (ent, head, tail) == (bent, bhead, btail), text


def _seeded_cases(seed: int, n_vocabs: int = 30, n_texts: int = 3):
    """Seeded (scorer, masked_text) pairs for the shared occurrence view:
    surfaces with spaces and with prefix/suffix collisions (so the vocab is
    never affix-free), NER/RE vocabularies built as in
    test_fast_decode_paths._mk_scorer plus an event vocabulary, and texts
    longer than 600 chars so occurrences straddle the 510-char truncation.
    Each pair is first checked against a find_all reference of _present."""
    rng = random.Random(seed)
    alpha = "abcd汉字 "
    for _ in range(n_vocabs):
        base = {"".join(rng.choice(alpha) for _ in range(rng.randint(2, 4)))
                for _ in range(rng.randint(2, 6))}
        surfs = sorted(base | {b + rng.choice(alpha) for b in base}
                       | {rng.choice(alpha) + b for b in base})
        ents = [(s, rng.choice(["A", "B"])) for s in surfs]
        rels = sorted({(a, rng.choice(["p", "q"]), b) for a in surfs
                       for b in surfs if a != b and rng.random() < 0.3})
        evs = [(rng.choice(["E1", "E2"]),
                [(role, rng.choice(surfs)) for role in
                 ["触发词"] + rng.sample(["r1", "r2", "x@y"], rng.randint(0, 3))])
               for _ in range(rng.randint(1, 5))]
        sc = DictScorer(Vocab(entity_vocab=ents, relation_vocab=rels,
                              event_vocab=evs))
        masked_surfs = {mask_spaces(s) for s in surfs}
        for _ in range(n_texts):
            text, n_chars = "", rng.randint(601, 900)
            while len(text) < n_chars:
                text += (rng.choice(surfs) if rng.random() < 0.4 else
                         "".join(rng.choice(alpha + "xyz")
                                 for _ in range(rng.randint(1, 6))))
            t = mask_spaces(text)
            trunc = min(len(t), 510)
            ref = {m: spans for m in masked_surfs
                   if (spans := [(i + 1, i + len(m)) for i in find_all(t, m)
                                 if i + len(m) <= trunc])}
            assert sc._present(t) == ref, t
            yield sc, t


class TestTokenizerSeam:
    """Decode offsets must survive a tokenizer whose tokens cover more than
    one char (VERDICT round-1 gap #3: the real-checkpoint swap guard)."""

    def _vocab(self):
        from fastie_spark.scorer import Vocab

        return Vocab(entity_vocab=[
            ("Alice", "per"), ("Bob99", "per"), ("中本聪", "per"),
        ])

    def _decode(self, text, encode_fn):
        from fastie_spark.decoders import gp_decode_cells
        from fastie_spark.scorer import DictScorer, ner_cells_mapped

        vocab = self._vocab()
        scorer = DictScorer(vocab)
        enc = encode_fn(text)
        cells = ner_cells_mapped(scorer, text, enc["offset_mapping"])
        id2label = dict(enumerate(vocab.ner_labels()))
        return gp_decode_cells(cells, enc["seq_len"], text,
                               enc["offset_mapping"], id2label)

    def test_parity_char_vs_subword(self):
        """Same char-offset mentions from the char tokenizer and the
        multi-char-token subword tokenizer when surfaces align to token
        boundaries (here: full ASCII runs and CJK chars)."""
        from fastie_spark.tokenizer import encode_meta, subword_encode_meta

        text = "见过Alice吗 Bob99和中本聪 Alice again"
        got_char = self._decode(text, encode_meta)
        got_sub = self._decode(text, subword_encode_meta)
        assert got_char == got_sub
        assert ("per", 2, 7, "Alice") in got_sub
        assert any(m[3] == "中本聪" for m in got_sub)

    def test_mapped_reduces_to_ner_cells_on_char_mapping(self):
        """With the char tokenizer's mapping, ner_cells_mapped is
        bit-identical to the fast-path DictScorer.ner_cells."""
        from fastie_spark.scorer import DictScorer, ner_cells_mapped
        from fastie_spark.tokenizer import encode_meta

        vocab = self._vocab()
        scorer = DictScorer(vocab)
        text = "Alice与中本聪见面，Bob99 Alice。" * 30  # crosses truncation
        enc = encode_meta(text)
        assert ner_cells_mapped(scorer, text, enc["offset_mapping"]) == \
            scorer.ner_cells(text)
        for scorer, t in _seeded_cases(1401):
            mapping = encode_meta(t)["offset_mapping"]
            assert ner_cells_mapped(scorer, t, mapping) == \
                scorer.ner_cells(t), t

    def test_misaligned_occurrence_is_unrepresentable(self):
        """A surface embedded INSIDE an ASCII run does not align to subword
        token boundaries — the grid cannot represent it (a real span
        model's constraint), while the char tokenizer still fires it."""
        from fastie_spark.tokenizer import encode_meta, subword_encode_meta

        text = "xxAlicezz 中本聪"
        got_char = self._decode(text, encode_meta)
        got_sub = self._decode(text, subword_encode_meta)
        assert any(m[3] == "Alice" for m in got_char)
        assert not any(m[3] == "Alice" for m in got_sub)
        assert any(m[3] == "中本聪" for m in got_sub)  # aligned ones survive


class TestTokenizerSeamRE:
    """RE side of the seam: GPLinker triples survive a multi-char-token
    tokenizer when surfaces align to token boundaries."""

    def _vocab(self):
        from fastie_spark.scorer import Vocab

        return Vocab(
            entity_vocab=[("Acme", "org"), ("Bob", "per"), ("中本聪", "per")],
            relation_vocab=[("Acme", "founder", "Bob"),
                            ("Acme", "ceo_of", "中本聪")],
        )

    def _decode(self, text, encode_fn):
        from fastie_spark.decoders import gplinker_decode_cells
        from fastie_spark.scorer import DictScorer, re_cells_mapped

        vocab = self._vocab()
        scorer = DictScorer(vocab)
        enc = encode_fn(text)
        ent, head, tail = re_cells_mapped(scorer, text,
                                          enc["offset_mapping"])
        id2pred = dict(enumerate(vocab.predicates()))
        return gplinker_decode_cells(ent, head, tail, enc["seq_len"], text,
                                     enc["offset_mapping"], id2pred)

    def test_parity_char_vs_subword(self):
        from fastie_spark.tokenizer import encode_meta, subword_encode_meta

        text = "关于Acme：创始人是Bob，而中本聪 Acme 也有联系。"
        got_char = self._decode(text, encode_meta)
        got_sub = self._decode(text, subword_encode_meta)
        assert got_char == got_sub
        assert ("founder", "Acme", "Bob") in got_sub
        assert ("ceo_of", "Acme", "中本聪") in got_sub

    def test_mapped_reduces_to_re_cells_on_char_mapping(self):
        from fastie_spark.scorer import DictScorer, re_cells_mapped
        from fastie_spark.tokenizer import encode_meta

        vocab = self._vocab()
        scorer = DictScorer(vocab)
        text = "Acme Bob 中本聪 " * 60  # crosses truncation
        enc = encode_meta(text)
        assert re_cells_mapped(scorer, text, enc["offset_mapping"]) == \
            scorer.re_cells(text)
        for scorer, t in _seeded_cases(1402):
            mapping = encode_meta(t)["offset_mapping"]
            assert re_cells_mapped(scorer, t, mapping) == \
                scorer.re_cells(t), t


class TestTokenizerSeamEvent:
    """Event side of the seam: clique-decoded events survive a multi-char
    token tokenizer when argument surfaces align to token boundaries —
    completes the real-checkpoint swap guard across all three decode
    families (NER/RE/events)."""

    def _vocab(self):
        from fastie_spark.scorer import Vocab

        return Vocab(event_vocab=[
            ("成立事件", [("触发词", "成立"), ("founder", "中本聪"),
                          ("company", "Acme")]),
        ])

    def _decode(self, text, encode_fn):
        from fastie_spark.decoders import event_decode_cells, event_set2json
        from fastie_spark.scorer import DictScorer, event_cells_mapped

        vocab = self._vocab()
        scorer = DictScorer(vocab)
        enc = encode_fn(text)
        argu, head, tail = event_cells_mapped(scorer, text,
                                              enc["offset_mapping"])
        id2label = dict(enumerate(vocab.event_labels()))
        evs = event_set2json(event_decode_cells(
            argu, head, tail, enc["seq_len"], text, enc["offset_mapping"],
            id2label,
        ))
        return sorted(
            (e["event_type"], e.get("trigger"),
             tuple(sorted((a["role"], a["argument"]) for a in e["arguments"])))
            for e in evs
        )

    def test_parity_char_vs_subword(self):
        from fastie_spark.tokenizer import encode_meta, subword_encode_meta

        text = "中本聪在今天成立了 Acme 公司。"
        got_char = self._decode(text, encode_meta)
        got_sub = self._decode(text, subword_encode_meta)
        assert got_char == got_sub
        assert got_sub and got_sub[0][0] == "成立事件"
        assert dict(got_sub[0][2]) == {"founder": "中本聪", "company": "Acme"}

    def test_mapped_reduces_to_event_cells_on_char_mapping(self):
        from fastie_spark.scorer import DictScorer, event_cells_mapped
        from fastie_spark.tokenizer import encode_meta

        vocab = self._vocab()
        scorer = DictScorer(vocab)
        text = "成立 中本聪 Acme 成立。" * 40  # crosses truncation
        enc = encode_meta(text)
        assert event_cells_mapped(scorer, text, enc["offset_mapping"]) == \
            scorer.event_cells(text)
        for scorer, t in _seeded_cases(1403):
            mapping = encode_meta(t)["offset_mapping"]
            assert event_cells_mapped(scorer, t, mapping) == \
                scorer.event_cells(t), t
