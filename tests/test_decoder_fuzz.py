"""Hypothesis fuzz over the full decoder matrix with ADVERSARIAL
vocabularies (substring containment, overlaps, repeats — cases the
synthetic corpus never generates). Invariants per decoder:

- well-formedness: every mention's surface == the text slice at its span;
  every triple's subject/object occur in the text;
- exact cross-decoder identities that hold by construction
  (gp == tplinker-NER from the same cells; pfn == gplinker;
  gplinker ⊆ onerel);
- determinism: decoding twice gives identical rows.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from fastie_spark.multi_decoder import decode_chunk_all, make_ids
from fastie_spark.scorer import DictScorer, Vocab

WORDS = ["ab", "abc", "b", "bc", "cab", "abab", "ba"]
PREDS = ["p1", "p2"]
LABELS = ["per", "org"]


@st.composite
def vocab_and_text(draw):
    ents = draw(st.lists(
        st.tuples(st.sampled_from(WORDS), st.sampled_from(LABELS)),
        min_size=1, max_size=5, unique_by=lambda t: t[0]))
    rels = draw(st.lists(
        st.tuples(st.sampled_from(WORDS), st.sampled_from(PREDS),
                  st.sampled_from(WORDS)),
        max_size=5, unique=True))
    text = draw(st.text("abcx", min_size=0, max_size=40))
    return Vocab(entity_vocab=sorted(ents), relation_vocab=sorted(rels)), text


@given(vocab_and_text())
@settings(max_examples=150, deadline=None)
def test_decoder_matrix_invariants(vt):
    vocab, text = vt
    scorer = DictScorer(vocab)
    ids = make_ids(scorer)

    rows1 = decode_chunk_all(scorer, ids, text, 0)
    rows2 = decode_chunk_all(scorer, ids, text, 0)
    assert rows1 == rows2  # determinism

    mentions = {}
    triples = {}
    for r in rows1:
        dec, kind = r[0], r[1]
        if kind == "mention":
            mentions.setdefault(dec, set()).add(r[2:6])
        else:
            triples.setdefault(dec, set()).add(r[6:9])

    # well-formedness
    for dec, ms in mentions.items():
        for lbl, s, e, surf in ms:
            assert text[s:e] == surf, (dec, lbl, s, e, surf, text)
    for dec, ts in triples.items():
        for subj, pred, obj in ts:
            assert subj in text and obj in text, (dec, subj, obj, text)

    # exact identities
    assert mentions.get("gp", set()) == mentions.get("tplinker", set())
    assert triples.get("pfn", set()) == triples.get("gplinker", set())
    # OneRel's single argmax tag per grid cell cannot represent triples
    # whose HB-TB / HB-TE / HE-TE cells collide (within or across
    # relations) — faithful tag-collision loss. Invariant: every gplinker
    # triple MISSING from onerel must be explained by a collision, i.e. no
    # occurrence pair has its three cells carrying the expected tags.
    onerel = triples.get("onerel", set())
    missing = triples.get("gplinker", set()) - onerel
    if missing:
        cells = scorer.onerel_cells(text)
        occ = scorer._present(text)
        pred2id = scorer.pred2id
        for subj, pred, obj in missing:
            p = pred2id[pred]
            intact_pair_exists = any(
                cells.get((p, sh, oh)) == 1
                and cells.get((p, sh, ot)) == 2
                and cells.get((p, st, ot)) == 3
                for sh, st in occ.get(subj, [])
                for oh, ot in occ.get(obj, [])
            )
            assert not intact_pair_exists, (subj, pred, obj, text)


def test_clique_search_matches_reference_fuzz():
    """Differential fuzz: the bitmask/iterative clique_search must match
    the verbatim reference recursion on random link graphs — same clique
    content sets in the same order (the reference may duplicate a node
    within a clique when a self-position link exists; content is what
    event_set2json consumes), and bit-identical final decoded events."""
    import numpy as np

    from fastie_spark import decoders
    from fastie_spark.decoders import (
        clique_search,
        clique_search_reference,
        event_set2json,
    )

    def dedup_cliques(res):
        out, seen = [], set()
        for clique in res:
            uniq = sorted(set(map(tuple, clique)))
            key = tuple(uniq)
            if key not in seen:
                seen.add(key)
                out.append([list(x) if isinstance(clique[0], list) else x
                            for x in uniq])
        return out

    rng = np.random.default_rng(1234)
    for trial in range(300):
        n = int(rng.integers(0, 12))
        argus = sorted(
            {("e", f"r{int(rng.integers(0, 3))}", int(rng.integers(1, 9)),
              int(rng.integers(1, 9))) for _ in range(n)}
        )
        links = set()
        p_link = rng.random()
        for i in range(len(argus)):
            for j in range(i + 1, len(argus)):
                if rng.random() < p_link:
                    a, b = argus[i], argus[j]
                    links.add((a[2], a[3], b[2], b[3]))
                    links.add((b[2], b[3], a[2], a[3]))
        got = clique_search(list(argus), links)
        want = clique_search_reference(list(argus), links)
        assert got == dedup_cliques(want), \
            f"trial {trial}: {argus} {sorted(links)}"
        if not argus:
            continue  # groupby never yields an empty group in production
        # end-to-end: the decoded event SET through set2json is identical
        # (sequential subset-dedup keeps exactly the maximal events; only
        # the list ORDER is sensitive to the reference's multiplicity
        # variants, and order never reaches the row output)
        def events_from(cs):
            evs = []
            for clique in cs(list(argus), links):
                evs.append([(a[0], a[1], f"x{a[2]}", a[2], a[3])
                            for a in clique])
            out = event_set2json(evs)
            return sorted(
                (e["event_type"], e.get("trigger"),
                 tuple((a["role"], a["argument"]) for a in e["arguments"]))
                for e in out
            )
        assert events_from(clique_search) == events_from(
            clique_search_reference)


def test_clique_search_state_cap():
    """The subset memo is bounded: a dense adversarial link graph raises
    RuntimeError at max_states instead of exhausting worker memory; the
    same graph solves fine under the default (2^20) budget."""
    import random

    import pytest

    from fastie_spark.decoders import clique_search

    random.seed(3)
    n = 14
    argus = [("e", f"r{i}", i, i) for i in range(n)]
    links = set()
    for i in range(n):
        for j in range(i + 1, n):
            if random.random() < 0.5:
                links.add((i, i, j, j))
                links.add((j, j, i, i))
    with pytest.raises(RuntimeError, match="state explosion"):
        clique_search(argus, links, max_states=64)
    assert len(clique_search(argus, links)) == 20


def test_w2ner_decode_matches_bruteforce():
    """Independent oracle for the W2NER DFS: enumerate ALL DAG paths (NNW
    edges are strictly increasing, so paths are finite) from each
    registered head and keep those ending at a tail registered for that
    head — a different algorithm from the production DFS, so a translation
    bug in either cannot hide."""
    import numpy as np

    from fastie_spark.decoders import w2ner_decode_grid

    def brute(grid, length, text, id2label):
        fwd, heads, types = {}, {}, {}
        for (r, c), lab in grid.items():
            if r >= length or c >= length:
                continue
            if lab == 1 and r < c:
                fwd.setdefault(r, []).append(c)
            if lab > 1 and r >= c:
                types[(c, r)] = lab
                heads.setdefault(c, set()).add(r)
        out = set()

        def paths(node):
            yield [node]
            for nxt in sorted(fwd.get(node, [])):
                for p in paths(nxt):
                    yield [node] + p

        for h, tails in heads.items():
            for p in paths(h):
                if p[-1] in tails:
                    out.add((id2label[types[(p[0], p[-1])]], p[0],
                             p[-1] + 1, "".join(text[i] for i in p)))
        return out

    rng = np.random.default_rng(55)
    id2label = {i: f"L{i}" for i in range(6)}
    for trial in range(400):
        n = int(rng.integers(1, 10))
        text = "".join(chr(ord("a") + int(rng.integers(0, 26)))
                       for _ in range(n))
        grid = {}
        for _ in range(int(rng.integers(0, 18))):
            r, c = int(rng.integers(0, n + 2)), int(rng.integers(0, n + 2))
            grid[(r, c)] = int(rng.integers(1, 6))
        got = w2ner_decode_grid(grid, n, text, id2label)
        want = brute(grid, n, text, id2label)
        assert got == want, (trial, grid, n, got ^ want)
