"""Deterministic dictionary-driven grid scorer — the dependency-free "model".

The sandbox has no torch/transformers (SURVEY.md §7.0), so the encoder+head
forward pass is replaced by a deterministic scorer with the same *interface*
as the reference models' score grids:

  GlobalPointer NER   -> [C, L, L] span-score grid
     (/root/reference/fastie/models/named_entity_recognition/global_pointer/
      modeling_gp.py:126, decoded at :145-170)
  GPLinker RE         -> entity [2, L, L], head [P, L, L], tail [P, L, L]
     (.../relation_extraction/gplinker/modeling_gplinker.py:137-141,
      decoded at :164-213)
  GPLinker events     -> argu [R, L, L], head/tail link grids [1, L, L]
     (.../event_extraction/gplinker/modeling_gplinker.py:157-221)
  W2NER               -> argmax label grid [L, L] (NNW=1, THW=label)
     (.../named_entity_recognition/w2ner/modeling_w2ner.py:197-254)

Scoring rule: a grid cell is positive (+1.0 logit) iff the corresponding
text span matches a vocabulary surface form (all occurrences, overlapping
included), else negative (-1.0) — i.e. the "model" is an exact-dictionary
extractor. Scores are computed per chunk, never across batch boundaries, so
results are partitioning-invariant (SURVEY.md §7.2d). The decoders
(decoders.py) then implement the reference decode semantics verbatim over
these grids; the same scorer runs inside the single-process oracle and the
Spark UDFs, bit-for-bit.

Sparse representation: cells are returned as sets/dicts keyed by index, with
an implied dense fill of -1.0. ``decoders.dense_*`` helpers materialize real
numpy grids from them for the reference-exact dense decode used in tests;
the production path decodes the sparse cells directly (identical output,
since -1.0 < every decode threshold used).

One occurrence view: every grid builder reads ``DictScorer._present`` (the
truncation-filtered ``{surface: [(s_tok, e_tok), ...]}`` map from one
Aho-Corasick pass per chunk). The NER, RE and event grids are each written
once (``_ner_grid``, ``_re_grid``, ``_event_grid``) over such a map; the
tokenizer seam (``*_cells_mapped``) feeds the same bodies the spans that
align to an arbitrary offset mapping (``_mapped_spans``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .chunking import mask_spaces
from .matcher import MultiPatternMatcher
from .tokenizer import MAX_LENGTH

POS = 1.0  # logit assigned to dictionary hits
NEG = -1.0  # implied fill everywhere else


@dataclass
class Vocab:
    """Broadcastable extraction vocabulary (the 'weights' of the scorer).

    entity_vocab:   [(surface, label)]
    relation_vocab: [(subj_surface, predicate, obj_surface)]
    event_vocab:    [(event_type, [(role, argument_surface), ...])] — one
                    entry per event *instance* pattern; the trigger is the
                    role "触发词" per fastie/data/event_extraction.py:43-50.
    """

    entity_vocab: list = field(default_factory=list)
    relation_vocab: list = field(default_factory=list)
    event_vocab: list = field(default_factory=list)

    # --- label universes: sorted-distinct, frozen like apply_config does
    # (modeling_gp.py:94-97, modeling_gplinker.py:101-104) ---
    def ner_labels(self) -> list:
        return sorted({lbl for _, lbl in self.entity_vocab})

    def predicates(self) -> list:
        return sorted({p for _, p, _ in self.relation_vocab})

    def event_labels(self) -> list:
        # schema-file semantics: trigger role prepended per event type
        labels = set()
        for etype, args in self.event_vocab:
            labels.add(f"{etype}@触发词")
            for role, _ in args:
                labels.add(f"{etype}@{role}")
        return sorted(labels)

    def fingerprint(self) -> str:
        """Content hash — the per-executor model-cache key (executor_init):
        two Vocab objects with identical content share one worker-local
        scorer instance."""
        import hashlib

        return hashlib.md5(
            repr((sorted(map(tuple, self.entity_vocab)),
                  sorted(map(tuple, self.relation_vocab)),
                  sorted((e, tuple(map(tuple, a)))
                         for e, a in self.event_vocab))).encode()
        ).hexdigest()


def find_all(text: str, sub: str) -> list:
    """All (overlapping) occurrence start offsets of sub in text."""
    if not sub:
        return []
    out, i = [], text.find(sub)
    while i != -1:
        out.append(i)
        i = text.find(sub, i + 1)
    return out


class DictScorer:
    """Per-chunk sparse grid scorer over a Vocab."""

    def __init__(self, vocab: Vocab, max_length: int = MAX_LENGTH):
        self.vocab = vocab
        self.max_length = max_length
        self.ner_label2id = {l: i for i, l in enumerate(vocab.ner_labels())}
        self.pred2id = {p: i for i, p in enumerate(vocab.predicates())}
        self.event_label2id = {l: i for i, l in enumerate(vocab.event_labels())}
        # surfaces are matched against space-masked text; masking the vocab
        # side keeps surfaces containing spaces matchable (P3 invariant)
        self._masked_entities = [
            (mask_spaces(surf), lbl) for surf, lbl in vocab.entity_vocab
        ]
        self._masked_relations = [
            (mask_spaces(s), p, mask_spaces(o))
            for s, p, o in vocab.relation_vocab
        ]
        self._masked_events = [
            (etype, [(role, mask_spaces(arg)) for role, arg in args])
            for etype, args in vocab.event_vocab
        ]
        # one Aho-Corasick automaton over every surface any view needs; a
        # single pass per chunk replaces hundreds of str.find scans
        surfaces = {s for s, _ in self._masked_entities}
        for a, _, o in self._masked_relations:
            surfaces.add(a)
            surfaces.add(o)
        for _, args in self._masked_events:
            surfaces.update(a for _, a in args)
        self._matcher = MultiPatternMatcher(surfaces)
        self._memo_text: str | None = None
        self._memo: dict = {}
        self._present_memo: dict = {}
        # inverted indexes so the hot views iterate only surfaces PRESENT in
        # the chunk (the AC map), never the whole vocabulary
        self._ent_lids: dict = {}
        for surf, lbl in self._masked_entities:
            self._ent_lids.setdefault(surf, []).append(self.ner_label2id[lbl])
        self._rel_by_subj: dict = {}
        self._subj_surfaces: set = set()
        self._obj_surfaces: set = set()
        for a, p, o in self._masked_relations:
            self._rel_by_subj.setdefault(a, []).append((self.pred2id[p], o))
            self._subj_surfaces.add(a)
            self._obj_surfaces.add(o)
        # event hot-path precompute: per-instance (label_id, arg) lists with
        # the label ids resolved ONCE (the f-string+dict lookup per arg per
        # doc was measurable), plus an argument-surface -> instance-indices
        # inverted index so event_cells touches only instances with at
        # least one present argument instead of the whole event vocabulary
        self._event_args = [
            [(self.event_label2id[f"{etype}@{role}"], arg)
             for role, arg in args]
            for etype, args in self._masked_events
        ]
        # decoded-form twin of _event_args for event_views: (etype, role)
        # resolved once so the fused fast path skips the per-cell label
        # rsplit the generic decode pays. NOTE: resolved by rsplitting the
        # composed label at the LAST '@' — the generic decode's exact
        # behavior — so a role containing '@' decodes identically on both
        # paths (the raw (etype, role) pair would differ there).
        self._event_args_er = [
            [(tuple(f"{etype}@{role}".rsplit("@", 1)), arg)
             for role, arg in args]
            for etype, args in self._masked_events
        ]
        self._event_inv: dict = {}
        for _idx, _largs in enumerate(self._event_args):
            for _, _arg in _largs:
                self._event_inv.setdefault(_arg, []).append(_idx)
        # affix-freeness over the FULL matcher pattern set: when no surface
        # is a prefix OR suffix of another, at most one pattern occurrence
        # can start (resp. end) at any char position, which makes grid-cell
        # positions uniquely attributable to surfaces — the precondition
        # for triples_fast below (see its proof sketch)
        _sp = self._matcher.patterns
        _rp = sorted(p[::-1] for p in _sp)
        self._affix_free = all(
            not _sp[i + 1].startswith(_sp[i]) for i in range(len(_sp) - 1)
        ) and all(
            not _rp[i + 1].startswith(_rp[i]) for i in range(len(_rp) - 1)
        )

    def _occ_map(self, text: str) -> dict:
        if text != self._memo_text:
            self._memo = self._matcher.occurrences(text)
            trunc = min(len(text), self.max_length - 2)
            self._present_memo = {
                surf: spans
                for surf, starts in self._memo.items()
                if (spans := [
                    (st + 1, st + len(surf))
                    for st in starts if st + len(surf) <= trunc
                ])
            }
            self._memo_text = text
        return self._memo

    def _present(self, text: str) -> dict:
        """{surface: [(s_tok, e_tok), ...]} for surfaces occurring in text
        (truncation-filtered), computed once per chunk."""
        self._occ_map(text)
        return self._present_memo

    # ---- M1: GlobalPointer NER grid --------------------------------------
    def ner_cells(self, masked_text: str) -> set:
        """{(label_id, s_tok, e_tok)} with logit POS; fill NEG elsewhere."""
        return self._ner_grid(self._present(masked_text))

    def _ner_grid(self, present: dict) -> set:
        cells = set()
        ent = self._ent_lids
        for surf, spans in present.items():
            lids = ent.get(surf)
            if not lids:
                continue
            for lid in lids:
                for s_tok, e_tok in spans:
                    cells.add((lid, s_tok, e_tok))
        return cells

    # ---- fused fast paths (guide §4.2: per-task Python work) --------------
    def mentions_fast(self, masked_text: str, text: str, mapping,
                      id2label) -> set:
        """gp_decode_cells(ner_cells(masked_text), ...) fused into one pass
        over the present-surface map — no intermediate cell set. Output-
        identical for ANY vocab: the decode is a per-cell map into a set,
        so enumerating the cell generators directly yields the same set,
        and the decode's l-bound filter can never fire on this scorer's
        cells (_present truncation-filters spans to e_tok <= seq_len - 2).
        Differentially tested against the slow path (oracle parity +
        tests)."""
        out = set()
        ent = self._ent_lids
        for surf, spans in self._present(masked_text).items():
            lids = ent.get(surf)
            if not lids:
                continue
            labels = [id2label[lid] for lid in lids]
            for s_tok, e_tok in spans:
                cs, ce = mapping[s_tok][0], mapping[e_tok][1]
                seg = text[cs:ce]
                for lbl in labels:
                    out.add((lbl, cs, ce, seg))
        return out

    def triples_fast(self, masked_text: str, text: str, mapping,
                     id2pred) -> set:
        """gplinker_decode_cells(*re_cells(masked_text), ...) fused into a
        direct relation-product — VALID ONLY when self._affix_free.

        Proof sketch of output equality: the full decode emits
        (p, text[sh..st], text[oh..ot]) whenever (sh,st) is a subject
        occurrence, (oh,ot) an object occurrence, (sh,oh) in head_p and
        (st,ot) in tail_p. Under affix-freeness at most one pattern
        occurrence starts (prefix-free) or ends (suffix-free) at any char
        position, so the subject at (sh,st), the head-cell subject at sh,
        and the tail-cell subject ending at st are the SAME occurrence of
        the SAME surface A (likewise B for the object side) — hence every
        emitted tuple comes from a vocabulary relation (A, p, B) with both
        sides present, which is exactly what this product enumerates.
        Without affix-freeness cross-relation position collisions can emit
        extra tuples, so callers must gate on _affix_free (the generic
        decode remains the fallback). Differential equality is pinned by
        oracle-parity tests and the decoder fuzz suite."""
        present = self._present(masked_text)
        out = set()
        for subj, subj_occ in present.items():
            rels = self._rel_by_subj.get(subj)
            if not rels:
                continue
            subj_texts = {
                text[mapping[s][0]:mapping[e][1]] for s, e in subj_occ
            }
            for p, obj in rels:
                obj_occ = present.get(obj)
                if obj_occ is None:
                    continue
                pred = id2pred[p]
                for b in {
                    text[mapping[s][0]:mapping[e][1]] for s, e in obj_occ
                }:
                    for a in subj_texts:
                        out.add((pred, a, b))
        return out

    # ---- M8: GPLinker RE grids -------------------------------------------
    def re_cells(self, masked_text: str):
        """(entity_cells {(r,h,t)}, head_cells {(p,sh,oh)}, tail_cells {(p,st,ot)})."""
        return self._re_grid(self._present(masked_text))

    def _re_grid(self, present: dict):
        ent, head, tail = set(), set(), set()
        # entity cells fire for EVERY present subject/object surface, even
        # when its relation partner is absent from the chunk — the reference
        # model's entity grid is independent of the head/tail grids, and a
        # lone subject can still pair with another relation's object in
        # decode (orphan-cell regression caught in review)
        for surf, spans in present.items():
            if surf in self._subj_surfaces:
                for sh, st in spans:
                    ent.add((0, sh, st))
            if surf in self._obj_surfaces:
                for oh, ot in spans:
                    ent.add((1, oh, ot))
        for subj, subj_occ in present.items():
            rels = self._rel_by_subj.get(subj)
            if not rels:
                continue
            for p, obj in rels:
                obj_occ = present.get(obj)
                if not obj_occ:
                    continue
                for sh, st in subj_occ:
                    for oh, ot in obj_occ:
                        head.add((p, sh, oh))
                        tail.add((p, st, ot))
        return ent, head, tail

    # ---- M14: GPLinker event grids ---------------------------------------
    def event_cells(self, masked_text: str):
        """(argu_cells {(label_id,h,t)}, head_links {(h_min,h_max)},
        tail_links {(t_min,t_max)})."""
        return self._event_grid(self._present(masked_text))

    def _event_grid(self, present: dict):
        argu, head, tail = set(), set(), set()
        # only instances with >= 1 present argument can contribute cells;
        # the inverted index makes the scan proportional to the (small)
        # present-surface set, not the event vocabulary. Set-valued
        # outputs make the instance iteration order immaterial.
        inv = self._event_inv
        hit: set = set()
        for surf in present:
            ids = inv.get(surf)
            if ids:
                hit.update(ids)
        for idx in hit:
            occ = []  # one occurrence set per (role, argument)
            for lid, arg in self._event_args[idx]:
                spans = present.get(arg)
                if spans:
                    for h, t in spans:
                        argu.add((lid, h, t))
                    occ.append(spans[0])  # link via first occurrence
            for i in range(len(occ)):
                for j in range(i + 1, len(occ)):
                    (h1, t1), (h2, t2) = occ[i], occ[j]
                    head.add((min(h1, h2), max(h1, h2)))
                    tail.add((min(t1, t2), max(t1, t2)))
        return argu, head, tail

    def event_views(self, masked_text: str):
        """event_cells with the argu set already in DECODED form
        {(etype, role, h, t)} — the fused-pipeline twin of
        event_cells + the argus-build loop of event_decode_cells. Output-
        identical to that pair because (a) the (etype, role) split of
        'etype@role' labels is resolved at init (labels are built from the
        same f-string), and (b) the decode's l-bound filter can never fire
        on this scorer's truncation-filtered spans (same argument as
        mentions_fast). The generic path remains for the oracle and for
        dense grids; parity is pinned by the event differential tests."""
        argus, head, tail = set(), set(), set()
        present = self._present(masked_text)
        inv = self._event_inv
        hit: set = set()
        for surf in present:
            ids = inv.get(surf)
            if ids:
                hit.update(ids)
        for idx in hit:
            occ = []
            for er, arg in self._event_args_er[idx]:
                spans = present.get(arg)
                if spans:
                    et, ro = er
                    for h, t in spans:
                        argus.add((et, ro, h, t))
                    occ.append(spans[0])
            for i in range(len(occ)):
                for j in range(i + 1, len(occ)):
                    (h1, t1), (h2, t2) = occ[i], occ[j]
                    head.add((min(h1, h2), max(h1, h2)))
                    tail.add((min(t1, t2), max(t1, t2)))
        return argus, head, tail

    # ---- M5: span-NER per-token start/end argmax labels -------------------
    def span_arrays(self, masked_text: str):
        """(start_labels, end_labels) over token positions, 0='O'; label ids
        offset by 1 (['O'] + sorted schemas, modeling_span.py:77-79).
        First write wins on conflicts (deterministic argmax tie-break)."""
        l = min(len(masked_text), self.max_length - 2) + 2
        starts, ends = [0] * l, [0] * l
        present = self._present(masked_text)
        for surf, lbl in sorted(self._masked_entities):
            lid = self.ner_label2id[lbl] + 1
            for s_tok, e_tok in present.get(surf, ()):
                if starts[s_tok] == 0:
                    starts[s_tok] = lid
                if ends[e_tok] == 0:
                    ends[e_tok] = lid
        return starts, ends

    # ---- M3: CRF emissions over BIO tags ----------------------------------
    def crf_emissions(self, masked_text: str):
        """[l, 1+2C] emissions: O=0.5 baseline, B-x/I-x=1.0 at occurrence
        positions (label universe ['O'] + B-* + I-*, modeling_crf.py:91-94).
        First write wins per position."""
        import numpy as np

        l = min(len(masked_text), self.max_length - 2) + 2
        n = len(self.ner_label2id)
        em = np.zeros((l, 1 + 2 * n), dtype=np.float32)
        em[:, 0] = 0.5
        taken = [False] * l
        present = self._present(masked_text)
        for surf, lbl in sorted(self._masked_entities):
            lid = self.ner_label2id[lbl]
            for s_tok, e_tok in present.get(surf, ()):
                if any(taken[s_tok : e_tok + 1]):
                    continue
                em[s_tok, 1 + lid] = 1.0
                for p in range(s_tok + 1, e_tok + 1):
                    em[p, 1 + n + lid] = 1.0
                for p in range(s_tok, e_tok + 1):
                    taken[p] = True
        return em

    def cascade_emissions(self, masked_text: str):
        """[l, 3] emissions over {O, B-ENT, I-ENT} (typeless stage 1 of
        cascade CRF, modeling_crf.py:202-204). First write wins."""
        import numpy as np

        l = min(len(masked_text), self.max_length - 2) + 2
        em = np.zeros((l, 3), dtype=np.float32)
        em[:, 0] = 0.5
        taken = [False] * l
        present = self._present(masked_text)
        for surf, _ in sorted(self._masked_entities):
            for s_tok, e_tok in present.get(surf, ()):
                if any(taken[s_tok : e_tok + 1]):
                    continue
                em[s_tok, 1] = 1.0
                for p in range(s_tok + 1, e_tok + 1):
                    em[p, 2] = 1.0
                for p in range(s_tok, e_tok + 1):
                    taken[p] = True
        return em

    def cascade_classify_fn(self, masked_text: str):
        """Stage-2 span classifier: surface lookup -> label id in
        ['O'] + sorted labels (0 = unknown/O)."""
        lut = {
            surf: self.ner_label2id[lbl] + 1 for surf, lbl in self._masked_entities
        }

        def fn(span):
            s, e = span
            return lut.get(masked_text[s - 1 : e], 0)

        return fn

    def crf_id2label(self) -> dict:
        labels = self.vocab.ner_labels()
        return dict(
            enumerate(["O"] + [f"B-{x}" for x in labels] + [f"I-{x}" for x in labels])
        )

    # ---- M6: TPLinker NER shaking spots ------------------------------------
    def tplinker_ner_spots(self, masked_text: str) -> list:
        return sorted(
            (s, e, lid) for (lid, s, e) in self.ner_cells(masked_text)
        )

    # ---- M7: CNN char-grid scores ------------------------------------------
    def cnn_scores(self, masked_text: str):
        """Dense sigmoid-like grid [L, L, C] over char indices; symmetric
        1.0 cells at occurrences (mirror cells set so the (S+S^T)/2 in
        cnn_decode keeps confidence 1.0)."""
        import numpy as np

        L = min(len(masked_text), self.max_length - 2)
        C = len(self.ner_label2id)
        g = np.zeros((max(L, 1), max(L, 1), C), dtype=np.float32)
        present = self._present(masked_text)
        for surf, lbl in self._masked_entities:
            lid = self.ner_label2id[lbl]
            for s_tok, e in present.get(surf, ()):
                s = s_tok - 1
                g[s, e - 1, lid] = 1.0
                g[e - 1, s, lid] = 1.0
        return g, L

    # ---- M9: CasRel conditional views --------------------------------------
    def casrel_subjects(self, masked_text: str):
        starts, ends = set(), set()
        present = self._present(masked_text)
        for subj, _, _ in self._masked_relations:
            for sh, st in present.get(subj, ()):
                starts.add(sh)
                ends.add(st)
        return sorted(starts), sorted(ends)

    def casrel_obj_fn(self, masked_text: str):
        """Returns fn(subject_token_span) -> (starts, ends) of (pos, pred_id)
        — the conditional-LayerNorm second pass, dictionary-simulated by
        resolving the subject surface from the span."""
        present = self._present(masked_text)

        def fn(span):
            sh, st = span
            surf = masked_text[sh - 1 : st]  # tokens are CLS-shifted chars
            starts, ends = [], []
            for subj, pred, obj in self._masked_relations:
                if subj != surf:
                    continue
                p = self.pred2id[pred]
                for oh, ot in present.get(obj, ()):
                    starts.append((oh, p))
                    ends.append((ot, p))
            return starts, ends

        return fn

    # ---- M10: TPLinker RE shaking spots ------------------------------------
    def tplinker_re_labels(self) -> dict:
        labels = ["ENT=EH2ET"]
        for p in self.vocab.predicates():
            labels += [f"{p}=SH2OH", f"{p}=OH2SH", f"{p}=ST2OT", f"{p}=OT2ST"]
        return dict(enumerate(labels))

    def tplinker_re_spots(self, masked_text: str) -> list:
        label2id = {v: k for k, v in self.tplinker_re_labels().items()}
        spots = set()
        present = self._present(masked_text)
        for subj, pred, obj in self._masked_relations:
            so = present.get(subj, ())
            oo = present.get(obj, ())
            for sh, st in so:
                spots.add((sh, st, label2id["ENT=EH2ET"]))
            for oh, ot in oo:
                spots.add((oh, ot, label2id["ENT=EH2ET"]))
            for (sh, st) in so:
                for (oh, ot) in oo:
                    if sh <= oh:
                        spots.add((sh, oh, label2id[f"{pred}=SH2OH"]))
                    else:
                        spots.add((oh, sh, label2id[f"{pred}=OH2SH"]))
                    if st <= ot:
                        spots.add((st, ot, label2id[f"{pred}=ST2OT"]))
                    else:
                        spots.add((ot, st, label2id[f"{pred}=OT2ST"]))
        return sorted(spots)

    # ---- M11: GRTE tag cells ------------------------------------------------
    def grte_cells(self, masked_text: str) -> dict:
        cells: dict = {}
        present = self._present(masked_text)
        for subj, pred, obj in sorted(self._masked_relations):
            r = self.pred2id[pred]
            so = present.get(subj, ())
            oo = present.get(obj, ())
            for (sh, st) in so:
                for (oh, ot) in oo:
                    subj_multi, obj_multi = st > sh, ot > oh
                    if not subj_multi and not obj_multi:
                        cells.setdefault((sh, oh, r), 1)
                    elif not subj_multi and obj_multi:
                        cells.setdefault((sh, oh, r), 4)
                        cells.setdefault((sh, ot, r), 5)
                    elif subj_multi and not obj_multi:
                        cells.setdefault((sh, oh, r), 2)
                        cells.setdefault((st, oh, r), 3)
                    else:
                        cells.setdefault((sh, oh, r), 6)
                        cells.setdefault((st, ot, r), 7)
        return cells

    # ---- M12: OneRel tag cells ----------------------------------------------
    def onerel_cells(self, masked_text: str) -> dict:
        cells: dict = {}
        present = self._present(masked_text)
        for subj, pred, obj in sorted(self._masked_relations):
            p = self.pred2id[pred]
            so = present.get(subj, ())
            oo = present.get(obj, ())
            for (sh, st) in so:
                for (oh, ot) in oo:
                    cells.setdefault((p, sh, oh), 1)  # HB-TB
                    cells.setdefault((p, sh, ot), 2)  # HB-TE
                    cells.setdefault((p, st, ot), 3)  # HE-TE
        return cells

    # ---- M2: W2NER argmax label grid -------------------------------------
    def w2ner_grid(self, text: str) -> dict:
        """{(i, j): label} sparse argmax grid over *char* indices (W2NER
        indexes raw text positions, no CLS shift — modeling_w2ner.py:207-251).
        NNW=1 at [i, i+1] along the span; THW=label_id+2 at [tail, head]
        (labels are prepended with ["NONE","NNW"], modeling_w2ner.py:114-117).
        First write wins (deterministic argmax tie-break)."""
        grid: dict = {}
        present = self._present(text)
        for surf, lbl in sorted(self._masked_entities):
            lid = self.ner_label2id[lbl] + 2
            for s_tok, e in present.get(surf, ()):
                s = s_tok - 1  # e_tok is the exclusive char end
                for i in range(s, e - 1):
                    grid.setdefault((i, i + 1), 1)
                grid.setdefault((e - 1, s), lid)
        return grid


def _mapped_spans(scorer: DictScorer, masked_text: str, mapping) -> dict:
    """{surface: [(s_tok, e_tok), ...]} for every vocab occurrence in
    masked_text whose char span aligns to token boundaries under an HF-style
    offset_mapping ((0, 0) entries are special tokens). Spans keep the
    occurrence order; surfaces with no aligned occurrence are absent."""
    start_lut: dict = {}
    end_lut: dict = {}
    for i, (cs, ce) in enumerate(mapping):
        if cs == 0 and ce == 0:
            continue
        start_lut.setdefault(cs, i)
        end_lut[ce] = i
    present: dict = {}
    for surf, starts in scorer._occ_map(masked_text).items():
        spans = [
            (start_lut[st], end_lut[st + len(surf)])
            for st in starts
            if st in start_lut and st + len(surf) in end_lut
        ]
        if spans:
            present[surf] = spans
    return present


def ner_cells_mapped(scorer: DictScorer, masked_text: str, mapping) -> set:
    """M1 grid cells under an ARBITRARY HF-style offset_mapping — the
    tokenizer seam (SURVEY.md §2.3 T1/T2). An occurrence fires the cell
    (label_id, s_tok, e_tok) iff its char span aligns to token boundaries;
    an occurrence split inside a subword token cannot be represented in a
    token-square grid, which is exactly a real span model's constraint.
    The grid body is DictScorer.ner_cells' own, read over the mapped spans,
    so the char tokenizer's mapping gives ner_cells exactly (pytest-gated)."""
    return scorer._ner_grid(_mapped_spans(scorer, masked_text, mapping))


def re_cells_mapped(scorer: DictScorer, masked_text: str, mapping):
    """M8 GPLinker grids under an ARBITRARY offset_mapping — the RE side of
    the tokenizer seam: DictScorer.re_cells' grid body over the spans that
    align to token boundaries (occurrences that don't are unrepresentable,
    a real span model's constraint). Equals re_cells on the char
    tokenizer's mapping (pytest-gated)."""
    return scorer._re_grid(_mapped_spans(scorer, masked_text, mapping))


def event_cells_mapped(scorer: DictScorer, masked_text: str, mapping):
    """M14 event grids under an ARBITRARY offset_mapping — the event side of
    the tokenizer seam: DictScorer.event_cells' grid body over the aligned
    spans, so head/tail links pair the FIRST representable occurrence per
    argument. Equals event_cells on the char tokenizer's mapping
    (pytest-gated)."""
    return scorer._event_grid(_mapped_spans(scorer, masked_text, mapping))
