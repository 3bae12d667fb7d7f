"""Single-process oracle mirroring the reference predict control flow.

This is the ground-truth side of the parity tests: it follows, step for
step, the reference's batched predict drivers —

  NER:    auto_splitter -> space-mask -> batch(64) -> tokenize -> score ->
          decode -> chunk-rejoin with char-length offset shift
          (/root/reference/fastie/models/named_entity_recognition/
           global_pointer/decode_utils.py:119-158, joiner :208-229)
  RE:     same, but chunk-rejoin is plain set union (offsets dropped)
          (.../relation_extraction/gplinker/decode_utils.py:124-163,
           joiner :190-201)
  Events: no chunking — truncate at max_length, decode, subset-dedup
          (.../event_extraction/gplinker/decode_utils.py:104-136)

— with the model forward replaced by the same DictScorer the Spark UDFs
use. Spark-vs-oracle exact-match micro P/R (metrics.py) is the BASELINE.md
triple-quality gate.
"""

from __future__ import annotations

from .chunking import auto_splitter, mask_spaces
from .decoders import (
    event_decode_cells,
    event_set2json,
    gp_decode_cells,
    gplinker_decode_cells,
)
from .scorer import DictScorer, Vocab
from .tokenizer import MAX_LENGTH, encode_meta as encode

BATCH_SIZE = 64  # reference default, decode_utils.py:123


class OracleEngine:
    def __init__(self, vocab: Vocab, max_length: int = MAX_LENGTH,
                 batch_size: int = BATCH_SIZE, split_sentence: bool = False):
        self.vocab = vocab
        self.max_length = max_length
        self.batch_size = batch_size
        self.split_sentence = split_sentence
        self.scorer = DictScorer(vocab, max_length)
        self.ner_id2label = dict(enumerate(vocab.ner_labels()))
        self.re_id2pred = dict(enumerate(vocab.predicates()))
        self.event_id2label = dict(enumerate(vocab.event_labels()))

    # -- shared chunked driver (NerDecoder.predict / RelExtractionDecoder.predict)
    def _chunked(self, texts, per_chunk_fn):
        max_predict_len = self.max_length - 2
        short_texts, input_mapping = auto_splitter(
            texts, max_predict_len, split_sentence=self.split_sentence
        )
        infer_inputs = [mask_spaces(t) for t in short_texts]
        outputs = []
        bs = self.batch_size
        total_batch = len(infer_inputs) // bs + (1 if len(infer_inputs) % bs else 0)
        for b in range(total_batch):
            for masked, raw in zip(
                infer_inputs[b * bs : (b + 1) * bs], short_texts[b * bs : (b + 1) * bs]
            ):
                outputs.append(per_chunk_fn(masked, raw))
        return outputs, short_texts, input_mapping

    def predict_ner(self, texts: list[str]) -> list[set]:
        """Per doc: {(label, char_start, char_end, surface)} after J1 rejoin."""

        def one(masked, raw):
            enc = encode(masked, self.max_length)
            cells = self.scorer.ner_cells(masked)
            return gp_decode_cells(
                cells, enc["seq_len"], raw, enc["offset_mapping"], self.ner_id2label
            )

        outputs, short_texts, mapping = self._chunked(texts, one)
        # _auto_joiner, global_pointer/decode_utils.py:208-229
        results = []
        for k, vs in mapping.items():
            single: set = set()
            offset = 0
            for i, v in enumerate(vs):
                if i == 0:
                    single = set(outputs[v])
                else:
                    for res in outputs[v]:
                        single.add((res[0], res[1] + offset, res[2] + offset, res[3]))
                offset += len(short_texts[v])
            results.append(single)
        return results

    def predict_re(self, texts: list[str]) -> list[set]:
        """Per doc: {(predicate, subject, object)} after J2 set union."""

        def one(masked, raw):
            enc = encode(masked, self.max_length)
            ent, head, tail = self.scorer.re_cells(masked)
            return gplinker_decode_cells(
                ent, head, tail, enc["seq_len"], raw, enc["offset_mapping"],
                self.re_id2pred,
            )

        outputs, _, mapping = self._chunked(texts, one)
        # _auto_joiner, gplinker/decode_utils.py:190-201 (plain union)
        results = []
        for k, vs in mapping.items():
            groups = [outputs[v] for v in vs if outputs[v]]
            results.append(set.union(*groups) if groups else set())
        return results

    def predict_events(self, texts: list[str]) -> list[list]:
        """Per doc: subset-dedup'd event dicts; no chunking (truncate only),
        per EventExtractionDecoder.predict decode_utils.py:104-136."""
        out = []
        for raw in texts:
            masked = mask_spaces(raw)
            enc = encode(masked, self.max_length)
            argu, head, tail = self.scorer.event_cells(masked)
            events = event_decode_cells(
                argu, head, tail, enc["seq_len"], raw, enc["offset_mapping"],
                self.event_id2label,
            )
            out.append(event_set2json(events))
        return out
