"""Deterministic character-level tokenizer with HF-fast-tokenizer offset
contract (SURVEY.md §2.3 T1/T2).

Reproduces the invariants of the reference's fast-tokenizer usage
(/root/reference/fastie/models/named_entity_recognition/global_pointer/
decode_utils.py:142-153): ``[CLS] tok... [SEP]`` framing, truncation to
``max_length`` (so at most ``max_length - 2`` content tokens),
``offset_mapping`` of ``(char_start, char_end_exclusive)`` pairs with
``(0, 0)`` for special tokens, and a sequence-length "attention mask sum"
used by the decoders to exclude CLS/SEP/PAD cells.

One token per character is the natural deterministic choice for a
dependency-free engine (exactly what BERT-style Chinese tokenizers do for
CJK text) and makes char<->token alignment trivial: token ``i`` covers
chars ``[i-1, i)``. No torch/transformers dependency.
"""

from __future__ import annotations

MAX_LENGTH = 512  # reference default (decode_utils.py:124)
CLS_ID = 1
SEP_ID = 2
UNK_ID = 3
_VOCAB_OFFSET = 10  # ids below this are reserved for specials


def char_to_id(ch: str) -> int:
    """Stable id for a character (codepoint-shifted; no lookup table)."""
    return ord(ch) + _VOCAB_OFFSET


def encode(text: str, max_length: int = MAX_LENGTH) -> dict:
    """Tokenize one (already space-masked) chunk.

    Returns dict with:
      input_ids:      [CLS] + char ids (truncated to max_length-2) + [SEP]
      offset_mapping: [(0,0)] + [(i, i+1), ...] + [(0,0)]
      seq_len:        len(input_ids)  (== attention_mask.sum() unpadded)
    """
    n = min(len(text), max_length - 2)
    input_ids = [CLS_ID] + [char_to_id(c) for c in text[:n]] + [SEP_ID]
    offsets = [(0, 0)] + [(i, i + 1) for i in range(n)] + [(0, 0)]
    return {"input_ids": input_ids, "offset_mapping": offsets, "seq_len": n + 2}


_OFFSETS_CACHE: dict = {}


def encode_meta(text: str, max_length: int = MAX_LENGTH) -> dict:
    """Hot-path variant of encode(): the decoders consume only seq_len and
    offset_mapping (input_ids feed no grid in the dictionary scorer), and
    the offset mapping depends only on the truncated LENGTH — served from a
    module cache."""
    n = min(len(text), max_length - 2)
    off = _OFFSETS_CACHE.get(n)
    if off is None:
        # tuple: the cache entry is shared across callers — immutable by
        # construction so no consumer can corrupt the mapping process-wide
        off = tuple([(0, 0)] + [(i, i + 1) for i in range(n)] + [(0, 0)])
        _OFFSETS_CACHE[n] = off
    return {"offset_mapping": off, "seq_len": n + 2}


def char_span_to_token_span(start: int, end: int) -> tuple[int, int]:
    """Map a char span [start, end) to inclusive token indices (s_tok, e_tok).

    With one token per char and a leading CLS, char ``i`` is token ``i+1``;
    the inclusive end token of char span end-exclusive ``end`` is ``end``.
    """
    return start + 1, end


def subword_encode_meta(text: str, max_length: int = MAX_LENGTH) -> dict:
    """Deterministic MULTI-char-token tokenizer with the same offset
    contract as encode_meta — the drop-in seam double for a real wordpiece
    tokenizer (tokenization.py:100-129 in the reference's global_pointer
    model). ASCII alphanumeric runs become ONE token; every other char is
    its own token. Proves (tests/test_matcher_scorer.py) that decode
    offsets survive a tokenizer whose tokens cover more than one char,
    guarding the future real-checkpoint swap."""
    spans = []
    i, n = 0, len(text)
    while i < n and len(spans) < max_length - 2:
        c = text[i]
        if c.isascii() and c.isalnum():
            j = i + 1
            while j < n and text[j].isascii() and text[j].isalnum():
                j += 1
            spans.append((i, j))
            i = j
        else:
            spans.append((i, i + 1))
            i += 1
    offsets = tuple([(0, 0)] + spans + [(0, 0)])
    return {"offset_mapping": offsets, "seq_len": len(spans) + 2}
