"""Multi-decoder extraction stage: run every implemented mention/triple
decoder (SURVEY.md §2.4 M1-M13) over the same chunks in ONE Arrow pass.

Output rows carry a ``decoder`` column so coverage queries/tests can slice
per decoder without re-scanning the corpus. The per-decoder semantics live
in decoders.py / decoders_ext.py; the score views in scorer.py. All
decoders are chunk-local (batch-independent), so results are
partitioning-invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .chunking import mask_spaces
from .decoders import gp_decode_cells, gplinker_decode_cells, w2ner_decode_grid
from .decoders_ext import (
    cascade_crf_decode,
    casrel_decode,
    cnn_decode,
    crf_decode,
    grte_decode,
    onerel_decode,
    span_decode,
    tplinker_ner_decode,
    tplinker_re_decode,
)
from .pipeline import MAX_LENGTH, repartition_by_url
from .scorer import DictScorer, Vocab
from .session import arrow_map_fn
from .tokenizer import encode_meta as encode

MULTI_SCHEMA = (
    "url string, decoder string, kind string, label string, start long, "
    "end long, surface string, subj string, pred string, obj string"
)

NER_DECODERS = ["gp", "w2ner", "span", "crf", "cascade_crf", "tplinker", "cnn"]
RE_DECODERS = ["gplinker", "casrel", "tplinker", "grte", "onerel", "pfn"]


def decode_chunk_all(scorer: DictScorer, ids: dict, chunk: str,
                     base: int) -> list:
    """All decoders on one chunk -> row tuples (decoder-tagged)."""
    masked = mask_spaces(chunk)
    enc = encode(masked, MAX_LENGTH)
    l, mapping = enc["seq_len"], enc["offset_mapping"]
    rows = []

    def add_mentions(dec, mentions):
        for lbl, s, e, surf in mentions:
            rows.append((dec, "mention", lbl, s + base, e + base, surf,
                         None, None, None))

    def add_triples(dec, spoes):
        for pred, subj, obj in spoes:
            rows.append((dec, "triple", None, None, None, None, subj, pred, obj))

    # --- NER family ---
    add_mentions("gp", gp_decode_cells(
        scorer.ner_cells(masked), l, chunk, mapping, ids["ner"]))
    length = min(len(masked), MAX_LENGTH - 2)
    add_mentions("w2ner", w2ner_decode_grid(
        scorer.w2ner_grid(masked), length, chunk, ids["w2ner"]))
    starts, ends = scorer.span_arrays(masked)
    add_mentions("span", span_decode(starts, ends, l, chunk, mapping, ids["span"]))
    add_mentions("crf", crf_decode(
        scorer.crf_emissions(masked), l, chunk, mapping, ids["crf"]))
    add_mentions("cascade_crf", cascade_crf_decode(
        scorer.cascade_emissions(masked), scorer.cascade_classify_fn(masked),
        l, chunk, mapping, ids["span"]))
    add_mentions("tplinker", tplinker_ner_decode(
        scorer.tplinker_ner_spots(masked), l, chunk, mapping, ids["ner"]))
    grid, L = scorer.cnn_scores(masked)
    add_mentions("cnn", cnn_decode(grid, L, chunk, ids["ner"]))

    # --- RE family ---
    ent, head, tail = scorer.re_cells(masked)
    add_triples("gplinker", gplinker_decode_cells(
        ent, head, tail, l, chunk, mapping, ids["pred"]))
    ss, se = scorer.casrel_subjects(masked)
    add_triples("casrel", casrel_decode(
        ss, se, scorer.casrel_obj_fn(masked), l, chunk, mapping, ids["pred"]))
    add_triples("tplinker", tplinker_re_decode(
        scorer.tplinker_re_spots(masked), l, chunk, mapping,
        ids["tplinker_re"]))
    add_triples("grte", grte_decode(
        scorer.grte_cells(masked), l, chunk, mapping, ids["pred"]))
    add_triples("onerel", onerel_decode(
        scorer.onerel_cells(masked), l, chunk, mapping, ids["pred"]))
    # PFN decode == GPLinker product over sigmoid>0.5 cells (same cells here)
    add_triples("pfn", gplinker_decode_cells(
        ent, head, tail, l, chunk, mapping, ids["pred"]))
    return rows


def make_ids(scorer: DictScorer) -> dict:
    vocab = scorer.vocab
    return {
        "ner": dict(enumerate(vocab.ner_labels())),
        "w2ner": dict(enumerate(["NONE", "NNW"] + vocab.ner_labels())),
        "span": dict(enumerate(["O"] + vocab.ner_labels())),
        "crf": scorer.crf_id2label(),
        "pred": dict(enumerate(vocab.predicates())),
        "tplinker_re": scorer.tplinker_re_labels(),
    }


def make_multi_decoder_fn(vocab: Vocab):
    """mapInArrow fn: (url, text) batches -> MULTI_SCHEMA batches."""
    from .chunking import char_bases, split_one

    def setup():
        scorer = DictScorer(vocab, MAX_LENGTH)
        return scorer, make_ids(scorer)

    def process(ctx, urls, texts) -> list:
        scorer, ids = ctx
        rows = []
        for url, text in zip(urls, texts):
            if text is None:  # nullable text, as in the fused loop
                continue
            chunks = split_one(text, MAX_LENGTH - 2)
            bases = char_bases(chunks)
            doc_triples: dict = {}
            for chunk, base in zip(chunks, bases):
                for r in decode_chunk_all(scorer, ids, chunk, base):
                    if r[1] == "triple":  # J2: per-doc set union per decoder
                        doc_triples.setdefault(r[0], set()).add(r[6:9])
                    else:
                        rows.append((url, *r))
            for dec, spoes in doc_triples.items():
                for subj, pred, obj in spoes:
                    rows.append((url, dec, "triple", None, None, None,
                                 None, subj, pred, obj))
        return rows

    return arrow_map_fn(["url", "text"], MULTI_SCHEMA, process, setup)


def run_multi_decoder(spark: SparkSession, pages: DataFrame,
                      vocab: Vocab) -> DataFrame:
    src = repartition_by_url(pages.select("url", "text"),
                             spark.sparkContext.defaultParallelism)
    return src.mapInArrow(make_multi_decoder_fn(vocab), schema=MULTI_SCHEMA)
