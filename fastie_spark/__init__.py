"""fastie_spark — a from-scratch PySpark-native knowledge-graph construction
engine with the query/data-processing capabilities of xusenlinzy/FastIE.

NOT a port: the reference (/root/reference) is a PyTorch/transformers
train+infer framework; this package re-expresses its *inference/decode
semantics* (GlobalPointer, W2NER, GPLinker, CasRel, event clique decoding,
UIE span extraction — see SURVEY.md §2.4) as batched mapInArrow stages
over Spark DataFrames, and adds the Spark-side KG composition the
north rule mandates: entity linking, union-find canonicalization, graph
materialization, checkpoint/lineage.

Layout
------
core (dependency-free, shared bit-for-bit by the single-process oracle and
the Spark UDFs):
    tokenizer.py   deterministic char-level tokenizer w/ offset mapping (T1/T2)
    chunking.py    cut_chinese_sent / auto_splitter semantics (P5/P6)
    scorer.py      deterministic dictionary-driven grid scorer (the "model")
    decoders.py    decode semantics M1/M2/M8/M14... as pure numpy/python
    oracle.py      single-process reference-control-flow predict drivers
    fixtures.py    seeded synthetic pages/vocab/linker/alias tables

spark-side:
    session.py       SparkSession builder + the one Arrow stage boundary
    text_extract.py  html -> text byte-identical extraction (fused stage)
    pipeline.py      fused extract -> chunk -> tokenize -> score -> decode stage
    linking.py       broadcast-dict entity linking + normalization
    cc.py            connected-components canonicalization (large/small star)
    materialize.py   nodes/edges/provenance writes + snapshot manifest
    metrics.py       micro P/R/F1 set metrics as DataFrame joins
    textops.py       dedup / lang-id / quality / fingerprint / similarity ops
"""

__version__ = "0.1.0"
