"""Driver contract for the spark-graft builder (PySpark target).

entry():      flagship GPLinker triple extraction over sf0.001 documents.
queries():    every implemented operator from SURVEY.md §2 + the KG chain +
              the training-data-pipeline ops (dedup/similarity/text
              analysis), each as (spark, sf_dir) -> DataFrame.
oracle_sql(): matching DuckDB SQL for EVERY query. The KG chain (mention
              detect -> GPLinker triples -> linking -> canonicalization ->
              graph edges), event extraction (clique search on per-pattern
              event types), the M1-M13 decoder matrix, and UIE schema-tree
              traversal all use a vocabulary derived from the documents
              table by a closed-form rule (fastie_spark/derive.py), so each
              has an exact SQL oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastie_spark.derive import (
    derived_alias_edges,
    derived_linker_rows,
    derived_vocab,
    docs_as_pages,
)
from fastie_spark.fixtures import NER_LABELS, PREDICATES
from fastie_spark.kg_job import link_and_canonicalize
from fastie_spark.linking import (
    EMB_BAND_BITS, EMB_DIMS, EMB_LINK_K, _int_cosine_sql, _top_k_sql,
    _two_band_join_sql, dbc2sbc_sql, link_triples,
)
from fastie_spark.pipeline import run_extraction_fused
from fastie_spark.session import local_df
from fastie_spark.textops import REGISTRY, track_cache

# ---------------------------------------------------------------------------
# memoized derived-vocab KG pipeline per sf_dir (the driver calls each query
# separately; extraction runs once and its persists are registered with
# textops.release_caches(), which also ends the memo)
# ---------------------------------------------------------------------------
_KG_CACHE: dict = {}


def _kg(spark: SparkSession, sf_dir: str) -> dict:
    # memo keyed by (application, sf_dir): persisted DataFrames die with
    # their session, so a driver that recreates sessions per query must not
    # get stale handles. Within a session the memo is reused only while the
    # JVM still holds its persists: storageLevel asks the CacheManager, while
    # is_cached is a Python-side flag that stays set when the entry is
    # released through another frame with an equal plan
    app = spark.sparkContext.applicationId
    cache_key = (app, sf_dir)
    hit = _KG_CACHE.get(cache_key)
    if hit is not None and all(
        hit[k].storageLevel != StorageLevel.NONE for k in ("_raw", "linked")
    ):
        return hit
    # entries from other (stopped) sessions are unreachable — drop them so a
    # session-per-query driver doesn't accumulate orphaned handles
    for k in [k for k in _KG_CACHE if k[0] != app]:
        del _KG_CACHE[k]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab, toks = derived_vocab(spark, docs)
    pages = docs_as_pages(docs)
    # one persisted UDF pass; mentions/triples/events are filters over it
    ext = run_extraction_fused(spark, pages, vocab, from_html=False)
    track_cache(ext["_raw"])

    linker = local_df(
        spark, derived_linker_rows(toks),
        "alias string, canonical_id string, entity_type string, prior double",
    )
    # exact-match linking: the derived dictionary is surface-exact and the
    # SQL oracle assigns ids per raw token, so normalization collisions
    # (case/width-equal tokens) must not merge ids here
    chain = link_and_canonicalize(
        ext["triples"], ext["mentions"], linker,
        derived_alias_edges(spark, len(toks)), normalize=False,
    )
    # the canonical triples feed link_triples and graph_edges; the
    # component table is already materialized (driver-built local_df, or a
    # projection over a localCheckpoint), so it needs no persist
    linked = track_cache(chain["triples"].persist())

    out = {
        **ext,
        "linked": linked,
        "linker": linker,
        "components": chain["components"],
        "graph_edges": chain["edges"],
    }
    _KG_CACHE[cache_key] = out
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: GPLinker triple extraction on sf0.001 documents."""
    return _kg(spark, "/root/testdata/sf0.001")["triples"]


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {
        name: (lambda s, d, fn=fn: fn(s, d)) for name, (fn, _) in REGISTRY.items()
    }
    def decoder_coverage(s, d):
        """Per-decoder mention/triple counts over the full M1-M13 decoder
        matrix (exact oracle: _DECODER_COVERAGE_SQL; per-decoder semantics
        are additionally pytest-gated)."""
        from fastie_spark.multi_decoder import run_multi_decoder

        docs = s.read.parquet(f"{d}/documents.parquet")
        vocab, _ = derived_vocab(s, docs)
        out = run_multi_decoder(s, docs_as_pages(docs), vocab)
        return (
            out.groupBy("decoder", "kind")
            .agg(F.count("*").cast("long").alias("n"))
            .orderBy("decoder", "kind")
        )

    q["decoder_coverage"] = decoder_coverage

    def uie_extract(s, d):
        """UIE schema-tree extraction (M16-M18) over derived vocab: 2-level
        schema {label: [pred]} + a flat label (exact oracle: _UIE_SQL;
        Spark==multi_stage_predict parity is pytest-gated in
        tests/test_uie.py)."""
        from fastie_spark.uie import run_uie_spark

        import os
        import tempfile

        docs = s.read.parquet(f"{d}/documents.parquet")
        vocab, _ = derived_vocab(s, docs)
        if not vocab.relation_vocab:
            return s.createDataFrame([], "url string, path string")
        subj, pred, _ = vocab.relation_vocab[0]
        lbl = dict(vocab.entity_vocab)[subj]
        other = next(x for x in NER_LABELS if x != lbl)
        schema = [{lbl: [pred]}, other]
        # fixed per-(app, sf_dir) work dir under ONE parent: repeated driver
        # calls overwrite the same level checkpoints instead of leaking a
        # temp dir per call. The sf digest is hashlib (stable across driver
        # processes — abs(hash(d)) was PYTHONHASHSEED-salted), stale dirs
        # from dead sessions are pruned on entry, and the current dir is
        # removed at interpreter exit, so the suite leaves nothing behind.
        import atexit
        import hashlib
        import shutil

        app = s.sparkContext.applicationId
        parent = os.path.join(tempfile.gettempdir(), "fastie_spark_uie")
        os.makedirs(parent, exist_ok=True)
        # prune only dirs that are BOTH foreign and old: a concurrent live
        # session's dir has a fresh mtime and must not be deleted from
        # under it — "foreign" alone is not evidence of death
        now = __import__("time").time()
        for stale in os.listdir(parent):
            sp = os.path.join(parent, stale)
            try:
                old = now - os.path.getmtime(sp) > 6 * 3600
            except OSError:
                continue
            if not stale.startswith(app) and old:
                shutil.rmtree(sp, ignore_errors=True)
        work_dir = os.path.join(
            parent, f"{app}_{hashlib.md5(d.encode()).hexdigest()[:8]}"
        )
        atexit.register(shutil.rmtree, work_dir, ignore_errors=True)
        out = run_uie_spark(s, docs_as_pages(docs), vocab, schema,
                            work_dir=work_dir, resume=True)
        return out.select(
            "url", "path", "parent", "span",
            F.col("start").cast("long").alias("start"),
            F.col("end").cast("long").alias("end"),
            F.round("probability", 6).alias("probability"),
        )

    q["uie_extract"] = uie_extract

    def classify_docs(s, d):
        """M19 text classification analogue: per-doc argmax over class
        evidence (mention counts per label), ties -> lexicographic."""
        from pyspark.sql import Window

        m = _kg(s, d)["mentions"]
        counts = m.groupBy("url", "label").agg(
            F.count("*").cast("long").alias("n_mentions")
        )
        w = Window.partitionBy("url").orderBy(
            F.desc("n_mentions"), F.asc("label")
        )
        return (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("url", F.col("label").alias("pred_label"), "n_mentions")
        )

    q["classify_docs"] = classify_docs

    def spo_convert(s, d):
        """P1 judge filter + P2 char-offset annotate
        (fastie/data/relation_extraction.py:25-66): keep (text, spo) pairs
        whose subject AND object occur verbatim; emit first-occurrence char
        spans [sub_start, sub_end, pred_id, obj_start, obj_end] (inclusive
        ends). Broadcast the spo side; instr stays in codegen."""
        docs = s.read.parquet(f"{d}/documents.parquet")
        vocab, _ = derived_vocab(s, docs)
        pred2id = {p: i for i, p in enumerate(vocab.predicates())}
        rel = local_df(
            s,
            [{"subj": a, "pred": p, "obj": o, "pred_id": pred2id[p]}
             for a, p, o in vocab.relation_vocab],
            "subj string, pred string, obj string, pred_id long",
        )
        dd = docs.select(
            F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
            "text",
        )
        j = dd.crossJoin(F.broadcast(rel)).filter(
            (F.instr("text", F.col("subj")) > 0)
            & (F.instr("text", F.col("obj")) > 0)
        )
        sub = (F.instr("text", F.col("subj")) - 1).cast("long")
        obj = (F.instr("text", F.col("obj")) - 1).cast("long")
        return j.select(
            "url", "subj", "pred", "obj",
            sub.alias("sub_start"),
            (sub + F.length("subj") - 1).alias("sub_end"),
            "pred_id",
            obj.alias("obj_start"),
            (obj + F.length("obj") - 1).alias("obj_end"),
        )

    q["spo_convert"] = spo_convert

    def event_prf(s, d):
        """A2 event/argument-level micro P/R/F1 over driver data: pred and
        gold extraction-event row sets are derived deterministically from
        the events table (user = doc; one event per (user, event_type) with
        role v{event_id%3} / argument floor(value); pred = 80% subset by
        event_id%10, gold = 71% subset by event_id%7), then scored with the
        reference A2 semantics (metrics.event_prf_df)."""
        from fastie_spark.metrics import event_prf_df

        ev = s.read.parquet(f"{d}/events.parquet")
        url = F.concat(F.lit("user://"), F.col("user_id").cast("string"))
        base = ev.select(
            url.alias("url"),
            "event_type",
            F.col("event_type").alias("trigger"),
            F.concat(F.lit("v"), (F.col("event_id") % 3).cast("string")).alias(
                "role"
            ),
            F.floor("value").cast("long").cast("string").alias("argument"),
            F.md5(F.concat(url, F.lit("|"), F.col("event_type"))).alias(
                "event_key"
            ),
            "event_id",
        )
        pred = base.filter(F.col("event_id") % 10 < 8).drop("event_id")
        gold = base.filter(F.col("event_id") % 7 < 5).drop("event_id")
        return event_prf_df(pred, gold)

    q["event_prf"] = event_prf

    def image_stats(s, d):
        """BinaryType driver query through the REAL image codecs: decode
        BMP/PPM payloads (multimodal.decode_media) -> per-image dims +
        integer-exact brightness stats. Input is the committed deterministic
        media fixture (regenerated byte-identically if missing) — media has
        no sf-scaled testdata table, so the query is sf-independent; the
        DuckDB oracle parses the same container bytes with blob-hex byte
        arithmetic."""
        from fastie_spark.multimodal import ensure_media_parquet, image_features

        media = s.read.parquet(ensure_media_parquet())
        return image_features(media).select(
            "media_id", "width", "height", "n_pixels",
            F.round("mean_brightness", 6).alias("mean_brightness"),
            F.round("std_brightness", 6).alias("std_brightness"),
        )

    q["image_stats"] = image_stats

    def audio_stats(s, d):
        """BinaryType driver query through the REAL audio codec: RIFF/WAV
        PCM decode -> one row per (clip, channel) with sample_rate,
        n_samples, whole-clip and per-channel RMS (integer-sum,
        oracle-exact). Same committed media fixture as image_stats."""
        from fastie_spark.multimodal import audio_stats as audio_stats_op
        from fastie_spark.multimodal import ensure_media_parquet

        media = s.read.parquet(ensure_media_parquet())
        return audio_stats_op(media).select(
            "media_id", "channel", "sample_rate", "n_channels", "n_samples",
            F.round("rms", 6).alias("rms"), "peak_abs",
            F.round("rms_channel", 6).alias("rms_channel"),
        )

    q["audio_stats"] = audio_stats

    def link_embedding(s, d, prefilter="exact"):
        """The '+embedding' half of dictionary+embedding linking
        (north_star): surfaces the exact-match dictionary would miss
        (deterministic variants: each derived alias with its 2nd char
        dropped) are linked to the nearest alias by 16-dim n-gram
        feature-hash embedding cosine (linking.link_by_embedding). The
        arithmetic is all-integer until the final division, so the DuckDB
        oracle reproduces scores and ranking bit-exactly. prefilter="band"
        is the 100 TB candidates->verify path (sign-band LSH, no cross
        product); its oracle mirrors the banding, so it too is hash-exact."""
        from fastie_spark.linking import link_by_embedding

        docs = s.read.parquet(f"{d}/documents.parquet")
        _, toks = derived_vocab(s, docs)
        aliases = local_df(
            s,
            [{"alias": t, "canonical_id": f"Q{i:05d}"}
             for i, t in enumerate(toks)],
            "alias string, canonical_id string",
        )
        variants = sorted({t[0] + t[2:] for t in toks if len(t) >= 3})
        queries_df = local_df(
            s, [{"surface": v} for v in variants], "surface string"
        )
        out = link_by_embedding(queries_df, aliases, prefilter=prefilter)
        return out.select(
            "surface", "alias", "canonical_id",
            F.round("cos", 6).alias("cos"),
        )

    q["link_embedding"] = link_embedding
    q["link_embedding_banded"] = lambda s, d: link_embedding(
        s, d, prefilter="band"
    )
    q["extract_mentions"] = lambda s, d: _kg(s, d)["mentions"]
    q["extract_triples"] = lambda s, d: _kg(s, d)["triples"]
    q["extract_events"] = lambda s, d: _kg(s, d)["events"]
    q["link_triples"] = lambda s, d: _kg(s, d)["linked"].select(
        "url", "subj", "pred", "obj", "subj_id", "obj_id"
    )

    def link_triples_shuffle(s, d):
        """Same linking as link_triples but through the non-broadcast
        fallback (shuffled hash join, AQE skew split) — the path a
        Wikidata-scale alias table takes. Shares _LINKED_SQL with the
        broadcast query: both strategies must hash identically."""
        kg = _kg(s, d)
        return link_triples(
            kg["triples"], kg["linker"], normalize=False, strategy="shuffle"
        ).select("url", "subj", "pred", "obj", "subj_id", "obj_id")

    q["link_triples_shuffle"] = link_triples_shuffle
    q["canonical_components"] = lambda s, d: _kg(s, d)["components"].select(
        "node", "component"
    )
    q["graph_edges"] = lambda s, d: _kg(s, d)["graph_edges"]
    return q


# ---------------------------------------------------------------------------
# oracle SQL — shared closed-form vocab-derivation CTE block
# ---------------------------------------------------------------------------
_LABELS_SQL = "[" + ", ".join(f"'{x}'" for x in NER_LABELS) + "]"
_PREDS_SQL = "[" + ", ".join(f"'{x}'" for x in PREDICATES) + "]"

_VOCAB_CTE = r"""
cand AS (
  SELECT tok, cast(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(regexp_extract_all(text, '[\p{L}\p{N}]+')) AS tok
        FROM documents)
  WHERE length(tok) >= 3
  GROUP BY tok ORDER BY n DESC, tok LIMIT 200
),
surv AS (
  SELECT c.tok, c.n FROM cand c
  WHERE NOT EXISTS (
    SELECT 1 FROM cand u
    WHERE u.tok <> c.tok
      AND (position(c.tok IN u.tok) > 0 OR position(u.tok IN c.tok) > 0)
      AND (u.n > c.n OR (u.n = c.n AND u.tok < c.tok)))
),
ent AS (
  SELECT tok, cast(row_number() OVER (ORDER BY n DESC, tok) - 1 AS BIGINT) AS i
  FROM surv QUALIFY i < 150
),
nent AS (SELECT cast(count(*) AS BIGINT) AS c FROM ent),
de AS (
  SELECT d.doc_id, d.text, e.tok, e.i
  FROM documents d JOIN ent e ON position(e.tok IN d.text) > 0
),
occ AS (
  SELECT doc_id, tok, i,
         cast(p - 1 AS BIGINT) AS pos, cast(length(tok) AS BIGINT) AS len
  FROM de, unnest(generate_series(1, length(de.text))) AS t(p)
  WHERE substring(de.text, cast(p AS INT), length(de.tok)) = de.tok
    AND (p - 1) // 510 = (p - 1 + length(de.tok) - 1) // 510
),
rel AS (
  SELECT DISTINCT es.tok AS subj,
         (""" + _PREDS_SQL + r""")[g.i % 12 + 1] AS pred,
         eo.tok AS obj
  FROM generate_series(0, 99) AS g(i), nent
  JOIN ent es ON es.i = g.i % nent.c
  JOIN ent eo ON eo.i = (g.i + 1 + (g.i * 7) % (nent.c - 1)) % nent.c
  WHERE es.i <> eo.i
),
chunk_occ AS (
  SELECT DISTINCT doc_id, tok, pos // 510 AS ck FROM occ
),
triples AS (
  SELECT DISTINCT 'doc://' || s.doc_id AS url, r.subj, r.pred, r.obj,
         es.i AS si, eo.i AS oi
  FROM rel r
  JOIN chunk_occ s ON s.tok = r.subj
  JOIN chunk_occ o ON o.tok = r.obj AND o.doc_id = s.doc_id AND o.ck = s.ck
  JOIN ent es ON es.tok = r.subj
  JOIN ent eo ON eo.tok = r.obj
)
"""

_MENTIONS_SQL = (
    "WITH " + _VOCAB_CTE + r"""
SELECT 'doc://' || doc_id AS url,
       (""" + _LABELS_SQL + r""")[i % 8 + 1] AS label,
       pos AS start, pos + len AS "end", tok AS surface
FROM occ
"""
)

_TRIPLES_SQL = (
    "WITH " + _VOCAB_CTE + "\nSELECT url, subj, pred, obj FROM triples"
)

_LINKED_SQL = (
    "WITH " + _VOCAB_CTE + r"""
SELECT url, subj, pred, obj,
       printf('Q%05d', si) AS subj_id, printf('Q%05d', oi) AS obj_id
FROM triples
"""
)

_COMPONENTS_SQL = (
    "WITH " + _VOCAB_CTE + r"""
SELECT printf('Q%05d', i) AS node,
       printf('Q%05d', 3 * (i // 3)) AS component
FROM ent, nent
WHERE NOT (i % 3 = 0 AND i + 1 >= nent.c)
"""
)

_GRAPH_EDGES_SQL = (
    "WITH " + _VOCAB_CTE + r"""
SELECT printf('Q%05d', 3 * (si // 3)) AS subj_id, pred,
       printf('Q%05d', 3 * (oi // 3)) AS obj_id,
       cast(count(*) AS BIGINT) AS n_support
FROM triples GROUP BY 1, 2, 3
"""
)


# event_prf: A2 event/argument-level micro P/R/F1 over pred/gold event row
# sets derived from the events table. The event-level compare joins on the
# sorted distinct tuple set per (doc, event) — represented as a C0-separated
# sorted string, which orders identically to Spark's sorted struct arrays on
# this controlled vocabulary (constant event_type prefix, fixed-length
# roles, integer arguments).
_EVENT_PRF_SQL = r"""
WITH base AS (
  SELECT 'user://' || user_id AS url, event_type,
         'v' || (event_id % 3) AS role,
         cast(cast(floor(value) AS BIGINT) AS VARCHAR) AS argument,
         event_id
  FROM events
),
pred AS (SELECT * FROM base WHERE event_id % 10 < 8),
gold AS (SELECT * FROM base WHERE event_id % 7 < 5),
pe AS (
  SELECT url, array_to_string(list_sort(list_distinct(
           list(event_type || chr(31) || role || chr(31) || argument))),
         chr(30)) AS evt
  FROM (SELECT url, event_type, role, argument FROM pred
        UNION
        SELECT DISTINCT url, event_type, '触发词', event_type FROM pred)
  GROUP BY url, event_type
),
ge AS (
  SELECT url, array_to_string(list_sort(list_distinct(
           list(event_type || chr(31) || role || chr(31) || argument))),
         chr(30)) AS evt
  FROM (SELECT url, event_type, role, argument FROM gold
        UNION
        SELECT DISTINCT url, event_type, '触发词', event_type FROM gold)
  GROUP BY url, event_type
),
pe_d AS (SELECT DISTINCT url, evt FROM pe),
ge_d AS (SELECT DISTINCT url, evt FROM ge),
c AS (
  SELECT
    (SELECT cast(count(*) AS BIGINT) FROM pe_d JOIN ge_d USING (url, evt))
      AS e_tp,
    (SELECT cast(count(*) AS BIGINT) FROM pe_d) AS e_pred,
    (SELECT cast(count(*) AS BIGINT) FROM ge_d) AS e_gold,
    (SELECT cast(count(*) AS BIGINT) FROM
       (SELECT DISTINCT url, event_type, role, argument FROM pred) p
       JOIN (SELECT DISTINCT url, event_type, role, argument FROM gold) g
       USING (url, event_type, role, argument)) AS a_tp,
    (SELECT cast(count(*) AS BIGINT) FROM
       (SELECT DISTINCT url, event_type, role, argument FROM pred)) AS a_pred,
    (SELECT cast(count(*) AS BIGINT) FROM
       (SELECT DISTINCT url, event_type, role, argument FROM gold)) AS a_gold
)
SELECT e_tp, e_pred, e_gold, a_tp, a_pred, a_gold,
  round(CASE WHEN e_pred > 0 THEN e_tp / cast(e_pred AS DOUBLE) ELSE 0 END, 6)
    AS event_precision,
  round(CASE WHEN e_gold > 0 THEN e_tp / cast(e_gold AS DOUBLE) ELSE 0 END, 6)
    AS event_recall,
  round(CASE WHEN e_tp / cast(e_pred AS DOUBLE)
             + e_tp / cast(e_gold AS DOUBLE) > 0
        THEN 2 * (e_tp / cast(e_pred AS DOUBLE))
               * (e_tp / cast(e_gold AS DOUBLE))
             / (e_tp / cast(e_pred AS DOUBLE) + e_tp / cast(e_gold AS DOUBLE))
        ELSE 0 END, 6) AS event_f1,
  round(CASE WHEN a_pred > 0 THEN a_tp / cast(a_pred AS DOUBLE) ELSE 0 END, 6)
    AS argu_precision,
  round(CASE WHEN a_gold > 0 THEN a_tp / cast(a_gold AS DOUBLE) ELSE 0 END, 6)
    AS argu_recall,
  round(CASE WHEN a_tp / cast(a_pred AS DOUBLE)
             + a_tp / cast(a_gold AS DOUBLE) > 0
        THEN 2 * (a_tp / cast(a_pred AS DOUBLE))
               * (a_tp / cast(a_gold AS DOUBLE))
             / (a_tp / cast(a_pred AS DOUBLE) + a_tp / cast(a_gold AS DOUBLE))
        ELSE 0 END, 6) AS argu_f1
FROM c
"""


# uie_extract: closed-form M16-M18 outcome over the derived vocab. The UIE
# auto-splitter uses per-node windows W = 509 - len(lexicographic-max prompt
# at that node); a result row is an occurrence fully inside one window that
# also fits this row's content_keep = 509 - len(its own prompt) (reference
# max_predict_len quirk). Level-2 prompts are dbc2sbc(span + '的' + pred)
# matched by exact string equality against subj || '的' || pred over the
# whole relation vocab (the scorer's by_subj probe), one output row per
# (level-1 occurrence row) x (object occurrence). No-overlap property of the
# derived vocab (asserted in tests) makes the start/end pairing exact.
_UIE_SQL = (
    "WITH " + _VOCAB_CTE + r""",
occ_all AS (
  SELECT doc_id, tok, i,
         cast(p - 1 AS BIGINT) AS pos, cast(length(tok) AS BIGINT) AS len
  FROM de, unnest(generate_series(1, length(de.text))) AS t(p)
  WHERE substring(de.text, cast(p AS INT), length(de.tok)) = de.tok
),
r0 AS (SELECT subj, pred FROM rel ORDER BY subj, pred, obj LIMIT 1),
lblv AS (
  SELECT (""" + _LABELS_SQL + r""")[e.i % 8 + 1] AS l
  FROM r0 JOIN ent e ON e.tok = r0.subj
),
othv AS (
  SELECT (""" + _LABELS_SQL + r""")[g.i] AS o
  FROM generate_series(1, 8) AS g(i), lblv
  WHERE (""" + _LABELS_SQL + r""")[g.i] <> lblv.l
  ORDER BY g.i LIMIT 1
),
nodes AS (SELECT l AS name FROM lblv UNION ALL SELECT o FROM othv),
lv1 AS (
  SELECT o.doc_id, n.name AS path, o.tok AS span,
         o.pos AS start, o.pos + o.len AS "end"
  FROM nodes n
  JOIN ent e ON (""" + _LABELS_SQL + r""")[e.i % 8 + 1] = n.name
  JOIN occ_all o ON o.tok = e.tok
  WHERE o.pos // (509 - length(n.name))
        = (o.pos + o.len - 1) // (509 - length(n.name))
),
lv1_lbl AS (SELECT lv1.* FROM lv1, lblv WHERE lv1.path = lblv.l),
span_objs AS (
  SELECT DISTINCT s.span, r2.obj
  FROM (SELECT DISTINCT span FROM lv1_lbl) s, r0
  JOIN rel r2
    ON """ + dbc2sbc_sql("s.span || '的' || r0.pred") + r"""
       = r2.subj || '的' || r2.pred
),
w2 AS (
  SELECT 509 - length(max(
           """ + dbc2sbc_sql("span || '的' || r0.pred") + r""")) AS w
  FROM lv1_lbl, r0
),
lv2 AS (
  SELECT p.doc_id, lblv.l || '/' || r0.pred AS path, p.span AS parent,
         oo.tok AS span, oo.pos AS start, oo.pos + oo.len AS "end"
  FROM lv1_lbl p
  JOIN span_objs so ON so.span = p.span
  JOIN occ_all oo ON oo.doc_id = p.doc_id AND oo.tok = so.obj
  CROSS JOIN w2 CROSS JOIN r0 CROSS JOIN lblv
  WHERE oo.pos // w2.w = (oo.pos + oo.len - 1) // w2.w
    AND (oo.pos % w2.w) + oo.len
        <= 509 - (length(p.span) + 1 + length(r0.pred))
)
SELECT 'doc://' || doc_id AS url, path, CAST(NULL AS VARCHAR) AS parent,
       span, start, "end", cast(1.0 AS DOUBLE) AS probability
FROM lv1
UNION ALL
SELECT 'doc://' || doc_id, path, parent, span, start, "end",
       cast(1.0 AS DOUBLE)
FROM lv2
"""
)


# decoder_coverage: closed-form per-decoder counts over the dictionary
# scorer. With the derived vocab, occurrences of distinct surfaces never
# overlap (containment-filtered candidates; property asserted in
# tests/test_entry_contract.py::test_no_overlapping_occurrences), so:
#   - every NER decoder (gp/w2ner/span/crf/cascade_crf/tplinker/cnn)
#     decodes exactly the occurrence set  -> count(occ)
#   - gplinker/casrel/grte/tplinker/pfn decode exactly the co-chunk
#     relation set                        -> count(triples)
#   - OneRel additionally emits composite spans from cross-occurrence tag
#     combinations (HB-TB x HE-TE gated by HB-TE, modeling_onerel.py
#     semantics) -> the 4-way occurrence join below.
_DECODER_COVERAGE_SQL = (
    "WITH " + _VOCAB_CTE + r""",
n_occ AS (SELECT cast(count(*) AS BIGINT) AS n FROM occ),
n_tri AS (SELECT cast(count(*) AS BIGINT) AS n FROM triples),
subj_spans AS MATERIALIZED (
  SELECT DISTINCT s1.doc_id, s1.pos // 510 AS ck, s1.tok AS t1, s2.tok AS t2,
         substring(d.text, cast(s1.pos + 1 AS INT),
                   cast(s2.pos + s2.len - s1.pos AS INT)) AS stext
  FROM occ s1
  JOIN occ s2 ON s2.doc_id = s1.doc_id AND s2.pos // 510 = s1.pos // 510
  JOIN documents d ON d.doc_id = s1.doc_id
  WHERE (s1.pos % 510) + 1 <= (s2.pos % 510) + s2.len
    AND s1.tok IN (SELECT subj FROM rel)
    AND s2.tok IN (SELECT subj FROM rel)
),
obj_spans AS MATERIALIZED (
  SELECT DISTINCT o1.doc_id, o1.pos // 510 AS ck, o1.tok AS t1, o2.tok AS t2,
         substring(d.text, cast(o1.pos + 1 AS INT),
                   cast(o2.pos + o2.len - o1.pos AS INT)) AS otext
  FROM occ o1
  JOIN occ o2 ON o2.doc_id = o1.doc_id AND o2.pos // 510 = o1.pos // 510
  JOIN documents d ON d.doc_id = o1.doc_id
  WHERE (o1.pos % 510) + 1 <= (o2.pos % 510) + o2.len
    AND o1.tok IN (SELECT obj FROM rel)
    AND o2.tok IN (SELECT obj FROM rel)
),
quad AS MATERIALIZED (
  -- vocab-side token quadruples satisfying the three tag constraints
  -- (HB-TB from r1, HE-TE from r2, HB-TE gate from r3) — dictionary-sized
  SELECT DISTINCT r1.pred, r1.subj AS s1, r1.obj AS b1,
         r2.subj AS s2, r2.obj AS b2
  FROM rel r1
  JOIN rel r2 ON r2.pred = r1.pred
  JOIN rel r3 ON r3.pred = r1.pred AND r3.subj = r1.subj AND r3.obj = r2.obj
),
onerel AS MATERIALIZED (
  SELECT DISTINCT sp.doc_id, q.pred, sp.stext AS subj, op.otext AS obj
  FROM quad q
  JOIN subj_spans sp ON sp.t1 = q.s1 AND sp.t2 = q.s2
  JOIN obj_spans op ON op.doc_id = sp.doc_id AND op.ck = sp.ck
                   AND op.t1 = q.b1 AND op.t2 = q.b2
),
n_onerel AS MATERIALIZED (SELECT cast(count(*) AS BIGINT) AS n FROM onerel)
SELECT decoder, kind, n FROM (
  SELECT u.decoder, 'mention' AS kind, n_occ.n
  FROM (VALUES ('cascade_crf'), ('cnn'), ('crf'), ('gp'), ('span'),
               ('tplinker'), ('w2ner')) AS u(decoder), n_occ
  UNION ALL
  SELECT u.decoder, 'triple' AS kind, n_tri.n
  FROM (VALUES ('casrel'), ('gplinker'), ('grte'), ('pfn'),
               ('tplinker')) AS u(decoder), n_tri
  UNION ALL
  SELECT 'onerel', 'triple', n_onerel.n FROM n_onerel
)
ORDER BY decoder, kind
"""
)


# extract_events: closed-form M14/M15 outcome on the derived event vocab.
# Patterns have DISTINCT event types (derive.py), so each type's clique
# graph is a complete clique over first occurrences plus isolated extra
# occurrences; after the trigger filter + subset-dedup exactly one event per
# doc*pattern survives -> one row per present founder/company argument (or a
# null-role row when neither occurs). Presence = occurrence fully inside the
# first 510 chars (the reference event driver truncates, never chunks).
_EVENTS_SQL = (
    "WITH " + _VOCAB_CTE + r""",
pat AS (
  SELECT g.j, printf('evt%02d', g.j) AS event_type,
         et.tok AS trig, ef.tok AS fnd, ec.tok AS cmp
  FROM generate_series(0, 7) AS g(j), nent
  JOIN ent et ON et.i = g.j
  JOIN ent ef ON ef.i = (g.j + 3) % nent.c
  JOIN ent ec ON ec.i = (g.j + 5) % nent.c
  WHERE g.j < least(8, greatest(nent.c - 4, 0))
),
etoks AS (
  SELECT trig AS tok FROM pat
  UNION SELECT fnd FROM pat
  UNION SELECT cmp FROM pat
),
epres AS (
  SELECT d.doc_id, t.tok
  FROM documents d
  JOIN etoks t ON position(t.tok IN substring(d.text, 1, 510)) > 0
),
evbase AS (
  SELECT tp.doc_id, p.event_type, p.trig, p.fnd, p.cmp,
         fp.tok IS NOT NULL AS has_f, cp.tok IS NOT NULL AS has_c
  FROM pat p
  JOIN epres tp ON tp.tok = p.trig
  LEFT JOIN epres fp ON fp.doc_id = tp.doc_id AND fp.tok = p.fnd
  LEFT JOIN epres cp ON cp.doc_id = tp.doc_id AND cp.tok = p.cmp
),
evkey AS (
  SELECT doc_id, event_type, trig, fnd, cmp, has_f, has_c,
         md5('doc://' || doc_id || chr(29) || event_type || chr(29)
             || trig || chr(29)
             || CASE
                  WHEN has_c AND has_f THEN
                    'company' || chr(30) || cmp || chr(31)
                    || 'founder' || chr(30) || fnd
                  WHEN has_c THEN 'company' || chr(30) || cmp
                  WHEN has_f THEN 'founder' || chr(30) || fnd
                  ELSE '' END) AS event_key
  FROM evbase
)
SELECT 'doc://' || doc_id AS url, event_type, trig AS trigger,
       'founder' AS role, fnd AS argument, event_key
FROM evkey WHERE has_f
UNION ALL
SELECT 'doc://' || doc_id, event_type, trig, 'company', cmp, event_key
FROM evkey WHERE has_c
UNION ALL
SELECT 'doc://' || doc_id, event_type, trig,
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), event_key
FROM evkey WHERE NOT has_f AND NOT has_c
"""
)


_CLASSIFY_SQL = (
    "WITH " + _VOCAB_CTE + r""",
lab AS (
  SELECT 'doc://' || doc_id AS url,
         (""" + _LABELS_SQL + r""")[i % 8 + 1] AS label,
         cast(count(*) AS BIGINT) AS n_mentions
  FROM occ GROUP BY 1, 2
)
SELECT url, label AS pred_label, n_mentions
FROM (SELECT *, row_number() OVER (PARTITION BY url
                                   ORDER BY n_mentions DESC, label) AS rn
      FROM lab)
WHERE rn = 1
"""
)


_SPO_CONVERT_SQL = (
    "WITH " + _VOCAB_CTE + r""",
pred_ids AS (
  SELECT pred, cast(row_number() OVER (ORDER BY pred) - 1 AS BIGINT) AS pred_id
  FROM (SELECT DISTINCT pred FROM rel)
)
SELECT 'doc://' || d.doc_id AS url, r.subj, r.pred, r.obj,
       cast(position(r.subj IN d.text) - 1 AS BIGINT) AS sub_start,
       cast(position(r.subj IN d.text) - 1 + length(r.subj) - 1 AS BIGINT)
         AS sub_end,
       p.pred_id,
       cast(position(r.obj IN d.text) - 1 AS BIGINT) AS obj_start,
       cast(position(r.obj IN d.text) - 1 + length(r.obj) - 1 AS BIGINT)
         AS obj_end
FROM documents d
JOIN rel r ON position(r.subj IN d.text) > 0 AND position(r.obj IN d.text) > 0
JOIN pred_ids p ON p.pred = r.pred
"""
)


# link_embedding / link_embedding_banded: the oracle of
# linking.link_by_embedding. _EMB_COMMON_CTE mirrors its inputs 1:1:
# al = derived aliases, vr = 2nd-char-dropped variants, emb =
# surface_embeddings (3-gram md5 feature hash into EMB_DIMS dims, +/-1
# contributions). _link_embedding_sql densifies emb once (dense =
# dense_embeddings: BIGINT lists, zero-norm surfaces dropped) and scores
# both prefilters through one candidates -> _int_cosine_sql -> re-attach
# -> top-k body.
_EMB_COMMON_CTE = r"""
al AS (SELECT tok AS s, printf('Q%05d', i) AS canonical_id FROM ent),
vr AS (
  SELECT DISTINCT substr(tok, 1, 1) || substr(tok, 3) AS s
  FROM ent WHERE length(tok) >= 3
),
surf AS (SELECT s FROM vr UNION SELECT s FROM al),
grams AS (
  SELECT s,
         CASE WHEN length(s) >= 3 THEN substr(s, cast(i AS INT), 3)
              ELSE s END AS g
  FROM surf,
       unnest(generate_series(1, cast(greatest(length(s) - 2, 1) AS INT)))
         AS t(i)
),
emb AS (
  SELECT s, strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1 AS dim,
         cast(sum(CASE WHEN substr(md5(g), 2, 1) < '8' THEN 1 ELSE -1 END)
           AS BIGINT) AS v
  FROM grams GROUP BY 1, 2
)"""


def _link_embedding_sql(prefilter: str) -> str:
    """Oracle SQL for link_embedding(prefilter), generated from linking's
    constants (EMB_BAND_BITS, EMB_LINK_K) and rule twins
    (_two_band_join_sql, _int_cosine_sql, _top_k_sql): "exact" pairs every
    variant with every alias, "band" pairs those agreeing on a sign band."""
    vec = ",\n         ".join(
        f"cast(coalesce(sum(CASE WHEN dim = {i} THEN emb.v END), 0) AS BIGINT)"
        for i in range(EMB_DIMS))
    cand = (_two_band_join_sql("dq", "da", EMB_BAND_BITS)
            if prefilter == "band" else "dq l CROSS JOIN da r")
    return "WITH " + _VOCAB_CTE + "," + _EMB_COMMON_CTE + f""",
dense AS (
  SELECT s, [{vec}] AS v
  FROM emb GROUP BY s HAVING bool_or(emb.v <> 0)
),
dq AS (SELECT s AS surface, v FROM dense WHERE s IN (SELECT s FROM vr)),
da AS (SELECT s AS alias, v FROM dense WHERE s IN (SELECT s FROM al)),
scored AS (
  SELECT l.surface, r.alias, al.canonical_id,
         {_int_cosine_sql("l.v", "r.v")} AS cos
  FROM {cand}
  JOIN al ON al.s = r.alias
)
SELECT surface, alias, canonical_id, round(cos, 6) AS cos
FROM {_top_k_sql("scored", "surface", "cos", "alias", EMB_LINK_K)}
"""


# image_stats / audio_stats: the BinaryType oracles parse the REAL container
# bytes in SQL — hex(payload) sliced into per-byte values (strpos hex-digit
# arithmetic), then: BMP dims/offset from the little-endian header words,
# PPM dims from the canonical "P6\n{2d} {2d}\n255\n" header the fixture
# writes (the Spark-side parser is general; the oracle leans on the
# fixture's canonical form), WAV sample_rate/data size from the RIFF header
# and int16 LE sample reconstruction. Stats are integer sums divided in
# double — bit-identical to the numpy formulation in multimodal.py.
def _media_src() -> str:
    from fastie_spark.multimodal import ensure_media_parquet

    return ensure_media_parquet()


def _hex_bytes_cte(kind: str) -> str:
    return f"""
m AS (
  SELECT media_id, hex(payload) AS hx, octet_length(payload) AS len
  FROM read_parquet('{_media_src()}') WHERE kind = '{kind}'
),
b AS (
  SELECT media_id, g.i,
         (strpos('0123456789ABCDEF', substr(hx, cast(2*g.i-1 AS INT), 1)) - 1) * 16
         + strpos('0123456789ABCDEF', substr(hx, cast(2*g.i AS INT), 1)) - 1 AS v
  FROM m, unnest(generate_series(1, len)) AS g(i)
)
"""


def _image_stats_sql() -> str:
    return "WITH " + _hex_bytes_cte("image") + r""",
hdr AS (
  SELECT m.media_id, substr(m.hx, 1, 4) = '424D' AS is_bmp,
    cast(sum(CASE WHEN substr(m.hx,1,4)='424D' THEN
          CASE b.i WHEN 19 THEN b.v WHEN 20 THEN b.v*256
                   WHEN 21 THEN b.v*65536 WHEN 22 THEN b.v*16777216 END
        ELSE CASE b.i WHEN 4 THEN (b.v-48)*10 WHEN 5 THEN b.v-48 END END)
      AS INT) AS w,
    cast(sum(CASE WHEN substr(m.hx,1,4)='424D' THEN
          CASE b.i WHEN 23 THEN b.v WHEN 24 THEN b.v*256
                   WHEN 25 THEN b.v*65536 WHEN 26 THEN b.v*16777216 END
        ELSE CASE b.i WHEN 7 THEN (b.v-48)*10 WHEN 8 THEN b.v-48 END END)
      AS INT) AS h,
    cast(sum(CASE WHEN substr(m.hx,1,4)='424D' THEN
          CASE b.i WHEN 11 THEN b.v WHEN 12 THEN b.v*256
                   WHEN 13 THEN b.v*65536 WHEN 14 THEN b.v*16777216 END
        ELSE CASE WHEN b.i = 1 THEN 13 END END) AS BIGINT) AS off
  FROM m JOIN b USING (media_id)
  WHERE b.i <= 26
  GROUP BY 1, 2
),
stats AS (
  SELECT h.media_id, h.w, h.h AS ht,
         cast(sum(b.v) AS BIGINT) AS s,
         cast(sum(b.v * b.v) AS BIGINT) AS sq,
         cast(count(*) AS BIGINT) AS n
  FROM hdr h JOIN b ON b.media_id = h.media_id
       AND b.i BETWEEN h.off + 1 AND h.off + 3 * h.w * h.h
  GROUP BY 1, 2, 3
)
SELECT media_id, w AS width, ht AS height,
       cast(w * ht AS BIGINT) AS n_pixels,
       round(s / cast(n AS DOUBLE), 6) AS mean_brightness,
       round(sqrt(sq / cast(n AS DOUBLE)
                  - (s / cast(n AS DOUBLE)) * (s / cast(n AS DOUBLE))), 6)
         AS std_brightness
FROM stats
"""


def _audio_stats_sql() -> str:
    # n_channels comes from fmt bytes 23-24; per-channel separation uses
    # the interleaved frame-major layout: sample k belongs to channel
    # k % n_channels. All stats stay integer sums divided in double last,
    # mirroring the numpy formulation for mono AND stereo clips.
    return "WITH " + _hex_bytes_cte("audio") + r""",
hdr AS (
  SELECT media_id,
    cast(sum(CASE i WHEN 23 THEN v WHEN 24 THEN v*256 END) AS INT) AS ch,
    cast(sum(CASE i WHEN 25 THEN v WHEN 26 THEN v*256
                    WHEN 27 THEN v*65536 WHEN 28 THEN v*16777216 END)
      AS INT) AS sr,
    cast(sum(CASE i WHEN 41 THEN v WHEN 42 THEN v*256
                    WHEN 43 THEN v*65536 WHEN 44 THEN v*16777216 END)
      AS BIGINT) AS dsize
  FROM b WHERE i BETWEEN 23 AND 44 GROUP BY 1
),
raw AS (
  SELECT b.media_id, (b.i - 45) // 2 AS k, min(hdr.ch) AS ch,
         cast(sum(CASE WHEN (b.i - 45) % 2 = 0 THEN b.v ELSE b.v * 256 END)
           AS BIGINT) AS u
  FROM b JOIN hdr USING (media_id)
  WHERE b.i >= 45 AND b.i < 45 + hdr.dsize - (hdr.dsize % (2 * hdr.ch))
  GROUP BY 1, 2
),
sv AS (
  SELECT media_id, k % ch AS channel,
         CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
  FROM raw
),
astat AS (
  SELECT media_id, cast(count(*) AS BIGINT) AS n,
         cast(sum(s * s) AS BIGINT) AS sq,
         cast(max(abs(s)) AS BIGINT) AS peak_abs
  FROM sv GROUP BY 1
),
chstat AS (
  SELECT media_id, channel, cast(count(*) AS BIGINT) AS cn,
         cast(sum(s * s) AS BIGINT) AS csq
  FROM sv GROUP BY 1, 2
)
SELECT a.media_id, c.channel, h.sr AS sample_rate, h.ch AS n_channels,
       a.n AS n_samples,
       round(sqrt(sq / cast(n AS DOUBLE)) / 32768.0, 6) AS rms,
       a.peak_abs,
       round(sqrt(c.csq / cast(c.cn AS DOUBLE)) / 32768.0, 6) AS rms_channel
FROM astat a JOIN hdr h USING (media_id) JOIN chstat c USING (media_id)
"""


def oracle_sql() -> dict[str, str]:
    o = {name: sql for name, (_, sql) in REGISTRY.items() if sql}
    o["classify_docs"] = _CLASSIFY_SQL
    o["spo_convert"] = _SPO_CONVERT_SQL
    o["extract_mentions"] = _MENTIONS_SQL
    o["extract_triples"] = _TRIPLES_SQL
    o["link_triples"] = _LINKED_SQL
    o["link_triples_shuffle"] = _LINKED_SQL
    o["canonical_components"] = _COMPONENTS_SQL
    o["graph_edges"] = _GRAPH_EDGES_SQL
    o["extract_events"] = _EVENTS_SQL
    o["decoder_coverage"] = _DECODER_COVERAGE_SQL
    o["uie_extract"] = _UIE_SQL
    o["event_prf"] = _EVENT_PRF_SQL
    o["image_stats"] = _image_stats_sql()
    o["audio_stats"] = _audio_stats_sql()
    o["link_embedding"] = _link_embedding_sql("exact")
    o["link_embedding_banded"] = _link_embedding_sql("band")
    return o
