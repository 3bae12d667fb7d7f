"""Training-data pipeline operators over the driver testdata tables, each
paired with its DuckDB oracle SQL (the CORRECTNESS gate contract).

Every entry in REGISTRY is ``name -> (spark_fn, oracle_sql_or_None)`` where
``spark_fn(spark, sf_dir) -> DataFrame`` and the SQL runs on DuckDB views
``documents``/``embeddings``/... over the same parquet. Column names and
value semantics are kept identical on both sides (the driver hash-compares
values after sorting columns by name), so all hashes (md5), regexes, and
float math are chosen to be engine-portable and computed in double.

Scale notes per operator are in the docstrings — these run at sf0.01 for
correctness but are written for the 100 TB shape (aggregations with map-side
partials, broadcast for small sides, no driver collects in the data path).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .derive import TOKEN_RE
from .linking import (_sign_band, _sign_band_sql, _top_k, _top_k_sql,
                      _two_band_join, _two_band_join_sql, dbc2sbc_col,
                      dbc2sbc_sql)
from .tokenizer import MAX_LENGTH

CHUNK = MAX_LENGTH - 2  # the reference chunk width
_PUNCT_RE = r"[\.,;:!\?。，；：！？]"
_ASCII_RE = r"[^\x20-\x7E]"
_SALTS = ["s0", "s1", "s2", "s3"]


_LIVE_CACHES: list = []


def track_cache(df: DataFrame) -> DataFrame:
    """Register a persisted frame for release_caches(); returns it."""
    _LIVE_CACHES.append(df)
    return df


def release_caches() -> None:
    """Unpersist every frame registered with track_cache().

    The one cache-lifetime rule: the function that calls ``persist()``
    either unpersists before it returns (cc.connected_components' ``sym``,
    kg_job's ``_raw``), or it returns a lazy frame over the persist and
    registers the persist here. ``run_extraction_fused(persist=True)`` is
    the one hand-off: it returns ``_raw`` persisted, and the caller owns
    it (kg_job unpersists it; the driver's ``_kg`` registers it).
    Registered today: the near-dup ``per_doc`` and ``sig`` tables,
    ``source_profile``'s ``fine`` table, the ``_curate_base`` projection,
    and ``_kg``'s ``_raw`` and ``linked``. A long-lived driver running many
    queries in one session (bench.py, the parity sweeps) calls this
    between queries so cached relations don't accumulate for the session
    lifetime.

    There is no per-invocation handle: Spark's CacheManager keys entries
    by plan, so two equal persisted plans share one entry, and unpersisting
    either releases both whatever handle the Python side holds. No caller
    that persists runs concurrently (the server path runs with
    ``persist=False``)."""
    while _LIVE_CACHES:
        df = _LIVE_CACHES.pop()
        try:
            df.unpersist()
        except Exception:
            pass


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _scan_parallel(df: DataFrame) -> DataFrame:
    """Adaptive scan-parallelizer for COMPUTE-HEAVY row-wise operators
    (minhash/simhash: hundreds of md5 calls per row). A small input that
    arrives as fewer scan splits than half the cores leaves the md5 work
    single-task (a 3 MB parquet file is one split, and one row group
    cannot be split further), so the guide-§2.5 fix applies: repartition
    immediately after the read. The condition makes it a no-op at scale —
    a 100 TB table always has orders of magnitude more splits than cores,
    so the corpus is never shuffled for this; only the
    tiny-unsplittable-input case pays the (equally tiny) round-robin
    exchange. Measured: minhash_signature at sf0.1 (one 1.4M-md5 scan
    task) 1.27 s -> 0.41 s on local[32]."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v: array<double>) — the embedding table cast once to
    double, so every cosine is computed in double on both engines."""
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


_EMB_SQL = """SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS v
  FROM embeddings"""


def _cosine(a: str, b: str) -> Column:
    """Cosine of two array<double> columns: sequential double sums from
    0.0, so the value is bit-identical to _cosine_sql in DuckDB.
    Degenerate vectors follow DuckDB's rule: each sum is SQL ``sum`` (a
    NULL term — a NULL element, or the tail of the longer vector that
    zip_with pads with NULL — adds nothing; no non-NULL term gives NULL),
    and a zero norm scores NULL through try_divide instead of raising
    DIVIDE_BY_ZERO under ANSI. Both engines rank NULL last under DESC."""
    def total(arr: Column) -> Column:
        return F.aggregate(
            arr, F.lit(None).cast("double"),
            lambda acc, x: F.coalesce(F.coalesce(acc, F.lit(0.0)) + x, acc),
        )
    dot = total(F.zip_with(a, b, lambda x, y: x * y))
    na, nb = (F.sqrt(total(F.transform(c, lambda x: x * x))) for c in (a, b))
    return F.try_divide(dot, na * nb)


def _cosine_sql(a: str, b: str) -> str:
    """DuckDB twin of _cosine over list columns ``a`` and ``b``."""
    na, nb = (f"sqrt(list_sum(list_transform({c}, x -> x * x)))"
              for c in (a, b))
    return (f"list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"
            f" / ({na} * {nb})")


# ---------------------------------------------------------------- P6 chunking
def chunk_stats(spark, sf_dir):
    """Fixed-window chunk accounting (auto_splitter split_sentence=False).
    Pure projection — scans only (doc_id, text) thanks to column pruning."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.greatest(
            F.ceil(F.length("text") / float(CHUNK)).cast("long"), F.lit(1)
        ).alias("n_chunks"),
        (
            F.length("text").cast("long")
            - (
                F.greatest(
                    F.ceil(F.length("text") / float(CHUNK)).cast("long"), F.lit(1)
                )
                - 1
            )
            * CHUNK
        ).alias("last_chunk_len"),
    )


CHUNK_STATS_SQL = f"""
SELECT doc_id,
       greatest(cast(ceil(length(text) / {CHUNK}.0) AS BIGINT), 1) AS n_chunks,
       cast(length(text) AS BIGINT)
         - (greatest(cast(ceil(length(text) / {CHUNK}.0) AS BIGINT), 1) - 1) * {CHUNK}
         AS last_chunk_len
FROM documents
"""


def chunk_explode(spark, sf_dir):
    """The P6 fixed-window chunker as a relation (doc_id, chunk_idx,
    char_base, chunk_len): sequence+substring, no UDF. The fused extraction
    stage chunks in-loop with the same windows (chunking.split_one)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    c = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, greatest(cast(ceil(length(text) / {CHUNK}.0) as int), 1) - 1),"
                f" i -> length(substring(text, i * {CHUNK} + 1, {CHUNK})))"
            )
        ).alias("chunk_idx", "chunk_len"),
    )
    return c.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx") * CHUNK).cast("long").alias("char_base"),
        F.col("chunk_len").cast("long").alias("chunk_len"),
    )


CHUNK_EXPLODE_SQL = f"""
WITH n AS (
  SELECT doc_id, text,
         greatest(cast(ceil(length(text) / {CHUNK}.0) AS BIGINT), 1) AS n_chunks
  FROM documents
)
SELECT doc_id,
       cast(i AS BIGINT) AS chunk_idx,
       cast(i * {CHUNK} AS BIGINT) AS char_base,
       cast(length(substring(text, cast(i * {CHUNK} + 1 AS INT), {CHUNK})) AS BIGINT)
         AS chunk_len
FROM n, unnest(generate_series(0, cast(n_chunks - 1 AS INT))) AS t(i)
"""


# ---------------------------------------------------------------- A5 labels
def lang_universe(spark, sf_dir):
    """Sorted distinct label discovery (fastie label-universe semantics)."""
    return _docs(spark, sf_dir).select("lang").distinct().orderBy("lang")


LANG_UNIVERSE_SQL = "SELECT DISTINCT lang FROM documents ORDER BY lang"


# ---------------------------------------------------------------- A1 metrics
def micro_prf_docs(spark, sf_dir):
    """Micro P/R/F1 join metric over deterministic pred/gold doc sets
    (pred: n_chars%10<6, gold: n_chars%7<4) — the A1 aggregation shape.
    Single pass, map-side combinable."""
    d = _docs(spark, sf_dir).select(
        (F.col("n_chars") % 10 < 6).alias("p"), (F.col("n_chars") % 7 < 4).alias("g")
    )
    agg = d.agg(
        F.sum(F.when(F.col("p") & F.col("g"), 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(F.col("p"), 1).otherwise(0)).cast("long").alias("n_pred"),
        F.sum(F.when(F.col("g"), 1).otherwise(0)).cast("long").alias("n_gold"),
    )
    return agg.select(
        "tp",
        "n_pred",
        "n_gold",
        F.round(F.col("tp") / F.col("n_pred"), 6).alias("precision"),
        F.round(F.col("tp") / F.col("n_gold"), 6).alias("recall"),
        F.round(
            2 * (F.col("tp") / F.col("n_pred")) * (F.col("tp") / F.col("n_gold"))
            / ((F.col("tp") / F.col("n_pred")) + (F.col("tp") / F.col("n_gold"))),
            6,
        ).alias("f1"),
    )


MICRO_PRF_SQL = """
WITH d AS (
  SELECT (n_chars % 10 < 6) AS p, (n_chars % 7 < 4) AS g FROM documents
), a AS (
  SELECT cast(sum(CASE WHEN p AND g THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         cast(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
         cast(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n_gold
  FROM d
)
SELECT tp, n_pred, n_gold,
       round(tp / cast(n_pred AS DOUBLE), 6) AS precision,
       round(tp / cast(n_gold AS DOUBLE), 6) AS recall,
       round(2 * (tp / cast(n_pred AS DOUBLE)) * (tp / cast(n_gold AS DOUBLE))
             / ((tp / cast(n_pred AS DOUBLE)) + (tp / cast(n_gold AS DOUBLE))), 6) AS f1
FROM a
"""


# ---------------------------------------------------------- document rules
# Each document rule the curation queries share has one Spark builder and
# one DuckDB fragment here; every query and oracle below is composed from
# them, so a standalone query (quality_score, corpus_filter, ...) and the
# curation chain cannot admit different documents.
def _text_hash():
    """Exact-dedup key: md5 of the lowered, trimmed text."""
    return F.md5(F.lower(F.trim(F.col("text"))))


_TEXT_HASH_SQL = "md5(lower(trim(text)))"


def _ascii_chars():
    return F.length(F.regexp_replace(F.col("text"), _ASCII_RE, ""))


_ASCII_CHARS_SQL = f"length(regexp_replace(text, '{_ASCII_RE}', '', 'g'))"


def _pred_lang():
    """n-gram-free language heuristic: 'en' above a printable-ASCII char
    ratio, 'unk' for empty text, else 'zh'."""
    n_chars = F.length("text")
    return (
        F.when(n_chars == 0, F.lit("unk"))
        .when(_ascii_chars() / n_chars > 0.65, F.lit("en"))
        .otherwise(F.lit("zh"))
    )


_PRED_LANG_SQL = f"""CASE WHEN length(text) = 0 THEN 'unk'
            WHEN {_ASCII_CHARS_SQL}
                 / cast(length(text) AS DOUBLE) > 0.65 THEN 'en'
            ELSE 'zh' END"""


def _n_punct():
    return F.size(F.regexp_extract_all(F.col("text"), F.lit(_PUNCT_RE), 0))


_N_PUNCT_SQL = f"length(regexp_extract_all(text, '{_PUNCT_RE}'))"


def _quality():
    """Document quality: length saturation × (1 - punctuation density)."""
    n_chars = F.length("text")
    return F.round(
        F.least(n_chars, F.lit(2000)) / 2000.0
        * (1.0 - _n_punct() / F.greatest(n_chars, F.lit(1))),
        6,
    )


_QUALITY_SQL = f"""round(least(length(text), 2000) / 2000.0
             * (1.0 - {_N_PUNCT_SQL}
                      / cast(greatest(length(text), 1) AS DOUBLE)), 6)"""


def _admitted(*gates):
    """Training-corpus admission over (quality, pred_lang) columns: every
    gate AND quality above threshold AND a confident lang-id, as one
    left-nested conjunction."""
    return reduce(operator.and_, (
        *gates, F.col("quality") > 0.05, F.col("pred_lang") != "unk",
    ))


_ADMITTED_SQL = "quality > 0.05 AND pred_lang <> 'unk'"


# per-language sampling rate, indexed by length(lang) % 3: the one
# statement of the stratum rates that both the keep rule and the reported
# rate column are generated from
_STRAT_RATES = (0.25, 0.5, 0.75)


def _by_stratum(values):
    """CASE on length(lang) % 3 picking values[k] (the last one as ELSE)."""
    key = F.length("lang") % 3
    col = F.when(key == 0, values[0])
    for k, v in enumerate(values[1:-1], 1):
        col = col.when(key == k, v)
    return col.otherwise(values[-1])


def _by_stratum_sql(values):
    arms = " ".join(f"WHEN length(lang) % 3 = {k} THEN {v}"
                    for k, v in enumerate(values[:-1]))
    return f"CASE {arms} ELSE {values[-1]} END"


# the keep threshold on md5's first byte: rate * 256 as two hex digits
_STRAT_HEX = [f"{int(r * 256):02x}" for r in _STRAT_RATES]


def _in_strat_sample():
    """Per-language stratified sampler over (doc_id, lang): keep when the
    first byte of md5(doc_id|lang|'strat') is under the stratum's
    threshold, so membership is content-stable under any partitioning and
    engine (rand(seed) is not). The rate is a closed-form rule on the
    stratum key, ``_STRAT_RATES``."""
    h = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|"),
                       F.col("lang"), F.lit("|strat"))), 1, 2
    )
    return h < _by_stratum(_STRAT_HEX)


_IN_STRAT_SAMPLE_SQL = f"""substring(md5(cast(doc_id AS VARCHAR) || '|' || lang
                            || '|strat'), 1, 2)
      < {_by_stratum_sql([f"'{x}'" for x in _STRAT_HEX])}"""


def _top_lang(per_lang):
    """Per-source dominant language over (source, lang, ln) counts: the
    rank-1 row with its count and the source's language count.

    asc_nulls_last: DuckDB's ORDER BY lang is NULLS LAST, Spark's asc is
    NULLS FIRST — a NULL lang tied on count would pick different rows.
    n_langs rides the SAME window partition as the rank (an unordered
    count over partitionBy(source)) — one shuffle and no separate
    groupBy + join."""
    w = Window.partitionBy("source").orderBy(
        F.desc("ln"), F.asc_nulls_last("lang")
    )
    wc = Window.partitionBy("source")
    return (
        per_lang.withColumn("rnk", F.row_number().over(w))
        .withColumn("n_langs", F.count("*").over(wc).cast("long"))
        .filter(F.col("rnk") == 1)
        .select("source", F.col("lang").alias("top_lang"),
                F.col("ln").alias("top_n"), "n_langs")
    )


# CTE over a per_lang(source, lang, ln) CTE; QUALIFY runs after the
# windows, so n_langs counts every per_lang row of the source
_TOP_LANG_SQL = """top AS (
  SELECT source, lang AS top_lang, ln AS top_n,
         cast(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_langs
  FROM per_lang
  QUALIFY row_number() OVER (PARTITION BY source
                             ORDER BY ln DESC, lang) = 1
)"""


# ---------------------------------------------------------------- dedup: exact
def dedup_exact(spark, sf_dir):
    """Exact dedup by normalized-text hash: one shuffle keyed on the hash,
    partial aggregation map-side. keep_doc_id = min (deterministic winner)."""
    return (
        _docs(spark, sf_dir)
        .select("doc_id", _text_hash().alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


DEDUP_EXACT_SQL = f"""
SELECT {_TEXT_HASH_SQL} AS text_hash,
       cast(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------- text analysis
def token_stats(spark, sf_dir):
    """Token counting: unicode word-ish runs (BPE-ish regex). JVM-side
    regexp, whole-stage codegen, no UDF."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), 0))
        .cast("long")
        .alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_obs"),
    )


TOKEN_STATS_SQL = rf"""
SELECT doc_id,
       cast(length(regexp_extract_all(text, '{TOKEN_RE}')) AS BIGINT) AS n_tokens,
       cast(length(text) AS BIGINT) AS n_chars_obs
FROM documents
"""


def lang_id(spark, sf_dir):
    """n-gram-free language heuristic: printable-ASCII char ratio."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        _ascii_chars().cast("long").alias("ascii_chars"),
        _pred_lang().alias("pred_lang"),
    )


LANG_ID_SQL = f"""
SELECT doc_id,
       cast({_ASCII_CHARS_SQL} AS BIGINT) AS ascii_chars,
       {_PRED_LANG_SQL} AS pred_lang
FROM documents
"""


def quality_score(spark, sf_dir):
    """Document quality: length saturation × (1 - punctuation density)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        _n_punct().cast("long").alias("n_punct"),
        _quality().alias("quality"),
    )


QUALITY_SCORE_SQL = f"""
SELECT doc_id,
       cast({_N_PUNCT_SQL} AS BIGINT) AS n_punct,
       {_QUALITY_SQL} AS quality
FROM documents
"""


def doc_fingerprint(spark, sf_dir):
    """Whitespace-insensitive content fingerprint (md5 — portable)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", ""))).alias("fp"),
    )


DOC_FINGERPRINT_SQL = r"""
SELECT doc_id, md5(lower(regexp_replace(text, '\s+', '', 'g'))) AS fp
FROM documents
"""


# ---------------------------------------------------------------- dedup: minhash
def _shingle_col():
    """DISTINCT 8-char stride-4 shingle array over a ``norm`` (lowered
    text) column. array_distinct is exactness-preserving for every
    consumer (the signature takes a MIN per salt, and min over the
    distinct set == min over the multiset) while cutting the dominant
    md5 cost by the intra-doc duplication factor (measured 1.44x on the
    templated bench corpus) — and materializing the shingles ONCE here
    means the 4 salted families share one substring-extraction pass
    instead of re-slicing the text per salt."""
    return F.array_distinct(
        F.expr(
            "transform(sequence(1, greatest(length(norm) - 7, 1), 4),"
            " p -> substring(norm, p, 8))"
        )
    )


# DuckDB twin of _shingle_col: one (doc_id, shingle) row per shingle
# occurrence over lower(text); consumers reduce it with min() or DISTINCT
_SHINGLES_SQL = """SELECT doc_id, substring(norm, cast(p AS INT), 8) AS shingle
  FROM (SELECT doc_id, lower(text) AS norm FROM documents) d,
       unnest(generate_series(1, cast(greatest(length(norm) - 7, 1) AS INT), 4)) AS t(p)"""


def _minhash_cols() -> list:
    """The 4 salted MinHash signature columns as PURE PROJECTIONS over a
    ``shingles`` array column (_shingle_col): per-doc min over the shingle
    set is a row-local reduction, so ``array_min(transform(...))`` computes
    it with NO explode and NO shuffle — the signature stage is
    whole-stage-codegen and every consumer (banding self-join,
    curate_corpus) starts from an unshuffled corpus scan. md5-string
    minima are engine-portable (no 64-bit hash parity issues).
    CollapseProject will not inline the shared shingles array into the 4
    consumers (non-cheap expression used >1x, SPARK-36718), so the
    extraction genuinely runs once per row."""
    return [
        F.array_min(
            F.expr(f"transform(shingles, s -> md5(concat(s, '{s_}')))")
        ).alias(f"mh{i}")
        for i, s_ in enumerate(_SALTS)
    ]


def minhash_signature(spark, sf_dir):
    """MinHash over 8-char shingles (stride 4), 4 salted hash families —
    shuffle-FREE: the per-doc minima are row-local array reductions
    (_minhash_cols over one shared _shingle_col pass), so the plan is a
    projection chain over the scan (plan-gated: no keyed Exchange /
    Generate / Aggregate; the only exchange ever present is
    _scan_parallel's round-robin split of a tiny under-split input). The
    explode->partial-min->groupBy shape this replaces paid one full
    corpus shuffle for the same values."""
    return (
        _scan_parallel(_docs(spark, sf_dir).select("doc_id", "text"))
        .select("doc_id", F.lower(F.col("text")).alias("norm"))
        .filter(F.col("norm").isNotNull())
        .select("doc_id", _shingle_col().alias("shingles"))
        .select("doc_id", *_minhash_cols())
    )


MINHASH_SIGNATURE_SQL = f"""
WITH s AS ({_SHINGLES_SQL})
SELECT doc_id,
       {", ".join(f"min(md5(shingle || '{s_}')) AS mh{i}"
                  for i, s_ in enumerate(_SALTS))}
FROM s GROUP BY doc_id
"""


def _bands(sig):
    """(doc_id, band) rows over a minhash signature: each doc explodes into
    its two band keys, (mh0, mh1) and (mh2, mh3), tagged with the band
    index so values of the two bands never collide."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.concat_ws("|", F.lit("0"), "mh0", "mh1"),
                F.concat_ws("|", F.lit("1"), "mh2", "mh3"),
            )
        ).alias("band"),
    )


def near_dup_pairs(spark, sf_dir):
    """LSH banding: candidate pairs sharing band (mh0, mh1) OR band
    (mh2, mh3) — the standard b=2, r=2 banding over the 4 minhash families
    (a pair with Jaccard j collides with prob 1-(1-j^2)^2 instead of the
    single-band j^2). Implemented as ONE self-join: each doc explodes into
    its two (band_idx, band_key) rows and the join key is the pair, so both
    bands ride a single shuffle; at scale this is the classic band-bucket
    join and skewed buckets (boilerplate docs) are AQE-skew-handled."""
    # repartition by band BEFORE the self-join: the signature stage is now
    # a pure projection (no Exchange), so without this both join branches
    # would recompute the md5 minhash work per side; the explicit band
    # shuffle of the SLIM (doc_id, band) table becomes a ReusedExchange
    # feeding both sides - one signature pass + one slim shuffle, the
    # cheapest possible shape (plan-gated in tests/test_plans.py)
    sig = _bands(minhash_signature(spark, sf_dir)).repartition("band")
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


NEAR_DUP_PAIRS_SQL = f"""
WITH sig AS ({MINHASH_SIGNATURE_SQL}),
b AS (
  SELECT doc_id, '0|' || mh0 || '|' || mh1 AS band FROM sig
  UNION ALL
  SELECT doc_id, '1|' || mh2 || '|' || mh3 AS band FROM sig
)
SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
FROM b a JOIN b b2 ON a.band = b2.band AND a.doc_id < b2.doc_id
"""


def _band_components(sig):
    """(doc_id, component) for the LSH near-dup graph, via REP-GRAPH
    contraction. Every member of a band bucket is a mutual near-dup
    candidate, but connected components only need the bucket to be
    CONNECTED, so each bucket is represented by its min doc_id (its rep;
    the bucket-min is a map-side-combinable groupBy, not a window, so a
    giant boilerplate bucket partial-aggregates in every input partition).
    Every doc touches at most 2 bucket reps (one per band), and two
    docs are connected iff their reps are connected, so the connected
    components only need to run on the graph whose NODES are bucket reps
    and whose edges are the distinct (min-rep, max-rep) pairs of docs
    whose two bands landed in different buckets. That graph is orders of
    magnitude smaller than the member edge set (measured at 600k
    templated pages: 1.03M member edges -> a few thousand rep edges), so
    CC cost stops scaling with corpus size entirely; every stage before
    it is a map-side-combinable aggregate or a one-sided-skew equi-join.

    Component ids still equal the MIN doc_id of the full component: a
    component's minimum doc is its own bucket's rep, so min over member
    docs == min over reps, which is exactly what cc.py emits.

    Returns one row per doc that shares a bucket with any other doc
    (singleton-bucket docs are omitted — callers coalesce to doc_id)."""
    from .cc import connected_components

    # NULL-signature docs (NULL text) must NOT band: concat_ws skips NULL
    # columns, so they would all collapse into shared bands "0"/"1" and be
    # clustered as near-dups, while the oracle's unnest over an empty
    # shingle set gives them no bands at all (singleton clusters)
    bands = _bands(sig.filter(F.col("mh0").isNotNull()))
    reps = bands.groupBy("band").agg(
        F.min("doc_id").alias("rep"), F.count("*").alias("bn")
    )
    # keep only buckets that connect something (bn > 1) — singleton
    # buckets add no edges and would bloat the per-doc aggregate
    mem = (
        bands.join(reps.filter(F.col("bn") > 1).select("band", "rep"),
                   "band")
        .select("doc_id", "rep")
    )
    from pyspark import StorageLevel

    # per_doc is consumed twice — connected_components' bounded edge fetch
    # (one toPandas that is also its size probe) and the final component
    # join — and each consumer would otherwise replay the bands->reps->
    # join->groupBy chain (two 2x-corpus-row shuffles; measured as the
    # dominant curate cost once the signature was cheap). It is two longs
    # per banded doc, so a DISK_ONLY persist makes every reuse a ~30 ms
    # cache scan.
    per_doc = track_cache(
        mem.groupBy("doc_id").agg(
            F.min("rep").alias("r1"), F.max("rep").alias("r2")
        ).persist(StorageLevel.DISK_ONLY)
    )
    rep_edges = (
        per_doc.filter(F.col("r1") != F.col("r2"))
        .select(F.col("r1").alias("src"), F.col("r2").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )
    # rep edges are two LONGS per row (vs the string ids the default
    # threshold is sized for), so the driver-union-find fast path stays
    # comfortably broadcast-scale far beyond the default: 2M pairs ~ tens
    # of MB via Arrow. Measured at 600k templated docs: 300k rep edges,
    # where the distributed label-prop loop cost 7.7 s and the driver
    # path 2.2 s. Beyond the threshold the distributed loop still runs.
    comp_rep = connected_components(rep_edges, broadcast_threshold=2_000_000)
    return (
        per_doc.join(
            # no broadcast hint: the comp table is tiny on templated
            # corpora but can approach bucket-cardinality on diverse ones;
            # AQE picks broadcast when it actually is small
            comp_rep.select(F.col("node").alias("r1"), "component"),
            "r1", "left",
        )
        .select(
            "doc_id",
            F.coalesce("component", F.col("r1")).alias("component"),
        )
    )


def near_dup_clusters(spark, sf_dir):
    """Cluster-level near-dup dedup — the keep-one-per-cluster step a real
    corpus pipeline runs AFTER candidate generation: LSH band buckets ->
    bucket-rep graph (_band_components — same components as the all-pairs
    candidate graph at linear instead of quadratic edge count) ->
    connected components (cc.py: driver union-find when tiny, distributed
    label-prop + pointer jumping at scale) -> every doc labeled with its
    cluster id (= min doc_id in the component; singletons are their own
    cluster) and an is_canonical flag (training keeps exactly the
    canonical rows).

    Scale shape: the edge graph is linear in the band table and orders of
    magnitude smaller than the corpus, so the CC loop runs on the small
    table; the corpus is touched by one final left join keyed doc_id. No
    cross products anywhere. The DuckDB oracle still clusters over the
    PAIRWISE candidate graph (near_dup_pairs) — the rep graph and the
    complete bucket graphs have identical components, which this parity
    proves per run."""
    from pyspark import StorageLevel

    # persist the SLIM signature table once: the component stage consumes
    # it through two different subtrees (bucket aggregate + member probe),
    # so without the cache Catalyst would run the full md5-minhash corpus
    # pass per branch (measured 3x wall at sf0.1); DISK_ONLY of 4x32-char
    # hashes per doc is a few % of corpus bytes
    sig = track_cache(
        minhash_signature(spark, sf_dir).persist(StorageLevel.DISK_ONLY)
    )
    comp = _band_components(sig)
    d = _docs(spark, sf_dir).select("doc_id")
    return (
        d.join(
            comp.select("doc_id", F.col("component").alias("cluster_id")),
            "doc_id", "left",
        )
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).cast("long")
            .alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


# near-dup components over the pairwise candidate graph, as the CTE list
# of a WITH RECURSIVE: comp(node, component), component = min doc_id
_NEAR_DUP_COMP_SQL = f"""pairs AS ({NEAR_DUP_PAIRS_SQL}),
ed AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM ed
  UNION
  SELECT r.u, e.v FROM reach r JOIN ed e ON e.u = r.v WHERE e.v <> r.u
),
comp AS (
  SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u
)"""

NEAR_DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_NEAR_DUP_COMP_SQL}
SELECT d.doc_id,
       cast(coalesce(c.component, d.doc_id) AS BIGINT) AS cluster_id,
       d.doc_id = coalesce(c.component, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""


# ---------------------------------------------------------------- similarity
# knn_cosine / knn_ivf defaults: the first KNN_QUERIES vectors query their
# KNN_K nearest neighbours
KNN_QUERIES = 5
KNN_K = 3


def _knn_top(scored: DataFrame, k: int) -> DataFrame:
    """(q_vec_id, vec_id, cos) -> the k nearest (q_vec_id, nn_vec_id, rnk)."""
    return _top_k(scored, "q_vec_id", "cos", "vec_id", k).select(
        "q_vec_id", F.col("vec_id").alias("nn_vec_id"), "rnk"
    )


def _knn_top_sql(k: int) -> str:
    """DuckDB twin of _knn_top over a ``scored`` CTE."""
    return (f"SELECT q_vec_id, vec_id AS nn_vec_id, rnk\n"
            f"FROM {_top_k_sql('scored', 'q_vec_id', 'cos', 'vec_id', k)}")


def knn_cosine(spark, sf_dir, n_queries: int = KNN_QUERIES, k: int = KNN_K):
    """Brute-force cosine top-k: broadcast the tiny query side against the
    full embedding table; rank by _cosine (computed in double, sequential
    sum — bit-identical to the DuckDB formulation). IDs+rank output only,
    so float rounding can't flip the value hash."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_vec_id"), F.col("v").alias("qv")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_vec_id"))
        .select("q_vec_id", "vec_id", _cosine("qv", "v").alias("cos"))
    )
    return _knn_top(scored, k)


KNN_COSINE_SQL = f"""
WITH e AS ({_EMB_SQL}),
q AS (SELECT vec_id AS q_vec_id, v AS qv FROM e WHERE vec_id < {KNN_QUERIES}),
scored AS (
  SELECT q.q_vec_id, e.vec_id, {_cosine_sql("q.qv", "e.v")} AS cos
  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_vec_id
)
{_knn_top_sql(KNN_K)}
"""


# ------------------------------------------------------------ S3/S4: splits
def train_val_split(spark, sf_dir):
    """Deterministic hash split (the portable re-expression of
    train_test_split(pct, seed): md5 prefix < 'cd' ~ 80%). Content-stable
    across engines and partitionings, unlike rand(seed)."""
    h = F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|split"))), 1, 2)
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.when(h < "cd", "train").otherwise("val").alias("split"),
    )


TRAIN_VAL_SPLIT_SQL = """
SELECT doc_id,
       CASE WHEN substring(md5(cast(doc_id AS VARCHAR) || '|split'), 1, 2) < 'cd'
            THEN 'train' ELSE 'val' END AS split
FROM documents
"""


def stratified_sample(spark, sf_dir):
    """Deterministic per-stratum sampling (the partitioning-invariant
    analogue of df.sampleBy(col, fractions, seed)): each language stratum
    keeps a hash-determined fraction of its docs — the training-data
    curation move of capping head languages while keeping tail languages
    whole. The keep-decision is the content-stable _in_strat_sample hash
    rule; rate reports the stratum's fraction. Pure one-scan projection +
    filter; scales trivially."""
    return (
        _docs(spark, sf_dir)
        .filter(_in_strat_sample())
        .select("doc_id", "lang", _by_stratum(_STRAT_RATES).alias("rate"))
    )


STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang, cast({_by_stratum_sql(_STRAT_RATES)} AS DOUBLE) AS rate
FROM documents
WHERE {_IN_STRAT_SAMPLE_SQL}
"""


def seeded_shuffle(spark, sf_dir):
    """Deterministic shuffle order (dataset.shuffle(seed) analogue): rank by
    keyed md5 — reproducible across engines/partitionings.

    Distributed rank (no global single-partition sort): the first 4 hex
    chars of the key split rows into <=65536 lexicographically ORDERED
    buckets, so global rank = (#rows in earlier buckets) + rank within
    bucket. The row-level window is partitioned by bucket (parallel tasks);
    the bucket-offset cumulative sum runs over the dictionary-sized count
    table only and is broadcast back. At 10^12 rows each bucket holds
    ~n/65536 rows — one comfortably sortable task."""
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|42")))
    d = _docs(spark, sf_dir).select("doc_id", key.alias("k")).withColumn(
        "b", F.substring("k", 1, 4)
    )
    counts = d.groupBy("b").agg(F.count("*").alias("c"))
    cum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "b", F.coalesce(F.sum("c").over(cum), F.lit(0)).alias("off")
    )
    w = Window.partitionBy("b").orderBy("k", "doc_id")
    return (
        d.join(F.broadcast(offs), "b")
        .select(
            "doc_id",
            (F.row_number().over(w) + F.col("off")).cast("long").alias(
                "shuffle_rank"
            ),
        )
    )


SEEDED_SHUFFLE_SQL = """
SELECT doc_id,
       cast(row_number() OVER (
         ORDER BY md5(cast(doc_id AS VARCHAR) || '|42'), doc_id) AS BIGINT)
         AS shuffle_rank
FROM documents
"""


# ------------------------------------------------------------ P4: dbc2sbc
def dbc2sbc_norm(spark, sf_dir):
    """Full-width -> half-width normalization as a codegen translate (the
    P4 dbc2sbc semantics over the 0x21-0x7e block; the reference's
    ideographic-space quirk keeps U+3000 unmapped — see decoders.dbc2sbc)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.substring(dbc2sbc_col(F.col("text")), 1, 80).alias("norm80"),
    )


DBC2SBC_SQL = f"""
SELECT doc_id, substring({dbc2sbc_sql("text")}, 1, 80) AS norm80
FROM documents
"""


# ------------------------------------------------------------ A4: accuracy
def lang_id_accuracy(spark, sf_dir):
    """Classification metric (A4): accuracy of the lang-id heuristic
    against the documents.lang gold column."""
    d = lang_id(spark, sf_dir).join(
        _docs(spark, sf_dir).select("doc_id", "lang"), "doc_id"
    )
    return d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("pred_lang") == F.col("lang"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
        F.round(
            F.sum(F.when(F.col("pred_lang") == F.col("lang"), 1).otherwise(0))
            / F.count("*"),
            6,
        ).alias("accuracy"),
    )


LANG_ID_ACC_SQL = rf"""
WITH p AS ({LANG_ID_SQL})
SELECT cast(count(*) AS BIGINT) AS n,
       cast(sum(CASE WHEN p.pred_lang = d.lang THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(sum(CASE WHEN p.pred_lang = d.lang THEN 1 ELSE 0 END)
             / cast(count(*) AS DOUBLE), 6) AS accuracy
FROM p JOIN documents d USING (doc_id)
"""


# ------------------------------------------------------------ simhash dedup
def simhash16(spark, sf_dir):
    """16-bit SimHash over word tokens via md5-derived bit votes — portable
    (no 64-bit hash parity issues). Shape at scale: token explode ->
    per-(doc,bit) vote sum -> per-doc bit pack; all map-side combinable."""
    toks = _scan_parallel(_docs(spark, sf_dir).select("doc_id", "text")).select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), 0)).alias("tok"),
    )
    bits = toks.select(
        "doc_id", F.md5("tok").alias("h"),
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("b"),
    ).select(
        "doc_id", "b",
        F.when(
            F.substring(F.col("h"), F.col("b") + 1, 1).isin(
                *"89abcdef"
            ),
            1,
        ).otherwise(-1).alias("v"),
    )
    votes = bits.groupBy("doc_id", "b").agg(F.sum("v").alias("s"))
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.pow(F.lit(2.0), F.col("b"))).otherwise(0.0)
        )
        .cast("long")
        .alias("simhash")
    )


SIMHASH_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '{TOKEN_RE}')) AS tok
  FROM documents
),
bits AS (
  SELECT doc_id, b,
         CASE WHEN substring(md5(tok), cast(b + 1 AS INT), 1)
                   IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END AS v
  FROM toks, unnest(generate_series(0, 15)) AS t(b)
),
votes AS (SELECT doc_id, b, sum(v) AS s FROM bits GROUP BY 1, 2)
SELECT doc_id,
       cast(sum(CASE WHEN s > 0 THEN power(2.0, b) ELSE 0 END) AS BIGINT)
         AS simhash
FROM votes GROUP BY doc_id
"""


EMB_NEAR_DUP_BITS = 6
EMB_NEAR_DUP_MIN_COS = 0.95


def emb_near_dup(spark, sf_dir, threshold: float = EMB_NEAR_DUP_MIN_COS,
                 exhaustive: bool = False):
    """Embedding-cosine near-duplicate pairs, candidates->verify (the
    100 TB shape): the candidates are linking._two_band_join's pairs,
    vectors sharing a _sign_band over the first EMB_NEAR_DUP_BITS dims OR
    the next EMB_NEAR_DUP_BITS (two redundant bands — near-identical
    vectors agree on almost every coordinate sign, so OR-ing bands keeps
    recall high); _cosine runs on band-colliding pairs only and keeps
    those above ``threshold``. One band-bucketed self-join, no crossJoin;
    skewed buckets are AQE-handled like near_dup_pairs.

    Recall contract: approximate. A true near-duplicate pair whose vectors
    straddle zero in BOTH band windows is not generated (standard LSH
    trade-off; add bands/bits to tighten). Callers needing EXACT semantics
    opt in with exhaustive=True: the candidate stage becomes the full
    vec_a < vec_b pair set (a deliberate O(n^2) cross join — correct, and
    only viable on small/pre-filtered inputs; the default banded path is the
    100 TB shape and is the one plan-gated against cartesian products)."""
    e = _emb(spark, sf_dir)
    a = e.withColumnRenamed("vec_id", "vec_a")
    b = e.withColumnRenamed("vec_id", "vec_b")
    if exhaustive:
        cand = a.withColumnRenamed("v", "va").crossJoin(
            b.withColumnRenamed("v", "vb"))
    else:
        cand = _two_band_join(a, b, EMB_NEAR_DUP_BITS, ("va", "vb"))
    return (
        cand.filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", _cosine("va", "vb").alias("cos"))
        .filter(F.col("cos") > threshold)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cos"))
    )


def emb_near_dup_sql(threshold: float = EMB_NEAR_DUP_MIN_COS) -> str:
    """Oracle SQL for the banded emb_near_dup at ``threshold``, generated
    from the same band width and rules (_two_band_join_sql, _cosine_sql)."""
    return f"""
WITH e AS ({_EMB_SQL}),
cand AS (
  SELECT l.vec_id AS vec_a, r.vec_id AS vec_b, l.v AS va, r.v AS vb
  FROM {_two_band_join_sql("e", "e", EMB_NEAR_DUP_BITS)}
  WHERE l.vec_id < r.vec_id
),
scored AS (SELECT vec_a, vec_b, {_cosine_sql("va", "vb")} AS cos FROM cand)
SELECT vec_a, vec_b, round(cos, 6) AS cos FROM scored WHERE cos > {threshold}
"""


EMB_NEAR_DUP_SQL = emb_near_dup_sql()


# ------------------------------------------------- ngram-jaccard verify stage
NGRAM_MIN_JACCARD = 0.3


def ngram_jaccard_pairs(spark, sf_dir):
    """Candidate pairs from the MinHash bands (near_dup_pairs), verified by
    exact Jaccard over distinct 8-gram (stride-4) shingles (_shingle_col);
    pairs whose unrounded Jaccard is >= NGRAM_MIN_JACCARD are kept (as in
    NGRAM_JACCARD_SQL; only the output is rounded to 6 places). The two-stage
    candidates->verify shape is the 100 TB pattern: the exact-intersection
    join runs only on band-colliding pairs, never all-pairs."""
    cand = near_dup_pairs(spark, sf_dir)
    # semi-join-filter the shingle table to candidate docs BEFORE the verify
    # join: at 100 TB the candidate set is a tiny fraction of the corpus, so
    # the exact-intersection join never shuffles the full shingle table
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        _scan_parallel(_docs(spark, sf_dir).select("doc_id", "text"))
        .select("doc_id", F.lower(F.col("text")).alias("norm"))
        .join(cand_docs, "doc_id", "left_semi")
        .select("doc_id", F.explode(_shingle_col()).alias("shingle"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(a, "doc_a").join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jaccard = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(na, "doc_a").join(nb, "doc_b")
        .filter(jaccard >= NGRAM_MIN_JACCARD)
        .select("doc_a", "doc_b", F.round(jaccard, 6).alias("jaccard"))
    )


NGRAM_JACCARD_SQL = f"""
WITH cand AS ({NEAR_DUP_PAIRS_SQL}),
sh AS (SELECT DISTINCT * FROM ({_SHINGLES_SQL})),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(i.inter / cast(sa.n + sb.n - i.inter AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.inter / cast(sa.n + sb.n - i.inter AS DOUBLE) >= {NGRAM_MIN_JACCARD}
"""


# ------------------------------------------------- IVF/LSH-bucketed ANN
IVF_BITS = 6


def _mask_bits(mask: int) -> list[int]:
    """Ascending bit positions set in mask — the oracle SQL's probe-score
    summation order. knn_ivf sums |qv[p]| in the same ascending order from
    0.0, so the margin sums are bit-identical IEEE doubles."""
    return [p for p in range(IVF_BITS) if mask >> p & 1]


def knn_ivf(spark, sf_dir, n_queries: int = KNN_QUERIES, k: int = KNN_K,
            n_probes: int = 32):
    """Scale-path ANN: sign-bit bucketing (axis-aligned LSH, _sign_band)
    over the first IVF_BITS dims -> _cosine only within the probed buckets.

    MARGIN-ORDERED MULTI-PROBE (the query-adaptive schedule of Lv et al.,
    "Multi-Probe LSH", VLDB'07): a near neighbor most likely lands in a
    bucket that differs from the query's in the bits whose coordinates sit
    CLOSEST to the hyperplane, so each query ranks all 2^IVF_BITS flip masks
    by margin score = sum of |qv[bit]| over flipped bits (own bucket scores
    0 and is always probed first) and probes its n_probes best. The mask
    ranking happens entirely on the broadcast (tiny) query side; the big
    table is still scanned once, unbucketed rows untouched.

    Recall contract (measured at sf0.1, recall@5 vs brute-force
    knn_cosine, pytest-gated >= 0.7 and monotone in n_probes): the sf
    embeddings are ISOTROPIC random vectors — the worst case for any LSH,
    since the bucketing bits carry almost no information about true
    neighbors and recall is driven by scan fraction (measured: 1 probe
    0.02, 7 probes 0.34, 22 probes 0.62, 32 probes 0.82; the blind
    Hamming-2 ball measured 0.64 at its 22-probe budget, i.e. adaptive
    ordering ties blind probing when the data has no structure and wins
    when it does). The default budget of 32/64 buckets (~half the corpus)
    is what >= 0.8 recall costs on structureless vectors; on real
    clustered embeddings the same schedule reaches it with far fewer
    probes — n_probes is the explicit quality/cost knob."""
    eb = _emb(spark, sf_dir).withColumn("bucket", _sign_band(0, IVF_BITS))
    q = eb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_vec_id"), F.col("v").alias("qv"),
        F.col("bucket").alias("qb"),
    )

    # one row per flip mask m in 0 .. 2^IVF_BITS - 1: its margin score (see
    # _mask_bits) and pb = qb with the bits of m flipped. One higher-order
    # expression, not 2^IVF_BITS struct columns: those outgrew Janino's
    # 64 KB method limit and fell back to interpreted evaluation
    bit = "shiftright(m, p) & 1 = 1"
    probes = q.select(
        "q_vec_id", "qv",
        F.explode(F.expr(
            f"transform(sequence(0, {(1 << IVF_BITS) - 1}), m -> named_struct("
            f"'score', aggregate(sequence(0, {IVF_BITS - 1}), 0D, (acc, p) -> "
            f"acc + IF({bit}, abs(qv[p]), 0D)), "
            f"'pb', concat_ws('', transform(sequence(0, {IVF_BITS - 1}), p -> "
            f"IF({bit}, IF(substring(qb, p + 1, 1) = '1', '0', '1'), "
            f"substring(qb, p + 1, 1))))))"
        )).alias("pr"),
    ).select("q_vec_id", "qv", F.col("pr.score").alias("score"),
             F.col("pr.pb").alias("pb"))
    pw = Window.partitionBy("q_vec_id").orderBy("score", "pb")
    qp = (
        probes.withColumn("prnk", F.row_number().over(pw))
        .filter(F.col("prnk") <= n_probes)
        .select("q_vec_id", "qv", "pb")
    )
    scored = (
        eb.join(F.broadcast(qp), eb["bucket"] == qp["pb"])
        .filter(F.col("vec_id") != F.col("q_vec_id"))
        .select("q_vec_id", "vec_id", _cosine("qv", "v").alias("cos"))
    )
    return _knn_top(scored, k)


def knn_ivf_sql(n_queries: int = KNN_QUERIES, k: int = KNN_K,
                n_probes: int = 32) -> str:
    """Oracle SQL GENERATED from the same parameters, constants (and the
    same _mask_bits margin-summation order) as knn_ivf — changing a default
    changes both sides, so they cannot silently diverge. The two unnest()
    lists in the probes CTE are zipped positionally by DuckDB, mirroring
    the Spark struct array."""

    def flipped(mask: int) -> str:
        if mask == 0:
            return "qb"
        parts = []
        for p in range(IVF_BITS):
            c = f"substr(qb, {p + 1}, 1)"
            if mask >> p & 1:
                c = f"(CASE WHEN {c} = '1' THEN '0' ELSE '1' END)"
            parts.append(c)
        return " || ".join(parts)

    def margin(mask: int) -> str:
        bits = _mask_bits(mask)
        if not bits:
            return "cast(0 AS DOUBLE)"
        return " + ".join(f"abs(qv[{p + 1}])" for p in bits)

    pb_list = ",\n           ".join(flipped(m) for m in range(1 << IVF_BITS))
    score_list = ",\n           ".join(margin(m) for m in range(1 << IVF_BITS))
    return f"""
WITH e AS ({_EMB_SQL}),
eb AS (
  SELECT vec_id, v, {_sign_band_sql(0, IVF_BITS)} AS bucket
  FROM e
),
q AS (SELECT vec_id AS q_vec_id, v AS qv, bucket AS qb FROM eb
      WHERE vec_id < {n_queries}),
all_probes AS (
  SELECT q_vec_id, qv,
         unnest([{pb_list}]) AS pb,
         unnest([{score_list}]) AS score
  FROM q
),
probes AS (
  SELECT q_vec_id, qv, pb
  FROM (SELECT *, row_number() OVER (PARTITION BY q_vec_id
                                     ORDER BY score, pb) AS prnk
        FROM all_probes)
  WHERE prnk <= {n_probes}
),
scored AS (
  SELECT p.q_vec_id, eb.vec_id, {_cosine_sql("p.qv", "eb.v")} AS cos
  FROM eb JOIN probes p ON eb.bucket = p.pb
  WHERE eb.vec_id <> p.q_vec_id
)
{_knn_top_sql(k)}
"""


KNN_IVF_SQL = knn_ivf_sql()


# ------------------------------------------------- composite corpus filter
def corpus_filter(spark, sf_dir):
    """The end-user composition: training-ready corpus = exact-dedup winner
    AND quality above threshold AND confident lang-id. quality/lang-id are
    per-row projections computed in ONE scan; the dedup-winner semi-join is
    the only aggregation/shuffle."""
    per_row = _docs(spark, sf_dir).select(
        "doc_id", "lang",
        F.length("text").cast("long").alias("n_chars_obs"),
        _quality().alias("quality"),
        _pred_lang().alias("pred_lang"),
    )
    keep = dedup_exact(spark, sf_dir).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    return (
        per_row.join(keep, "doc_id", "left_semi")
        .filter(_admitted())
        .select("doc_id", "lang", "pred_lang", "quality", "n_chars_obs")
    )


CORPUS_FILTER_SQL = f"""
WITH keep AS (SELECT keep_doc_id AS doc_id FROM ({DEDUP_EXACT_SQL})),
q AS ({QUALITY_SCORE_SQL}),
lid AS ({LANG_ID_SQL})
SELECT d.doc_id, d.lang, lid.pred_lang, q.quality,
       cast(length(d.text) AS BIGINT) AS n_chars_obs
FROM documents d
JOIN keep USING (doc_id)
JOIN q USING (doc_id)
JOIN lid USING (doc_id)
WHERE {_ADMITTED_SQL}
"""


# ---------------------------------------------------------------- registry
# ------------------------------------------------- per-source curation profile
def source_profile(spark, sf_dir):
    """Per-crawl-source curation profile — the dashboard a crawl operator
    reads per source/snapshot before admitting it to training: doc volume,
    exact-duplicate rate, language mix, dominant language and its share.

    Scale shape: two-level aggregation, both map-side combinable — one
    shuffle keyed (source, text-hash), one keyed source; the joins at the
    end are source-cardinality (tiny). All aggregates are integers (counts,
    bigint char sums); the only divisions are final bigint/bigint -> double,
    so results are deterministic under any partitioning and the DuckDB
    oracle is bit-exact."""
    d = _docs(spark, sf_dir)
    # ONE corpus scan: pre-aggregate to (source, text-hash, lang) — every
    # downstream aggregate derives from this intermediate.
    # DISK_ONLY persist: the intermediate drops the text payload (~3% of
    # corpus bytes: source + 32-char hash + lang + two longs), so spilling
    # it to local disk and replaying it for the three consumers is far
    # cheaper than re-reading the text column per branch — and it never
    # competes with executor memory the way a default MEMORY_AND_DISK
    # cache would. Catalyst does NOT plan a ReusedExchange here (each
    # consumer re-optimizes the agg-over-agg chain differently), so
    # without the persist the corpus would be scanned three times; the
    # persist is the single-scan mechanism and is what the plan gate
    # (tests/test_plans.py) asserts via InMemoryTableScan.
    # Cache lifetime: the returned DataFrame is lazy, so this function
    # cannot unpersist before the caller materializes — the persist is
    # registered with release_caches(); long-lived drivers running many
    # registry queries (bench, parity sweeps) call that between queries.
    from pyspark import StorageLevel

    fine = track_cache(
        d.filter(F.col("source").isNotNull())
        .groupBy("source", F.md5("text").alias("h"), "lang")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.length("text")).cast("long").alias("chars"),
        )
        .persist(StorageLevel.DISK_ONLY)
    )
    per_text = fine.groupBy("source", "h").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("chars").cast("long").alias("chars"),
    )
    base = per_text.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_distinct"),
        F.sum("chars").cast("long").alias("total_chars"),
    )
    top = _top_lang(
        fine.groupBy("source", "lang").agg(F.sum("n").cast("long").alias("ln"))
    )
    return (
        base.join(top, "source")
        .select(
            "source", "n_docs", "n_distinct",
            F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n_docs"), 6)
            .alias("dup_rate"),
            "total_chars", "n_langs", "top_lang",
            F.round(F.col("top_n") / F.col("n_docs"), 6)
            .alias("top_lang_share"),
        )
    )


SOURCE_PROFILE_SQL = f"""
WITH per_text AS (
  SELECT source, md5(text) AS h, cast(count(*) AS BIGINT) AS n,
         cast(sum(length(text)) AS BIGINT) AS chars
  FROM documents WHERE source IS NOT NULL GROUP BY 1, 2
),
base AS (
  SELECT source, cast(sum(n) AS BIGINT) AS n_docs,
         cast(count(*) AS BIGINT) AS n_distinct,
         cast(sum(chars) AS BIGINT) AS total_chars
  FROM per_text GROUP BY 1
),
per_lang AS (
  SELECT source, lang, cast(count(*) AS BIGINT) AS ln
  FROM documents WHERE source IS NOT NULL GROUP BY 1, 2
),
{_TOP_LANG_SQL}
SELECT b.source, b.n_docs, b.n_distinct,
       round(1.0 - b.n_distinct / b.n_docs, 6) AS dup_rate,
       b.total_chars, t.n_langs, t.top_lang,
       round(t.top_n / b.n_docs, 6) AS top_lang_share
FROM base b JOIN top t ON t.source = b.source
"""


# ------------------------------------------------- composed curation pipeline
def _curate_base(d):
    """ONE corpus text scan projected to everything the curation chain
    needs: identity/strata columns, the exact-dedup hash, quality,
    predicted language, and the 4 shuffle-free MinHash signature columns
    (_minhash_cols). The projection drops the text payload (five 32-char
    hashes + small scalars per row, a few % of corpus bytes) and is
    persisted DISK_ONLY, so every downstream stage — exact-winner window,
    LSH bucket-rep graph, verdict assembly — replays the slim intermediate
    instead of re-reading 100 TB of text. Registered with
    release_caches(); long-lived drivers release between queries.

    d: any frame with (doc_id long, source string, lang string,
    text string) — the registry entry reads the sf documents table; the
    bench runs the same chain over the 600k synthesized pages corpus."""
    from pyspark import StorageLevel
    return track_cache(
        d.select(
            "doc_id", "source", "lang",
            F.lower(F.col("text")).alias("norm"),
            _text_hash().alias("text_hash"),
            F.length("text").cast("long").alias("n_chars_obs"),
            _quality().alias("quality"),
            _pred_lang().alias("pred_lang"),
        )
        .select(
            "doc_id", "source", "lang", "text_hash", "n_chars_obs",
            "quality", "pred_lang", _shingle_col().alias("shingles"),
        )
        .select(
            "doc_id", "source", "lang", "text_hash", "n_chars_obs",
            "quality", "pred_lang", *_minhash_cols(),
        )
        .persist(StorageLevel.DISK_ONLY)
    )


def curate_verdict(docs):
    """The end-to-end training-data curation chain as ONE DAG over ONE
    corpus scan — the data-pipeline analogue of the fused KG job: exact
    dedup -> MinHash/LSH bucket-rep graph -> connected-component keep-one
    clustering -> quality/lang admission -> stratified sampling, emitting
    one verdict row per document:

      is_exact_winner  min doc_id of the normalized-text hash group
      cluster_id       min doc_id of the LSH near-dup component
                       (singleton docs are their own cluster)
      is_canonical     the cluster's keep-one representative
      keep             admitted to the training corpus: exact winner AND
                       canonical AND quality > 0.05 AND confident lang-id
      in_sample        kept AND selected by the per-language stratified
                       hash sampler (same rule as stratified_sample)

    Scale shape: the corpus text column is read ONCE into the slim
    persisted _curate_base (plan-gated); the exact-winner flag is a window
    over text_hash (one shuffle of the slim base, no join-back); the
    near-dup graph is _band_components over the CACHED signature columns —
    linear in corpus size even when templated text makes band buckets
    giant, and no recompute of minhash from raw text (the round-4
    verdict's recompute finding); CC runs on the small edge graph only
    (cc.py adaptive); the verdict is one doc_id-keyed left join of the
    component table. Every stage is an equi-join or window — no cross
    products (plan-gated)."""
    base = _curate_base(docs)
    comp = _band_components(base)
    # exact-winner via groupBy + join back (map-side-combinable min), not
    # a window: byte-identical boilerplate pages make text_hash groups as
    # skewed as band buckets, and a window would single-task the hot group.
    # NULL-SAFE key: md5(NULL text) is NULL, and a plain equi-join would
    # silently drop those rows (breaking one-verdict-row-per-doc and
    # diverging from the oracle's window, which groups NULLs together);
    # coalescing to '' groups and joins NULL hashes exactly like the
    # oracle's PARTITION BY (md5 hex strings are 32 chars, so '' cannot
    # collide with a real hash)
    th_key = F.coalesce("text_hash", F.lit("")).alias("__th")
    winners = base.groupBy(th_key).agg(F.min("doc_id").alias("win_id"))
    return (
        base.withColumn("__th", F.coalesce("text_hash", F.lit("")))
        .join(winners, "__th")
        .drop("__th")
        .join(
            comp.select("doc_id", F.col("component").alias("comp")),
            "doc_id", "left",
        )
        .select(
            "doc_id", "source", "lang", "pred_lang", "quality", "n_chars_obs",
            "text_hash",
            F.coalesce("comp", F.col("doc_id")).cast("long").alias("cluster_id"),
            (F.col("doc_id") == F.col("win_id")).alias("is_exact_winner"),
            (F.col("doc_id") == F.coalesce("comp", F.col("doc_id")))
            .alias("is_canonical"),
        )
        .withColumn(
            "keep",
            _admitted(F.col("is_exact_winner"), F.col("is_canonical")),
        )
        .withColumn("in_sample", F.col("keep") & _in_strat_sample())
    )


def curate_corpus(spark, sf_dir):
    """Registry entry: curate_verdict over the sf documents table."""
    return curate_verdict(
        _docs(spark, sf_dir).select("doc_id", "source", "lang", "text")
    )


CURATE_CORPUS_SQL = f"""
WITH RECURSIVE {_NEAR_DUP_COMP_SQL},
feat AS (
  SELECT doc_id, source, lang,
         {_TEXT_HASH_SQL} AS text_hash,
         cast(length(text) AS BIGINT) AS n_chars_obs,
         {_QUALITY_SQL} AS quality,
         {_PRED_LANG_SQL} AS pred_lang,
         min(doc_id) OVER (PARTITION BY {_TEXT_HASH_SQL}) AS win_id
  FROM documents
),
verdict AS (
  SELECT f.doc_id, f.source, f.lang, f.pred_lang, f.quality, f.n_chars_obs,
         f.text_hash,
         cast(coalesce(c.component, f.doc_id) AS BIGINT) AS cluster_id,
         f.doc_id = f.win_id AS is_exact_winner,
         f.doc_id = coalesce(c.component, f.doc_id) AS is_canonical,
         (f.doc_id = f.win_id)
           AND (f.doc_id = coalesce(c.component, f.doc_id))
           AND {_ADMITTED_SQL} AS keep
  FROM feat f LEFT JOIN comp c ON c.node = f.doc_id
)
SELECT doc_id, source, lang, pred_lang, quality, n_chars_obs, text_hash,
       cluster_id, is_exact_winner, is_canonical, keep,
       keep AND ({_IN_STRAT_SAMPLE_SQL}) AS in_sample
FROM verdict
"""


def curate_report_df(v):
    """Per-source curation report over a curate_verdict frame — what a
    crawl operator reads after the chain runs: volumes, how much each
    dedup/filter stage kept, sampling yield, and mean admitted quality.
    ``v`` may be the live chain output or its written-back parquet
    (jobs/run_curate.py reports over the shipped rows).

    Determinism: every aggregate is an integer count except
    avg_quality_kept, which sums quality in exact integer micro-units
    (quality is already rounded to 6 decimals, so round(q*1e6) is a lossless
    long) and divides once at the end — bit-identical under any
    partitioning and to the DuckDB oracle."""
    q6 = F.round(F.col("quality") * 1000000).cast("long")
    n_kept = F.sum(F.col("keep").cast("long"))
    stats = v.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("text_hash").cast("long").alias("n_distinct_texts"),
        F.sum(F.col("is_exact_winner").cast("long")).alias("n_exact_winners"),
        F.sum(F.col("is_canonical").cast("long")).alias("n_canonical"),
        n_kept.alias("n_kept"),
        F.sum(F.col("in_sample").cast("long")).alias("n_sampled"),
        F.round(F.sum(F.col("keep").cast("long")) / F.count("*"), 6)
        .alias("keep_rate"),
        F.round(
            F.sum(F.when(F.col("keep"), q6).otherwise(F.lit(0)))
            / F.greatest(n_kept, F.lit(1)) / 1000000.0,
            6,
        ).alias("avg_quality_kept"),
    ).withColumn(
        "dup_rate",
        F.round(F.lit(1.0) - F.col("n_distinct_texts") / F.col("n_docs"), 6),
    )
    # language-mix profile (the source_profile dashboard columns, derived
    # from the SAME single-scan verdict rows): dominant language + share
    top = _top_lang(
        v.groupBy("source", "lang").agg(F.count("*").cast("long").alias("ln"))
    )
    return (
        stats.join(top, "source")
        .select(
            "source", "n_docs", "n_distinct_texts", "dup_rate",
            "n_exact_winners", "n_canonical", "n_kept", "n_sampled",
            "keep_rate", "avg_quality_kept", "n_langs", "top_lang",
            F.round(F.col("top_n") / F.col("n_docs"), 6)
            .alias("top_lang_share"),
        )
    )


def curate_report(spark, sf_dir):
    """Registry entry: curate_report_df over the sf documents verdicts."""
    return curate_report_df(curate_corpus(spark, sf_dir))


CURATE_REPORT_SQL = f"""
WITH v AS ({CURATE_CORPUS_SQL}),
stats AS (
  SELECT source,
         cast(count(*) AS BIGINT) AS n_docs,
         cast(count(DISTINCT text_hash) AS BIGINT) AS n_distinct_texts,
         cast(sum(CASE WHEN is_exact_winner THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact_winners,
         cast(sum(CASE WHEN is_canonical THEN 1 ELSE 0 END) AS BIGINT)
           AS n_canonical,
         cast(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         cast(sum(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
           AS n_sampled,
         round(sum(CASE WHEN keep THEN 1 ELSE 0 END)
               / cast(count(*) AS DOUBLE), 6) AS keep_rate,
         round(sum(CASE WHEN keep
                        THEN cast(round(quality * 1000000) AS BIGINT)
                        ELSE 0 END)
               / cast(greatest(sum(CASE WHEN keep THEN 1 ELSE 0 END), 1)
                      AS DOUBLE)
               / 1000000.0, 6) AS avg_quality_kept
  FROM v GROUP BY source
),
per_lang AS (
  SELECT source, lang, cast(count(*) AS BIGINT) AS ln
  FROM v GROUP BY 1, 2
),
{_TOP_LANG_SQL}
SELECT s.source, s.n_docs, s.n_distinct_texts,
       round(1.0 - s.n_distinct_texts / cast(s.n_docs AS DOUBLE), 6)
         AS dup_rate,
       s.n_exact_winners, s.n_canonical, s.n_kept, s.n_sampled,
       s.keep_rate, s.avg_quality_kept, t.n_langs, t.top_lang,
       round(t.top_n / cast(s.n_docs AS DOUBLE), 6) AS top_lang_share
FROM stats s JOIN top t ON t.source = s.source
"""


REGISTRY: dict = {
    "chunk_stats": (chunk_stats, CHUNK_STATS_SQL),
    "chunk_explode": (chunk_explode, CHUNK_EXPLODE_SQL),
    "lang_universe": (lang_universe, LANG_UNIVERSE_SQL),
    "micro_prf": (micro_prf_docs, MICRO_PRF_SQL),
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "token_stats": (token_stats, TOKEN_STATS_SQL),
    "lang_id": (lang_id, LANG_ID_SQL),
    "quality_score": (quality_score, QUALITY_SCORE_SQL),
    "doc_fingerprint": (doc_fingerprint, DOC_FINGERPRINT_SQL),
    "minhash_signature": (minhash_signature, MINHASH_SIGNATURE_SQL),
    "near_dup_pairs": (near_dup_pairs, NEAR_DUP_PAIRS_SQL),
    "knn_cosine": (knn_cosine, KNN_COSINE_SQL),
    "train_val_split": (train_val_split, TRAIN_VAL_SPLIT_SQL),
    "stratified_sample": (stratified_sample, STRATIFIED_SAMPLE_SQL),
    "seeded_shuffle": (seeded_shuffle, SEEDED_SHUFFLE_SQL),
    "dbc2sbc_norm": (dbc2sbc_norm, DBC2SBC_SQL),
    "lang_id_accuracy": (lang_id_accuracy, LANG_ID_ACC_SQL),
    "simhash16": (simhash16, SIMHASH_SQL),
    "emb_near_dup": (emb_near_dup, EMB_NEAR_DUP_SQL),
    "ngram_jaccard_pairs": (ngram_jaccard_pairs, NGRAM_JACCARD_SQL),
    "knn_ivf": (knn_ivf, KNN_IVF_SQL),
    # second parameter setting through the SAME sql generator: cheaper
    # 7-probe tier, more queries, deeper k — proves the Spark path and
    # knn_ivf_sql stay coupled across the parameter space
    "knn_ivf_p7": (
        lambda spark, sf_dir: knn_ivf(spark, sf_dir, n_queries=8, k=5,
                                      n_probes=7),
        knn_ivf_sql(n_queries=8, k=5, n_probes=7),
    ),
    "corpus_filter": (corpus_filter, CORPUS_FILTER_SQL),
    "source_profile": (source_profile, SOURCE_PROFILE_SQL),
    "near_dup_clusters": (near_dup_clusters, NEAR_DUP_CLUSTERS_SQL),
    "curate_corpus": (curate_corpus, CURATE_CORPUS_SQL),
    "curate_report": (curate_report, CURATE_REPORT_SQL),
}
