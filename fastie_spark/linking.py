"""Entity linking: normalized broadcast-dictionary join (north_rule stage 3).

Not present in the reference (FastIE stops at per-document extraction —
SURVEY.md §0); semantics specified by SURVEY.md §7.1 step 7:

- surface normalization = ``dbc2sbc`` full-width -> half-width
  (/root/reference/fastie/models/uie/decode_utils.py:118-130) + lowercase.
  dbc2sbc is expressed JVM-side with ``translate`` over the 94-char
  full-width block (U+3000 deliberately unmapped, matching the reference
  quirk) — no UDF, stays in codegen.
- the linker dictionary is pre-aggregated to one best row per normalized
  alias (highest prior, then smallest canonical_id — deterministic), so the
  join is 1:<=1 and needs no post-join window.
- dictionary side is broadcast (linker dicts are small relative to
  mentions); a broadcast hash join has no shuffle and therefore no skew
  problem on the probe side — Zipf-heavy head entities cost nothing extra.
  Skew handling (AQE skew-join) is reserved for the shuffling
  self-joins in cc.py where it actually matters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_FW_SRC = "".join(chr(c + 0xFEE0) for c in range(0x21, 0x7F))
_FW_DST = "".join(chr(c) for c in range(0x21, 0x7F))


def dbc2sbc_col(col) -> Column:
    """decoders.dbc2sbc as a codegen ``translate`` over the 94-char
    full-width block 0xFF01-0xFF5E. Matches decode_utils.py:118-130
    including its quirk: U+3000 (ideographic space) stays UNMAPPED."""
    return F.translate(col, _FW_SRC, _FW_DST)


def dbc2sbc_sql(expr: str) -> str:
    """DuckDB twin of dbc2sbc_col over the SQL expression ``expr``."""
    dst = _FW_DST.replace("'", "''")
    return f"translate({expr}, '{_FW_SRC}', '{dst}')"


def normalize_surface(col: Column) -> Column:
    """dbc2sbc + lower, so a linker surface and a decode surface normalize
    identically."""
    return F.lower(dbc2sbc_col(col))


def prepare_linker_dict(linker: DataFrame, normalize: bool = True) -> DataFrame:
    """One best (canonical_id, entity_type, prior) per (normalized) alias.
    normalize=False keeps exact surface matching — used when the dictionary
    is already surface-exact (e.g. the derived vocab, whose SQL oracle
    assigns ids per raw token and must not see normalization collisions)."""
    key = normalize_surface(F.col("alias")) if normalize else F.col("alias")
    return (
        linker.withColumn("alias_norm", key)
        .groupBy("alias_norm")
        .agg(
            F.expr(
                "min_by(struct(canonical_id, entity_type, prior), "
                "struct(-prior, canonical_id))"
            ).alias("best")
        )
        .select(
            "alias_norm",
            F.col("best.canonical_id").alias("canonical_id"),
            F.col("best.entity_type").alias("entity_type"),
            F.col("best.prior").alias("prior"),
        )
    )


def link_surfaces(
    df: DataFrame, linker_prepared: DataFrame, surface_col: str,
    out_prefix: str, normalize: bool = True, strategy: str = "broadcast",
) -> DataFrame:
    """Left-join df[surface_col] against the prepared dictionary, adding
    ``{out_prefix}_id`` (null = NIL / unlinkable mention) and
    ``{out_prefix}_prior``, plus ``{out_prefix}_comp`` when the dictionary
    carries a resolved ``comp`` column (kg_job.link_and_canonicalize).

    Two join strategies, same rows:

    - ``"broadcast"`` (default): hint-forced broadcast hash join — no
      shuffle, so Zipf-heavy head surfaces cost nothing. Right for real
      linker dictionaries (<= low millions of aliases).
    - ``"shuffle"``: plain equi-join, no hint — Catalyst picks a shuffled
      hash / sort-merge join and AQE's skew-join split (enabled in
      session.py) absorbs head-entity skew on the probe side. The only
      viable plan when the alias table is Wikidata-scale (10^8 rows does
      not broadcast to 1000 executors).
    """
    comp = ([F.col("comp").alias(f"{out_prefix}_comp")]
            if "comp" in linker_prepared.columns else [])
    d = linker_prepared.select(
        F.col("alias_norm"),
        F.col("canonical_id").alias(f"{out_prefix}_id"),
        F.col("prior").alias(f"{out_prefix}_prior"),
        *comp,
    )
    if strategy == "broadcast":
        d = F.broadcast(d)
    elif strategy == "shuffle":
        # explicit hint: a dict too big to broadcast must never be
        # silently re-broadcast by Catalyst's own stats; shuffled HASH join
        # (not sort-merge) because the probe side needs no sort and AQE's
        # skew split handles head-entity buckets on both join types
        d = d.hint("shuffle_hash")
    else:
        raise ValueError(f"unknown link strategy: {strategy!r}")
    key = (normalize_surface(F.col(surface_col)) if normalize
           else F.col(surface_col))
    return (
        df.withColumn("__norm", key)
        .join(d, F.col("__norm") == d["alias_norm"], "left")
        .drop("alias_norm", "__norm")
    )


# ---------------------------------------------------------------------------
# Embedding linking — the "+embedding" half of the north_star's
# "dictionary+embedding entity linking": surfaces the exact-match dictionary
# misses (typos, variants, transliteration drift) are linked to the
# nearest alias by n-gram feature-hash embedding cosine.
# ---------------------------------------------------------------------------
EMB_DIMS = 16
EMB_BAND_BITS = EMB_DIMS // 2  # link_by_embedding's band width
EMB_LINK_K = 1  # link_by_embedding keeps each surface's nearest alias


def surface_embeddings(df: DataFrame, surface_col: str) -> DataFrame:
    """(s, dim, v) sparse integer embeddings: every 3-gram of the surface
    (the whole surface when len < 3) hashes to dim = index of md5(gram)'s
    FIRST hex char in '0123456789abcdef' (16 dims) with contribution +1 if
    the SECOND hex char < '8' else -1; v = the per-dim sum. All-integer, so
    any engine reproduces the vectors bit-exactly (the DuckDB oracle in
    __spark_entry__ mirrors this formula 1:1). Stays relational: explode ->
    sum — at corpus scale the input should be the DISTINCT surface set."""
    grams = F.expr(
        f"transform(sequence(1, greatest(length({surface_col}) - 2, 1)), "
        f"i -> CASE WHEN length({surface_col}) >= 3 "
        f"THEN substring({surface_col}, i, 3) ELSE {surface_col} END)"
    )
    g = df.select(F.col(surface_col).alias("s"), F.explode(grams).alias("g"))
    return (
        g.select(
            "s",
            F.expr("locate(substring(md5(g), 1, 1), '0123456789abcdef') - 1")
            .alias("dim"),
            F.when(F.expr("substring(md5(g), 2, 1)") < "8", F.lit(1))
            .otherwise(F.lit(-1)).alias("sgn"),
        )
        .groupBy("s", "dim")
        .agg(F.sum("sgn").cast("long").alias("v"))
    )


def _n2(v) -> Column:
    """Integer squared norm of an array<long> column."""
    return F.aggregate(v, F.lit(0).cast("long"), lambda acc, x: acc + x * x)


def dense_embeddings(df: DataFrame, surface_col: str) -> DataFrame:
    """(surface_col, v: array<long>[EMB_DIMS]) dense vectors from the sparse
    ``surface_embeddings`` output — absent dims densify to 0, so the
    integers are identical to the sparse formulation and any dot/norm
    computed from them is bit-exact across engines. Zero-norm surfaces
    (every dim's gram signs cancel) have no direction and are dropped."""
    sp = surface_embeddings(df, surface_col)
    m = sp.groupBy("s").agg(
        F.map_from_entries(F.collect_list(F.struct("dim", "v"))).alias("m")
    )
    vec = F.array(*[
        F.coalesce(F.element_at("m", F.lit(i)), F.lit(0).cast("long"))
        for i in range(EMB_DIMS)
    ])
    return m.select(F.col("s").alias(surface_col), vec.alias("v")).filter(
        _n2("v") > 0)


def _int_cosine(a: str, b: str) -> Column:
    """dot / sqrt(n2_a * n2_b) over two array<long> columns: the dot and
    both squared norms are INTEGER sums, so the quotient is the same IEEE
    double in every engine. Twinned by _int_cosine_sql."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0).cast("long"), lambda acc, x: acc + x)
    return dot / F.sqrt(_n2(a) * _n2(b))


def _int_cosine_sql(a: str, b: str) -> str:
    """DuckDB twin of _int_cosine over BIGINT list columns."""
    n2a, n2b = (f"list_sum(list_transform({c}, x -> x * x))" for c in (a, b))
    return (f"list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"
            f" / sqrt({n2a} * {n2b})")


def _sign_band(start: int, n_bits: int) -> Column:
    """Sign-bit band over embedding dims [start, start+n_bits) of column
    ``v`` — the axis-aligned analogue of a random-hyperplane LSH band,
    shared by _two_band_join and textops.knn_ivf.
    One character per dim: '1' if v[dim] > 0, '0' if not, '9' if the dim
    is NULL or past the end of the array (or ``v`` itself is NULL).
    ANSI-safe: ``try_element_at`` reads a short vector as NULL dims
    instead of raising INVALID_ARRAY_INDEX_IN_ELEMENT_AT, so Spark gives
    the same string as its DuckDB twin _sign_band_sql (where a missing
    index is NULL too), e.g. '1099' for [0.3, -0.1] over 4 bits."""
    return F.concat_ws("", *[
        F.coalesce(
            (F.try_element_at("v", F.lit(start + i + 1)) > 0).cast("int"),
            F.lit(9),
        ).cast("string")
        for i in range(n_bits)
    ])


def _sign_band_sql(start: int, n_bits: int) -> str:
    """DuckDB twin of _sign_band over a list column ``v``."""
    return " || ".join(
        f"coalesce(cast(v[{i}] > 0 AS INT), 9)"
        for i in range(start + 1, start + n_bits + 1)
    )


def _two_band_join(left: DataFrame, right: DataFrame, n_bits: int,
                   vecs: tuple[str, str]) -> DataFrame:
    """Sign-band LSH candidates: the pairs of ``left`` x ``right`` rows
    whose vectors ``v`` agree on band [0, n_bits) OR on band
    [n_bits, 2*n_bits) (_sign_band), each pair once. Each side is a key
    column plus ``v`` (the two key names differ); the output is both keys
    plus the two vectors renamed to ``vecs``.

    ONE equi-join on (band index, band) over band-exploded sides: the
    index keeps a band-1 value from meeting the same string in band 2,
    both bands ride one shuffle hash-partitioned by band (or a broadcast,
    if one side is small), AQE splits a hot band's partition, and no
    cross product is planned. Twinned by _two_band_join_sql."""
    def tagged(df: DataFrame, vec: str) -> DataFrame:
        key = [c for c in df.columns if c != "v"]
        bands = F.explode(F.array(*[
            F.struct(F.lit(i + 1).alias("bi"),
                     _sign_band(i * n_bits, n_bits).alias("band"))
            for i in range(2)
        ]))
        return df.select(*key, F.col("v").alias(vec), bands.alias("bb")).select(
            *key, vec, F.col("bb.bi").alias("bi"), F.col("bb.band").alias("band")
        )

    keys = [c for c in left.columns + right.columns if c != "v"]
    return (
        tagged(left, vecs[0]).join(tagged(right, vecs[1]), ["bi", "band"])
        .drop("bi", "band")
        .dropDuplicates(keys)
    )


def _two_band_join_sql(left: str, right: str, n_bits: int) -> str:
    """DuckDB twin of _two_band_join: a FROM-clause fragment joining
    relations ``left`` (aliased l) and ``right`` (aliased r), each with a
    list column ``v``, on band [0, n_bits) OR band [n_bits, 2*n_bits).
    One join with an OR condition yields each agreeing pair once."""
    bands = (f"{_sign_band_sql(0, n_bits)} AS b1, "
             f"{_sign_band_sql(n_bits, n_bits)} AS b2")
    return (f"(SELECT *, {bands} FROM {left}) l\n"
            f"  JOIN (SELECT *, {bands} FROM {right}) r\n"
            f"    ON (l.b1 = r.b1 OR l.b2 = r.b2)")


def _top_k(df: DataFrame, part: str, score: str, tie: str,
           k: int) -> DataFrame:
    """The k best rows per ``part`` by (score DESC, tie ASC), numbered
    1..k in a long ``rnk`` column — the one ranking rule every nearest-
    neighbour operator uses, twinned by _top_k_sql."""
    w = Window.partitionBy(part).orderBy(F.desc(score), F.asc(tie))
    return (
        df.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def _top_k_sql(src: str, part: str, score: str, tie: str, k: int) -> str:
    """DuckDB twin of _top_k: a subquery over relation ``src``."""
    return f"""(SELECT *, cast(row_number() OVER (PARTITION BY {part}
                 ORDER BY {score} DESC, {tie}) AS BIGINT) AS rnk
      FROM {src} QUALIFY rnk <= {k})"""


def link_by_embedding(queries: DataFrame, aliases: DataFrame,
                      prefilter: str = "exact") -> DataFrame:
    """queries(surface) x aliases(alias, canonical_id) -> the EMB_LINK_K
    nearest aliases per surface by embedding cosine:
    (surface, alias, canonical_id, cos, rnk).

    One pipeline for both modes: dense_embeddings of each side (zero-norm
    surfaces are unlinkable and dropped), candidate pairs, _int_cosine,
    canonical_id re-attached by alias (1:n-safe), then _top_k by
    (cos DESC, alias ASC) — deterministic and oracle-identical, because
    the cosine is bit-exact. ``prefilter`` only picks the candidates:

    - ``"exact"``: every surface x alias pair, the alias side broadcast.
      Exact top-k; cost is |surfaces| x |aliases| — the small-dictionary
      mode.
    - ``"band"``: the 100 TB shape. Candidates are the _two_band_join
      pairs over EMB_BAND_BITS-dim sign bands — plain equi-joins, so a
      10^8-alias dictionary never needs to broadcast and no cross product
      is planned. Recall contract: approximate — a true nearest alias
      whose sign pattern differs from the surface in BOTH band windows is
      not considered (standard LSH trade-off; near-identical n-gram
      profiles agree on almost every coordinate sign, so top-1 agreement
      with exact mode stays high — pytest-gated in
      tests/test_linking_graph.py)."""
    if prefilter not in ("exact", "band"):
        raise ValueError(f"unknown prefilter: {prefilter!r}")
    dq = dense_embeddings(queries.select("surface").distinct(), "surface")
    da = dense_embeddings(aliases.select("alias").distinct(), "alias")
    if prefilter == "band":
        cand = _two_band_join(dq, da, EMB_BAND_BITS, ("vq", "va"))
    else:
        cand = dq.withColumnRenamed("v", "vq").crossJoin(
            F.broadcast(da.withColumnRenamed("v", "va")))
    a = aliases.select("alias", "canonical_id").distinct()
    scored = cand.join(a, "alias").select(
        "surface", "alias", "canonical_id", _int_cosine("vq", "va").alias("cos")
    )
    return _top_k(scored, "surface", "cos", "alias", EMB_LINK_K)


def link_mentions(mentions: DataFrame, linker: DataFrame,
                  normalize: bool = True,
                  strategy: str = "broadcast") -> DataFrame:
    return link_surfaces(
        mentions, prepare_linker_dict(linker, normalize), "surface", "entity",
        normalize, strategy,
    )


def link_triples(triples: DataFrame, linker: DataFrame,
                 normalize: bool = True,
                 strategy: str = "broadcast") -> DataFrame:
    prepared = prepare_linker_dict(linker, normalize)
    out = link_surfaces(triples, prepared, "subj", "subj", normalize, strategy)
    return link_surfaces(out, prepared, "obj", "obj", normalize, strategy)
