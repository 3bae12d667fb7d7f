"""Local re-implementation of the driver's Spark-vs-DuckDB comparison, run
at sf0.001 so oracle mismatches surface before the real gate at sf0.01."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from fastie_spark.textops import REGISTRY
from tools_oracle_check import norm

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


@pytest.mark.parametrize("name", [k for k, v in REGISTRY.items() if v[1]])
def test_query_matches_oracle(spark, duck, name):
    from fastie_spark.textops import release_caches

    fn, sql = REGISTRY[name]
    sdf = fn(spark, SF_DIR)
    scols = sorted(sdf.columns)
    srows = [r.asDict() for r in sdf.collect()]
    release_caches()  # drop operator-persisted intermediates per query

    ddf = duck.sql(sql)
    dcols = sorted(ddf.columns)
    drows = [dict(zip(ddf.columns, r)) for r in ddf.fetchall()]

    assert scols == dcols, f"{name}: schema mismatch {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: rowcount {len(srows)} vs {len(drows)}"
    a, b = norm(srows, scols), norm(drows, dcols)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


@pytest.mark.parametrize("name", ["knn_ivf", "knn_ivf_p7"])
def test_knn_ivf_probe_ladder_compiles(spark, duck, name):
    """The 2^n_bits probe ladder must compile as generated code: with the
    interpreted fallback off, a Janino compile failure raises instead of
    being logged, and the rows must still match the oracle."""
    fn, sql = REGISTRY[name]
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        sdf = fn(spark, SF_DIR)
        srows = [r.asDict() for r in sdf.collect()]
    finally:
        spark.conf.unset("spark.sql.codegen.fallback")
    cols = sorted(sdf.columns)
    ddf = duck.sql(sql)
    drows = [dict(zip(ddf.columns, r)) for r in ddf.fetchall()]
    assert srows and norm(srows, cols) == norm(drows, sorted(ddf.columns))


def test_knn_ivf_multiprobe_recall(spark):
    """Margin-ordered multi-probe IVF must recover >= 0.7 of the
    brute-force top-k at sf0.1 at its default 32-probe tier (the round-4
    verdict's raised gate) and recall must be monotone in the probe
    budget. Ground truth = knn_cosine. sf0.1 embeddings are isotropic
    random vectors — the worst case for sign-bit LSH, so these are floor
    numbers (measured: p32 0.82, p7 0.34, single-probe 0.02)."""
    sf_big = "/root/testdata/sf0.1"

    from fastie_spark.textops import knn_cosine, knn_ivf

    truth = {
        (r["q_vec_id"], r["nn_vec_id"])
        for r in knn_cosine(spark, sf_big, n_queries=10, k=5).collect()
    }
    p32 = {
        (r["q_vec_id"], r["nn_vec_id"])
        for r in knn_ivf(spark, sf_big, n_queries=10, k=5).collect()
    }
    p7 = {
        (r["q_vec_id"], r["nn_vec_id"])
        for r in knn_ivf(spark, sf_big, n_queries=10, k=5,
                         n_probes=7).collect()
    }
    single = {
        (r["q_vec_id"], r["nn_vec_id"])
        for r in knn_ivf(spark, sf_big, n_queries=10, k=5,
                         n_probes=1).collect()
    }
    recall_p32 = len(p32 & truth) / len(truth)
    recall_p7 = len(p7 & truth) / len(truth)
    recall_single = len(single & truth) / len(truth)
    assert recall_p32 >= recall_p7 >= recall_single
    assert recall_p32 >= 0.7, (recall_p32, recall_p7, recall_single)


def test_emb_near_dup_nonempty_at_low_threshold(spark, duck):
    """At threshold 0.95 the sf tables yield 0 pairs, which would hide a
    broken verify stage — re-run the banded candidates->verify at a low
    threshold and compare against the oracle generated at that threshold."""
    from fastie_spark.textops import emb_near_dup, emb_near_dup_sql

    sdf = emb_near_dup(spark, SF_DIR, threshold=0.2)
    srows = [r.asDict() for r in sdf.collect()]
    ddf = duck.sql(emb_near_dup_sql(threshold=0.2))
    drows = [dict(zip(ddf.columns, r)) for r in ddf.fetchall()]
    assert len(srows) == len(drows) and len(srows) > 0
    cols = sorted(sdf.columns)
    assert norm(srows, cols) == norm(drows, cols)


def test_emb_near_dup_exhaustive_superset(spark):
    """exhaustive=True is the exact path: at a low threshold its pair set
    must contain every banded pair, and any extra pairs are exactly the
    LSH recall loss (vectors straddling zero in both band windows)."""
    from fastie_spark.textops import emb_near_dup

    banded = {
        (r["vec_a"], r["vec_b"])
        for r in emb_near_dup(spark, SF_DIR, threshold=0.2).collect()
    }
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in emb_near_dup(spark, SF_DIR, threshold=0.2,
                              exhaustive=True).collect()
    }
    assert banded <= exact
    assert len(exact) > 0


def test_stratified_sample_rates_honored(spark):
    """Per-stratum keep fractions track the declared rates (hash sampling
    is binomial; tolerance covers ~100-doc strata at sf0.001)."""
    from fastie_spark.textops import _docs, stratified_sample

    totals = {
        r["lang"]: r["n"]
        for r in _docs(spark, SF_DIR).groupBy("lang").count()
        .withColumnRenamed("count", "n").collect()
    }
    kept = stratified_sample(spark, SF_DIR).collect()
    by_lang: dict = {}
    rates = {}
    for r in kept:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
        rates[r["lang"]] = r["rate"]
    for lang, n_kept in by_lang.items():
        frac = n_kept / totals[lang]
        assert abs(frac - rates[lang]) < 0.15, (lang, frac, rates[lang])


def test_source_profile_null_source_parity(spark, tmp_path):
    """Both sides must agree BY CONSTRUCTION on NULL sources (Spark filters
    them; the SQL must too) — the sf fixtures have no NULLs, so this builds
    a corpus that does and runs the full Spark-vs-DuckDB comparison on it."""
    import duckdb as _duckdb

    from fastie_spark.session import local_df
    from fastie_spark.textops import SOURCE_PROFILE_SQL, source_profile

    rows = [
        (1, "alpha beta", "en", "crawl-a", 10),
        (2, "alpha beta", "en", "crawl-a", 10),
        (3, "gamma", "zh", "crawl-b", 5),
        (4, "orphan doc", "en", None, 10),
        (5, "another orphan", "zh", None, 14),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    d = str(tmp_path)
    local_df(spark, rows, schema).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    sdf = source_profile(spark, d)
    srows = [r.asDict() for r in sdf.collect()]
    con = _duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * "
            f"FROM read_parquet('{d}/documents.parquet/*.parquet')")
    ddf = con.sql(SOURCE_PROFILE_SQL)
    drows = [dict(zip(ddf.columns, r)) for r in ddf.fetchall()]
    cols = sorted(sdf.columns)
    assert len(srows) == len(drows) == 2
    assert norm(srows, cols) == norm(drows, cols)


def test_curate_corpus_null_text_parity(spark, tmp_path):
    """NULL-text documents must keep their verdict row and must NOT be
    clustered together: md5(NULL) is NULL, so (a) the exact-winner join
    must be null-safe (a plain equi-join drops the rows — the oracle's
    window keeps them grouped), and (b) NULL-signature docs must be
    excluded from banding (concat_ws skips NULL minhash columns, which
    would collapse every NULL doc into shared bands "0"/"1"). The sf
    fixtures carry no NULLs, so this builds a corpus that does and runs
    the full Spark-vs-DuckDB comparison on it."""
    import duckdb as _duckdb

    from fastie_spark.session import local_df
    from fastie_spark.textops import CURATE_CORPUS_SQL, curate_corpus

    rows = [
        (1, "alpha beta gamma delta repeated content here", "en", "a", 40),
        (2, "alpha beta gamma delta repeated content here", "en", "a", 40),
        (3, "totally different body of text for doc three", "zh", "b", 40),
        (4, None, "en", "a", 0),
        (5, None, "zh", "b", 0),
        (6, "", "en", "b", 0),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    d = str(tmp_path)
    local_df(spark, rows, schema).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    sdf = curate_corpus(spark, d)
    srows = [r.asDict() for r in sdf.collect()]
    con = _duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * "
            f"FROM read_parquet('{d}/documents.parquet/*.parquet')")
    ddf = con.sql(CURATE_CORPUS_SQL)
    drows = [dict(zip(ddf.columns, r)) for r in ddf.fetchall()]
    cols = sorted(sdf.columns)
    # one verdict row per document, NULL-text docs included
    assert len(srows) == len(rows)
    assert norm(srows, cols) == norm(drows, cols)
    # the two NULL docs must not be merged into one near-dup cluster
    by_id = {r["doc_id"]: r for r in srows}
    assert by_id[4]["cluster_id"] != by_id[5]["cluster_id"]



def test_cosine_degenerate_vectors_match_duckdb(spark, tmp_path):
    """_cosine follows _cosine_sql on degenerate embeddings: a NULL
    element and the tail of a longer vector add nothing, and a zero norm
    scores NULL (ranked last) instead of raising DIVIDE_BY_ZERO. Checked
    per pair and through knn_cosine against its oracle."""
    from fastie_spark.session import local_df
    from fastie_spark.textops import (_EMB_SQL, KNN_COSINE_SQL, _cosine,
                                      _cosine_sql, _emb, knn_cosine)

    vecs = [[0.0, 0.0, 0.0], [1.0, None, 2.0], [1.0, 2.0], [1.0, 1.0, 1.0],
            [0.5, -1.0, 0.25], [2.0, 1.0, -1.0], [-1.0, 0.5, 1.5]]
    d = str(tmp_path)
    local_df(spark, list(enumerate(vecs)),
             "vec_id long, embedding array<float>").write.parquet(
        f"{d}/embeddings.parquet")
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * "
            f"FROM read_parquet('{d}/embeddings.parquet/*.parquet')")

    e = _emb(spark, d)
    pairs = e.select(F.col("vec_id").alias("a"), F.col("v").alias("va")).crossJoin(
        e.select(F.col("vec_id").alias("b"), F.col("v").alias("vb")))
    spark_cos = {(r["a"], r["b"]): r["cos"] for r in
                 pairs.select("a", "b", _cosine("va", "vb").alias("cos")).collect()}
    duck_cos = {(a, b): c for a, b, c in con.sql(
        f"WITH e AS ({_EMB_SQL}) SELECT x.vec_id, y.vec_id, "
        f"{_cosine_sql('x.v', 'y.v')} FROM e x, e y").fetchall()}
    assert spark_cos == duck_cos
    assert spark_cos[(0, 3)] is None and spark_cos[(1, 3)] is not None

    sdf = knn_cosine(spark, d)
    ddf = con.sql(KNN_COSINE_SQL)
    cols = sorted(sdf.columns)
    assert norm([r.asDict() for r in sdf.collect()], cols) == norm(
        [dict(zip(ddf.columns, r)) for r in ddf.fetchall()], cols)
