"""Output checks. Each returns a list of failure strings (empty = pass)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

TRIPLE_KEY = ["url", "subj", "pred", "obj", "subj_id", "obj_id", "bucket"]
NODE_KEY = ["component", "entity_type", "n_mentions", "surfaces"]
EDGE_KEY = ["subj_id", "pred", "obj_id", "n_support"]
VERDICT_KEY = [
    "doc_id", "source", "lang", "pred_lang", "quality", "n_chars_obs",
    "text_hash", "cluster_id", "is_exact_winner", "is_canonical", "keep",
    "in_sample",
]


def _digest_aggs(h):
    # order-independent: xor and a bounded sum of the row hashes, plus count
    return [
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(F.pmod(h, F.lit(1_000_003))).alias("s"),
    ]


def table_digest(df, cols) -> tuple:
    r = df.agg(*_digest_aggs(F.xxhash64(*cols))).collect()[0]
    return int(r["n"]), int(r["x"] or 0), int(r["s"] or 0)


def kg_output(spark, out_dir: str, res: dict) -> tuple:
    """Manifest bucket sums == n_triples == provenance rows read back, in
    one readback job that also digests the three committed tables.
    Returns (failures, digest)."""
    tables = (("provenance", TRIPLE_KEY), ("nodes", NODE_KEY),
              ("edges", EDGE_KEY))
    parts = [
        spark.read.parquet(f"{out_dir}/{name}").select(
            F.lit(name).alias("t"), F.xxhash64(*cols).alias("h"))
        for name, cols in tables
    ]
    rows = {
        r["t"]: (int(r["n"]), int(r["x"]), int(r["s"]))
        for r in parts[0].unionByName(parts[1]).unionByName(parts[2])
        .groupBy("t").agg(*_digest_aggs(F.col("h"))).collect()
    }
    digest = tuple(rows.get(name, (0, 0, 0)) for name, _ in tables)
    fails = []
    bucket_sum = sum(b["triples"] for b in res["manifest"]["buckets"].values())
    n_prov = digest[0][0]
    if not (bucket_sum == res["n_triples"] == n_prov):
        fails.append(f"manifest sum {bucket_sum}, n_triples "
                     f"{res['n_triples']}, provenance rows {n_prov}")
    if n_prov == 0:
        fails.append("no triples committed")
    return fails, digest


def _event_rows(url, events) -> set:
    out = set()
    for ev in events:
        for a in ev["arguments"]:
            out.add((url, ev["event_type"], ev.get("trigger"), a["role"],
                     a["argument"]))
        if not ev["arguments"]:
            out.add((url, ev["event_type"], ev.get("trigger"), None, None))
    return out


def oracle_extraction(spark, pages, vocab, sample_rows, poison_urls,
                      prov_dir: str) -> tuple:
    """Fused Spark extraction of the sampled pages (plus every poison page)
    equals OracleEngine on their text; poison pages yield zero rows, in the
    extraction and in the committed provenance. Returns (failures,
    poison rows seen)."""
    from fastie_spark.oracle import OracleEngine
    from fastie_spark.pipeline import run_extraction_fused

    fails = []
    good = [r for r in sample_rows if r["url"] not in poison_urls]
    urls = [r["url"] for r in good] + sorted(poison_urls)
    sub = pages.filter(F.col("url").isin(urls))
    st = run_extraction_fused(spark, sub, vocab, from_html=True,
                              persist=False, repartition=False)
    raw = st["_raw"].collect()
    texts = [r["text"] for r in good]
    oracle = OracleEngine(vocab)
    want_m = {(r["url"], *m) for r, ms in zip(good, oracle.predict_ner(texts))
              for m in ms}
    want_t = {(r["url"], *t) for r, ts in zip(good, oracle.predict_re(texts))
              for t in ts}
    want_e = set()
    for r, evs in zip(good, oracle.predict_events(texts)):
        want_e |= _event_rows(r["url"], evs)
    got_m = {(r["url"], r["label"], r["start"], r["end"], r["surface"])
             for r in raw if r["kind"] == "mention"}
    got_t = {(r["url"], r["pred"], r["subj"], r["obj"])
             for r in raw if r["kind"] == "triple"}
    got_e = {(r["url"], r["event_type"], r["trigger"], r["role"],
              r["argument"]) for r in raw if r["kind"] == "event"}
    for name, got, want in (("mentions", got_m, want_m),
                            ("triples", got_t, want_t),
                            ("events", got_e, want_e)):
        if got != want:
            fails.append(f"oracle {name}: {len(got - want)} extra, "
                         f"{len(want - got)} missing of {len(want)}")
    if not want_t:
        fails.append("oracle sample produced no triples")
    committed = {
        (r["url"], r["pred"], r["subj"], r["obj"])
        for r in spark.read.parquet(prov_dir)
        .filter(F.col("url").isin(urls)).collect()
    }
    if committed != want_t:
        fails.append(f"committed triples of the sample differ from oracle: "
                     f"{len(committed ^ want_t)} rows")
    poison_rows = sum(1 for r in raw if r["url"] in poison_urls) + sum(
        1 for t in committed if t[0] in poison_urls)
    if poison_rows:
        fails.append(f"{poison_rows} rows from non-UTF-8 pages")
    return fails, poison_rows


def curate_output(spark, out_dir: str, n_docs: int) -> tuple:
    """One verdict row per doc; keep implies exact winner and canonical."""
    v = spark.read.parquet(out_dir)
    r = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("doc_id").alias("ids"),
        F.sum((F.col("keep") & ~(F.col("is_exact_winner")
                                 & F.col("is_canonical"))).cast("long"))
        .alias("bad_keep"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
    ).collect()[0]
    fails = []
    if not (r["n"] == r["ids"] == n_docs):
        fails.append(f"verdict rows {r['n']}, distinct docs {r['ids']}, "
                     f"input docs {n_docs}")
    if r["bad_keep"]:
        fails.append(f"{r['bad_keep']} kept docs not exact winner+canonical")
    if not r["kept"]:
        fails.append("no document kept")
    return fails, table_digest(v, VERDICT_KEY)


def _norm(rows, cols) -> list:
    def cell(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else round(v, 6)
        return v

    return sorted(tuple(cell(r[c]) for c in cols) for r in rows)


def curate_duckdb(spark, docs_sample_pdf) -> list:
    """curate_verdict (the curate_corpus chain) vs CURATE_CORPUS_SQL in
    DuckDB on the same document sample."""
    import duckdb

    from fastie_spark.session import local_df
    from fastie_spark.textops import (
        CURATE_CORPUS_SQL,
        curate_verdict,
        release_caches,
    )

    sdf = curate_verdict(local_df(
        spark, docs_sample_pdf,
        "doc_id long, source string, lang string, text string"))
    srows = [r.asDict() for r in sdf.collect()]
    release_caches()
    con = duckdb.connect()
    try:
        con.register("documents", docs_sample_pdf)
        rel = con.sql(CURATE_CORPUS_SQL)
        drows = [dict(zip(rel.columns, r)) for r in rel.fetchall()]
    finally:
        con.close()
    cols = sorted(VERDICT_KEY)
    if len(srows) != len(docs_sample_pdf) or _norm(srows, cols) != _norm(
            drows, cols):
        return [f"curate vs DuckDB oracle: {len(srows)} spark rows, "
                f"{len(drows)} oracle rows, rows differ"]
    return []
