"""Driver-style Spark-vs-DuckDB check over __spark_entry__ queries()/oracle_sql().
Usage: python tools_oracle_check.py <sf_dir> [query ...]
"""
import math
import os
import sys

import duckdb

# the checkout this script lives in; exported on PYTHONPATH (before the
# session starts) so Spark's python workers import the same fastie_spark
REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p
)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(rows, cols):
    """Canonicalize like the DRIVER does: a pandas sort_values over the raw
    cell values. The old str(x)-keyed sort silently accepted column types
    pandas cannot sort (round-5 regression: an array<double> column passed
    here but errored the official driver row with 'unhashable type: list'),
    so this must fail exactly where the driver fails."""
    import pandas as pd

    def cell(v):
        return round(v, 6) if isinstance(v, float) else v

    df = pd.DataFrame(
        [[cell(r[c]) for c in cols] for r in rows], columns=list(cols)
    )
    if len(df):
        df = df.sort_values(list(cols))  # raises on unsortable cell types
    out = []
    for vals in df.itertuples(index=False, name=None):
        out.append(tuple(
            "nan" if isinstance(v, float) and math.isnan(v) else v
            for v in vals
        ))
    return out


def main():
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    import __spark_entry__ as E
    from fastie_spark.session import get_spark

    spark = get_spark(master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
                      shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    qs = E.queries()
    sqls = E.oracle_sql()
    if not names:
        names = list(qs)
    fails = 0
    for name in names:
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = [r.asDict() for r in sdf.collect()]
            if name not in sqls:
                print(f"{name}: NO_ORACLE spark_rows={len(srows)}")
                continue
            ddf = con.sql(sqls[name])
            dcols = sorted(ddf.columns)
            drows = [dict(zip(ddf.columns, r)) for r in ddf.fetchall()]
            ok_schema = scols == dcols
            ok_rows = len(srows) == len(drows)
            a, b = norm(srows, scols), norm(drows, dcols)
            ok_hash = a == b
            status = "OK" if (ok_schema and ok_rows and ok_hash) else "FAIL"
            if status == "FAIL":
                fails += 1
            print(f"{name}: {status} rows={len(srows)}/{len(drows)} "
                  f"schema={ok_schema} hash={ok_hash}")
            if not ok_schema:
                print(f"  spark cols {scols}\n  duck  cols {dcols}")
            if ok_schema and not ok_hash:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                only_a = [x for x in a if x not in set(b)][:3]
                only_b = [x for x in b if x not in set(a)][:3]
                print(f"  first positional diffs: {diffs}")
                print(f"  spark-only: {only_a}\n  duck-only : {only_b}")
        except Exception as ex:  # noqa: BLE001
            fails += 1
            print(f"{name}: ERROR {type(ex).__name__}: {ex}")
    print(f"DONE fails={fails}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
