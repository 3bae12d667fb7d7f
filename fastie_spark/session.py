"""SparkSession factory with the engine's standard configs.

Tuned for correctness-at-scale defaults: AQE on (runtime coalesce + skew
join), Arrow transfer for driver-local frames, UTC session timezone so
DuckDB oracle comparisons are stable.

Sizing is Spark's own: ``SparkContext.defaultParallelism`` comes from the
master (N for ``local[N]``, the host's cores for ``local[*]``, workers x
cores for ``local-cluster``), file-scan splits follow it, and shuffle
partitions equal it unless the caller passes ``shuffle_partitions``. On a
cluster the partition count comes from the default parallelism given to
spark-submit (``--conf``) or from ``shuffle_partitions``. The driver heap defaults to a quarter of
physical memory, the JVM's own default; ``SPARK_GRAFT_DRIVER_MEM`` sets it.

Also home of the engine's one Python boundary (``arrow_map_fn``): every
per-row Python stage runs as a ``mapInArrow`` function built here.
"""

from __future__ import annotations

import functools
import os
from typing import Callable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "fastie_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # None + no env = respect an externally provided master (spark-submit
    # --master). Only fall back to local[cpus] when nothing is configured.
    explicit = master or os.environ.get("SPARK_GRAFT_MASTER")
    # the JVM's own default max heap: a quarter of physical memory
    heap_gb = max(1, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
                  // 4 // 2**30)
    b = (
        SparkSession.builder
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{heap_gb}g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    if explicit:
        b = b.master(explicit)
    try:
        spark = b.getOrCreate()
    except Exception:
        if explicit:
            raise
        # no spark-submit --master either
        cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
        spark = b.master(f"local[{cpus}]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.shuffle.partitions", str(
        shuffle_partitions or spark.sparkContext.defaultParallelism))
    return spark


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Create a DataFrame from driver-local rows via pandas/Arrow.

    The plain list path pickles rows into defaultParallelism Python slices,
    and every downstream materialization (e.g. each broadcast-hash-join
    build) pays a Python-worker round-trip per slice — measured ~4x slower
    than the Arrow path for dictionary-sized tables. Always use this for
    linker dictionaries, alias edges, component maps, fixtures."""
    # imported here, not at module top: the Python stage functions live in
    # this module too, and executors have no use for pandas
    import pandas as pd

    pdf = rows if isinstance(rows, pd.DataFrame) else pd.DataFrame(list(rows))
    return spark.createDataFrame(pdf, schema)


@functools.cache
def _arrow_schema(ddl: str):
    """DDL -> Arrow schema, parsed through the active session once per
    process. The result is a plain value, so a stage function can still be
    built after the session that parsed its schema has stopped."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    return to_arrow_schema(StructType.fromDDL(ddl))


def arrow_map_fn(in_cols: Sequence[str], ddl: str,
                 process: Callable[..., list],
                 setup: Callable[[], object] | None = None):
    """The one Python boundary: a ``mapInArrow`` function over the columns
    ``in_cols``, emitting rows of the DDL schema ``ddl``.

    Per task, ``setup()`` (optional) builds the per-worker context once;
    per record batch, ``process(ctx, *cols)`` gets each input column as a
    Python list and returns row tuples in ``ddl`` column order. Rows become
    typed Arrow arrays directly (mapInArrow does not cast, so the types come
    from ``ddl``) — no pandas block on either side of the boundary
    (guide-§4 Python-boundary cost: building the pandas DataFrame alone
    measured ~35 ms per 58k output rows, before the serializer's
    pandas->arrow conversion). Use as
    ``df.mapInArrow(arrow_map_fn(cols, ddl, process), ddl)``."""
    import pyarrow as pa

    schema = _arrow_schema(ddl)

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        ctx = setup() if setup is not None else None
        for batch in batches:
            rows = process(ctx, *(batch.column(c).to_pylist() for c in in_cols))
            cols = list(zip(*rows)) if rows else [[] for _ in schema]
            yield pa.RecordBatch.from_arrays(
                [pa.array(v, type=f.type) for v, f in zip(cols, schema)],
                schema=schema,
            )

    return fn
