"""Session defaults and the shared Arrow boundary (session.arrow_map_fn)."""

import json
import os
import subprocess
import sys

import pyarrow as pa

from fastie_spark.session import arrow_map_fn


def test_session_sizes_from_spark():
    """Spark's defaultParallelism sizes the shuffle unless shuffle_partitions
    is given, and the driver heap defaults to a quarter of physical memory.
    Driver memory is fixed when the JVM starts, so this runs in a fresh
    process."""
    script = """
import json
from fastie_spark.session import get_spark
s = get_spark(master="local[2]")
out = [s.sparkContext.defaultParallelism,
       s.conf.get("spark.sql.shuffle.partitions"),
       s.sparkContext.getConf().get("spark.driver.memory")]
s = get_spark(shuffle_partitions=3)
out += [s.sparkContext.defaultParallelism,
        s.conf.get("spark.sql.shuffle.partitions")]
print(json.dumps(out))
s.stop()
"""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_MASTER")}
    r = subprocess.run([sys.executable, "-c", script], check=True,
                       capture_output=True, text=True, cwd=repo, env=env)
    quarter_gb = max(1, os.sysconf("SC_PAGE_SIZE")
                     * os.sysconf("SC_PHYS_PAGES") // 4 // 2**30)
    assert json.loads(r.stdout.strip().splitlines()[-1]) == [
        2, "2", f"{quarter_gb}g", 2, "3"]


def test_arrow_map_fn_types_rows_from_ddl(spark):
    # spark: the DDL is parsed through the live session
    ddl = "k string, n long, w int, xs array<double>, b binary"

    def process(ctx, keys):
        return [(k, len(k) + ctx, 7, [0.5] * len(k), k.encode())
                for k in keys if k]

    fn = arrow_map_fn(["key"], ddl, process, setup=lambda: 10)
    batches = [pa.RecordBatch.from_pydict({"key": ["ab", "", "c"]}),
               pa.RecordBatch.from_pydict({"key": [""]})]
    out = list(fn(iter(batches)))
    want = pa.schema([("k", pa.string()), ("n", pa.int64()),
                      ("w", pa.int32()), ("xs", pa.list_(pa.float64())),
                      ("b", pa.binary())])
    assert [b.schema for b in out] == [want, want]  # empty batch typed too
    assert out[0].to_pylist() == [
        {"k": "ab", "n": 12, "w": 7, "xs": [0.5, 0.5], "b": b"ab"},
        {"k": "c", "n": 11, "w": 7, "xs": [0.5], "b": b"c"},
    ]
    assert out[1].num_rows == 0
