"""Session defaults and the shared Arrow boundary (session.arrow_map_fn)."""

import os

import pyarrow as pa

from fastie_spark.session import _cores_of, arrow_map_fn


def test_cores_of_follows_the_host():
    assert _cores_of("local[*]") == max(8, os.cpu_count())
    assert _cores_of("local[2]") == 8  # max(8, N) floor
    assert _cores_of("local-cluster[2,3,1024]") == 6
    assert _cores_of("yarn") == 32  # a cluster master names no count


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
