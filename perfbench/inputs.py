"""Workload definitions and seeded input generation.

Every page comes from `fastie_spark.fixtures.build_page_row`, seeded per
(seed, doc index), so the same `--seed` gives byte-identical inputs. The
program only ever sees the generated parquet files and the linker / alias
tables derived from `fixtures.build_vocab()`.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

LINKER_SCHEMA = (
    "alias string, canonical_id string, entity_type string, prior double"
)
EDGES_SCHEMA = "src string, dst string"


# one corpus for both workloads: the fixture-default page mix
N_DOCS = 10_000
P_LONG = 0.15          # share of pages doubled past the 510-char chunk
N_FILES = 8            # evenly sized parquet files
POISON_SHARE = 0.01    # share of pages whose html is not UTF-8


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str              # "kg" (run_kg_job) or "curate" (curate_verdict)
    # warm runs checked but not timed: jobs keep getting faster over the
    # first runs of a session (JIT, heap growth); a kg job is flat after
    # one, a curate job still drops by a quarter over its next two
    warmup_runs: int


WORKLOADS = {
    w.name: w
    for w in (
        # the headline throughput case: the per-doc Python loop (event pass,
        # matcher, decoders) and Spark's per-job overhead dominate; the
        # undecodable pages must yield no rows
        Workload("kg_web", "kg", warmup_runs=1),
        # the same corpus through the JVM-side curation chain: no per-doc
        # Python, so a fused-loop change must not move it (curation reads
        # the text column, which undecodable pages keep intact)
        Workload("curate", "curate", warmup_runs=3),
    )
}


def generate_pages(vocab, seed: int) -> tuple:
    """(rows, poison_urls). Poison pages carry their html re-encoded as
    UTF-16, which the html->text stage cannot decode; their `text` column
    stays intact, so the oracle knows what a decodable page would yield."""
    from fastie_spark.fixtures import build_page_row

    rows = [build_page_row(vocab, i, seed=seed, p_long=P_LONG)
            for i in range(N_DOCS)]
    poison: set = set()
    rng = np.random.default_rng((seed, 0x9015))
    k = round(N_DOCS * POISON_SHARE)
    for i in sorted(rng.choice(N_DOCS, size=k, replace=False).tolist()):
        row = rows[i]
        row["html"] = row["html"].decode("utf-8").encode("utf-16")
        poison.add(row["url"])
    return rows, poison


def write_file(rows: list, path: str) -> None:
    """One parquet file of page rows (warc_ts as a UTC timestamp)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def write_pages(rows: list, path: str, n_files: int) -> None:
    """`rows` split in order over `n_files` evenly sized parquet files."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(rows)), n_files)):
        write_file([rows[j] for j in part],
                   os.path.join(path, f"part-{i:03d}.parquet"))
