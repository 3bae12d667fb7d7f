"""Property-based tests (hypothesis) for the offset algebra, span pairing,
clique/union-find invariants, and distributed connected components —
SURVEY.md §5(b)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from fastie_spark.chunking import auto_splitter, char_bases, split_one
from fastie_spark.decoders import get_span
from fastie_spark.cc import _driver_union_find


# ---------------------------------------------------------------------------
# J1 offset algebra: chunks reassemble the doc; char_base is the exact
# global offset of every chunk-local position
# ---------------------------------------------------------------------------
@given(st.text(min_size=0, max_size=4000), st.integers(min_value=1, max_value=700))
@settings(max_examples=60, deadline=None)
def test_chunk_roundtrip(text, width):
    chunks = split_one(text, width)
    assert "".join(chunks) == text
    assert all(len(c) <= width for c in chunks)
    bases = char_bases(chunks)
    for c, b in zip(chunks, bases):
        assert text[b : b + len(c)] == c
    # closed-form fixed-window base == cumulative length
    assert bases == [i * width for i in range(len(chunks))] or len(text) == 0


@given(st.lists(st.text(max_size=1200), min_size=1, max_size=8),
       st.integers(min_value=1, max_value=600))
@settings(max_examples=40, deadline=None)
def test_auto_splitter_mapping_partitions(texts, width):
    chunks, mapping = auto_splitter(texts, width)
    # mapping is a partition of chunk ids, in order
    seen = [v for vs in mapping.values() for v in vs]
    assert seen == list(range(len(chunks)))
    for k, vs in mapping.items():
        assert "".join(chunks[v] for v in vs) == texts[k]


# ---------------------------------------------------------------------------
# M16 get_span: pairing properties
# ---------------------------------------------------------------------------
@given(st.lists(st.integers(0, 50), max_size=12, unique=True),
       st.lists(st.integers(0, 50), max_size=12, unique=True))
@settings(max_examples=100, deadline=None)
def test_get_span_properties(starts, ends):
    spans = get_span(starts, ends)
    for s, e in spans:
        assert s <= e
        assert s in starts and e in ends
    # each end used at most once
    used_ends = [e for _, e in spans]
    assert len(used_ends) == len(set(used_ends))


# ---------------------------------------------------------------------------
# union-find: component = min over the true connected component
# ---------------------------------------------------------------------------
@given(st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=60))
@settings(max_examples=60, deadline=None)
def test_union_find_matches_bfs(pairs):
    pairs = [(f"n{a}", f"n{b}") for a, b in pairs]

    class _S:  # fake spark handle: _driver_union_find builds via pandas
        def createDataFrame(self, pdf, schema):
            return pdf

    pdf = _driver_union_find(_S(), pairs)
    got = dict(zip(pdf["node"], pdf["component"]))
    # brute-force components
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for node in adj:
        comp, stack = set(), [node]
        while stack:
            x = stack.pop()
            if x in comp:
                continue
            comp.add(x)
            stack.extend(adj[x])
        assert got[node] == min(comp)


def test_distributed_cc_star_graph_skew(spark):
    """A 4000-leaf star (one massively hot node) through the DISTRIBUTED
    label-propagation path — the skew case AQE + pointer jumping must
    survive; result must still be exact."""
    import pyspark.sql.functions as F

    from fastie_spark.cc import connected_components

    edges = spark.range(1, 4001).select(
        F.lit("hub").alias("src"),
        F.concat(F.lit("leaf"), F.col("id")).alias("dst"),
    )
    comps = connected_components(edges, broadcast_threshold=0)
    assert comps.select("component").distinct().count() == 1
    assert comps.count() == 4001
    root = comps.agg(F.min("component")).collect()[0][0]
    assert root == "hub"


def test_distributed_cc_long_path_converges(spark):
    """A 512-node path (diameter 511) must converge within the 25-round cap —
    only possible because of the pointer-jumping step (O(log d) rounds)."""
    import pyspark.sql.functions as F

    from fastie_spark.cc import connected_components

    edges = spark.range(0, 511).select(
        F.format_string("n%04d", F.col("id")).alias("src"),
        F.format_string("n%04d", F.col("id") + 1).alias("dst"),
    )
    comps = connected_components(edges, broadcast_threshold=0)
    rows = comps.collect()
    assert len(rows) == 512
    assert {r["component"] for r in rows} == {"n0000"}
