"""Property-based tests (hypothesis) for driver-side kernels — the
pure-python pieces that run inside Arrow UDFs, so property coverage here
covers every executor batch path."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from pyobo_spark.grounding.dictionary import (
    build_automaton,
    build_matcher,
    fold_text,
)
from pyobo_spark.normalize.curie import parse_one
from pyobo_spark.normalize.registry import Registry

REG = Registry.default()

STATUSES = {
    "ok", "empty", "blocklist", "not_curie", "unregistered_prefix",
    "unparsable_iri", "invalid_identifier",
}


@given(st.text(max_size=200))
@settings(max_examples=300, deadline=None)
def test_parse_one_total(raw):
    """The normalizer is total: never raises, always a known status, and
    ok-status implies a registered prefix."""
    prefix, identifier, status = parse_one(raw, REG)
    assert status in STATUSES
    if status == "ok":
        assert prefix in REG.records
        assert identifier is not None


@given(st.text(max_size=200))
@settings(max_examples=300, deadline=None)
def test_fold_text_idempotent(s):
    folded = fold_text(s)
    assert fold_text(folded) == folded
    assert "  " not in folded
    assert folded == folded.strip()


@given(
    st.lists(
        st.text(alphabet=st.characters(whitelist_categories=("Ll", "Nd")),
                min_size=1, max_size=8),
        min_size=0, max_size=40,
    )
)
@settings(max_examples=200, deadline=None)
def test_hybrid_matcher_equals_automaton(tokens):
    """HybridMatcher and the pure Aho-Corasick automaton agree on every
    input for a mixed single/multi-word dictionary."""
    entries = [
        ("alpha", "a:1", "rdfs:label"),
        ("beta", "a:2", "rdfs:label"),
        ("alpha beta", "a:3", "rdfs:label"),
        ("beta beta gamma", "a:4", "oboInOwl:hasExactSynonym"),
    ]
    ac = build_automaton(entries)
    hm = build_matcher(entries)
    got_ac = sorted(ac.search(tokens))
    got_hm = sorted(hm.search(tokens))
    assert got_ac == got_hm


@given(st.text(max_size=100))
@settings(max_examples=200, deadline=None)
def test_obo_escape_roundtrip(s):
    """Writer escaping → reader unescaping is lossless up to the
    reference's definition cleanup (tabs/newlines → single spaces)."""
    import re

    from pyobo_spark.sources.obo_reader import _clean_def, _unescape

    escaped = (
        s.replace("\\", "\\\\").replace('"', '\\"')
        .replace("\n", "\\n").replace("\t", "\\t")
    )
    # what the reader does to a def-quoted string
    out = _clean_def(escaped)
    expected = re.sub(r" {2,}", " ", s.replace("\n", " ").replace("\t", " ")).strip()
    # _clean_def collapses doubled spaces repeatedly; emulate
    while "  " in expected:
        expected = expected.replace("  ", " ")
    assert out == expected


@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)),
            max_size=40,
        ),
        max_size=15,
    )
)
@settings(max_examples=300, deadline=None)
def test_expasy_chunk_parser_total(lines):
    """The ExPASy record parser is total over arbitrary line soup: never
    raises, and every emitted record carries a non-empty identifier (a
    chunk with no ID line yields nothing)."""
    from pyobo_spark.sources.expasy_source import _parse_records_in_chunk

    recs = _parse_records_in_chunk("\n".join(lines))
    for rec in recs:
        assert rec[0]  # identifier present and non-empty


_NODES = [f"n{i}" for i in range(10)]
# fixed features every drawn graph carries besides its random edges: a
# self-loop, a duplicate edge, a 3-cycle, a hub with many children and
# a part disconnected from the rest
_FIXED_EDGES = [
    ("n0", "n0"), ("n1", "n2"), ("n1", "n2"),
    ("c0", "c1"), ("c1", "c2"), ("c2", "c0"),
    *[(f"h{i}", "hub") for i in range(6)], ("hub", "n3"),
    ("z0", "z1"), ("z1", "z2"),
]


@given(
    extra=st.lists(
        st.tuples(st.sampled_from(_NODES), st.sampled_from(_NODES)),
        max_size=30,
    ),
    roots=st.lists(
        st.sampled_from(_NODES + ["c0", "hub", "h1", "z0", "z2", "absent"]),
        min_size=1,
        max_size=4,
    ),
    max_iter=st.sampled_from([0, 1, 2, 50]),
)
@settings(max_examples=10, deadline=None)
def test_rooted_reachable_equals_filtered_closure(spark, extra, roots, max_iter):
    """hierarchy.reachable (the rooted sweep, and its fallback with
    broadcast_edge_bound=0) equals the all-pairs closure filtered to
    the roots, upward and downward, at every level cap."""
    from pyobo_spark.operators import hierarchy as H

    assert int(spark.conf.get("spark.sql.shuffle.partitions")) >= 8
    edges = spark.createDataFrame(
        spark.sparkContext.parallelize(_FIXED_EDGES + extra, 3),
        "child string, parent string",
    )
    assert edges.rdd.getNumPartitions() >= 2
    for down, closure, col in (
        (False, H.ancestors, "ancestor"),
        (True, H.descendants, "descendant"),
    ):
        want: dict[str, set[str]] = {r: set() for r in roots}
        for r in closure(edges, max_iter=max_iter).collect():
            if r["identifier"] in want:
                want[r["identifier"]].add(r[col])
        for bound in (None, 0):
            got = H.reachable(
                edges, roots, max_iter=max_iter,
                broadcast_edge_bound=bound, down=down,
            )
            assert got == want, (down, bound)


#: Mixed-case and non-ASCII curies: Spark orders strings by their UTF-8
#: bytes, so "B" < "a", "Z" < "é", and U+FF21 < U+1D538 (UTF-16 order
#: would put the surrogate pair first).
_CC_NODES = ["A:1", "a:1", "B:2", "b:10", "b:9", "Z:0", "é:1", "e:1",
             "Ａ:1", "\U0001d538:1", "日本:1", "α:2"]
_CC_FIXED_EDGES = [
    ("s:0", "s:0"),  # self-loop-only node
    ("c:1", "c:2"), ("c:2", "c:0"), ("c:0", "c:1"),  # cycle
    ("d:1", "d:2"), ("d:1", "d:2"), ("d:2", "d:1"),  # duplicate, reversed
    *[(f"h:{i}", "hub:0") for i in range(8)],  # hub
    ("x:1", "x:2"),  # disconnected part
    # pairs whose minimum by byte order differs from their UTF-16,
    # accent-folded, numeric or case-folded order
    ("\U0001d538:1", "Ａ:1"), ("é:1", "Z:0"), ("b:9", "b:10"), ("a:1", "B:2"),
]


@given(
    extra=st.lists(
        st.tuples(st.sampled_from(_CC_NODES), st.sampled_from(_CC_NODES)),
        max_size=25,
    ),
)
@settings(max_examples=6, deadline=None)
def test_local_components_equal_star_rounds(spark, extra):
    """The bounded connected_components path (capped collect + driver
    union-find) returns exactly the star rounds' (curie, component)
    rows, whose min representative is Spark's string order."""
    from pyobo_spark.operators import components as C

    assert int(spark.conf.get("spark.sql.shuffle.partitions")) >= 8
    edges = spark.createDataFrame(
        spark.sparkContext.parallelize(_CC_FIXED_EDGES + extra, 3),
        "src string, dst string",
    )
    assert edges.rdd.getNumPartitions() >= 2
    local = sorted(tuple(r) for r in C.connected_components(edges).collect())
    assert C.LAST_CC_STATS["mode"] == "broadcast"
    stars = sorted(
        tuple(r)
        for r in C.connected_components(edges, broadcast_edge_bound=0).collect()
    )
    assert C.LAST_CC_STATS["mode"] == "stars"
    assert local == stars


def test_components_null_endpoint(spark):
    """An edge with a NULL endpoint joins nothing, but its other endpoint
    is still a node, and NULL itself is one (NULL, NULL) row — on both
    paths."""
    from pyobo_spark.operators import components as C

    edges = spark.createDataFrame(
        [("a", None), (None, "b"), ("b", "c"), (None, None)],
        "src string, dst string",
    )
    want = [("a", "a"), ("b", "b"), ("c", "b"), (None, None)]
    for bound in (None, 0):
        got = C.connected_components(edges, broadcast_edge_bound=bound)
        assert sorted(
            (tuple(r) for r in got.collect()), key=lambda t: (t[0] is None, t)
        ) == want, bound


def _min_labels_reference(n, edges):
    """Smallest node of each node's component: plain union-find."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return [find(x) for x in range(n)]


@given(
    n=st.integers(1, 40),
    data=st.data(),
)
@settings(max_examples=200, deadline=None)
def test_min_labels_equal_union_find(n, data):
    """graph_local.min_labels gives every node its component's smallest
    id, for any undirected edge list (cycles, self-loops, duplicates)."""
    import numpy as np

    from pyobo_spark.operators import graph_local

    node = st.integers(0, n - 1)
    edges = data.draw(st.lists(st.tuples(node, node), max_size=60))
    u = np.array([a for a, _ in edges], dtype=np.int64)
    v = np.array([b for _, b in edges], dtype=np.int64)
    got = graph_local.min_labels(n, u, v)
    assert got.tolist() == _min_labels_reference(n, edges)


def test_min_labels_long_path_and_cycle():
    """A 200k-node path and cycle with shuffled ids converge in a few
    rounds. Hooking endpoints instead of roots moves a label one hop
    per round and does not finish this in minutes."""
    import time

    import numpy as np

    from pyobo_spark.operators import graph_local

    n = 200_000
    ids = np.random.default_rng(7).permutation(n)
    t0 = time.perf_counter()
    path = graph_local.min_labels(n, ids[:-1], ids[1:])
    cycle = graph_local.min_labels(n, ids, np.roll(ids, 1))
    assert time.perf_counter() - t0 < 10
    assert not path.any() and not cycle.any()  # one component: label 0


#: two prefixes over the same local ids (a CURIE-keyed index must keep
#: them apart), plus names and targets whose smallest value by bytes
#: differs from other orders
_LOCALS = ["1", "2", "3", "X", "x"]
_NAMES = [None, "b", "a", "B", "é"]
_CAT_FIXED = {
    # a duplicated id with a NULL and two non-NULL names
    "terms": [("pa", "1", None), ("pa", "1", "b"), ("pa", "1", "a"),
              ("pb", "1", "other"), ("pa", "2", "two")],
    # an alt id under two primaries, and an alt id that is a primary
    "alts": [("pa", "a1", "3"), ("pa", "a1", "2"), ("pa", "1", "2")],
    # NULL target prefix and NULL target id
    "xrefs": [("pa", "1", None, "9"), ("pa", "1", "t", None),
              ("pa", "1", "t", "9"), ("pa", "1", "t", "9"),
              ("pb", "1", "t", "8")],
    "synonyms": [("pa", "3", "three", "oboInOwl:hasExactSynonym")],
    "parents": [
        ("pa", "1", "pa", "1"),  # self-loop
        ("pa", "2", "pa", "3"), ("pa", "3", "pa", "X"),
        ("pa", "X", "pa", "2"),  # cycle
        *[(p, loc, "pa", "x") for p in ("pa", "pb") for loc in "123"],  # hub
        ("pb", "X", "pa", "1"),  # child in pb, parent in pa
    ],
}
_PFX = st.sampled_from(["pa", "pb"])
_LOC = st.sampled_from(_LOCALS)


def _catalog_tables(spark, rows: dict) -> dict:
    """Canonical-schema tables over ``rows`` (only the indexed columns
    set), each dealt round-robin over 3 partitions. Built from pandas,
    so a scan is a local relation, not a Python RDD (~10x cheaper per
    job)."""
    import pandas as pd

    from pyobo_spark.sources.obo_reader import table_schemas

    cols = {
        "terms": ("prefix", "identifier", "name"),
        "alts": ("prefix", "alt_id", "identifier"),
        "xrefs": ("prefix", "identifier", "target_prefix", "target_id"),
        "parents": ("child_prefix", "child", "parent_prefix", "parent"),
        "synonyms": ("prefix", "identifier", "text", "predicate"),
    }
    canon = table_schemas()
    out = {}
    for name, given_cols in cols.items():
        fields = canon[name].fieldNames()
        full = [
            [dict(zip(given_cols, r)).get(f) for f in fields]
            for r in _CAT_FIXED[name] + rows.get(name, [])
        ]
        out[name] = spark.createDataFrame(
            pd.DataFrame(full, columns=fields), canon[name]
        ).repartition(3)
    return out


@given(
    terms=st.lists(st.tuples(_PFX, _LOC, st.sampled_from(_NAMES)), max_size=12),
    alts=st.lists(st.tuples(_PFX, st.sampled_from(_LOCALS + ["a1", "a2"]), _LOC),
                  max_size=6),
    xrefs=st.lists(
        st.tuples(_PFX, _LOC, st.sampled_from([None, "t", "u"]),
                  st.sampled_from([None, "9", "10"])),
        max_size=8,
    ),
    parents=st.lists(st.tuples(_PFX, _LOC, _PFX, _LOC), max_size=8),
    probes=st.lists(
        st.tuples(st.sampled_from(["pa", "PA", "pb"]),
                  st.sampled_from(_LOCALS + ["a1", "absent"])),
        max_size=1,
    ),
)
@settings(max_examples=3, deadline=None)
def test_catalog_index_equals_spark_path(
    spark, terms, alts, xrefs, parents, probes
):
    """Every lookup the catalog answers from its driver index equals
    the per-call Spark path (a catalog whose max_collect_rows is 0) and
    the rooted Spark formulation of the hierarchy lookups, on catalogs
    with duplicate keys, NULL names and target prefixes, an alt id that
    is also a primary id, self-loops, a cycle, a hub, two prefixes with
    colliding local ids and uppercase arguments."""
    from pyspark.sql import functions as F

    from pyobo_spark.api import OntologyCatalog
    from pyobo_spark.operators import hierarchy as H

    tables = _catalog_tables(spark, {"terms": terms, "alts": alts,
                                     "xrefs": xrefs, "parents": parents})
    assert min(t.rdd.getNumPartitions() for t in tables.values()) >= 2
    cat = OntologyCatalog(tables)
    spark_path = OntologyCatalog(tables)
    spark_path.max_collect_rows = 0
    # pb:1 collides with pa:1 in every table
    for k, (arg, ident) in enumerate([("PB", "1")] + probes):
        p = arg.lower()
        curie = f"{arg}:{ident}"
        name = spark_path.get_name(arg, ident)
        primary = spark_path.get_primary_identifier(arg, ident)
        assert cat.get_name(arg, ident) == name
        assert cat.get_name_by_curie(curie) == name
        assert cat.get_primary_identifier(arg, ident) == primary
        assert cat.get_primary_curie(curie) == f"{p}:{primary}"
        assert (cat.get_primary_reference(arg, ident)
                == spark_path.get_primary_reference(arg, ident))
        assert cat.get_xrefs(arg, ident) == spark_path.get_xrefs(arg, ident)

        edges = H.curie_edges(tables["parents"], p)
        node = f"{p}:{ident}"
        up = H.reachable(edges, [node])[node]
        down = H.reachable(edges, [node], down=True)[node]
        assert cat.get_ancestors(arg, ident) == up
        assert cat.get_descendants(arg, curie) == down
        assert cat.get_children(arg, ident) == {
            r["identifier"] for r in H.children(edges, node).collect()
        }
        for other in _LOCALS:
            assert cat.has_ancestor(arg, ident, other) == (f"{p}:{other}" in up)
            assert cat.is_descendent(arg, ident, other) == (
                f"{p}:{other}" in down)
        if k == 0:  # two collects over joins: once per catalog
            got = cat.get_literal_mappings_subset(arg, ident)
            below = {c[len(p) + 1:] for c in down if c.startswith(f"{p}:")}
            cols = ["identifier", "text", "predicate"]
            assert sorted(map(tuple, got.select(cols).collect())) == sorted(
                tuple(r) for r in cat.get_literal_mappings_df(p)
                .select(cols).collect() if r["identifier"] in below
            )

    names: dict = {}
    for r in tables["terms"].groupBy("prefix", "identifier").agg(
            F.min("name")).collect():
        names.setdefault(r[0], {})[r[1]] = r[2]
    primaries: dict = {}
    for r in tables["alts"].groupBy("prefix", "alt_id").agg(
            F.min("identifier")).collect():
        primaries.setdefault(r[0], {})[r[1]] = r[2]
    for arg in ("pa", "PB"):
        p = arg.lower()
        assert cat.get_ids(arg) == set(names[p])
        assert cat.get_id_name_mapping(arg) == {
            i: n for i, n in names[p].items() if n is not None
        }
        assert cat.get_alts_to_id(arg) == primaries.get(p, {})


#: ties on score (a:0 / a:1), on score and length (b:1 "beta" vs b:3
#: "beta gamma"), multi-token synonyms and a candidate that outscores a
#: longer one ("alpha" label vs "alpha beta" synonym)
_GROUND_ENTRIES = [
    ("alpha", "a:1", "rdfs:label"),
    ("Alpha", "a:0", "rdfs:label"),
    ("alpha beta", "a:3", "oboInOwl:hasExactSynonym"),
    ("alpha-beta", "z:9", "oboInOwl:hasRelatedSynonym"),
    ("beta", "b:1", "oboInOwl:hasExactSynonym"),
    ("beta gamma", "b:3", "oboInOwl:hasExactSynonym"),
    ("beta gamma delta", "c:1", "oboInOwl:hasNarrowSynonym"),
    ("gamma", "c:2", "oboInOwl:hasBroadSynonym"),
    ("gamma", "c:0", "oboInOwl:hasNarrowSynonym"),
]
_GROUND_WORDS = ["alpha", "Beta", "gamma", "delta", "ALPHA-beta", "x", " "]


def _span(kind, text):
    return {"kind": kind, "text": text, "media_ref": None, "offset": 0}


#: a NULL spans array, an empty one, NULL span elements and media spans
#: before text spans (span_idx counts them), empty and NULL text
_GROUND_FIXED = [
    None,
    [],
    [None, _span("text", "alpha beta gamma delta")],
    [_span("image", None), _span("text", "beta gamma alpha"), None,
     _span("audio", "alpha"), _span("text", "Alpha-Beta x gamma")],
    [_span("text", ""), _span("text", None), _span("text", "x  gamma")],
]

_ground_span = st.one_of(
    st.none(),
    st.builds(
        _span,
        st.sampled_from(["text", "text", "image"]),
        st.one_of(st.none(),
                  st.lists(st.sampled_from(_GROUND_WORDS), max_size=8)
                  .map(" ".join)),
    ),
)


@given(
    docs=st.lists(st.one_of(st.none(), st.lists(_ground_span, max_size=4)),
                  max_size=12),
    int_ids=st.booleans(),
)
@settings(max_examples=4, deadline=None)
def test_driver_grounding_equals_map_in_pandas(
    spark, tmp_path_factory, docs, int_ids
):
    """detect_mentions on documents already on the driver (the driver
    placement) equals the mapInPandas placement on a parquet copy, which
    equals the mapInPandas candidates resolved by best_match's window —
    and keep_all agrees across placements too. Integer doc_ids pin the
    string cast on both paths."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from pyobo_spark.grounding import matcher

    assert int(spark.conf.get("spark.sql.shuffle.partitions")) >= 8
    span_t = T.StructType([
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ])
    schema = T.StructType([
        T.StructField("doc_id", T.LongType() if int_ids else T.StringType()),
        T.StructField("spans", T.ArrayType(span_t)),
    ])
    records = [
        {"doc_id": i if int_ids else f"d{i}", "spans": spans}
        for i, spans in enumerate(_GROUND_FIXED + docs)
    ]
    local = spark.createDataFrame(
        pa.Table.from_pylist(records, schema=to_arrow_schema(schema)))
    path = str(tmp_path_factory.mktemp("ground_docs"))
    local.repartition(3).write.mode("overwrite").parquet(path)
    scanned = spark.read.parquet(path)
    assert local.isLocal() and not scanned.isLocal()
    assert scanned.rdd.getNumPartitions() >= 2
    bc = spark.sparkContext.broadcast(build_matcher(_GROUND_ENTRIES))

    def rows(df):
        return sorted(tuple(r) for r in df.select(
            [f.name for f in matcher.MATCH_SCHEMA]).collect())

    on_driver = matcher.detect_mentions(local, bc)
    assert on_driver.isLocal()  # the driver placement ran
    got = rows(on_driver)
    assert got == rows(matcher.detect_mentions(scanned, bc))
    every = matcher.detect_mentions(scanned, bc, keep_all=True)
    assert got == rows(matcher.best_match(every))
    assert rows(matcher.detect_mentions(local, bc, keep_all=True)) == rows(
        every)
    # a wider local frame, doc_id last: the driver placement selects and
    # casts in Spark instead of collecting the frame as it is
    wide_t = T.StructType([schema["spans"],
                           T.StructField("note", T.StringType()),
                           schema["doc_id"]])
    wide = spark.createDataFrame(pa.Table.from_pylist(
        [dict(r, note="x") for r in records], schema=to_arrow_schema(wide_t)))
    on_driver = matcher.detect_mentions(wide, bc)
    assert on_driver.isLocal() and rows(on_driver) == got
