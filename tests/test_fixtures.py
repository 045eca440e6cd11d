"""Fixture generator purity: same seed → identical rows (FIXTURES.md
contract — golden files never drift), planted mentions are consistent,
and the skew hub is present."""

from __future__ import annotations

import ast
from pathlib import Path

from pyobo_spark.fixtures import generator


def test_determinism():
    a = generator.generate(n_terms=50, n_docs=100)
    b = generator.generate(n_terms=50, n_docs=100)
    assert a.terms == b.terms
    assert a.documents == b.documents
    assert a.expected_mentions == b.expected_mentions
    assert a.expected_components == b.expected_components
    # different seed → different corpus
    c = generator.generate(n_terms=50, n_docs=100, seed=7)
    assert c.documents != a.documents


def test_planted_mentions_reference_real_spans():
    fx = generator.generate(n_terms=30, n_docs=200)
    docs = {d["doc_id"]: d["spans"] for d in fx.documents}
    for m in fx.expected_mentions:
        span = docs[m["doc_id"]][m["span_idx"]]
        assert span["kind"] == "text"
        # the planted label's tokens must appear in the span text
        ident = int(m["curie"].split(":")[1])
        label = generator._label(ident)
        assert label in span["text"]


def test_skew_hub_share():
    fx = generator.generate(n_terms=60, n_docs=10)
    hub = sum(
        1 for x in fx.xrefs
        if x["prefix"] == "fixo" and x["identifier"] == f"{1:07d}"
        and x["target_prefix"] == "fixq"
    )
    assert hub / len(fx.xrefs) >= 0.2  # ~30% by construction


def test_media_interleaving():
    fx = generator.generate(n_terms=10, n_docs=50)
    kinds = {
        s["kind"] for d in fx.documents if int(d["doc_id"][4:]) % 5 == 0
        for s in d["spans"]
    }
    assert kinds & {"image", "audio", "table"}
    # offsets strictly increasing per doc
    for d in fx.documents:
        offs = [s["offset"] for s in d["spans"]]
        assert offs == sorted(offs) and len(set(offs)) == len(offs)


def test_tests_read_no_reference_snapshot_path():
    """Tier-1 takes its fixture files from tests/resources: no test
    module holds a string literal under the PyOBO reference snapshot's
    directory, which a bare host does not have."""
    # built from parts so that this module does not match itself
    snapshot_dir = "/" + "/".join(("root", "reference")) + "/"
    offenders = [
        f"{path.name}:{node.lineno}"
        for path in sorted(Path(__file__).parent.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith(snapshot_dir)
    ]
    assert not offenders, offenders
