"""Golden-parity tests on a ChEBI-style fixture ontology,
tests/resources/test_chebi.obo: an 18-term excerpt written in this repo
in ChEBI's OBO grammar (subsetdefs, a synonym typedef, typed and
provenance-bracketed synonyms, described xrefs, charge property_values,
is_a edges and an unqualified relationship). We parse it with OUR reader
and assert the structural facts PyOBO's exports would produce; each
asserted value is read off a line of that file, not taken from the
reader's output."""

from __future__ import annotations

from pathlib import Path

import pytest

from pyobo_spark.sources.obo_reader import parse_obo_text

FIXTURE = Path(__file__).parent / "resources" / "test_chebi.obo"


@pytest.fixture(scope="module")
def po():
    with open(FIXTURE) as fh:
        return parse_obo_text(fh.read())


def test_header(po):
    assert po.prefix == "chebi"
    assert po.version == "185"


def test_terms_names(po):
    # 18 [Term] stanzas (BASELINE.md scale anchor)
    assert len(po.terms) == 18
    names = {t["identifier"]: t["name"] for t in po.terms}
    assert names["24431"] == "chemical entity"
    assert names["23367"] == "molecular entity"
    assert names["24870"] == "ion"
    # every term carries the chebi prefix
    assert {t["prefix"] for t in po.terms} == {"chebi"}


def test_definitions_cleaned(po):
    defs = {t["identifier"]: t["definition"] for t in po.terms if t["definition"]}
    assert defs["24870"] == "A molecular entity having a net electric charge."
    assert defs["24431"].startswith("A chemical entity is a physical entity")


def test_synonyms_with_types(po):
    # molecular entity: 6 synonyms, one typed IUPAC_NAME EXACT
    mol = [s for s in po.synonyms if s["identifier"] == "23367"]
    assert len(mol) == 6
    exact_typed = [s for s in mol if s["type"] == "IUPAC_NAME"]
    assert len(exact_typed) == 1
    assert exact_typed[0]["text"] == "molecular entity"
    assert exact_typed[0]["predicate"] == "oboInOwl:hasExactSynonym"
    related = [s for s in mol if s["predicate"] == "oboInOwl:hasRelatedSynonym"]
    assert len(related) == 5
    # provenance brackets parse
    assert any(s["provenance"] == ["IUPAC"] for s in mol)


def test_is_a_dag(po):
    pairs = {(p["child"], p["parent"]) for p in po.parents}
    assert ("23367", "24431") in pairs  # molecular entity is_a chemical entity
    assert ("24870", "23367") in pairs  # ion is_a molecular entity
    # monoatomic ion has two parents
    parents_24867 = {p for c, p in pairs if c == "24867"}
    assert parents_24867 == {"24870", "33238"}


def test_xrefs_and_citations(po):
    xr = {(x["identifier"], x["target_prefix"], x["target_id"]) for x in po.xrefs}
    assert ("28741", "wikipedia", "Sodium_Fluoride") in xr
    # PMID citations appear as xrefs in the raw file; the engine's
    # PROVENANCE_PREFIXES routing (exports.route_provenance_xrefs)
    # separates them downstream
    assert any(tp == "pmid" for _, tp, _ in xr)


def test_property_values(po):
    charges = [
        p for p in po.properties
        if p["predicate_curie"].endswith("charge")
    ]
    assert len(charges) == 12  # 8 zero + 4 minus-one
    assert {p["value"] for p in charges} == {"0", "-1"}
    assert all(p["datatype"] == "xsd:string" for p in charges)


def test_unqualified_relationship_predicate(po):
    # 'relationship: has_part CHEBI:17051' — unqualified predicate label
    # grounds to BFO:0000051 (ground_relation semantics)
    hp = [r for r in po.relations
          if (r["relation_prefix"], r["relation_id"]) == ("BFO", "0000051")]
    assert hp, "has_part must ground to BFO:0000051"
    assert hp[0]["target_id"] == "17051"


def test_unknown_unqualified_predicate_is_default_reference(po):
    # 'relationship: is_conjugate_base_of CHEBI:29228' on CHEBI:17051 —
    # a label ground_relation does not know becomes PyOBO's
    # default_reference in the ontology's own space
    from pyobo_spark.api import default_reference

    rel = [r for r in po.relations if r["target_id"] == "29228"]
    assert [(r["identifier"], r["relation_prefix"], r["relation_id"])
            for r in rel] == [("17051", "obo", "chebi#is_conjugate_base_of")]
    assert default_reference("chebi", "is_conjugate_base_of") == (
        "obo", "chebi#is_conjugate_base_of"
    )


def test_spark_exports_roundtrip(spark, po):
    """Feed the parsed fixture through the Spark export operators."""
    from pyobo_spark.operators import exports
    from pyobo_spark.sources.obo_reader import parse_obo_files

    tables = parse_obo_files(spark, [("chebi", open(FIXTURE).read())])
    names = exports.names(tables["terms"])
    assert names.count() == 18
    got = {
        (r["identifier"], r["name"]) for r in names.collect()
    }
    assert ("24431", "chemical entity") in got
    syn_grouped = exports.synonyms_grouped(tables["synonyms"])
    row = syn_grouped.where("identifier = '24870'").collect()[0]
    assert "Ionen" in row["synonyms"] and row["synonyms"].count("|") == 5
