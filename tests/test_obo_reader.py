"""OBO flat-file parser vs the reference's reader semantics
(struct/obo/reader.py; grammar cases modeled on
tests/test_obo_reader/test_reader.py — inline OBO strings)."""

from __future__ import annotations

from pyobo_spark.sources.obo_reader import parse_obo_text

CHEBI_LIKE = """format-version: 1.4
ontology: chebi
data-version: 231
treat-xrefs-as-equivalent: wikidata

[Term]
id: CHEBI:1234
name: caffeine
def: "A purine\\talkaloid  found in coffee." [pubmed:123, pubmed:456]
synonym: "1,3,7-trimethylxanthine" EXACT [pubmed:789]
synonym: "coffee stuff" RELATED
xref: CAS:58-08-2
xref: wikidata:Q60235
is_a: CHEBI:26385
alt_id: CHEBI:999
property_value: IAO:0000412 "http://example.org" xsd:anyURI
relationship: BFO:0000050 CHEBI:27732

[Term]
id: CHEBI:26385
name: purine alkaloid
comment: an obsolete grouping class
subset: 3_STAR
is_obsolete: true
replaced_by: CHEBI:1234
consider: CHEBI:27732
equivalent_to: MESH:D011687

[Typedef]
id: BFO:0000050
name: part of
"""


def test_terms():
    po = parse_obo_text(CHEBI_LIKE)
    assert po.prefix == "chebi"
    assert po.version == "231"
    assert len(po.terms) == 2
    t = po.terms[0]
    assert t["identifier"] == "1234"
    assert t["name"] == "caffeine"
    # definition cleanup: quotes stripped, \t → space, doubled space collapsed
    assert t["definition"] == "A purine alkaloid found in coffee."
    assert po.terms[1]["is_obsolete"] is True


def test_synonyms():
    po = parse_obo_text(CHEBI_LIKE)
    assert len(po.synonyms) == 2
    s = po.synonyms[0]
    assert s["text"] == "1,3,7-trimethylxanthine"
    assert s["predicate"] == "oboInOwl:hasExactSynonym"
    assert s["provenance"] == ["pubmed:789"]
    assert po.synonyms[1]["predicate"] == "oboInOwl:hasRelatedSynonym"


def test_xref_macro_upgrade():
    """treat-xrefs-as-equivalent reroutes wikidata xrefs to
    owl:equivalentClass (reader.py:621-724)."""
    po = parse_obo_text(CHEBI_LIKE)
    preds = {(x["target_prefix"], x["predicate"]) for x in po.xrefs}
    assert ("wikidata", "owl:equivalentClass") in preds
    assert ("cas", "oboInOwl:hasDbXref") in preds


def test_header_date_idspace_and_logical_defs():
    po = parse_obo_text(
        """format-version: 1.2
date: 27:02:2020 18:48
idspace: GO urn:lsid:bioontology.org:GO: "gene ontology"
ontology: chebi

[Term]
id: CHEBI:10
intersection_of: CHEBI:11
intersection_of: BFO:0000050 CHEBI:12
union_of: CHEBI:13
"""
    )
    assert po.date == "2020-02-27T18:48:00"
    assert po.idspaces == {"GO": "urn:lsid:bioontology.org:GO:"}
    assert po.intersections[0]["target_id"] == "11"
    assert po.intersections[0]["relation_prefix"] == ""
    assert (po.intersections[1]["relation_prefix"],
            po.intersections[1]["relation_id"]) == ("BFO", "0000050")
    assert po.intersections[1]["target_id"] == "12"
    assert po.unions[0]["target_id"] == "13"


def test_obsolete_upgrade_tags():
    """replaced_by / consider / subset / equivalent_to / comment tags
    (obsolete-upgrade flow + nodes-export fields)."""
    po = parse_obo_text(CHEBI_LIKE)
    assert po.replaced_by == [
        {"prefix": "chebi", "identifier": "26385",
         "replacement_prefix": "chebi", "replacement_id": "1234"}
    ]
    assert po.considers[0]["consider_id"] == "27732"
    assert po.subsets == [
        {"prefix": "chebi", "identifier": "26385", "subset": "3_STAR"}
    ]
    equiv = [x for x in po.xrefs if x["predicate"] == "owl:equivalentClass"
             and x["target_prefix"] == "mesh"]
    assert equiv and equiv[0]["target_id"] == "D011687"
    comments = [p for p in po.properties
                if p["predicate_curie"] == "rdfs:comment"]
    assert comments[0]["value"] == "an obsolete grouping class"


def test_hierarchy_alts_relations_properties():
    po = parse_obo_text(CHEBI_LIKE)
    assert po.parents == [
        {"child_prefix": "chebi", "child": "1234",
         "parent_prefix": "chebi", "parent": "26385"}
    ]
    assert po.alts[0]["alt_id"] == "999"
    r = po.relations[0]
    assert (r["relation_prefix"], r["relation_id"]) == ("BFO", "0000050")
    assert r["target_id"] == "27732"
    p = po.properties[0]
    assert p["predicate_curie"] == "IAO:0000412"
    assert p["value"] == "http://example.org"
    assert p["datatype"] == "xsd:anyURI"
    assert po.typedefs[0]["name"] == "part of"


def test_parse_obo_text_distributed(spark):
    """Chunked parallel parse of one document == whole-document parse,
    including header macros applied in every chunk."""
    from pyobo_spark.sources.obo_reader import (
        parse_obo_text_distributed,
        split_stanza_chunks,
    )

    # many-term doc to force multiple chunks
    stanzas = "\n\n".join(
        f"[Term]\nid: CHEBI:{i}\nname: term {i}\nxref: wikidata:Q{i}\n"
        f"is_a: CHEBI:{i + 1}"
        for i in range(1, 21)
    )
    doc = "format-version: 1.4\nontology: chebi\n" \
          "treat-xrefs-as-equivalent: wikidata\n\n" + stanzas
    chunks = split_stanza_chunks(doc, 4)
    assert len(chunks) == 4
    assert all(c.startswith("format-version") for c in chunks)

    tables = parse_obo_text_distributed(spark, doc, n_chunks=4)
    assert tables["terms"].count() == 20
    assert tables["parents"].count() == 20
    # macro applied in every chunk: all wikidata xrefs upgraded
    preds = {r["predicate"] for r in tables["xrefs"].collect()}
    assert preds == {"owl:equivalentClass"}


def test_parse_obo_files_spark(spark):
    from pyobo_spark.sources.obo_reader import parse_obo_files

    tables = parse_obo_files(spark, [("chebi", CHEBI_LIKE)])
    assert tables["terms"].count() == 2
    assert tables["synonyms"].count() == 2
    names = {
        r["identifier"]: r["name"] for r in tables["terms"].collect()
    }
    assert names["1234"] == "caffeine"


ALL_MACROS = """format-version: 1.4
ontology: fbbt
treat-xrefs-as-equivalent: wikidata
treat-xrefs-as-genus-differentia: CL part_of NCBITaxon:7227
treat-xrefs-as-relationship: MA homologous_to
treat-xrefs-as-is_a: BILA

[Term]
id: FBbt:0000001
name: neuron
xref: wikidata:Q43054
xref: CL:0000540
xref: MA:0000168
xref: BILA:0000080
xref: CAS:58-08-2

[Typedef]
id: homologous_to
name: homologous to
"""


def test_all_four_xref_macros():
    """All 4 treat-xrefs-as-* kinds (reader.py:632-694 MacroConfig +
    _handle_xref): equivalent -> owl:equivalentClass xref;
    genus-differentia -> two intersection_of legs (genus = the xref,
    differentia = pred + filler); relationship -> relation row with the
    configured predicate; is_a -> parent row keeping the FOREIGN target
    prefix (reader.py:716 append_parent keeps the full reference)."""
    po = parse_obo_text(ALL_MACROS)
    # equivalent
    equiv = [x for x in po.xrefs if x["target_prefix"] == "wikidata"]
    assert equiv and equiv[0]["predicate"] == "owl:equivalentClass"
    # genus-differentia: CL xref gone from xrefs, two intersection legs
    assert not any(x["target_prefix"] == "cl" for x in po.xrefs)
    legs = [i for i in po.intersections if i["identifier"] == "0000001"]
    assert {
        (leg["relation_prefix"], leg["relation_id"],
         leg["target_prefix"], leg["target_id"])
        for leg in legs
    } == {
        ("", "", "cl", "0000540"),              # genus = the xref itself
        ("BFO", "0000050", "ncbitaxon", "7227"),  # differentia (grounded)
    }
    # relationship: MA xref becomes a relation with predicate homologous_to
    rel = [r for r in po.relations if r["target_prefix"] == "ma"]
    assert rel and (rel[0]["relation_prefix"], rel[0]["relation_id"]) in (("homologous_to", "homologous_to"), ("RO", "HOM0000007"))
    assert rel[0]["target_id"] == "0000168"
    # is_a: BILA xref becomes a parent with the foreign prefix preserved
    assert {"child_prefix": "fbbt", "child": "0000001",
            "parent_prefix": "bila", "parent": "0000080"} in po.parents
    # untouched xref stays an xref
    assert any(x["target_prefix"] == "cas" for x in po.xrefs)


def test_unknown_predicate_label_same_in_tag_and_macro():
    """An unqualified predicate label that ground_relation does not know
    parses to the ontology's default_reference on both paths: the
    direct `relationship:` tag and the treat-xrefs-as-relationship
    macro."""
    po = parse_obo_text(
        "format-version: 1.4\nontology: chebi\n"
        "treat-xrefs-as-relationship: MA is_conjugate_base_of\n\n"
        "[Term]\nid: CHEBI:1\n"
        "relationship: is_conjugate_base_of CHEBI:2\n"
        "xref: MA:3\n"
    )
    assert sorted(
        (r["relation_prefix"], r["relation_id"], r["target_prefix"],
         r["target_id"])
        for r in po.relations
    ) == [
        ("obo", "chebi#is_conjugate_base_of", "chebi", "2"),
        ("obo", "chebi#is_conjugate_base_of", "ma", "3"),
    ]


def test_intersection_differentia_label_grounds_like_relationship():
    """An unqualified differentia predicate grounds the way a
    `relationship:` line does: 'part_of' is BFO:0000050 on both, so an
    intersections filter on BFO:0000050 sees hand-written differentiae."""
    po = parse_obo_text(
        "[Term]\nid: GO:1\n"
        "intersection_of: GO:2\n"
        "intersection_of: part_of GO:3\n"
        "relationship: part_of GO:3\n"
    )
    assert [
        (i["relation_prefix"], i["relation_id"], i["target_prefix"],
         i["target_id"])
        for i in po.intersections
    ] == [("", "", "go", "2"), ("BFO", "0000050", "go", "3")]
    assert [(r["relation_prefix"], r["relation_id"]) for r in po.relations] \
        == [("BFO", "0000050")]


def test_comment_strip_respects_quotes():
    """An unescaped '!' inside a quoted def/synonym is NOT a comment
    delimiter (OBO spec: comments start at unquoted, unescaped '!')."""
    obo = (
        "format-version: 1.4\nontology: tst\n\n[Term]\nid: TST:1\n"
        'def: "Loud !important value" [pubmed:1]\n'
        'synonym: "bang ! bang" EXACT [pubmed:2]\n'
        "name: thing ! this is a real comment\n"
    )
    po = parse_obo_text(obo)
    assert po.terms[0]["definition"] == "Loud !important value"
    assert po.terms[0]["name"] == "thing"
    assert po.synonyms[0]["text"] == "bang ! bang"
    assert po.synonyms[0]["provenance"] == ["pubmed:2"]


def test_typedef_metadata_depth():
    """OBO 1.4 typedef-only fields (struct.py:2254-2318): domain/range/
    inverse_of/transitivity flags/holds_over_chain parse into the wide
    typedefs row; a typedef's comment does NOT leak into properties."""
    obo = """format-version: 1.4
ontology: ro

[Typedef]
id: BFO:0000050
name: part of
namespace: external
def: "a core relation" [obo:defs]
comment: use with care
domain: BFO:0000004
range: BFO:0000004
inverse_of: BFO:0000051
transitive_over: RO:0002131
holds_over_chain: BFO:0000050 BFO:0000050
is_transitive: true
is_symmetric: false
is_anti_symmetric: true
is_reflexive: false
is_cyclic: false
is_functional: false
is_inverse_functional: false
is_metadata_tag: false
is_class_level: false

[Typedef]
id: bare_rel
name: bare relation
"""
    po = parse_obo_text(obo)
    td = po.typedefs[0]
    assert td["prefix"] == "BFO" and td["identifier"] == "0000050"
    assert td["definition"] == "a core relation"
    assert td["comment"] == "use with care"
    assert td["domain"] == "BFO:0000004"
    assert td["range"] == "BFO:0000004"
    assert td["inverse_of"] == "BFO:0000051"
    assert td["transitive_over"] == "RO:0002131"
    assert td["holds_over_chain"] == [["BFO:0000050", "BFO:0000050"]]
    assert td["is_transitive"] is True
    assert td["is_symmetric"] is False
    assert td["is_anti_symmetric"] is True
    # typedef comment stays off the term properties table
    assert not any(
        p["predicate_curie"] == "rdfs:comment" for p in po.properties
    )
    bare = po.typedefs[1]
    assert bare["name"] == "bare relation"
    assert bare["is_transitive"] is None and bare["domain"] is None


def test_object_vs_literal_property_values():
    """property_value with an unquoted CURIE object is an OBJECT
    property (struct.py:1716-1723); quoted/datatyped values stay
    literal; URL values stay literal."""
    obo = """format-version: 1.4
ontology: tst

[Term]
id: TST:1
property_value: RO:0000087 CHEBI:456
property_value: IAO:0000412 "hello world" xsd:string
property_value: IAO:0000412 http://example.org/page
"""
    po = parse_obo_text(obo)
    assert po.object_properties == [
        {"source_curie": "tst:1", "predicate_curie": "RO:0000087",
         "target_curie": "CHEBI:456"}
    ]
    vals = {(p["predicate_curie"], p["value"], p["datatype"])
            for p in po.properties}
    assert ("IAO:0000412", "hello world", "xsd:string") in vals
    assert ("IAO:0000412", "http://example.org/page", None) in vals


def test_typedef_stanza_tags_do_not_leak_into_term_tables():
    """A typedef's own is_a/xref/synonym/subset/alt_id/relationship lines
    must NOT land in the term tables (GO's regulates family is the
    canonical real-world case)."""
    obo = """format-version: 1.4
ontology: go
treat-xrefs-as-equivalent: ro

[Term]
id: GO:1

[Typedef]
id: negatively_regulates
name: negatively regulates
is_a: regulates
xref: RO:0002212
synonym: "inhibits" EXACT []
subset: goslim_generic
alt_id: old_rel
relationship: part_of regulates
"""
    po = parse_obo_text(obo)
    assert po.parents == []
    assert po.xrefs == []          # typedef xref must not hit macros either
    assert po.synonyms == []
    assert po.subsets == []
    assert po.alts == []
    assert po.relations == []
    assert po.typedefs[0]["name"] == "negatively regulates"


def test_unquoted_literalish_property_values_stay_literal():
    """ISO datetimes, ratios, and urn:/ftp: URIs are unquoted values
    containing ':' but are NOT CURIE objects."""
    obo = """format-version: 1.4
ontology: tst

[Term]
id: TST:1
property_value: dcterms:created 2024-01-01T12:30:00Z
property_value: ex:ratio 1:500
property_value: ex:loc urn:isbn:0451450523
property_value: ex:ftp ftp://host/file
property_value: RO:0000087 CHEBI:456
"""
    po = parse_obo_text(obo)
    assert [o["target_curie"] for o in po.object_properties] == ["CHEBI:456"]
    lits = {p["value"] for p in po.properties}
    assert lits == {"2024-01-01T12:30:00Z", "1:500",
                    "urn:isbn:0451450523", "ftp://host/file"}


# Golden tests mirroring the reference's own macro corpus
# (tests/test_obo_reader/test_reader_ontology.py test_12..test_15):
# same inputs, our long-table representation of the same routings.

def test_golden_macro_equivalent_reference_fixture():
    po = parse_obo_text(
        "ontology: go\ntreat-xrefs-as-equivalent: CL\n\n"
        "[Term]\nid: GO:0005623\nname: cell\nxref: CL:0000000\n"
    )
    # routed out of plain xrefs into the equivalence predicate
    assert [
        (x["target_prefix"], x["target_id"], x["predicate"])
        for x in po.xrefs
    ] == [("cl", "0000000", "owl:equivalentClass")]
    assert po.parents == [] and po.relations == [] and po.intersections == []


def test_golden_macro_genus_differentia_reference_fixture():
    po = parse_obo_text(
        "ontology: zfa\n"
        "treat-xrefs-as-genus-differentia: CL BFO:0000050 NCBITaxon:7955\n\n"
        "[Term]\nid: ZFA:0000134\nxref: CL:0000540\n"
    )
    assert po.xrefs == [] and po.parents == [] and po.relations == []
    assert [
        (i["relation_prefix"], i["relation_id"],
         i["target_prefix"], i["target_id"])
        for i in po.intersections
    ] == [("", "", "cl", "0000540"),
          ("BFO", "0000050", "ncbitaxon", "7955")]


def test_golden_macro_relationship_reference_fixture():
    po = parse_obo_text(
        "ontology: go\ntreat-xrefs-as-relationship: CL BFO:0000000\n\n"
        "[Term]\nid: GO:0005623\nname: cell\nxref: CL:0000000\n"
    )
    assert po.xrefs == [] and po.parents == [] and po.intersections == []
    assert [
        (r["relation_prefix"], r["relation_id"],
         r["target_prefix"], r["target_id"])
        for r in po.relations
    ] == [("BFO", "0000000", "cl", "0000000")]


def test_golden_macro_is_a_reference_fixture():
    po = parse_obo_text(
        "ontology: go\ntreat-xrefs-as-is_a: CL\n\n"
        "[Term]\nid: GO:0005623\nname: cell\nxref: CL:0000000\n"
    )
    assert po.xrefs == [] and po.relations == [] and po.intersections == []
    assert po.parents == [
        {"child_prefix": "go", "child": "0005623",
         "parent_prefix": "cl", "parent": "0000000"}
    ]


def test_macro_relationship_tag_collision():
    """A term carrying BOTH an explicit `relationship:` tag and a
    macro-upgraded xref to the same (predicate, target) must keep the
    rows the reference keeps: append_relationship adds the upgraded
    xref alongside the explicit tag (reader.py:715), and the long-table
    dedup (if any) must not silently drop the explicit one."""
    po = parse_obo_text(
        "ontology: go\ntreat-xrefs-as-relationship: CL BFO:0000050\n\n"
        "[Term]\nid: GO:0005623\nname: cell\n"
        "relationship: BFO:0000050 CL:0000000\n"
        "xref: CL:0000000\n"
    )
    rel = [
        (r["relation_prefix"], r["relation_id"],
         r["target_prefix"], r["target_id"])
        for r in po.relations
    ]
    # both sources produce the same triple; at minimum it survives once
    assert ("BFO", "0000050", "cl", "0000000") in rel
    assert po.xrefs == []


def test_golden_macro_is_a_for_typedef_reference_fixture():
    """Typedef xrefs route through the same macro config
    (test_reader_ontology.py test_15_xref_is_a_for_typedef)."""
    po = parse_obo_text(
        "ontology: ro\ntreat-xrefs-as-is_a: skos\n\n"
        "[Typedef]\nid: RO:0000000\nxref: skos:closeMatch\n"
    )
    td = po.typedefs[0]
    assert td["xrefs"] == []
    assert td["parents"] == ["skos:closeMatch"]


def test_typedef_xref_is_a_roundtrip(spark):
    """Un-macro'd typedef xref + is_a lines survive serialize → parse."""
    from pyobo_spark.operators import obo_writer
    from pyobo_spark.sources.obo_reader import parse_obo_files

    src = (
        "format-version: 1.4\nontology: tsto\n\n"
        "[Typedef]\nid: TSTO:9000001\nname: rel one\n"
        "xref: RO:0002212\nis_a: RO:0002211\n"
    )
    tables = parse_obo_files(spark, [("tsto", src)])
    td_stanzas = obo_writer.obo_typedef_stanzas(tables["typedefs"], "tsto")
    text = td_stanzas.collect()[0]["stanza_text"]
    assert "\nxref: RO:0002212" in text and "\nis_a: RO:0002211" in text
    po2 = parse_obo_text("format-version: 1.4\nontology: tsto\n\n" + text)
    assert po2.typedefs[0]["xrefs"] == ["RO:0002212"]
    assert po2.typedefs[0]["parents"] == ["RO:0002211"]


def test_golden_header_subsetdef_reference_fixtures():
    """subsetdef forms (test_reader_ontology.py test_7_*): bare token →
    obo:{prefix}#token default reference; CURIE kept; blocked numeric
    prefix dropped; purl URI stripped to the default reference."""
    po = parse_obo_text(
        "ontology: chebi\n"
        'subsetdef: TEST "comment"\n'
        'subsetdef: TEST2 "comment2"\n'
        'subsetdef: obo:test "name"\n'
        'subsetdef: 1:STAR "Preliminary entries"\n'
        'subsetdef: http://purl.obolibrary.org/obo/chebi#T3 "n3"\n'
    )
    assert po.subsetdefs == {
        "obo:chebi#TEST": "comment",
        "obo:chebi#TEST2": "comment2",
        "obo:test": "name",
        "obo:chebi#T3": "n3",
    }


def test_golden_header_synonymtypedef_reference_fixture():
    """synonymtypedef (test_8): lowercase specificity normalizes to
    upper; garbage specificity falls back to None (strict=False path)."""
    po = parse_obo_text(
        "ontology: chebi\n"
        'synonymtypedef: ST1 "ST1 Name" EXACT\n'
        'synonymtypedef: ST3 "ST3 Name"\n'
        'synonymtypedef: ST4 "ST4 Name" exact\n'
        'synonymtypedef: ST5 "ST5 Name" garbage\n'
        'synonymtypedef: OMO:0000001 "E1 Name" NARROW\n'
    )
    by = {d["curie"]: d for d in po.synonym_typedefs}
    assert by["obo:chebi#ST1"]["specificity"] == "EXACT"
    assert by["obo:chebi#ST3"]["specificity"] is None
    assert by["obo:chebi#ST4"]["specificity"] == "EXACT"
    assert by["obo:chebi#ST5"]["specificity"] is None
    assert by["OMO:0000001"]["name"] == "E1 Name"


def test_golden_header_remark_reference_fixture():
    po = parse_obo_text("ontology: ro\nremark: hello 1\nremark: hello 2\n")
    assert po.remarks == ["hello 1", "hello 2"]


def test_golden_term_flag_and_provenance_tags():
    """disjoint_from / created_by / creation_date / is_anonymous /
    builtin (test_reader.py test_2, test_11, test_17, test_20): stored
    as disjoints rows and typed literal properties; a malformed
    creation_date is dropped."""
    po = parse_obo_text(
        "ontology: chebi\n\n[Term]\nid: CHEBI:1\n"
        "disjoint_from: CHEBI:2\ndisjoint_from: CHEBI:3\n"
        "created_by: someone\ncreation_date: 2022-07-26T19:27:20Z\n"
        "is_anonymous: true\nbuiltin: false\n\n"
        "[Term]\nid: CHEBI:4\ncreation_date: asgasgag\n"
    )
    assert [(d["target_prefix"], d["target_id"]) for d in po.disjoints] == [
        ("chebi", "2"), ("chebi", "3")
    ]
    props = {
        (p["predicate_curie"], p["value"], p["datatype"])
        for p in po.properties if p["source_curie"] == "chebi:1"
    }
    assert ("oboInOwl:created_by", "someone", "xsd:string") in props
    assert (
        "oboInOwl:creation_date", "2022-07-26T19:27:20+00:00",
        "xsd:dateTime",
    ) in props
    assert ("oboInOwl:is_anonymous", "true", "xsd:boolean") in props
    assert ("oboInOwl:builtin", "false", "xsd:boolean") in props
    # bad datetime dropped entirely
    assert not [
        p for p in po.properties if p["source_curie"] == "chebi:4"
    ]


def test_trailing_qualifier_blocks_stripped():
    """OBO 1.4 trailing `{qualifier="..."}` blocks must not leak into
    reference-valued targets (r03 review probe)."""
    po = parse_obo_text(
        "ontology: chebi\n\n[Term]\nid: CHEBI:1\n"
        'is_a: CHEBI:2 {is_inferred="true"}\n'
        'relationship: BFO:0000050 CHEBI:3 {source="x"}\n'
        'replaced_by: CHEBI:4 {a="b"}\n'
        'consider: CHEBI:5 {c="d"}\n'
        'disjoint_from: CHEBI:6 {e="f"}\n'
    )
    assert po.parents[0]["parent"] == "2"
    assert po.relations[0]["target_id"] == "3"
    assert po.replaced_by[0]["replacement_id"] == "4"
    assert po.considers[0]["consider_id"] == "5"
    assert po.disjoints[0]["target_id"] == "6"


def test_empty_definition_and_xref_provenance():
    """def "" [..] means no definition (test_6_provenance_no_definition);
    xref trailing [prov,...] lists are captured (test_10_xrefs_with_*)."""
    po = parse_obo_text(
        "ontology: chebi\n\n[Term]\nid: CHEBI:1\n"
        'def: "" [orcid:0]\n'
        "xref: cas:389-08-2 [pubmed:99, pubmed:100]\n"
        "xref: mesh:D1\n"
    )
    assert po.terms[0]["definition"] is None
    by_target = {x["target_id"]: x["provenance"] for x in po.xrefs}
    assert by_target["389-08-2"] == ["pubmed:99", "pubmed:100"]
    assert by_target["D1"] is None


def test_typedef_reference_lists_roundtrip(spark):
    """Typedef equivalent_to / disjoint_from / replaced_by / consider
    (test_reader_typedef.py tests 26, 27, 36, 37) parse and serialize."""
    from pyobo_spark.operators import obo_writer
    from pyobo_spark.sources.obo_reader import parse_obo_files

    src = (
        "format-version: 1.4\nontology: tsto\n\n"
        "[Typedef]\nid: TSTO:9000001\nname: rel\n"
        "equivalent_to: RO:0002211\ndisjoint_from: RO:0002212\n"
        "is_obsolete: true\nreplaced_by: RO:0002213\nconsider: RO:0002214\n"
    )
    tables = parse_obo_files(spark, [("tsto", src)])
    td = tables["typedefs"].collect()[0]
    assert td["equivalent_to"] == ["RO:0002211"]
    assert td["disjoint_from"] == ["RO:0002212"]
    assert td["replaced_by"] == ["RO:0002213"]
    assert td["consider"] == ["RO:0002214"]
    text = obo_writer.obo_typedef_stanzas(
        tables["typedefs"], "tsto"
    ).collect()[0]["stanza_text"]
    for line in ("equivalent_to: RO:0002211", "disjoint_from: RO:0002212",
                 "replaced_by: RO:0002213", "consider: RO:0002214"):
        assert f"\n{line}" in text
    po2 = parse_obo_text("format-version: 1.4\nontology: tsto\n\n" + text)
    assert po2.typedefs[0]["equivalent_to"] == ["RO:0002211"]
    assert po2.typedefs[0]["consider"] == ["RO:0002214"]


def test_header_import_and_property_value():
    """import list (test_6_import) and header property_value lines
    (test_18_properties) are captured."""
    po = parse_obo_text(
        "ontology: go\nimport: chebi\n"
        "import: http://purl.obolibrary.org/obo/envo.owl\n"
        "property_value: heyo also_heyo\n"
    )
    assert po.imports == [
        "chebi", "http://purl.obolibrary.org/obo/envo.owl"
    ]
    assert po.header_properties == [("heyo", "also_heyo")]
