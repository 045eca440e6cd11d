"""PyOBO-compatible API surface over the fixture catalog — mirrors the
reference's end-to-end API test family (tests/test_api.py:178-374:
every function asserted against hand-computed outputs)."""

from __future__ import annotations

import pytest

from pyobo_spark.api import OntologyCatalog
from pyobo_spark.fixtures import generator


@pytest.fixture(scope="module")
def catalog(spark):
    tables = generator.to_spark(spark, generator.generate(n_terms=40, n_docs=5))
    from pyobo_spark import schemas

    tables = dict(
        tables, properties=spark.createDataFrame([], schemas.LITERAL_PROPERTIES)
    )
    return OntologyCatalog(tables)


def test_catalog_from_obo(spark):
    from pyobo_spark.api import catalog_from_obo

    cat = catalog_from_obo(
        spark,
        [("chebi", open("/root/reference/tests/resources/test_chebi.obo").read())],
    )
    m = cat.get_id_name_mapping("chebi")
    assert m["24431"] == "chemical entity"
    assert cat.ground("chebi", "molekulare Entitaet") == "chebi:23367"
    assert "chebi:24431" in cat.get_ancestors("chebi", "24870")


def test_catalog_parquet_roundtrip(spark, tmp_path):
    """write_partitioned artifacts → catalog_from_parquet → lookups."""
    from pyobo_spark.api import catalog_from_parquet
    from pyobo_spark import schemas

    tables = generator.to_spark(spark, generator.generate(n_terms=15, n_docs=2))
    for name in ("terms", "synonyms", "xrefs", "relations", "parents", "alts"):
        tables[name].write.mode("overwrite").parquet(
            str(tmp_path / f"{name}.parquet")
        )
    spark.createDataFrame([], schemas.LITERAL_PROPERTIES).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "properties.parquet"))
    cat = catalog_from_parquet(spark, str(tmp_path))
    assert cat.get_name("fixo", "0000001") == generator._label(1)
    assert cat.get_primary_identifier("fixo", "8000001") == "0000001"
    assert "fixo:0000001" in cat.get_ancestors("fixo", "0000004")


def test_names_family(catalog):
    ids = catalog.get_ids("fixo")
    assert len(ids) == 40 and "0000001" in ids
    m = catalog.get_id_name_mapping("fixo")
    assert m["0000001"] == generator._label(1)
    inv = catalog.get_name_id_mapping("fixo")
    assert inv[generator._label(1)] == "0000001"
    assert catalog.get_name("fixo", "0000002") == generator._label(2)
    # alt-id upgrade fallback inside get_name (api/names.py:99-109)
    assert catalog.get_name("fixo", "8000001") == generator._label(1)
    assert catalog.get_definition("fixo", "0000003").startswith("definition of")
    obs = catalog.get_obsolete("fixo")
    assert "0000017" in obs and "0000001" not in obs


def test_synonyms_and_alts(catalog):
    syn = catalog.get_id_synonyms_mapping("fixo")
    assert generator._label(1).upper() in syn["0000001"]
    alts = catalog.get_id_to_alts("fixo")
    assert alts["0000001"] == ["8000001"]
    assert catalog.get_primary_identifier("fixo", "8000001") == "0000001"
    assert catalog.get_primary_identifier("fixo", "0000002") == "0000002"


def test_xrefs_and_relations(catalog):
    xr = catalog.get_filtered_xrefs("fixo", "fixp")
    assert xr["0000001"] == "0000001"
    sssom = catalog.get_mappings_df("fixo")
    assert sssom.count() > 0
    rel = catalog.get_relation_mapping("fixo", ("BFO", "0000050"), "fixo")
    assert rel["0000001"] == "0000002"
    sp = catalog.get_id_species_mapping("fixo")
    assert sp["0000004"] == "9606"


def test_hierarchy_family(catalog):
    # parents tree: i → i//4
    assert catalog.get_ancestors("fixo", "0000016") == {"fixo:0000004", "fixo:0000001"}
    assert "fixo:0000016" in catalog.get_descendants("fixo", "0000004")
    assert catalog.get_children("fixo", "0000001") == {
        "fixo:0000004", "fixo:0000005", "fixo:0000006", "fixo:0000007",
    }
    assert catalog.has_ancestor("fixo", "0000016", "0000001")
    assert catalog.is_descendent("fixo", "0000001", "0000016")
    edges = catalog.get_edges_df("fixo")
    preds = {r["predicate_curie"] for r in edges.select("predicate_curie")
             .distinct().collect()}
    assert "rdfs:subClassOf" in preds and "ZZ:0000001" not in preds


def test_grounding_family(catalog):
    assert catalog.ground("fixo", generator._label(5)) == "fixo:0000005"
    assert catalog.ground("fixo", generator._label(5).upper()) == "fixo:0000005"
    assert catalog.ground("fixo", "no such entity at all") is None
    lm = catalog.get_literal_mappings_df("fixo")
    assert lm.where("predicate = 'rdfs:label'").count() == 40


def test_version_metadata_and_replacements(spark):
    """get_version/get_metadata (api/metadata.py, utils/ver) and the
    replaced_by/consider obsolete-upgrade surface (struct.py:1189-1236)."""
    from pyobo_spark.api import catalog_from_obo

    chebi_text = open(
        "/root/reference/tests/resources/test_chebi.obo"
    ).read()
    inline = """format-version: 1.4
ontology: tsto
data-version: 42.0

[Term]
id: TSTO:1
name: old thing
is_obsolete: true
replaced_by: TSTO:2
consider: TSTO:3
consider: XX:9

[Term]
id: TSTO:2
name: new thing
"""
    cat = catalog_from_obo(spark, [("chebi", chebi_text), ("tsto", inline)])
    assert cat.get_version("chebi") == "185"
    assert cat.get_version("tsto") == "42.0"
    md = cat.get_metadata("chebi")
    assert md["version"] == "185"
    assert cat.get_replaced_by("tsto", "1") == "tsto:2"
    assert cat.get_replaced_by("tsto", "2") is None
    assert cat.get_considers("tsto", "1") == ["tsto:3", "xx:9"]
    # grounder cache is keyed per prefix: grounding works for BOTH
    # ontologies in the same catalog (regression for the shared-slot bug)
    assert cat.ground("tsto", "new thing") == "tsto:2"
    assert cat.ground("chebi", "chemical entity") == "chebi:24431"


def test_multi_ontology_hierarchy_no_collision(spark):
    """Two ontologies with IDENTICAL numeric locals must keep separate
    transitive closures (regression: unprefixed parents merged unrelated
    hierarchies in a multi-ontology catalog)."""
    from pyobo_spark.api import catalog_from_obo

    a = """format-version: 1.4
ontology: aaa

[Term]
id: AAA:2
name: a-child
is_a: AAA:1

[Term]
id: AAA:1
name: a-root
"""
    b = """format-version: 1.4
ontology: bbb

[Term]
id: BBB:2
name: b-child
is_a: BBB:9

[Term]
id: BBB:9
name: b-root
"""
    cat = catalog_from_obo(spark, [("aaa", a), ("bbb", b)])
    assert cat.get_ancestors("aaa", "2") == {"aaa:1"}
    assert cat.get_ancestors("bbb", "2") == {"bbb:9"}
    # hierarchy edges are stamped with their true origin prefixes
    edges = {
        (r["child_curie"], r["parent_curie"])
        for r in cat.get_hierarchy("aaa").collect()
    }
    assert edges == {("aaa:2", "aaa:1")}


def test_multi_prefix_grounding(spark):
    """pyobo.ground accepts an Iterable of prefixes (normalizer.py:41-53):
    one combined dictionary, tried together; strict_match raises."""
    import pytest

    from pyobo_spark.api import catalog_from_obo

    a = """format-version: 1.4
ontology: aona

[Term]
id: AONA:1
name: alpha compound
"""
    b = """format-version: 1.4
ontology: bonb

[Term]
id: BONB:7
name: beta compound
"""
    cat = catalog_from_obo(spark, [("aona", a), ("bonb", b)])
    assert cat.ground(["aona", "bonb"], "alpha compound") == "aona:1"
    assert cat.ground(["aona", "bonb"], "beta compound") == "bonb:7"
    assert cat.ground(["aona"], "beta compound") is None
    with pytest.raises(ValueError):
        cat.ground("aona", "no such thing", strict_match=True)


def test_hierarchy_api_accepts_uppercase_curies(spark):
    """Canonical uppercase CURIEs fold to the stored lowercase prefixes
    (a raw pass-through silently returned empty closures)."""
    from pyobo_spark.api import catalog_from_obo

    cat = catalog_from_obo(
        spark,
        [("chebi", open("/root/reference/tests/resources/test_chebi.obo").read())],
    )
    assert cat.get_ancestors("chebi", "CHEBI:24870") == cat.get_ancestors(
        "chebi", "24870"
    )
    assert cat.has_ancestor("chebi", "24870", "CHEBI:24431")


def test_embedding_api(spark, catalog):
    """Term-keyed embedding artifact + similarity lookups (reference
    api/embedding.py:52-169, :212-252)."""
    emb = catalog.get_text_embeddings_df("fixo")
    rows = emb.collect()
    assert rows, "fixo terms should embed"
    assert set(emb.columns) == {"prefix", "identifier", "curie", "vector"}
    assert all(len(r["vector"]) == 16 for r in rows)
    # deterministic: same catalog, same vectors
    again = {r["curie"]: r["vector"] for r in catalog.get_text_embeddings_df("fixo").collect()}
    assert {r["curie"]: r["vector"] for r in rows} == again
    # self-similarity is exactly 1.0
    some = rows[0]
    sim = catalog.get_embedding_similarity(
        "fixo", some["identifier"], some["identifier"]
    )
    assert sim is not None and abs(sim - 1.0) < 1e-9
    # nearest terms excludes self and is cosine-descending
    if len(rows) > 1:
        nn = catalog.get_nearest_terms("fixo", some["identifier"], k=3)
        assert all(c != some["curie"] for c, _ in nn)
        assert [s for _, s in nn] == sorted((s for _, s in nn), reverse=True)


def test_default_reference_and_primary_reference(spark, catalog):
    """default_reference mirrors struct/reference.py:148-167 (obo#
    semantic space, prefix-normalized, empty id raises);
    get_primary_reference mirrors api/alts.py:64-76 (None on unknown
    prefix, alt-upgraded pair otherwise)."""
    from pyobo_spark.api import default_reference

    assert default_reference("chebi", "conjugate_base_of") == (
        "obo",
        "chebi#conjugate_base_of",
    )
    # reference docstring: uppercase prefix normalizes identically
    assert default_reference("CHEBI", "conjugate_base_of") == (
        "obo",
        "chebi#conjugate_base_of",
    )
    with pytest.raises(ValueError):
        default_reference("chebi", "   ")
    assert catalog.get_primary_reference("nosuch", "1") is None
    alts = catalog.get_alts_to_id("fixo")
    if alts:
        alt, primary = next(iter(alts.items()))
        assert catalog.get_primary_reference("fixo", alt) == ("fixo", primary)


def test_filtered_properties_df_and_multimapping(spark):
    """The DataFrame and multimapping forms of the filtered-properties
    surface agree with the single-value mapping (api/properties.py
    get_filtered_properties_df / _multimapping)."""
    from pyobo_spark import schemas

    terms = spark.createDataFrame(
        [("fixo", "1", "a", None, None, False, None),
         ("fixo", "2", "b", None, None, False, None)],
        "prefix string, identifier string, name string, definition string,"
        " namespace string, is_obsolete boolean, species_id string",
    )
    props = spark.createDataFrame(
        [("fixo:1", "dc:source", "s1", "xsd:string", None),
         ("fixo:1", "dc:source", "s2", "xsd:string", None),
         ("fixo:2", "dc:source", "s3", "xsd:string", None),
         ("fixo:2", "other:prop", "x", "xsd:string", None)],
        schemas.LITERAL_PROPERTIES,
    )
    cat = OntologyCatalog({"terms": terms, "properties": props})
    single = cat.get_filtered_properties_mapping("fixo", "dc:source")
    df = cat.get_filtered_properties_df("fixo", "dc:source")
    multi = cat.get_filtered_properties_multimapping("fixo", "dc:source")
    assert df.count() == len(single) == len(multi) == 2
    assert multi["1"] == ["s1", "s2"]  # sorted value list
    assert multi["2"] == ["s3"]
    for ident, val in single.items():
        assert val in multi[ident]


def test_literal_mappings_subset_api(spark, catalog):
    """Subset form semi-joins against the descendant closure — like the
    reference (api/combine.py:19-39 via nx-descendants), the ancestors
    themselves are excluded."""
    full = catalog.get_literal_mappings_df("fixo")
    roots = [
        r["parent"]
        for r in catalog.parents.select("parent").distinct().head(2)
    ]
    sub = catalog.get_literal_mappings_subset("fixo", roots)
    n_sub, n_full = sub.count(), full.count()
    assert 0 < n_sub <= n_full
    # every subset row's identifier is in the closure-or-ancestor set
    ids = {r["identifier"] for r in sub.select("identifier").distinct().collect()}
    from pyobo_spark.operators import hierarchy as H
    from pyspark.sql import functions as F

    closure = {
        r["descendant"]
        for r in H.descendants(catalog.parents)
        .where(F.col("identifier").isin(roots))
        .collect()
    }
    assert ids <= closure
    assert not (ids & set(roots))  # ancestors themselves excluded


def test_nomenclature_plugins(spark, tmp_path):
    """Plugin registry mirrors reference plugins.py:13-50."""
    from pyobo_spark import plugins as P

    assert P.has_nomenclature_plugin("hgnc")
    assert P.has_nomenclature_plugin("HGNC")  # case-folded
    assert not P.has_nomenclature_plugin("nosuch")
    names = [p for p, _ in P.iter_nomenclature_plugins()]
    assert names == sorted(names) and "ncbigene" in names
    gene_info = tmp_path / "gene_info.tsv"
    gene_info.write_text("#h\n9606\t1\tA1BG\t-\n")
    tables = P.run_nomenclature_plugin(spark, "ncbigene", path=str(gene_info))
    assert [r["name"] for r in tables["terms"].collect()] == ["A1BG"]
    # terms slot into a catalog directly
    cat = OntologyCatalog(tables)
    assert cat.get_name("ncbigene", "1") == "A1BG"
    with pytest.raises(KeyError, match="nosuch"):
        P.run_nomenclature_plugin(spark, "nosuch")


def test_build_ontology(spark):
    """Programmatic ontology assembly — reference build_ontology
    (struct.py:2535): parts in, full queryable catalog out."""
    from pyobo_spark.api import build_ontology

    cat = build_ontology(
        spark,
        "DEMO",
        terms=[
            {"identifier": "1", "name": "root"},
            {"identifier": "2", "name": "child",
             "definition": "a child term"},
            {"identifier": "3", "name": "old", "is_obsolete": True},
        ],
        synonyms=[{"identifier": "2", "text": "kid"}],
        xrefs=[{"identifier": "1", "target_prefix": "mesh",
                "target_id": "D1"}],
        parents=[{"child": "2", "parent": "1"}],
        alts=[{"identifier": "1", "alt_id": "9"}],
        subsetdefs={"demo:slim": "the slim"},
        version="1.2.3",
    )
    assert cat.get_id_name_mapping("demo") == {
        "1": "root", "2": "child", "3": "old"
    }
    assert cat.get_definition("demo", "2") == "a child term"
    assert cat.get_obsolete("demo") == {"3"}
    assert cat.get_synonyms("demo", "2") == ["kid"]
    assert cat.get_filtered_xrefs("demo", "mesh") == {"1": "D1"}
    assert cat.get_ancestors("demo", "2") == {"demo:1"}
    assert cat.get_primary_identifier("demo", "9") == "1"
    assert cat.get_subsetdefs("demo") == {"demo:slim": "the slim"}
    assert cat.get_version("demo") == "1.2.3"
    assert cat.ground("demo", "kid") == "demo:2"
    # typo'd field names fail loud, not as silent null-field rows
    with pytest.raises(ValueError, match="identifer"):
        build_ontology(
            spark, "demo", terms=[{"identifer": "1", "name": "x"}]
        )


def test_build_ontology_obo_roundtrip(spark):
    """build_ontology → OBO serialization → reparse → identical
    lookups: the authoring path feeds the same writer/reader pair as
    file-loaded ontologies."""
    from pyobo_spark.api import build_ontology, catalog_from_obo
    from pyobo_spark.operators import obo_writer

    cat = build_ontology(
        spark,
        "demo",
        terms=[
            {"identifier": "1", "name": "root"},
            {"identifier": "2", "name": "child",
             "definition": "a child term"},
        ],
        synonyms=[{"identifier": "2", "text": "kid"}],
        xrefs=[{"identifier": "1", "target_prefix": "mesh",
                "target_id": "D1"}],
        parents=[{"child": "2", "parent": "1"}],
        alts=[{"identifier": "1", "alt_id": "9"}],
    )
    stanzas = obo_writer.obo_stanzas(
        cat.terms, cat.synonyms, cat.xrefs, cat.relations, cat.parents,
        cat.alts, "demo",
    )
    text = obo_writer.obo_document(stanzas, "demo")
    back = catalog_from_obo(spark, [("demo", text)])
    assert back.get_id_name_mapping("demo") == cat.get_id_name_mapping("demo")
    assert back.get_synonyms("demo", "2") == ["kid"]
    assert back.get_ancestors("demo", "2") == {"demo:1"}
    assert back.get_primary_identifier("demo", "9") == "1"
    assert back.get_filtered_xrefs("demo", "mesh") == {"1": "D1"}


def test_from_obo_path(spark, tmp_path):
    from pyobo_spark.api import from_obo_path

    cat = from_obo_path(
        spark, "/root/reference/tests/resources/test_chebi.obo", "chebi"
    )
    assert cat.get_id_name_mapping("chebi")["24431"] == "chemical entity"


def test_from_obo_path_malformed_header(spark, tmp_path):
    """A present but non-alphabetic ontology: header value is replaced
    with the supplied prefix — reference _clean_graph_ontology
    (struct/obo/reader.py:757-768) — so the document keys its metadata
    under the supplied prefix, not the malformed token; a well-formed
    header still wins over the supplied prefix."""
    from pyobo_spark.api import from_obo_path

    body = "data-version: 7.7\n\n[Term]\nid: zz:1\nname: thing\n"
    bad = tmp_path / "weird.obo"
    bad.write_text("format-version: 1.2\nontology: my-onto.v2!\n" + body)
    cat = from_obo_path(spark, str(bad), "cleaned")
    assert cat.get_version("cleaned") == "7.7"
    assert cat.get_version("my-onto.v2!") is None
    good = tmp_path / "good.obo"
    good.write_text("format-version: 1.2\nontology: keepme\n" + body)
    cat2 = from_obo_path(spark, str(good), "ignoredprefix")
    assert cat2.get_version("keepme") == "7.7"
    assert cat2.get_version("ignoredprefix") is None


def test_collect_guard(spark, catalog):
    """Dict/set-returning lookups are capped (VERDICT r03 item 7): a
    corpus-sized table behind a catalog raises instead of OOMing the
    driver; the *_df forms stay unbounded."""
    old = catalog.max_collect_rows
    try:
        catalog.max_collect_rows = 5  # fixture has 40 terms
        with pytest.raises(ValueError, match="max_collect_rows"):
            catalog.get_id_name_mapping("fixo")
        with pytest.raises(ValueError, match="max_collect_rows"):
            catalog.get_ids("fixo")
        # DataFrame forms are untouched by the cap
        assert catalog.get_references("fixo").count() > 5
    finally:
        catalog.max_collect_rows = old
    assert len(catalog.get_id_name_mapping("fixo")) == 40


def test_duplicate_keys_resolve_to_smallest_value(spark):
    """A key with several values resolves to its smallest, whatever the
    partition order: an alt id under two primaries, a duplicated term
    id with two names (and a NULL one). The point lookups and the
    mapping exports agree, on the driver index and on the per-call
    Spark path (max_collect_rows 0). The larger value comes first, so
    taking the first or last collected row fails."""
    from pyobo_spark.api import build_ontology

    cat = build_ontology(
        spark, "dup",
        terms=[{"identifier": "1", "name": "b"},
               {"identifier": "1", "name": None},
               {"identifier": "1", "name": "a"},
               {"identifier": "P1", "name": "p"}],
        alts=[{"identifier": "P2", "alt_id": "A1"},
              {"identifier": "P1", "alt_id": "A1"},
              {"identifier": "P3", "alt_id": "A1"}],
    )
    assert cat.terms.rdd.getNumPartitions() >= 2
    assert cat.get_primary_identifier("dup", "A1") == "P1"
    assert cat.get_alts_to_id("dup") == {"A1": "P1"}
    assert cat.get_name("dup", "1") == "a"
    assert cat.get_id_name_mapping("dup") == {"1": "a", "P1": "p"}
    assert cat.get_name("dup", "A1") == "p"

    spark_path = OntologyCatalog({"terms": cat.terms, "alts": cat.alts})
    spark_path.max_collect_rows = 0
    assert spark_path.get_primary_identifier("dup", "A1") == "P1"
    assert spark_path.get_primary_curie("dup:A1") == "dup:P1"
    assert spark_path.get_name("dup", "1") == "a"
    assert spark_path.get_name("dup", "absent") is None


def test_semantic_mapping_metadata(spark, catalog):
    """Mapping-set metadata mirrors the reference's MappingSet shape
    (constants.py:293-322): fallback w3id IRI, preferred-case title,
    bioregistry source link, version from the catalog, caller
    overrides for id/confidence."""
    meta = catalog.get_semantic_mapping_metadata("fixo")
    assert (
        meta["id"]
        == "https://w3id.org/biopragmatics/pyobo/mappings/fixo.sssom.tsv"
    )
    assert meta["title"] == "fixo"
    assert meta["source"] == ["https://bioregistry.io/fixo"]
    assert meta["confidence"] is None
    # registry-known prefix gets its preferred casing, like bioregistry
    chebi = catalog.get_semantic_mapping_metadata("CHEBI")
    assert chebi["title"] == "CHEBI"
    assert chebi["id"].endswith("/chebi.sssom.tsv")
    # explicit overrides win (reference kwargs id=/confidence=/version=)
    ov = catalog.get_semantic_mapping_metadata(
        "fixo", id="https://example.org/set", confidence=0.9, version="9.9"
    )
    assert ov["id"] == "https://example.org/set"
    assert ov["confidence"] == 0.9 and ov["version"] == "9.9"
    # pack = (distributed SSSOM rows, set metadata)
    df, pack_meta = catalog.get_semantic_mapping_pack("fixo")
    assert pack_meta["title"] == "fixo"
    assert {"subject_id", "predicate_id", "object_id"} <= set(df.columns)
    assert df.count() > 0


def test_special_streams(spark, tmp_path):
    """ncbigene/pubchem-style special streams (cli/database_utils.py:
    33-66): positional-column TSV scans appended to the names artifact."""
    from pyobo_spark.sources import special_streams as ss

    gene_info = tmp_path / "gene_info.tsv"
    gene_info.write_text(
        "#tax_id\tGeneID\tSymbol\tLocusTag\n"
        "9606\t1\tA1BG\t-\n"
        "9606\t2\tA2M\t-\n"
        "10090\t11287\tPzp\t-\n"
    )
    genes = ss.read_gene_info(spark, str(gene_info))
    rows = {r["identifier"]: r for r in genes.collect()}
    assert set(rows) == {"1", "2", "11287"}
    assert rows["1"]["name"] == "A1BG" and rows["1"]["prefix"] == "ncbigene"

    cid = tmp_path / "cid_name.tsv"
    cid.write_bytes(
        "1\tAcetyl-CoA\n1\tduplicate title\n2\tGlucose \xe9\n"
        "3\ttitle with\ta tab\n4\n5\t\n".encode("ISO-8859-1")
    )
    cids = {r["identifier"]: r for r in ss.read_cid_name(spark, str(cid)).collect()}
    assert cids["1"]["name"] == "Acetyl-CoA"  # deterministic min title
    assert cids["2"]["name"] == "Glucose \xe9"  # ISO-8859-1 decoded
    assert cids["1"]["prefix"] == "pubchem.compound"
    # split('\t', 1) semantics (r04 advice): a tab inside the title is
    # PART of the title, not a column break; a tab-less line is dropped
    assert cids["3"]["name"] == "title with\ta tab"
    assert "4" not in cids
    # empty title ('5\t') behaves like the CSV reader's null: dropped,
    # never allowed to win a min() against a real title
    assert "5" not in cids

    names = spark.createDataFrame(
        [("fixo", "7", "some term")], "prefix string, identifier string, name string"
    )
    combined = ss.names_with_special_streams(
        names, [genes, ss.read_cid_name(spark, str(cid))]
    )
    assert combined.count() == 1 + 3 + 3  # cids: 1, 2, and tab-title 3
    assert combined.columns == ["prefix", "identifier", "name"]


def test_embedding_model_path(spark):
    """The flagged real-model path (Arrow-batched mapInPandas encoder
    call, reference api/embedding.py:117-118 loads MiniLM there) is
    exercised with the deterministic numpy stand-in model: same artifact
    schema as the default JVM kernel, batched (never per-row) calls,
    unit-norm vectors, and similar names land closer than dissimilar."""
    import numpy as np

    from pyobo_spark.operators import embeddings as E

    terms = spark.createDataFrame(
        [
            ("fixo", "1", "mitochondrial membrane"),
            ("fixo", "2", "mitochondrial matrix"),
            ("fixo", "3", "zebrafish fin regeneration"),
            ("fixo", "4", None),
        ],
        "prefix string, identifier string, name string",
    )
    out = E.term_embeddings(
        terms, dim=8, model=E.numpy_hash_model(dim=8)
    ).collect()
    assert len(out) == 3  # null-name row dropped, same as default path
    assert {r["curie"] for r in out} == {"fixo:1", "fixo:2", "fixo:3"}
    vecs = {r["curie"]: np.array(r["vector"]) for r in out}
    for v in vecs.values():
        assert abs(np.linalg.norm(v) - 1.0) < 1e-4
    # batched: the encoder sees the whole partition in ONE call (a
    # model returning len(batch) everywhere must yield 3.0, not 1.0)
    batch_probe = E.term_embeddings(
        terms.coalesce(1),
        dim=8,
        model=lambda ts: np.full((len(ts), 8), float(len(ts))),
    ).collect()
    assert all(r["vector"] == [3.0] * 8 for r in batch_probe)
    # trigram-hash model puts the two mitochondrial names closest
    sim = lambda a, b: float(vecs[a] @ vecs[b])  # noqa: E731
    assert sim("fixo:1", "fixo:2") > sim("fixo:1", "fixo:3")
    # deterministic across fresh model instances
    again = E.term_embeddings(
        terms, dim=8, model=E.numpy_hash_model(dim=8)
    ).collect()
    assert {r["curie"]: r["vector"] for r in again} == {
        r["curie"]: r["vector"] for r in out
    }
    # mis-shaped model output is a loud error, not silent corruption
    import pytest as _pytest

    bad = E.term_embeddings(
        terms, dim=8, model=lambda ts: np.zeros((len(ts), 5))
    )
    with _pytest.raises(Exception, match="expected"):
        bad.collect()


def test_uppercase_prefix_lookups(spark, catalog):
    """Case-folding is applied end-to-end (r03 review): uppercase prefix
    arguments hit the lowercase-stored tables AND strip CURIEs with the
    folded prefix."""
    lower = catalog.get_properties_df("fixo").collect()
    upper = catalog.get_properties_df("FIXO").collect()
    assert sorted(map(tuple, lower)) == sorted(map(tuple, upper))
    if lower:
        assert all(":" not in r["identifier"] for r in upper)
    emb_rows = catalog.get_text_embeddings_df("fixo").collect()
    some = emb_rows[0]
    sim = catalog.get_embedding_similarity(
        "FIXO", some["identifier"], some["identifier"]
    )
    assert sim is not None and abs(sim - 1.0) < 1e-9


def test_grounder_duplicate_prefixes_share_clean_cache(spark, catalog):
    """get_grounder(('fixo','fixo')) must build the same matcher as
    ('fixo',) — the cache key dedupes, so the build must too."""
    g1 = catalog.get_grounder(("fixo", "fixo"))
    g2 = catalog.get_grounder("fixo")
    assert g1 is g2
    # a single-token lookup yields each entry exactly once
    from pyobo_spark.grounding.dictionary import fold_text

    ac = g1.value
    label = fold_text(generator._label(1))
    hits = list(ac.search(label.split(" ")))
    # distinct predicates for the same span are legitimate (label 1.0 +
    # exact synonym 0.9); what must NOT appear is a byte-identical hit
    # duplicated by the doubled prefix list
    assert len(hits) == len(set(hits))


def test_metadata_version_cleaned(spark):
    """get_metadata returns the SAME cleaned version as get_version."""
    from pyobo_spark.api import OntologyCatalog
    from pyobo_spark.fixtures import generator as g

    tables = g.to_spark(spark, g.generate(n_terms=3, n_docs=1))
    meta = spark.createDataFrame(
        [("fixo", "releases/2023-05-10", "2023-05-10")],
        "prefix string, version string, date string",
    )
    cat = OntologyCatalog(dict(tables, metadata=meta))
    assert cat.get_version("fixo") == "2023-05-10"
    assert cat.get_metadata("fixo")["version"] == "2023-05-10"


def test_thin_lookup_wrappers(spark, catalog):
    """Round-3 API surface completion: the reference's single-value and
    CURIE-shaped lookups (api/alts.py, names.py, xrefs.py, relations.py,
    species.py, properties.py, edges.py)."""
    # alts family
    a2i = catalog.get_alts_to_id("fixo")
    if a2i:
        alt, primary = next(iter(a2i.items()))
        assert catalog.get_primary_curie(f"fixo:{alt}") == f"fixo:{primary}"
    # names family
    assert (
        catalog.get_name_by_curie("fixo:0000001") == generator._label(1)
    )
    defs = catalog.get_id_definition_mapping("fixo")
    assert defs and all(v for v in defs.values())
    syns = catalog.get_synonyms("fixo", "0000002")
    assert syns == sorted(syns)
    # xref / sssom
    assert catalog.get_sssom_df("fixo").columns == [
        "subject_id", "predicate_id", "object_id"
    ]
    # obsolete references are CURIE-shaped
    obs = catalog.get_obsolete_references("fixo")
    assert all(c.startswith("fixo:") for c in obs)
    # graph export through the API
    g = catalog.get_graph("fixo")
    assert g["directed"] and len(g["nodes"]) == 40
    # multirelations: every is-a-free relation target is CURIE-shaped
    multi = catalog.get_id_multirelations_mapping(
        "fixo", ("BFO", "0000050")
    )
    for targets in multi.values():
        assert all(":" in t for t in targets)


def test_subsetdefs_and_synonym_typedefs(spark):
    """Header vocab surfaces through the catalog (Obo.subsetdefs /
    Obo.synonym_typedefs)."""
    from pyobo_spark.api import catalog_from_obo

    src = (
        "format-version: 1.4\n"
        'subsetdef: SLIM "the slim"\n'
        'synonymtypedef: ST1 "abbrev" EXACT\n'
        "ontology: tsto\n\n"
        "[Term]\nid: TSTO:1\nname: thing\nsubset: SLIM\n"
    )
    cat = catalog_from_obo(spark, [("tsto", src)])
    assert cat.get_subsetdefs("tsto") == {"obo:tsto#SLIM": "the slim"}
    std = cat.get_synonym_typedefs("TSTO")
    assert std == [
        {"curie": "obo:tsto#ST1", "name": "abbrev", "specificity": "EXACT"}
    ]
    assert cat.get_subset_members("tsto", "SLIM") == {"1"}


def test_cached_encoder_loads_once_per_worker(spark, tmp_path):
    """term_embeddings(model=...) promises heavy weights load once per
    Python worker, not per task or per batch (reference loads MiniLM
    once behind @lru_cache, api/embedding.py:117-118). cached_encoder is
    that promise: the loader stamps a pid-tagged marker file on every
    invocation; running 32 tasks on 8 cores must produce at most one
    marker per worker pid — and far fewer markers than tasks."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from pyobo_spark.operators import embeddings as E

    marker_dir = str(tmp_path / "loads")
    os.makedirs(marker_dir)

    def loader():
        import os as _os
        import uuid as _uuid

        with open(
            f"{marker_dir}/{_os.getpid()}.{_uuid.uuid4().hex}", "w"
        ) as f:
            f.write("loaded")

        def enc(texts):
            return np.ones((len(texts), 4))

        return enc

    terms = (
        spark.range(200)
        .select(
            F.lit("p").alias("prefix"),
            F.col("id").cast("string").alias("identifier"),
            F.concat(F.lit("name "), F.col("id")).alias("name"),
        )
        .repartition(32)  # many more tasks than worker processes
    )
    out = E.term_embeddings(
        terms, dim=4, model=E.cached_encoder(loader, key="test-load-once")
    ).collect()
    assert len(out) == 200

    loads = os.listdir(marker_dir)
    pids = {name.split(".")[0] for name in loads}
    assert len(loads) == len(pids), f"a worker loaded twice: {loads}"
    assert 1 <= len(loads) <= 8, loads  # ≤ one per core, « 32 tasks

    # a second job through the same cache key loads NOTHING new on
    # already-warm workers (new worker pids are the only allowed growth)
    E.term_embeddings(
        terms, dim=4, model=E.cached_encoder(loader, key="test-load-once")
    ).collect()
    loads2 = os.listdir(marker_dir)
    pids2 = {name.split(".")[0] for name in loads2}
    assert len(loads2) == len(pids2), "a warm worker re-loaded"


def test_real_model_swap_end_to_end(spark):
    """Opt-in proof of the one-expression real-model swap (VERDICT r05
    #4): when sentence-transformers is installed, run the SAME
    cached_encoder + term_embeddings path with actual MiniLM weights
    (reference api/embedding.py:117-118) and verify shape + L2 norm +
    determinism. Skips in environments without the library — the
    distributed machinery it shares with the stand-in path is pinned by
    test_cached_encoder_loads_once_per_worker either way."""
    pytest.importorskip("sentence_transformers")
    import numpy as np

    from jobs.embed_real_model_job import resolve_loader
    from pyobo_spark.operators import embeddings as E

    loader, source, dim = resolve_loader(None)
    assert "MiniLM" in source
    assert dim == 384  # MiniLM-L6-v2 native output width
    terms = spark.createDataFrame(
        [("p", str(i), f"term name {i}") for i in range(20)],
        "prefix string, identifier string, name string",
    ).repartition(4)
    model = E.cached_encoder(loader, key="real-minilm-test")
    out = E.term_embeddings(terms, dim=dim, model=model).collect()
    assert len(out) == 20
    vecs = {r["identifier"]: np.array(r["vector"]) for r in out}
    assert all(v.shape == (dim,) for v in vecs.values())
    # MiniLM vectors are non-degenerate and deterministic per input
    again = {
        r["identifier"]: np.array(r["vector"])
        for r in E.term_embeddings(terms, dim=dim, model=model).collect()
    }
    for k in vecs:
        assert np.allclose(vecs[k], again[k], atol=1e-5)


def test_cached_encoder_lru_refreshes_on_hit():
    """Eviction is LRU, not FIFO: a hit refreshes recency, so touching
    the oldest entry protects it and the truly-least-recently-used one
    is evicted instead (ADVICE r05: FIFO would thrash the hottest
    encoder when a job alternates among capacity+1 keys). Driver-side
    unit test — the cache module is process-local either way."""
    from pyobo_spark.operators import embeddings as E

    loads: list[str] = []

    def make_loader(name):
        def loader():
            loads.append(name)
            return lambda texts: [name] * len(texts)

        return loader

    # isolate from other tests sharing the module-level cache
    saved = dict(E._ENCODER_CACHE)
    E._ENCODER_CACHE.clear()
    try:
        enc = {
            n: E.cached_encoder(make_loader(n), key=f"lru-{n}", capacity=2)
            for n in ("a", "b", "c")
        }
        enc["a"](["x"])          # cache: [a]
        enc["b"](["x"])          # cache: [a, b]
        enc["a"](["x"])          # HIT refreshes a → recency [b, a]
        enc["c"](["x"])          # evicts b (LRU), NOT a (FIFO would)
        assert loads == ["a", "b", "c"]
        enc["a"](["x"])          # still resident — no reload
        assert loads == ["a", "b", "c"]
        enc["b"](["x"])          # b was evicted — reloads
        assert loads == ["a", "b", "c", "b"]
        assert [k.split("lru-")[-1] for k in E._ENCODER_CACHE] == ["a", "b"]
    finally:
        E._ENCODER_CACHE.clear()
        E._ENCODER_CACHE.update(saved)


def test_prefix_folding_uniform_across_catalog(spark, catalog):
    """r04 advice: folding was inconsistent — get_alts_to_id('CHEBI')
    worked while get_ids('CHEBI') silently returned empty. The class
    decorator now folds the prefix at EVERY public entry point; sweep
    the whole dict/set/df-returning surface with an uppercase prefix and
    require identical results to the lowercase call."""
    df_like = (
        "get_references", "get_subsets_df", "get_replacements_df",
        "get_xrefs_df", "get_mappings_df", "get_relations_df",
        "get_sssom_df", "get_properties_df", "get_literal_properties_df",
        "get_object_properties_df", "get_edges_df",
    )
    plain = (
        "get_ids", "get_id_name_mapping", "get_name_id_mapping",
        "get_id_definition_mapping", "get_obsolete",
        "get_id_synonyms_mapping", "get_subsetdefs",
        "get_synonym_typedefs", "get_version", "get_metadata",
        "get_id_to_alts", "get_alts_to_id", "get_id_species_mapping",
        "get_obsolete_references",
    )
    must_be_nonempty = {"get_ids", "get_id_name_mapping", "get_obsolete"}
    for name in plain:
        lo, up = getattr(catalog, name)("fixo"), getattr(catalog, name)("FIXO")
        assert lo == up, f"{name} differs on uppercase prefix"
        if name in must_be_nonempty:
            assert lo, f"{name} returned empty for the fixture prefix"
    for name in df_like:
        lo = getattr(catalog, name)("fixo").collect()
        up = getattr(catalog, name)("FIXO").collect()
        assert sorted(map(tuple, lo)) == sorted(map(tuple, up)), name
    # keyword-style call folds too
    assert catalog.get_ids(prefix="FIXO") == catalog.get_ids("fixo")


def test_grounder_cache_folds_list_prefixes(spark, catalog):
    """A list-valued prefix bypasses the class decorator's string fold;
    get_grounder must fold each element so ('FIXO',) and ('fixo',)
    share ONE broadcast matcher (and ground() works uppercase)."""
    g1 = catalog.get_grounder(["FIXO"])
    g2 = catalog.get_grounder("fixo")
    assert g1 is g2
    assert catalog.ground(["FIXO"], generator._label(5)) == "fixo:0000005"


def test_cached_encoder_default_key_distinguishes_loaders():
    """Two loaders from the same factory (same qualname!) with different
    captured arguments must get DISTINCT default cache slots — the
    default key is a digest of the cloudpickled loader, not its name."""
    from pyobo_spark.operators import embeddings as E

    def make_loader(tag):
        def loader():
            return lambda texts: tag

        return loader

    enc_a = E.cached_encoder(make_loader("A"))
    enc_b = E.cached_encoder(make_loader("B"))
    assert enc_a(["x"]) == "A"
    assert enc_b(["x"]) == "B"  # a name-keyed default would return "A"


def test_prefix_folding_covers_sibling_prefix_args(spark, catalog):
    """Folding must reach EVERY prefix-valued parameter, not only the
    first: get_filtered_xrefs('fixo', 'FIXP') etc. compare against
    lowercase stored target prefixes and would silently return empty
    with a first-arg-only fold."""
    assert catalog.get_filtered_xrefs("FIXO", "FIXP") == \
        catalog.get_filtered_xrefs("fixo", "fixp")
    assert catalog.get_filtered_xrefs("fixo", "FIXP")["0000001"] == "0000001"
    assert catalog.get_xref("fixo", "0000001", "FIXP") == "0000001"
    rel = catalog.get_relation_mapping("FIXO", ("BFO", "0000050"), "FIXO")
    assert rel["0000001"] == "0000002"
    assert catalog.get_relation(
        "fixo", "0000001", ("BFO", "0000050"), "FIXO"
    ) == catalog.get_relation("fixo", "0000001", ("BFO", "0000050"), "fixo")


def test_ingest_enforces_lowercase_prefix_invariant(spark, tmp_path):
    """The lookup API folds its arguments, so INGEST must fold stored
    prefix-valued values too (r5 review): display-cased dict parts and
    externally-written parquet artifacts both normalize on the way in."""
    from pyobo_spark.api import build_ontology, catalog_from_parquet

    cat = build_ontology(
        spark, "MyOnt",
        terms=[{"identifier": "1", "name": "thing"}],
        xrefs=[{"identifier": "1", "target_prefix": "NCBITaxon",
                "target_id": "9606"}],
    )
    assert cat.get_filtered_xrefs("myont", "NCBITaxon") == {"1": "9606"}
    assert cat.get_filtered_xrefs("MYONT", "ncbitaxon") == {"1": "9606"}

    # externally-written artifact with display-cased prefixes
    spark.createDataFrame(
        [("ExtOnt", "7", "ext thing", None, False, None)],
        "prefix string, identifier string, name string, definition string,"
        " is_obsolete boolean, species_id string",
    ).write.parquet(str(tmp_path / "terms.parquet"))
    ext = catalog_from_parquet(spark, str(tmp_path))
    assert ext.get_id_name_mapping("extont") == {"7": "ext thing"}
    assert ext.get_id_name_mapping("ExtOnt") == {"7": "ext thing"}


def test_cached_encoder_capacity_is_shared_max():
    """The per-worker cache is shared across encoders: a default-capacity
    encoder must not truncate the dict below a larger-capacity sibling's
    working set (r06 review — eviction bound is the MAX registered
    capacity, driver-side kernel test, no Spark needed)."""
    from pyobo_spark.operators import embeddings as E

    E._ENCODER_CACHE.clear()
    E._ENCODER_CAPS.clear()
    loads: list[str] = []

    def mk(name):
        def loader():
            loads.append(name)
            return lambda texts: [name] * len(texts)

        return loader

    big = [
        E.cached_encoder(mk(f"b{i}"), key=f"cap-b{i}", capacity=4)
        for i in range(3)
    ]
    small = E.cached_encoder(mk("s"), key="cap-s")  # default capacity=2
    for enc in big:
        enc(["x"])
    small(["x"])  # 4 resident; bound = max resident cap = 4 -> no evict
    for enc in big:
        enc(["x"])  # all hits: the big encoders never reloaded
    assert loads == ["b0", "b1", "b2", "s"]
    assert len(E._ENCODER_CACHE) == 4
    # decay: churn past the high-capacity entries' LRU positions evicts
    # them, and with only capacity-2 keys resident the bound falls to 2
    churn = [
        E.cached_encoder(mk(f"c{i}"), key=f"cap-c{i}") for i in range(5)
    ]
    for enc in churn:
        enc(["x"])
    assert len(E._ENCODER_CACHE) == 2
    assert all(k.startswith("cap-c") for k in E._ENCODER_CACHE)
    E._ENCODER_CACHE.clear()
    E._ENCODER_CAPS.clear()
