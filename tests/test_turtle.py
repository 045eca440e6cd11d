"""Turtle-subset reader — golden-tested against a small SKOS
vocabulary in tests/resources/hcrt_skos.ttl: two concepts, an object
list of 26 top concepts, en/de/cs labels, escaped quotes and a
prefixed-name datatype."""

from __future__ import annotations

from pathlib import Path

from pyobo_spark.sources.ntriples import SKOS, skos_to_tables
from pyobo_spark.sources.turtle import parse_turtle, read_turtle

TTL = str(Path(__file__).parent / "resources" / "hcrt_skos.ttl")
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
BASE = "https://w3id.org/kim/hcrt/"


def test_parse_reference_fixture():
    ts = parse_turtle(open(TTL).read())
    assert all(t["parse_status"] == "ok" for t in ts)
    concepts = {
        t["subject"]
        for t in ts
        if t["predicate"] == RDF_TYPE and t["object"] == SKOS + "Concept"
    }
    assert concepts == {BASE + "application", BASE + "assessment"}
    # object lists expand: 26 hasTopConcept targets from one line
    tops = [t for t in ts if t["predicate"] == SKOS + "hasTopConcept"]
    assert len(tops) == 26
    # language-tagged literals keep their tags; escapes decode
    labels = {
        (t["subject"], t["language"]): t["object"]
        for t in ts
        if t["predicate"] == SKOS + "prefLabel"
    }
    assert labels[(BASE + "application", "en")] == "Software Application"
    assert labels[(BASE + "assessment", "cs")] == "Hodnocení"
    desc = [
        t["object"]
        for t in ts
        if t["predicate"] == "http://purl.org/dc/terms/description"
    ][0]
    assert '"LOM for Higher Education OER Repositories"' in desc
    # prefixed-name datatypes and plain literals
    issued = [
        t
        for t in ts
        if t["predicate"] == "http://purl.org/dc/terms/issued"
    ][0]
    assert issued["object"] == "2020-02-07" and issued["is_literal"]


def test_read_turtle_into_skos_tables(spark):
    triples = read_turtle(spark, TTL)
    tables = skos_to_tables(triples, uri_prefix=BASE, prefix="hcrt")
    names = {
        (r["identifier"], r["name"])
        for r in tables["names"].collect()
    }
    # every language variant surfaces as a name row; spot-check English
    assert ("application", "Software Application") in names
    assert ("assessment", "Assessment") in names
    syn = {(r["identifier"], r["text"]) for r in tables["synonyms"].collect()}
    assert ("assessment", "Assessment") in syn


def test_turtle_literal_escapes_property():
    """Hypothesis: any printable label survives TTL literal escaping →
    parse (the writer-side escape is the N-Triples one, shared)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",), blacklist_characters="\r"
            ),
            min_size=1,
            max_size=60,
        )
    )
    def roundtrip(label):
        esc = (
            label.replace("\\", "\\\\")
            .replace('"', '\\"')
            .replace("\n", "\\n")
            .replace("\t", "\\t")
        )
        ttl = (
            "@prefix skos: <http://www.w3.org/2004/02/skos/core#>.\n"
            f'<http://x.org/a> skos:prefLabel "{esc}"@en .\n'
        )
        ts = parse_turtle(ttl)
        assert len(ts) == 1
        # the parser keeps the raw escape sequences for \n/\t (its
        # _unescape decodes them), so compare decoded forms
        assert ts[0]["object"] == label
        assert ts[0]["language"] == "en"

    roundtrip()
