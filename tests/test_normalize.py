"""CURIE normalization semantics vs the reference's parser
(identifier_utils/api.py:150-269) — error taxonomy, preclean, banana
strip, EC standardization, URI parsing, OBO default references."""

from __future__ import annotations

import pytest

from pyobo_spark.normalize.curie import parse_one, preclean
from pyobo_spark.normalize.registry import Registry

REG = Registry.default()


@pytest.mark.parametrize(
    ("raw", "expected"),
    [
        ("url:http://example.com/x", "http://example.com/x"),
        ("URI: http://example.com/x", "http://example.com/x"),
        ("http\\://example.com", "http://example.com"),
        ("  chebi:1234  ", "chebi:1234"),
        ("chebi:1234/", "chebi:1234"),
    ],
)
def test_preclean(raw, expected):
    assert preclean(raw) == expected


@pytest.mark.parametrize(
    ("raw", "prefix", "identifier", "status"),
    [
        ("CHEBI:1234", "chebi", "1234", "ok"),
        # banana: redundant embedded prefix stripped
        ("CHEBI:CHEBI:1234", "chebi", "1234", "ok"),
        ("chebiid:1234", "chebi", "1234", "ok"),  # prefix synonym
        ("GO:0032571", "go", "0032571", "ok"),
        ("taxonomy:9606", "ncbitaxon", "9606", "ok"),
        ("EC:1.2.3.-", "eccode", "1.2.3", "ok"),  # trailing -/. stripped
        ("ec:1.2.3.4", "eccode", "1.2.3.4", "ok"),
        ("", None, None, "empty"),
        ("   ", None, None, "empty"),
        ("-", None, None, "blocklist"),
        ("nocolonhere", None, None, "not_curie"),
        ("unknownpfx:123", None, None, "unregistered_prefix"),
        ("GO:12345", "go", "12345", "invalid_identifier"),  # pattern \d{7}
        ("http://purl.obolibrary.org/obo/GO_0032571", "go", "0032571", "ok"),
        ("http://example.com/unknown/999", None, None, "unparsable_iri"),
        ("part_of", "bfo", "0000050", "ok"),  # remap-full rule
    ],
)
def test_parse_one(raw, prefix, identifier, status):
    p, i, st = parse_one(raw, REG)
    assert (p, i, st) == (prefix, identifier, status)


def test_obo_default_reference():
    # unqualified token in ontology context → obo:{prefix}#{token}
    # (struct/reference.py:148-167)
    p, i, st = parse_one("someToken", REG, ontology_prefix="chebi")
    assert (p, i, st) == ("obo", "chebi#someToken", "ok")


def test_normalize_curies_df(spark):
    from pyobo_spark.normalize.curie import normalize_curies

    df = spark.createDataFrame(
        [("CHEBI:CHEBI:99",), ("bogus:1",), ("",), ("GO:0000001",)],
        "raw string",
    )
    out = normalize_curies(df, "raw").collect()
    by_raw = {r["raw"]: r for r in out}
    assert by_raw["CHEBI:CHEBI:99"]["identifier"] == "99"
    assert by_raw["bogus:1"]["parse_status"] == "unregistered_prefix"
    assert by_raw[""]["parse_status"] == "empty"
    assert by_raw["GO:0000001"]["parse_status"] == "ok"
    metrics = {
        r["parse_status"]: r["count"]
        for r in normalize_curies(df, "raw").groupBy("parse_status")
        .count().collect()
    }
    assert metrics["ok"] == 2


def test_parse_ec_transfer_reference_cases():
    """The four reference golden cases (test_utils.py:62-80)."""
    from pyobo_spark.normalize.registry import parse_ec_transfer

    want = ["1.1.1.198", "1.1.1.227", "1.1.1.228"]
    assert parse_ec_transfer(
        "Transferred entry: 1.1.1.198, 1.1.1.227 and 1.1.1.228."
    ) == want
    assert parse_ec_transfer(
        "Transferred entry: 1.1.1.198, 1.1.1.227 and 1.1.1.228"
    ) == want
    assert parse_ec_transfer(
        "Transferred entry: 1.1.1.198, 1.1.1.227, and 1.1.1.228"
    ) == want
    assert parse_ec_transfer(
        "Transferred entry: 1.1.1.198 and 1.1.1.228."
    ) == ["1.1.1.198", "1.1.1.228"]


def test_resource_specific_prefix_remap():
    """'Thesaurus:C1234' only normalizes (to ncit) inside the enm
    ontology context (reference test_utils.py test_strip_prefix)."""
    from pyobo_spark.normalize.curie import parse_one
    from pyobo_spark.normalize.registry import Registry

    reg = Registry.default()
    assert parse_one("Thesaurus:C1234", reg) == (
        None, None, "unregistered_prefix"
    )
    assert parse_one("Thesaurus:C1234", reg, ontology_prefix="enm") == (
        "ncit", "C1234", "ok"
    )
