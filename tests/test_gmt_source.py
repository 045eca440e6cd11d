"""GMT gene-set reader — the reference's GMT golden checks
(tests/test_utils/test_gmt.py), over two small files in
tests/resources/: one MSigDB-style, one in the WikiPathways ``%``
dialect."""

from __future__ import annotations

from pathlib import Path

from pyobo_spark.sources.gmt_source import (
    gene_set_members,
    read_gmt,
    read_wikipathways_gmt,
)

MSIGDB = str(Path(__file__).parent / "resources" / "test_msigdb.gmt")
WP = str(Path(__file__).parent / "resources" / "test_wikipathways.gmt")


def test_parse_standard_golden(spark):
    rows = {r["name"]: r for r in read_gmt(spark, MSIGDB).collect()}
    assert len(rows) == 3
    r = rows["HALLMARK_TNFA_SIGNALING_VIA_NFKB"]
    assert r["info"] == (
        "http://www.gsea-msigdb.org/gsea/msigdb/cards/"
        "HALLMARK_TNFA_SIGNALING_VIA_NFKB"
    )
    assert set(r["genes"]) == {"3726", "2920"}
    assert set(rows["HALLMARK_HYPOXIA"]["genes"]) == {"5230", "5163", "2632"}
    assert set(rows["HALLMARK_CHOLESTEROL_HOMEOSTASIS"]["genes"]) == {
        "2224", "1595"
    }


def test_parse_wikipathways_golden(spark):
    rows = read_wikipathways_gmt(spark, WP).collect()
    assert rows, "fixture parses"
    for r in rows:
        assert r["identifier"].startswith("WP")
        assert r["revision"] == ""
        assert r["version"]
        assert r["genes"]


def test_gene_set_members(spark):
    members = gene_set_members(read_gmt(spark, MSIGDB)).collect()
    assert len(members) == 7
    assert all(m["gene_prefix"] == "ncbigene" for m in members)
