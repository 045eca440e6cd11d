"""Fixture-scoped prefix-rule snapshot — a small, deterministic,
public-knowledge stand-in for the live Bioregistry that the reference
consults (reference: bioregistry.NormalizedNamableReference at
identifier_utils/reference.py:3; normalize_prefix / standardize_identifier
calls inside identifier_utils/api.py:150-269).

The reference's normalization rules are DATA (a registry), not code; we
snapshot just the rules our fixtures + common OBO prefixes need so tests
are hermetic and require no network. The structure mirrors the public
Bioregistry record fields: preferred prefix casing, synonyms, banana
(redundant prefix embedded in identifiers), URI prefix for CURIE↔IRI.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PrefixRecord:
    prefix: str                      # normalized (lowercase) prefix
    preferred: str                   # preferred output casing
    synonyms: tuple[str, ...] = ()   # alternate spellings (lowercased)
    banana: str | None = None        # e.g. CHEBI ids arrive as 'CHEBI:1234'
    uri_prefixes: tuple[str, ...] = ()
    pattern: str | None = None       # identifier regex (validation)


_RECORDS: tuple[PrefixRecord, ...] = (
    PrefixRecord("chebi", "CHEBI", ("chebiid",), banana="CHEBI",
                 uri_prefixes=("http://purl.obolibrary.org/obo/CHEBI_",),
                 pattern=r"^\d+$"),
    PrefixRecord("go", "GO", ("gene ontology",), banana="GO",
                 uri_prefixes=("http://purl.obolibrary.org/obo/GO_",),
                 pattern=r"^\d{7}$"),
    PrefixRecord("ncbitaxon", "NCBITaxon", ("taxonomy", "ncbi_taxid", "taxon"),
                 uri_prefixes=("http://purl.obolibrary.org/obo/NCBITaxon_",),
                 pattern=r"^\d+$"),
    PrefixRecord("ro", "RO", (), banana="RO",
                 uri_prefixes=("http://purl.obolibrary.org/obo/RO_",)),
    PrefixRecord("bfo", "BFO", (), banana="BFO",
                 uri_prefixes=("http://purl.obolibrary.org/obo/BFO_",)),
    PrefixRecord("iao", "IAO", (), banana="IAO",
                 uri_prefixes=("http://purl.obolibrary.org/obo/IAO_",)),
    PrefixRecord("omo", "OMO", (), banana="OMO",
                 uri_prefixes=("http://purl.obolibrary.org/obo/OMO_",)),
    PrefixRecord("eccode", "eccode", ("ec", "ec-code", "enzyme"),
                 pattern=r"^\d{1,2}(\.\d{0,3}){0,3}$"),
    PrefixRecord("pubmed", "pubmed", ("pmid", "med", "medline"),
                 pattern=r"^\d+$"),
    PrefixRecord("obo", "obo", ()),
    PrefixRecord("rdfs", "rdfs", (),
                 uri_prefixes=("http://www.w3.org/2000/01/rdf-schema#",)),
    PrefixRecord("skos", "skos", (),
                 uri_prefixes=("http://www.w3.org/2004/02/skos/core#",)),
    PrefixRecord("owl", "owl", (),
                 uri_prefixes=("http://www.w3.org/2002/07/owl#",)),
    PrefixRecord("xsd", "xsd", (),
                 uri_prefixes=("http://www.w3.org/2001/XMLSchema#",)),
    PrefixRecord("oboinowl", "oboInOwl", ("oio",),
                 uri_prefixes=("http://www.geneontology.org/formats/oboInOwl#",)),
    # fixture ontology prefixes
    PrefixRecord("fixo", "fixo", (), pattern=r"^\d{7}$"),
    PrefixRecord("fixp", "fixp", ("fixpart",), pattern=r"^\d{7}$"),
    PrefixRecord("fixs", "fixs", (), pattern=r"^\d{7}$"),
    PrefixRecord("fixc", "fixc", (), pattern=r"^\d{7}$"),
    PrefixRecord("fixn", "fixn", (), pattern=r"^\d{7}$"),
    PrefixRecord("fixr", "fixr", (), pattern=r"^\d{7}$"),
    PrefixRecord("fixq", "fixq", (), pattern=r"^\d{7}$"),
)

# CURIEs that must never parse — mirrors the reference's blocklists
# (identifier_utils/api.py Blocklist error path).
BLOCKLIST: frozenset[str] = frozenset({"curator:ns", "-", "none", "null"})

# full-string remaps applied before parsing (reference: remap-full rules)
REMAP_FULL: dict[str, tuple[str, str]] = {
    "part_of": ("BFO", "0000050"),
    "in_taxon": ("RO", "0002162"),
}

# resource-specific prefix remaps: a raw prefix that only normalizes
# inside a particular ontology's context (reference: curated per-resource
# remappings exercised by test_utils.py test_strip_prefix — 'Thesaurus'
# means ncit only inside enm). Keyed (ontology_prefix, raw_prefix_lower).
RESOURCE_PREFIX_REMAPS: dict[tuple[str, str], str] = {
    ("enm", "thesaurus"): "ncit",
}

# relation-label grounding (reference: ground_relation,
# identifier_utils/relations/api.py:66-72 — label normalized by stripping
# space/underscore/colon + lowercase, then looked up in a packaged map).
# Subset of the RO/BFO/IAO labels the engine's typedefs cover.
RELATION_LABELS: dict[str, tuple[str, str]] = {
    "partof": ("BFO", "0000050"),
    "haspart": ("BFO", "0000051"),
    "intaxon": ("RO", "0002162"),
    "isa": ("rdfs", "subClassOf"),
    "locatedin": ("RO", "0001025"),
    "derivesfrom": ("RO", "0001000"),
    "hasrole": ("RO", "0000087"),
    "homologousto": ("RO", "HOM0000007"),
}


def preferred_case(prefix: str) -> str:
    """Canonical output casing for a prefix (bioregistry preferred
    prefix): registry preferred casing when known, else unchanged —
    never blanket uppercase ('ncbitaxon' → 'NCBITaxon', not
    'NCBITAXON')."""
    for rec in _RECORDS:
        if rec.prefix == prefix.strip().lower():
            return rec.preferred
    return prefix


def preferred_case_col(col):
    """Column form of :func:`preferred_case` as a broadcast-literal map —
    the single source of truth for every serialization sink (OBO / OFN /
    SKOS / OBO-Graph)."""
    from pyspark.sql import functions as F

    pairs = [
        x for rec in _RECORDS for x in (F.lit(rec.prefix), F.lit(rec.preferred))
    ]
    return F.coalesce(F.create_map(*pairs)[F.lower(col)], col)


def ground_relation(label: str) -> tuple[str, str] | None:
    """Normalize a relation label (_norm: strip space/underscore/colon/
    dash, lowercase) and look it up."""
    norm = (
        label.strip().lower()
        .replace(" ", "").replace("_", "").replace(":", "").replace("-", "")
    )
    return RELATION_LABELS.get(norm)


@dataclass
class Registry:
    records: dict[str, PrefixRecord] = field(default_factory=dict)
    synonym_index: dict[str, str] = field(default_factory=dict)
    uri_index: list[tuple[str, str]] = field(default_factory=list)

    @classmethod
    def default(cls) -> "Registry":
        reg = cls()
        for rec in _RECORDS:
            reg.records[rec.prefix] = rec
            reg.synonym_index[rec.prefix] = rec.prefix
            reg.synonym_index[rec.preferred.lower()] = rec.prefix
            for s in rec.synonyms:
                reg.synonym_index[s.lower()] = rec.prefix
            for u in rec.uri_prefixes:
                reg.uri_index.append((u, rec.prefix))
        # longest URI prefixes first (greedy match)
        reg.uri_index.sort(key=lambda t: -len(t[0]))
        return reg

    def normalize_prefix(self, raw: str) -> str | None:
        return self.synonym_index.get(raw.strip().lower())

    def lookup_uri(self, uri: str) -> tuple[str, str] | None:
        for upfx, prefix in self.uri_index:
            if uri.startswith(upfx):
                return prefix, uri[len(upfx):]
        return None


def default_reference(
    prefix: str, identifier: str, name: str | None = None
) -> tuple[str, str]:
    """CURIE pair for an "unqualified" in-ontology reference — the
    reference's ``default_reference`` (struct/reference.py:148-167):
    a bare ``located_in`` inside ``chebi`` becomes
    ``("obo", "chebi#located_in")``. ``name`` is accepted for signature
    parity (the engine's long tables carry names separately)."""
    if not identifier.strip():
        raise ValueError("default identifier is empty")
    norm = Registry.default().normalize_prefix(prefix) or prefix.lower()
    return ("obo", f"{norm}#{identifier}")


def parse_ec_transfer(value: str) -> list[str]:
    """Parse an ExPASy 'Transferred entry:' line into the EC codes it
    points at (reference sources/expasy.py:286-300, tested by
    test_utils.py test_parse_eccode_transfer): strips the lead phrase,
    trailing period, and splits on ', ' / ' and '."""
    lead = "Transferred entry: "
    if value.startswith(lead):
        value = value[len(lead):]
    value = value.rstrip().rstrip(".")
    out: list[str] = []
    for chunk in value.split(","):
        for part in chunk.split(" and "):
            part = part.strip()
            if part:
                out.append(part)
    return out
