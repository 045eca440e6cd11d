"""OBO 1.4 flat-file reader → long tables.

Reference behavior: from_obo_path/_read_obo parse via obonet into a
MultiDiGraph, then from_obonet builds the object model
(/root/reference/src/pyobo/struct/obo/reader.py:65-263). We skip the
graph intermediate and parse straight to the long tables of schemas.py.

Grammar subset (what tests/resources/test_chebi.obo, a ChEBI-style
excerpt, and the reference's reader unit tests exercise —
reader.py:266-430, tests/test_obo_reader/test_reader.py):
  [Term]/[Typedef] stanzas; tags id, name, def, synonym, xref, is_a,
  alt_id, property_value, is_obsolete, subset, namespace; header tags
  ontology, data-version, and the treat-xrefs-as-* macros
  (reader.py:621-724) that reroute xrefs into equivalence/relation rows.

Distribution: stanza parsing is embarrassingly parallel — the file is
split into stanza chunks on the driver (ontology files are ≤ a few GB;
the CORPUS is the big thing, not the ontologies), and chunks are parsed
in an Arrow-batched mapInPandas. For a pathological multi-TB OBO file the
same parser body runs over spark.read.text with a stanza-boundary
repartition; not needed for any real ontology.
"""

from __future__ import annotations

import functools
import re
from collections.abc import Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..normalize.registry import default_reference, ground_relation

_SYN_RE = re.compile(
    r'^"(?P<text>(?:[^"\\]|\\.)*)"'
    r"(?:\s+(?P<spec>EXACT|BROAD|NARROW|RELATED))?"
    r"(?:\s+(?P<type>[^\s\[]\S*))?"
    r"(?:\s+\[(?P<prov>[^\]]*)\])?"
)
_DEF_RE = re.compile(r'^"(?P<text>(?:[^"\\]|\\.)*)"(?:\s+\[(?P<prov>[^\]]*)\])?')
# trailing `{qualifier="..."}` axiom block (OBO 1.4 trailing qualifiers) —
# stripped from every tag value: reference-valued tags (is_a, consider,
# relationship...) must not carry it into identifiers, and the quoted-
# value parsers never consume it anyway
_TRAILING_AXIOMS = re.compile(r"\s*\{[^{}]*\}\s*$")
_UNESCAPE = re.compile(r"\\(.)")

# unquoted property_value object: CURIE whose prefix starts with a letter
_OBJ_CURIE_RE = re.compile(r"^[A-Za-z_][\w.-]*:[^\s]+$")
_NON_OBJECT_SCHEMES = frozenset(
    {"http", "https", "ftp", "urn", "mailto", "file"}
)

_TYPEDEF_ONLY_TAGS = frozenset(
    {  # OBO 1.4 typedef-only tags (struct.py:2254-2318)
        "domain", "range", "inverse_of", "transitive_over",
        "holds_over_chain", "is_transitive", "is_symmetric",
        "is_anti_symmetric", "is_cyclic", "is_reflexive", "is_functional",
        "is_inverse_functional", "is_metadata_tag", "is_class_level",
        "comment",
    }
)

SPEC_TO_PREDICATE = {  # struct.py:157-160
    "EXACT": "oboInOwl:hasExactSynonym",
    "BROAD": "oboInOwl:hasBroadSynonym",
    "NARROW": "oboInOwl:hasNarrowSynonym",
    "RELATED": "oboInOwl:hasRelatedSynonym",
}


@dataclass
class ParsedOntology:
    prefix: str = ""
    version: str | None = None
    macros: dict[str, list[str]] = field(default_factory=dict)
    terms: list[dict] = field(default_factory=list)
    synonyms: list[dict] = field(default_factory=list)
    xrefs: list[dict] = field(default_factory=list)
    relations: list[dict] = field(default_factory=list)
    parents: list[dict] = field(default_factory=list)
    alts: list[dict] = field(default_factory=list)
    properties: list[dict] = field(default_factory=list)
    object_properties: list[dict] = field(default_factory=list)
    typedefs: list[dict] = field(default_factory=list)
    # obsolete-upgrade flow (reader.py replaced_by/consider handling;
    # surfaced in the nodes export, struct.py:1189-1236)
    replaced_by: list[dict] = field(default_factory=list)
    considers: list[dict] = field(default_factory=list)
    subsets: list[dict] = field(default_factory=list)
    # logical definitions (struct_utils edges legs: intersections/unions)
    intersections: list[dict] = field(default_factory=list)
    unions: list[dict] = field(default_factory=list)
    disjoints: list[dict] = field(default_factory=list)
    # header metadata
    date: str | None = None          # ISO-8601 (parsed from %d:%m:%Y %H:%M)
    idspaces: dict[str, str] = field(default_factory=dict)
    # header vocab declarations (reader.py test_7/test_8/test_16
    # semantics): subsetdef CURIE → comment; synonymtypedef records;
    # remark lines (stored by the reference as comment property values)
    subsetdefs: dict[str, str] = field(default_factory=dict)
    synonym_typedefs: list[dict] = field(default_factory=list)
    remarks: list[str] = field(default_factory=list)
    imports: list[str] = field(default_factory=list)
    # header-level property_value lines as raw (predicate, value) pairs
    # (test_18_properties)
    header_properties: list[tuple[str, str]] = field(default_factory=list)


_ESCAPES = {"n": "\n", "t": "\t", "W": " ", ":": ":", ",": ",", '"': '"',
             "\\": "\\", "(": "(", ")": ")", "[": "[", "]": "]", "{": "{",
             "}": "}"}


def _unescape(s: str) -> str:
    """OBO 1.2 escape table: \\n newline, \\t tab, \\W space, plus
    pass-through for escaped punctuation."""
    return _UNESCAPE.sub(lambda m: _ESCAPES.get(m.group(1), m.group(1)), s)


def _split_curie(s: str) -> tuple[str, str]:
    if ":" in s:
        p, i = s.split(":", 1)
        return p, i
    return "", s


@functools.lru_cache(maxsize=1024)
def _ground_pred(pred: str, ontology_prefix: str) -> tuple[str, str]:
    """Predicate pair of a `relationship:` tag, an `intersection_of:`
    differentia or a treat-xrefs-as-* macro (reference:
    _obo_parse_identifier). A CURIE splits; an unqualified label
    grounds to its typedef CURIE ('part_of' →
    BFO:0000050, ground_relation, identifier_utils/relations/api.py:
    66-72), and a label ground_relation does not know becomes the
    ontology's default_reference ('is_conjugate_base_of' in chebi →
    ('obo', 'chebi#is_conjugate_base_of')). Every parse path calls
    this, so predicate-CURIE filters see one form."""
    rp, ri = _split_curie(pred)
    if rp:
        return rp, ri
    return ground_relation(pred) or default_reference(ontology_prefix, pred)


def _strip_comment(line: str) -> str:
    """Drop an OBO trailing comment: only an unescaped '!' OUTSIDE
    double-quoted segments starts a comment (spec §2.2) — a naive
    split(' !') truncates defs/synonyms whose quoted text contains ' !'."""
    if "!" not in line:
        return line
    in_quote = False
    i, n = 0, len(line)
    while i < n:
        c = line[i]
        if c == "\\":
            i += 2
            continue
        if c == '"':
            in_quote = not in_quote
        elif c == "!" and not in_quote:
            return line[:i]
        i += 1
    return line


def _clean_def(text: str) -> str:
    """Reference definition cleanup (struct.py:1635-1638)."""
    text = _unescape(text).replace("\n", " ").replace("\t", " ")
    while "  " in text:
        text = text.replace("  ", " ")
    return text.strip()


def parse_obo_text(text: str) -> ParsedOntology:
    """Parse a full OBO document string (reference: from_str,
    reader.py:126-143)."""
    po = ParsedOntology()
    stanza_type: str | None = None  # None = header
    cur: dict = {}
    _deferred_header: list[tuple[str, str]] = []

    def flush():
        nonlocal cur
        if not cur or "id" not in cur:
            cur = {}
            return
        ident = cur["id"]
        prefix, local = _split_curie(ident)
        if stanza_type == "Typedef":
            td = cur.get("_td", {})

            def _ref(v: str | None) -> str | None:
                if v is None:
                    return None
                p, i = _split_curie(v)
                return f"{p}:{i}" if p else v

            def _bool(v: str | None) -> bool | None:
                return None if v is None else v == "true"

            po.typedefs.append(
                {
                    # the CURIE prefix is a predicate namespace (BFO/RO/
                    # local); `ontology` records which document OWNS the
                    # stanza — needed to serialize per-document typedefs
                    # out of a multi-ontology catalog
                    "ontology": po.prefix,
                    "prefix": prefix or po.prefix,
                    "identifier": local,
                    "name": cur.get("name"),
                    "namespace": cur.get("namespace"),
                    "definition": cur.get("def"),
                    "comment": td.get("comment"),
                    "domain": _ref(td.get("domain")),
                    "range": _ref(td.get("range")),
                    "inverse_of": _ref(td.get("inverse_of")),
                    "transitive_over": _ref(td.get("transitive_over")),
                    "holds_over_chain": [
                        [_ref(r) for r in chain.split()]
                        for chain in td.get("holds_over_chain", [])
                    ],
                    "is_transitive": _bool(td.get("is_transitive")),
                    "is_symmetric": _bool(td.get("is_symmetric")),
                    "is_anti_symmetric": _bool(td.get("is_anti_symmetric")),
                    "is_cyclic": _bool(td.get("is_cyclic")),
                    "is_reflexive": _bool(td.get("is_reflexive")),
                    "is_functional": _bool(td.get("is_functional")),
                    "is_inverse_functional": _bool(
                        td.get("is_inverse_functional")
                    ),
                    "is_metadata_tag": _bool(td.get("is_metadata_tag")),
                    "is_class_level": _bool(td.get("is_class_level")),
                    "is_obsolete": cur.get("is_obsolete") == "true"
                    if "is_obsolete" in cur
                    else None,
                    # raw typedef-level references; the treat-xrefs-as-*
                    # block at end of parse routes is_a-macro'd xrefs
                    # into parents
                    "parents": [_ref(v) for v in td.get("_is_a", [])],
                    "xrefs": [_ref(v) for v in td.get("_xref", [])],
                    "equivalent_to": [
                        _ref(v) for v in td.get("_equivalent_to", [])
                    ],
                    "disjoint_from": [
                        _ref(v) for v in td.get("_disjoint_from", [])
                    ],
                    "replaced_by": [
                        _ref(v) for v in td.get("_replaced_by", [])
                    ],
                    "consider": [_ref(v) for v in td.get("_consider", [])],
                }
            )
        elif stanza_type == "Term":
            po.terms.append(
                {
                    "prefix": prefix.lower(),
                    "identifier": local,
                    "name": cur.get("name"),
                    "definition": cur.get("def"),
                    "namespace": cur.get("namespace"),
                    "is_obsolete": cur.get("is_obsolete", "false") == "true",
                    "species_id": None,
                }
            )
        cur = {}

    for raw_line in text.splitlines():
        line = _strip_comment(raw_line).strip()
        if not line:
            continue
        if line.startswith("["):
            flush()
            stanza_type = line.strip("[]")
            continue
        if ":" not in line:
            continue
        tag, _, value = line.partition(":")
        tag, value = tag.strip(), value.strip()
        value = _TRAILING_AXIOMS.sub("", value).strip()

        if stanza_type is None:  # header
            if tag == "ontology":
                po.prefix = value.lower()
            elif tag == "data-version":
                po.version = value
            elif tag.startswith("treat-xrefs-as-"):
                # keep the raw line: genus-differentia / relationship
                # values carry predicate+filler CURIEs whose case matters
                kind = tag[len("treat-xrefs-as-"):]
                po.macros.setdefault(kind, []).append(value)
            elif tag == "date":
                # OBO header date format %d:%m:%Y %H:%M (constants.py:115,
                # reader.py:808) → ISO-8601
                import datetime as _dt

                try:
                    po.date = _dt.datetime.strptime(
                        value, "%d:%m:%Y %H:%M"
                    ).isoformat()
                except ValueError:
                    po.date = value
            elif tag == "idspace":
                parts = value.split(None, 2)
                if len(parts) >= 2:
                    po.idspaces[parts[0]] = parts[1]
            elif tag in ("subsetdef", "synonymtypedef"):
                # DEFERRED: real headers (GO, ChEBI) place `ontology:`
                # AFTER the subsetdef/synonymtypedef block, so po.prefix
                # may not be known yet — stash the raw line and process
                # once the whole header is read (r03 review)
                _deferred_header.append((tag, value))
            elif tag == "remark":
                po.remarks.append(value)
            elif tag == "import":
                po.imports.append(value)
            elif tag == "property_value":
                parts = value.split(" ", 1)
                if len(parts) == 2:
                    rest = parts[1].strip()
                    qm = re.match(r'^"((?:[^"\\]|\\.)*)"', rest)
                    # quoted literal (optionally followed by a datatype)
                    # parses to its unescaped text; bare tokens pass as-is
                    val = _unescape(qm.group(1)) if qm else rest
                    po.header_properties.append((parts[0], val))
            continue

        if stanza_type == "Typedef":
            if tag in _TYPEDEF_ONLY_TAGS:
                # typedef-only OBO 1.4 fields (struct.py:2254-2318)
                td = cur.setdefault("_td", {})
                if tag == "holds_over_chain":
                    td.setdefault(tag, []).append(value)
                else:
                    td[tag] = value
                continue
            if tag in ("xref", "is_a", "equivalent_to", "disjoint_from",
                       "replaced_by", "consider"):
                # typedef-level reference lists live on the TypeDef
                # record (struct.py:2254-2318 parents/xrefs/equivalent/
                # disjoint fields; test_reader_typedef.py tests 10, 23,
                # 26, 27, 36, 37) — the reference routes typedef xrefs
                # through the same macro config as terms
                # (test_15_xref_is_a_for_typedef); see the macro block
                # at the end of parse
                td = cur.setdefault("_td", {})
                td.setdefault("_" + tag, []).append(value.split(" ")[0])
                continue
            if tag not in ("id", "name", "namespace", "is_obsolete", "def"):
                # a typedef's remaining synonym/subset/alt_id/
                # relationship lines belong to the TypeDef stanza,
                # NOT to the term tables — letting the Term handlers run
                # here would pollute hierarchy closures with predicate
                # ids and inject predicate labels into grounding
                # dictionaries. Dropped until typedef-level
                # relationships are modeled.
                continue

        if tag == "id":
            cur["id"] = value
        elif tag in ("name", "namespace", "is_obsolete"):
            cur[tag] = value
        elif tag == "def":
            m = _DEF_RE.match(value)
            if m:
                # empty quoted definition means NO definition (reference
                # test_6_provenance_no_definition: def "" [..] → None)
                cleaned = _clean_def(m.group("text"))
                if cleaned:
                    cur["def"] = cleaned
        elif tag == "synonym" and "id" in cur:
            m = _SYN_RE.match(value)
            if m:
                prefix, local = _split_curie(cur["id"])
                po.synonyms.append(
                    {
                        "prefix": prefix.lower(),
                        "identifier": local,
                        "text": _unescape(m.group("text")),
                        "predicate": SPEC_TO_PREDICATE.get(
                            m.group("spec") or "EXACT",
                            "oboInOwl:hasExactSynonym",
                        ),
                        "type": m.group("type"),
                        "provenance": [
                            p.strip()
                            for p in (m.group("prov") or "").split(",")
                            if p.strip()
                        ],
                        "language": None,
                    }
                )
        elif tag == "xref" and "id" in cur:
            prefix, local = _split_curie(cur["id"])
            xp, xi = _split_curie(value.split(" ", 1)[0])
            # trailing `[prov, ...]` provenance list (test_10_xrefs_with_
            # provenance_*): captured like synonym provenance
            pm = re.search(r"\[([^\]]*)\]\s*$", value)
            prov = (
                [p.strip() for p in pm.group(1).split(",") if p.strip()]
                if pm
                else None
            )
            po.xrefs.append(
                {
                    "prefix": prefix.lower(), "identifier": local,
                    "predicate": "oboInOwl:hasDbXref",
                    "target_prefix": xp.lower(), "target_id": xi,
                    "provenance": prov,
                }
            )
        elif tag == "is_a" and "id" in cur:
            prefix, local = _split_curie(cur["id"])
            tp_, tlocal = _split_curie(value)
            # keep the parent's own prefix (reader.py:716 append_parent
            # keeps the full reference) — foreign is_a targets must not be
            # re-stamped with the ontology prefix downstream
            po.parents.append(
                {"child_prefix": prefix.lower(), "child": local,
                 "parent_prefix": (tp_ or prefix).lower(), "parent": tlocal}
            )
        elif tag == "alt_id" and "id" in cur:
            prefix, local = _split_curie(cur["id"])
            _, alocal = _split_curie(value)
            po.alts.append(
                {"prefix": prefix.lower(), "identifier": local, "alt_id": alocal}
            )
        elif tag == "relationship" and "id" in cur:
            prefix, local = _split_curie(cur["id"])
            parts = value.split()
            if len(parts) >= 2:
                # a document without an `ontology:` header falls back to
                # the term's own prefix for default_reference
                rp, ri = _ground_pred(parts[0], po.prefix or prefix.lower())
                tp, ti = _split_curie(parts[1])
                po.relations.append(
                    {
                        "prefix": prefix.lower(), "identifier": local,
                        "relation_prefix": rp, "relation_id": ri,
                        "target_prefix": tp.lower(), "target_id": ti,
                    }
                )
        elif tag in ("intersection_of", "union_of") and "id" in cur:
            prefix, local = _split_curie(cur["id"])
            parts = value.split()
            if tag == "intersection_of":
                # either 'intersection_of: CHEBI:X' (genus) or
                # 'intersection_of: RO:R CHEBI:X' (differentia)
                if len(parts) == 1:
                    rp, ri = "", ""
                    tp_, ti = _split_curie(parts[0])
                else:
                    rp, ri = _ground_pred(parts[0], po.prefix or prefix.lower())
                    tp_, ti = _split_curie(parts[1])
                po.intersections.append(
                    {"prefix": prefix.lower(), "identifier": local,
                     "relation_prefix": rp, "relation_id": ri,
                     "target_prefix": tp_.lower(), "target_id": ti}
                )
            else:
                tp_, ti = _split_curie(parts[0])
                po.unions.append(
                    {"prefix": prefix.lower(), "identifier": local,
                     "target_prefix": tp_.lower(), "target_id": ti}
                )
        elif tag == "replaced_by" and "id" in cur:
            prefix, local = _split_curie(cur["id"])
            tp_, ti = _split_curie(value)
            po.replaced_by.append(
                {"prefix": prefix.lower(), "identifier": local,
                 "replacement_prefix": tp_.lower() or prefix.lower(),
                 "replacement_id": ti}
            )
        elif tag == "consider" and "id" in cur:
            prefix, local = _split_curie(cur["id"])
            tp_, ti = _split_curie(value)
            po.considers.append(
                {"prefix": prefix.lower(), "identifier": local,
                 "consider_prefix": tp_.lower() or prefix.lower(),
                 "consider_id": ti}
            )
        elif tag == "subset" and "id" in cur:
            prefix, local = _split_curie(cur["id"])
            po.subsets.append(
                {"prefix": prefix.lower(), "identifier": local,
                 "subset": value}
            )
        elif tag == "equivalent_to" and "id" in cur:
            prefix, local = _split_curie(cur["id"])
            tp_, ti = _split_curie(value)
            po.xrefs.append(
                {"prefix": prefix.lower(), "identifier": local,
                 "predicate": "owl:equivalentClass",
                 "target_prefix": tp_.lower(), "target_id": ti,
                 "provenance": None}
            )
        elif tag == "comment" and "id" in cur:
            prefix, local = _split_curie(cur["id"])
            po.properties.append(
                {"source_curie": f"{prefix.lower()}:{local}",
                 "predicate_curie": "rdfs:comment", "value": value,
                 "datatype": "xsd:string", "language": None}
            )
        elif tag in ("is_anonymous", "builtin") and "id" in cur:
            # boolean stanza flags (reader test_2 / test_11) — stored as
            # typed literal properties (the long-table representation of
            # the reference's term.is_anonymous / term.builtin fields)
            prefix, local = _split_curie(cur["id"])
            po.properties.append(
                {"source_curie": f"{prefix.lower()}:{local}",
                 "predicate_curie": f"oboInOwl:{tag}",
                 "value": "true" if value == "true" else "false",
                 "datatype": "xsd:boolean", "language": None}
            )
        elif tag == "disjoint_from" and "id" in cur:
            # term.disjoint_from list (reader test_17; DisjointClasses
            # in the OFN export); bare targets scope to the stanza's
            # prefix like is_a/replaced_by/consider
            prefix, local = _split_curie(cur["id"])
            tp_, ti = _split_curie(value)
            po.disjoints.append(
                {"prefix": prefix.lower(), "identifier": local,
                 "target_prefix": (tp_ or prefix).lower(),
                 "target_id": ti}
            )
        elif tag == "created_by" and "id" in cur:
            prefix, local = _split_curie(cur["id"])
            po.properties.append(
                {"source_curie": f"{prefix.lower()}:{local}",
                 "predicate_curie": "oboInOwl:created_by", "value": value,
                 "datatype": "xsd:string", "language": None}
            )
        elif tag == "creation_date" and "id" in cur:
            # ISO-8601 datetime property; unparsable values are dropped
            # with a warning like the reference (_process_creation_date,
            # reader.py:379-388; test_20_creation_date_bad_format)
            import datetime as _dt

            prefix, local = _split_curie(cur["id"])
            try:
                parsed = _dt.datetime.fromisoformat(
                    value.replace("Z", "+00:00")
                )
            except ValueError:
                pass
            else:
                po.properties.append(
                    {"source_curie": f"{prefix.lower()}:{local}",
                     "predicate_curie": "oboInOwl:creation_date",
                     "value": parsed.isoformat(),
                     "datatype": "xsd:dateTime", "language": None}
                )
        elif tag == "property_value" and "id" in cur:
            prefix, local = _split_curie(cur["id"])
            parts = value.split(" ", 1)
            if len(parts) == 2:
                val = parts[1].strip()
                dtype = None
                if val.startswith('"'):
                    m = _DEF_RE.match(val)
                    rest = val[m.end():].strip() if m else ""
                    val = _unescape(m.group("text")) if m else val
                    dtype = rest.split()[0] if rest else None
                elif _OBJ_CURIE_RE.match(val) and val.split(":", 1)[
                    0
                ].lower() not in _NON_OBJECT_SCHEMES:
                    # unquoted CURIE object, no datatype → OBJECT property
                    # (reference splits literal vs object annotations,
                    # struct.py:1716-1723 / _iterate_obo_properties).
                    # The prefix must start with a letter so unquoted
                    # literal-ish values (ISO datetimes, '1:500' ratios)
                    # stay literal, and URI schemes are excluded.
                    po.object_properties.append(
                        {
                            "source_curie": f"{prefix.lower()}:{local}",
                            "predicate_curie": parts[0],
                            "target_curie": val,
                        }
                    )
                    continue
                po.properties.append(
                    {
                        "source_curie": f"{prefix.lower()}:{local}",
                        "predicate_curie": parts[0],
                        "value": val,
                        "datatype": dtype,
                        "language": None,
                    }
                )
    flush()

    # deferred header vocab lines — processed now that po.prefix is
    # final regardless of where `ontology:` appeared in the header
    for tag, value in _deferred_header:
        if tag == "subsetdef":
            # `TOKEN "comment"` — bare tokens become the OBO default
            # reference obo:{prefix}#TOKEN; CURIEs parse; the purl URI
            # form strips back to the default reference; ids that can't
            # be a CURIE prefix (e.g. `1:STAR`) are dropped like the
            # reference's blocked normalization (test_reader_ontology.py
            # test_7_*)
            m = re.match(r'^(\S+)\s+"((?:[^"\\]|\\.)*)"', value)
            if m:
                token, comment = m.group(1), m.group(2)
                uri_form = f"http://purl.obolibrary.org/obo/{po.prefix}#"
                if token.startswith(uri_form):
                    key = f"obo:{po.prefix}#{token[len(uri_form):]}"
                elif ":" in token:
                    pfx = token.split(":", 1)[0]
                    key = token if re.match(r"^[A-Za-z_]", pfx) else None
                else:
                    key = f"obo:{po.prefix}#{token}"
                if key is not None:
                    po.subsetdefs[key] = comment
        elif tag == "synonymtypedef":
            # `ID "name" [SPECIFICITY]` — invalid specificity tokens
            # fall back to None (strict=False path of test_8)
            m = re.match(r'^(\S+)\s+"((?:[^"\\]|\\.)*)"\s*(\S*)', value)
            if m:
                token, name, spec = m.groups()
                key = token if ":" in token else f"obo:{po.prefix}#{token}"
                spec_norm = spec.upper() if spec else ""
                po.synonym_typedefs.append(
                    {
                        "curie": key,
                        "name": name,
                        "specificity": spec_norm
                        if spec_norm in ("EXACT", "BROAD", "NARROW",
                                         "RELATED")
                        else None,
                    }
                )

    # treat-xrefs-as-* macros (reader.py:621-724, MacroConfig +
    # _handle_xref): upgrade xrefs whose target prefix is listed. The
    # reference checks the four kinds in this order: equivalent,
    # genus-differentia, relationship, is_a.
    if po.macros:
        equiv = {p.lower() for p in po.macros.get("equivalent", [])}
        isa = {p.lower() for p in po.macros.get("is_a", [])}
        # 'PREFIX pred TARGET' → prefix ↦ (pred_ref, target_curie)
        # (reader.py:639-665; malformed lines are skipped, as in plana)
        genus_diff: dict[str, tuple[tuple[str, str], str]] = {}
        for line in po.macros.get("genus-differentia", []):
            parts = line.split()
            if len(parts) == 3:
                genus_diff[parts[0].lower()] = (
                    _ground_pred(parts[1], po.prefix), parts[2]
                )
        # 'PREFIX pred' → prefix ↦ pred_ref (reader.py:667-685)
        rel_macro: dict[str, tuple[str, str]] = {}
        for line in po.macros.get("relationship", []):
            parts = line.split()
            if len(parts) == 2:
                rel_macro[parts[0].lower()] = _ground_pred(parts[1], po.prefix)
        remaining = []
        for x in po.xrefs:
            txp = x["target_prefix"]
            if txp in equiv:
                remaining.append(dict(x, predicate="owl:equivalentClass"))
            elif txp in genus_diff:
                # term.append_intersection_of(xref)
                #     .append_intersection_of(pred, target)
                (rp, ri), target = genus_diff[txp]
                gtp, gti = _split_curie(target)
                po.intersections.append(
                    {"prefix": x["prefix"], "identifier": x["identifier"],
                     "relation_prefix": "", "relation_id": "",
                     "target_prefix": txp, "target_id": x["target_id"]}
                )
                po.intersections.append(
                    {"prefix": x["prefix"], "identifier": x["identifier"],
                     "relation_prefix": rp, "relation_id": ri,
                     "target_prefix": gtp.lower(), "target_id": gti}
                )
            elif txp in rel_macro:
                rp, ri = rel_macro[txp]
                po.relations.append(
                    {"prefix": x["prefix"], "identifier": x["identifier"],
                     "relation_prefix": rp, "relation_id": ri,
                     "target_prefix": txp, "target_id": x["target_id"]}
                )
            elif txp in isa:
                po.parents.append(
                    {"child_prefix": x["prefix"], "child": x["identifier"],
                     "parent_prefix": txp, "parent": x["target_id"]}
                )
            else:
                remaining.append(x)
        po.xrefs = remaining
        # typedef xrefs go through the same macro config
        # (reference: _handle_xref is shared by Term and TypeDef
        # stanzas; test_15_xref_is_a_for_typedef). Only the is_a
        # routing materializes — the typedef model has parents but not
        # arbitrary relationships, so the other kinds stay xrefs.
        for td_rec in po.typedefs:
            keep: list[str] = []
            for xc in td_rec.get("xrefs", []):
                xp = xc.split(":", 1)[0].lower() if ":" in xc else ""
                if xp in isa:
                    td_rec["parents"] = [*td_rec.get("parents", []), xc]
                else:
                    keep.append(xc)
            td_rec["xrefs"] = keep
    return po


def split_stanza_chunks(text: str, n_chunks: int) -> list[str]:
    """Split one OBO document into ≤ n_chunks parseable sub-documents at
    stanza boundaries, each carrying the full header (so treat-xrefs-as-*
    macros apply in every chunk). This is how a multi-GB OBO file
    distributes: the header is tiny, stanzas are independent."""
    idx = text.find("\n[")
    if idx < 0:
        return [text]
    header = text[:idx + 1]
    body = text[idx + 1:]
    stanzas = ["[" + s for s in body.split("\n[") if s.strip()]
    # fix first element (already starts with '[')
    if stanzas and body.startswith("["):
        stanzas[0] = stanzas[0][1:] if stanzas[0].startswith("[[") else stanzas[0]
    per = max(1, (len(stanzas) + n_chunks - 1) // n_chunks)
    return [
        header + "\n".join(stanzas[i : i + per])
        for i in range(0, len(stanzas), per)
    ]


def parse_obo_text_distributed(
    spark: SparkSession, text: str, n_chunks: int = 32
):
    """Parse one large OBO document with stanza-level parallelism:
    driver splits at stanza boundaries (cheap string scan), executors
    parse chunks via the Arrow mapInPandas parser."""
    chunks = split_stanza_chunks(text, n_chunks)
    return parse_obo_files(
        spark, [(f"chunk{i}", c) for i, c in enumerate(chunks)]
    )


def table_schemas() -> dict[str, T.StructType]:
    """Canonical long-table schemas — the single source of truth for
    every reader/source output and for OntologyCatalog's empty-table
    defaults (a catalog built from a source that only emits a subset
    of tables fills the rest with empties of these shapes)."""
    from .. import schemas

    terms_schema = T.StructType(
        [
            T.StructField("prefix", T.StringType()),
            T.StructField("identifier", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("definition", T.StringType()),
            T.StructField("namespace", T.StringType()),
            T.StructField("is_obsolete", T.BooleanType()),
            T.StructField("species_id", T.StringType()),
        ]
    )
    xrefs_schema = T.StructType(
        [
            T.StructField("prefix", T.StringType()),
            T.StructField("identifier", T.StringType()),
            T.StructField("predicate", T.StringType()),
            T.StructField("target_prefix", T.StringType()),
            T.StructField("target_id", T.StringType()),
            T.StructField("provenance", T.StringType()),
        ]
    )
    parents_schema = schemas.PARENTS
    replaced_by_schema = T.StructType(
        [
            T.StructField("prefix", T.StringType()),
            T.StructField("identifier", T.StringType()),
            T.StructField("replacement_prefix", T.StringType()),
            T.StructField("replacement_id", T.StringType()),
        ]
    )
    considers_schema = T.StructType(
        [
            T.StructField("prefix", T.StringType()),
            T.StructField("identifier", T.StringType()),
            T.StructField("consider_prefix", T.StringType()),
            T.StructField("consider_id", T.StringType()),
        ]
    )
    typedefs_schema = T.StructType(
        [
            T.StructField("ontology", T.StringType()),
            T.StructField("prefix", T.StringType()),
            T.StructField("identifier", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("namespace", T.StringType()),
            T.StructField("definition", T.StringType()),
            T.StructField("comment", T.StringType()),
            T.StructField("domain", T.StringType()),
            T.StructField("range", T.StringType()),
            T.StructField("inverse_of", T.StringType()),
            T.StructField("transitive_over", T.StringType()),
            T.StructField(
                "holds_over_chain",
                T.ArrayType(T.ArrayType(T.StringType())),
            ),
            T.StructField("is_transitive", T.BooleanType()),
            T.StructField("is_symmetric", T.BooleanType()),
            T.StructField("is_anti_symmetric", T.BooleanType()),
            T.StructField("is_cyclic", T.BooleanType()),
            T.StructField("is_reflexive", T.BooleanType()),
            T.StructField("is_functional", T.BooleanType()),
            T.StructField("is_inverse_functional", T.BooleanType()),
            T.StructField("is_metadata_tag", T.BooleanType()),
            T.StructField("is_class_level", T.BooleanType()),
            T.StructField("is_obsolete", T.BooleanType()),
            T.StructField("parents", T.ArrayType(T.StringType())),
            T.StructField("xrefs", T.ArrayType(T.StringType())),
            T.StructField("equivalent_to", T.ArrayType(T.StringType())),
            T.StructField("disjoint_from", T.ArrayType(T.StringType())),
            T.StructField("replaced_by", T.ArrayType(T.StringType())),
            T.StructField("consider", T.ArrayType(T.StringType())),
        ]
    )
    return {
        "terms": terms_schema,
        "synonyms": schemas.LITERAL_MAPPINGS,
        "xrefs": xrefs_schema,
        "relations": schemas.RELATIONS,
        "parents": parents_schema,
        "alts": schemas.ALTS,
        "properties": schemas.LITERAL_PROPERTIES,
        "typedefs": typedefs_schema,
        "intersections": schemas.INTERSECTIONS,
        "replaced_by": replaced_by_schema,
        "considers": considers_schema,
        "object_properties": schemas.OBJECT_PROPERTIES,
        "subsets": T.StructType(
            [
                T.StructField("prefix", T.StringType()),
                T.StructField("identifier", T.StringType()),
                T.StructField("subset", T.StringType()),
            ]
        ),
        "unions": T.StructType(
            [
                T.StructField("prefix", T.StringType()),
                T.StructField("identifier", T.StringType()),
                T.StructField("target_prefix", T.StringType()),
                T.StructField("target_id", T.StringType()),
            ]
        ),
        "disjoints": T.StructType(
            [
                T.StructField("prefix", T.StringType()),
                T.StructField("identifier", T.StringType()),
                T.StructField("target_prefix", T.StringType()),
                T.StructField("target_id", T.StringType()),
            ]
        ),
        "metadata": T.StructType(
            [
                T.StructField("prefix", T.StringType()),
                T.StructField("version", T.StringType()),
                T.StructField("date", T.StringType()),
            ]
        ),
        "subsetdefs": T.StructType(
            [
                T.StructField("prefix", T.StringType()),
                T.StructField("subset_curie", T.StringType()),
                T.StructField("comment", T.StringType()),
            ]
        ),
        "synonym_typedefs": T.StructType(
            [
                T.StructField("prefix", T.StringType()),
                T.StructField("curie", T.StringType()),
                T.StructField("name", T.StringType()),
                T.StructField("specificity", T.StringType()),
            ]
        ),
    }


def parse_obo_files(spark: SparkSession, texts: list[tuple[str, str]]):
    """Parse many (name, obo_text) docs in parallel via mapInPandas and
    return the union'd long tables as a dict of DataFrames."""
    in_schema = T.StructType(
        [T.StructField("name", T.StringType()), T.StructField("text", T.StringType())]
    )
    out_schema = T.StructType(
        [
            T.StructField("table", T.StringType()),
            T.StructField("row_json", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json

        for pdf in batches:
            tables, rows = [], []
            for text in pdf["text"]:
                po = parse_obo_text(text)
                for tname in ("terms", "synonyms", "xrefs", "relations",
                              "parents", "alts", "properties", "typedefs",
                              "intersections", "replaced_by", "considers",
                              "subsets", "unions", "disjoints",
                              "object_properties"):
                    for r in getattr(po, tname):
                        tables.append(tname)
                        rows.append(json.dumps(r))
                # one header-metadata row per document (utils/ver
                # VersionMetadata); chunked parses of one doc emit
                # identical rows — deduped below
                tables.append("metadata")
                rows.append(json.dumps(
                    {"prefix": po.prefix, "version": po.version,
                     "date": po.date}
                ))
                # header vocab declarations as long tables (Obo
                # .subsetdefs / .synonym_typedefs; chunked parses emit
                # identical rows per chunk — deduped below)
                for curie, comment in po.subsetdefs.items():
                    tables.append("subsetdefs")
                    rows.append(json.dumps(
                        {"prefix": po.prefix, "subset_curie": curie,
                         "comment": comment}
                    ))
                for st in po.synonym_typedefs:
                    tables.append("synonym_typedefs")
                    rows.append(json.dumps(dict(st, prefix=po.prefix)))
            yield pd.DataFrame({"table": tables, "row_json": rows})

    df = spark.createDataFrame(texts, in_schema).repartition(
        max(len(texts), 1)
    ).mapInPandas(run, schema=out_schema)
    df = df.persist()
    out = {}
    for tname, schema in table_schemas().items():
        sub = df.where(F.col("table") == tname).select("row_json")
        out[tname] = sub.select(
            F.from_json("row_json", schema).alias("r")
        ).select("r.*")
    out["metadata"] = out["metadata"].dropDuplicates()
    return out
