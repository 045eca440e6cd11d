"""Deterministic fixture generator (seed 42) — FIXTURES.md tables.

Pure: same seed → identical rows, so golden expectations are computed
closed-form alongside the inputs (planting is controlled). No external
data. Generates plain python rows (converted to Spark or pandas/parquet
by the caller) so it is engine-agnostic and usable from DuckDB tests too.

Shapes mirror the ChEBI-style fixture tests/resources/test_chebi.obo
(18 terms) and the reference's in-memory 3-term ontology
(tests/test_api.py:178-374).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

SEED = 42

_ADJ = ["acidic", "basic", "cyclic", "linear", "aromatic", "volatile",
        "stable", "reactive", "polar", "neutral"]
_NOUN = ["acid", "ester", "amine", "ketone", "alcohol", "ether", "salt",
         "oxide", "polymer", "radical"]
_FILLER = ("the sample was analyzed using standard methods and results were "
           "recorded for later review by the laboratory team").split()


def _label(i: int) -> str:
    return f"{_ADJ[i % 10]} {_NOUN[(i // 10) % 10]} {i}"


@dataclass
class Fixtures:
    terms: list[dict] = field(default_factory=list)
    synonyms: list[dict] = field(default_factory=list)
    xrefs: list[dict] = field(default_factory=list)
    relations: list[dict] = field(default_factory=list)
    parents: list[dict] = field(default_factory=list)
    alts: list[dict] = field(default_factory=list)
    documents: list[dict] = field(default_factory=list)
    expected_mentions: list[dict] = field(default_factory=list)
    expected_components: list[dict] = field(default_factory=list)


def generate(n_terms: int = 200, n_docs: int = 1000, seed: int = SEED) -> Fixtures:
    rng = np.random.default_rng(seed)
    fx = Fixtures()

    # ---- terms for two prefixes (fixo primary, fixp xref targets) ----
    for prefix in ("fixo", "fixp"):
        for i in range(1, n_terms + 1):
            ident = f"{i:07d}"
            obsolete = i % 17 == 0
            fx.terms.append(
                {
                    "prefix": prefix,
                    "identifier": ident,
                    "name": _label(i) if prefix == "fixo" else f"alt {_label(i)}",
                    "definition": f"definition of\t{_label(i)}  with   messy ws"
                    if i % 3 == 0
                    else f"definition of {_label(i)}",
                    "namespace": "fixture",
                    "is_obsolete": bool(obsolete),
                    "species_id": str(9606 if i % 2 == 0 else 10090)
                    if i % 4 == 0
                    else None,
                }
            )

    # ---- synonyms / literal mappings (labels added by the dictionary
    # builder mirror struct_utils.py:1108-1119) ----
    for i in range(1, n_terms + 1):
        ident = f"{i:07d}"
        base = _label(i)
        fx.synonyms.append(
            {
                "prefix": "fixo", "identifier": ident,
                "text": base.upper(),
                "predicate": "oboInOwl:hasExactSynonym",
                "type": None, "provenance": ["pubmed:1000" + str(i % 10)],
                "language": None,
            }
        )
        if i % 5 == 0:
            fx.synonyms.append(
                {
                    "prefix": "fixo", "identifier": ident,
                    "text": base.replace(" ", "-"),
                    "predicate": "oboInOwl:hasRelatedSynonym",
                    "type": "OMO:0003012", "provenance": [], "language": None,
                }
            )
    # one ambiguous synonym shared by two terms (best-match/top-1 test)
    fx.synonyms.append(
        {"prefix": "fixo", "identifier": f"{1:07d}", "text": "shared token",
         "predicate": "oboInOwl:hasRelatedSynonym", "type": None,
         "provenance": [], "language": None}
    )
    fx.synonyms.append(
        {"prefix": "fixo", "identifier": f"{2:07d}", "text": "shared token",
         "predicate": "oboInOwl:hasExactSynonym", "type": None,
         "provenance": [], "language": None}
    )

    # ---- xrefs: multi-hop equivalence chains fixo:i ↔ fixp:i ↔ fixq:i
    # every 4th, plus a skewed hub (fixo:1) with ~30% of all xrefs ----
    preds = ["oboInOwl:hasDbXref", "skos:exactMatch", "owl:equivalentClass"]
    for i in range(1, n_terms + 1):
        ident = f"{i:07d}"
        fx.xrefs.append(
            {"prefix": "fixo", "identifier": ident, "predicate": preds[i % 3],
             "target_prefix": "fixp", "target_id": ident, "provenance": None}
        )
        if i % 4 == 0:
            fx.xrefs.append(
                {"prefix": "fixp", "identifier": ident, "predicate": preds[i % 3],
                 "target_prefix": "fixq", "target_id": ident, "provenance": None}
            )
    n_hub = int(len(fx.xrefs) * 0.3)
    for j in range(n_hub):  # skew hub: fixo:0000001 ↔ fixq:9xxxxxx
        fx.xrefs.append(
            {"prefix": "fixo", "identifier": f"{1:07d}",
             "predicate": preds[j % 3],
             "target_prefix": "fixq", "target_id": f"9{j:06d}",
             "provenance": "pubmed:99" + str(j % 100)}
        )

    # expected components: chain {fixo:i, fixp:i} (+fixq:i if i%4==0) with
    # rep = min curie = fixo:i — EXCEPT i==1, whose class also holds the
    # hub's fixq:9xxxxxx targets.
    for i in range(1, n_terms + 1):
        ident = f"{i:07d}"
        comp = f"fixo:{ident}"
        members = [f"fixo:{ident}", f"fixp:{ident}"]
        if i % 4 == 0:
            members.append(f"fixq:{ident}")
        if i == 1:
            members += [f"fixq:9{j:06d}" for j in range(n_hub)]
        for m in members:
            fx.expected_components.append({"curie": m, "component": comp})

    # ---- relations: part_of + in_taxon + one undefined predicate ----
    for i in range(1, n_terms + 1):
        ident = f"{i:07d}"
        tgt = f"{(i % n_terms) + 1:07d}"
        fx.relations.append(
            {"prefix": "fixo", "identifier": ident,
             "relation_prefix": "BFO", "relation_id": "0000050",
             "target_prefix": "fixo", "target_id": tgt}
        )
        if i % 4 == 0:
            fx.relations.append(
                {"prefix": "fixo", "identifier": ident,
                 "relation_prefix": "RO", "relation_id": "0002162",
                 "target_prefix": "ncbitaxon",
                 "target_id": str(9606 if i % 2 == 0 else 10090)}
            )
        if i % 9 == 0:  # undefined typedef → must be dropped
            fx.relations.append(
                {"prefix": "fixo", "identifier": ident,
                 "relation_prefix": "ZZ", "relation_id": "0000001",
                 "target_prefix": "fixo", "target_id": tgt}
            )

    # ---- is_a parents: 4-level DAG (i → i//4) ----
    for i in range(4, n_terms + 1):
        fx.parents.append(
            {"child_prefix": "fixo", "child": f"{i:07d}",
             "parent_prefix": "fixo", "parent": f"{i // 4:07d}"}
        )

    # ---- alts ----
    for i in range(1, n_terms + 1, 6):
        fx.alts.append(
            {"prefix": "fixo", "identifier": f"{i:07d}",
             "alt_id": f"8{i:06d}"}
        )

    # ---- interleaved documents with planted mentions ----
    # Every doc: 1-12 spans; text spans = filler with labels/synonyms
    # planted at a known rate; every 5th doc interleaves media spans.
    label_pool = [(_label(i), f"fixo:{i:07d}") for i in range(1, n_terms + 1)]
    for d in range(n_docs):
        doc_id = f"doc-{d:06d}"
        n_spans = int(rng.integers(1, 13))
        spans = []
        offset = 0
        span_idx = 0
        for s in range(n_spans):
            interleave_media = (d % 5 == 0) and (s % 2 == 1)
            if interleave_media:
                kind = ["image", "audio", "table"][int(rng.integers(0, 3))]
                spans.append(
                    {"kind": kind, "text": None,
                     "media_ref": f"blob://{doc_id}/{span_idx}", "offset": offset}
                )
                offset += 1
            else:
                n_tokens = int(rng.integers(5, 20))
                words = [
                    _FILLER[int(rng.integers(0, len(_FILLER)))]
                    for _ in range(n_tokens)
                ]
                # plant a mention with p=0.6
                if rng.random() < 0.6:
                    li = int(rng.integers(0, len(label_pool)))
                    label, curie = label_pool[li]
                    pos = int(rng.integers(0, n_tokens))
                    # insert label tokens (2-3 tokens) at pos
                    words = words[:pos] + label.split(" ") + words[pos:]
                    fx.expected_mentions.append(
                        {"doc_id": doc_id, "span_idx": span_idx, "curie": curie}
                    )
                text = " ".join(words)
                spans.append(
                    {"kind": "text", "text": text, "media_ref": None,
                     "offset": offset}
                )
                offset += len(text) + 1
            span_idx += 1
        fx.documents.append({"doc_id": doc_id, "spans": spans})

    return fx


def to_spark(spark, fx: Fixtures):
    """Materialize fixtures as Spark DataFrames (dict of name→DataFrame)."""
    from pyspark.sql import types as T

    from .. import schemas

    def df(rows, schema):
        return spark.createDataFrame(rows, schema)

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
    syn_schema = schemas.LITERAL_MAPPINGS
    xref_schema = T.StructType(
        [
            T.StructField("prefix", T.StringType()),
            T.StructField("identifier", T.StringType()),
            T.StructField("predicate", T.StringType()),
            T.StructField("target_prefix", T.StringType()),
            T.StructField("target_id", T.StringType()),
            T.StructField("provenance", T.StringType()),
        ]
    )
    rel_schema = schemas.RELATIONS
    parents_schema = schemas.PARENTS
    alts_schema = schemas.ALTS
    docs_schema = schemas.DOCUMENTS
    exp_mentions_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("span_idx", T.IntegerType()),
            T.StructField("curie", T.StringType()),
        ]
    )
    exp_comp_schema = T.StructType(
        [
            T.StructField("curie", T.StringType()),
            T.StructField("component", T.StringType()),
        ]
    )
    docs_rows = [
        (
            d["doc_id"],
            [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in d["spans"]
            ],
        )
        for d in fx.documents
    ]
    return {
        "terms": df([tuple(r.values()) for r in fx.terms], terms_schema),
        "synonyms": df([tuple(r.values()) for r in fx.synonyms], syn_schema),
        "xrefs": df([tuple(r.values()) for r in fx.xrefs], xref_schema),
        "relations": df([tuple(r.values()) for r in fx.relations], rel_schema),
        "parents": df([tuple(r.values()) for r in fx.parents], parents_schema),
        "alts": df([tuple(r.values()) for r in fx.alts], alts_schema),
        "documents": df(docs_rows, docs_schema),
        "expected_mentions": df(
            [tuple(r.values()) for r in fx.expected_mentions], exp_mentions_schema
        ),
        "expected_components": df(
            [tuple(r.values()) for r in fx.expected_components], exp_comp_schema
        ),
    }
