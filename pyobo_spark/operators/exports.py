"""Export operators — the reference's `iterate_*` / `get_*_df` family
re-expressed as Spark projections/filters/joins (SURVEY.md §2.2-§2.4).

Every operator is a narrow select/where over the long tables of
schemas.py; Catalyst pushes the filters into the parquet scan and prunes
columns, so at 100 TB each export is a single scan-project-filter stage
with no shuffle (plus one shuffle for the grouped/deduped variants).

Reference semantics cited per function (file:line into /root/reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Typedefs known to the engine — mirrors the reference's default typedef
# ChainMap (struct.py:1107-1113): relations whose predicate is not a
# defined typedef are DROPPED (struct.py:1872-1888).
DEFAULT_TYPEDEFS: tuple[tuple[str, str, str], ...] = (
    ("BFO", "0000050", "part of"),
    ("BFO", "0000051", "has part"),
    ("RO", "0002162", "in taxon"),
    ("RO", "0000087", "has role"),
    ("rdfs", "subClassOf", "is a"),
    ("oboInOwl", "hasDbXref", "has database cross-reference"),
    ("skos", "exactMatch", "exact match"),
    ("owl", "equivalentClass", "equivalent class"),
)


def names(terms: DataFrame) -> DataFrame:
    """(prefix, identifier, name), name non-null — iterate_id_name
    (struct.py:1615-1625)."""
    return terms.where(F.col("name").isNotNull()).select(
        "prefix", "identifier", "name"
    )


def definitions(terms: DataFrame) -> DataFrame:
    """(prefix, identifier, definition) with the reference's cleanup:
    newlines/tabs → space, doubled spaces collapsed (struct.py:1627-1643).
    """
    cleaned = F.regexp_replace(
        F.regexp_replace(F.col("definition"), r"[\n\t]", " "), r" {2,}", " "
    )
    return terms.where(F.col("definition").isNotNull()).select(
        "prefix", "identifier", cleaned.alias("definition")
    )


def obsoletes(terms: DataFrame) -> DataFrame:
    """identifiers where is_obsolete (struct.py:1645-1653)."""
    return terms.where(F.col("is_obsolete")).select("prefix", "identifier")


def species(relations: DataFrame) -> DataFrame:
    """(identifier, taxonomy_id) from RO:0002162 relations filtered to
    ncbitaxon targets (struct.py:1659-1675, get_species :454-470)."""
    return (
        relations.where(
            (F.col("relation_prefix") == "RO")
            & (F.col("relation_id") == "0002162")
            & (F.col("target_prefix") == "ncbitaxon")
        )
        .select("prefix", "identifier", F.col("target_id").alias("taxonomy_id"))
        .distinct()
    )


def relations_typedef_filtered(relations: DataFrame, typedefs: DataFrame) -> DataFrame:
    """Relations with unresolvable typedefs dropped (struct.py:1872-1888):
    broadcast left-semi join against the typedef dim."""
    return relations.join(
        F.broadcast(typedefs),
        on=[
            relations.relation_prefix == typedefs.typedef_prefix,
            relations.relation_id == typedefs.typedef_id,
        ],
        how="left_semi",
    )


def relations_dropped(relations: DataFrame, typedefs: DataFrame) -> DataFrame:
    """The complement: rows dropped by typedef resolution, routed to a
    warnings sink (reference logs a warning per drop, struct.py:1884-1887)."""
    return relations.join(
        F.broadcast(typedefs),
        on=[
            relations.relation_prefix == typedefs.typedef_prefix,
            relations.relation_id == typedefs.typedef_id,
        ],
        how="left_anti",
    )


def filtered_relations(
    relations: DataFrame, relation_prefix: str, relation_id: str
) -> DataFrame:
    """iterate_filtered_relations (struct.py:1903-1954)."""
    return relations.where(
        (F.col("relation_prefix") == relation_prefix)
        & (F.col("relation_id") == relation_id)
    ).select("prefix", "identifier", "target_prefix", "target_id")


def synonyms_grouped(literal_mappings: DataFrame) -> DataFrame:
    """id → sorted synonym list (get_id_synonyms_mapping,
    struct.py:2045-2060; per-term synonyms sorted, struct.py:2050).
    Emitted as a joined string for stable cross-engine comparison."""
    return (
        literal_mappings.groupBy("prefix", "identifier")
        .agg(
            F.concat_ws("|", F.sort_array(F.collect_list("text"))).alias("synonyms")
        )
    )


def semantic_mappings(
    xrefs: DataFrame,
    source: str | None = None,
    version: str | None = None,
    license: str | None = None,
) -> DataFrame:
    """Full SSSOM SemanticMapping column set (struct.py:2167-2191):
    subject_type is owl:Class for Term stanzas; mapping_justification is
    predicate-derived (xrefs → semapv:UnspecifiedMatching, curated
    equivalences → semapv:ManualMappingCuration); confidence/contributor
    come from mapping context annotations (absent on plain xrefs → NULL);
    source/version/license are ontology-level metadata stamped onto every
    row. Pure projection over the deduped xref scan — no extra shuffle
    beyond the dedup."""
    just = (
        F.when(
            F.col("predicate_id") == "oboInOwl:hasDbXref",
            "semapv:UnspecifiedMatching",
        )
        .otherwise("semapv:ManualMappingCuration")
        .alias("mapping_justification")
    )
    lit_or_null = lambda v: (  # noqa: E731
        F.lit(v) if v is not None else F.lit(None).cast("string")
    )
    return (
        xrefs.select("subject_id", "predicate_id", "object_id")
        .dropDuplicates()
        .select(
            "subject_id",
            F.lit("owl:Class").alias("subject_type"),
            "predicate_id",
            "object_id",
            just,
            F.lit(None).cast("double").alias("confidence"),
            F.lit(None).cast("string").alias("contributor"),
            lit_or_null(source).alias("mapping_source"),
            lit_or_null(source).alias("subject_source"),
            lit_or_null(version).alias("subject_source_version"),
            lit_or_null(license).alias("license"),
        )
    )


def synonyms_grouped_list(literal_mappings: DataFrame) -> DataFrame:
    """Array-valued variant of synonyms_grouped: id → sorted
    array<string> of synonyms. The joined-string form is kept only for
    cross-engine comparison; API callers must use this one — a synonym
    containing '|' would be split into bogus entries on round-trip."""
    return literal_mappings.groupBy("prefix", "identifier").agg(
        F.sort_array(F.collect_list("text")).alias("synonyms")
    )


def alts_grouped_list(alts: DataFrame) -> DataFrame:
    """Array-valued variant of alts_grouped (see synonyms_grouped_list)."""
    return alts.groupBy("prefix", "identifier").agg(
        F.sort_array(F.collect_list("alt_id")).alias("alt_ids")
    )


def sssom_mappings(xrefs: DataFrame) -> DataFrame:
    """get_mappings: union of match-predicate families, sorted de-dup
    (struct_utils.py:800-818; predicates vocabulary.py:132-150)."""
    return (
        xrefs.select("subject_id", "predicate_id", "object_id")
        .dropDuplicates()
    )


def filtered_xrefs(xrefs: DataFrame, target_prefix: str) -> DataFrame:
    """iterate_filtered_xrefs: xref target prefix == t
    (struct.py:2133-2139, api/xrefs.py:62-84)."""
    return xrefs.where(
        F.col("object_id").startswith(target_prefix + ":")
        & (F.col("predicate_id") == "oboInOwl:hasDbXref")
    ).select("subject_id", "object_id")


def edges(relations_ok: DataFrame, parents: DataFrame) -> DataFrame:
    """Triple materialization — union of predicate-tagged selects
    (struct_utils.py:768-785: relations ∪ parents ∪ ...). Each leg is a
    scan-project; the union is free (no shuffle). Every row of both
    inputs becomes a triple: a caller scoped to one ontology filters
    its inputs first."""
    rel_edges = relations_ok.select(
        F.concat(F.col("prefix"), F.lit(":"), F.col("identifier")).alias(
            "subject_curie"
        ),
        F.concat(
            F.col("relation_prefix"), F.lit(":"), F.col("relation_id")
        ).alias("predicate_curie"),
        F.concat(F.col("target_prefix"), F.lit(":"), F.col("target_id")).alias(
            "object_curie"
        ),
    )
    isa_edges = parents.select(
        F.concat("child_prefix", F.lit(":"), "child").alias("subject_curie"),
        F.lit("rdfs:subClassOf").alias("predicate_curie"),
        F.concat("parent_prefix", F.lit(":"), "parent").alias("object_curie"),
    )
    return rel_edges.unionByName(isa_edges)


def alt_upgrade(refs: DataFrame, alts: DataFrame, id_col: str = "identifier") -> DataFrame:
    """get_primary_identifier: left join refs against alts(alt_id→primary),
    falling back to the original id (api/alts.py:89-105 `alts_to_id.get(id,
    id)`). Broadcast hash join — the alts dim is tiny relative to refs."""
    a = alts.select(
        F.col("alt_id"), F.col("identifier").alias("_primary")
    )
    joined = refs.join(
        F.broadcast(a), on=refs[id_col] == a.alt_id, how="left"
    )
    return joined.withColumn(
        "primary_identifier", F.coalesce(F.col("_primary"), F.col(id_col))
    ).drop("alt_id", "_primary")


def properties_combined(
    literal_props: DataFrame, object_props: DataFrame, prefix: str
) -> DataFrame:
    """get_properties_df (api/properties.py:110-124): concat literal +
    object property rows, strip '{prefix}:' from the source curie.
    Object targets land in `value` with null datatype."""
    lit_rows = literal_props.select(
        F.regexp_replace("source_curie", f"^{prefix}:", "").alias("identifier"),
        F.col("predicate_curie").alias("property"),
        "value",
        "datatype",
    )
    obj_rows = object_props.select(
        F.regexp_replace("source_curie", f"^{prefix}:", "").alias("identifier"),
        F.col("predicate_curie").alias("property"),
        F.col("target_curie").alias("value"),
        F.lit(None).cast("string").alias("datatype"),
    )
    return lit_rows.unionByName(obj_rows)


def filtered_properties_mapping(
    literal_props: DataFrame, predicate: str, prefix: str
) -> DataFrame:
    """get_filtered_properties_mapping (api/properties.py:128-213):
    filter property == p, one value per id (min for determinism where the
    reference asserts uniqueness)."""
    return (
        literal_props.where(F.col("predicate_curie") == predicate)
        .select(
            F.regexp_replace("source_curie", f"^{prefix}:", "").alias("identifier"),
            "value",
        )
        .groupBy("identifier")
        .agg(F.min("value").alias("value"))
    )


def filtered_properties_multimapping(
    literal_props: DataFrame, predicate: str, prefix: str
) -> DataFrame:
    """get_filtered_properties_multimapping: id → sorted value list
    (joined string for stable comparison)."""
    return (
        literal_props.where(F.col("predicate_curie") == predicate)
        .select(
            F.regexp_replace("source_curie", f"^{prefix}:", "").alias("identifier"),
            "value",
        )
        .groupBy("identifier")
        .agg(F.concat_ws("|", F.sort_array(F.collect_list("value"))).alias("values"))
    )


def relation_mapping(
    relations: DataFrame, relation_prefix: str, relation_id: str, target_prefix: str
) -> DataFrame:
    """get_relation_mapping (struct.py:1956-2023): id → single target id
    for one relation+target prefix (reference builds a dict assuming
    uniqueness; min() makes the collision case deterministic)."""
    return (
        relations.where(
            (F.col("relation_prefix") == relation_prefix)
            & (F.col("relation_id") == relation_id)
            & (F.col("target_prefix") == target_prefix)
        )
        .groupBy("identifier")
        .agg(F.min("target_id").alias("target_id"))
    )


def relation_multimapping(
    relations: DataFrame, relation_prefix: str, relation_id: str, target_prefix: str
) -> DataFrame:
    """get_relation_multimapping / get_id_multirelations_mapping
    (struct.py:2025-2039): id → sorted list of target ids."""
    return (
        relations.where(
            (F.col("relation_prefix") == relation_prefix)
            & (F.col("relation_id") == relation_id)
            & (F.col("target_prefix") == target_prefix)
        )
        .groupBy("identifier")
        .agg(
            F.concat_ws(
                "|", F.sort_array(F.collect_set("target_id"))
            ).alias("target_ids")
        )
    )


def relation_multimapping_list(
    relations: DataFrame, relation_prefix: str, relation_id: str
) -> DataFrame:
    """get_id_multirelations_mapping (api/relations.py): id → sorted
    array of target CURIEs for one predicate, across ALL target
    prefixes (the reference returns References, not bare ids)."""
    return (
        relations.where(
            (F.col("relation_prefix") == relation_prefix)
            & (F.col("relation_id") == relation_id)
        )
        .groupBy("identifier")
        .agg(
            F.sort_array(
                F.collect_set(
                    F.concat_ws(":", "target_prefix", "target_id")
                )
            ).alias("targets")
        )
    )


def name_id_mapping(terms: DataFrame) -> DataFrame:
    """get_name_id_mapping (api/names.py:239-245) — inverted names map.
    The reference builds a dict (last-wins on collision); we make the
    collision policy explicit and deterministic: min(identifier)."""
    return (
        terms.where(F.col("name").isNotNull())
        .groupBy("prefix", "name")
        .agg(F.min("identifier").alias("identifier"))
    )


def nodes_export(
    terms: DataFrame,
    synonyms: DataFrame,
    replaced_by: DataFrame | None = None,
) -> DataFrame:
    """Neo4j nodes artifact (write_nodes, struct.py:1181-1253): one row
    per term with ';'-joined sorted synonyms, deprecated flag as
    'true'/'false' strings (struct.py:1226), and the ';'-joined
    replaced_by CURIE list (nodes_header 'replaced_by:string[]',
    struct.py:1203/1232)."""
    syn = synonyms.groupBy("prefix", "identifier").agg(
        F.concat_ws(";", F.sort_array(F.collect_list("text"))).alias("synonyms")
    )
    out = terms.join(syn, on=["prefix", "identifier"], how="left")
    if replaced_by is not None:
        rb = replaced_by.groupBy("prefix", "identifier").agg(
            F.concat_ws(
                ";",
                F.sort_array(
                    F.collect_list(
                        F.concat(
                            "replacement_prefix", F.lit(":"), "replacement_id"
                        )
                    )
                ),
            ).alias("replaced_by")
        )
        out = out.join(rb, on=["prefix", "identifier"], how="left")
    else:
        out = out.withColumn("replaced_by", F.lit(None).cast("string"))
    return out.select(
        F.concat("prefix", F.lit(":"), "identifier").alias("curie"),
        "name",
        F.coalesce("synonyms", F.lit("")).alias("synonyms"),
        F.when(F.col("is_obsolete"), "true").otherwise("false").alias(
            "deprecated"
        ),
        F.coalesce("replaced_by", F.lit("")).alias("replaced_by"),
    )


def grounder_index(literal_mappings: DataFrame) -> DataFrame:
    """The grounder's lexical-index build as a relational op: group
    literal mappings by folded text → sorted candidate list (reference
    delegates to ssslm.make_grounder, struct.py:2100; the index is
    text → candidates)."""
    return (
        literal_mappings.select(
            F.lower(F.col("text")).alias("text_folded"),
            F.concat("prefix", F.lit(":"), "identifier").alias("curie"),
        )
        .groupBy("text_folded")
        .agg(
            F.concat_ws("|", F.sort_array(F.collect_set("curie"))).alias(
                "candidates"
            )
        )
    )


# Provenance prefixes whose xrefs are citations, not mappings
# (reference: PROVENANCE_PREFIXES, constants.py:118-133; routing at
# reader.py:719-724).
PROVENANCE_PREFIXES: tuple[str, ...] = (
    "pubmed", "pmc", "doi", "arxiv", "biorxiv", "isbn", "wikipedia",
)


def route_provenance_xrefs(
    xrefs: DataFrame, prov_prefixes: tuple[str, ...] = PROVENANCE_PREFIXES
) -> tuple[DataFrame, DataFrame]:
    """Split xrefs into (mappings, provenance): an xref whose target
    prefix is a citation source is provenance on the term, NOT a mapping
    (reader.py:719-724). Returns (mapping_xrefs, provenance_xrefs)."""
    is_prov = F.col("target_prefix").isin(*prov_prefixes)
    return xrefs.where(~is_prov), xrefs.where(is_prov)


def references(terms: DataFrame, prefix: str) -> DataFrame:
    """iterate_references / get_references (struct.py:1595-1601, api/
    names.py:166-196): ids of the ontology INCLUDING its obo:{prefix}#
    auxiliary default references (_in_ontology, struct.py:2111-2118)."""
    return terms.where(
        (F.col("prefix") == prefix)
        | (
            (F.col("prefix") == "obo")
            & F.col("identifier").startswith(prefix + "#")
        )
    ).select("prefix", "identifier")


def alts_grouped(alts: DataFrame) -> DataFrame:
    """get_id_to_alts (api/alts.py:34-61): primary id → sorted alt list."""
    return alts.groupBy("prefix", "identifier").agg(
        F.concat_ws("|", F.sort_array(F.collect_list("alt_id"))).alias("alt_ids")
    )


def summary_counters(df: DataFrame, key: str = "prefix") -> DataFrame:
    """db_output_helper's Counter-by-first-column (getters.py:502-552):
    map-side partial agg + final hash agg."""
    return df.groupBy(key).agg(F.count(F.lit(1)).alias("n_rows"))
