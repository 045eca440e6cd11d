"""Driver-contract queries: each SURVEY.md §2 operator exposed as a
(spark, sf_dir) -> DataFrame callable with a DuckDB oracle SQL twin.

Conventions enforced throughout (driver compares row-count + schema +
order-insensitive value-hash with columns sorted by name):
- every computed column aliased identically in Spark and SQL;
- integer-kind outputs cast to bigint on the Spark side (DuckDB count/
  row_number/len are BIGINT);
- float outputs rounded (4 dp) identically on both sides, or computed in
  exact decimal/integer arithmetic where sums are involved.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .grounding import matcher
from .grounding.dictionary import broadcast_matcher, build_matcher
from .operators import exports, hierarchy, similarity
from .operators.components import connected_components
from .sources import tpch_adapter as tp
from .spread import spread_small_input

# ---------------------------------------------------------------------------
# fixed grounding dictionary for the flat documents table (single-token
# entries so the DuckDB oracle can replicate matches exactly; multi-word
# patterns are exercised by the fixture pipeline tests instead).
# ('query' is deliberately ambiguous → exercises best-match top-1.)
MENTION_DICT: list[tuple[str, str, str]] = [
    ("spark", "fixo:0000001", "rdfs:label"),
    ("join", "fixo:0000002", "rdfs:label"),
    ("filter", "fixo:0000003", "rdfs:label"),
    ("window", "fixo:0000004", "rdfs:label"),
    ("vector", "fixo:0000005", "rdfs:label"),
    ("merge", "fixo:0000006", "rdfs:label"),
    ("query", "fixo:0000007", "rdfs:label"),
    ("query", "fixo:0000008", "oboInOwl:hasRelatedSynonym"),
]

_DICT_VALUES_SQL = ", ".join(
    f"('{t}', '{c}', {1.0 if p == 'rdfs:label' else 0.5})"
    for t, c, p in MENTION_DICT
)


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents table with scan parallelism restored for compute-heavy
    consumers (matcher batches, Arrow kernels, expression-dense
    projections): the bench corpus arrives as 1-8 parquet row groups, so
    without the spread those stages run on 1-8 of the session's cores
    (guide §2.5 input skew; measured: mention grounding 24.7k docs/s on
    the 1-row-group sf1.0 corpus vs 214k docs/s on the 8-file 10x one)."""
    return spread_small_input(tp.load(spark, sf_dir, "documents"))


def _docs_as_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat documents table → (doc_id, span_idx=0, text) single-span rows."""
    return _docs_spread(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(0).alias("span_idx"),
        "text",
    )


def _typedefs_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(p, i) for p, i, _ in exports.DEFAULT_TYPEDEFS],
        "typedef_prefix string, typedef_id string",
    )


# ------------------------------------------------------------- queries ----

def q_names(spark, sf_dir):
    return exports.names(tp.terms(spark, sf_dir))


SQL_NAMES = f"""
WITH terms AS ({tp.TERMS_SQL})
SELECT prefix, identifier, name FROM terms WHERE name IS NOT NULL
"""


def q_definitions(spark, sf_dir):
    return exports.definitions(tp.terms(spark, sf_dir))


SQL_DEFINITIONS = f"""
WITH terms AS ({tp.TERMS_SQL})
SELECT prefix, identifier,
       regexp_replace(regexp_replace(definition, '[\\n\\t]', ' ', 'g'),
                      ' {{2,}}', ' ', 'g') AS definition
FROM terms WHERE definition IS NOT NULL
"""


def q_obsoletes(spark, sf_dir):
    return exports.obsoletes(tp.terms(spark, sf_dir))


SQL_OBSOLETES = f"""
WITH terms AS ({tp.TERMS_SQL})
SELECT prefix, identifier FROM terms WHERE is_obsolete
"""


def q_species(spark, sf_dir):
    return exports.species(tp.relations_raw(spark, sf_dir))


SQL_SPECIES = f"""
WITH relations AS ({tp.RELATIONS_RAW_SQL})
SELECT DISTINCT prefix, identifier, target_id AS taxonomy_id
FROM relations
WHERE relation_prefix = 'RO' AND relation_id = '0002162'
  AND target_prefix = 'ncbitaxon'
"""


def q_relations_typedef_filtered(spark, sf_dir):
    # r7: the dedup now happens on narrow numeric keys inside
    # tp.relations_raw (distinct-then-project == project-then-distinct,
    # see its docstring), so the broadcast semi-join runs over already-
    # distinct rows and the old trailing .distinct() — a second full
    # shuffle of the projected strings — is gone. Semi-join ∘ distinct
    # == distinct ∘ semi-join (row-level filter), so the output row set
    # is unchanged.
    return exports.relations_typedef_filtered(
        tp.relations_raw(spark, sf_dir), _typedefs_df(spark)
    )


SQL_RELATIONS_TYPEDEF_FILTERED = f"""
WITH relations AS ({tp.RELATIONS_RAW_SQL})
SELECT * FROM relations
WHERE (relation_prefix = 'BFO' AND relation_id = '0000050')
   OR (relation_prefix = 'RO' AND relation_id = '0002162')
"""


def q_filtered_relations_part_of(spark, sf_dir):
    return exports.filtered_relations(
        tp.relations_raw(spark, sf_dir), "BFO", "0000050"
    )


SQL_FILTERED_RELATIONS_PART_OF = f"""
WITH relations AS ({tp.RELATIONS_RAW_SQL})
SELECT prefix, identifier, target_prefix, target_id
FROM relations WHERE relation_prefix = 'BFO' AND relation_id = '0000050'
"""


def q_alt_upgrade(spark, sf_dir):
    alts = tp.alts(spark, sf_dir)
    part_refs = tp.terms(spark, sf_dir).select("identifier")
    alt_refs = alts.select(F.col("alt_id").alias("identifier"))
    refs = part_refs.unionByName(alt_refs).distinct()
    out = exports.alt_upgrade(refs, alts)
    return out.select("identifier", "primary_identifier")


SQL_ALT_UPGRADE = f"""
WITH alts AS ({tp.ALTS_SQL}),
terms AS ({tp.TERMS_SQL}),
refs AS (
  SELECT DISTINCT identifier FROM (
    SELECT identifier FROM terms
    UNION ALL SELECT alt_id AS identifier FROM alts
  )
)
SELECT r.identifier, coalesce(a.identifier, r.identifier) AS primary_identifier
FROM refs r LEFT JOIN alts a ON r.identifier = a.alt_id
"""


def q_synonyms_grouped(spark, sf_dir):
    return exports.synonyms_grouped(tp.synonyms(spark, sf_dir))


SQL_SYNONYMS_GROUPED = f"""
WITH syn AS ({tp.SYNONYMS_SQL})
SELECT prefix, identifier, string_agg(text, '|' ORDER BY text) AS synonyms
FROM syn GROUP BY prefix, identifier
"""


def q_sssom_mappings(spark, sf_dir):
    return exports.sssom_mappings(tp.xrefs(spark, sf_dir))


SQL_SSSOM_MAPPINGS = f"""
WITH xrefs AS ({tp.XREFS_SQL})
SELECT DISTINCT subject_id, predicate_id, object_id FROM xrefs
"""


def q_filtered_xrefs(spark, sf_dir):
    return exports.filtered_xrefs(tp.xrefs(spark, sf_dir), "fixn")


SQL_FILTERED_XREFS = f"""
WITH xrefs AS ({tp.XREFS_SQL})
SELECT subject_id, object_id FROM xrefs
WHERE object_id LIKE 'fixn:%' AND predicate_id = 'oboInOwl:hasDbXref'
"""


def q_edges(spark, sf_dir):
    # r7: same narrow-key dedup restructure as relations_typedef_filtered
    rel_ok = exports.relations_typedef_filtered(
        tp.relations_raw(spark, sf_dir), _typedefs_df(spark)
    )
    return exports.edges(rel_ok, tp.parents(spark, sf_dir))


SQL_EDGES = f"""
WITH relations AS ({tp.RELATIONS_RAW_SQL}),
parents AS ({tp.PARENTS_SQL})
SELECT concat(prefix, ':', identifier) AS subject_curie,
       concat(relation_prefix, ':', relation_id) AS predicate_curie,
       concat(target_prefix, ':', target_id) AS object_curie
FROM relations
WHERE (relation_prefix = 'BFO' AND relation_id = '0000050')
   OR (relation_prefix = 'RO' AND relation_id = '0002162')
UNION ALL
SELECT concat('fixp:', child), 'rdfs:subClassOf', concat('fixp:', parent)
FROM parents
"""


def q_ancestors(spark, sf_dir):
    return hierarchy.ancestors(tp.parents(spark, sf_dir))


SQL_ANCESTORS = f"""
WITH RECURSIVE parents AS ({tp.PARENTS_SQL}),
anc(identifier, ancestor) AS (
  SELECT child, parent FROM parents
  UNION
  SELECT a.identifier, p.parent
  FROM anc a JOIN parents p ON a.ancestor = p.child
)
SELECT identifier, ancestor FROM anc
"""


def q_children(spark, sf_dir):
    return hierarchy.children(tp.parents(spark, sf_dir), "0000001")


SQL_CHILDREN = f"""
WITH parents AS ({tp.PARENTS_SQL})
SELECT child AS identifier FROM parents WHERE parent = '0000001'
"""


def q_connected_components(spark, sf_dir):
    return connected_components(tp.cc_edges(spark, sf_dir))


# closed-form oracle: the cc graph is customers—nations—regions, so each
# component is exactly one region's membership; rep = min curie in it.
SQL_CONNECTED_COMPONENTS = """
WITH members AS (
  SELECT concat('fixc:', lpad(CAST(c_custkey AS VARCHAR), 7, '0')) AS curie,
         n_regionkey AS g
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL
  SELECT concat('fixn:', lpad(CAST(n_nationkey AS VARCHAR), 7, '0')), n_regionkey
  FROM nation
  UNION ALL
  SELECT DISTINCT concat('fixr:', lpad(CAST(n_regionkey AS VARCHAR), 7, '0')),
         n_regionkey
  FROM nation
)
SELECT curie, min(curie) OVER (PARTITION BY g) AS component FROM members
"""


def q_mention_counts(spark, sf_dir):
    ac = build_matcher(MENTION_DICT)
    bc = broadcast_matcher(spark, ac)
    out = matcher.match_mention_counts(_docs_as_spans(spark, sf_dir), bc)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "curie", "n_mentions"
    )


SQL_MENTION_COUNTS = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
dict(tok, curie, score) AS (VALUES {_DICT_VALUES_SQL})
SELECT t.doc_id, d.curie, count(*) AS n_mentions
FROM toks t JOIN dict d ON t.tok = d.tok
GROUP BY t.doc_id, d.curie
"""


def q_mention_best(spark, sf_dir):
    ac = build_matcher(MENTION_DICT)
    bc = broadcast_matcher(spark, ac)
    # r7: map-only best-per-site variant — every candidate for a
    # (doc, span, site) comes from the same input row, so the top-1
    # resolves inside the Arrow matcher with the SAME ordering as
    # best_match's window (score desc, length desc, curie asc;
    # matcher.py:102-109) and the raw-mention window shuffle disappears.
    # The trailing distinct (the oracle's SELECT DISTINCT) remains the
    # query's only exchange.
    best = matcher.match_text_spans_best(_docs_as_spans(spark, sf_dir), bc)
    return best.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "matched_text", "curie"
    ).distinct()


SQL_MENTION_BEST = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
dict(tok, curie, score) AS (VALUES {_DICT_VALUES_SQL}),
matches AS (
  SELECT t.doc_id, t.tok AS matched_text, d.curie, d.score,
         row_number() OVER (PARTITION BY t.doc_id, t.tok
                            ORDER BY d.score DESC, d.curie) AS rn
  FROM (SELECT DISTINCT doc_id, tok FROM toks) t
  JOIN dict d ON t.tok = d.tok
)
SELECT DISTINCT doc_id, matched_text, curie FROM matches WHERE rn = 1
"""


def q_ann_cosine_topk(spark, sf_dir):
    emb_raw = tp.load(spark, sf_dir, "embeddings")
    emb = spread_small_input(emb_raw)
    # query side from the RAW scan: the vec_id filter pushes into
    # parquet instead of scanning+shuffling the spread corpus
    queries = emb_raw.where(F.col("vec_id") < 8)
    out = similarity.cosine_topk_bruteforce(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", "cosine",
        F.col("rank").cast("bigint").alias("rank"),
    )


SQL_ANN_COSINE_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
  FROM embeddings WHERE vec_id < 8
),
c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings
),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(list_zip(q.qvec, c.cvec), p -> p[1] * p[2])),
             (acc, x) -> acc + x)
         / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(q.qvec, x -> x * x)), (acc, x) -> acc + x))
            * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(c.cvec, x -> x * x)), (acc, x) -> acc + x)))
         AS cosine
  FROM c CROSS JOIN q
  WHERE q.query_id <> c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cosine, 4) AS cosine, rank
FROM ranked WHERE rank <= 5
"""


def q_relation_counters(spark, sf_dir):
    rel = tp.relations_raw(spark, sf_dir)
    return rel.groupBy("relation_prefix", "relation_id").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


SQL_RELATION_COUNTERS = f"""
WITH relations AS ({tp.RELATIONS_RAW_SQL})
SELECT relation_prefix, relation_id, count(*) AS n_rows
FROM relations GROUP BY relation_prefix, relation_id
"""


def q_descendants(spark, sf_dir):
    return hierarchy.descendants(tp.parents(spark, sf_dir))


SQL_DESCENDANTS = f"""
WITH RECURSIVE parents AS ({tp.PARENTS_SQL}),
des(identifier, descendant) AS (
  SELECT parent, child FROM parents
  UNION
  SELECT d.identifier, p.child
  FROM des d JOIN parents p ON d.descendant = p.parent
)
SELECT identifier, descendant FROM des
"""


def q_has_ancestor(spark, sf_dir):
    parents = tp.parents(spark, sf_dir)
    nodes = parents.select("child").distinct().withColumnRenamed(
        "child", "identifier"
    )
    return hierarchy.has_ancestor(parents, nodes, "0000001")


SQL_HAS_ANCESTOR = f"""
WITH RECURSIVE parents AS ({tp.PARENTS_SQL}),
anc(identifier, ancestor) AS (
  SELECT child, parent FROM parents
  UNION
  SELECT a.identifier, p.parent
  FROM anc a JOIN parents p ON a.ancestor = p.child
)
SELECT DISTINCT identifier FROM anc WHERE ancestor = '0000001'
"""


def q_subhierarchy(spark, sf_dir):
    return hierarchy.subhierarchy(tp.parents(spark, sf_dir), "0000001")


SQL_SUBHIERARCHY = f"""
WITH RECURSIVE parents AS ({tp.PARENTS_SQL}),
des(node) AS (
  SELECT '0000001'
  UNION
  SELECT p.child FROM des d JOIN parents p ON p.parent = d.node
)
SELECT child, parent FROM parents
WHERE child IN (SELECT node FROM des) AND parent IN (SELECT node FROM des)
"""


def q_name_id_mapping(spark, sf_dir):
    return exports.name_id_mapping(tp.terms(spark, sf_dir))


SQL_NAME_ID_MAPPING = f"""
WITH terms AS ({tp.TERMS_SQL})
SELECT prefix, name, min(identifier) AS identifier
FROM terms WHERE name IS NOT NULL GROUP BY prefix, name
"""


def q_properties_combined(spark, sf_dir):
    return exports.properties_combined(
        tp.literal_properties(spark, sf_dir),
        tp.object_properties(spark, sf_dir),
        prefix="fixp",
    )


SQL_PROPERTIES_COMBINED = f"""
WITH lit AS ({tp.LITERAL_PROPERTIES_SQL}),
obj AS ({tp.OBJECT_PROPERTIES_SQL})
SELECT regexp_replace(source_curie, '^fixp:', '') AS identifier,
       predicate_curie AS property, value, datatype
FROM lit
UNION ALL
SELECT regexp_replace(source_curie, '^fixp:', ''),
       predicate_curie, target_curie, CAST(NULL AS VARCHAR)
FROM obj
"""


def q_filtered_properties_mapping(spark, sf_dir):
    return exports.filtered_properties_mapping(
        tp.literal_properties(spark, sf_dir), "pyobo:size", prefix="fixp"
    )


SQL_FILTERED_PROPERTIES_MAPPING = f"""
WITH lit AS ({tp.LITERAL_PROPERTIES_SQL})
SELECT regexp_replace(source_curie, '^fixp:', '') AS identifier,
       min(value) AS value
FROM lit WHERE predicate_curie = 'pyobo:size'
GROUP BY regexp_replace(source_curie, '^fixp:', '')
"""


def q_filtered_properties_multimapping(spark, sf_dir):
    return exports.filtered_properties_multimapping(
        tp.literal_properties(spark, sf_dir), "rdfs:comment", prefix="fixp"
    )


SQL_FILTERED_PROPERTIES_MULTIMAPPING = f"""
WITH lit AS ({tp.LITERAL_PROPERTIES_SQL})
SELECT regexp_replace(source_curie, '^fixp:', '') AS identifier,
       string_agg(value, '|' ORDER BY value) AS values
FROM lit WHERE predicate_curie = 'rdfs:comment'
GROUP BY regexp_replace(source_curie, '^fixp:', '')
"""


def q_relation_mapping(spark, sf_dir):
    return exports.relation_mapping(
        tp.relations_raw(spark, sf_dir), "BFO", "0000050", "fixs"
    )


SQL_RELATION_MAPPING = f"""
WITH relations AS ({tp.RELATIONS_RAW_SQL})
SELECT identifier, min(target_id) AS target_id
FROM relations
WHERE relation_prefix = 'BFO' AND relation_id = '0000050'
  AND target_prefix = 'fixs'
GROUP BY identifier
"""


def q_relation_multimapping(spark, sf_dir):
    return exports.relation_multimapping(
        tp.relations_raw(spark, sf_dir), "BFO", "0000050", "fixs"
    )


SQL_RELATION_MULTIMAPPING = f"""
WITH relations AS ({tp.RELATIONS_RAW_SQL})
SELECT identifier,
       string_agg(DISTINCT target_id, '|' ORDER BY target_id) AS target_ids
FROM relations
WHERE relation_prefix = 'BFO' AND relation_id = '0000050'
  AND target_prefix = 'fixs'
GROUP BY identifier
"""


def q_nodes_export(spark, sf_dir):
    return exports.nodes_export(
        tp.terms(spark, sf_dir),
        tp.synonyms(spark, sf_dir),
        replaced_by=tp.replaced_by(spark, sf_dir),
    )


SQL_NODES_EXPORT = f"""
WITH terms AS ({tp.TERMS_SQL}),
syn AS ({tp.SYNONYMS_SQL}),
rb AS ({tp.REPLACED_BY_SQL}),
agg AS (
  SELECT prefix, identifier,
         string_agg(text, ';' ORDER BY text) AS synonyms
  FROM syn GROUP BY prefix, identifier
),
rba AS (
  SELECT prefix, identifier,
         string_agg(concat(replacement_prefix, ':', replacement_id), ';'
                    ORDER BY concat(replacement_prefix, ':', replacement_id))
           AS replaced_by
  FROM rb GROUP BY prefix, identifier
)
SELECT concat(t.prefix, ':', t.identifier) AS curie,
       t.name,
       coalesce(a.synonyms, '') AS synonyms,
       CASE WHEN t.is_obsolete THEN 'true' ELSE 'false' END AS deprecated,
       coalesce(r.replaced_by, '') AS replaced_by
FROM terms t
LEFT JOIN agg a ON t.prefix = a.prefix AND t.identifier = a.identifier
LEFT JOIN rba r ON t.prefix = r.prefix AND t.identifier = r.identifier
"""


def q_grounder_index(spark, sf_dir):
    return exports.grounder_index(tp.synonyms(spark, sf_dir))


SQL_GROUNDER_INDEX = f"""
WITH syn AS ({tp.SYNONYMS_SQL})
SELECT lower(text) AS text_folded,
       string_agg(DISTINCT concat(prefix, ':', identifier), '|'
                  ORDER BY concat(prefix, ':', identifier)) AS candidates
FROM syn GROUP BY lower(text)
"""


def q_dictionary_skip_obsolete(spark, sf_dir):
    """skip_obsolete anti-join (api/names.py:332-341): dictionary rows
    whose owning term is obsolete are removed."""
    syn = tp.synonyms(spark, sf_dir)
    obs = exports.obsoletes(tp.terms(spark, sf_dir))
    return syn.join(obs, on=["prefix", "identifier"], how="left_anti").select(
        "prefix", "identifier", "text", "predicate"
    )


SQL_DICTIONARY_SKIP_OBSOLETE = f"""
WITH syn AS ({tp.SYNONYMS_SQL}),
terms AS ({tp.TERMS_SQL})
SELECT s.prefix, s.identifier, s.text, s.predicate
FROM syn s
WHERE NOT EXISTS (
  SELECT 1 FROM terms t
  WHERE t.prefix = s.prefix AND t.identifier = s.identifier
    AND t.is_obsolete
)
"""


def q_species_remap(spark, sf_dir):
    """Tiny broadcast-map join (SPECIES_REMAPPING, constants.py:55-57)."""
    sp = exports.species(tp.relations_raw(spark, sf_dir))
    remap = spark.createDataFrame(
        [("1", "9606"), ("2", "10090")], "taxonomy_id string, remapped string"
    )
    return (
        sp.join(F.broadcast(remap), on="taxonomy_id", how="left")
        .select(
            "prefix", "identifier",
            F.coalesce("remapped", "taxonomy_id").alias("taxonomy_id"),
        )
    )


SQL_SPECIES_REMAP = f"""
WITH relations AS ({tp.RELATIONS_RAW_SQL}),
sp AS (
  SELECT DISTINCT prefix, identifier, target_id AS taxonomy_id
  FROM relations
  WHERE relation_prefix = 'RO' AND relation_id = '0002162'
    AND target_prefix = 'ncbitaxon'
)
SELECT prefix, identifier,
       CASE taxonomy_id WHEN '1' THEN '9606' WHEN '2' THEN '10090'
            ELSE taxonomy_id END AS taxonomy_id
FROM sp
"""


def q_literal_mappings_subset(spark, sf_dir):
    """get_literal_mappings_subset (api/combine.py:19-39): semi-join the
    dictionary against the descendant set of a given ancestor."""
    syn = tp.synonyms(spark, sf_dir)
    desc = hierarchy.reachable(
        tp.parents(spark, sf_dir), ["0000001"], down=True
    )["0000001"]
    members = hierarchy.node_frame(spark, desc, "identifier")
    return syn.join(members, on="identifier", how="left_semi").select(
        "prefix", "identifier", "text", "predicate"
    )


SQL_LITERAL_MAPPINGS_SUBSET = f"""
WITH RECURSIVE parents AS ({tp.PARENTS_SQL}),
syn AS ({tp.SYNONYMS_SQL}),
des(node) AS (
  SELECT child FROM parents WHERE parent = '0000001'
  UNION
  SELECT p.child FROM des d JOIN parents p ON p.parent = d.node
)
SELECT prefix, identifier, text, predicate FROM syn
WHERE identifier IN (SELECT node FROM des)
"""


def q_normalize_curies(spark, sf_dir):
    """The CURIE normalization kernel (identifier_utils/api.py:150-269)
    over derived raw strings covering the error taxonomy: valid CURIE
    with banana, prefix synonym, URI form, unregistered prefix, EC
    trailing-dash strip, blocklist."""
    from .normalize.curie import normalize_curies

    p = tp.load(spark, sf_dir, "part")
    m6 = F.col("p_partkey") % 6
    raw = p.select(
        F.when(m6 == 0, F.concat(F.lit("CHEBI:CHEBI:"), F.col("p_partkey")))
        .when(m6 == 1, F.concat(F.lit("chebiid:"), F.col("p_partkey")))
        .when(
            m6 == 2,
            F.concat(
                F.lit("http://purl.obolibrary.org/obo/NCBITaxon_"),
                F.col("p_partkey"),
            ),
        )
        .when(m6 == 3, F.concat(F.lit("bogus:"), F.col("p_partkey")))
        .when(m6 == 4, F.concat(F.lit("ec:1.2.3."), F.lit("-")))
        .otherwise(F.lit("-"))
        .alias("raw")
    )
    return normalize_curies(raw, "raw")


SQL_NORMALIZE_CURIES = """
WITH raw AS (
  SELECT p_partkey % 6 AS m6,
         CASE p_partkey % 6
           WHEN 0 THEN concat('CHEBI:CHEBI:', CAST(p_partkey AS VARCHAR))
           WHEN 1 THEN concat('chebiid:', CAST(p_partkey AS VARCHAR))
           WHEN 2 THEN concat('http://purl.obolibrary.org/obo/NCBITaxon_',
                              CAST(p_partkey AS VARCHAR))
           WHEN 3 THEN concat('bogus:', CAST(p_partkey AS VARCHAR))
           WHEN 4 THEN 'ec:1.2.3.-'
           ELSE '-' END AS raw,
         CAST(p_partkey AS VARCHAR) AS k
  FROM part
)
SELECT raw,
       CASE m6 WHEN 0 THEN 'chebi' WHEN 1 THEN 'chebi' WHEN 2 THEN 'ncbitaxon'
               WHEN 4 THEN 'eccode' ELSE NULL END AS prefix,
       CASE m6 WHEN 0 THEN k WHEN 1 THEN k WHEN 2 THEN k
               WHEN 4 THEN '1.2.3' ELSE NULL END AS identifier,
       CASE m6 WHEN 3 THEN 'unregistered_prefix' WHEN 5 THEN 'blocklist'
               ELSE 'ok' END AS parse_status
FROM raw
"""


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact, canonical a<b):
    every vector pair whose cosine is at least 0.8."""
    emb = spread_small_input(tp.load(spark, sf_dir, "embeddings"))
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.col(c), F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot / (norm("va") * norm("vb")))
        .where(F.col("cosine") >= 0.8)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
    )


SQL_EMBEDDING_NEAR_DUP = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])),
             (acc, x) -> acc + x)
         / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(a.v, x -> x * x)), (acc, x) -> acc + x))
            * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(b.v, x -> x * x)), (acc, x) -> acc + x)))
         AS cosine
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(cosine, 4) AS cosine FROM pairs WHERE cosine >= 0.8
"""


def q_hierarchy_edges(spark, sf_dir):
    # r7 (guide §2.3 "shuffle keys instead of payloads"): the operator
    # form — hierarchy.hierarchy_edges(tp.parents(...),
    # tp.relations_raw(...), include=(BFO:0000050,),
    # include_reversed=(RO:0002162,)) — ends in .distinct() over the
    # projected CURIE strings (~42M rows / ~2.5 GB shuffled at 10x).
    # Every output row is a bijection of a narrow key triple
    # (leg, k1, k2):
    #   leg 0 (BFO fwd):  (fixp:lpad(k1),       fixs:lpad(k2), BFO:0000050)
    #   leg 1 (RO rev):   (ncbitaxon:cast(k2),  fixp:lpad(k1), RO:0002162^-1)
    #   leg 2 (isa):      (fixp:lpad(k1),       fixp:lpad(k2), rdfs:subClassOf)
    # with k = trunc7(raw key) absorbing lpad's >7-digit truncation
    # (tp._trunc7) so the mapping stays injective at any key width, and
    # the per-leg predicates distinct so legs never collide. Dedup on
    # the key triple therefore yields EXACTLY the operator's row set
    # (verified against the unchanged DuckDB oracle) while the single
    # distinct shuffles 3 small integers per row. Measured 10x:
    # 12.8 s -> ~6 s.
    li = tp.load(spark, sf_dir, "lineitem")
    m3 = F.col("l_linenumber") % 3
    leg_keys = li.where(m3 < 2).select(
        m3.cast("tinyint").alias("_leg"),
        tp._trunc7(F.col("l_partkey")).alias("_k1"),
        F.when(m3 == 1, F.col("l_suppkey"))
        .otherwise(tp._trunc7(F.col("l_suppkey")))
        .alias("_k2"),
    )
    p = tp.load(spark, sf_dir, "part")
    isa_keys = p.where(F.col("p_partkey") >= 10).select(
        F.lit(2).cast("tinyint").alias("_leg"),
        tp._trunc7(F.col("p_partkey")).alias("_k1"),
        tp._trunc7(F.expr("p_partkey DIV 10")).alias("_k2"),
    )
    keys = leg_keys.unionByName(isa_keys).distinct()
    leg = F.col("_leg")
    lp = lambda c: F.lpad(F.col(c).cast("string"), 7, "0")  # noqa: E731
    return keys.select(
        F.when(leg == 1, F.concat(F.lit("ncbitaxon:"),
                                  F.col("_k2").cast("string")))
        .otherwise(F.concat(F.lit("fixp:"), lp("_k1")))
        .alias("child_curie"),
        F.when(leg == 0, F.concat(F.lit("fixs:"), lp("_k2")))
        .when(leg == 1, F.concat(F.lit("fixp:"), lp("_k1")))
        .otherwise(F.concat(F.lit("fixp:"), lp("_k2")))
        .alias("parent_curie"),
        F.when(leg == 0, "BFO:0000050")
        .when(leg == 1, "RO:0002162^-1")
        .otherwise("rdfs:subClassOf")
        .alias("predicate_curie"),
    )


SQL_HIERARCHY_EDGES = f"""
WITH parents AS ({tp.PARENTS_SQL}),
relations AS ({tp.RELATIONS_RAW_SQL})
SELECT DISTINCT * FROM (
  SELECT concat('fixp:', child) AS child_curie,
         concat('fixp:', parent) AS parent_curie,
         'rdfs:subClassOf' AS predicate_curie
  FROM parents
  UNION ALL
  SELECT concat(prefix, ':', identifier),
         concat(target_prefix, ':', target_id), 'BFO:0000050'
  FROM relations WHERE relation_prefix = 'BFO' AND relation_id = '0000050'
  UNION ALL
  SELECT concat(target_prefix, ':', target_id),
         concat(prefix, ':', identifier), 'RO:0002162^-1'
  FROM relations WHERE relation_prefix = 'RO' AND relation_id = '0002162'
)
"""


CANON_DICT: list[tuple[str, str, str]] = MENTION_DICT + [
    # 'stream' grounds to an ALT id that must canonicalize to 0000009
    ("stream", "fixo:8000009", "rdfs:label"),
]
_CANON_DICT_SQL = ", ".join(
    f"('{t}', '{c}')" for t, c, _ in CANON_DICT
)


def q_mention_canonicalized(spark, sf_dir):
    """End-to-end north-rule link path with an oracle: detect mentions →
    alt-id upgrade (broadcast) → canonical mention counts per curie."""
    ac = build_matcher(CANON_DICT)
    bc = broadcast_matcher(spark, ac)
    counts = matcher.match_mention_counts(_docs_as_spans(spark, sf_dir), bc)
    alt_map = spark.createDataFrame(
        [("fixo:8000009", "fixo:0000009")], "alt_curie string, primary string"
    )
    return (
        counts.join(F.broadcast(alt_map), counts.curie == alt_map.alt_curie, "left")
        .select(
            F.coalesce("primary", "curie").alias("curie"),
            "n_mentions",
        )
        .groupBy("curie")
        .agg(F.sum("n_mentions").alias("n_mentions"))
    )


SQL_MENTION_CANONICALIZED = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
dict(tok, curie) AS (VALUES {_CANON_DICT_SQL}),
counts AS (
  SELECT CASE d.curie WHEN 'fixo:8000009' THEN 'fixo:0000009'
         ELSE d.curie END AS curie,
         count(*) AS n
  FROM toks t JOIN dict d ON t.tok = d.tok
  GROUP BY 1
)
SELECT curie, CAST(n AS BIGINT) AS n_mentions FROM counts
"""


def q_token_counts_regex(spark, sf_dir):
    """BPE-ish regex token counting (word pieces + punctuation as
    separate tokens) alongside whitespace tokens."""
    docs = _docs_spread(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("ws_tokens"),
        F.size(
            F.expr(r"regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)")
        ).cast("bigint").alias("regex_tokens"),
    )


SQL_TOKEN_COUNTS_REGEX = r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '\w+|[^\w\s]', 0)) AS BIGINT)
         AS regex_tokens
FROM documents
"""


def q_sssom_with_justification(spark, sf_dir):
    """SSSOM mapping rows with mapping_justification derived from the
    predicate family (struct_utils.py:800-818: xrefs are unspecified
    matching, semantic-equivalence predicates are manual curation)."""
    xr = exports.sssom_mappings(tp.xrefs(spark, sf_dir))
    just = (
        F.when(
            F.col("predicate_id") == "oboInOwl:hasDbXref",
            "semapv:UnspecifiedMatching",
        )
        .otherwise("semapv:ManualMappingCuration")
        .alias("mapping_justification")
    )
    return xr.select("subject_id", "predicate_id", "object_id", just)


SQL_SSSOM_WITH_JUSTIFICATION = f"""
WITH xrefs AS ({tp.XREFS_SQL})
SELECT DISTINCT subject_id, predicate_id, object_id,
       CASE WHEN predicate_id = 'oboInOwl:hasDbXref'
            THEN 'semapv:UnspecifiedMatching'
            ELSE 'semapv:ManualMappingCuration' END AS mapping_justification
FROM xrefs
"""


def q_hierarchy_nodes(spark, sf_dir):
    """Hierarchy node set with literal property values attached
    (api/hierarchy.py:106-109)."""
    return hierarchy.hierarchy_nodes(
        tp.terms(spark, sf_dir),
        tp.literal_properties(spark, sf_dir),
        prefix="fixp",
        property_predicates=("rdfs:comment",),
    )


SQL_HIERARCHY_NODES = f"""
WITH terms AS ({tp.TERMS_SQL}),
props AS ({tp.LITERAL_PROPERTIES_SQL})
SELECT concat(t.prefix, ':', t.identifier) AS node_curie,
       p.predicate_curie, p.value
FROM terms t
LEFT JOIN props p
  ON p.source_curie = concat(t.prefix, ':', t.identifier)
 AND p.predicate_curie = 'rdfs:comment'
"""


def q_semantic_mappings(spark, sf_dir):
    """Full SSSOM SemanticMapping column set (struct.py:2167-2191):
    predicate-derived justification + ontology-level source/version/
    license metadata stamped per row; confidence/contributor NULL for
    plain xrefs."""
    return exports.semantic_mappings(
        tp.xrefs(spark, sf_dir),
        source="https://example.org/fixo.obo",
        version="2024-01-01",
        license="CC0-1.0",
    )


SQL_SEMANTIC_MAPPINGS = f"""
WITH xrefs AS ({tp.XREFS_SQL})
SELECT DISTINCT subject_id,
       'owl:Class' AS subject_type,
       predicate_id,
       object_id,
       CASE WHEN predicate_id = 'oboInOwl:hasDbXref'
            THEN 'semapv:UnspecifiedMatching'
            ELSE 'semapv:ManualMappingCuration' END AS mapping_justification,
       CAST(NULL AS DOUBLE) AS confidence,
       CAST(NULL AS VARCHAR) AS contributor,
       'https://example.org/fixo.obo' AS mapping_source,
       'https://example.org/fixo.obo' AS subject_source,
       '2024-01-01' AS subject_source_version,
       'CC0-1.0' AS license
FROM xrefs
"""


def q_typedefs(spark, sf_dir):
    """The typedef dim itself (iterate typedefs, struct.py:1681-1687)."""
    return _typedefs_df(spark).select(
        F.col("typedef_prefix").alias("prefix"),
        F.col("typedef_id").alias("identifier"),
    )


_TYPEDEF_VALUES = ", ".join(
    f"('{p}', '{i}')" for p, i, _ in exports.DEFAULT_TYPEDEFS
)
SQL_TYPEDEFS = f"""
SELECT * FROM (VALUES {_TYPEDEF_VALUES}) AS t(prefix, identifier)
"""


def q_references(spark, sf_dir):
    """iterate_references incl. obo:{prefix}# aux refs — synthesized aux
    rows (every 11th part gets an obo default reference)."""
    t = tp.terms(spark, sf_dir)
    aux = (
        tp.load(spark, sf_dir, "part")
        .where(F.col("p_partkey") % 11 == 0)
        .select(
            F.lit("obo").alias("prefix"),
            F.concat(F.lit("fixp#aux"), F.col("p_partkey").cast("string")).alias(
                "identifier"
            ),
            F.lit(None).cast("string").alias("name"),
            F.lit(None).cast("string").alias("definition"),
            F.lit(False).alias("is_obsolete"),
        )
    )
    return exports.references(t.unionByName(aux), "fixp")


SQL_REFERENCES = f"""
WITH terms AS ({tp.TERMS_SQL})
SELECT prefix, identifier FROM terms WHERE prefix = 'fixp'
UNION ALL
SELECT 'obo' AS prefix, concat('fixp#aux', CAST(p_partkey AS VARCHAR))
FROM part WHERE p_partkey % 11 = 0
"""


def q_alts_grouped(spark, sf_dir):
    return exports.alts_grouped(tp.alts(spark, sf_dir))


SQL_ALTS_GROUPED = f"""
WITH alts AS ({tp.ALTS_SQL})
SELECT prefix, identifier,
       string_agg(alt_id, '|' ORDER BY alt_id) AS alt_ids
FROM alts GROUP BY prefix, identifier
"""


def q_provenance_routing(spark, sf_dir):
    """PROVENANCE_PREFIXES routing: xrefs targeting citation prefixes are
    provenance, not mappings — synthesize pubmed targets for every 5th
    customer, return the MAPPING side."""
    xr = tp.xrefs(spark, sf_dir)
    # rewrite every 5th subject's target to a pubmed citation
    custkey = F.regexp_replace("subject_id", "^fixc:", "").cast("bigint")
    rewritten = xr.select(
        "subject_id",
        "predicate_id",
        F.when(
            custkey % 5 == 0,
            F.concat(F.lit("pubmed:"), custkey.cast("string")),
        )
        .otherwise(F.col("object_id"))
        .alias("object_id"),
    )
    as_rel = rewritten.select(
        "subject_id",
        "predicate_id",
        F.split("object_id", ":")[0].alias("target_prefix"),
        F.split("object_id", ":")[1].alias("target_id"),
    )
    mappings, _prov = exports.route_provenance_xrefs(as_rel)
    return mappings.select(
        "subject_id", "predicate_id",
        F.concat("target_prefix", F.lit(":"), "target_id").alias("object_id"),
    )


SQL_PROVENANCE_ROUTING = f"""
WITH xrefs AS ({tp.XREFS_SQL}),
rewritten AS (
  SELECT subject_id, predicate_id,
         CASE WHEN CAST(regexp_replace(subject_id, '^fixc:', '') AS BIGINT)
                   % 5 = 0
              THEN concat('pubmed:',
                   CAST(CAST(regexp_replace(subject_id, '^fixc:', '')
                             AS BIGINT) AS VARCHAR))
              ELSE object_id END AS object_id
  FROM xrefs
)
SELECT subject_id, predicate_id, object_id FROM rewritten
WHERE string_split(object_id, ':')[1] NOT IN
      ('pubmed', 'pmc', 'doi', 'arxiv', 'biorxiv', 'isbn', 'wikipedia')
"""


def q_span_pipeline(spark, sf_dir):
    """The north-rule interleaved-spans path at benchmark scale: derive a
    spans corpus from the flat documents table (3 text spans per doc,
    media spans interleaved every other doc), posexplode → map-only
    best-per-site matcher → mentions. Oracle-backed: SQL_SPAN_PIPELINE
    builds the same spans and matches them in DuckDB."""
    docs = _docs_spread(spark, sf_dir)
    third = F.expr("length(text) DIV 3")
    spans = F.when(
        F.col("doc_id") % 2 == 0,
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.substring_index("text", " ", 20).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("image").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.concat(F.lit("blob://"), F.col("doc_id").cast("string")).alias(
                    "media_ref"
                ),
                F.lit(1).alias("offset"),
            ),
            F.struct(
                F.lit("text").alias("kind"),
                F.expr("substring(text, length(text) DIV 2)").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                (third + 2).alias("offset"),
            ),
        ),
    ).otherwise(
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        )
    )
    corpus = docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                         spans.alias("spans"))
    bc = broadcast_matcher(spark, build_matcher(MENTION_DICT))
    return matcher.detect_mentions(corpus, bc)


SQL_SPAN_PIPELINE = f"""
WITH dict(tok, curie, score) AS (VALUES {_DICT_VALUES_SQL}),
spans AS (
  SELECT doc_id, 0 AS span_idx,
         CASE WHEN doc_id % 2 = 0
              THEN array_to_string(list_slice(string_split(text, ' '), 1, 20), ' ')
              ELSE text END AS stext
  FROM documents
  UNION ALL
  SELECT doc_id, 2 AS span_idx, substr(text, length(text) // 2) AS stext
  FROM documents WHERE doc_id % 2 = 0
),
toks AS (
  -- the matcher folds (fold_text: strip + whitespace collapse) before
  -- tokenizing; the mid-text substring span can begin on a space, so
  -- trim or the leading empty token shifts every position by one
  SELECT doc_id, span_idx, l, unnest(range(1, len(l) + 1)) AS i
  FROM (SELECT doc_id, span_idx, string_split(trim(stext, ' '), ' ') AS l
        FROM spans)
),
sites AS (
  SELECT doc_id, span_idx, CAST(i - 1 AS INTEGER) AS token_start,
         l[i] AS tok
  FROM toks
),
best AS (
  SELECT s.doc_id, s.span_idx, s.token_start, s.tok, d.curie, d.score,
         row_number() OVER (PARTITION BY s.doc_id, s.span_idx, s.token_start
                            ORDER BY d.score DESC, d.curie ASC) AS rn
  FROM sites s JOIN dict d ON s.tok = d.tok
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(span_idx AS INTEGER) AS span_idx,
       token_start,
       CAST(token_start + 1 AS INTEGER) AS token_end,
       tok AS matched_text, curie, CAST(score AS DOUBLE) AS score
FROM best WHERE rn = 1
"""


def q_term_embeddings(spark, sf_dir):
    """Term-keyed embedding artifact (reference api/embedding.py:52-169)
    exploded to scalar rows for the driver compare."""
    from .operators import embeddings as E

    emb = E.term_embeddings(tp.terms(spark, sf_dir))
    # posexplode_OUTER on purpose (r7): plain posexplode makes Catalyst
    # synthesize a `size(vector) > 0` predicate and push it through the
    # spread exchange into the scan filter — re-evaluating the whole
    # sha2+conv embedding expression a second time at scan parallelism
    # (the guide §4.4 duplicate-evaluation shape, here with a JVM
    # expression). The vector is a transform over sequence(0, dim-1),
    # always exactly dim elements, so outer vs inner explode emit
    # identical rows and the plan computes the embedding ONCE.
    return emb.select(
        "prefix",
        "identifier",
        F.posexplode_outer("vector").alias("dim_idx", "component"),
    )


SQL_TERM_EMBEDDINGS = f"""
WITH terms AS ({tp.TERMS_SQL}),
named AS (
  SELECT prefix, identifier, sha256(name) AS h
  FROM terms WHERE name IS NOT NULL
),
dims AS (
  SELECT prefix, identifier, h, unnest(range(0, 16)) AS i FROM named
)
SELECT prefix, identifier, CAST(i AS INTEGER) AS dim_idx,
       round(CAST(CAST('0x' || substr(h, CAST(1 + 2*i AS INTEGER), 2)
                       AS INTEGER) AS DOUBLE) / 255.0, 4) AS component
FROM dims
"""


def q_embedding_nearest_terms(spark, sf_dir):
    """get_embedding_similarity-shaped nearest-term lookup (reference
    api/embedding.py:212-252): top-5 cosine neighbors for four query
    terms over the term-embedding artifact."""
    from .operators import embeddings as E

    emb = E.term_embeddings(tp.terms(spark, sf_dir))
    q = spark.createDataFrame(
        [("fixp:0000005",), ("fixp:0000010",),
         ("fixp:0000015",), ("fixp:0000020",)],
        "curie string",
    )
    # r7: hand nearest_terms the four query vectors from a PRE-FILTERED
    # terms scan — the default pickup join would run the sha2+conv
    # embedding projection over the full artifact a second time just to
    # keep 4 rows (measured ~2 s at 10x). Same rows by construction
    # (same term_embeddings kernel over the same source rows).
    curies = [r[0] for r in q.collect()]
    qt = tp.terms(spark, sf_dir).where(
        F.concat_ws(":", "prefix", "identifier").isin(curies)
    )
    qv = E.term_embeddings(qt).select("curie", "vector")
    return E.nearest_terms(emb, q, k=5, query_vectors=qv)


SQL_EMBEDDING_NEAREST_TERMS = f"""
WITH terms AS ({tp.TERMS_SQL}),
emb AS (
  SELECT concat(prefix, ':', identifier) AS curie,
         list_transform(range(0, 16),
           i -> round(CAST(CAST('0x' || substr(sha256(name),
                        CAST(1 + 2*i AS INTEGER), 2) AS INTEGER) AS DOUBLE)
                      / 255.0, 4)) AS vec
  FROM terms WHERE name IS NOT NULL
),
q AS (
  SELECT curie AS query_curie, vec AS qvec FROM emb
  WHERE curie IN ('fixp:0000005', 'fixp:0000010',
                  'fixp:0000015', 'fixp:0000020')
),
scored AS (
  SELECT q.query_curie, c.curie AS neighbor_curie,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(list_zip(q.qvec, c.vec), p -> p[1] * p[2])),
             (acc, x) -> acc + x)
         / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(q.qvec, x -> x * x)), (acc, x) -> acc + x))
            * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(c.vec, x -> x * x)), (acc, x) -> acc + x)))
         AS cosine
  FROM emb c CROSS JOIN q
  WHERE q.query_curie <> c.curie
),
ranked AS (
  SELECT query_curie, neighbor_curie, cosine,
         row_number() OVER (PARTITION BY query_curie
                            ORDER BY cosine DESC, neighbor_curie) AS rank
  FROM scored
)
SELECT query_curie, neighbor_curie, round(cosine, 4) AS cosine
FROM ranked WHERE rank <= 5
"""


def q_embedding_near_dup_planted(spark, sf_dir):
    """Planted-twin variant of the embedding near-dup leg: exact vector
    copies at vec_id + 10^7 MUST pair with cosine exactly 1.0 — gives
    the kernel a non-empty oracle (the organic query legitimately finds
    zero pairs at these SFs)."""
    emb = tp.load(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 10 == 0)
    twins = base.select(
        (F.col("vec_id") + 10000000).alias("vec_id"), "embedding"
    )
    corpus = base.select("vec_id", "embedding").unionByName(twins)
    a = corpus.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")
    )
    b = corpus.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")
    )
    dot = F.aggregate(
        F.zip_with(
            "va", "vb", lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.col(c), F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 10000000)
        .withColumn("cosine", dot / (norm("va") * norm("vb")))
        .where(F.col("cosine") >= 0.8)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
    )


SQL_EMBEDDING_NEAR_DUP_PLANTED = """
SELECT vec_id AS id_a, vec_id + 10000000 AS id_b,
       CAST(1.0 AS DOUBLE) AS cosine
FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 10000000
"""


def q_obonet_links(spark, sf_dir):
    """to_obonet link list (struct.py:1550-1561): is_a + relationship
    edges as CURIE triples (operators/obonet_export.py)."""
    from .operators import obonet_export

    return obonet_export.obonet_links(
        tp.relations_raw(spark, sf_dir), tp.parents(spark, sf_dir), "fixp"
    )


SQL_OBONET_LINKS = f"""
WITH parents AS ({tp.PARENTS_SQL}),
relations AS ({tp.RELATIONS_RAW_SQL})
SELECT concat(child_prefix, ':', child) AS source,
       'is_a' AS key,
       concat(parent_prefix, ':', parent) AS target
FROM parents
UNION ALL
SELECT concat(prefix, ':', identifier),
       concat(relation_prefix, ':', relation_id),
       concat(target_prefix, ':', target_id)
FROM relations
"""


def q_skos_triples(spark, sf_dir):
    """SKOS N-Triples serialization lines as DATA — the distributed
    write_skos sink's row set is deterministic string algebra, so the
    oracle rebuilds every line (operators/rdf_writers.py)."""
    from .operators import rdf_writers

    return rdf_writers.skos_triples(
        tp.terms(spark, sf_dir),
        tp.synonyms(spark, sf_dir),
        tp.parents(spark, sf_dir),
        "fixp",
    )


SQL_SKOS_TRIPLES = f"""
WITH terms AS ({tp.TERMS_SQL}),
synonyms AS ({tp.SYNONYMS_SQL}),
parents AS ({tp.PARENTS_SQL}),
iri AS (
  SELECT *, concat('http://purl.obolibrary.org/obo/fixp_', identifier)
    AS term_iri
  FROM terms
),
esc AS (
  SELECT *, replace(replace(replace(replace(coalesce(name, ''), '\\', '\\\\'),
         '"', '\\"'), chr(10), '\\n'), chr(9), '\\t') AS name_esc,
         replace(replace(replace(replace(coalesce(definition, ''), '\\', '\\\\'),
         '"', '\\"'), chr(10), '\\n'), chr(9), '\\t') AS def_esc
  FROM iri
)
SELECT '<http://purl.obolibrary.org/obo/fixp.ttl> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://www.w3.org/2004/02/skos/core#ConceptScheme> .' AS value
UNION ALL
SELECT concat('<', term_iri, '> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://www.w3.org/2004/02/skos/core#Concept> .') FROM esc
UNION ALL
SELECT concat('<', term_iri, '> <http://www.w3.org/2004/02/skos/core#inScheme> <http://purl.obolibrary.org/obo/fixp.ttl> .') FROM esc
UNION ALL
SELECT concat('<', term_iri, '> <http://www.w3.org/2004/02/skos/core#prefLabel> "', name_esc, '" .') FROM esc WHERE name IS NOT NULL
UNION ALL
SELECT concat('<', term_iri, '> <http://www.w3.org/2004/02/skos/core#definition> "', def_esc, '" .') FROM esc WHERE definition IS NOT NULL
UNION ALL
SELECT concat('<http://purl.obolibrary.org/obo/fixp_', s.identifier,
              '> <http://www.w3.org/2004/02/skos/core#altLabel> "',
              replace(replace(replace(replace(s.text, '\\', '\\\\'), '"', '\\"'),
                      chr(10), '\\n'), chr(9), '\\t'), '" .')
FROM synonyms s
UNION ALL
SELECT concat('<http://purl.obolibrary.org/obo/fixp_', child,
              '> <http://www.w3.org/2004/02/skos/core#broadMatch> <http://purl.obolibrary.org/obo/fixp_', parent, '> .')
FROM parents
UNION ALL
SELECT concat('<http://purl.obolibrary.org/obo/fixp_', parent,
              '> <http://www.w3.org/2004/02/skos/core#narrowMatch> <http://purl.obolibrary.org/obo/fixp_', child, '> .')
FROM parents
UNION ALL
SELECT concat('<http://purl.obolibrary.org/obo/fixp_', parent,
              '> <http://www.w3.org/2004/02/skos/core#inScheme> <http://purl.obolibrary.org/obo/fixp.ttl> .')
FROM parents
"""


# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # The correctness harness checks the first 50 entries against their
    # DuckDB oracles (tests/test_driver_window.py pins the list). Every
    # entry has an oracle in ORACLES; tests/parity.py runs them all.
    "sssom_with_justification": q_sssom_with_justification,
    "semantic_mappings": q_semantic_mappings,
    "hierarchy_nodes": q_hierarchy_nodes,
    "typedefs": q_typedefs,
    "references": q_references,
    "alts_grouped": q_alts_grouped,
    "provenance_routing": q_provenance_routing,
    "span_pipeline": q_span_pipeline,
    "term_embeddings": q_term_embeddings,
    "embedding_nearest_terms": q_embedding_nearest_terms,
    "embedding_near_dup_planted": q_embedding_near_dup_planted,
    "relation_counters": q_relation_counters,
    "relations_typedef_filtered": q_relations_typedef_filtered,
    "filtered_relations_part_of": q_filtered_relations_part_of,
    "alt_upgrade": q_alt_upgrade,
    "synonyms_grouped": q_synonyms_grouped,
    "sssom_mappings": q_sssom_mappings,
    "filtered_xrefs": q_filtered_xrefs,
    "edges": q_edges,
    "ancestors": q_ancestors,
    "children": q_children,
    "connected_components": q_connected_components,
    "mention_counts": q_mention_counts,
    "mention_best": q_mention_best,
    "ann_cosine_topk": q_ann_cosine_topk,
    "hierarchy_edges": q_hierarchy_edges,
    "normalize_curies": q_normalize_curies,
    "obonet_links": q_obonet_links,
    "skos_triples": q_skos_triples,
    "obsoletes": q_obsoletes,
    "species": q_species,
    "names": q_names,
    "definitions": q_definitions,
    "descendants": q_descendants,
    "has_ancestor": q_has_ancestor,
    "subhierarchy": q_subhierarchy,
    "name_id_mapping": q_name_id_mapping,
    "properties_combined": q_properties_combined,
    "filtered_properties_mapping": q_filtered_properties_mapping,
    "filtered_properties_multimapping": q_filtered_properties_multimapping,
    "relation_mapping": q_relation_mapping,
    "relation_multimapping": q_relation_multimapping,
    "nodes_export": q_nodes_export,
    "grounder_index": q_grounder_index,
    "dictionary_skip_obsolete": q_dictionary_skip_obsolete,
    "species_remap": q_species_remap,
    "literal_mappings_subset": q_literal_mappings_subset,
    "embedding_near_dup": q_embedding_near_dup,
    "mention_canonicalized": q_mention_canonicalized,
    "token_counts_regex": q_token_counts_regex,
}

ORACLES: dict[str, str] = {
    "names": SQL_NAMES,
    "definitions": SQL_DEFINITIONS,
    "obsoletes": SQL_OBSOLETES,
    "species": SQL_SPECIES,
    "relations_typedef_filtered": SQL_RELATIONS_TYPEDEF_FILTERED,
    "filtered_relations_part_of": SQL_FILTERED_RELATIONS_PART_OF,
    "alt_upgrade": SQL_ALT_UPGRADE,
    "synonyms_grouped": SQL_SYNONYMS_GROUPED,
    "sssom_mappings": SQL_SSSOM_MAPPINGS,
    "filtered_xrefs": SQL_FILTERED_XREFS,
    "edges": SQL_EDGES,
    "ancestors": SQL_ANCESTORS,
    "children": SQL_CHILDREN,
    "connected_components": SQL_CONNECTED_COMPONENTS,
    "mention_counts": SQL_MENTION_COUNTS,
    "mention_best": SQL_MENTION_BEST,
    "ann_cosine_topk": SQL_ANN_COSINE_TOPK,
    "relation_counters": SQL_RELATION_COUNTERS,
    "descendants": SQL_DESCENDANTS,
    "has_ancestor": SQL_HAS_ANCESTOR,
    "subhierarchy": SQL_SUBHIERARCHY,
    "name_id_mapping": SQL_NAME_ID_MAPPING,
    "properties_combined": SQL_PROPERTIES_COMBINED,
    "filtered_properties_mapping": SQL_FILTERED_PROPERTIES_MAPPING,
    "filtered_properties_multimapping": SQL_FILTERED_PROPERTIES_MULTIMAPPING,
    "relation_mapping": SQL_RELATION_MAPPING,
    "relation_multimapping": SQL_RELATION_MULTIMAPPING,
    "nodes_export": SQL_NODES_EXPORT,
    "grounder_index": SQL_GROUNDER_INDEX,
    "dictionary_skip_obsolete": SQL_DICTIONARY_SKIP_OBSOLETE,
    "species_remap": SQL_SPECIES_REMAP,
    "literal_mappings_subset": SQL_LITERAL_MAPPINGS_SUBSET,
    "normalize_curies": SQL_NORMALIZE_CURIES,
    "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
    "hierarchy_edges": SQL_HIERARCHY_EDGES,
    "mention_canonicalized": SQL_MENTION_CANONICALIZED,
    "token_counts_regex": SQL_TOKEN_COUNTS_REGEX,
    "sssom_with_justification": SQL_SSSOM_WITH_JUSTIFICATION,
    "semantic_mappings": SQL_SEMANTIC_MAPPINGS,
    "hierarchy_nodes": SQL_HIERARCHY_NODES,
    "typedefs": SQL_TYPEDEFS,
    "references": SQL_REFERENCES,
    "alts_grouped": SQL_ALTS_GROUPED,
    "provenance_routing": SQL_PROVENANCE_ROUTING,
    "span_pipeline": SQL_SPAN_PIPELINE,
    "term_embeddings": SQL_TERM_EMBEDDINGS,
    "embedding_nearest_terms": SQL_EMBEDDING_NEAREST_TERMS,
    "obonet_links": SQL_OBONET_LINKS,
    "skos_triples": SQL_SKOS_TRIPLES,
    "embedding_near_dup_planted": SQL_EMBEDDING_NEAR_DUP_PLANTED,
}
