"""pyobo_spark — a from-scratch PySpark-native knowledge-graph construction
engine with the query/data-processing capabilities of biopragmatics/pyobo.

NOT a port: the reference (/root/reference, read-only) is a single-threaded
Python ETL + lookup library; this package re-expresses its semantics —
identifier normalization, tabular exports, grounding/NER, hierarchy queries,
xref equivalence, multi-ontology builds — as Spark DataFrame/SQL jobs over
columnar tables, designed for a 1000-executor cluster over ~100 TB.

Layout:
  session        SparkSession factory tuned for the target workload
  schemas        canonical StructTypes (SURVEY.md §1.3)
  sources/       tpch_adapter (testdata → KG tables), obo_reader (OBO parse)
  normalize/     vectorized CURIE normalization (identifier_utils semantics)
  operators/     exports, alt-upgrade joins, hierarchy closure, connected
                 components, dedup, similarity search, text stats
  grounding/     literal-mapping dictionary + broadcast Aho-Corasick matcher
  pipeline/      stage orchestration with checkpoint/resume + lineage metrics
  fixtures/      deterministic seed-42 fixture generator (FIXTURES.md)
"""

__version__ = "0.1.0"
