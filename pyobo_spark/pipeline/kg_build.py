"""End-to-end KG construction — the north-rule pipeline (SURVEY.md §3.2):

  fixture ontology tables → literal_mappings dictionary (labels +
  synonyms, skip_obsolete anti-join) → broadcast Aho-Corasick →
  documents(doc_id, spans[]) → posexplode → Arrow matcher → best-match →
  alt-id canonicalization (broadcast join) → xref connected components →
  component-canonical CURIEs → (subj, pred, obj) triples ∪ ontology
  edges.

:func:`run_kg_pipeline_staged` is the one composition of these stages,
each checkpointed by PipelineRunner (resume-from-stage); the library,
``jobs/kg_pipeline_job.py`` and kgbench all call it. Names are the
``rdfs:label`` rows of ``literal_mappings``, mappings the ``ok`` rows of
``xrefs_parsed``, and the parse counters that stage's manifest.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grounding import dictionary, matcher
from ..normalize.curie import normalize_curies
from ..operators import components, exports
from .footers import write_json


def build_literal_mappings(terms: DataFrame, synonyms: DataFrame) -> DataFrame:
    """labels (rdfs:label, struct_utils.py:1108-1119) ∪ synonym rows."""
    labels = terms.where(F.col("name").isNotNull()).select(
        "prefix",
        "identifier",
        F.col("name").alias("text"),
        F.lit("rdfs:label").alias("predicate"),
        F.lit(None).cast("string").alias("type"),
        F.lit(None).cast("array<string>").alias("provenance"),
        F.lit(None).cast("string").alias("language"),
    )
    return labels.unionByName(
        synonyms.select(
            "prefix", "identifier", "text", "predicate", "type",
            "provenance", "language",
        )
    )


def detect_and_upgrade_mentions(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    lm: DataFrame,
    skip_obsolete: bool = True,
) -> DataFrame:
    """Stage body: literal-mappings dictionary → broadcast Aho-Corasick →
    mention detection → alt-id canonicalization (broadcast join)."""
    obsolete = exports.obsoletes(tables["terms"]) if skip_obsolete else None
    entries = dictionary.dictionary_entries(lm, skip_obsolete_df=obsolete)
    ac = dictionary.build_matcher(entries)
    bc = dictionary.broadcast_matcher(spark, ac)

    mentions = matcher.detect_mentions(tables["documents"], bc)

    alt_map = tables["alts"].select(
        F.concat("prefix", F.lit(":"), "alt_id").alias("alt_curie"),
        F.concat("prefix", F.lit(":"), "identifier").alias("primary_curie"),
    )
    return (
        mentions.join(
            F.broadcast(alt_map), mentions.curie == alt_map.alt_curie, "left"
        )
        .withColumn("curie", F.coalesce("primary_curie", "curie"))
        .drop("alt_curie", "primary_curie")
    )


def parsed_xrefs(tables: dict[str, DataFrame]) -> DataFrame:
    """Stage body: normalize xref target curies through the identifier
    kernel (identifier_utils semantics). Returns EVERY row with its
    ``parse_status`` — bad-status rows stay present here so one
    snapshot carries both the equivalence-graph input and the lineage
    evidence (the reference's counter-logged warnings,
    reference.py:213-258)."""
    xr_raw = tables["xrefs"].select(
        F.col("prefix").alias("subj_prefix"),
        F.col("identifier").alias("subj_identifier"),
        "predicate",
        F.concat("target_prefix", F.lit(":"), "target_id").alias("target_curie"),
    )
    return normalize_curies(xr_raw, "target_curie")


def ok_xrefs(parsed: DataFrame) -> DataFrame:
    """Bad-status rows are EXCLUDED from the equivalence graph."""
    return parsed.where(F.col("parse_status") == "ok").select(
        "subj_prefix",
        "subj_identifier",
        "predicate",
        F.col("prefix").alias("target_prefix"),
        F.col("identifier").alias("target_id"),
    )


def xref_components(xr: DataFrame) -> DataFrame:
    """Stage body: xref equivalence graph → connected components."""
    cc_edges = xr.select(
        F.concat("subj_prefix", F.lit(":"), "subj_identifier").alias("src"),
        F.concat("target_prefix", F.lit(":"), "target_id").alias("dst"),
    )
    return components.connected_components(cc_edges)


def canonicalize_mentions(mentions: DataFrame, comp: DataFrame) -> DataFrame:
    """Stage body: rewrite mention curies to their component canonical.

    NO broadcast hint here: the component map covers every curie in the
    xref graph (~10^7-10^8 rows across all of OBO) — broadcasting it is
    a driver/executor-memory risk at scale. A shuffle join on curie is
    bounded and AQE will still downgrade to broadcast when the map is
    actually small (as in tests)."""
    comp_map = comp.select(F.col("curie").alias("m_curie"), "component")
    return (
        mentions.join(comp_map, mentions.curie == comp_map.m_curie, "left")
        .withColumn("canonical", F.coalesce("component", "curie"))
        .drop("m_curie", "component")
    )


def build_triples(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    mentions_canonical: DataFrame,
) -> DataFrame:
    """Stage body: mention triples ∪ typedef-filtered ontology edges."""
    typedefs = spark.createDataFrame(
        [(p, i) for p, i, _ in exports.DEFAULT_TYPEDEFS],
        "typedef_prefix string, typedef_id string",
    )
    rel_ok = exports.relations_typedef_filtered(tables["relations"], typedefs)
    onto_edges = exports.edges(rel_ok, tables["parents"])
    mention_triples = matcher.mention_triples(
        mentions_canonical.select("doc_id", F.col("canonical").alias("curie"))
    )
    return mention_triples.unionByName(onto_edges)


def run_kg_pipeline_staged(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    root: str,
    skip_obsolete: bool = True,
    force: bool = False,
    snapshot_table: str | None = None,
    _fail_before: str | None = None,
) -> "PipelineRunner":
    """The KG pipeline as five checkpointed PipelineRunner stages —
    restartable mid-flight, the reference's resumability model
    (per-artifact ``is_file()`` checks, struct.py:1354,
    getters.py:166-176) as commit-then-mark parquet snapshots:

      1. literal_mappings   2. mentions (detect + alt upgrade)
      3. xrefs_parsed       4. components
      5. triples (canonicalize + edge union)

    Stage 3 snapshots the FULL parse output (every xref row with its
    parse_status) and its manifest counts rows per status, so one
    snapshot carries both the equivalence-graph input (stage 4 filters
    ok rows FROM THE SNAPSHOT — the parse runs once, and a crash
    between stages 3 and 4 cannot drift: components are built from the
    same bytes the lineage counters describe) and the parse-status
    counters (the reference's counter-logged warnings,
    reference.py:213-258).

    A stage whose manifest exists is skipped on re-run and its output is
    read back from its parquet snapshot, so downstream stages consume
    the SAME bytes an uninterrupted run would have (no recompute drift).
    Every inter-stage input goes through the snapshot: a restarted
    process reconstructs nothing from memory.

    ``snapshot_table``: when set, every run that REBUILDS the triples
    stage (not a skipped resume) also commits the triples as one
    immutable snapshot of an Iceberg-style
    :class:`~pyobo_spark.pipeline.snapshots.SnapshotTable` at that root
    (time travel across runs and a rollback path when a bad build
    ships: the north rule's "Iceberg-snapshot checkpoints" as the output
    contract). The snapshot adopts the stage's parquet files by hard
    link (``SnapshotTable.adopt``), so the triples are written once;
    where hard links are not available it rewrites them. A
    ``_SNAPSHOT_ID`` marker next to the stage manifest records the
    commit, so a resume commits the skipped stage's files when a crash
    came between the manifest and the snapshot, or when
    ``expire_snapshots`` has dropped the marker's snapshot
    (:func:`committed_snapshot_id`).

    ``_fail_before`` simulates a crash (test hook): raise just before
    the named stage, AFTER earlier stages committed.
    """
    from .stages import PipelineRunner

    runner = PipelineRunner(spark, root, force=force)

    def gate(name: str) -> None:
        if _fail_before == name:
            raise RuntimeError(f"simulated crash before stage {name!r}")

    gate("literal_mappings")
    lm = runner.stage(
        "literal_mappings",
        lambda: build_literal_mappings(tables["terms"], tables["synonyms"]),
        counter_cols=("predicate",),
    )
    gate("mentions")
    mentions = runner.stage(
        "mentions",
        lambda: detect_and_upgrade_mentions(
            spark, tables, lm, skip_obsolete=skip_obsolete
        ),
        counter_cols=("curie",),
    )
    gate("xrefs_parsed")
    parsed = runner.stage(
        "xrefs_parsed",
        lambda: parsed_xrefs(tables),
        counter_cols=("parse_status",),
    )
    gate("components")
    comp = runner.stage(
        "components",
        lambda: xref_components(ok_xrefs(parsed)),
    )
    gate("triples")
    triples = runner.stage(
        "triples",
        lambda: build_triples(
            spark, tables, canonicalize_mentions(mentions, comp)
        ),
        counter_cols=("predicate_curie",),
    )
    stage = runner.results[-1]
    if snapshot_table is not None and (
        not stage.skipped
        or committed_snapshot_id(spark, root, snapshot_table) is None
    ):
        from .snapshots import SnapshotTable

        # marker after the commit: a crash between the two costs a
        # duplicate snapshot of the same rows on resume, never a lost one
        table = SnapshotTable(spark, snapshot_table)
        sid = table.adopt(f"{stage.path}/data", triples)
        write_json(Path(root) / "triples" / "_SNAPSHOT_ID", sid)
    return runner


def committed_snapshot_id(
    spark: SparkSession, root: str, snapshot_table: str
) -> int | None:
    """The id of the ``snapshot_table`` snapshot holding the triples of
    the build at ``root``, or None when no commit is recorded or
    ``expire_snapshots`` has since dropped that snapshot."""
    from .snapshots import SnapshotTable

    marker = Path(root) / "triples" / "_SNAPSHOT_ID"
    if not marker.exists():
        return None
    sid = int(marker.read_text())
    tbl = SnapshotTable(spark, snapshot_table)
    return sid if tbl._exists(tbl._snapshot_path(sid)) else None
