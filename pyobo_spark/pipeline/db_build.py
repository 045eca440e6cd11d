"""Multi-ontology database build — the reference's full-corpus ETL
(`pyobo database build`, cli/database.py:86-126; iter_helper_helper
failure isolation getters.py:359-455; db_output_helper sink
getters.py:477-571) as a Spark job:

  per-prefix source callables → per-source try/except (one bad source
  never kills the build; its failure is recorded in the build report,
  like the reference's caught exception classes) → UNION ALL view →
  one write per artifact with per-prefix counters, a 10-row sample and
  a metadata JSON (the Counter/sample/metadata trio).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .footers import write_json, write_parquet


def build_artifact(
    spark: SparkSession,
    sources: dict[str, Callable[[], DataFrame]],
    out_dir: str,
    artifact: str,
    strict: bool = False,
) -> dict:
    """sources: prefix → callable returning that prefix's slice of the
    artifact. Returns the build report (also written as metadata JSON).

    strict=True re-raises source failures (the reference's strict mode
    for non-deprecated prefixes, getters.py:366-455)."""
    frames: list[DataFrame] = []
    failures: dict[str, str] = {}
    for prefix, fn in sorted(sources.items()):
        try:
            frames.append(fn())
        except Exception as e:  # noqa: BLE001 — per-source isolation
            if strict:
                raise
            failures[prefix] = f"{type(e).__name__}: {e}"
    if not frames:
        raise ValueError(f"every source failed for artifact {artifact!r}")

    df = frames[0]
    for f in frames[1:]:
        df = df.unionByName(f)

    path = Path(out_dir) / artifact
    t0 = time.time()
    # global sort = the reference's deterministic-output contract
    # (utils/io.py:134); sort keys are all columns. Counted by the first
    # column, the source prefix: one value per source, so no limit
    col = df.columns[0]
    _, stats = write_parquet(
        df.na.drop(how="all").orderBy(*df.columns), str(path / "data"),
        (col,), limit=None,
    )
    report = {
        "artifact": artifact,
        "n_rows": stats["n_rows"],
        "n_prefixes_ok": len(frames),
        "failures": failures,
        "counters": stats["counters"][col],
        "sample": stats["sample"],
        "wall_sec": round(time.time() - t0, 3),
        "built_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    write_json(path / "_METADATA.json", report)
    return report


def ontology_metadata(
    prefix: str,
    version: str | None,
    idspaces: dict[str, str] | None = None,
    n_terms: int | None = None,
) -> dict:
    """Per-ontology metadata artifact (reference: metadata JSON +
    prefix→URI map, struct.py:1328-1338, :717-757) — version, date,
    idspace table. Written alongside each ontology's tables."""
    import time as _t

    return {
        "prefix": prefix,
        "version": version,
        "idspaces": idspaces or {},
        "n_terms": n_terms,
        "generated": _t.strftime("%Y-%m-%dT%H:%M:%SZ", _t.gmtime()),
        "engine": "pyobo_spark",
    }


# ---- format-priority dispatch (getters.py:92-216 get_ontology) ----

#: Formats in the order the reference tries them (getters.py:118-170);
#: OWL-via-ROBOT is out of scope (SURVEY §7 — external Java tool), so the
#: chain here is OBO flat file → OBO Graph JSON → SKOS/N-Triples → CSV.
FORMAT_PRIORITY: tuple[str, ...] = ("obo", "ofn", "obograph", "skos", "csv")


class NoBuildError(RuntimeError):
    """No supported format available for a prefix (getters.py:63-70)."""


def get_ontology(
    spark: SparkSession,
    prefix: str,
    available: dict[str, object],
    uri_prefix: str = "http://purl.obolibrary.org/obo/",
) -> dict[str, DataFrame]:
    """Parse the highest-priority available format into long tables.

    `available` maps format name → source handle: OBO document text for
    'obo', a functional-OWL file path for 'ofn', a JSON file path for
    'obograph', an N-Triples file path for 'skos', or a
    (path, ColumnSpec) pair for 'csv'. Mirrors the reference's
    get_ontology chain (getters.py:92-216), which prefers the richest
    format and falls through on absence; 'ofn' sits where the
    reference's OWL-via-ROBOT branch does (obo > owl > obograph).

    The 'ofn' result additionally carries an ``"unpersist"`` callback
    (the shared line cache's release — same convention as
    ``mesh_source.read_mesh``); treat non-DataFrame values accordingly
    when iterating the returned dict."""
    for fmt in FORMAT_PRIORITY:
        if fmt not in available:
            continue
        handle = available[fmt]
        if fmt == "obo":
            from ..sources.obo_reader import parse_obo_files

            return parse_obo_files(spark, [(prefix, str(handle))])
        if fmt == "ofn":
            from ..sources.ofn_reader import read_ofn

            tables = read_ofn(spark, str(handle), persist_lines=True)
            unpersist = tables.pop("unpersist")
            out = {
                k: df.where(
                    F.col(
                        "child_prefix" if k == "parents" else "prefix"
                    ) == prefix.lower()
                )
                for k, df in tables.items()
            }
            # dialect sanity check: read_ofn's anchored patterns cover
            # the engine's own writer subset; a foreign OFN (full IRIs,
            # annotated axioms, per-prefix CURIEs) matches nothing and
            # would otherwise "build" an empty ontology silently —
            # fall through to the next available format instead
            if out["terms"].limit(1).count() == 0:
                unpersist()
                continue
            out["unpersist"] = unpersist
            return out
        if fmt == "obograph":
            from ..sources.obograph import obograph_to_tables, read_obograph

            g = read_obograph(spark, str(handle))
            return obograph_to_tables(
                g["nodes"], g["edges"], uri_prefix, prefix
            )
        if fmt == "skos":
            from ..sources.ntriples import read_ntriples, skos_to_tables

            return skos_to_tables(
                read_ntriples(spark, str(handle)), uri_prefix, prefix
            )
        if fmt == "csv":
            from ..sources.csv_source import read_nomenclature_csv

            path, spec = handle  # type: ignore[misc]
            return read_nomenclature_csv(spark, str(path), spec)
    raise NoBuildError(
        f"no supported format for {prefix!r}; available={sorted(available)}"
    )
