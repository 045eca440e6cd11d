"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship KG-construction query over sf0.001: grounds the
                  documents corpus against a broadcast dictionary and
                  materializes (subj, pred, obj) triples unioned with
                  typedef-filtered ontology edges.
queries()       — one callable per implemented SURVEY.md §2 operator.
oracle_sql()    — one DuckDB twin per query.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from pyobo_spark import queries as Q  # noqa: E402

_PYFILES_SENT: set[int] = set()


def _ensure_executors_can_import(spark: SparkSession) -> None:
    """Executor Python workers import pyobo_spark from the UDF closures
    (pickled by reference). If the driver process was launched outside
    /root/repo, workers won't have it on sys.path — ship the package zip
    via addPyFile (idempotent per session)."""
    key = id(spark)
    if key in _PYFILES_SENT:
        return
    try:
        import pathlib
        import zipfile

        zip_path = os.path.join(_REPO, "dist", "pyobo_spark.zip")
        root = pathlib.Path(_REPO) / "pyobo_spark"
        sources = sorted(root.rglob("*.py"))
        if sources:
            # rebuild when any source is newer — a stale zip would ship
            # old code to executor Python workers
            newest_src = max(p.stat().st_mtime for p in sources)
            if (not os.path.exists(zip_path)
                    or os.path.getmtime(zip_path) < newest_src):
                os.makedirs(os.path.dirname(zip_path), exist_ok=True)
                with zipfile.ZipFile(
                    zip_path, "w", zipfile.ZIP_DEFLATED
                ) as z:
                    for p in sources:
                        z.write(p, p.relative_to(pathlib.Path(_REPO)))
        # zip-only deployment (no source tree next to this file): ship
        # the prebuilt zip as-is
        if os.path.exists(zip_path):
            spark.sparkContext.addPyFile(zip_path)
    except Exception:  # noqa: BLE001 — Connect session or already added
        pass
    _PYFILES_SENT.add(key)


def _wrap(fn):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_executors_can_import(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: triple materialization over the sf0.001 corpus —
    mention detection (broadcast Aho-Corasick over documents) → best-match
    → mention triples ∪ typedef-filtered ontology edges."""
    sf_dir = "/root/testdata/sf0.001"
    _ensure_executors_can_import(spark)
    from pyobo_spark.grounding import matcher
    from pyobo_spark.grounding.dictionary import broadcast_matcher, build_matcher

    ac = build_matcher(Q.MENTION_DICT)
    bc = broadcast_matcher(spark, ac)
    raw = matcher.match_text_spans(Q._docs_as_spans(spark, sf_dir), bc)
    mention_triples = matcher.mention_triples(matcher.best_match(raw))
    onto_edges = Q.q_edges(spark, sf_dir)
    return mention_triples.unionByName(onto_edges)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(fn) for name, fn in Q.QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return dict(Q.ORACLES)
