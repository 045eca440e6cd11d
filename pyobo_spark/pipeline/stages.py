"""Stage orchestration with checkpoint/resume + per-stage lineage metrics.

Mirrors the reference's resumability model — per-artifact file-existence
checks (`path.is_file() and not force`, struct.py:1354, getters.py:166-176)
and db_output_helper's Counter/sample/metadata trio (getters.py:477-571) —
as snapshot-committed parquet stages: a stage whose success manifest
exists is SKIPPED on re-run, so the pipeline resumes mid-flight. On a
real deployment each stage is an Iceberg snapshot; here the parquet
directory + manifest JSON plays that role (same commit-then-mark
protocol).
"""

from __future__ import annotations

import json
import shutil
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ``counters`` is imported by name from here too
from .footers import counters, write_json, write_parquet  # noqa: F401


@dataclass
class StageResult:
    name: str
    path: str
    skipped: bool
    n_rows: int
    wall_sec: float


class PipelineRunner:
    """Run named stages; each writes parquet plus a ``_MANIFEST.json``
    (the reference's db_output_helper Counter/sample/metadata trio)
    through :func:`.footers.write_parquet`, the step build reports
    share: ``n_rows`` and ``sample`` come from the written files'
    parquet footers (a ``count()`` and a ``limit(10)`` collect where
    pyarrow cannot open them), ``counters`` from one aggregate per
    counter column (≤ ``COUNTER_LIMIT`` values) — the only Spark jobs a
    stage adds to its write — and ``n_partitions`` from the read-back's
    scan planning. The manifest is published last, atomically
    (:func:`.footers.write_json`).

    A stage whose manifest exists is skipped: its data is read back
    with the manifest's ``schema`` (no inference job) and its
    manifest's ``n_rows`` reported. A stage that runs first removes its
    directory, so no mark of an earlier build outlives the data its
    write replaces."""

    def __init__(self, spark: SparkSession, root: str, force: bool = False):
        self.spark = spark
        self.root = Path(root)
        self.force = force
        self.results: list[StageResult] = []

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        counter_cols: tuple[str, ...] = (),
    ) -> DataFrame:
        out_dir = self.root / name
        manifest = out_dir / "_MANIFEST.json"
        if manifest.exists() and not self.force:
            meta = json.loads(manifest.read_text())
            reader = self.spark.read
            if "schema" in meta:  # older manifests: infer it (one job)
                reader = reader.schema(T.StructType.fromJson(meta["schema"]))
            df = reader.parquet(str(out_dir / "data"))
            self.results.append(
                StageResult(name, str(out_dir), True, meta["n_rows"], 0.0)
            )
            return df

        # unpublish an earlier build (its manifest, ``_SNAPSHOT_ID``)
        # before the write replaces its data
        shutil.rmtree(out_dir, ignore_errors=True)
        t0 = time.time()
        df = build()
        out, stats = write_parquet(df, str(out_dir / "data"), counter_cols)
        meta = {
            "stage": name,
            **stats,
            "n_partitions": out.rdd.getNumPartitions(),
            "schema": df.schema.jsonValue(),
            "wall_sec": round(time.time() - t0, 3),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        # commit-then-mark: the manifest is published only after the
        # write succeeded, so a crashed stage re-runs from scratch
        write_json(manifest, meta)
        self.results.append(StageResult(
            name, str(out_dir), False, meta["n_rows"], meta["wall_sec"]
        ))
        return out

    def write_partitioned(
        self,
        df,
        name: str,
        partition_by: tuple[str, ...] = ("prefix",),
        sort_within: tuple[str, ...] = ("identifier",),
    ) -> str:
        """write_cache-equivalent partitioned artifact: hive-style
        partition dirs (the Iceberg-partition stand-in) with rows sorted
        WITHIN each partition (the reference sorts every artifact before
        writing, utils/io.py:134 — at scale a global sort is replaced by
        per-partition order, which is what Iceberg sorted tables do)."""
        out = str(self.root / name / "data")
        (
            df.repartition(*[F.col(c) for c in partition_by])
            .sortWithinPartitions(*partition_by, *sort_within)
            .write.mode("overwrite")
            .partitionBy(*partition_by)
            .parquet(out)
        )
        return out

    def lineage_report(self) -> list[dict]:
        return [
            {
                "stage": r.name,
                "skipped": r.skipped,
                "n_rows": r.n_rows,
                "wall_sec": round(r.wall_sec, 3),
            }
            for r in self.results
        ]
