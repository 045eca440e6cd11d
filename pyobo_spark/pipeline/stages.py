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
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .footers import written_stats


@dataclass
class StageResult:
    name: str
    path: str
    skipped: bool
    n_rows: int
    wall_sec: float


#: Most distinct values one counter column reports (smallest first).
COUNTER_LIMIT = 1000


def counters(
    df: DataFrame, cols: tuple[str, ...], limit: int | None = COUNTER_LIMIT
) -> dict[str, dict]:
    """{col: {value: rows}} for each of ``cols``, values ascending (nulls
    first), at most ``limit`` per column: one aggregate per column."""
    out = {}
    for col in cols:
        q = df.groupBy(col).agg(F.count(F.lit(1)).alias("n")).orderBy(col)
        rows = (q if limit is None else q.limit(limit)).collect()
        out[col] = {r[col]: r["n"] for r in rows}
    return out


class PipelineRunner:
    """Run named stages; each writes parquet plus a ``_MANIFEST.json``
    (the reference's db_output_helper Counter/sample/metadata trio).

    Where each manifest field comes from, for a stage that runs:

    - ``n_rows``: the parquet footers of the written data files, read
      on the driver (:mod:`.footers`) — no count job;
    - ``sample``: the first ≤10 rows of those files, read with pyarrow;
    - ``counters``: one aggregate per counter column over the written
      snapshot (:func:`counters`), ≤ ``COUNTER_LIMIT`` values per
      column — the only Spark jobs a stage adds to its write;
    - ``n_partitions``: the read-back's scan planning (no job);
    - ``wall_sec`` / ``committed_at``: the driver clock.

    The read-back is planned with the built DataFrame's schema, so it
    skips the schema-inference job. When pyarrow cannot open the files
    (a non-local filesystem), ``n_rows`` and ``sample`` fall back to a
    ``count()`` and a ``limit(10)`` collect.

    A stage whose manifest exists is skipped: its data is read back and
    its manifest's ``n_rows`` reported."""

    def __init__(self, spark: SparkSession, root: str, force: bool = False):
        self.spark = spark
        self.root = Path(root)
        self.force = force
        self.results: list[StageResult] = []

    def _manifest_path(self, name: str) -> Path:
        return self.root / name / "_MANIFEST.json"

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        counter_cols: tuple[str, ...] = (),
    ) -> DataFrame:
        out_dir = self.root / name
        manifest = self._manifest_path(name)
        if manifest.exists() and not self.force:
            df = self.spark.read.parquet(str(out_dir / "data"))
            meta = json.loads(manifest.read_text())
            self.results.append(
                StageResult(name, str(out_dir), True, meta["n_rows"], 0.0)
            )
            return df

        t0 = time.time()
        df = build()
        data_path = str(out_dir / "data")
        df.write.mode("overwrite").parquet(data_path)
        out = self.spark.read.schema(df.schema).parquet(data_path)
        n_rows, sample = written_stats(out, data_path)
        meta = {
            "stage": name,
            "n_rows": n_rows,
            "n_partitions": out.rdd.getNumPartitions(),
            "counters": counters(out, counter_cols),
            "sample": sample,
            "wall_sec": round(time.time() - t0, 3),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        manifest.parent.mkdir(parents=True, exist_ok=True)
        # commit-then-mark: manifest written only after a successful write,
        # so a crashed stage re-runs from scratch (no torn snapshots)
        manifest.write_text(json.dumps(meta, default=str, indent=1))
        self.results.append(
            StageResult(name, str(out_dir), False, n_rows, meta["wall_sec"])
        )
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
