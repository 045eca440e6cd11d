"""How a pipeline writer commits a parquet directory: write the data,
take its row count and first rows from the parquet footers, then
publish a small JSON mark describing it.

A parquet footer records its file's row count, so a writer can report
how many rows it just wrote, and show the first ones, with metadata
plus one small read on the driver: no executor job. One commit helper
serves the writers: :func:`write_parquet` is the write → read-back →
stats → counters step of the stage manifests (``PipelineRunner.stage``)
and the build reports (``db_build.build_artifact``), :func:`write_json`
the atomic write of every local mark (``_MANIFEST.json``,
``_METADATA.json``, ``_SNAPSHOT_ID``), and ``SnapshotTable`` commits
count their rows with :func:`summarize_files`. Where pyarrow cannot
open a path (a non-local filesystem) the writers fall back to Spark.
"""

from __future__ import annotations

import json
import os
from pathlib import Path
from typing import Iterable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Most distinct values one counter column reports (smallest first).
COUNTER_LIMIT = 1000


def local_path(path: str) -> str:
    return path[len("file:"):] if path.startswith("file:") else path


def data_files(directory: str) -> list[str]:
    """The data files of a written parquet directory in name order —
    Spark's ``part-NNNNN`` order, so the first file holds the first
    partition. Markers and checksums (``_SUCCESS``, ``.crc``) are
    skipped."""
    return sorted(
        str(p)
        for p in Path(local_path(directory)).iterdir()
        if not p.name.startswith(("_", "."))
    )


def _plain(value, typ):
    """Arrow's Python value → what ``Row.asDict(recursive=True)`` gives:
    maps become dicts (Arrow lists their key/value pairs)."""
    if value is None:
        return None
    if pa.types.is_map(typ):
        return {k: _plain(v, typ.item_type) for k, v in value}
    if pa.types.is_struct(typ):
        return {f.name: _plain(value[f.name], f.type) for f in typ}
    if pa.types.is_list(typ) or pa.types.is_large_list(typ):
        return [_plain(v, typ.value_type) for v in value]
    return value


def summarize_files(
    paths: Iterable[str], sample_rows: int = 0
) -> tuple[int, list[dict]] | None:
    """(total rows summed from each file's footer, the first
    ``sample_rows`` rows in file order) of parquet files ``paths``.
    None when any file cannot be opened this way."""
    try:
        total, sample = 0, []
        for p in paths:
            with pq.ParquetFile(local_path(p)) as pf:
                total += pf.metadata.num_rows
                need = sample_rows - len(sample)
                if need <= 0 or not pf.metadata.num_rows:
                    continue
                batch = next(pf.iter_batches(batch_size=need))
            sample += [
                {f.name: _plain(row[f.name], f.type) for f in batch.schema}
                for row in batch.to_pylist()
            ]
        return total, sample
    except (OSError, pa.ArrowException):  # the caller falls back to Spark
        return None


def written_stats(
    out: DataFrame, data_path: str, sample_rows: int = 10
) -> tuple[int, list[dict]]:
    """(row count, first ``sample_rows`` rows) of the parquet directory
    ``data_path``, whose read-back is ``out``. Footers first; the
    fallback is a ``count()`` job plus a ``limit`` collect."""
    try:
        got = summarize_files(data_files(data_path), sample_rows)
    except OSError:  # not a local directory
        got = None
    if got is not None:
        return got
    rows = out.limit(sample_rows).collect()
    return out.count(), [r.asDict(recursive=True) for r in rows]


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


def write_parquet(
    df: DataFrame,
    data_path: str,
    counter_cols: tuple[str, ...] = (),
    limit: int | None = COUNTER_LIMIT,
) -> tuple[DataFrame, dict]:
    """Write ``df`` as parquet at ``data_path`` (replacing what is
    there); return the read-back, planned with ``df``'s schema (no
    inference job), and the written files' ``n_rows``, ``counters`` and
    ``sample``."""
    df.write.mode("overwrite").parquet(data_path)
    out = df.sparkSession.read.schema(df.schema).parquet(data_path)
    n_rows, sample = written_stats(out, data_path)
    counts = counters(out, counter_cols, limit)
    return out, {"n_rows": n_rows, "counters": counts, "sample": sample}


def write_json(path: Path, value) -> None:
    """Publish ``value`` as JSON at ``path`` in one step: the text goes
    to a temp sibling that ``os.replace`` then renames over ``path``.
    A crash mid-write leaves the previous mark, or none, never a torn
    one that a reader takes for a commit."""
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_name(path.name + ".tmp")
    tmp.write_text(json.dumps(value, default=str, indent=1))
    os.replace(tmp, path)
