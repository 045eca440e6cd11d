"""Row counts and sample rows of just-written parquet files, read on the
driver with pyarrow instead of through Spark jobs.

A parquet footer records its file's row count, so a writer that has
just committed a directory can report how many rows it holds — and
show its first rows — without scanning it again: metadata plus one
small read, no executor job. Shared by the three writers that report
such stats: ``SnapshotTable`` commits, ``PipelineRunner`` stage
manifests and ``db_build.build_artifact`` reports.

When pyarrow cannot open a path (e.g. a non-local filesystem the
default handler cannot read) the helpers return None and
:func:`written_stats` falls back to the Spark jobs.
"""

from __future__ import annotations

from pathlib import Path
from typing import Iterable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame


def _local(path: str) -> str:
    return path[len("file:"):] if path.startswith("file:") else path


def data_files(directory: str) -> list[str]:
    """The data files of a written parquet directory in name order —
    Spark's ``part-NNNNN`` order, so the first file holds the first
    partition. Markers and checksums (``_SUCCESS``, ``.crc``) are
    skipped."""
    return sorted(
        str(p)
        for p in Path(_local(directory)).iterdir()
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
            with pq.ParquetFile(_local(p)) as pf:
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
    sample = [r.asDict(recursive=True) for r in out.limit(sample_rows).collect()]
    return out.count(), sample
