"""Iceberg-style snapshot table (pipeline/snapshots.py): atomic
commits, manifest-planned reads, time travel, rollback, crash
invisibility."""

from __future__ import annotations

import json
import os

import pytest

from pyobo_spark.pipeline.snapshots import SnapshotTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _ids(df):
    return sorted(r["doc_id"] for r in df.collect())


def test_overwrite_append_time_travel_rollback(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    assert t.current_snapshot_id() is None
    with pytest.raises(ValueError):
        t.read()

    s1 = t.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    s2 = t.append(_df(spark, [(3, "c")]))
    s3 = t.overwrite(_df(spark, [(9, "z")]))
    assert (s1, s2, s3) == (1, 2, 3)

    # current = last commit; time travel reaches every snapshot
    assert _ids(t.read()) == [9]
    assert _ids(t.read(snapshot_id=s1)) == [1, 2]
    assert _ids(t.read(snapshot_id=s2)) == [1, 2, 3]

    # history follows parent pointers, oldest first
    hist = t.history()
    assert [h["snapshot_id"] for h in hist] == [1, 2, 3]
    assert [h["operation"] for h in hist] == [
        "overwrite", "append", "overwrite",
    ]
    assert [h["n_rows"] for h in hist] == [2, 3, 1]

    # rollback is metadata-only: current flips, s3 stays readable by id
    t.rollback(s2)
    assert _ids(t.read()) == [1, 2, 3]
    assert _ids(t.read(snapshot_id=s3)) == [9]
    # a commit after rollback branches with a FRESH id (s3's id is taken)
    s4 = t.append(_df(spark, [(4, "d")]))
    assert s4 == 4
    assert _ids(t.read()) == [1, 2, 3, 4]
    assert [h["snapshot_id"] for h in t.history()] == [1, 2, 4]


def test_append_reuses_parent_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.overwrite(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    snap2 = json.loads(
        (tmp_path / "tbl" / "metadata" / "snap-00000002.json").read_text()
    )
    dirs = {os.path.dirname(f["path"]) for f in snap2["files"]}
    # the manifest spans BOTH snapshots' data dirs — the parent's files
    # were reused, not rewritten
    assert len(dirs) == 2
    assert snap2["summary"]["n_rows"] == 2


def test_crashed_commit_is_invisible(spark, tmp_path):
    """Data files written without a pointer swap (a commit crashed
    before its rename) must be invisible to every read."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    s1 = t.overwrite(_df(spark, [(1, "a")]))
    # simulate a crash: orphan data directory, no snapshot JSON, no swap
    orphan = tmp_path / "tbl" / "data" / "snap-00000099"
    _df(spark, [(666, "ghost")]).write.parquet(str(orphan))
    assert _ids(t.read()) == [1]
    # the next commit is unaffected and never reads the orphan
    t.append(_df(spark, [(2, "b")]))
    assert _ids(t.read()) == [1, 2]
    assert s1 == 1


def test_unknown_rollback_rejected(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.overwrite(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError):
        t.rollback(42)


def test_orphan_at_next_id_does_not_block_commits(spark, tmp_path):
    """A crash AFTER the data write but BEFORE the snapshot JSON leaves
    an orphan data dir at parent+1; the id probe must skip past it
    (probing only the JSON would re-pick the id and die on
    mode('error') forever — r06 review)."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.overwrite(_df(spark, [(1, "a")]))
    # orphan exactly where the next commit would write
    orphan = tmp_path / "tbl" / "data" / "snap-00000002"
    _df(spark, [(666, "ghost")]).write.parquet(str(orphan))
    s = t.append(_df(spark, [(2, "b")]))
    assert s == 3  # skipped the orphaned id
    assert _ids(t.read()) == [1, 2]


def test_pointer_loss_recovers_to_latest_snapshot(spark, tmp_path):
    """If the _current pointer file is externally removed, the table
    recovers to the LATEST committed snapshot via the metadata-log scan
    (Iceberg's version-hint fallback) instead of presenting as empty."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.overwrite(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    (tmp_path / "tbl" / "metadata" / "_current").unlink()
    assert t.current_snapshot_id() == 2
    assert _ids(t.read()) == [1, 2]


def test_time_travel_bad_id_is_value_error(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.overwrite(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="unknown snapshot"):
        t.read(snapshot_id=42)


def test_expire_snapshots_reclaims_only_unshared_files(spark, tmp_path):
    """expire_snapshots drops old snapshots and reclaims data files not
    referenced by any kept snapshot — shared (appended-over) files
    survive, kept snapshots stay readable, expired ids become unknown."""
    import glob

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    s1 = t.overwrite(_df(spark, [(1, "a")]))      # files A
    s2 = t.append(_df(spark, [(2, "b")]))         # files A + B
    s3 = t.overwrite(_df(spark, [(9, "z")]))      # files C
    s4 = t.append(_df(spark, [(10, "y")]))        # files C + D
    stats = t.expire_snapshots(keep_last=2)       # keep s3, s4
    assert stats["expired_snapshots"] == 2
    assert stats["deleted_files"] >= 2            # A and B reclaimed
    # kept snapshots fully readable
    assert _ids(t.read()) == [9, 10]
    assert _ids(t.read(snapshot_id=s3)) == [9]
    # expired ids follow the unknown-snapshot contract
    with pytest.raises(ValueError, match="unknown snapshot"):
        t.read(snapshot_id=s1)
    # shared file C (named by both s3 and s4) still on disk exactly once
    c_files = glob.glob(str(tmp_path / "tbl" / "data" / "snap-00000003" / "part-*"))
    assert c_files
    # history truncates at the expired parent instead of raising
    assert [h["snapshot_id"] for h in t.history()] == [s3, s4]
    assert s2 == 2


def test_expire_removes_empty_data_dirs(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.overwrite(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(2, "b")]))
    t.overwrite(_df(spark, [(3, "c")]))
    t.expire_snapshots(keep_last=1)
    dirs = sorted(p.name for p in (tmp_path / "tbl" / "data").iterdir())
    assert dirs == ["snap-00000003"]


def test_ids_never_reused_after_expire(spark, tmp_path):
    """rollback + expire deletes both artifacts of rolled-over ids; the
    _last_id high-water mark must still prevent minting those ids again
    (a reused id would silently resolve stored references to DIFFERENT
    content — r06 review)."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    for i in range(1, 5):
        t.overwrite(_df(spark, [(i, "x")]))
    t.rollback(2)
    t.expire_snapshots(keep_last=1)  # snaps 3,4 fully deleted
    s = t.overwrite(_df(spark, [(9, "y")]))
    assert s == 5  # NOT a reuse of 3


def test_expire_keep_last_validation(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.overwrite(_df(spark, [(1, "a")]))
    for bad in (0, -2):
        with pytest.raises(ValueError, match="keep_last"):
            t.expire_snapshots(keep_last=bad)


def test_commit_stats_come_from_footers(spark, tmp_path):
    """r7: _commit's n_rows is summed from parquet footers (driver-side
    metadata, no per-commit executor count job — VERDICT r06 #2/#3).
    The footer sum must equal the full count, and the fallback must
    signal cleanly on unreadable paths."""
    from pyobo_spark.pipeline.footers import summarize_files
    from pyobo_spark.pipeline.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    df = spark.range(1234).selectExpr("id", "id * 2 AS v")
    sid = t.overwrite(df)
    snap = t._load_snapshot(sid)
    assert snap["summary"]["n_rows"] == 1234
    # direct kernel check: footer sum == spark count for the same files
    paths = [f["path"] for f in snap["files"]]
    assert summarize_files(paths)[0] == 1234
    # unreadable path -> None (caller falls back to the count job)
    assert summarize_files(["/nonexistent/x.parquet"]) is None


def test_footer_sample_matches_spark_rows(spark, tmp_path):
    """The pyarrow sample reads the written rows back as Spark's own
    ``Row.asDict(recursive=True)`` does — nested structs, arrays and
    maps included — so manifests keep their sample format."""
    from pyobo_spark.pipeline.footers import data_files, summarize_files

    path = str(tmp_path / "nested")
    spark.createDataFrame(
        [
            (1, ("x", [1, 2]), {"k": 1}),
            (2, None, {}),
            (3, ("y", None), None),
        ],
        "id int, s struct<a: string, b: array<int>>, m map<string, int>",
    ).coalesce(1).write.parquet(path)
    n, sample = summarize_files(data_files(path), 2)
    assert n == 3
    rows = spark.read.parquet(path).collect()
    assert sample == [r.asDict(recursive=True) for r in rows[:2]]
