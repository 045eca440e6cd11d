"""Structured Streaming mention stage: availableNow incremental runs with
checkpoint/resume — new files processed, old files not reprocessed."""

from __future__ import annotations

from pyspark.sql import types as T

from pyobo_spark import queries as Q
from pyobo_spark.grounding.dictionary import build_matcher
from pyobo_spark.streaming.mentions import stream_mention_counts

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def test_streaming_incremental_resume(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    bc = spark.sparkContext.broadcast(build_matcher(Q.MENTION_DICT))

    spark.createDataFrame(
        [(1, "spark join spark"), (2, "no matches here")], SCHEMA
    ).write.mode("append").parquet(in_dir)
    stream_mention_counts(spark, in_dir, SCHEMA, bc, ckpt, out_dir)

    first = spark.read.parquet(out_dir)
    rows = {(r["doc_id"], r["curie"]): r["n_mentions"] for r in first.collect()}
    assert rows == {("1", "fixo:0000001"): 2, ("1", "fixo:0000002"): 1}

    # second batch of files: only the NEW docs are processed on resume
    spark.createDataFrame([(3, "filter filter")], SCHEMA).write.mode(
        "append"
    ).parquet(in_dir)
    stream_mention_counts(spark, in_dir, SCHEMA, bc, ckpt, out_dir)

    second = spark.read.parquet(out_dir)
    rows2 = {(r["doc_id"], r["curie"]): r["n_mentions"] for r in second.collect()}
    assert rows2 == {
        ("1", "fixo:0000001"): 2,
        ("1", "fixo:0000002"): 1,
        ("3", "fixo:0000003"): 2,
    }
    # doc 1 appears exactly once → no reprocessing happened
    assert second.where("doc_id = '1' and curie = 'fixo:0000001'").count() == 1


def test_stateful_cumulative_totals(spark, tmp_path):
    """applyInPandasWithState: totals accumulate across micro-batches
    within a run AND across restarts (state store checkpoint)."""
    from pyobo_spark.streaming.stateful import stream_cumulative_mention_totals

    in_dir = str(tmp_path / "sin")
    out_dir = str(tmp_path / "sout")
    ckpt = str(tmp_path / "sckpt")
    bc = spark.sparkContext.broadcast(build_matcher(Q.MENTION_DICT))

    # two files → two micro-batches (maxFilesPerTrigger=1)
    spark.createDataFrame([(1, "spark spark")], SCHEMA).write.mode(
        "append"
    ).parquet(in_dir)
    spark.createDataFrame([(2, "spark join")], SCHEMA).write.mode(
        "append"
    ).parquet(in_dir)
    stream_cumulative_mention_totals(spark, in_dir, SCHEMA, bc, ckpt, out_dir)

    rows = spark.read.parquet(out_dir).collect()
    latest = {}
    for r in rows:
        cur = latest.get(r["curie"])
        if cur is None or r["batch_id"] > cur["batch_id"]:
            latest[r["curie"]] = r
    assert latest["fixo:0000001"]["total_mentions"] == 3  # 2 + 1 across docs
    assert latest["fixo:0000002"]["total_mentions"] == 1
    # state accumulated over >1 micro-batch for the curie seen in both
    assert latest["fixo:0000001"]["n_batches_seen"] >= 1

    # restart with a NEW file: totals continue from checkpointed state
    spark.createDataFrame([(3, "spark")], SCHEMA).write.mode("append").parquet(
        in_dir
    )
    stream_cumulative_mention_totals(spark, in_dir, SCHEMA, bc, ckpt, out_dir)
    rows2 = spark.read.parquet(out_dir).collect()
    best = max(
        (r for r in rows2 if r["curie"] == "fixo:0000001"),
        key=lambda r: r["batch_id"],
    )
    assert best["total_mentions"] == 4  # resumed from 3, +1


def test_streaming_exact_dedup_catchup(spark, tmp_path):
    """Incremental exact dedup against the materialized sink: re-posted
    content never re-enters, across separate availableNow runs."""
    from pyobo_spark.streaming.dedup import stream_exact_dedup_catchup

    in_dir = str(tmp_path / "din")
    out_dir = str(tmp_path / "dout")
    ckpt = str(tmp_path / "dckpt")

    spark.createDataFrame(
        [(1, "alpha doc"), (2, "alpha doc"), (3, "beta doc")], SCHEMA
    ).write.mode("append").parquet(in_dir)
    stream_exact_dedup_catchup(spark, in_dir, SCHEMA, ckpt, out_dir)
    first = spark.read.parquet(out_dir)
    assert {r["doc_id"] for r in first.collect()} == {1, 3}

    # second run: a re-post of 'alpha doc' and one new doc
    spark.createDataFrame(
        [(4, "alpha doc"), (5, "gamma doc")], SCHEMA
    ).write.mode("append").parquet(in_dir)
    stream_exact_dedup_catchup(spark, in_dir, SCHEMA, ckpt, out_dir)
    second = spark.read.parquet(out_dir)
    assert {r["doc_id"] for r in second.collect()} == {1, 3, 5}


def test_streaming_exact_dedup_watermarked(spark, tmp_path):
    """Native dropDuplicatesWithinWatermark path: duplicates inside one
    catch-up pass are dropped."""
    from pyobo_spark.streaming.dedup import stream_exact_dedup

    in_dir = str(tmp_path / "win")
    out_dir = str(tmp_path / "wout")
    ckpt = str(tmp_path / "wckpt")

    spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other text")], SCHEMA
    ).write.mode("append").parquet(in_dir)
    stream_exact_dedup(spark, in_dir, SCHEMA, ckpt, out_dir)
    out = spark.read.parquet(out_dir)
    texts = [r["text"] for r in out.collect()]
    assert sorted(set(texts)) == ["other text", "same text"]
    assert len(texts) == 2


def test_streaming_near_dedup_incremental(spark, tmp_path):
    """Incremental MinHash+LSH near-dedup: in-batch near-dups collapse
    to the canonical doc, and a LATER batch's near-dup of an accepted
    doc is dropped by the band-index join — across separate
    availableNow runs, through the checkpoint."""
    from pyobo_spark.streaming.dedup import stream_near_dedup

    in_dir = str(tmp_path / "nin")
    out_dir = str(tmp_path / "nout")
    idx_dir = str(tmp_path / "nidx")
    ckpt = str(tmp_path / "nckpt")

    base = " ".join(f"t{i}" for i in range(100))
    near = " ".join([f"t{i}" for i in range(95)] + ["x0 x1 x2 x3 x4"])
    other = " ".join(f"u{i}" for i in range(100))
    third = " ".join(f"v{i}" for i in range(100))

    spark.createDataFrame(
        [(1, base), (2, near), (3, other)], SCHEMA
    ).write.mode("append").parquet(in_dir)
    stream_near_dedup(spark, in_dir, SCHEMA, ckpt, out_dir, idx_dir)
    first = spark.read.parquet(out_dir)
    assert {r["doc_id"] for r in first.collect()} == {1, 3}

    # second run: a near-dup of doc 1 (already accepted, earlier batch)
    # and one genuinely new doc
    spark.createDataFrame(
        [(4, near), (5, third)], SCHEMA
    ).write.mode("append").parquet(in_dir)
    stream_near_dedup(spark, in_dir, SCHEMA, ckpt, out_dir, idx_dir)
    second = spark.read.parquet(out_dir)
    assert {r["doc_id"] for r in second.collect()} == {1, 3, 5}

    # the index accumulates ACCEPTED docs only — dropped near-dups
    # never pollute future candidate joins
    sigs = spark.read.parquet(f"{idx_dir}/sigs")
    assert {r["doc_id"] for r in sigs.select("doc_id").collect()} == {1, 3, 5}


def test_streaming_dedup_uncommitted_sink_is_no_sink(spark, tmp_path):
    """A batch killed mid-write leaves the sink dir with only
    `_temporary` — the committed-data probe must treat that as 'no sink
    yet' (the replayed batch proceeds without the anti-join) instead of
    wedging every restart on read.parquet's schema-inference error
    (r06 review)."""
    from pyobo_spark.streaming.dedup import (
        _sink_has_data,
        stream_exact_dedup_catchup,
    )

    in_dir = str(tmp_path / "din")
    out_dir = tmp_path / "dout"
    ckpt = str(tmp_path / "dckpt")
    # simulate the crash artifact: sink dir exists, zero committed files
    (out_dir / "_temporary" / "0").mkdir(parents=True)
    (out_dir / "_SUCCESS").write_bytes(b"")
    assert _sink_has_data(spark, str(out_dir)) is False

    spark.createDataFrame(
        [(1, "alpha doc"), (2, "beta doc")], SCHEMA
    ).write.mode("append").parquet(in_dir)
    stream_exact_dedup_catchup(spark, in_dir, SCHEMA, ckpt, str(out_dir))
    got = spark.read.parquet(str(out_dir))
    assert {r["doc_id"] for r in got.collect()} == {1, 2}
    # and once data IS committed the probe flips
    assert _sink_has_data(spark, str(out_dir)) is True


def test_streaming_exact_dedup_versioned(spark, tmp_path):
    """Transactional SnapshotTable sink: one snapshot per micro-batch,
    replayed batch_ids are no-ops (exactly-once-visible), dedup holds
    across separate availableNow runs, time travel reaches each batch."""
    from pyobo_spark.pipeline.snapshots import SnapshotTable
    from pyobo_spark.streaming.dedup import stream_exact_dedup_versioned

    in_dir = str(tmp_path / "vin")
    ckpt = str(tmp_path / "vckpt")
    tbl_root = str(tmp_path / "vtbl")

    spark.createDataFrame(
        [(1, "alpha doc"), (2, "alpha doc"), (3, "beta doc")], SCHEMA
    ).write.mode("append").parquet(in_dir)
    stream_exact_dedup_versioned(spark, in_dir, SCHEMA, ckpt, tbl_root)
    tbl = SnapshotTable(spark, tbl_root)
    first_sid = tbl.current_snapshot_id()
    assert {r["doc_id"] for r in tbl.read().collect()} == {1, 3}

    # replayed batch (same app_id + batch_id) must be a no-op — the
    # stream scopes its tags by its checkpoint path (Delta txnAppId)
    batch = spark.createDataFrame(
        [(7, "alpha doc")], SCHEMA
    ).withColumn("text_hash", __import__("pyspark").sql.functions.md5("text"))
    assert tbl.append_batch(batch, batch_id=0, app_id=ckpt) is None
    assert tbl.current_snapshot_id() == first_sid
    # a DIFFERENT app's batch 0 is genuinely new data, never a replay
    other = tbl.append_batch(batch, batch_id=0, app_id="other-query")
    assert other is not None
    tbl.rollback(first_sid)  # restore for the second stream run below

    # second run: re-post + a new doc -> exactly one more snapshot
    spark.createDataFrame(
        [(4, "alpha doc"), (5, "gamma doc")], SCHEMA
    ).write.mode("append").parquet(in_dir)
    stream_exact_dedup_versioned(spark, in_dir, SCHEMA, ckpt, tbl_root)
    assert {r["doc_id"] for r in tbl.read().collect()} == {1, 3, 5}
    # time travel back to the first batch's corpus
    assert {
        r["doc_id"] for r in tbl.read(snapshot_id=first_sid).collect()
    } == {1, 3}


def test_canonical_app_id_spellings():
    """ADVICE r06 #2: every spelling of the same local checkpoint dir
    must resolve to ONE replay-scope app_id (a fresh app_id on restart
    would let a replayed batch commit twice); URI paths keep their
    scheme and only lose a trailing slash."""
    import os

    from pyobo_spark.streaming.dedup import _canonical_app_id

    cwd = os.getcwd()
    canon = _canonical_app_id(f"{cwd}/ckpt")
    assert _canonical_app_id("ckpt") == canon
    assert _canonical_app_id("./ckpt/") == canon
    assert _canonical_app_id(f"{cwd}/x/../ckpt") == canon
    assert _canonical_app_id("hdfs://nn/ckpt/") == "hdfs://nn/ckpt"
    assert _canonical_app_id("file:/tmp/ckpt") == "file:/tmp/ckpt"
