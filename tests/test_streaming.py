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
