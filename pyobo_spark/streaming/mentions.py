"""Incremental (streaming) mention detection — SURVEY.md §2.9.

The reference is batch-only (file caches as resumability). The Spark-
native incremental path is Structured Streaming with availableNow=True:
each trigger processes the files that arrived since the last checkpoint,
runs the SAME batch grounding code via foreachBatch, and commits the
sink + checkpoint atomically — restart resumes exactly where it left
off. At 100 TB this is the 'catch-up on new corpus partitions' job; the
checkpoint directory plays the role of the reference's per-artifact
`path.is_file()` cache checks (struct.py:1354, getters.py:166-176).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grounding import matcher


def stream_mention_counts(
    spark: SparkSession,
    input_dir: str,
    schema,
    matcher_broadcast,
    checkpoint_dir: str,
    output_dir: str,
    fold: bool = True,
) -> None:
    """Run an availableNow streaming pass: parquet files in input_dir →
    per-(doc, curie) mention counts appended to output_dir parquet.

    foreachBatch reuses the exact batch operator (match_mention_counts),
    so streaming and batch semantics cannot diverge."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spans = batch_df.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.lit(0).alias("span_idx"),
            "text",
        )
        out = matcher.match_mention_counts(spans, matcher_broadcast, fold=fold)
        out.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            output_dir
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
