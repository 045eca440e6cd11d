"""Custom stateful streaming operator — applyInPandasWithState.

Running cumulative mention totals per curie across micro-batches: the
state (a running count + last-batch watermark) lives in Spark's state
store keyed by curie, so a restart resumes exact totals from the
checkpoint. This is the engine's template for any cross-batch stateful
op (per-entity session state, incremental counters at 10^12-doc
scale).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("curie", T.StringType()),
        T.StructField("total_mentions", T.LongType()),
        T.StructField("n_batches_seen", T.IntegerType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("total", T.LongType()),
        T.StructField("batches", T.IntegerType()),
    ]
)


def _update_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    total, batches = state.get if state.exists else (0, 0)
    new = 0
    for pdf in pdfs:
        new += int(pdf["n"].sum())
    total += new
    batches += 1
    state.update((total, batches))
    yield pd.DataFrame(
        {"curie": [key[0]], "total_mentions": [total], "n_batches_seen": [batches]}
    )


def stream_cumulative_mention_totals(
    spark: SparkSession,
    input_dir: str,
    schema,
    matcher_broadcast,
    checkpoint_dir: str,
    output_dir: str,
) -> None:
    """Streaming source of (doc_id, text) files → per-batch mention
    counts (map-only matcher) → applyInPandasWithState cumulative totals
    per curie → parquet sink (update rows appended with batch provenance
    via foreachBatch)."""
    from ..grounding import matcher

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(input_dir)
    )
    spans = stream.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(0).alias("span_idx"),
        "text",
    )
    # map-only partial counts (no agg — streaming forbids an aggregation
    # before the stateful operator); the state function does the summing
    counts = matcher.match_mention_counts_partial(
        spans, matcher_broadcast
    ).select("curie", "n")
    totals = counts.groupBy("curie").applyInPandasWithState(
        _update_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(output_dir)

    q = (
        totals.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
