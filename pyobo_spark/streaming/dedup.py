"""Streaming deduplication — the incremental form of
``operators/dedup.exact_duplicates`` (SURVEY.md §2.9 engine addition;
the reference is batch-only).

Two shapes, both Structured Streaming idioms:

1. ``stream_exact_dedup`` — native ``dropDuplicatesWithinWatermark`` on
   the 128-bit content hash: new documents whose content was already
   seen inside the watermark horizon are dropped before the sink.
   State is bounded by the watermark (Spark evicts hashes older than
   the horizon) — the right semantics for a continuously-ingesting
   corpus where re-posts cluster in time.
2. ``stream_exact_dedup_catchup`` — availableNow + foreachBatch reusing
   the batch keep-min policy against the ALREADY-MATERIALIZED corpus:
   each new batch is anti-joined on content hash against the sink, so
   restarts resume from the checkpoint without reprocessing (the same
   checkpoint-as-cache contract as streaming/mentions.py).
3. ``stream_exact_dedup_versioned`` — the catchup policy with a
   TRANSACTIONAL SnapshotTable sink: batch-id-tagged atomic commits
   make replayed micro-batches no-ops (exactly-once-visible output),
   with time travel across batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _sink_has_data(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` holds at least one COMMITTED data file (a
    visible, non-underscore/dot entry) on whatever filesystem serves it
    (local, HDFS, S3A...). Probing committed data explicitly — rather
    than catching the read error — keeps "no sink yet" distinct from a
    real IO/permission/corruption failure: the former must skip the
    dedup join, the latter must ABORT the batch (a swallowed read error
    would silently re-admit duplicates of already-accepted documents).
    Mere directory existence is NOT enough: a batch killed mid-write
    leaves the dir with only ``_temporary``, and read.parquet on that
    raises 'unable to infer schema' forever — by this function's
    contract that state is still "no sink yet", and the replayed batch
    must proceed without the join instead of wedging the stream."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return False
    for st in fs.listStatus(hpath):
        if not st.getPath().getName().startswith(("_", ".")):
            return True
    return False


def _canonical_app_id(checkpoint_dir: str) -> str:
    """Replay-scope id from a checkpoint path, spelled canonically
    (ADVICE r06 #2): local paths resolve to an absolute normalized
    form so 'ckpt/', './ckpt' and '/abs/ckpt' all name ONE scope —
    otherwise a differently-spelled restart gets a fresh app_id and a
    replayed micro-batch commits twice. Scheme-qualified URIs (hdfs:,
    s3a:, file:) only have a trailing slash stripped — os.path
    semantics do not apply to them."""
    import os
    import re

    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", checkpoint_dir):
        return checkpoint_dir.rstrip("/")
    return os.path.abspath(os.path.normpath(checkpoint_dir))


def _keep_min_batch(batch_df: DataFrame) -> DataFrame:
    """exact_duplicates' keep-min policy within one micro-batch: hash
    the content, keep the lowest doc_id per hash. Shared by both
    exact-dedup foreachBatch sinks so the policy (hash column, tiebreak)
    can never silently diverge between them."""
    return (
        batch_df.withColumn("text_hash", F.md5("text"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("text_hash").orderBy("doc_id")
            ),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def stream_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    schema,
    checkpoint_dir: str,
    output_dir: str,
    watermark: str = "1 hour",
) -> None:
    """Watermarked native dedup: docs with an already-seen md5(text)
    within the watermark horizon are dropped. availableNow trigger —
    one catch-up pass per invocation, stateful across restarts via the
    checkpoint."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    deduped = (
        stream.withColumn("event_time", F.current_timestamp())
        .withColumn("text_hash", F.md5("text"))
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
        .drop("event_time")
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_exact_dedup_catchup(
    spark: SparkSession,
    input_dir: str,
    schema,
    checkpoint_dir: str,
    output_dir: str,
) -> None:
    """foreachBatch variant deduping against the MATERIALIZED sink:
    content seen in any earlier batch (even before a restart) never
    re-enters — the streaming twin of exact_duplicates' keep-first
    policy, with the sink itself as the state store (no watermark
    horizon, exact forever-dedup; costs one anti-join per batch against
    the sink, which Iceberg/parquet serve with hash-partition pruning
    at scale)."""
    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch = _keep_min_batch(batch_df)
        # probe the sink through Hadoop FS — os.path only works for
        # driver-local paths; HDFS/S3/Iceberg sinks must use the same
        # filesystem that will serve the anti-join (r03 + r06 reviews:
        # committed-data check, not try/except, so a transient read
        # failure on batch N aborts instead of silently skipping dedup)
        if _sink_has_data(spark, output_dir):
            seen = spark.read.parquet(output_dir).select("text_hash")
            batch = batch.join(seen, on="text_hash", how="left_anti")
        batch.write.mode("append").parquet(output_dir)

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


def stream_near_dedup(
    spark: SparkSession,
    input_dir: str,
    schema,
    checkpoint_dir: str,
    output_dir: str,
    index_dir: str,
    n_perm: int = 64,
    n_bands: int = 16,
    threshold: float = 0.7,
) -> None:
    """Incremental MinHash+LSH NEAR-dedup — the streaming form of
    ``operators/dedup.near_dup_clusters`` + ``dedup_keep_canonical``
    (SURVEY.md §2.9 engine addition; the reference is batch-only).

    Policy (the standard greedy online dedup):

    1. WITHIN a micro-batch, transitive clustering keeps one canonical
       document per near-dup cluster (reuses the batch operators).
    2. ACROSS batches, a survivor is dropped when its signature shares
       an LSH band bucket with any ALREADY-ACCEPTED document and the
       signature-level Jaccard estimate is >= threshold.

    State is two parquet tables under ``index_dir`` (the accumulated
    band index and the accepted signatures), appended per batch and
    stamped with batch_id — parquet append is at-least-once, so a crash
    between the appends and the checkpoint commit replays the batch;
    duplicate INDEX rows are harmless (candidates are de-duplicated per
    pair) and output replays are diagnosable via the stamp (a consumer
    drops replayed rows by keying on it).

    Scale: per batch the work is batch-sized signatures + one bucket
    join against the index (band bucket is the shuffle key; the index
    side prunes to buckets present in the batch). The index grows with
    ACCEPTED docs only — near-dups never enter it.
    """
    from ..operators.dedup import (
        dedup_keep_canonical,
        minhash_bands,
        minhash_signatures,
        near_dup_clusters,
    )

    rows_per_band = n_perm // n_bands
    bands_dir = f"{index_dir}/bands"
    sigs_dir = f"{index_dir}/sigs"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.select("doc_id", "text")
        # ONE Arrow signature pass per batch: injected into stage 1
        # (which releases nothing on injected signatures — this function
        # owns the caches and releases them in the finally, so a
        # long-running stream never accumulates pinned per-batch caches
        # EVEN when a sink write throws and the batch retries) and
        # reused for the survivor index rows below via a semi-join on
        # the cache instead of a second shingle+matmul pass.
        sigs = dup_ids = None
        sigs_all = minhash_signatures(docs, n_perm=n_perm).persist()
        try:
            # stage 1: in-batch transitive canonicalization
            clusters = near_dup_clusters(
                docs,
                n_perm=n_perm,
                n_bands=n_bands,
                threshold=threshold,
                signatures=sigs_all,
            )
            survivors = dedup_keep_canonical(batch_df, clusters)
            sigs = sigs_all.join(
                survivors.select("doc_id"), on="doc_id", how="left_semi"
            ).persist()
            bands = minhash_bands(
                sigs, n_bands=n_bands, rows_per_band=rows_per_band
            )
            # stage 2: greedy check against the accumulated index
            # (committed-data probe: only a MISSING/uncommitted index
            # means first batch — a read failure on an existing index
            # must abort the batch, not silently admit near-duplicates
            # of accepted docs)
            if _sink_has_data(spark, bands_dir) and _sink_has_data(
                spark, sigs_dir
            ):
                idx_bands = spark.read.parquet(bands_dir)
                idx_sigs = spark.read.parquet(sigs_dir)
            else:
                idx_bands = None
                idx_sigs = None
            if idx_bands is not None:
                cand = (
                    bands.join(
                        idx_bands.select(
                            F.col("doc_id").alias("old_id"),
                            "band_idx",
                            "band_hash",
                        ),
                        on=["band_idx", "band_hash"],
                    )
                    .select("doc_id", "old_id")
                    .distinct()
                )
                est = (
                    cand.join(sigs, on="doc_id")
                    .join(
                        idx_sigs.select(
                            F.col("doc_id").alias("old_id"),
                            F.col("sig").alias("old_sig"),
                        ),
                        on="old_id",
                    )
                    .withColumn(
                        "est_jaccard",
                        F.expr(
                            "size(filter(zip_with(sig, old_sig,"
                            f" (x, y) -> x = y), v -> v)) / {n_perm}"
                        ).cast("double"),
                    )
                )
                # persisted: three sinks (output, bands, sigs) each
                # anti-join on dup_ids; without the cache the index join
                # — the dominant stage-2 cost, growing with every
                # accepted doc — would run 3x per batch
                dup_ids = (
                    est.where(F.col("est_jaccard") >= threshold)
                    .select("doc_id")
                    .distinct()
                    .persist()
                )
                survivors = survivors.join(
                    dup_ids, on="doc_id", how="left_anti"
                )
                sigs_out = sigs.join(dup_ids, on="doc_id", how="left_anti")
                bands_out = bands.join(dup_ids, on="doc_id", how="left_anti")
            else:
                sigs_out = sigs
                bands_out = bands
            stamped = survivors.withColumn("batch_id", F.lit(batch_id))
            stamped.write.mode("append").parquet(output_dir)
            bands_out.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(bands_dir)
            sigs_out.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(sigs_dir)
        finally:
            if dup_ids is not None:
                dup_ids.unpersist()
            if sigs is not None:
                sigs.unpersist()
            sigs_all.unpersist()

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


def stream_exact_dedup_versioned(
    spark: SparkSession,
    input_dir: str,
    schema,
    checkpoint_dir: str,
    table_root: str,
) -> None:
    """Exact forever-dedup with a TRANSACTIONAL sink: the accepted
    corpus lives in an Iceberg-style
    :class:`~pyobo_spark.pipeline.snapshots.SnapshotTable`, each
    micro-batch committed via ``append_batch(batch_id)``. foreachBatch
    is at-least-once (a crash between the sink write and the checkpoint
    commit replays the batch); the plain-parquet variant above documents
    replays as stamp-diagnosable, while here a replayed batch is a
    NO-OP — the batch tag rides inside the atomically-committed
    snapshot JSON, so readers see every batch exactly once, with time
    travel across batches for free. The per-batch anti-join reads the
    table's CURRENT snapshot (manifest-planned, no directory listing).
    The checkpoint path doubles as the replay-scope ``app_id`` (Delta's
    txnAppId role): a different checkpoint (new query) never collides
    with this one's batch ids; resetting THIS checkpoint's contents to
    reprocess from scratch requires a new checkpoint path or table.
    The path is CANONICALIZED before use (r7, ADVICE r06 #2): a restart
    that spells the same local checkpoint differently (relative vs
    absolute, trailing slash, '..' segments) must resolve to the SAME
    app_id, or a replayed batch would commit twice under a fresh scope
    and break the exactly-once-visible claim. URI-style paths (scheme
    present) are normalized textually (trailing-slash strip) only.
    """
    from ..pipeline.snapshots import SnapshotTable

    table = SnapshotTable(spark, table_root)
    app_id = _canonical_app_id(checkpoint_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch = _keep_min_batch(batch_df)
        if table.current_snapshot_id() is not None:
            seen = table.read().select("text_hash")
            batch = batch.join(seen, on="text_hash", how="left_anti")
        table.append_batch(batch, batch_id, app_id=app_id)

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
