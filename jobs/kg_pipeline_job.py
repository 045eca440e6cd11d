"""spark-submit entrypoint for the full KG-construction pipeline: a thin
CLI over :func:`pyobo_spark.pipeline.kg_build.run_kg_pipeline_staged`.

Usage (local sandbox):
    ./build_pyfiles.sh
    spark-submit --master 'local[4]' --py-files dist/pyobo_spark.zip \\
        jobs/kg_pipeline_job.py --out /tmp/kg_out [--n-terms 200] \\
        [--n-docs 1000] [--force] [--snapshot-table /tmp/kg_triples]

On a cluster the same invocation works with --master yarn/k8s — the
pipeline has no driver-side data dependencies beyond the broadcast
dictionary. The five stages (literal_mappings, mentions, xrefs_parsed,
components, triples) checkpoint to --out; re-running with the same
--out RESUMES from the last committed stage (north-rule resumability).
Prints one JSON line: the stage lineage report and the id of the
snapshot holding this build's triples.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-terms", type=int, default=200)
    ap.add_argument("--n-docs", type=int, default=1000)
    ap.add_argument("--force", action="store_true")
    ap.add_argument("--skip-obsolete", action="store_true")
    ap.add_argument(
        "--snapshot-table",
        default=None,
        help="optional SnapshotTable root: each run commits the triples "
        "as one immutable snapshot (time travel / rollback across runs)",
    )
    ap.add_argument(
        "--expire-keep-last",
        type=int,
        default=None,
        help="with --snapshot-table: after committing, expire all but "
        "the last N snapshots and reclaim their unshared data files "
        "(bounds table storage across rebuilds)",
    )
    return ap.parse_args(argv)


def run(spark, argv: list[str] | None = None) -> dict:
    """Build (or resume) the KG at --out on ``spark``; returns the
    printed JSON record. The session is left running."""
    args = parse_args(argv)

    from pyobo_spark.fixtures import generator
    from pyobo_spark.pipeline import kg_build

    # at real scale the inputs are Iceberg reads; here the seeded
    # generator stands in for the 54 source converters
    fx = generator.generate(n_terms=args.n_terms, n_docs=args.n_docs)
    runner = kg_build.run_kg_pipeline_staged(
        spark,
        generator.to_spark(spark, fx),
        args.out,
        skip_obsolete=args.skip_obsolete,
        force=args.force,
        snapshot_table=args.snapshot_table,
    )

    snapshot_id = None
    if args.snapshot_table:
        if args.expire_keep_last:
            from pyobo_spark.pipeline.snapshots import SnapshotTable

            stats = SnapshotTable(spark, args.snapshot_table).expire_snapshots(
                keep_last=args.expire_keep_last
            )
            print(json.dumps({"expire": stats}))
        snapshot_id = kg_build.committed_snapshot_id(
            spark, args.out, args.snapshot_table
        )

    record = {
        "pipeline": "kg_build", "stages": runner.lineage_report(),
        "triples_snapshot_id": snapshot_id,
    }
    print(json.dumps(record))
    return record


def main() -> None:
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("kg_pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        run(spark, sys.argv[1:])
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
