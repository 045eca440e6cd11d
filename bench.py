"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (evaluates every
column, no driver collect). Also reports docs/sec for the grounding
stage (the north-rule throughput figure).

The JSON additionally carries a ``scaled`` section (VERDICT r05 #1):
the same headline queries over a DETERMINISTIC 10x-replicated corpus
(scripts/make_bench10x.py, built once into
``benchdata/10x-<sf_dir-name>/`` and reused — the cached corpus carries a
fingerprint of the source files, so a regenerated or different source
directory forces a rebuild instead of reusing stale data)
so the top queries run seconds-long and a real regression clears the
measured ±25-30% host-jitter floor that sub-second sf0.1 times sit
under. Disable with SPARK_GRAFT_BENCH_10X=0.

Scaling-efficiency evidence (N vs 4N parallelism on the same input) is
produced by scaling_bench.py, reported in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyobo_spark import queries as Q  # noqa: E402
from pyobo_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "mention_counts",           # corpus grounding (Aho-Corasick mapInPandas)
    "mention_best",             # + top-1 window
    "connected_components",     # iterative large-star/small-star CC
    "ancestors",                # BFS transitive closure
    "edges",                    # triple materialization union
    "relations_typedef_filtered",
    "alt_upgrade",              # broadcast dim join
    "sssom_mappings",
    "minhash_near_duplicates",  # MinHash+LSH near-dup
    "dedup_exact",
    "token_stats",
    "doc_fingerprint",
    "ann_cosine_topk",          # brute-force cosine top-k
    "ann_cosine_lsh",           # multi-table LSH ANN
    "descendants",              # reverse BFS closure
    "hierarchy_edges",          # predicate-union edge set
    "nodes_export",             # Neo4j nodes artifact (groupBy collect)
    "span_pipeline",            # interleaved spans: posexplode + matcher
    "clean_corpus",             # quality filter + dedup keep-first
    "simhash",                  # JVM xxhash64 tokens + numpy bit-majority
    "ngram_jaccard_planted",    # exact n-gram verify kernel
    "semantic_mappings",        # full SSSOM column set projection
    "hierarchy_nodes",          # node-set + literal-property join
    "term_embeddings",          # map-only term embedding artifact
    "embedding_nearest_terms",  # broadcast cosine top-k over terms
]


def force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def _timed_pass(spark, sf_dir: str, names: list[str]) -> dict[str, float]:
    """Best-of-2 per query (this host's vCPU steal makes single samples
    swing; min-of-2 reflects achievable time)."""
    times: dict[str, float] = {}
    for name in names:
        best = None
        for _ in range(2):
            t0 = time.time()
            force(Q.QUERIES[name](spark, sf_dir))
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        times[name] = round(best, 3)
    return times


def _warm_inputs(spark, sf_dir: str) -> int | None:
    """Full-column noop write over every input parquet: count() is
    metadata-only and would leave the data pages cold. Returns the
    documents row count (grounding-throughput denominator)."""
    import glob as _glob

    n_docs = None
    for pq in sorted(_glob.glob(f"{sf_dir}/*.parquet")):
        df = spark.read.parquet(pq)
        force(df)
        if pq.endswith("documents.parquet"):
            n_docs = df.count()
    return n_docs


def main() -> None:
    loadavg0 = round(os.getloadavg()[0], 2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench", cores=cpus, shuffle_partitions=max(cpus, 8))

    # warm the JVM/parquet footers + page cache for EVERY input table +
    # Python workers once, so per-query numbers measure steady state,
    # not JIT/import/first-scan cost (a lineitem aggregate once
    # measured 8.5 s cold against 0.94 s warm)
    n_docs = _warm_inputs(spark, sf_dir)
    if n_docs is None:  # fail loudly — a 0-doc denominator would print
        raise FileNotFoundError(  # a plausible-looking wrong docs/sec
            f"{sf_dir}/documents.parquet not found"
        )
    from pyspark.sql import functions as F

    def _warm(it):
        for pdf in it:
            yield pdf.head(0)

    (spark.range(cpus * 8).repartition(cpus * 8)
     .withColumn("x", F.lit("x"))
     .mapInPandas(_warm, schema="id long, x string")
     .write.format("noop").mode("overwrite").save())

    # host-condition evidence (r5): steal ticks + a single-threaded
    # memory-bandwidth canary bracket the timed section, so every
    # BENCH_rNN.json self-documents whether its window was quiet — a
    # degraded-host run is then distinguishable from a code regression
    # without a narrative (see BASELINE.md round-5 protocol).
    # NOTE: compare canary values only bench-to-bench — inside a
    # process hosting a Spark JVM the probe reads ~2-5x lower than
    # standalone; the signal is its RELATIVE drop across rounds
    from scaling_bench import _canary_gbps, _steal_pct, _steal_ticks

    st0 = _steal_ticks()
    canary_before = _canary_gbps()

    times = _timed_pass(spark, sf_dir, HEADLINE)

    total = round(sum(times.values()), 3)
    grounding_sec = times["mention_counts"]
    docs_per_sec = round(n_docs / grounding_sec, 1) if grounding_sec else None
    sf = sf_dir.rstrip("/").split("sf")[-1]
    result = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "docs_per_sec_grounding": docs_per_sec,
        "n_docs": n_docs,
        "host": {
            "steal_pct": _steal_pct(st0, _steal_ticks()),
            "canary_gbps_before": canary_before,
            "canary_gbps_after": _canary_gbps(),
            "loadavg_1m_at_start": loadavg0,
        },
    }

    # ---- scaled section: same queries, deterministic 10x corpus ----
    # Guarded: the headline numbers above are already measured, and a
    # scaled-section failure (disk full during the corpus build, a
    # query error at 10x) must degrade to an "error" field in the same
    # JSON line, never discard the whole run's output.
    if os.environ.get("SPARK_GRAFT_BENCH_10X", "1") != "0":
        try:
            repo = os.path.dirname(os.path.abspath(__file__))
            sys.path.insert(0, os.path.join(repo, "scripts"))
            import make_bench10x as MB

            scaled_dir = os.environ.get(
                "SPARK_GRAFT_BENCH_10X_DIR",
                MB.default_out_dir(sf_dir),
            )
            if not MB.is_built(scaled_dir, sf_dir):
                MB.build(spark, sf_dir, scaled_dir, replicate=10)
            n_docs_10x = _warm_inputs(spark, scaled_dir)
            st1 = _steal_ticks()
            canary_mid = _canary_gbps()
            times_10x = _timed_pass(spark, scaled_dir, HEADLINE)
            g10 = times_10x["mention_counts"]
            result["scaled"] = {
                "sf_dir": scaled_dir,
                "replicate": 10,
                "value": round(sum(times_10x.values()), 3),
                "unit": "sec",
                "queries": times_10x,
                "n_docs": n_docs_10x,
                "docs_per_sec_grounding": (
                    round(n_docs_10x / g10, 1) if g10 else None
                ),
                "host": {
                    "steal_pct": _steal_pct(st1, _steal_ticks()),
                    "canary_gbps_before": canary_mid,
                    "canary_gbps_after": _canary_gbps(),
                },
            }
        except Exception as e:  # noqa: BLE001
            result["scaled"] = {"error": f"{type(e).__name__}: {e}"}

    print(json.dumps(result))


if __name__ == "__main__":
    main()
