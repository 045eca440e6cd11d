"""Scaling-efficiency evidence for the north rule (≥0.8 between N and 4N
executors). No real cluster exists in this sandbox, so per BASELINE.md we
run the SAME job on the SAME input at two local parallelism levels
(default local[4] vs local[16] — the largest honest 4x pair on this
host, see BASELINE.md; shuffle partitions scaled with cores)
in separate JVMs, and report throughput + efficiency:

  efficiency = throughput(4N) / (4 * throughput(N))

Job = the corpus-bound grounding stage (mention counts through the
matcher kernel) over a corpus replicated REPLICATE× so the work is large
enough to amortize fixed JVM/stage overhead — scaling efficiency is
meaningless on sub-second stages.

Usage: python scaling_bench.py [--n 4] [--fourn 16] [--sf-dir DIR]
Child mode (internal): python scaling_bench.py --child CPUS SF_DIR REPLICATE
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

# 1280 reps × 5k fixture docs = 6.4M docs — the r2-r5 protocol size
# (big enough that the 16-core level runs >15 s, amortizing fixed
# stage-scheduling cost that otherwise taxes the fast level's ratio)
REPLICATE = int(os.environ.get("SPARK_GRAFT_SCALE_REPLICATE", "1280"))


def _steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat.

    The sandbox host oversubscribes vCPUs, so a hypervisor can steal a
    variable share of each sample's CPU time. Measuring steal around
    every timed run makes each efficiency sample carry its own
    exculpatory (or damning) evidence instead of a narrative.
    """
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


def _steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[1] - before[1]
    return round(100.0 * (after[0] - before[0]) / dt, 2) if dt > 0 else 0.0


def _canary_gbps() -> float:
    """Fixed single-threaded memory-bandwidth probe (~0.3 s): stream a
    64 MB array a few times and report GB/s touched. Steal and loadavg
    cannot see a noisy neighbor on the same physical socket squeezing
    shared L3/memory bandwidth or turbo headroom; this can. Run around
    each timed level: a slow canary in the same window as a low
    efficiency sample pins the miss on the host, a steady canary pins
    it on the code."""
    import numpy as np

    a = np.ones(8_000_000)  # 64 MB of float64
    _ = (a * 1.0).sum()  # untimed pass: page-fault + allocator warmup
    t0 = time.perf_counter()
    acc = 0.0
    for _ in range(4):
        b = a * 1.0000001  # read 64 MB + write 64 MB
        acc += float(b[::65536].sum())
    dt = time.perf_counter() - t0
    assert acc > 0
    return round(4 * (2 * 64) / 1024 / dt, 2)


def child(cpus: int, sf_dir: str, replicate: int) -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pyspark.sql import functions as F

    from pyobo_spark import queries as Q
    from pyobo_spark.grounding import matcher
    from pyobo_spark.grounding.dictionary import build_matcher
    from pyobo_spark.session import get_spark

    spark = get_spark(f"scale{cpus}", cores=cpus, shuffle_partitions=cpus)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # replicate corpus (distinct doc ids) to get a meaningful workload
    reps = spark.range(replicate).withColumnRenamed("id", "rep")
    corpus = (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
            "text",
        )
        .repartition(128)  # FIXED input layout — only parallelism varies
        .persist()
    )
    n_docs = corpus.count()  # materialize before timing

    ac = build_matcher(Q.MENTION_DICT)
    bc = spark.sparkContext.broadcast(ac)

    # warm the (reused) Python workers: every task slot imports
    # pandas/pyarrow once, OUTSIDE the timed region — we measure
    # steady-state throughput, which is what scales on a cluster
    import pandas as pd  # noqa: F401

    def _warm(it):
        for pdf in it:
            yield pdf.head(0)

    (spark.range(cpus * 8).repartition(cpus * 8)
     .withColumn("text", F.lit("x"))
     .mapInPandas(_warm, schema="id long, text string")
     .write.format("noop").mode("overwrite").save())

    def run_once() -> tuple[float, float, float]:
        st0 = _steal_ticks()
        canary = _canary_gbps()
        t0 = time.time()
        spans = corpus.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.lit(0).alias("span_idx"),
            F.lower(F.col("text")).alias("text"),  # fold JVM-side
        )
        m = matcher.match_mention_counts(spans, bc, fold=False)
        m.write.format("noop").mode("overwrite").save()
        return (time.time() - t0, _steal_pct(st0, _steal_ticks()), canary)

    # best-of-3: the first runs pay JVM JIT warmup, and the sandbox host
    # oversubscribes vCPUs (nonzero steal time) so single samples are
    # unreliable; min-of-R reflects achievable steady-state throughput
    runs = [run_once() for _ in range(3)]
    wall, steal, canary = min(runs, key=lambda r: r[0])
    print(json.dumps({"cpus": cpus, "wall_sec": round(wall, 3),
                      "all_walls": [round(r[0], 3) for r in runs],
                      "all_steal_pct": [r[1] for r in runs],
                      "all_canary_gbps": [r[2] for r in runs],
                      "steal_pct": steal,
                      "canary_gbps": canary,
                      "n_docs": n_docs,
                      "docs_per_sec": round(n_docs / wall, 1)}))


def main() -> None:
    if "--child" in sys.argv:
        i = sys.argv.index("--child")
        child(int(sys.argv[i + 1]), sys.argv[i + 2], int(sys.argv[i + 3]))
        return

    args = dict(zip(sys.argv[1::2], sys.argv[2::2]))
    # default pair 4->16: the host oversubscribes 32 vCPUs to ~20-25
    # effective cores (see BASELINE.md), so 8->32 cannot show a 4x
    n = int(args.get("--n", "4"))
    fourn = int(args.get("--fourn", "16"))
    rounds = int(args.get("--rounds", "2"))
    sf_dir = args.get("--sf-dir", os.environ.get("SPARK_GRAFT_SF_DIR",
                                                 "/root/testdata/sf0.1"))
    results: dict[int, dict] = {}
    # interleave the levels across rounds and keep each level's best —
    # host-load drift then hits both levels symmetrically
    loadavgs: list[float] = []
    all_steals: list[float] = []  # EVERY child run, kept or discarded
    for _ in range(rounds):
        for cpus in (n, fourn):
            # 1-min loadavg just before launching the level: catches
            # IN-GUEST contention (other processes on this host) that
            # hypervisor steal cannot see. A clean sample needs BOTH
            # low steal and low ambient load.
            loadavgs.append(round(os.getloadavg()[0], 2))
            out = subprocess.run(
                [sys.executable, __file__, "--child", str(cpus), sf_dir,
                 str(REPLICATE)],
                capture_output=True, text=True, timeout=1200,
            )
            line = [ln for ln in out.stdout.splitlines()
                    if ln.startswith("{")][-1]
            res = json.loads(line)
            all_steals.extend(res["all_steal_pct"])
            if cpus not in results or res["docs_per_sec"] > results[cpus][
                "docs_per_sec"
            ]:
                results[cpus] = res

    tn = results[n]["docs_per_sec"]
    t4n = results[fourn]["docs_per_sec"]
    eff = round(t4n / ((fourn / n) * tn), 3)
    # classify the SAMPLE by ambient steal — the mean over EVERY timed
    # run of EVERY child (kept AND discarded rounds), not just the best
    # run's own reading: a best run can dodge the worst preemption
    # window while its siblings show 5-7% steal, and SMT contention
    # from the same noisy neighbor still degrades it; computing only
    # from the kept children would let a half-degraded sample stamp
    # itself clean. Empirically (r5 samples) ambient ≤1% tracks eff
    # ≥0.8; ambient >2% tracks the sub-0.8 outliers.
    ambient = round(sum(all_steals) / len(all_steals), 2)
    print(json.dumps({
        "metric": "scaling_efficiency",
        "n_cores": n, "fourn_cores": fourn,
        "throughput_n_docs_per_sec": tn,
        "throughput_4n_docs_per_sec": t4n,
        "efficiency": eff,
        "steal_pct_n": results[n]["steal_pct"],
        "steal_pct_4n": results[fourn]["steal_pct"],
        "ambient_steal_pct": ambient,
        "loadavg_before_levels": loadavgs,
        # only the FIRST reading is ambient: later ones include the
        # 1-min decay of this bench's own earlier children
        "ambient_load": loadavgs[0],
        "low_steal": ambient <= 2.0,
        "clean": ambient <= 2.0 and loadavgs[0] <= 1.0,
        "target": 0.8,
        "pass": eff >= 0.8,
        "detail": results,
    }))


if __name__ == "__main__":
    main()
