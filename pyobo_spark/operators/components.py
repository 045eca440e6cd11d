"""Connected components over the xref/equivalence graph — alternating
large-star / small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC 2014), expressed in pure DataFrame ops.

The reference keeps xrefs as pairwise edges only (struct_utils.py:800-818);
the north rule requires equivalence CLASSES, i.e. CC with a canonical
representative (min curie) per class.

Scale design: each round is two shuffles (groupBy node); the algorithm
converges in O(log^2 n) rounds on any graph and O(log n) in practice.
Hub-skew (a node with ~30% of edges — NCBITaxon-style) is absorbed by
(a) AQE skew-join splitting and (b) the large-star step itself, which
re-attaches a hub's neighbors directly to the minimum — the classic
pointer-halving that makes the star graphs shallow. localCheckpoint per
round cuts lineage.

Bounded graphs (the usual case: ontology xref graphs do not grow with
the corpus) skip the rounds: one capped collect brings the edges to the
driver, where graph_local's union-find solves them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import env_edge_bound, graph_local

#: Collect bound for the driver-side union-find fast path (same
#: reasoning — and same default — as hierarchy.BROADCAST_CLOSURE_MAX_
#: EDGES): ontology xref/equivalence graphs are bounded artifacts that
#: do not scale with the corpus, and the fuzzy-dedup candidate graph is
#: the (small) LSH-survivor set, not the corpus. The collect is two
#: Arrow string columns: with 12-character curies and 8-byte offsets,
#: 40 B per edge, 120 MB at the bound. A graph above the bound pays
#: that collect too (bound + 1 rows, then dropped) before the
#: alternating-star rounds below: about 3 s and 100 MB of driver
#: memory at the default bound on 4 cores.
CC_BROADCAST_MAX_EDGES = 3_000_000


def _cc_broadcast_bound() -> int:
    return env_edge_bound(
        "PYOBO_SPARK_CC_BROADCAST_MAX_EDGES", CC_BROADCAST_MAX_EDGES
    )


#: Diagnostics from the most recent connected_components() call in this
#: process: {"rounds": star-rounds run (incl. the final no-change round
#: that proves convergence), "edges_per_round": symmetric-edge count
#: after each round}. The fingerprint count is computed anyway for the
#: convergence test, so recording it costs nothing; used by the
#: convergence-evidence test (rounds ~ O(log diameter)) and SCALING.md.
LAST_CC_STATS: dict = {}


def _partitioned_dedup(df: DataFrame) -> DataFrame:
    """(src, dst) dedup CO-LOCATED by src: one explicit hash(src)
    exchange; the dedup aggregation, the per-node min aggregation and
    the star join downstream all reuse that partitioning
    (HashPartitioning(src) satisfies ClusteredDistribution(src, dst) —
    subset clustering), so each star round runs on a SINGLE exchange
    instead of the plain-distinct form's hash(src, dst) exchange
    followed by a re-shuffle to hash(src) for the groupBy and join
    (guide §2.4 "two operations keyed the same way can share one
    exchange"; measured ~1.5x on the 10x corpus)."""
    return df.repartition("src").dropDuplicates(["src", "dst"])


def _sym_dedup(df: DataFrame) -> DataFrame:
    """Symmetrize + dedup in a single src-clustered shuffle.

    Symmetrization is an EXPLODE of each row into its two directions,
    not a union of the subtree with its own reversal: the union form
    plans the star's aggregate+join subtree TWICE per half-round (one
    copy per union branch), doubling the per-round compute."""
    both = df.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    return _partitioned_dedup(both)


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u, connect every strictly-larger neighbor v (v>u by
    string order) to m = min(neighbors(u) ∪ {u})."""
    nbrs = e  # already symmetric: rows (u=src, v=dst)
    m = nbrs.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    big = nbrs.where(F.col("dst") > F.col("src")).alias("n").join(
        m.alias("m"), on="src"
    )
    # no distinct here: the caller symmetrizes and dedups in ONE shuffle
    return big.select(F.col("n.dst").alias("src"), F.col("m.m").alias("dst")).where(
        F.col("src") != F.col("dst")
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For each node u, connect every ≤-neighbor v (v<=u) to
    m = min(small-neighbors(u) ∪ {u})."""
    small = e.where(F.col("dst") <= F.col("src"))
    m = small.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    joined = small.join(m, on="src")
    out = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst")).unionByName(
        m.select(F.col("src"), F.col("m").alias("dst"))
    )
    # no distinct here: caller dedups after symmetrization
    return out.where(F.col("src") != F.col("dst"))


def _cc_local(spark, tbl) -> DataFrame:
    """Driver-side union-find over the collected (src, dst) Arrow table
    ``tbl``. Endpoints are dictionary-encoded in value order
    (graph_local.encode), so each component's minimum id IS its minimum
    curie in Spark's string order; min-label propagation
    (graph_local.min_labels) finds it, and the (curie, component)
    table goes back to Spark as Arrow, one row per node in curie order.
    Self-loops only make their node; an edge with a NULL endpoint
    still makes its other endpoint a node, and a NULL endpoint is one
    node, (NULL, NULL), as in the star rounds."""
    import pyarrow as pa

    names, u, v = graph_local.encode(tbl, sort=True)
    ok = (u >= 0) & (v >= 0) & (u != v)
    lab = graph_local.min_labels(len(names), u[ok], v[ok])
    curie, component = names, names.take(pa.array(lab))
    if (u < 0).any() or (v < 0).any():
        curie = pa.concat_arrays([curie, pa.nulls(1, curie.type)])
        component = pa.concat_arrays([component, pa.nulls(1, curie.type)])
    return spark.createDataFrame(
        pa.table({"curie": curie, "component": component})
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 30,
    broadcast_edge_bound: int | None = None,
) -> DataFrame:
    """Return (curie, component) where component = min curie of the
    class, in Spark's string order. One row per distinct endpoint.

    edges: DataFrame(src, dst) — direction irrelevant.

    Graphs whose RAW edge count (direction dupes and self-loops
    included, so the check never under-counts) fits
    ``broadcast_edge_bound`` (default CC_BROADCAST_MAX_EDGES,
    env-overridable via PYOBO_SPARK_CC_BROADCAST_MAX_EDGES; pass 0 to
    force the distributed rounds) are solved with ONE Spark job: a
    capped Arrow collect of the edges that is both the size gate and
    the input of a driver-side union-find (:func:`_cc_local`); the
    result is a driver-built DataFrame. Larger graphs, once that
    collect has shown them to be larger, run the alternating
    large-star/small-star rounds.
    """
    bound = (
        _cc_broadcast_bound()
        if broadcast_edge_bound is None
        else broadcast_edge_bound
    )
    tbl = graph_local.collect_bounded(edges.select("src", "dst"), bound)
    if tbl is not None:
        LAST_CC_STATS.clear()
        LAST_CC_STATS["rounds"] = 0
        LAST_CC_STATS["edges_per_round"] = []
        LAST_CC_STATS["mode"] = "broadcast"
        return _cc_local(edges.sparkSession, tbl)
    nodes = (
        edges.select(F.col("src").alias("curie"))
        .unionByName(edges.select(F.col("dst").alias("curie")))
        .distinct()
    )
    # lazy: the prev_fp fingerprint below is the first consumer and
    # materializes the checkpoint inside its own job (r7 A/B: one job
    # per round saved vs eager, ~5-8% per round at both scales in the
    # src-clustered round structure)
    e = _sym_dedup(edges.where(F.col("src") != F.col("dst"))).localCheckpoint(
        eager=False
    )

    def _fingerprint(df: DataFrame) -> tuple[int, int]:
        """Cheap set fingerprint: (count, XOR of row hashes). One job
        instead of two exceptAll scans per round; XOR is overflow-free
        (ANSI-safe) and exact for sets (each round's edges are distinct);
        collision on a CHANGED set is ~2^-64 per round."""
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    LAST_CC_STATS.clear()
    LAST_CC_STATS["rounds"] = 0
    LAST_CC_STATS["edges_per_round"] = []
    LAST_CC_STATS["mode"] = "stars"
    prev_fp = _fingerprint(e)
    for _ in range(max_iter):
        # one explicit hash(src) repartition per round: the checkpoint
        # below forgets e's physical layout, and re-establishing it
        # here lets BOTH stars' groupBy+join run exchange-free on the
        # shared partitioning (3 exchanges/round total vs 6 for the
        # plain-distinct form)
        ep = e.repartition("src")
        e2 = _sym_dedup(_large_star(ep))
        # lazy (r7 — reverses the r6 eager finding, which was measured
        # on the old round structure): the fingerprint is the first
        # consumer and materializes the checkpoint in-job, saving the
        # dedicated materialization job each round (A/B: 7.7->7.1 s at
        # sf1.0, 9.5->9.2 s at 10x).
        e3 = _sym_dedup(_small_star(e2)).localCheckpoint(eager=False)
        fp = _fingerprint(e3)
        e = e3
        LAST_CC_STATS["rounds"] += 1
        LAST_CC_STATS["edges_per_round"].append(fp[0])
        if fp == prev_fp:
            break
        prev_fp = fp

    # after convergence the symmetric edge set is a union of stars:
    # component(u) = min(u, min(neighbors(u)))
    comp = e.groupBy("src").agg(F.min("dst").alias("nbr_min"))
    comp = comp.select(
        F.col("src").alias("curie"),
        F.least(F.col("src"), F.col("nbr_min")).alias("component"),
    )
    # isolated nodes (no edges after self-loop removal) map to themselves
    iso = nodes.join(comp.select("curie"), on="curie", how="left_anti").select(
        F.col("curie"), F.col("curie").alias("component")
    )
    return comp.unionByName(iso)
