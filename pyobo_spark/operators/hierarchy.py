"""Hierarchy (graph) operators — the reference's "recursive queries"
(SURVEY.md §2.6; reference: nx.DiGraph built at struct.py:1498-1519,
ancestors/descendants via nx traversal struct.py:1473-1496,
api/hierarchy.py:140-227).

The hierarchy is an edge DataFrame (child, parent). Two kinds of
question are asked of it, and each has its own operator:

- **Rooted** — the ancestors or descendants of one or a few nodes
  (get_ancestors, get_descendants, has_ancestor, subhierarchy; the
  reference walks outward from the node, api/hierarchy.py:205-214).
  :func:`reachable` answers these. For bounded graphs (raw edge count
  ≤ BROADCAST_CLOSURE_MAX_EDGES, overridable via
  $PYOBO_SPARK_BFS_BROADCAST_MAX_EDGES) it runs ONE capped Arrow
  collect of the edges — that collect is both the size gate and the
  input — and sweeps outward from each root over a driver-side CSR
  adjacency. Above the bound it falls back to the all-pairs closure
  below, filtered to the roots. ``OntologyCatalog`` keeps the same
  encoded graph (:class:`graph_local.Digraph`) per prefix and sweeps it
  again on every lookup, with the same semantics.
- **All-pairs** — the full closure, (identifier, ancestor) for every
  node: :func:`ancestors` / :func:`descendants`. Bounded graphs take a
  broadcast map-side closure (_ancestors_broadcast); larger ones an
  iterative frontier self-join (BFS). Each BFS iteration
  localCheckpoints to cut lineage (otherwise the plan doubles per hop
  and Catalyst analysis time blows up). Edge tables are re-used across
  iterations, so on a cluster you'd persist the
  (hash-partitioned-by-child) edges once and every join co-locates on
  that partitioning — one shuffle total for the whole closure, not one
  per hop. Depth is O(DAG depth), ~5 for the fixture tree, ~15 for
  real ontologies (GO max depth ≈ 16).

Every path has the same semantics: a per-node level BFS with a
seen-set, at most ``max_iter + 1`` levels deep. Duplicate edges and
self-loops are absorbed; a node is its own ancestor only when a cycle
leads back to it; a node with no outgoing edge has none.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import env_edge_bound, graph_local

#: Diagnostics from the most recent ancestors()/descendants() BFS in this
#: process: {"hops": iterations run, "hop_plan": formatted plan of the
#: per-hop edge side, present only under BFS_CAPTURE_PLAN}. Written for
#: the plan-shape regression guards in
#: tests/test_plans.py (shuffle work must stay linear in measured depth,
#: and the hop side must serve from the persisted edges, i.e. the edge
#: source is scanned once for the whole closure, not once per hop).
#: The hop plan must be captured WHILE the edges are persisted (after
#: ancestors() unpersists, the same DataFrame re-resolves to the raw
#: source), but formatting a plan is a py4j round-trip the production
#: path should not pay — so capture is opt-in via BFS_CAPTURE_PLAN.
#: Module-global, so concurrent closures in one process clobber each
#: other's stats: diagnostics only, never control flow.
LAST_BFS_STATS: dict = {}
BFS_CAPTURE_PLAN: bool = False  # tests set True to snapshot hop_plan


def hierarchy_edges(
    parents: DataFrame,
    relations: DataFrame,
    prefix: str,
    include: tuple[tuple[str, str], ...] = (("BFO", "0000050"),),
    include_reversed: tuple[tuple[str, str], ...] = (),
) -> DataFrame:
    """get_hierarchy's edge set (api/hierarchy.py:43-125): is_a edges ∪
    selected relation predicates (child→parent direction) ∪ REVERSED
    predicates (e.g. has_part reversed to part-of direction, has_member
    reversed to member_of). Returns (child_curie, parent_curie,
    predicate_curie)."""
    isa = parents.where(F.col("child_prefix") == prefix).select(
        F.concat("child_prefix", F.lit(":"), "child").alias("child_curie"),
        F.concat("parent_prefix", F.lit(":"), "parent").alias("parent_curie"),
        F.lit("rdfs:subClassOf").alias("predicate_curie"),
    )
    # ONE relations scan for all predicate legs (a union of per-predicate
    # filters re-reads the relations source once per leg — measured as
    # the dominant cost of this operator at sf0.1): filter to the union
    # of included predicates, then flip child/parent per-row for the
    # reversed set. Catalyst pushes the IN-filter to the scan.
    fwd_keys = {f"{rp}:{ri}" for rp, ri in include}
    rev_keys = {f"{rp}:{ri}" for rp, ri in include_reversed}
    all_keys = sorted(fwd_keys | rev_keys)
    out = isa
    if all_keys:
        pred = F.concat("relation_prefix", F.lit(":"), "relation_id")
        subj = F.concat("prefix", F.lit(":"), "identifier")
        obj = F.concat("target_prefix", F.lit(":"), "target_id")
        is_rev = pred.isin(sorted(rev_keys - fwd_keys))
        legs = relations.where(pred.isin(all_keys)).select(
            F.when(is_rev, obj).otherwise(subj).alias("child_curie"),
            F.when(is_rev, subj).otherwise(obj).alias("parent_curie"),
            F.when(is_rev, F.concat(pred, F.lit("^-1")))
            .otherwise(pred)
            .alias("predicate_curie"),
        )
        out = out.unionByName(legs)
        # a predicate in BOTH sets contributes its reversed leg too
        both = sorted(fwd_keys & rev_keys)
        if both:
            extra = relations.where(pred.isin(both)).select(
                obj.alias("child_curie"),
                subj.alias("parent_curie"),
                F.concat(pred, F.lit("^-1")).alias("predicate_curie"),
            )
            out = out.unionByName(extra)
    return out.distinct()


def curie_edges(parents: DataFrame, prefix: str | None = None) -> DataFrame:
    """Collision-proof (child, parent) edge keys: full CURIEs built from
    the prefixed parents schema. In a multi-ontology catalog bare numeric
    locals collide across ontologies; the reference avoids this by keying
    its hierarchy graph on Reference objects (api/hierarchy.py:43-125).
    `prefix` restricts to edges whose child belongs to that ontology
    (foreign parents stay as leaves, as in the reference's per-prefix
    graph)."""
    e = parents if prefix is None else parents.where(
        F.col("child_prefix") == prefix
    )
    return e.select(
        F.concat("child_prefix", F.lit(":"), "child").alias("child"),
        F.concat("parent_prefix", F.lit(":"), "parent").alias("parent"),
    )


#: Edge-count bound for the broadcast-closure fast path (overridable via
#: $PYOBO_SPARK_BFS_BROADCAST_MAX_EDGES). Ontology hierarchies are
#: BOUNDED artifacts that do not scale with the document corpus (GO ~5e5
#: edges; NCBITaxon, the largest OBO ontology, ~2.6e6): at 100 TB the
#: corpus grows, the ontology does not — the same reasoning as the
#: grounding dictionary's documented collect bound (dictionary.py). The
#: CSR adjacency for 3e6 edges broadcasts at ~50 MB pickled / ~300 MB
#: resident per Python worker; above the bound ancestors() falls back to
#: the distributed frontier BFS unchanged. reachable() uses the same
#: bound as its driver-side collect gate.
BROADCAST_CLOSURE_MAX_EDGES = 3_000_000


def _broadcast_bound() -> int:
    return env_edge_bound(
        "PYOBO_SPARK_BFS_BROADCAST_MAX_EDGES", BROADCAST_CLOSURE_MAX_EDGES
    )


def _ancestors_broadcast(
    edges: DataFrame, max_iter: int
) -> DataFrame:
    """Map-side transitive closure: ship the (bounded, see
    BROADCAST_CLOSURE_MAX_EDGES) edge set to every worker as a CSR
    adjacency over integer node ids and compute each node's ancestor
    set locally — a constant number of jobs, vs O(depth) shuffles of
    the GROWING closure for the frontier BFS (guide §1.2: fix the
    distributed algorithm first; only the closure output itself must be
    materialized, so the theoretical plan is one pass over the nodes).

    Strings never cross the Python driver boundary (measured: a
    string-keyed variant spent ~25 s at 10x in driver collect /
    np.unique / pickle-broadcast of 2M node strings): node ids are JVM
    surrogate ids (monotonically_increasing_id pinned by an eager
    localCheckpoint — the expression is plan-position dependent and
    must never be recomputed), the driver sees only int64 edge pairs,
    the Python broadcast is a numeric CSR, and id→string translation
    is a JVM broadcast hash join at both ends.

    Exact same result set as the frontier BFS: per-node level-BFS with
    a seen-set (cycles terminate, a node reached around a cycle is its
    own ancestor), capped at max_iter + 1 levels — the frontier form's
    closure after max_iter join rounds likewise holds min-distances up
    to max_iter + 1."""
    import numpy as np
    import pandas as pd

    spark = edges.sparkSession
    nodes = (
        edges.select(F.col("child").alias("node"))
        .unionByName(edges.select(F.col("parent").alias("node")))
        .distinct()
        .withColumn("gid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    cn = nodes.select(F.col("node").alias("_cn"), F.col("gid").alias("cgid"))
    pn = nodes.select(F.col("node").alias("_pn"), F.col("gid").alias("pgid"))
    e_idx = (
        edges.join(F.broadcast(cn), edges.child == cn._cn)
        .join(F.broadcast(pn), edges.parent == pn._pn)
        .select("cgid", "pgid")
    )
    pdf = e_idx.toPandas()  # bounded ints: caller checked the edge count
    cg = pdf["cgid"].to_numpy(dtype=np.int64)
    pg = pdf["pgid"].to_numpy(dtype=np.int64)
    uniq = np.unique(np.concatenate([cg, pg]))  # sorted gids → dense ids
    c_idx = np.searchsorted(uniq, cg)
    p_idx = np.searchsorted(uniq, pg).astype(np.int32)
    order = np.argsort(c_idx, kind="stable")
    nbrs = p_idx[order]
    counts = np.bincount(c_idx[order], minlength=len(uniq))
    indptr = np.concatenate([[0], np.cumsum(counts)]).astype(np.int64)
    bc = spark.sparkContext.broadcast((uniq, indptr, nbrs))
    levels = max_iter + 1

    def run(batches):
        gids, iptr, nb = bc.value
        for b in batches:
            dense = np.searchsorted(gids, b["gid"].to_numpy(dtype=np.int64))
            out_id: list = []
            out_anc: list = []
            for node, i0 in zip(b["node"].tolist(), dense.tolist()):
                if iptr[i0] == iptr[i0 + 1]:
                    continue  # parent-only node: no outgoing edges
                seen: set[int] = set()
                frontier = [i0]
                for _ in range(levels):
                    nxt: list[int] = []
                    for u in frontier:
                        for v in nb[iptr[u]:iptr[u + 1]].tolist():
                            if v not in seen:
                                seen.add(v)
                                nxt.append(v)
                    if not nxt:
                        break
                    frontier = nxt
                out_id.extend([node] * len(seen))
                out_anc.extend(gids[list(seen)].tolist())
            yield pd.DataFrame(
                {
                    "identifier": pd.Series(out_id, dtype=object),
                    "_anc_gid": pd.Series(out_anc, dtype="int64"),
                }
            )

    closure_idx = nodes.mapInPandas(
        run, schema="identifier string, _anc_gid long"
    )
    an = nodes.select(F.col("node").alias("ancestor"), F.col("gid"))
    return closure_idx.join(
        F.broadcast(an), closure_idx._anc_gid == an.gid
    ).select("identifier", "ancestor")


def ancestors(
    edges: DataFrame,
    max_iter: int = 50,
    broadcast_edge_bound: int | None = None,
) -> DataFrame:
    """Full transitive closure upward: (identifier, ancestor) for every
    node with ≥1 edge. Broadcast map-side closure for bounded ontology
    graphs (the default production case — see _ancestors_broadcast);
    distributed frontier BFS over (child, parent) edges beyond the
    bound (``broadcast_edge_bound``, default
    BROADCAST_CLOSURE_MAX_EDGES; pass 0 to force the BFS).

    Semantics match nx.descendants on the reference's child→parent graph
    (struct.py:1473-1476): the node itself is NOT included.
    """
    edges = edges.select("child", "parent")
    bound = (
        _broadcast_bound()
        if broadcast_edge_bound is None
        else broadcast_edge_bound
    )
    if bound > 0 and edges.count() <= bound:
        # broadcast path works on the RAW edge rows: the kernel's
        # seen-set absorbs duplicate edges, so the up-front distinct —
        # a full shuffle of the string pairs — is pure overhead here
        # (the count above is a scan-only job; the raw count
        # over-estimates the distinct edge count, which only makes the
        # bound more conservative)
        LAST_BFS_STATS.clear()
        LAST_BFS_STATS["mode"] = "broadcast"
        return _ancestors_broadcast(edges, max_iter)
    edges = edges.distinct()
    edges.persist()
    edges.count()  # materialize once; reused every iteration
    hop = edges.select(
        F.col("child").alias("_hop_child"), F.col("parent").alias("_hop_parent")
    )
    closure = edges.select(
        F.col("child").alias("identifier"), F.col("parent").alias("ancestor")
    )
    LAST_BFS_STATS.clear()
    LAST_BFS_STATS["mode"] = "bfs"
    LAST_BFS_STATS["hops"] = 0
    if BFS_CAPTURE_PLAN:
        LAST_BFS_STATS["hop_plan"] = hop._jdf.queryExecution().explainString(
            hop.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")
        )
    frontier = closure
    for _ in range(max_iter):
        LAST_BFS_STATS["hops"] += 1
        # extend the frontier one hop: (id → anc) ⋈ (anc=child → parent)
        nxt = (
            frontier.join(
                hop, on=frontier.ancestor == hop._hop_child, how="inner"
            )
            .select(
                F.col("identifier"), F.col("_hop_parent").alias("ancestor")
            )
            .distinct()
            # anti-join to keep only genuinely new pairs → convergence test
            .join(closure, on=["identifier", "ancestor"], how="left_anti")
        )
        nxt = nxt.localCheckpoint(eager=True)  # cut lineage per hop
        if nxt.isEmpty():
            break
        # LAZY checkpoint: next hop's anti-join is the first consumer
        # and materializes the cache inside its own job, so the closure
        # consolidates to one cached blob per hop WITHOUT a dedicated
        # materialization job. Interleaved A-B at 10x scale: lazy is
        # tied-to-slightly-better than eager (the saved job is small vs
        # the hop joins), while NO checkpoint at all is clearly WORSE —
        # the anti-join side becomes a union of k cached hop pieces,
        # k x partitions task launches per hop.
        closure = closure.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt
    closure = closure.localCheckpoint(eager=True)
    edges.unpersist()
    return closure


def descendants(
    edges: DataFrame,
    max_iter: int = 50,
    broadcast_edge_bound: int | None = None,
) -> DataFrame:
    """Downward closure: (identifier, descendant). Same closure with the
    edge direction reversed (struct.py:1478-1481)."""
    rev = edges.select(
        F.col("parent").alias("child"), F.col("child").alias("parent")
    )
    out = ancestors(
        rev, max_iter=max_iter, broadcast_edge_bound=broadcast_edge_bound
    )
    return out.select(
        F.col("identifier"), F.col("ancestor").alias("descendant")
    )


def reachable(
    edges: DataFrame,
    roots: list[str],
    max_iter: int = 50,
    broadcast_edge_bound: int | None = None,
    down: bool = False,
) -> dict[str, set[str]]:
    """Rooted closure: {root: nodes reachable from root} for each of a
    few ``roots``, following child → parent (ancestors), or parent →
    child with ``down=True`` (descendants). Equals :func:`ancestors` /
    :func:`descendants` filtered to the roots, with the same semantics:
    at most ``max_iter + 1`` levels; a root is in its own set only when
    a cycle leads back to it; a root with no outgoing edge, or not in
    the graph, maps to an empty set.

    Graphs whose raw edge count fits ``broadcast_edge_bound`` (default
    BROADCAST_CLOSURE_MAX_EDGES; pass 0 to force the fallback) are
    answered with ONE Spark job: a capped Arrow collect that is both
    the size gate and the input of a driver-side sweep
    (:class:`graph_local.Digraph`).
    Larger graphs fall back to the all-pairs closure, filtered to the
    roots."""
    roots = list(dict.fromkeys(roots))
    if not roots:
        return {}
    bound = (
        _broadcast_bound()
        if broadcast_edge_bound is None
        else broadcast_edge_bound
    )
    tbl = graph_local.collect_bounded(edges.select("child", "parent"), bound)
    if tbl is not None:
        g = graph_local.Digraph(tbl)
        hits = g.sweep(g.node_ids(roots), max_iter + 1, reverse=down)
        return dict(zip(roots, hits))
    # over the bound: the capped collect already proved it, so skip the
    # closure's own count and go straight to the distributed BFS
    closure, col = (
        (descendants, "descendant") if down else (ancestors, "ancestor")
    )
    out: dict[str, set[str]] = {r: set() for r in roots}
    for r in (
        closure(edges, max_iter=max_iter, broadcast_edge_bound=0)
        .where(F.col("identifier").isin(roots))
        .collect()
    ):
        out[r["identifier"]].add(r[col])
    return out


def node_frame(spark, nodes: set[str], col: str) -> DataFrame:
    """A small one-column DataFrame of ``nodes`` (for a semi-join)."""
    return spark.createDataFrame(
        [(n,) for n in sorted(nodes)],
        T.StructType([T.StructField(col, T.StringType())]),
    )


def children(edges: DataFrame, node: str) -> DataFrame:
    """1-hop predecessors (get_children, api/hierarchy.py:140-149)."""
    return edges.where(F.col("parent") == node).select(
        F.col("child").alias("identifier")
    )


def has_ancestor(edges: DataFrame, nodes: DataFrame, ancestor: str) -> DataFrame:
    """Membership in the upward closure (struct.py:1483-1496): the nodes
    with ``ancestor`` among their ancestors are exactly its descendants,
    so sweep down from it (reachable) and semi-join nodes against that
    set."""
    below = reachable(edges, [ancestor], down=True)[ancestor]
    return nodes.join(
        node_frame(nodes.sparkSession, below, "identifier"),
        on="identifier",
        how="left_semi",
    )


def subhierarchy(edges: DataFrame, root: str) -> DataFrame:
    """Induced subgraph of descendants(root) ∪ {root}
    (api/hierarchy.py:216-227): rooted sweep → semi-join both edge
    endpoints."""
    members = reachable(edges, [root], down=True)[root] | {root}
    m = node_frame(edges.sparkSession, members, "node")
    e = edges.join(
        m.withColumnRenamed("node", "child"), on="child", how="left_semi"
    ).join(
        m.withColumnRenamed("node", "parent"), on="parent", how="left_semi"
    )
    return e.select("child", "parent")


def hierarchy_nodes(
    terms: DataFrame,
    properties: DataFrame,
    prefix: str,
    property_predicates: tuple[str, ...] = (),
) -> DataFrame:
    """get_hierarchy's node set with literal property values attached
    (api/hierarchy.py:106-109: `rv.nodes[s][p] = op.value` for selected
    property predicates — e.g. SMILES strings on the ChEBI tree).

    Relational encoding of the nx node-attribute dict: one row per
    (node, predicate, value); nodes without any selected property keep a
    single row with NULL predicate/value (they are still graph nodes,
    api/hierarchy.py:99 add_nodes_from). Plan: property side is filtered
    BEFORE the join (predicate pushdown under the shuffle), join key is
    the node curie."""
    nodes = terms.where(F.col("prefix") == prefix).select(
        F.concat("prefix", F.lit(":"), "identifier").alias("node_curie")
    )
    props = properties.where(
        F.col("predicate_curie").isin(list(property_predicates))
    ).select(
        F.col("source_curie").alias("node_curie"),
        "predicate_curie",
        "value",
    )
    return nodes.join(props, on="node_curie", how="left")
