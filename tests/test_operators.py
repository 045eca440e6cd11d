"""Unit tests for operators not covered by the oracle-parity suite:
hierarchy helpers, pipeline checkpoint/resume."""

from __future__ import annotations

import pytest

from pyobo_spark.operators import hierarchy


def test_descendants_and_subhierarchy(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "a"), ("d", "b"), ("e", "d")],
        "child string, parent string",
    )
    desc = {
        (r["identifier"], r["descendant"])
        for r in hierarchy.descendants(edges).collect()
    }
    assert ("a", "e") in desc and ("b", "e") in desc and ("a", "c") in desc
    sub = {
        (r["child"], r["parent"])
        for r in hierarchy.subhierarchy(edges, "b").collect()
    }
    assert sub == {("d", "b"), ("e", "d")}
    anc = {
        (r["identifier"], r["ancestor"])
        for r in hierarchy.ancestors(edges).collect()
    }
    assert ("e", "a") in anc


def test_closure_broadcast_matches_bfs(spark):
    """r7: bounded graphs take the broadcast map-side closure by
    default; it must produce EXACTLY the distributed frontier BFS's
    result set — including diamond fan-in (one row per pair, not per
    path) and cycles (a node reached around a cycle is its own
    ancestor)."""
    edges = spark.createDataFrame(
        [
            ("b", "a"), ("c", "a"), ("d", "b"), ("d", "c"), ("e", "d"),
            ("x", "y"), ("y", "z"), ("z", "x"),  # 3-cycle
        ],
        "child string, parent string",
    )
    fast_df = hierarchy.ancestors(edges)
    fast_rows = fast_df.collect()
    assert hierarchy.LAST_BFS_STATS.get("mode") == "broadcast"
    slow_rows = hierarchy.ancestors(edges, broadcast_edge_bound=0).collect()
    assert hierarchy.LAST_BFS_STATS.get("mode") == "bfs"
    fast = {(r["identifier"], r["ancestor"]) for r in fast_rows}
    slow = {(r["identifier"], r["ancestor"]) for r in slow_rows}
    assert fast == slow
    # exact-set semantics: no duplicate pairs from the diamond's two paths
    assert len(fast_rows) == len(fast)
    assert ("x", "x") in fast  # cycle: self-reachable
    assert ("d", "a") in fast


@pytest.mark.parametrize("raw", ["3e6", "-5"])
def test_bfs_bound_env_malformed_falls_back(spark, monkeypatch, raw):
    """A malformed or negative $PYOBO_SPARK_BFS_BROADCAST_MAX_EDGES
    warns and uses the default bound; the query still answers."""
    monkeypatch.setenv("PYOBO_SPARK_BFS_BROADCAST_MAX_EDGES", raw)
    with pytest.warns(UserWarning, match="PYOBO_SPARK_BFS_BROADCAST"):
        assert (
            hierarchy._broadcast_bound()
            == hierarchy.BROADCAST_CLOSURE_MAX_EDGES
        )
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b")], "child string, parent string"
    )
    with pytest.warns(UserWarning):
        assert hierarchy.reachable(edges, ["c"]) == {"c": {"a", "b"}}


@pytest.mark.parametrize("raw", ["many", "-1"])
def test_cc_bound_env_malformed_falls_back(spark, monkeypatch, raw):
    """Same for $PYOBO_SPARK_CC_BROADCAST_MAX_EDGES."""
    from pyobo_spark.operators import components as C

    monkeypatch.setenv("PYOBO_SPARK_CC_BROADCAST_MAX_EDGES", raw)
    with pytest.warns(UserWarning, match="PYOBO_SPARK_CC_BROADCAST"):
        assert C._cc_broadcast_bound() == C.CC_BROADCAST_MAX_EDGES
    df = spark.createDataFrame([("a", "b"), ("c", "b")], "src string, dst string")
    with pytest.warns(UserWarning):
        got = {
            (r["curie"], r["component"])
            for r in C.connected_components(df).collect()
        }
    assert got == {("a", "a"), ("b", "a"), ("c", "a")}


def test_env_edge_bound_accepts_zero_and_unset(monkeypatch):
    from pyobo_spark.operators import env_edge_bound

    monkeypatch.delenv("PYOBO_SPARK_BFS_BROADCAST_MAX_EDGES", raising=False)
    assert env_edge_bound("PYOBO_SPARK_BFS_BROADCAST_MAX_EDGES", 7) == 7
    monkeypatch.setenv("PYOBO_SPARK_BFS_BROADCAST_MAX_EDGES", "0")
    assert env_edge_bound("PYOBO_SPARK_BFS_BROADCAST_MAX_EDGES", 7) == 0


def test_connected_components_path_graph(spark):
    """Worst case for star-contraction: a single long path. Must converge
    to one component with the lexicographic-min representative."""
    from pyobo_spark.operators.components import connected_components

    n = 64
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n - 1)],
        "src string, dst string",
    )
    got = {
        (r["curie"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert got == {(f"n{i:03d}", "n000") for i in range(n)}


def test_write_partitioned_layout(spark, tmp_path):
    """Partitioned artifact: hive-style dirs per prefix, rows sorted
    within partitions."""
    from pyobo_spark.pipeline.stages import PipelineRunner

    df = spark.createDataFrame(
        [("bbb", "002"), ("aaa", "003"), ("aaa", "001"), ("bbb", "001")],
        "prefix string, identifier string",
    )
    r = PipelineRunner(spark, str(tmp_path))
    out = r.write_partitioned(df, "names")
    import os

    dirs = sorted(d for d in os.listdir(out) if d.startswith("prefix="))
    assert dirs == ["prefix=aaa", "prefix=bbb"]
    back = spark.read.parquet(out)
    aaa = [
        r2["identifier"]
        for r2 in back.where("prefix = 'aaa'").collect()
    ]
    assert sorted(aaa) == ["001", "003"]
    # within-file order is sorted (single file per partition here)
    import pyarrow.parquet as pq

    part_dir = os.path.join(out, "prefix=aaa")
    files = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
    vals = []
    for f in sorted(files):
        vals.extend(
            pq.read_table(os.path.join(part_dir, f)).column("identifier").to_pylist()
        )
    assert vals == sorted(vals)


def test_pipeline_checkpoint_resume(spark, tmp_path):
    from pyobo_spark.pipeline.stages import PipelineRunner

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(5).withColumnRenamed("id", "prefix")

    r1 = PipelineRunner(spark, str(tmp_path))
    df = r1.stage("s1", build, counter_cols=("prefix",))
    assert df.count() == 5 and calls["n"] == 1
    # second runner resumes from the manifest — build NOT re-invoked
    r2 = PipelineRunner(spark, str(tmp_path))
    df2 = r2.stage("s1", build)
    assert df2.count() == 5 and calls["n"] == 1
    assert r2.results[0].skipped
    # force re-runs
    r3 = PipelineRunner(spark, str(tmp_path), force=True)
    r3.stage("s1", build)
    assert calls["n"] == 2


def test_cc_convergence_rounds_on_power_law_graph(spark):
    """VERDICT r04 #6 — empirical O(log n) convergence evidence at 10×
    the in-window CC fixture (sf0.01 cc_edges = 1,525; here 16,048):
    a power-law hub owning ~30% of edges, a length-2048 path (the
    diameter driver), and 300 random clusters. The alternating
    large-star/small-star rounds must be ≤ log2(diameter)+3 — pointer
    halving, NOT diameter-linear propagation — the per-round symmetric
    edge count must never blow past ~2× the input (star-contraction
    keeps intermediate state bounded), and the components must equal a
    driver-side union-find ground truth."""
    import math
    import random

    from pyobo_spark.operators import components as C

    rng = random.Random(7)
    edges = [("hub:000000", f"hub:{i:06d}") for i in range(1, 5001)]
    path_len = 2048
    edges += [(f"path:{i:05d}", f"path:{i+1:05d}") for i in range(path_len)]
    for c in range(300):
        nodes = [f"r{c:03d}:{i:03d}" for i in range(30)]
        edges += [(rng.choice(nodes), rng.choice(nodes)) for _ in range(30)]

    # driver-side union-find ground truth (16k edges: trivially cheap)
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        parent[find(s)] = find(d)
    truth = {}
    for node in list(parent):
        truth.setdefault(find(node), set()).add(node)
    expected_n_components = len(truth)

    df = spark.createDataFrame(edges, "src string, dst string")
    # broadcast_edge_bound=0 forces the distributed star rounds — this
    # test pins THEIR convergence behavior; the r7 driver-side
    # union-find fast path is pinned against the same fixture below
    out = C.connected_components(df, broadcast_edge_bound=0).collect()
    got = {}
    for r in out:
        got.setdefault(r["component"], set()).add(r["curie"])
    assert len(got) == expected_n_components
    assert {frozenset(v) for v in got.values()} == {
        frozenset(v) for v in truth.values()
    }
    # every representative is its class minimum
    assert all(k == min(v) for k, v in got.items())

    rounds = C.LAST_CC_STATS["rounds"]
    per_round = C.LAST_CC_STATS["edges_per_round"]
    assert rounds <= math.ceil(math.log2(path_len)) + 3, (rounds, per_round)
    assert max(per_round) <= 2.5 * len(edges), per_round
    assert C.LAST_CC_STATS["mode"] == "stars"

    # r7 fast path: the driver-side union-find (in-bound graphs) must
    # produce the IDENTICAL (curie, component) row set on the same
    # adversarial fixture — hub skew, a diameter-2048 path (deep label
    # chains), random clusters with duplicate and self-loop edges
    out_b = C.connected_components(df).collect()
    assert C.LAST_CC_STATS["mode"] == "broadcast"
    assert sorted((r["curie"], r["component"]) for r in out_b) == sorted(
        (r["curie"], r["component"]) for r in out
    )


def test_bench10x_fingerprint_invalidates_stale_corpus(tmp_path):
    """is_built must reject a corpus whose recorded source fingerprint
    no longer matches the source files (r06 review — basename-keyed
    cache reuse after the source is regenerated)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    import make_bench10x as MB

    src = tmp_path / "sf-src"
    src.mkdir()
    (src / "documents.parquet").mkdir()
    (src / "documents.parquet" / "part-0.parquet").write_bytes(b"v1")
    out = tmp_path / "out"
    out.mkdir()
    for t in MB.TABLES:
        d = out / f"{t}.parquet"
        d.mkdir()
        (d / "_SUCCESS").write_bytes(b"")
    # no fingerprint marker yet -> not built (when source is supplied)
    assert MB.is_built(str(out)) is True  # legacy shape-only check
    assert MB.is_built(str(out), str(src)) is False
    (out / "_SOURCE_FINGERPRINT").write_text(MB.source_fingerprint(str(src)))
    assert MB.is_built(str(out), str(src)) is True
    # regenerate the source -> fingerprint mismatch -> rebuild required
    os.utime(src / "documents.parquet" / "part-0.parquet", (1, 1))
    assert MB.is_built(str(out), str(src)) is False
