"""Physical-plan regression guards — the scale properties the engine
promises must survive refactors:
- mention detection is map-only (zero Exchange),
- export scans push filters and prune columns,
- dim joins broadcast (no sort-merge join on the alt-upgrade path).
"""

from __future__ import annotations

import pytest

from pyobo_spark import queries as Q
from pyobo_spark.fixtures.generator import _label


def _formatted_plan(df):
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_mention_detection_is_map_only(spark):
    from pyobo_spark.fixtures import generator
    from pyobo_spark.grounding import dictionary, matcher

    tables = generator.to_spark(spark, generator.generate(n_terms=5, n_docs=5))
    bc = spark.sparkContext.broadcast(
        dictionary.build_matcher([("x", "a:1", "rdfs:label")])
    )
    plan = _formatted_plan(matcher.detect_mentions(tables["documents"], bc))
    assert "Exchange" not in plan


def test_names_scan_pushes_filter_and_prunes(spark, sf_dir):
    plan = _formatted_plan(Q.QUERIES["names"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(p_name)]" in plan
    assert "ReadSchema: struct<p_partkey:bigint,p_name:string>" in plan


def test_alt_upgrade_broadcasts(spark, sf_dir):
    plan = _formatted_plan(Q.QUERIES["alt_upgrade"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_typedef_filter_is_broadcast_semi(spark, sf_dir):
    plan = _formatted_plan(Q.QUERIES["relations_typedef_filtered"](spark, sf_dir))
    assert "BroadcastHashJoin LeftSemi" in plan


def test_hierarchy_edges_single_relations_scan(spark, sf_dir):
    """hierarchy_edges must read the relations source ONCE for all
    predicate legs (forward + reversed), not once per leg — at corpus
    scale the repeated scans dominated the operator's cost."""
    plan = _formatted_plan(Q.QUERIES["hierarchy_edges"](spark, sf_dir))
    # fixture relations derive from lineitem; the parents leg scans part
    n_lineitem_scans = plan.count("lineitem.parquet")
    assert n_lineitem_scans <= 2, plan  # forward/reverse split allowed


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Same-bucketed tables join with ZERO Exchange (the co-located-join
    strategy for repeated corpus-plane joins at 100 TB)."""
    from pyobo_spark.operators import bucketing

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    stats = docs.selectExpr("doc_id", "length(text) AS n_chars")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at test scale the planner would broadcast the small side and
        # skip bucketing entirely; disable broadcast to exercise the
        # co-located SortMergeJoin path that matters at corpus scale
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bucketing.write_bucketed(docs, "b_docs", ("doc_id",), n_buckets=4)
        bucketing.write_bucketed(stats, "b_stats", ("doc_id",), n_buckets=4)
        joined = bucketing.bucketed_join(
            spark, "b_docs", "b_stats", on=["doc_id"]
        )
        plan = _formatted_plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert joined.count() == docs.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS b_docs")
        spark.sql("DROP TABLE IF EXISTS b_stats")


def test_serialization_sinks_are_map_only(spark):
    """SKOS / OBO-Graph / OFN / term-embedding exports promise a
    scan→project→union plan with ZERO Exchange — the property that lets
    them stream an ncbigene-sized ontology without a shuffle."""
    from pyobo_spark.fixtures import generator
    from pyobo_spark.operators import embeddings as E
    from pyobo_spark.operators import ofn_writer, rdf_writers

    t = generator.to_spark(spark, generator.generate(n_terms=10, n_docs=1))
    plans = {
        "skos": _formatted_plan(
            rdf_writers.skos_triples(
                t["terms"], t["synonyms"], t["parents"], "fixo"
            )
        ),
        "obograph": _formatted_plan(
            rdf_writers.obograph_records(
                t["terms"], t["parents"], t["relations"], "fixo"
            )
        ),
        "ofn": _formatted_plan(
            ofn_writer.ofn_axioms(
                t["terms"], t["synonyms"], t["xrefs"], t["relations"],
                t["parents"], t["alts"], "fixo",
            )
        ),
        "term_embeddings": _formatted_plan(E.term_embeddings(t["terms"])),
    }
    for name, plan in plans.items():
        assert "Exchange" not in plan, f"{name} plan shuffles:\n{plan}"


def test_video_frame_sampler_is_map_only(spark):
    """sample_video_frames promises a scan→mapInPandas plan with ZERO
    Exchange — per-clip frame sampling must never shuffle the blob
    column (at 100 TB the media bytes are the dominant traffic; any
    Exchange here would move them across the cluster)."""
    from pyobo_spark.operators import multimodal

    media = spark.createDataFrame(
        [("m", "video", bytearray(b"YUV4MPEG2 W2 H2 F10:1 C420\n"),
          None, None, None, None)],
        multimodal.MEDIA_SCHEMA,
    )
    plan = _formatted_plan(multimodal.sample_video_frames(media))
    assert "Exchange" not in plan, plan


def test_gopher_filters_are_map_only(spark):
    """The Gopher corpus filters are strictly per-document — both must
    plan as scan→(kernel|project) with ZERO Exchange. The repetition
    metrics in particular have a tempting explode→groupBy formulation
    that shuffles the corpus's gram multiset twice for a result that
    never needed cross-partition data."""
    from pyobo_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "c d e f g h")], "doc_id long, text string"
    )
    for name, df in [
        ("gopher_repetition", textstats.gopher_repetition(docs)),
        ("gopher_quality", textstats.gopher_quality(docs)),
    ]:
        plan = _formatted_plan(df)
        assert "Exchange" not in plan, f"{name} plan shuffles:\n{plan}"


def test_nearest_terms_broadcasts_query_side(spark):
    """The query CURIE pickup and the top-k kernel both broadcast the
    tiny side; the only shuffle is the per-query window."""
    from pyobo_spark.fixtures import generator
    from pyobo_spark.operators import embeddings as E

    t = generator.to_spark(spark, generator.generate(n_terms=10, n_docs=1))
    q = spark.createDataFrame([("fixo:0000001",)], "curie string")
    plan = _formatted_plan(
        E.nearest_terms(E.term_embeddings(t["terms"]), q, k=3)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_embedding_model_path_is_map_only(spark):
    """Round-4 real-model embedding path: one mapInPandas stage, no
    shuffle — at corpus scale the encoder call must never force an
    Exchange."""
    import numpy as np

    from pyobo_spark.operators import embeddings as E

    terms = spark.createDataFrame(
        [("p", "1", "alpha")], "prefix string, identifier string, name string"
    )
    plan = _formatted_plan(
        E.term_embeddings(terms, dim=4, model=lambda ts: np.zeros((len(ts), 4)))
    )
    assert "Exchange" not in plan


def test_media_decode_paths_are_map_only(spark):
    """Both decode paths (fake digest / real numpy decoder) stay
    shuffle-free."""
    from pyobo_spark.operators import multimodal

    media = spark.createDataFrame(
        [("m", "image", bytearray(b"x"), None, None, None, None)],
        multimodal.MEDIA_SCHEMA,
    )
    for fake in (True, False):
        plan = _formatted_plan(
            multimodal.extract_media_features(media, dim=4, fake_decode=fake)
        )
        assert "Exchange" not in plan


def test_special_stream_union_has_no_exchange(spark, tmp_path):
    """names + special streams is a pure unionByName — each input keeps
    its own scan parallelism; no shuffle."""
    from pyobo_spark.sources import special_streams as ss

    gi = tmp_path / "g.tsv"
    gi.write_text("#h\n9606\t1\tA1BG\t-\n")
    names = spark.createDataFrame(
        [("p", "1", "n")], "prefix string, identifier string, name string"
    )
    plan = _formatted_plan(
        ss.names_with_special_streams(names, [ss.read_gene_info(spark, str(gi))])
    )
    assert "Exchange" not in plan


def test_descendants_bfs_shuffle_work_linear_in_depth(spark, sf_dir):
    """The closure BFS must (a) serve every hop's edge side from the
    persisted edges (edge source scanned ONCE for the whole closure) and
    (b) execute a number of stages linear in the measured depth — a
    lineage-growth or re-scan regression shows up as a superlinear stage
    count long before it is distinguishable from host noise in wall time.
    Calibrated: sf0.001 runs 2 hops in ~29 stages (≈10 setup + ≤12/hop).

    r7: the BFS is now the FALLBACK path (bounded graphs take the
    broadcast map-side closure, test_closure_broadcast_matches_bfs) —
    forced here with broadcast_edge_bound=0 so the guard keeps pinning
    the scale path's shape."""
    from pyobo_spark.operators import hierarchy
    from pyobo_spark.sources import tpch_adapter as tp

    sc = spark.sparkContext
    sc.setJobGroup("bfs_guard", "descendants plan guard")
    hierarchy.BFS_CAPTURE_PLAN = True  # opt-in: snapshot the hop plan
    try:
        n = hierarchy.descendants(
            tp.parents(spark, sf_dir), broadcast_edge_bound=0
        ).count()
    finally:
        hierarchy.BFS_CAPTURE_PLAN = False
        sc.setJobGroup("tests", "post")
    assert n > 0
    hops = hierarchy.LAST_BFS_STATS["hops"]
    assert hops >= 1
    # (a) per-hop edge side reads the persisted edges, not the source
    # (captured mid-BFS under BFS_CAPTURE_PLAN — after ancestors()
    # unpersists, the plan re-resolves to the raw source)
    assert "InMemoryTableScan" in hierarchy.LAST_BFS_STATS["hop_plan"]
    # (b) total executed stages stay linear in depth
    st = sc.statusTracker()
    stages = sum(
        len(st.getJobInfo(j).stageIds)
        for j in st.getJobIdsForGroup("bfs_guard")
    )
    assert stages <= 12 + 14 * hops, (stages, hops)


def test_rooted_hierarchy_lookups_run_one_job(spark, tmp_path):
    """A bounded get_ancestors is ONE capped edge collect, which builds
    the prefix's hierarchy index, plus a driver-side sweep — not the
    all-pairs closure, which runs 8 jobs for the same answer. The
    get_descendants after it on the same catalog sweeps the same index
    and runs no job. Parquet backed, as a served catalog is, so every
    scan is a real job."""
    from pyobo_spark.api import catalog_from_parquet
    from pyobo_spark.fixtures import generator

    tables = generator.to_spark(spark, generator.generate(n_terms=40, n_docs=5))
    for name in ("terms", "parents"):
        tables[name].write.parquet(str(tmp_path / f"{name}.parquet"))
    cat = catalog_from_parquet(spark, str(tmp_path))
    anc, n_anc = _jobs_in_group(
        spark, "rooted_guard_anc", lambda: cat.get_ancestors("fixo", "0000016")
    )
    desc, n_desc = _jobs_in_group(
        spark, "rooted_guard_desc",
        lambda: cat.get_descendants("fixo", "0000004"),
    )
    assert (n_anc, n_desc) == (1, 0)
    # parents tree over 40 terms: i -> i // 4
    assert anc == {"fixo:0000004", "fixo:0000001"}
    assert desc == {f"fixo:{i:07d}" for i in range(16, 20)}


def _fixture_catalog(spark, root):
    """A parquet-backed catalog over the 40-term fixture: fixo terms,
    alt ids 8xxxxxx on every 6th term, xrefs to fixp, parents i -> i // 4."""
    from pyobo_spark.api import catalog_from_parquet
    from pyobo_spark.fixtures import generator

    tables = generator.to_spark(spark, generator.generate(n_terms=40, n_docs=5))
    for name in ("terms", "synonyms", "alts", "xrefs", "parents"):
        tables[name].write.parquet(str(root / f"{name}.parquet"))
    return catalog_from_parquet(spark, str(root))


def test_catalog_index_job_counts(spark, tmp_path):
    """The first lookup per (table, prefix) runs exactly one job — the
    capped collect that builds that table's index; every later indexed
    lookup runs none. Reassigning a table rebuilds its index with one
    job, from the new table; clear_caches() drops every index."""
    cat = _fixture_catalog(spark, tmp_path)
    first = {
        "terms": lambda: cat.get_ids("fixo"),
        "alts": lambda: cat.get_primary_identifier("fixo", "8000007"),
        "xrefs": lambda: cat.get_xrefs("fixo", "0000002"),
        "parents": lambda: cat.get_children("fixo", "0000001"),
    }
    for table, call in first.items():
        assert _jobs_in_group(spark, f"index_{table}", call)[1] == 1, table
    repeated = {
        "get_name": (lambda: cat.get_name("FIXO", "8000007"), _label(7)),
        "get_name_by_curie": (
            lambda: cat.get_name_by_curie("FIXO:0000002"), _label(2)),
        "get_primary_identifier": (
            lambda: cat.get_primary_identifier("fixo", "8000013"), "0000013"),
        "get_primary_curie": (
            lambda: cat.get_primary_curie("fixo:8000013"), "fixo:0000013"),
        "get_primary_reference": (
            lambda: cat.get_primary_reference("fixo", "8000013"),
            ("fixo", "0000013")),
        "get_xrefs": (lambda: cat.get_xrefs("fixo", "0000003"),
                      ["fixp:0000003"]),
        "get_ids": (lambda: len(cat.get_ids("fixo")), 40),
        "get_id_name_mapping": (
            lambda: cat.get_id_name_mapping("fixo")["0000040"],
            _label(40)),
        "get_alts_to_id": (lambda: cat.get_alts_to_id("fixo")["8000001"],
                           "0000001"),
        "get_children": (lambda: cat.get_children("fixo", "0000002"),
                         {f"fixo:{i:07d}" for i in range(8, 12)}),
        "get_ancestors": (lambda: cat.get_ancestors("fixo", "0000017"),
                          {"fixo:0000004", "fixo:0000001"}),
        "get_descendants": (lambda: len(cat.get_descendants("fixo", "0000001")),
                            20),  # 4..7 and 16..31
        "has_ancestor": (lambda: cat.has_ancestor("fixo", "0000017", "0000001"),
                         True),
        "is_descendent": (
            lambda: cat.is_descendent("fixo", "0000001", "0000017"), True),
        "get_literal_mappings_subset": (
            lambda: type(cat.get_literal_mappings_subset("fixo", "0000009")),
            type(cat.terms)),
    }
    for name, (call, want) in repeated.items():
        got, n_jobs = _jobs_in_group(spark, f"indexed_{name}", call)
        assert (got, n_jobs) == (want, 0), name

    # a new parents table: one job, answered from it
    spark.createDataFrame(
        [("fixo", "0000017", "fixo", "0000003")], cat.parents.schema
    ).write.parquet(str(tmp_path / "parents2.parquet"))
    cat.parents = spark.read.parquet(str(tmp_path / "parents2.parquet"))
    got, n_jobs = _jobs_in_group(
        spark, "index_rebuilt", lambda: cat.get_ancestors("fixo", "0000017")
    )
    assert (got, n_jobs) == ({"fixo:0000003"}, 1)

    cat.clear_caches()
    assert _jobs_in_group(spark, "index_cleared",
                          lambda: cat.get_ids("fixo"))[1] == 1


def test_catalog_above_bound_keeps_spark_path(spark, tmp_path, monkeypatch):
    """A prefix above its bound — max_collect_rows for the tables, the
    edge bound for the hierarchy — is answered per call through Spark,
    and the verdict is remembered: the capped collect that proved it
    does not run again, so a repeated call runs one job per gated table
    fewer. Mapping exports raise, the second time with no job."""
    cat = _fixture_catalog(spark, tmp_path)
    cat.max_collect_rows = 3  # 40 terms, 7 alts, 55 xrefs
    monkeypatch.setenv("PYOBO_SPARK_BFS_BROADCAST_MAX_EDGES", "5")  # 37 edges
    calls = {
        # alts and terms gated: two capped collects on the first call
        "get_name": (lambda: cat.get_name("fixo", "8000007"),
                     _label(7), 2),
        "get_xrefs": (lambda: cat.get_xrefs("fixo", "0000003"),
                      ["fixp:0000003"], 1),
        "get_children": (lambda: cat.get_children("fixo", "0000002"),
                         {f"fixo:{i:07d}" for i in range(8, 12)}, 1),
    }
    for name, (call, want, gated) in calls.items():
        got1, n1 = _jobs_in_group(spark, f"over_{name}_1", call)
        got2, n2 = _jobs_in_group(spark, f"over_{name}_2", call)
        assert got1 == got2 == want, name
        assert n2 >= 1 and n1 - n2 == gated, (name, n1, n2)
    assert cat.get_ancestors("fixo", "0000017") == {"fixo:0000004",
                                                   "fixo:0000001"}
    with pytest.raises(ValueError, match="max_collect_rows"):
        cat.get_ids("fixo")

    def raises():
        with pytest.raises(ValueError, match="max_collect_rows"):
            cat.get_id_name_mapping("fixo")

    assert _jobs_in_group(spark, "over_export", raises)[1] == 0
    # a raised bound is tried again, and then holds the prefix
    cat.max_collect_rows = 1000
    assert len(cat.get_id_name_mapping("fixo")) == 40


def _jobs_in_group(spark, group: str, call):
    """(result of call(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job-count guard")
    try:
        out = call()
    finally:
        sc.setJobGroup("tests", "post")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_bounded_components_run_one_job(spark, tmp_path):
    """A bounded connected_components is ONE capped edge collect (the
    size gate and the input at once) plus a driver-side union-find —
    no pre-flight count, no global sort, no surrogate-id table. The
    result DataFrame is built on the driver: it runs nothing until
    consumed. Parquet backed, so the scan is a real job."""
    from pyobo_spark.operators import components as C

    spark.createDataFrame(
        [(f"n:{i}", f"n:{i // 3}") for i in range(60)], "src string, dst string"
    ).write.parquet(str(tmp_path / "edges"))
    edges = spark.read.parquet(str(tmp_path / "edges"))
    comp, n_jobs = _jobs_in_group(
        spark, "cc_guard", lambda: C.connected_components(edges)
    )
    assert C.LAST_CC_STATS["mode"] == "broadcast"
    assert n_jobs == 1
    assert {r["component"] for r in comp.collect()} == {"n:0"}


def test_stage_bookkeeping_jobs(spark, tmp_path):
    """A PipelineRunner stage runs its write and, only when it has a
    counter column, that column's counter aggregate: n_rows and the
    sample come from the written files' parquet footers, and the
    read-back skips schema inference."""
    from pyobo_spark.pipeline.stages import PipelineRunner, counters

    spark.range(300).selectExpr(
        "id", "cast(id % 7 AS string) AS a"
    ).write.parquet(str(tmp_path / "src"))
    src = spark.read.parquet(str(tmp_path / "src"))
    runner = PipelineRunner(spark, str(tmp_path / "stages"))

    def stage_jobs(name, cols):
        _, n = _jobs_in_group(
            spark, f"stage_guard_{name}",
            lambda: runner.stage(name, lambda: src, counter_cols=cols),
        )
        return n

    stage_jobs("warm", ())
    assert stage_jobs("plain", ()) == 1  # the write
    _, agg = _jobs_in_group(
        spark, "counter_guard", lambda: counters(src, ("a",))
    )
    assert stage_jobs("one", ("a",)) == 1 + agg
    assert [r.n_rows for r in runner.results] == [300] * 3


def test_ann_cosine_lsh_shuffle_budget(spark, sf_dir):
    """Multi-table hyperplane LSH must shuffle on exactly two HASH
    exchanges — candidate dedup (distinct) and the per-query top-k
    window (skew-safe via WindowGroupLimit's map-side rank pruning) —
    plus at most one round-robin exchange from the corpus-side
    small-input spread (r7). Every join stays broadcast (query and
    signature sides are small by construction): a third hash Exchange
    means a candidate join stopped broadcasting; a CartesianProduct
    means the bucket join degenerated to all-pairs. The top-k window
    must also be preceded by WindowGroupLimit so only k rows per query
    per map partition cross the exchange."""
    from pyobo_spark import queries as Q

    plan = _formatted_plan(Q.QUERIES["ann_cosine_lsh"](spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning") == 2, plan
    assert plan.count("Arguments: roundrobinpartitioning") <= 1, plan
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_ofn_reader_families_are_map_only(spark, tmp_path):
    """Every OFN axiom family except terms/typedefs (which join their
    label/definition assertions) must plan as scan -> regexp filter ->
    project with ZERO Exchange — the property that lets a multi-GB OFN
    document parse at input-split parallelism."""
    from pyobo_spark.sources import ofn_reader

    p = tmp_path / "g.ofn"
    p.write_text(
        "Declaration(Class(obo:FIXO_1))\n"
        "SubClassOf(obo:FIXO_1 obo:FIXO_2)\n"
    )
    tables = ofn_reader.read_ofn(spark, str(p))
    for name in ("synonyms", "xrefs", "relations", "parents", "alts",
                 "disjoints"):
        plan = _formatted_plan(tables[name])
        assert "Exchange" not in plan, f"{name} plan shuffles:\n{plan}"
