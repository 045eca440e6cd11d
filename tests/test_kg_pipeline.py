"""End-to-end KG pipeline over the seeded fixtures — the BASELINE.json
correctness gates:
- mention-detection P/R >= 0.95 vs planted golden mentions;
- per-row span-sequence equality (kind, text, media_ref, order) through
  the parse stage;
- connected components vs closed-form expected classes (incl. the ~30%%
  skew hub);
- best-match disambiguation (label beats related synonym).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyobo_spark.fixtures import generator
from pyobo_spark.grounding import dictionary, matcher
from pyobo_spark.operators import components
from pyobo_spark.pipeline import kg_build


@pytest.fixture(scope="module")
def fx():
    return generator.generate(n_terms=120, n_docs=400)


@pytest.fixture(scope="module")
def tables(spark, fx):
    return generator.to_spark(spark, fx)


@pytest.fixture(scope="module")
def outputs(spark, tables):
    return kg_build.run_kg_pipeline(spark, tables, skip_obsolete=False)


def _pr(pred_df, gold_df, keys):
    pred = {tuple(r[k] for k in keys) for r in pred_df.collect()}
    gold = {tuple(r[k] for k in keys) for r in gold_df.collect()}
    tp = len(pred & gold)
    precision = tp / len(pred) if pred else 0.0
    recall = tp / len(gold) if gold else 0.0
    return precision, recall


def test_mention_pr(outputs, tables):
    """P/R >= 0.95 triple-extraction gate (BASELINE.json metric)."""
    pred = outputs["mentions"].select("doc_id", "span_idx", "curie").distinct()
    gold = tables["expected_mentions"]
    p, r = _pr(pred, gold, ["doc_id", "span_idx", "curie"])
    assert p >= 0.95, f"precision {p}"
    assert r >= 0.95, f"recall {r}"


def test_span_sequence_equality(spark, tables):
    """explode → reassemble must preserve (kind, text, media_ref, order)
    for EVERY row — the input_hint per-row invariant."""
    docs = tables["documents"]
    exploded = matcher.explode_spans(docs)
    back = matcher.reassemble_spans(exploded)
    orig = docs.select("doc_id", "spans")
    n_docs = orig.count()
    matched = orig.join(back, on=["doc_id", "spans"], how="inner").count()
    assert matched == n_docs == back.count()


def test_connected_components_with_skew_hub(spark, tables):
    xr = tables["xrefs"]
    cc_edges = xr.select(
        F.concat("prefix", F.lit(":"), "identifier").alias("src"),
        F.concat("target_prefix", F.lit(":"), "target_id").alias("dst"),
    )
    got = {
        (r["curie"], r["component"])
        for r in components.connected_components(cc_edges).collect()
    }
    exp = {
        (r["curie"], r["component"])
        for r in tables["expected_components"].collect()
    }
    assert got == exp


def test_best_match_disambiguation(spark, tables, outputs):
    """'shared token' belongs to fixo:0000001 (related) and fixo:0000002
    (exact) — exact synonym must win (score hierarchy)."""
    lm = kg_build.build_literal_mappings(tables["terms"], tables["synonyms"])
    entries = dictionary.dictionary_entries(lm)
    ac = dictionary.build_automaton(entries)
    bc = tables["terms"].sparkSession.sparkContext.broadcast(ac)
    docs = tables["terms"].sparkSession.createDataFrame(
        [("d1", [("text", "we saw a shared token here", None, 0)])],
        tables["documents"].schema,
    )
    got = matcher.detect_mentions(docs, bc).collect()
    assert len(got) == 1
    assert got[0]["curie"] == "fixo:0000002"


def test_alt_canonicalization(spark, tables):
    """Mentions grounding to an alt id must be upgraded to the primary
    (api/alts.py:89-105)."""
    from pyobo_spark.operators.exports import alt_upgrade

    alts = tables["alts"]
    refs = spark.createDataFrame(
        [("8000001",), ("0000002",)], "identifier string"
    )
    out = {
        r["identifier"]: r["primary_identifier"]
        for r in alt_upgrade(refs, alts).collect()
    }
    assert out["8000001"] == "0000001"
    assert out["0000002"] == "0000002"


def test_triples_shape(outputs):
    t = outputs["triples"]
    assert t.columns == ["subject_curie", "predicate_curie", "object_curie"]
    assert t.count() > 0
    preds = {r["predicate_curie"] for r in t.select("predicate_curie").distinct().collect()}
    assert "pyobo:mentions" in preds
    assert "rdfs:subClassOf" in preds
    assert "BFO:0000050" in preds
    # undefined typedef ZZ:0000001 must have been dropped
    assert "ZZ:0000001" not in preds


def test_obsolete_skip(spark, tables):
    """skip_obsolete anti-join removes obsolete terms' labels from the
    dictionary (api/names.py:332-341)."""
    lm = kg_build.build_literal_mappings(tables["terms"], tables["synonyms"])
    from pyobo_spark.operators.exports import obsoletes

    entries_all = dictionary.dictionary_entries(lm)
    entries_skip = dictionary.dictionary_entries(
        lm, skip_obsolete_df=obsoletes(tables["terms"])
    )
    curies_all = {c for _, c, _ in entries_all}
    curies_skip = {c for _, c, _ in entries_skip}
    assert "fixo:0000017" in curies_all  # 17 % 17 == 0 → obsolete
    assert "fixo:0000017" not in curies_skip


def test_staged_pipeline_restart_resumes_and_matches(spark, tables, tmp_path):
    """VERDICT r04 #5 — the resumability drill: kill the staged kg_build
    after stage 2 of 5, restart, and require (a) stages 1-2 are SKIPPED
    via their manifests, (b) stages 3-5 then run, and (c) every stage
    snapshot is byte-identical to an uninterrupted run (reference
    analog: per-artifact is_file() checks, struct.py:1354,
    getters.py:166-176)."""
    import hashlib
    from pathlib import Path

    from pyobo_spark.pipeline.kg_build import run_kg_pipeline_staged

    def stage_bytes(root):
        """{stage: sha256 of its concatenated parquet data bytes}, part
        files taken in name order (names embed job UUIDs, content does
        not — see the uninterrupted-vs-uninterrupted control below)."""
        out = {}
        for stage_dir in sorted(Path(root).iterdir()):
            h = hashlib.sha256()
            for f in sorted((stage_dir / "data").glob("part-*")):
                h.update(f.read_bytes())
            out[stage_dir.name] = h.hexdigest()
        return out

    # uninterrupted control runs (also proves the byte comparison is
    # deterministic at all — if these two differ the check is void)
    run_kg_pipeline_staged(spark, tables, str(tmp_path / "control"))
    run_kg_pipeline_staged(spark, tables, str(tmp_path / "control2"))
    control = stage_bytes(tmp_path / "control")
    assert control == stage_bytes(tmp_path / "control2"), (
        "uninterrupted runs are not byte-deterministic; comparison void"
    )

    # crash after stage 2 of 5
    crash_root = str(tmp_path / "crashed")
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_kg_pipeline_staged(spark, tables, crash_root,
                               _fail_before="xrefs_parsed")
    done = {p.parent.name for p in Path(crash_root).glob("*/_MANIFEST.json")}
    assert done == {"literal_mappings", "mentions"}

    # restart: 1-2 skipped via manifest, 3-5 computed
    runner = run_kg_pipeline_staged(spark, tables, crash_root)
    report = {r["stage"]: r["skipped"] for r in runner.lineage_report()}
    assert report == {
        "literal_mappings": True,
        "mentions": True,
        "xrefs_parsed": False,
        "components": False,
        "triples": False,
    }
    # the parse stage's manifest carries the parse-status counters —
    # the observability the one-shot pipeline returns as parse_lineage —
    # and stage 4 consumed ok rows FROM this snapshot (single parse)
    import json as _json
    meta = _json.loads(
        (Path(crash_root) / "xrefs_parsed" / "_MANIFEST.json")
        .read_text()
    )
    assert "parse_status" in meta["counters"]
    assert meta["counters"]["parse_status"].get("ok", 0) > 0

    # byte-identical outputs, stage by stage
    assert stage_bytes(crash_root) == control


def test_staged_pipeline_versioned_triples(spark, tables, tmp_path):
    """snapshot_table: each REBUILD of the triples stage commits one
    immutable snapshot; a skipped resume commits nothing; rollback
    restores the previous build without rewriting data."""
    from pyobo_spark.pipeline.kg_build import run_kg_pipeline_staged
    from pyobo_spark.pipeline.snapshots import SnapshotTable

    root = str(tmp_path / "stages")
    tbl_root = str(tmp_path / "triples_tbl")
    run_kg_pipeline_staged(spark, tables, root, snapshot_table=tbl_root)
    tbl = SnapshotTable(spark, tbl_root)
    assert tbl.current_snapshot_id() == 1
    n1 = tbl.read().count()
    assert n1 > 0

    # resume run: every stage skipped -> NO new snapshot
    run_kg_pipeline_staged(spark, tables, root, snapshot_table=tbl_root)
    assert tbl.current_snapshot_id() == 1

    # forced rebuild -> snapshot 2, same content, both readable
    run_kg_pipeline_staged(
        spark, tables, root, force=True, snapshot_table=tbl_root
    )
    assert tbl.current_snapshot_id() == 2
    assert tbl.read().count() == n1
    assert tbl.read(snapshot_id=1).count() == n1
    tbl.rollback(1)
    assert tbl.current_snapshot_id() == 1


def test_stage_manifest_contract(spark, tables, tmp_path, monkeypatch):
    """Every stage manifest of a staged build: n_rows is the snapshot's
    row count, counters equal a Spark groupBy, the sample is ≤10
    JSON-serialisable rows, and the fresh read-back has the schema a
    resumed run reads back. With the pyarrow footer read failing, the
    Spark fallback reports the same n_rows and counters."""
    import json
    from pathlib import Path

    import pyarrow.parquet as pq

    from pyobo_spark.pipeline.footers import written_stats
    from pyobo_spark.pipeline.kg_build import run_kg_pipeline_staged
    from pyobo_spark.pipeline.stages import PipelineRunner

    schemas: dict[str, list] = {}
    stage = PipelineRunner.stage

    def recording_stage(self, name, build, counter_cols=()):
        out = stage(self, name, build, counter_cols)
        schemas.setdefault(name, []).append(out.schema)
        return out

    monkeypatch.setattr(PipelineRunner, "stage", recording_stage)

    def manifests(root):
        return {
            p.parent.name: json.loads(p.read_text())
            for p in Path(root).glob("*/_MANIFEST.json")
        }

    root = str(tmp_path / "fresh")
    run_kg_pipeline_staged(spark, tables, root)
    fresh = manifests(root)
    assert len(fresh) == 5
    for name, meta in fresh.items():
        data = spark.read.parquet(str(Path(root) / name / "data"))
        assert meta["n_rows"] == data.count(), name
        for col, got in meta["counters"].items():
            want = {
                r[col]: r["count"] for r in data.groupBy(col).count().collect()
            }
            # keys as the manifest JSON spells them
            assert got == json.loads(json.dumps(want, default=str)), name
        assert 0 < len(meta["sample"]) <= 10
        assert all(set(row) == set(data.columns) for row in meta["sample"])
        # the footer sample is plain JSON: no default= conversion needed
        _, sample = written_stats(data, str(Path(root) / name / "data"))
        assert json.loads(json.dumps(sample)) == meta["sample"], name
    assert fresh["xrefs_parsed"]["counters"]["parse_status"]["ok"] > 0

    # resume: every stage skipped, schema inferred from the files
    runner = run_kg_pipeline_staged(spark, tables, root)
    assert all(r.skipped for r in runner.results)
    for name, (fresh_schema, resumed_schema) in schemas.items():
        assert fresh_schema == resumed_schema, name

    def no_pyarrow(*args, **kwargs):
        raise OSError("no pyarrow filesystem for this path")

    monkeypatch.setattr(pq, "ParquetFile", no_pyarrow)
    fallback_root = str(tmp_path / "fallback")
    run_kg_pipeline_staged(spark, tables, fallback_root)
    for name, meta in manifests(fallback_root).items():
        assert meta["n_rows"] == fresh[name]["n_rows"], name
        assert meta["counters"] == fresh[name]["counters"], name
        assert 0 < len(meta["sample"]) <= 10
