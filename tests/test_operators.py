"""Unit tests for operators not covered by the oracle-parity suite:
dedup planted-pair detection, LSH recall vs brute force, hierarchy
helpers, pipeline checkpoint/resume, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyobo_spark.operators import dedup, hierarchy, multimodal, similarity


def test_minhash_finds_planted_near_dups(spark):
    base = [(i, " ".join(f"tok{j + i}" for j in range(40))) for i in range(30)]
    dups = [(100 + i, " ".join(f"tok{j + i}" for j in range(1, 40)))
            for i in range(10)]
    docs = spark.createDataFrame(base + dups, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_near_duplicates(docs, threshold=0.5).collect()
    }
    planted = {(i, 100 + i) for i in range(10)}
    found = planted & pairs
    assert len(found) >= 9  # ≥90% recall on 39/40-token overlap pairs


def test_near_dup_clusters_transitive_chain(spark):
    """The hallmark of CC-based fuzzy dedup: A~B and B~C above threshold
    pool {A,B,C} into ONE cluster even though the A-C pair itself falls
    below threshold (so no A-C edge exists). Probed deterministically
    (minhash is seed-free): est(A,B)=0.8125, est(B,C)=0.7031 >= 0.7,
    est(A,C)=0.6094 < 0.7. D shares no token — a singleton that must
    keep itself."""
    base = [f"t{i}" for i in range(100)]
    a = " ".join(base[:88] + [f"a{i}" for i in range(12)])
    b = " ".join(base)
    c = " ".join([f"c{i}" for i in range(12)] + base[12:])
    d = " ".join(f"d{i}" for i in range(100))
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, d)], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: (r["cluster"], r["keep"])
        for r in dedup.near_dup_clusters(docs, threshold=0.7).collect()
    }
    assert rows == {
        1: (1, True),
        2: (1, False),
        3: (1, False),
        4: (4, True),
    }
    kept = sorted(
        r["doc_id"]
        for r in dedup.dedup_keep_canonical(
            docs, dedup.near_dup_clusters(docs, threshold=0.7)
        ).collect()
    )
    assert kept == [1, 4]


def test_exact_duplicates(spark):
    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id long, text string",
    )
    out = dedup.exact_duplicates(docs).collect()
    assert len(out) == 1
    assert out[0]["keep_id"] == 1 and out[0]["n_dups"] == 2


def test_simhash_identical_texts_equal(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "x y z")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["simhash"] for r in
           dedup.simhash_fingerprints(docs).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_lsh_topk_recall_vs_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    bf = similarity.cosine_topk_bruteforce(emb, queries, k=3)
    lsh = similarity.cosine_topk_lsh(emb, queries, k=3, n_bits=4)
    bf_pairs = {(r["query_id"], r["neighbor_id"]) for r in bf.collect()}
    lsh_pairs = {(r["query_id"], r["neighbor_id"]) for r in lsh.collect()}
    # LSH is approximate: require non-trivial overlap with exact top-k
    assert len(bf_pairs & lsh_pairs) >= len(bf_pairs) * 0.3


def test_hyperplane_signatures_deterministic(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    a = {r["vec_id"]: r["bucket"]
         for r in similarity.hyperplane_signatures(emb, n_bits=6).collect()}
    b = {r["vec_id"]: r["bucket"]
         for r in similarity.hyperplane_signatures(emb, n_bits=6).collect()}
    assert a == b  # same seed → same buckets
    assert all(0 <= v < 64 for v in a.values())
    c = {r["vec_id"]: r["bucket"]
         for r in similarity.hyperplane_signatures(emb, n_bits=6, seed=7).collect()}
    assert a != c  # different seed → different planes


def test_ivf_topk_recall_vs_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    bf = similarity.cosine_topk_bruteforce(emb, queries, k=3)
    ivf = similarity.cosine_topk_ivf(emb, queries, k=3, n_centroids=8, n_probe=4)
    bf_pairs = {(r["query_id"], r["neighbor_id"]) for r in bf.collect()}
    ivf_pairs = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    # probing half the centroids must recover a good share of exact top-k
    assert len(bf_pairs & ivf_pairs) >= len(bf_pairs) * 0.4


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


def test_media_feature_plumbing(spark):
    media = spark.createDataFrame(
        [("m1", "image", bytearray(b"xyz"), None, None, None, None),
         ("m2", "audio", None, None, None, None, None)],
        multimodal.MEDIA_SCHEMA,
    )
    rows = {r["media_ref"]: r for r in
            multimodal.extract_media_features(media, dim=4).collect()}
    assert rows["m1"]["decode_status"] == "ok_fake"
    assert len(rows["m1"]["feature"]) == 4
    assert rows["m2"]["decode_status"] == "missing"
    # deterministic: same bytes → same feature
    again = {r["media_ref"]: r for r in
             multimodal.extract_media_features(media, dim=4).collect()}
    assert rows["m1"]["feature"] == again["m1"]["feature"]


def _ppm_bytes(w=4, h=2):
    # P6 with a comment line; pixels are (r, g, b) = (row, col, 7)
    header = f"P6\n# fixture\n{w} {h}\n255\n".encode()
    raster = bytes(
        b for y in range(h) for x in range(w) for b in (y, x, 7)
    )
    return header + raster


def _wav_bytes(rate=8000, n=800):
    # 16-bit mono PCM square wave, alternating +/-16384 every 8 samples
    import struct

    samples = b"".join(
        struct.pack("<h", 16384 if (i // 8) % 2 == 0 else -16384)
        for i in range(n)
    )
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(samples)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(samples)) + samples
    )


def test_media_real_decode_kernels():
    import numpy as np

    img, meta = multimodal._real_decode("image", _ppm_bytes())
    assert img.shape == (2, 4, 3) and meta == {"width": 4, "height": 2}
    assert img[1, 2].tolist() == [1, 2, 7]
    audio, ameta = multimodal._real_decode("audio", _wav_bytes())
    assert ameta["sample_rate"] == 8000 and ameta["duration_ms"] == 100
    assert np.isclose(np.abs(audio).max(), 0.5)


def test_media_real_decode_distributed(spark):
    media = spark.createDataFrame(
        [
            ("img", "image", bytearray(_ppm_bytes()), None, None, None, None),
            ("wav", "audio", bytearray(_wav_bytes()), None, None, None, None),
            ("jpg", "image", bytearray(b"\xff\xd8\xff\xe0junk"), None, None,
             None, None),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    rows = {
        r["media_ref"]: r
        for r in multimodal.extract_media_features(
            media, dim=8, fake_decode=False
        ).collect()
    }
    assert rows["img"]["decode_status"] == "ok"
    # channel means of the (row, col, 7) raster: r=mean(0,1)=0.5/255
    feats = rows["img"]["feature"]
    assert len(feats) == 8
    assert abs(feats[0] - 0.5 / 255) < 1e-4  # mean red
    assert abs(feats[2] - 7 / 255) < 1e-4  # mean blue (constant 7)
    assert abs(feats[6] - 2.0) < 1e-6  # aspect w/h = 4/2
    assert rows["wav"]["decode_status"] == "ok"
    assert abs(rows["wav"]["feature"][0] - 0.5) < 1e-3  # RMS of square wave
    assert abs(rows["wav"]["feature"][3] - 0.1) < 1e-6  # duration sec
    # unsupported container degrades per-row, doesn't kill the task
    assert rows["jpg"]["decode_status"] == "unsupported"
    assert rows["jpg"]["feature"] is None


def test_media_corrupt_payloads_degrade(spark):
    """Payloads with a valid magic but a broken body (bad header int,
    truncated raster, short fmt chunk) must degrade to
    decode_status='corrupt' per row — never abort the task."""
    import struct

    trunc_ppm = _ppm_bytes()[:-10]  # raster shorter than w*h*3
    bad_header = b"P6\ngarbage here\n255\nxxx"
    short_fmt = (
        b"RIFF" + struct.pack("<I", 20) + b"WAVE"
        + b"fmt " + struct.pack("<I", 4) + b"\x01\x00\x01\x00"
    )
    media = spark.createDataFrame(
        [
            ("t", "image", bytearray(trunc_ppm), None, None, None, None),
            ("b", "image", bytearray(bad_header), None, None, None, None),
            ("w", "audio", bytearray(short_fmt), None, None, None, None),
            ("ok", "image", bytearray(_ppm_bytes()), None, None, None, None),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    rows = {
        r["media_ref"]: r
        for r in multimodal.extract_media_features(
            media, dim=8, fake_decode=False
        ).collect()
    }
    assert rows["t"]["decode_status"] == "corrupt"
    assert rows["b"]["decode_status"] == "corrupt"
    assert rows["w"]["decode_status"] == "corrupt"
    assert rows["ok"]["decode_status"] == "ok"  # good rows unaffected


def test_probe_media_metadata(spark):
    """Metadata backfill: magic-sniffed mime for every container,
    real dims/duration for decodable ones, existing values preserved,
    corrupt/unknown payloads degrade to null metadata."""
    media = spark.createDataFrame(
        [
            ("ppm", "image", bytearray(_ppm_bytes()), None, None, None, None),
            ("wav", "audio", bytearray(_wav_bytes()), None, None, None, None),
            ("jpg", "image", bytearray(b"\xff\xd8\xff\xe0junk"), None,
             None, None, None),
            ("pre", "image", bytearray(_ppm_bytes()), "image/custom",
             99, 98, None),
            ("half", "image", bytearray(_ppm_bytes()), "image/custom",
             99, None, None),
            ("unk", "image", bytearray(b"????"), None, None, None, None),
            ("nil", "image", None, None, None, None, None),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    rows = {
        r["media_ref"]: r
        for r in multimodal.probe_media_metadata(media).collect()
    }
    assert rows["ppm"]["mime"] == "image/x-portable-pixmap"
    assert (rows["ppm"]["width"], rows["ppm"]["height"]) == (4, 2)
    assert rows["wav"]["mime"] == "audio/wav"
    assert rows["wav"]["duration_ms"] == 100
    # compressed containers get labeled even though decode is oos
    assert rows["jpg"]["mime"] == "image/jpeg"
    assert rows["jpg"]["width"] is None
    # pre-set metadata survives untouched
    assert rows["pre"]["mime"] == "image/custom"
    assert (rows["pre"]["width"], rows["pre"]["height"]) == (99, 98)
    # PARTIAL metadata: null fields are filled, set fields preserved
    assert rows["half"]["width"] == 99          # pre-set, kept
    assert rows["half"]["height"] == 2          # filled from the header
    assert rows["unk"]["mime"] == "application/octet-stream"
    assert rows["nil"]["mime"] is None


def test_frame_sample_plan(spark):
    media = spark.createDataFrame(
        [("v1", "video", None, None, None, None, 3500)],
        multimodal.MEDIA_SCHEMA,
    )
    ts = [r["frame_ts_ms"] for r in
          multimodal.frame_sample_plan(media, every_ms=1000).collect()]
    assert ts == [0, 1000, 2000, 3000]


def _y4m_bytes(w=4, h=4, n_frames=20, fps=10, luma_step=10):
    # YUV4MPEG2 C420: frame i's Y plane is the constant i*luma_step,
    # chroma planes constant 128 (gray)
    header = f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C420\n".encode()
    chroma = bytes([128]) * (2 * (w // 2) * (h // 2))
    frames = b"".join(
        b"FRAME\n" + bytes([i * luma_step]) * (w * h) + chroma
        for i in range(n_frames)
    )
    return header + frames


def test_video_y4m_decode_kernel():
    frames, meta = multimodal._real_decode("video", _y4m_bytes())
    assert meta == {
        "width": 4, "height": 4, "duration_ms": 2000,
        "fps": 10.0, "n_frames": 20,
    }
    # 20 frames sampled at step ceil(20/8)=3 → indices 0,3,...,18
    assert frames.shape == (7, 4, 4)
    assert frames[1].min() == frames[1].max() == 30  # frame 3 luma
    # colorspace we can't decode → unsupported, truncated frame → error
    import pytest as _pytest

    with _pytest.raises(multimodal.UnsupportedMediaError):
        multimodal._real_decode(
            "video", b"YUV4MPEG2 W4 H4 F10:1 C422\nFRAME\n" + b"\0" * 32
        )
    # 10-bit 4:2:0 is recognized-but-undecodable → 'unsupported', not
    # 'corrupt': a prefix match on C420 would size frames as 8-bit and
    # land mid-raster
    with _pytest.raises(multimodal.UnsupportedMediaError):
        multimodal._real_decode(
            "video", b"YUV4MPEG2 W4 H4 F10:1 C420p10\nFRAME\n" + b"\0" * 48
        )
    with _pytest.raises(ValueError):
        multimodal._real_decode("video", _y4m_bytes()[:-5])


def test_video_y4m_probe_and_features(spark):
    """All four media kinds now decode on the fake_decode=False path;
    video metadata probes header-only and features carry frame count,
    fps, duration, luma stats, and a motion proxy."""
    media = spark.createDataFrame(
        [
            ("v", "video", bytearray(_y4m_bytes()), None, None, None, None),
            ("mp4", "video", bytearray(b"\x00\x00\x00 ftypmp42"), None,
             None, None, None),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    meta = {
        r["media_ref"]: r
        for r in multimodal.probe_media_metadata(media).collect()
    }
    assert meta["v"]["mime"] == "video/x-yuv4mpeg"
    assert (meta["v"]["width"], meta["v"]["height"]) == (4, 4)
    assert meta["v"]["duration_ms"] == 2000
    assert meta["mp4"]["width"] is None  # compressed container: oos
    rows = {
        r["media_ref"]: r
        for r in multimodal.extract_media_features(
            media, dim=8, fake_decode=False
        ).collect()
    }
    assert rows["v"]["decode_status"] == "ok"
    f = rows["v"]["feature"]
    assert f[0] == 20.0 and f[1] == 10.0 and abs(f[2] - 2.0) < 1e-9
    assert abs(f[3] - 90 / 255) < 1e-4   # mean luma over sampled frames
    assert abs(f[5] - 30 / 255) < 1e-4   # motion: 30-luma step between
    assert abs(f[6] - 1.0) < 1e-9        # aspect  # sampled frames
    assert rows["mp4"]["decode_status"] == "unsupported"


def test_sample_video_frames(spark):
    media = spark.createDataFrame(
        [
            ("v", "video", bytearray(_y4m_bytes()), None, None, None, None),
            ("bad", "video", bytearray(b"\x00\x00\x00 ftypmp42"), None,
             None, None, None),
            ("nil", "video", None, None, None, None, None),
            ("img", "image", bytearray(_ppm_bytes()), None, None, None,
             None),  # non-video rows are ignored, not errored
        ],
        multimodal.MEDIA_SCHEMA,
    )
    out = multimodal.sample_video_frames(media, every_ms=500).collect()
    by_ref: dict[str, list] = {}
    for r in out:
        by_ref.setdefault(r["media_ref"], []).append(r)
    assert "img" not in by_ref
    v = sorted(by_ref["v"], key=lambda r: r["frame_idx"])
    # 100 ms/frame, ticks every 500 ms over 2000 ms → frames 0,5,10,15
    assert [r["frame_idx"] for r in v] == [0, 5, 10, 15]
    assert [r["frame_ts_ms"] for r in v] == [0, 500, 1000, 1500]
    assert abs(v[1]["mean_luma"] - 50 / 255) < 1e-6
    assert all(r["decode_status"] == "ok" for r in v)
    assert by_ref["bad"][0]["decode_status"] == "unsupported"
    assert by_ref["nil"][0]["decode_status"] == "missing"


def test_media_table_decode(spark):
    """kind='table' CSV payloads decode to cell grids with dims in the
    image-compatible width/height terms; features carry rows/cols/
    numeric stats; a CSV starting with 'P6' is still a table."""
    csv_blob = b"P6,name,score\n1,a,0.5\n2,b,1.5\n"
    cells, meta = multimodal._real_decode("table", csv_blob)
    assert meta == {"width": 3, "height": 3}
    assert cells[1][1] == "a"
    media = spark.createDataFrame(
        [
            ("t1", "table", bytearray(csv_blob), None, None, None, None),
            ("t2", "table", bytearray(b"\xff\xfebad"), None, None, None,
             None),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    rows = {
        r["media_ref"]: r
        for r in multimodal.extract_media_features(
            media, dim=4, fake_decode=False
        ).collect()
    }
    assert rows["t1"]["decode_status"] == "ok"
    f = rows["t1"]["feature"]
    assert (f[0], f[1]) == (3.0, 3.0)          # rows, cols
    assert abs(f[2] - 4 / 9) < 1e-6            # numeric-cell ratio
    assert abs(f[3] - (1 + 2 + 0.5 + 1.5) / 4) < 1e-6
    assert rows["t2"]["decode_status"] == "unsupported"  # not UTF-8
    meta_rows = {
        r["media_ref"]: r
        for r in multimodal.probe_media_metadata(media).collect()
    }
    assert (meta_rows["t1"]["width"], meta_rows["t1"]["height"]) == (3, 3)
    assert meta_rows["t1"]["mime"] == "text/csv"  # labeled on decode
    # 'nan'/'inf' cells are excluded from the numeric feature stats
    bad = spark.createDataFrame(
        [("nan", "table", bytearray(b"NaN,1\ninf,3\n"), None, None,
          None, None)],
        multimodal.MEDIA_SCHEMA,
    )
    frow = multimodal.extract_media_features(
        bad, dim=4, fake_decode=False
    ).collect()[0]
    assert frow["decode_status"] == "ok"
    import math

    assert all(math.isfinite(x) for x in frow["feature"])
    assert abs(frow["feature"][3] - 2.0) < 1e-6  # mean of finite {1,3}


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


def test_y4m_missing_frame_rate_is_unsupported():
    """YUV4MPEG2 has no default frame rate: a clip without the F
    parameter must degrade to 'unsupported' (r06 review) — every
    time-derived output would be silently wrong under an invented
    default."""
    import pytest as _pytest

    from pyobo_spark.operators import multimodal as M

    no_f = b"YUV4MPEG2 W4 H4 C420\n" + b"FRAME\n" + bytes(24)
    with _pytest.raises(M.UnsupportedMediaError):
        M._parse_y4m_header(no_f)
    # with F present the same payload parses fine
    with_f = b"YUV4MPEG2 W4 H4 F10:1 C420\n"
    w, h, num, den, pos, fsz = M._parse_y4m_header(with_f + b"FRAME\n" + bytes(24))
    assert (w, h, num, den, fsz) == (4, 4, 10, 1, 24)


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
