"""Materialize the replicated 10x bench corpus (VERDICT r05 #1).

The sf0.1 headline bench has 24 of 30 queries under 1 s — below the
measured host-jitter floor (±25-30%, BASELINE.md canary protocol), so a
real 1.3x regression is indistinguishable from noise. This script
replicates every sf0.1 table 10x DETERMINISTICALLY (no RNG — pure
column arithmetic, so the corpus is byte-reproducible) into
``benchdata/sf10x/``; bench.py then runs the same headline queries at
both scales and reports both sections in one JSON line.

Replication is key-shifted so the derived KG plane keeps its shape:

- ``part``: p_partkey' = rep*20000 + p_partkey → keys stay CONTIGUOUS
  (1..200000), so the p//10 radix parent tree is exactly what a native
  10x dataset would produce (one level deeper, 10x nodes) — not ten
  disconnected shallow clones.
- ``supplier``/``customer``/``orders``/``lineitem``: same contiguous
  key shifts, foreign keys shifted consistently (lineitem rows keep
  referencing their replica's part/supplier).
- ``nation``/``region``: copied unchanged — dimension tables stay small
  at any scale (that's the 100-TB design too: CC still converges to 5
  region-clusters, each 10x larger).
- ``events``: event_id/user_id shifted (10x users, same per-user
  session structure; timestamps untouched).
- ``documents``: doc_id' = rep*10^9 + doc_id (clear of the planted-twin
  +10^7 convention). For rep>0 the TEXT is perturbed token-wise —
  token t gets a '~rep' suffix when (xxhash64(t)+rep) % 2 = 0 — so any
  two replicas share ≤ ~1/2 of their tokens (Jaccard ≤ ~1/3): the
  replicas are NOT near-duplicates of each other, so a query that
  groups or compares documents by their text sees 10x distinct
  documents, as a native 10x corpus would, not 10 exact copies of
  every doc.
- ``embeddings``: vec_id' = rep*10^9 + vec_id; for rep>0 the vector is
  ROTATED by rep positions — a rotation of a high-dimensional vector
  points in an unrelated direction (near-zero cosine), so ANN/near-dup
  benches likewise keep organic neighbor structure.

Usage: python scripts/make_bench10x.py [--sf-dir /root/testdata/sf0.1]
       [--out benchdata/10x-<sf-dir-name>] [--replicate 10]

The default output dir (``default_out_dir``) is keyed by the source
dir's name and shared with bench.py — building here first means
bench.py reuses the corpus instead of rebuilding it.
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def build(spark, sf_dir: str, out_dir: str, replicate: int = 10) -> None:
    from pyspark.sql import functions as F

    reps = spark.range(replicate).withColumnRenamed("id", "rep")

    def rd(name):
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")

    def shift(df, col, n):
        return df.withColumn(col, (F.col("rep") * n + F.col(col)).cast("long"))

    counts = {t: rd(t).count() for t in ("part", "supplier", "customer")}
    # shifts for SPARSE key spaces must come from max(key)+1, not row
    # counts or fixed constants: TPC-H o_orderkey is sparse (max = 4x the
    # row count) and a constant like 10_000_000 collides once
    # 6_000_000*SF exceeds it (sf2+) — colliding replica ranges would
    # silently duplicate keys and fan out every orders/lineitem join
    okey_shift = (
        rd("orders").agg(F.max("o_orderkey").cast("long")).first()[0] + 1
    )
    ev_maxes = rd("events").agg(
        F.max("event_id").cast("long"), F.max("user_id").cast("long")
    ).first()
    eid_shift, uid_shift = ev_maxes[0] + 1, ev_maxes[1] + 1

    out: dict = {}
    out["region"] = rd("region")
    out["nation"] = rd("nation")

    part = rd("part").crossJoin(reps)
    out["part"] = shift(part, "p_partkey", counts["part"]).drop("rep")

    supp = rd("supplier").crossJoin(reps)
    out["supplier"] = shift(supp, "s_suppkey", counts["supplier"]).drop("rep")

    cust = rd("customer").crossJoin(reps)
    out["customer"] = shift(cust, "c_custkey", counts["customer"]).drop("rep")

    orders = rd("orders").crossJoin(reps)
    orders = shift(orders, "o_orderkey", okey_shift)
    out["orders"] = shift(orders, "o_custkey", counts["customer"]).drop("rep")

    li = rd("lineitem").crossJoin(reps)
    li = shift(li, "l_orderkey", okey_shift)
    li = shift(li, "l_partkey", counts["part"])
    out["lineitem"] = shift(li, "l_suppkey", counts["supplier"]).drop("rep")

    ev = rd("events").crossJoin(reps)
    ev = shift(ev, "event_id", eid_shift)
    out["events"] = shift(ev, "user_id", uid_shift).drop("rep")

    docs = rd("documents").crossJoin(reps)
    salted_tok = F.transform(
        F.split(F.col("text"), " "),
        lambda t: F.when(
            (F.xxhash64(t) + F.col("rep")) % 2 == 0,
            F.concat(t, F.lit("~"), F.col("rep").cast("string")),
        ).otherwise(t),
    )
    new_text = F.when(F.col("rep") == 0, F.col("text")).otherwise(
        F.concat_ws(" ", salted_tok)
    )
    out["documents"] = (
        shift(docs, "doc_id", 1_000_000_000)
        .withColumn("text", new_text)
        .withColumn("n_chars", F.length("text").cast("long"))
        .drop("rep")
    )

    emb = rd("embeddings").crossJoin(reps)
    dim = len(emb.select("embedding").first()["embedding"])
    rotated = F.when(F.col("rep") == 0, F.col("embedding")).otherwise(
        F.concat(
            F.slice(F.col("embedding"), F.col("rep") + 1, dim),
            F.slice(F.col("embedding"), 1, F.col("rep")),
        )
    )
    out["embeddings"] = (
        shift(emb, "vec_id", 1_000_000_000)
        .withColumn("embedding", rotated)
        .drop("rep")
    )

    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        # a handful of files per table: enough parallelism for local[32]
        # scans without tiny-file overhead at this size
        n_part = 1 if name in ("region", "nation") else 8
        (out[name].repartition(n_part)
         .write.mode("overwrite")
         .parquet(f"{out_dir}/{name}.parquet"))
    # written LAST so a crashed build never leaves a valid marker
    with open(os.path.join(out_dir, "_SOURCE_FINGERPRINT"), "w") as fh:
        fh.write(source_fingerprint(sf_dir))


def source_fingerprint(sf_dir: str) -> str:
    """Digest of the source corpus identity: absolute path plus
    (relative name, size, mtime) of every data file under it. Stored in
    the built corpus and re-checked by ``is_built`` so a regenerated
    source, or a DIFFERENT directory that happens to share the basename
    (the out-dir cache key), forces a rebuild instead of silently
    benchmarking a stale corpus."""
    import hashlib

    h = hashlib.sha256(os.path.abspath(sf_dir).encode())
    for root, _dirs, files in sorted(os.walk(sf_dir)):
        for f in sorted(files):
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(root, f)
            st = os.stat(p)
            rel = os.path.relpath(p, sf_dir)
            h.update(f"{rel}:{st.st_size}:{int(st.st_mtime)}".encode())
    return h.hexdigest()


def is_built(out_dir: str, sf_dir: str | None = None) -> bool:
    if not all(
        os.path.exists(f"{out_dir}/{t}.parquet/_SUCCESS") for t in TABLES
    ):
        return False
    if sf_dir is None:
        return True
    marker = os.path.join(out_dir, "_SOURCE_FINGERPRINT")
    try:
        with open(marker) as fh:
            return fh.read().strip() == source_fingerprint(sf_dir)
    except OSError:
        return False


def default_out_dir(sf_dir: str) -> str:
    """Single source of truth for the corpus cache location (bench.py
    resolves through this too, so a manual build is always reused)."""
    return os.path.join(
        _REPO, "benchdata", f"10x-{os.path.basename(sf_dir.rstrip('/'))}"
    )


def main() -> None:
    args = dict(zip(sys.argv[1::2], sys.argv[2::2]))
    sf_dir = args.get("--sf-dir", "/root/testdata/sf0.1")
    out_dir = args.get("--out", default_out_dir(sf_dir))
    replicate = int(args.get("--replicate", "10"))
    from pyobo_spark.session import get_spark

    spark = get_spark("make_bench10x", cores=32, shuffle_partitions=32)
    build(spark, sf_dir, out_dir, replicate)
    for t in TABLES:
        print(t, spark.read.parquet(f"{out_dir}/{t}.parquet").count())


if __name__ == "__main__":
    main()
