"""Seeded benchmark corpus, written once per key as parquet with pyarrow.

The tables come straight from ``pyobo_spark.fixtures.generator.generate``
and are written without a Spark session, so building the corpus costs a
pure-Python generate plus one pyarrow write. The program under test only
ever sees the parquet files.

The cache key is (seed, n_terms, n_docs, sha256 of the generator source
and of this file): a changed generator or writer rebuilds the corpus
instead of benchmarking stale inputs. A finished corpus carries a
``_COMPLETE`` marker written last, so an interrupted build is redone.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

#: the documents table is split into this many files so a local scan gets
#: several input partitions at every corpus size (one small file would be
#: one task)
DOC_FILES = 8

_S = pa.string()
SCHEMAS = {
    "terms": pa.schema([
        ("prefix", _S), ("identifier", _S), ("name", _S), ("definition", _S),
        ("namespace", _S), ("is_obsolete", pa.bool_()), ("species_id", _S),
    ]),
    "synonyms": pa.schema([
        ("prefix", _S), ("identifier", _S), ("text", _S), ("predicate", _S),
        ("type", _S), ("provenance", pa.list_(_S)), ("language", _S),
    ]),
    "xrefs": pa.schema([
        ("prefix", _S), ("identifier", _S), ("predicate", _S),
        ("target_prefix", _S), ("target_id", _S), ("provenance", _S),
    ]),
    "relations": pa.schema([
        ("prefix", _S), ("identifier", _S), ("relation_prefix", _S),
        ("relation_id", _S), ("target_prefix", _S), ("target_id", _S),
    ]),
    "parents": pa.schema([
        ("child_prefix", _S), ("child", _S), ("parent_prefix", _S),
        ("parent", _S),
    ]),
    "alts": pa.schema([("prefix", _S), ("identifier", _S), ("alt_id", _S)]),
    "documents": pa.schema([
        ("doc_id", _S),
        ("spans", pa.list_(pa.struct([
            ("kind", _S), ("text", _S), ("media_ref", _S),
            ("offset", pa.int32()),
        ]))),
    ]),
}
ONTOLOGY_TABLES = ("terms", "synonyms", "xrefs", "relations", "parents", "alts")


def source_fingerprint() -> str:
    from pyobo_spark.fixtures import generator

    h = hashlib.sha256()
    for path in (generator.__file__, __file__):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def corpus_dir(cache_root: str, seed: int, n_terms: int, n_docs: int) -> str:
    return os.path.join(
        cache_root,
        f"corpus-s{seed}-t{n_terms}-d{n_docs}-{source_fingerprint()}",
    )


def ensure_corpus(cache_root: str, seed: int, n_terms: int, n_docs: int):
    """Return the corpus directory, generating and writing it when the
    cache entry is missing or incomplete. Besides the program's inputs
    it holds the generator's expected mentions and components, which
    only the benchmark's checks read."""
    out = corpus_dir(cache_root, seed, n_terms, n_docs)
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out
    from pyobo_spark.fixtures.generator import generate

    fx = generate(n_terms=n_terms, n_docs=n_docs, seed=seed)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name in ONTOLOGY_TABLES:
        pq.write_table(
            pa.Table.from_pylist(getattr(fx, name), schema=SCHEMAS[name]),
            os.path.join(out, f"{name}.parquet"),
        )
    docs_dir = os.path.join(out, "documents.parquet")
    os.makedirs(docs_dir)
    per_file = -(-len(fx.documents) // DOC_FILES)
    for k in range(DOC_FILES):
        chunk = fx.documents[k * per_file:(k + 1) * per_file]
        pq.write_table(
            pa.Table.from_pylist(chunk, schema=SCHEMAS["documents"]),
            os.path.join(docs_dir, f"part-{k:05d}.parquet"),
        )
    expected = os.path.join(out, "expected")
    os.makedirs(expected)
    pq.write_table(pa.Table.from_pylist(fx.expected_mentions),
                   os.path.join(expected, "mentions.parquet"))
    pq.write_table(pa.Table.from_pylist(fx.expected_components),
                   os.path.join(expected, "components.parquet"))
    with open(os.path.join(out, "_COMPLETE"), "w") as fh:
        fh.write("ok\n")
    return out


def expected(corpus: str, name: str) -> set[tuple]:
    """The generator's expected rows of ``name`` as a set of tuples."""
    t = pq.read_table(os.path.join(corpus, "expected", f"{name}.parquet"))
    return set(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def load_tables(spark, corpus: str) -> dict:
    """The pipeline's input dict, read from the corpus parquet files."""
    names = ONTOLOGY_TABLES + ("documents",)
    return {n: spark.read.parquet(os.path.join(corpus, f"{n}.parquet"))
            for n in names}


if __name__ == "__main__":
    # python3 corpus.py CACHE_ROOT SEED N_TERMS N_DOCS (pyobo_spark on the path)
    import sys

    root, *nums = sys.argv[1:]
    ensure_corpus(root, *map(int, nums))
