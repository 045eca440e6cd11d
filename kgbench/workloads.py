"""The two workloads and the checks on their outputs.

Each workload has ``prepare`` (one-time set-up). ``kg_build`` has ``op``
(one closed-loop operation, timed by the caller) and ``check`` (output
checks, untimed); ``lookup`` hands out one pass of catalog calls at a
time, each with its expected answer.

Expected values come from the generator's closed forms: parents
``i -> i // 4`` for ``i >= 4``, names ``_label(i)``, alt ids
``8{i:06d} -> i`` for ``i % 6 == 1``, one ``fixo:i -> fixp:i`` xref per
term (``fixo:1`` is the hub and is never queried), and obsolete terms
``i % 17 == 0``, which the pipeline drops from the dictionary.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import random
import shutil

import pyarrow.parquet as pq

from corpus import expected

#: one pass of the lookup mix: one call of each catalog op, in a seeded
#: order. No traffic weighting is assumed; per-op latency is reported
#: per layer as ``api.<op>.p50_ms``
MIX = ("get_name", "get_primary_curie", "get_xrefs", "get_children",
       "get_ancestors", "get_descendants", "ground_df", "get_id_name_mapping")
GROUND_BATCH = 50  # documents per ground_df call
MIN_PR = 0.95


def _label(i: int) -> str:
    from pyobo_spark.fixtures.generator import _label as label

    return label(i)


def _curie(i: int) -> str:
    return f"fixo:{i:07d}"


def _obsolete_curies(n_terms: int) -> set[str]:
    return {_curie(i) for i in range(17, n_terms + 1, 17)}


def _ancestors(i: int) -> set[str]:
    out = set()
    while i >= 4:
        i //= 4
        out.add(_curie(i))
    return out


def _descendants(i: int, n_terms: int) -> set[str]:
    out, todo = set(), [i]
    while todo:
        j = todo.pop()
        for c in range(max(4 * j, 4), min(4 * j + 3, n_terms) + 1):
            out.add(_curie(c))
            todo.append(c)
    return out


@functools.lru_cache(maxsize=None)
def package_fingerprint() -> str:
    """Digest of the ``pyobo_spark`` sources (the program under test)."""
    import pyobo_spark

    top = os.path.dirname(pyobo_spark.__file__)
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(top):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, top).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def precision_recall(got: set, want: set) -> tuple[float, float]:
    hit = len(got & want)
    return (hit / len(got) if got else 0.0, hit / len(want) if want else 1.0)


def _read(path: str, cols: list[str]) -> set[tuple]:
    t = pq.read_table(path, columns=cols)
    return set(zip(*(t.column(c).to_pylist() for c in cols)))


class Workload:
    """Shared state (the session, the input tables, a scratch root) and
    the checks on build outputs."""

    def __init__(self, spark, tables: dict, corpus_path: str, work: str,
                 n_terms: int, n_docs: int, seed: int):
        self.spark = spark
        self.tables = tables
        self.corpus = corpus_path
        self.work = work
        self.n_terms = n_terms
        self.n_docs = n_docs
        self.rng = random.Random(seed)
        self._n = 0
        self._expected: dict[str, set] = {}
        self._triples: dict | None = None

    def prepare(self) -> None:
        """One-time set-up before the warm-up."""

    def expected(self, name: str) -> set[tuple]:
        if name not in self._expected:
            self._expected[name] = expected(self.corpus, name)
        return self._expected[name]

    def fresh(self, tag: str) -> str:
        self._n += 1
        path = os.path.join(self.work, f"{tag}-{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    @staticmethod
    def manifests(root: str) -> dict:
        """Row counts and counters from the stage manifests in ``root``."""
        out = {}
        for st in os.listdir(root):
            path = os.path.join(root, st, "_MANIFEST.json")
            if os.path.exists(path):
                with open(path) as fh:
                    meta = json.load(fh)
                out[st] = {k: meta[k] for k in ("n_rows", "counters")}
        return out

    # ------------------------------------------------- build checks ----
    def check_triples(self, root: str) -> list[str]:
        """Row count and order-insensitive digest of the triples stage.
        They must equal those of this run's first operation (a warm-up
        one), and those recorded by the first run on the same corpus and
        the same ``pyobo_spark`` source, so the check never compares
        outputs of two different versions of the code."""
        t = pq.read_table(os.path.join(root, "triples", "data"))
        rows = sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))
        digest = hashlib.sha256(
            "\n".join("\t".join(map(str, r)) for r in rows).encode()
        ).hexdigest()
        got = {"rows": len(rows), "sha256": digest}
        if self._triples is None:
            self._triples = got
        ref_path = os.path.join(
            os.path.dirname(self.corpus),
            f"triples-{os.path.basename(self.corpus)}-{package_fingerprint()}"
            ".json")
        if not os.path.exists(ref_path):
            with open(ref_path + ".tmp", "w") as fh:
                json.dump(got, fh)
            os.replace(ref_path + ".tmp", ref_path)
        with open(ref_path) as fh:
            ref = json.load(fh)
        errs = [] if rows else ["triples stage is empty"]
        if got != self._triples:
            errs.append(f"triples {got} != this run's first {self._triples}")
        if got != ref:
            errs.append(f"triples {got} != recorded {ref}")
        return errs

    def check_components(self, root: str) -> list[str]:
        got = _read(os.path.join(root, "components", "data"),
                    ["curie", "component"])
        want = self.expected("components")
        if got != want:
            return [f"components differ: {len(got ^ want)} rows"]
        return []

    def check_mentions(self, root: str) -> list[str]:
        """The pipeline drops obsolete terms from its dictionary, so
        their planted mentions are not expected."""
        if "mentions_live" not in self._expected:
            drop = _obsolete_curies(self.n_terms)
            self._expected["mentions_live"] = {
                m for m in self.expected("mentions") if m[2] not in drop}
        got = _read(os.path.join(root, "mentions", "data"),
                    ["doc_id", "span_idx", "curie"])
        p, r = precision_recall(got, self._expected["mentions_live"])
        if min(p, r) < MIN_PR:
            return [f"mentions precision {p:.3f} recall {r:.3f}"]
        return []


class KgBuild(Workload):
    """A cold build of all five stages plus one snapshot commit, each
    into a fresh root."""

    name = "kg_build"

    def op(self):
        from pyobo_spark.pipeline.kg_build import run_kg_pipeline_staged

        root = self.fresh("build")
        run_kg_pipeline_staged(self.spark, self.tables, root,
                               snapshot_table=root + "-snapshots")
        return root

    def check(self, root: str) -> list[str]:
        errs = (self.check_components(root) + self.check_mentions(root)
                + self.check_triples(root))
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root + "-snapshots", ignore_errors=True)
        return errs


class Lookup(Workload):
    """One client sending the seeded OntologyCatalog mix."""

    name = "lookup"

    def prepare(self) -> None:
        """Catalog over the same ontology tables, plus the seeded
        document batches the ground_df calls send."""
        import pyarrow as pa

        from pyobo_spark.api import catalog_from_parquet

        self._batches: list = []
        self._batch_expected: list[set] = []
        self.catalog = catalog_from_parquet(self.spark, self.corpus)
        docs = pq.read_table(os.path.join(self.corpus, "documents.parquet"))
        # the catalog grounder keeps obsolete terms (skip_obsolete=False)
        want = self.expected("mentions")
        for _ in range(4):
            start = self.rng.randrange(0, max(1, docs.num_rows - GROUND_BATCH))
            batch = docs.slice(start, GROUND_BATCH)
            ids = set(batch.column("doc_id").to_pylist())
            self._batches.append(self.spark.createDataFrame(
                pa.Table.from_batches(batch.to_batches())))
            self._batch_expected.append({m for m in want if m[0] in ids})

    def lookup_pass(self, mix=MIX) -> list[tuple[str, object, object]]:
        """One seeded pass of ``mix``: (op, call, expected answer)."""
        cat, n, rng = self.catalog, self.n_terms, self.rng
        calls = [self._call(op, cat, n, rng) for op in mix]
        rng.shuffle(calls)
        return calls

    def _call(self, op, cat, n, rng):
        if op == "get_name":
            i = rng.randrange(1, n + 1, 6)  # an alt-carrying term
            ident = f"8{i:06d}" if rng.random() < 0.5 else f"{i:07d}"
            return op, lambda: cat.get_name("fixo", ident), _label(i)
        if op == "get_primary_curie":
            i = rng.randrange(1, n + 1, 6)
            return (op, lambda: cat.get_primary_curie(f"fixo:8{i:06d}"),
                    _curie(i))
        if op == "get_xrefs":
            i = rng.randrange(2, n + 1)
            return (op, lambda: cat.get_xrefs("fixo", f"{i:07d}"),
                    [f"fixp:{i:07d}"])
        if op == "get_children":
            i = rng.randrange(1, n // 4 + 1)
            want = {_curie(c) for c in range(4 * i, min(4 * i + 3, n) + 1)}
            return op, lambda: cat.get_children("fixo", f"{i:07d}"), want
        if op == "get_ancestors":
            i = rng.randrange(n // 2, n + 1)
            return (op, lambda: cat.get_ancestors("fixo", f"{i:07d}"),
                    _ancestors(i))
        if op == "get_descendants":
            i = rng.randrange(1, max(2, n // 16))
            return (op, lambda: cat.get_descendants("fixo", f"{i:07d}"),
                    _descendants(i, n))
        if op == "ground_df":
            b = rng.randrange(len(self._batches))
            df = self._batches[b]

            def ground():
                rows = cat.ground_df("fixo", df).select(
                    "doc_id", "span_idx", "curie").collect()
                return {(r[0], r[1], r[2]) for r in rows}

            return op, ground, ("pr", self._batch_expected[b])
        if op == "get_id_name_mapping":
            return (op, lambda: cat.get_id_name_mapping("fixo"),
                    {f"{i:07d}": _label(i) for i in range(1, n + 1)})
        raise ValueError(op)

    @staticmethod
    def answer_ok(got, want) -> bool:
        if isinstance(want, tuple) and want and want[0] == "pr":
            return min(precision_recall(got, want[1])) >= MIN_PR
        return got == want


WORKLOADS = {w.name: w for w in (KgBuild, Lookup)}
