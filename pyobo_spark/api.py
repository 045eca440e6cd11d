"""PyOBO-compatible lookup API — the reference's function-per-artifact
surface (src/pyobo/__init__.py:3-92, src/pyobo/api/) over Spark tables.

`OntologyCatalog` holds the long tables (terms, synonyms, xrefs,
relations, parents, alts, properties) for any number of ontologies —
loaded from parquet, from the OBO/OBO-Graph/N-Triples readers, or from
the fixture generator. Functions keep the reference's names and
semantics; *_df variants return DataFrames (the scalable form),
*_mapping variants collect to driver dicts exactly like the reference's
cached-mapping API (safe: per-ontology exports are dictionary-sized,
never corpus-sized).

Point lookups and mapping exports over terms, alts, xrefs and the
is_a hierarchy answer from a per-(table, prefix) driver index (see
`OntologyCatalog`), built on first use from one capped Arrow collect
and reused by every later call, so a repeated lookup runs no Spark job.

Reference citations per method point into /root/reference/src/pyobo/.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .grounding import dictionary as _dict
from .grounding import matcher as _matcher
from .operators import exports, graph_local, hierarchy
from .pipeline.kg_build import build_literal_mappings


def catalog_from_parquet(spark, root: str) -> "OntologyCatalog":
    """Load a catalog from a directory of parquet tables (the engine's
    materialized artifacts — the Iceberg-table analog of the reference's
    per-artifact TSV cache, utils/path.py:129-152)."""
    import os

    tables = {}
    for name in ("terms", "synonyms", "xrefs", "relations", "parents",
                 "alts", "properties", "object_properties", "typedefs",
                 "replaced_by", "considers", "intersections", "subsets",
                 "subsetdefs", "synonym_typedefs", "disjoints",
                 "metadata"):
        path = os.path.join(root, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            # normalize prefix-valued columns on load: the lookup API
            # folds its arguments to lowercase, so externally-written
            # artifacts with display-cased prefixes must fold too or
            # every filter silently misses (lazy projection, JVM-side)
            folds = [c for c in df.columns if c.endswith("prefix")]
            for c in folds:
                df = df.withColumn(c, F.lower(F.col(c)))
            tables[name] = df
    return OntologyCatalog(tables)


def catalog_from_obo(spark, texts: list[tuple[str, str]]) -> "OntologyCatalog":
    """Parse OBO documents straight into a catalog (the reference's
    get_ontology → write_default → lookup flow, getters.py:92-216)."""
    from .sources.obo_reader import parse_obo_files

    tables = parse_obo_files(spark, texts)
    return OntologyCatalog(tables)


def from_obo_path(
    spark, path: str, prefix: str | None = None
) -> "OntologyCatalog":
    """Read one OBO file into a catalog — the reference's
    ``from_obo_path`` (reader.py / __init__.py export). The file text
    is read driver-side (a single OBO document), then parsed in
    parallel by the stanza-chunked distributed reader.

    The catalog keys on the document's ``ontology:`` header tag; when
    the file has none, ``prefix`` (or the file's basename) is injected
    as that header so the tables are reachable under a known prefix.
    A present, well-formed header wins; a present but NON-ALPHABETIC
    header value is replaced with the supplied prefix/basename, matching
    the reference's ``_clean_graph_ontology``
    (struct/obo/reader.py:757-768) — otherwise a malformed header keys
    the catalog differently than the reference (r04 advice)."""
    import os
    import re as _re

    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    name = prefix or os.path.splitext(os.path.basename(path))[0]
    header_end = text.find("\n[")
    header = text[: header_end if header_end >= 0 else len(text)]
    # [ \t\r]* tail: CRLF files leave a trailing \r on the captured
    # value under re.M (only \n terminates $), and 'chebi\r'.isalpha()
    # is False — a well-formed header must not be misread as malformed
    m = _re.search(r"^ontology:[ \t]*(.*?)[ \t\r]*$", header, _re.M)
    if m is None:
        text = f"ontology: {name}\n{text}"
    elif not m.group(1).isalpha():
        text = (
            text[: m.start()] + f"ontology: {name}" + text[m.end():]
        )
    return catalog_from_obo(spark, [(name, text)])


def build_ontology(
    spark,
    prefix: str,
    *,
    terms: list[dict] | None = None,
    synonyms: list[dict] | None = None,
    xrefs: list[dict] | None = None,
    parents: list[dict] | None = None,
    relations: list[dict] | None = None,
    alts: list[dict] | None = None,
    subsetdefs: dict[str, str] | None = None,
    synonym_typedefs: list[dict] | None = None,
    version: str | None = None,
    date: str | None = None,
) -> "OntologyCatalog":
    """Build an ontology catalog from parts — the reference's
    ``build_ontology`` (struct.py:2535-2618 assembles an ``Obo`` from
    ``Term`` lists; here the parts are plain dicts keyed like the long
    tables, and the result is a queryable catalog).

    Minimal term dict: ``{"identifier": ..., "name": ...}``; optional
    keys (definition, namespace, is_obsolete, species_id) default to
    null/False. Synonym/xref/parent/relation/alt dicts follow the
    canonical table columns, with ``prefix`` (and parents'
    ``child_prefix``/``parent_prefix``) filled in automatically."""
    from .sources.obo_reader import table_schemas

    canon = table_schemas()
    p = prefix.lower()

    def _rows(items, schema_name, fill):
        schema = canon[schema_name]
        fields = schema.fieldNames()
        rows = []
        for it in items or []:
            unknown = set(it) - set(fields)
            if unknown:  # fail loud — a typo'd key would otherwise
                raise ValueError(  # silently yield null-field rows
                    f"unknown {schema_name} field(s) {sorted(unknown)}; "
                    f"valid: {fields}"
                )
            d = dict(fill)
            d.update(it)
            # enforce the stored-lowercase-prefix invariant the lookup
            # API's fold decorator relies on: user-supplied dict parts
            # may carry display-cased prefixes ('NCBITaxon')
            for k, v in d.items():
                if k.endswith("prefix") and isinstance(v, str):
                    d[k] = v.lower()
            rows.append(d)
        if not rows:
            return spark.createDataFrame([], schema)
        return spark.createDataFrame(
            [[r.get(f) for f in fields] for r in rows], schema
        )

    tables = {
        "terms": _rows(
            terms, "terms",
            {"prefix": p, "name": None, "definition": None,
             "namespace": None, "is_obsolete": False, "species_id": None},
        ),
        "synonyms": _rows(
            synonyms, "synonyms",
            {"prefix": p, "predicate": "oboInOwl:hasExactSynonym",
             "type": None, "provenance": None, "language": None},
        ),
        "xrefs": _rows(
            xrefs, "xrefs",
            {"prefix": p, "predicate": "oboInOwl:hasDbXref",
             "provenance": None},
        ),
        "parents": _rows(
            parents, "parents", {"child_prefix": p, "parent_prefix": p}
        ),
        "relations": _rows(relations, "relations", {"prefix": p}),
        "alts": _rows(alts, "alts", {"prefix": p}),
        "subsetdefs": _rows(
            [
                {"subset_curie": k, "comment": v}
                for k, v in (subsetdefs or {}).items()
            ],
            "subsetdefs",
            {"prefix": p},
        ),
        "synonym_typedefs": _rows(
            synonym_typedefs, "synonym_typedefs", {"prefix": p}
        ),
        "metadata": _rows(
            [{"version": version, "date": date}], "metadata", {"prefix": p}
        ),
    }
    return OntologyCatalog(tables)


def default_reference(
    prefix: str, identifier: str, name: str | None = None
) -> tuple[str, str]:
    """CURIE pair for an "unqualified" in-ontology reference — the
    reference's ``default_reference`` (struct/reference.py:148-167):
    a bare ``located_in`` inside ``chebi`` becomes
    ``("obo", "chebi#located_in")``. ``name`` is accepted for signature
    parity (the engine's long tables carry names separately)."""
    if not identifier.strip():
        raise ValueError("default identifier is empty")
    from .normalize.registry import Registry

    norm = Registry.default().normalize_prefix(prefix) or prefix.lower()
    return ("obo", f"{norm}#{identifier}")


def _fold_prefix_methods(cls):
    """Normalize EVERY user-supplied prefix-valued argument ONCE at
    every public entry point of the catalog (r04 advice: folding was
    inconsistent — ``get_alts_to_id('CHEBI')`` worked while
    ``get_ids('CHEBI')`` silently returned empty). Tables store
    lowercase prefixes, so the fold is ``str.lower``. Covers every
    parameter whose name ends with ``prefix`` (``prefix``,
    ``xref_prefix``, ``target_prefix``, ...) — folding only the first
    argument would leave ``get_filtered_xrefs('chebi', 'NCBITaxon')``
    silently empty, the same bug class one parameter over. Wrapping at
    the class boundary guarantees no method can drift out of step; the
    remaining in-body ``.lower()`` calls are redundant but harmless."""
    import functools
    import inspect

    def _wrap(fn, positions, names):
        @functools.wraps(fn)
        def wrapper(self, *args, **kwargs):
            args = list(args)
            for i in positions:  # 0-based into args (self excluded)
                if i < len(args) and isinstance(args[i], str):
                    args[i] = args[i].lower()
            for pname in names:
                if isinstance(kwargs.get(pname), str):
                    kwargs[pname] = kwargs[pname].lower()
            return fn(self, *args, **kwargs)

        return wrapper

    for name, fn in list(vars(cls).items()):
        if name.startswith("_") or not inspect.isfunction(fn):
            continue
        params = list(inspect.signature(fn).parameters)[1:]  # drop self
        fold_names = [p for p in params if p.endswith("prefix")]
        if fold_names:
            positions = [i for i, p in enumerate(params)
                         if p.endswith("prefix")]
            setattr(cls, name, _wrap(fn, positions, fold_names))
    return cls


def _min_by_key(tbl) -> dict:
    """{key: smallest non-NULL value} of a two-column (key, value) Arrow
    table, in the byte order Spark compares strings by. A NULL key, or
    a key whose values are all NULL, is left out: no argument equals
    it, and Spark's ``min`` of only NULLs is NULL."""
    key, val = tbl.column_names
    g = tbl.group_by(key).aggregate([(val, "min")])
    return {
        k: v
        for k, v in zip(graph_local.values(g.column(key)),
                        graph_local.values(g.column(f"{val}_min")))
        if k is not None and v is not None
    }


class _Terms(NamedTuple):
    ids: set  # every identifier of the prefix, as get_ids returns them
    names: dict  # identifier -> smallest non-NULL name


def _terms_index(tbl) -> _Terms:
    return _Terms(
        set(graph_local.values(tbl.column("identifier"))), _min_by_key(tbl)
    )


def _xrefs_index(tbl) -> dict:
    """identifier -> sorted distinct target CURIEs: the distinct pairs,
    sorted in byte order by pyarrow, then one pass to group them."""
    pairs = tbl.group_by(["identifier", "t"]).aggregate([]).sort_by(
        [("identifier", "ascending"), ("t", "ascending")]
    )
    out: dict = {}
    for i, t in zip(graph_local.values(pairs.column("identifier")),
                    graph_local.values(pairs.column("t"))):
        if i is not None:
            out.setdefault(i, []).append(t)
    return out


class _Hierarchy:
    """One prefix's CURIE edges (hierarchy.curie_edges) encoded once
    (graph_local.Digraph), with a node-id dict so each lookup is a dict
    probe and a sweep."""

    #: hierarchy.reachable's levels: its default max_iter=50, plus one
    LEVELS = 51

    def __init__(self, tbl):
        self.graph = graph_local.Digraph(tbl)
        names = graph_local.values(self.graph.names)
        self.ids = dict(zip(names, range(len(names))))

    def reach(self, roots: list[str], down: bool = False, levels: int = LEVELS):
        hits = self.graph.sweep(
            [self.ids.get(r) for r in roots], levels, reverse=down
        )
        return dict(zip(roots, hits))


#: per indexed table: (the rows of one prefix the index is built from,
#: the function that builds it from them). Every key resolves to its smallest value, in the index
#: and in the per-call Spark path alike, so neither depends on
#: partition order.
_INDEXED = {
    "terms": (
        lambda df, p: df.where(F.col("prefix") == p).select("identifier", "name"),
        _terms_index,
    ),
    "alts": (
        lambda df, p: df.where(F.col("prefix") == p).select("alt_id", "identifier"),
        _min_by_key,
    ),
    "xrefs": (
        lambda df, p: df.where(F.col("prefix") == p).select(
            "identifier",
            F.concat_ws(":", "target_prefix", "target_id").alias("t"),
        ),
        _xrefs_index,
    ),
    "parents": (hierarchy.curie_edges, _Hierarchy),
}


@_fold_prefix_methods
class OntologyCatalog:
    """The lookup API over one set of long tables (see the module
    docstring).

    **Driver index.** Lookups against terms, alts, xrefs and the is_a
    hierarchy (parents) are answered from an index per (table, prefix),
    held on the catalog like its grounders: terms become id -> name
    plus the id set, alts alt_id -> identifier, xrefs id -> sorted
    target CURIEs, and the prefix's CURIE edges one int32-encoded CSR
    per direction (graph_local.Digraph). Each part costs ONE capped
    Arrow collect, built on the first call that needs it; that collect
    is both the size gate and the input (graph_local.collect_bounded).
    The bounds are the existing ones: ``max_collect_rows`` for the
    tables and ``BROADCAST_CLOSURE_MAX_EDGES``
    ($PYOBO_SPARK_BFS_BROADCAST_MAX_EDGES) for the edges.

    - *Above the bound* point lookups keep a per-call Spark path and
      mapping exports raise; the verdict is remembered, so later calls
      do not repeat the capped collect.
    - *Invalidation:* an entry is valid only while ``getattr(self,
      table)`` is the object it was built from, so reassigning e.g.
      ``catalog.parents`` rebuilds it on the next call.
      ``clear_caches()`` drops every entry.

    The gain relies on repeated lookups against the same prefix within
    one catalog's lifetime; a one-off lookup pays the collect of the
    whole prefix instead of a filtered scan."""

    #: catalog table attributes backed by the canonical long-table
    #: schemas (obo_reader.table_schemas) — any table a source doesn't
    #: emit is filled with a schema-typed empty so EVERY lookup works
    #: uniformly (r04 review: per-method None guards were piecemeal;
    #: sources like the HGNC envelope legitimately emit subsets)
    _TABLE_ATTRS = (
        "synonyms", "xrefs", "relations", "parents", "alts",
        "properties", "typedefs", "replaced_by", "considers",
        "intersections", "object_properties", "subsets", "subsetdefs",
        "synonym_typedefs", "disjoints", "metadata",
    )

    def __init__(self, tables: dict[str, DataFrame]):
        from .sources.obo_reader import table_schemas

        self.terms = tables["terms"]
        self._spark = self.terms.sparkSession
        canon = table_schemas()
        for name in self._TABLE_ATTRS:
            df = tables.get(name)
            if df is None:
                df = self._spark.createDataFrame([], canon[name])
            setattr(self, name, df)
        self._grounders: dict[tuple[tuple[str, ...], bool], object] = {}
        self._dict_entries: dict[tuple[str, bool], list] = {}
        #: (table, prefix) -> (table object it was built from, rows — or
        #: bound + 1 when the capped collect found more —, index or None)
        self._indexes: dict[tuple[str, str], tuple] = {}

    def _index(self, table: str, prefix: str):
        """The driver index of ``table``'s rows for ``prefix`` (see the
        class docstring), or None when they are above the table's
        bound. Rebuilt when the table attribute was reassigned, or when
        an over-bound verdict was reached under a lower bound than
        today's; the row count is re-checked against today's bound, so
        lowering it turns a built index off again."""
        df = getattr(self, table)
        bound = (
            hierarchy._broadcast_bound()
            if table == "parents"
            else self.max_collect_rows
        )
        entry = self._indexes.get((table, prefix))
        if (entry is None or entry[0] is not df
                or (entry[2] is None and entry[1] <= bound)):
            rows, build = _INDEXED[table]
            tbl = graph_local.collect_bounded(rows(df, prefix), bound)
            entry = (
                (df, bound + 1, None)
                if tbl is None
                else (df, tbl.num_rows, build(tbl))
            )
            self._indexes[(table, prefix)] = entry
        return entry[2] if entry[1] <= bound else None

    def _indexed_export(self, table: str, prefix: str, what: str):
        """The index a mapping export is read from; above the bound the
        export raises, as _bounded_rows does."""
        idx = self._index(table, prefix)
        if idx is None:
            raise self._over_bound(what)
        return idx

    # ---- names (api/names.py) ----

    def get_ids(self, prefix: str) -> set[str]:
        """api/names.py:127-141."""
        return set(self._indexed_export("terms", prefix, "get_ids").ids)

    def get_id_name_mapping(self, prefix: str) -> dict[str, str]:
        """api/names.py:201-234 — a duplicated identifier maps to its
        smallest name."""
        return dict(
            self._indexed_export("terms", prefix, "this mapping export").names
        )

    def get_name_id_mapping(self, prefix: str) -> dict[str, str]:
        """api/names.py:239-245 (deterministic min-id on collision)."""
        df = exports.name_id_mapping(self.terms.where(F.col("prefix") == prefix))
        return {r["name"]: r["identifier"] for r in self._bounded_rows(df, "this mapping export")}

    def get_name(self, prefix: str, identifier: str) -> str | None:
        """api/names.py:68-122 — with alt-id upgrade fallback; a
        duplicated identifier has its smallest name."""
        primary = self.get_primary_identifier(prefix, identifier)
        terms = self._index("terms", prefix)
        if terms is not None:
            return terms.names.get(primary)
        return (
            self.terms.where(
                (F.col("prefix") == prefix)
                & (F.col("identifier") == primary)
            ).agg(F.min("name")).first()[0]
        )

    def get_name_by_curie(self, curie: str) -> str | None:
        """api/names.py get_name_by_curie — CURIE-shaped name lookup
        (with alt upgrade via get_name)."""
        p, i = curie.split(":", 1)
        return self.get_name(p.lower(), i)

    def get_id_definition_mapping(self, prefix: str) -> dict[str, str]:
        """api/names.py get_id_definition_mapping."""
        df = exports.definitions(
            self.terms.where(F.col("prefix") == prefix.lower())
        )
        return {r["identifier"]: r["definition"] for r in self._bounded_rows(df, "this mapping export")}

    def get_definition(self, prefix: str, identifier: str) -> str | None:
        """api/names.py definition lookup w/ reference cleanup."""
        df = exports.definitions(
            self.terms.where(
                (F.col("prefix") == prefix) & (F.col("identifier") == identifier)
            )
        )
        rows = df.collect()
        return rows[0]["definition"] if rows else None

    def get_obsolete(self, prefix: str) -> set[str]:
        """api/names.py:281-296."""
        return {
            r["identifier"]
            for r in self._bounded_rows(
                exports.obsoletes(
                    self.terms.where(F.col("prefix") == prefix)
                ).select("identifier"),
                "get_obsolete",
            )
        }

    def get_references(self, prefix: str) -> DataFrame:
        """api/names.py:166-196 (incl. obo:{prefix}# aux refs)."""
        return exports.references(self.terms, prefix)

    def get_id_synonyms_mapping(self, prefix: str) -> dict[str, list[str]]:
        """api/names.py:318-329 — sorted synonym lists (array-valued
        aggregation: no delimiter round-trip, '|' in synonym text is
        safe)."""
        df = exports.synonyms_grouped_list(
            self.synonyms.where(F.col("prefix") == prefix)
        )
        return {r["identifier"]: list(r["synonyms"]) for r in self._bounded_rows(df, "this mapping export")}

    def get_synonyms(self, prefix: str, identifier: str) -> list[str]:
        """api/names.py get_synonyms — one term's sorted synonyms."""
        return self.get_id_synonyms_mapping(prefix.lower()).get(
            identifier, []
        )

    #: dict-returning lookups collect whole per-ontology artifacts to
    #: the driver (the reference's cached-mapping API does the same via
    #: TSV caches). Ontology dims are bounded (the largest, NCBITaxon,
    #: is ~2.6M terms), but a misconfigured catalog over a corpus-sized
    #: table must fail loudly instead of OOMing the driver — so every
    #: such collect is capped here. Raise/lower per catalog if needed.
    max_collect_rows: int = 10_000_000

    def _bounded_rows(self, df: DataFrame, what: str) -> list:
        """collect() with the driver-OOM guard, in ONE execution and
        with ZERO caching: limit(cap+1).collect() runs Spark's
        incremental CollectLimit (partitions scanned in growing batches
        until cap+1 rows arrive), so the happy path costs one pass
        (r04 advice: the probe+collect form ran every mapping export
        twice) and the error path is BOUNDED BY CONSTRUCTION — at most
        cap+1 rows ever reach the driver, never the corpus, and nothing
        is persisted to churn executor memory (r05 review: a persist()
        probe cached ~cap rows before erroring). cap+1 transient rows
        is within the guard's own definition of driver tolerance."""
        rows = df.limit(self.max_collect_rows + 1).collect()
        if len(rows) > self.max_collect_rows:
            raise self._over_bound(what)
        return rows

    def _over_bound(self, what: str) -> ValueError:
        return ValueError(
            f"{what} would collect more than "
            f"{self.max_collect_rows:,} rows to the driver; this "
            "is corpus-shaped data — use the *_df form, or raise "
            "catalog.max_collect_rows if the dimension really is "
            "this large"
        )

    def get_subsets_df(self, prefix: str) -> DataFrame:
        """subset membership rows (struct.py subsets field / nodes-export
        subsets column)."""
        return self.subsets.where(F.col("prefix") == prefix)

    def get_subset_members(self, prefix: str, subset: str) -> set[str]:
        """Identifiers tagged with a subset (e.g. a GO slim)."""
        return {
            r["identifier"]
            for r in self.subsets.where(
                (F.col("prefix") == prefix) & (F.col("subset") == subset)
            ).select("identifier").collect()
        }

    def get_subsetdefs(self, prefix: str) -> dict[str, str]:
        """Header subsetdef declarations: subset CURIE → comment
        (reference Obo.subsetdefs, reader test_7 family)."""
        return {
            r["subset_curie"]: r["comment"]
            for r in self.subsetdefs.where(
                F.col("prefix") == prefix.lower()
            ).collect()
        }

    def get_synonym_typedefs(self, prefix: str) -> list[dict]:
        """Header synonymtypedef declarations (reference
        Obo.synonym_typedefs, reader test_8)."""
        return [
            {"curie": r["curie"], "name": r["name"],
             "specificity": r["specificity"]}
            for r in self.synonym_typedefs.where(
                F.col("prefix") == prefix.lower()
            ).collect()
        ]

    def get_typedef_df(self, prefix: str | None = None) -> DataFrame:
        """The wide typedef dim (struct.py:2254-2318 fields); optionally
        filtered to one predicate namespace."""
        td = self.typedefs
        if prefix is not None:
            td = td.where(F.col("prefix") == prefix)
        return td

    # ---- metadata / versions (api/metadata.py, utils/ver) ----
    def get_version(self, prefix: str) -> str | None:
        """api/metadata.py:24-34 — the ontology's data-version header,
        run through the reference's cleanup_version rule pipeline
        (utils/misc.py:78-118) with date fallback."""
        rows = self.metadata.where(F.col("prefix") == prefix).collect()
        if not rows:
            return None
        return self._clean_version_row(prefix, rows[0])

    @staticmethod
    def _clean_version_row(prefix: str, r) -> str | None:
        """prioritize_version over an already-collected metadata row —
        shared by get_version/get_metadata so neither re-collects."""
        from .normalize.version import prioritize_version

        date = r["date"] if "date" in r.__fields__ else None
        if isinstance(date, str):
            try:
                from datetime import datetime

                date = datetime.strptime(date[:10], "%Y-%m-%d")
            except ValueError:
                date = None
        return prioritize_version(r["version"], prefix, date=date)

    def get_metadata(self, prefix: str) -> dict | None:
        """Version + date metadata dict (VersionMetadata shape)."""
        rows = self.metadata.where(F.col("prefix") == prefix).collect()
        if not rows:
            return None
        r = rows[0]
        return {"prefix": r["prefix"],
                "version": self._clean_version_row(prefix, r),
                "date": r["date"]}

    # ---- obsolete-upgrade (replaced_by / consider; struct.py:1189-1236
    #      nodes-export columns, reader replaced_by flow) ----
    def get_replacements_df(self, prefix: str) -> DataFrame:
        return self.replaced_by.where(F.col("prefix") == prefix)

    def get_replaced_by(self, prefix: str, identifier: str) -> str | None:
        """The replacement CURIE for an obsolete term, or None."""
        rows = (
            self.replaced_by.where(
                (F.col("prefix") == prefix)
                & (F.col("identifier") == identifier)
            )
            .select("replacement_prefix", "replacement_id").collect()
        )
        if not rows:
            return None
        # replaced_by is legally multi-valued; collect order is not —
        # take the sorted minimum for a deterministic answer
        return min(
            f"{r['replacement_prefix']}:{r['replacement_id']}" for r in rows
        )

    def get_considers(self, prefix: str, identifier: str) -> list[str]:
        """consider: alternatives for an obsolete term (CURIEs)."""
        rows = (
            self.considers.where(
                (F.col("prefix") == prefix)
                & (F.col("identifier") == identifier)
            )
            .select("consider_prefix", "consider_id").collect()
        )
        return sorted(
            f"{r['consider_prefix']}:{r['consider_id']}" for r in rows
        )

    # ---- alts (api/alts.py) ----
    def get_id_to_alts(self, prefix: str) -> dict[str, list[str]]:
        """api/alts.py:34-47."""
        df = exports.alts_grouped_list(
            self.alts.where(F.col("prefix") == prefix.lower())
        )
        return {r["identifier"]: list(r["alt_ids"]) for r in self._bounded_rows(df, "this mapping export")}

    def get_alts_to_id(self, prefix: str) -> dict[str, str]:
        """api/alts.py:52-63 — alt id → primary id; an alt id under
        several primaries maps to the smallest."""
        return dict(self._indexed_export("alts", prefix, "get_alts_to_id"))

    def get_primary_identifier(self, prefix: str, identifier: str) -> str:
        """api/alts.py:89-105 — alts_to_id.get(id, id)."""
        alts = self._index("alts", prefix)
        if alts is not None:
            return alts.get(identifier, identifier)
        primary = (
            self.alts.where(
                (F.col("prefix") == prefix)
                & (F.col("alt_id") == identifier)
            ).agg(F.min("identifier")).first()[0]
        )
        return identifier if primary is None else primary

    def get_primary_curie(self, curie: str) -> str:
        """api/alts.py:110-122 — CURIE-shaped alt upgrade."""
        p, i = curie.split(":", 1)
        return f"{p.lower()}:{self.get_primary_identifier(p.lower(), i)}"

    def get_primary_reference(
        self, prefix: str, identifier: str
    ) -> tuple[str, str] | None:
        """api/alts.py:64-76 get_primary_reference — the alt-upgraded
        (prefix, identifier) pair, or None when the prefix is unknown
        to the catalog (the reference returns None on an invalid
        prefix in non-strict mode)."""
        p = prefix.lower()
        terms = self._index("terms", p)
        if not (terms.ids if terms is not None
                else self.terms.where(F.col("prefix") == p).head(1)):
            return None
        return (p, self.get_primary_identifier(p, identifier))

    # ---- xrefs / mappings (api/xrefs.py) ----
    def get_xrefs_df(self, prefix: str) -> DataFrame:
        """api/xrefs.py:90-105 (deduped)."""
        return (
            self.xrefs.where(F.col("prefix") == prefix)
            .select("identifier", "predicate", "target_prefix", "target_id")
            .dropDuplicates()
        )

    def get_filtered_xrefs(
        self, prefix: str, xref_prefix: str
    ) -> dict[str, str]:
        """api/xrefs.py:62-84."""
        df = (
            self.xrefs.where(
                (F.col("prefix") == prefix)
                & (F.col("target_prefix") == xref_prefix)
            )
            .groupBy("identifier")
            .agg(F.min("target_id").alias("target_id"))
        )
        return {r["identifier"]: r["target_id"] for r in self._bounded_rows(df, "this mapping export")}

    def get_mappings_df(self, prefix: str) -> DataFrame:
        """SSSOM rows (struct.py:2167-2201)."""
        return (
            self.xrefs.where(F.col("prefix") == prefix)
            .select(
                F.concat("prefix", F.lit(":"), "identifier").alias("subject_id"),
                F.col("predicate").alias("predicate_id"),
                F.concat("target_prefix", F.lit(":"), "target_id").alias(
                    "object_id"
                ),
            )
            .dropDuplicates()
        )

    def get_semantic_mapping_metadata(
        self,
        prefix: str,
        *,
        id: str | None = None,  # noqa: A002 — reference keyword name
        confidence: float | None = None,
        version: str | None = None,
        lookup_missing_version: bool = True,
    ) -> dict:
        """SSSOM mapping-set metadata for a resource — the reference's
        ``get_semantic_mapping_metadata`` (constants.py:293-322), which
        builds a ``sssom_pydantic.MappingSet`` from the bioregistry
        record plus a bioversions lookup. Bioregistry/bioversions are
        network services (oos), so: title/IRI/source come from the
        local prefix registry, version from this catalog's metadata
        table (one collect), and description/license stay None — the
        ontology header doesn't carry them; pass them through the
        resource catalog if known."""
        from .normalize.registry import Registry, preferred_case

        reg = Registry.default()
        norm = reg.normalize_prefix(prefix) or prefix.lower()
        if version is None and lookup_missing_version:
            # single metadata-row collect; get_version would re-collect
            # the same row get_metadata already fetched
            version = (self.get_metadata(norm) or {}).get("version")
        return {
            "id": id
            or f"https://w3id.org/biopragmatics/pyobo/mappings/{norm}.sssom.tsv",
            "title": preferred_case(norm),
            "source": [f"https://bioregistry.io/{norm}"],
            "description": None,
            "license": None,
            "confidence": confidence,
            "version": version,
        }

    def get_semantic_mapping_pack(self, prefix: str) -> tuple[DataFrame, dict]:
        """(mappings DataFrame, mapping-set metadata) — the reference's
        ``SemanticMappingPack`` shape (api/xrefs.py:122-146): the SSSOM
        rows paired with the set-level metadata that heads the SSSOM
        TSV. The DataFrame side stays distributed and carries the set's
        version/license/source columns."""
        meta = self.get_semantic_mapping_metadata(prefix)
        return (
            self.get_semantic_mappings_df(
                prefix,
                source=meta["source"][0],
                version=meta.get("version"),
                license=meta.get("license"),
            ),
            meta,
        )

    def get_semantic_mappings_df(
        self,
        prefix: str,
        source: str | None = None,
        version: str | None = None,
        license: str | None = None,
    ) -> DataFrame:
        """Full SSSOM column set (struct.py:2167-2191
        get_semantic_mappings)."""
        xr = self.xrefs.where(F.col("prefix") == prefix).select(
            F.concat("prefix", F.lit(":"), "identifier").alias("subject_id"),
            F.col("predicate").alias("predicate_id"),
            F.concat("target_prefix", F.lit(":"), "target_id").alias(
                "object_id"
            ),
        )
        return exports.semantic_mappings(
            xr, source=source, version=version, license=license
        )

    # ---- relations / species (api/relations.py, api/species.py) ----
    def get_relations_df(self, prefix: str) -> DataFrame:
        return self.relations.where(F.col("prefix") == prefix)

    def get_filtered_relations_df(
        self, prefix: str, relation: tuple[str, str]
    ) -> DataFrame:
        return exports.filtered_relations(
            self.relations.where(F.col("prefix") == prefix), *relation
        )

    def get_relation_mapping(
        self, prefix: str, relation: tuple[str, str], target_prefix: str
    ) -> dict[str, str]:
        df = exports.relation_mapping(
            self.relations.where(F.col("prefix") == prefix),
            relation[0], relation[1], target_prefix,
        )
        return {r["identifier"]: r["target_id"] for r in self._bounded_rows(df, "this mapping export")}

    def get_id_species_mapping(self, prefix: str) -> dict[str, str]:
        """api/species.py:25-45."""
        df = exports.species(self.relations.where(F.col("prefix") == prefix))
        return {r["identifier"]: r["taxonomy_id"] for r in self._bounded_rows(df, "this mapping export")}

    def get_species(self, prefix: str, identifier: str) -> str | None:
        """api/species.py:50-66 — single-term taxonomy lookup."""
        p = prefix.lower()
        return self.get_id_species_mapping(p).get(
            self.get_primary_identifier(p, identifier)
        )

    def get_relation(
        self,
        prefix: str,
        identifier: str,
        relation: tuple[str, str],
        target_prefix: str,
    ) -> str | None:
        """api/relations.py get_relation — single relation target."""
        return self.get_relation_mapping(
            prefix.lower(), relation, target_prefix
        ).get(identifier)

    def get_xref(
        self, prefix: str, identifier: str, xref_prefix: str
    ) -> str | None:
        """api/xrefs.py:40-57 — single xref target."""
        return self.get_filtered_xrefs(prefix.lower(), xref_prefix).get(
            identifier
        )

    def get_xrefs(self, prefix: str, identifier: str) -> list[str]:
        """api/xrefs.py get_xrefs — one term's xref target CURIEs."""
        xrefs = self._index("xrefs", prefix)
        if xrefs is not None:
            return list(xrefs.get(identifier, ()))
        rows = (
            self.xrefs.where(
                (F.col("prefix") == prefix.lower())
                & (F.col("identifier") == identifier)
            )
            .select(
                F.concat_ws(":", "target_prefix", "target_id").alias("t")
            )
            .distinct()
            .collect()
        )
        return sorted(r["t"] for r in rows)

    def get_sssom_df(self, prefix: str) -> DataFrame:
        """api/xrefs.py get_sssom_df — alias of the SSSOM mapping rows."""
        return self.get_mappings_df(prefix)

    def get_id_multirelations_mapping(
        self, prefix: str, relation: tuple[str, str]
    ) -> dict[str, list[str]]:
        """api/relations.py get_id_multirelations_mapping — every target
        CURIE per identifier for one predicate."""
        df = exports.relation_multimapping_list(
            self.relations.where(F.col("prefix") == prefix), *relation
        )
        return {r["identifier"]: list(r["targets"]) for r in self._bounded_rows(df, "this mapping export")}

    # ---- properties (api/properties.py) ----
    def get_properties_df(self, prefix: str) -> DataFrame:
        obj = self.object_properties
        # per-prefix like the reference (api/properties.py): without this
        # filter a multi-ontology catalog would return every other
        # ontology's rows with unstripped CURIEs as identifiers
        mine = F.col("source_curie").startswith(f"{prefix.lower()}:")
        # the CURIE strip inside properties_combined must use the SAME
        # folded prefix as the filter, or an uppercase argument returns
        # rows with unstripped identifiers
        return exports.properties_combined(
            self.properties.where(mine), obj.where(mine), prefix.lower()
        )

    def get_literal_properties_df(self, prefix: str) -> DataFrame:
        """api/properties.py get_literal_properties_df — the literal
        (value-typed) property rows only."""
        return self.properties.where(
            F.col("source_curie").startswith(f"{prefix.lower()}:")
        )

    def get_object_properties_df(self, prefix: str) -> DataFrame:
        """api/properties.py get_object_properties_df — the object
        (reference-typed) property rows only."""
        return self.object_properties.where(
            F.col("source_curie").startswith(f"{prefix.lower()}:")
        )

    def get_property(
        self, prefix: str, identifier: str, prop: str
    ) -> str | None:
        """api/properties.py:157-176 — single property value via the
        filtered-properties mapping."""
        return self.get_filtered_properties_mapping(prefix.lower(), prop).get(
            identifier
        )

    def _my_properties(self, prefix: str) -> DataFrame:
        """Rows of this prefix only — without the filter a multi-
        ontology catalog leaks other ontologies' rows with unstripped
        CURIE identifiers (same guard get_properties_df documents)."""
        return self.properties.where(
            F.col("source_curie").startswith(f"{prefix}:")
        )

    def get_filtered_properties_mapping(
        self, prefix: str, prop: str
    ) -> dict[str, str]:
        p = prefix.lower()
        df = exports.filtered_properties_mapping(
            self._my_properties(p), prop, p
        )
        return {r["identifier"]: r["value"] for r in self._bounded_rows(df, "this mapping export")}

    def get_filtered_properties_df(self, prefix: str, prop: str) -> DataFrame:
        """api/properties.py get_filtered_properties_df — the scalable
        DataFrame form of the filtered-properties mapping."""
        p = prefix.lower()
        return exports.filtered_properties_mapping(
            self._my_properties(p), prop, p
        )

    def get_filtered_properties_multimapping(
        self, prefix: str, prop: str
    ) -> dict[str, list[str]]:
        """api/properties.py get_filtered_properties_multimapping —
        id → sorted value list. Array-valued aggregation end-to-end
        (like get_id_synonyms_mapping): no delimiter round-trip, '|'
        inside property values is safe."""
        p = prefix.lower()
        df = (
            self._my_properties(p)
            .where(F.col("predicate_curie") == prop)
            .select(
                F.regexp_replace("source_curie", f"^{p}:", "").alias(
                    "identifier"
                ),
                "value",
            )
            .groupBy("identifier")
            .agg(F.sort_array(F.collect_list("value")).alias("values"))
        )
        return {
            r["identifier"]: list(r["values"])
            for r in self._bounded_rows(df, "this mapping export")
        }

    # ---- hierarchy (api/hierarchy.py) ----
    def get_hierarchy(self, prefix: str, **kw) -> DataFrame:
        return hierarchy.hierarchy_edges(
            self.parents, self.relations, prefix=prefix, **kw
        )

    @staticmethod
    def _as_curie(prefix: str, ref: str) -> str:
        """Accept a bare local id (scoped to `prefix`) or a full CURIE.
        The stored prefixes are lowercase (reader normalization), so a
        canonical uppercase CURIE ('CHEBI:24431') must be folded or the
        lookup silently misses."""
        if ":" not in ref:
            return f"{prefix.lower()}:{ref}"
        p, i = ref.split(":", 1)
        return f"{p.lower()}:{i}"

    def get_hierarchy_nodes(
        self, prefix: str, properties: tuple[str, ...] = ()
    ) -> DataFrame:
        """Node set of get_hierarchy with literal property values
        attached (api/hierarchy.py:106-109)."""
        return hierarchy.hierarchy_nodes(
            self.terms, self.properties, prefix,
            property_predicates=properties,
        )

    def get_text_embeddings_df(
        self, prefix: str, dim: int | None = None
    ) -> DataFrame:
        """Term-keyed embedding artifact (reference api/embedding.py:52-169,
        get_text_embeddings_df): one row per named term, (prefix,
        identifier, curie, vector). Deterministic stub kernel — see
        operators/embeddings.py docstring."""
        from .operators import embeddings as E

        kw = {} if dim is None else {"dim": dim}
        return E.term_embeddings(
            self.terms.where(F.col("prefix") == prefix.lower()), **kw
        )

    def get_embedding_similarity(
        self, prefix: str, identifier_a: str, identifier_b: str
    ) -> float | None:
        """Cosine similarity between two terms' embedding vectors
        (reference api/embedding.py:212-252)."""
        from .operators import embeddings as E

        emb = self.get_text_embeddings_df(prefix)
        return E.embedding_similarity(
            emb,
            self._as_curie(prefix, identifier_a),
            self._as_curie(prefix, identifier_b),
        )

    def get_text_embedding(
        self, prefix: str, identifier: str
    ) -> list[float] | None:
        """api/embedding.py get_text_embedding — one term's vector."""
        rows = (
            self.get_text_embeddings_df(prefix)
            .where(F.col("identifier") == identifier)
            .select("vector")
            .collect()
        )
        return list(rows[0]["vector"]) if rows else None

    def get_text_embedding_similarity(
        self, prefix: str, identifier_a: str, identifier_b: str
    ) -> float | None:
        """Reference-named alias of get_embedding_similarity
        (api/embedding.py get_text_embedding_similarity)."""
        return self.get_embedding_similarity(
            prefix, identifier_a, identifier_b
        )

    def get_nearest_terms(
        self, prefix: str, identifier: str, k: int = 5
    ) -> list[tuple[str, float]]:
        """Top-k nearest terms by embedding cosine (the reference's
        similarity lookup shape)."""
        from .operators import embeddings as E

        emb = self.get_text_embeddings_df(prefix)
        q = self._spark.createDataFrame(
            [(self._as_curie(prefix, identifier),)], "curie string"
        )
        rows = E.nearest_terms(emb, q, k=k).collect()
        return [(r["neighbor_curie"], r["cosine"]) for r in rows]

    def get_ancestors(self, prefix: str, identifier: str) -> set[str]:
        """Returns CURIE strings (reference returns set[Reference],
        api/hierarchy.py:205-214) — curie-keyed so multi-ontology
        catalogs with colliding numeric locals can't merge hierarchies.

        Walks outward from the one node (hierarchy.reachable's
        semantics): a bounded hierarchy (≤ BROADCAST_CLOSURE_MAX_EDGES
        edges, $PYOBO_SPARK_BFS_BROADCAST_MAX_EDGES) is swept over the
        prefix's hierarchy index, with no Spark job once the index is
        built; a larger one falls back to the all-pairs closure
        filtered to the node. At most 51 levels; the node is its own
        ancestor only when a cycle leads back to it."""
        node = self._as_curie(prefix, identifier)
        return self._reach(prefix, [node])[node]

    def get_descendants(self, prefix: str, identifier: str) -> set[str]:
        """CURIE strings of every node below ``identifier``
        (api/hierarchy.py:140-148). Same rooted path, gate, fallback and
        cycle and level-cap semantics as :meth:`get_ancestors`, walking
        parent → child."""
        node = self._as_curie(prefix, identifier)
        return self._reach(prefix, [node], down=True)[node]

    def get_children(self, prefix: str, identifier: str) -> set[str]:
        """CURIEs one level below ``identifier``: a 1-level sweep down
        the hierarchy index, or a filter on the edges above its bound.
        An edge with a NULL endpoint is ignored, as by the sweeps."""
        node = self._as_curie(prefix, identifier)
        h = self._index("parents", prefix)
        if h is not None:
            return h.reach([node], down=True, levels=1)[node]
        return {
            r["identifier"]
            for r in hierarchy.children(
                hierarchy.curie_edges(self.parents, prefix), node
            ).collect()
        } - {None}

    def _reach(
        self, prefix: str, roots: list[str], down: bool = False
    ) -> dict[str, set[str]]:
        """hierarchy.reachable over ``prefix``'s CURIE edges: from the
        hierarchy index, or above its bound by the distributed closure
        (edge bound 0: the capped collect already ran)."""
        roots = list(dict.fromkeys(roots))
        h = self._index("parents", prefix)
        if h is not None:
            return h.reach(roots, down=down)
        return hierarchy.reachable(
            hierarchy.curie_edges(self.parents, prefix), roots,
            broadcast_edge_bound=0, down=down,
        )

    def has_ancestor(self, prefix: str, identifier: str, anc: str) -> bool:
        return self._as_curie(prefix, anc) in self.get_ancestors(
            prefix, identifier
        )

    def is_descendent(self, prefix: str, identifier: str, desc: str) -> bool:
        """(sic — the reference spells it 'is_descendent')."""
        return self._as_curie(prefix, desc) in self.get_descendants(
            prefix, identifier
        )

    def get_subhierarchy(self, prefix: str, root: str) -> DataFrame:
        return hierarchy.subhierarchy(
            hierarchy.curie_edges(self.parents, prefix),
            self._as_curie(prefix, root),
        )

    def get_graph(self, prefix: str, version: str | None = None) -> dict:
        """api/edges.py get_graph / struct.py to_obonet — the full graph
        as a networkx-compatible node-link dict (feed to
        ``networkx.node_link_graph`` for the reference's MultiDiGraph)."""
        from .operators.obonet_export import node_link_document

        return node_link_document(
            self.terms, self.synonyms, self.xrefs, self.relations,
            self.parents, prefix, version=version or self.get_version(prefix),
        )

    def get_obsolete_references(self, prefix: str) -> set[str]:
        """api/names.py get_obsolete_references — CURIE-shaped obsolete
        set."""
        p = prefix.lower()
        return {f"{p}:{i}" for i in self.get_obsolete(p)}

    def get_edges_df(self, prefix: str) -> DataFrame:
        typedefs = self._spark.createDataFrame(
            [(p, i) for p, i, _ in exports.DEFAULT_TYPEDEFS],
            "typedef_prefix string, typedef_id string",
        )
        rel_ok = exports.relations_typedef_filtered(
            self.relations.where(F.col("prefix") == prefix), typedefs
        )
        return exports.edges(rel_ok, self.parents, prefix=prefix)

    # ---- grounding / NER (pyobo.ground, ner/) ----
    def get_literal_mappings_df(
        self, prefix: str, skip_obsolete: bool = False
    ) -> DataFrame:
        lm = build_literal_mappings(
            self.terms.where(F.col("prefix") == prefix),
            self.synonyms.where(F.col("prefix") == prefix),
        )
        if skip_obsolete:
            lm = lm.join(
                exports.obsoletes(self.terms),
                on=["prefix", "identifier"],
                how="left_anti",
            )
        return lm

    def get_literal_mappings_subset(
        self, prefix: str, ancestors: list[str] | str
    ) -> DataFrame:
        """api/combine.py:19-39 get_literal_mappings_subset — literal
        mappings restricted to the descendant closures of the given
        ancestor identifiers. Like the reference (get_descendants is
        nx.ancestors on the reversed graph, api/hierarchy.py:148), the
        ancestors THEMSELVES are excluded. Closure runs on full-CURIE
        edge keys (bare locals collide across ontologies in a
        multi-ontology catalog — hierarchy.curie_edges)."""
        anc = [ancestors] if isinstance(ancestors, str) else list(ancestors)
        p = prefix.lower()
        anc_curies = [self._as_curie(p, a) for a in anc]
        reached = self._reach(p, anc_curies, down=True)
        members = hierarchy.node_frame(
            self._spark,
            {
                c[len(p) + 1:]
                for below in reached.values()
                for c in below
                if c.startswith(f"{p}:")
            },
            "identifier",
        )
        return self.get_literal_mappings_df(p).join(
            members, on="identifier", how="left_semi"
        )

    def get_grounder(
        self, prefix: str | tuple[str, ...] | list[str],
        skip_obsolete: bool = False,
    ):
        """ner/api.py:30-58 — broadcast hybrid matcher. Accepts one
        prefix or several (the reference grounds against an Iterable of
        namespaces, normalizer.py:41-53 — one combined dictionary).
        Cached per (prefixes, skip_obsolete): a single shared slot would
        silently reuse the first ontology's dictionary for every other
        prefix in a multi-ontology catalog."""
        prefixes = (
            (prefix,) if isinstance(prefix, str) else tuple(prefix)
        )
        # fold case here too: the class decorator only folds a STRING
        # first argument, so ('FIXO',) would otherwise cache a duplicate
        # broadcast matcher beside ('fixo',)
        prefixes = tuple(p.lower() for p in prefixes)
        # order-insensitive key: the built matcher is identical for any
        # permutation of the same prefix set, so ('a','b') and ('b','a')
        # must share one broadcast dictionary
        key = (tuple(sorted(set(prefixes))), skip_obsolete)
        if key not in self._grounders:
            # entry lists cached per SINGLE prefix so a combined-prefix
            # grounder re-collects nothing; matcher broadcasts are still
            # per requested combination — call clear_caches() to
            # unpersist them all when a long-lived catalog rotates
            # dictionaries
            entries: list = []
            for p in key[0]:
                ekey = (p, skip_obsolete)
                if ekey not in self._dict_entries:
                    self._dict_entries[ekey] = _dict.dictionary_entries(
                        self.get_literal_mappings_df(p, skip_obsolete)
                    )
                entries.extend(self._dict_entries[ekey])
            self._grounders[key] = _dict.broadcast_matcher(
                self._spark, _dict.build_matcher(entries)
            )
        return self._grounders[key]

    def clear_caches(self) -> None:
        """Unpersist every cached broadcast matcher and drop every
        driver index (memory release for long-lived multi-ontology
        catalogs)."""
        for bc in self._grounders.values():
            try:
                bc.unpersist()
            except Exception:  # noqa: BLE001 — already released
                pass
        self._grounders.clear()
        self._dict_entries.clear()
        self._indexes.clear()

    def ground(
        self,
        prefix: str | tuple[str, ...] | list[str],
        text: str,
        strict_match: bool = False,
    ) -> str | None:
        """pyobo.ground (ner/normalizer.py:41-62): best match for one
        string — driver-side convenience over the same matcher. With
        several prefixes, grounds against the combined dictionary;
        strict_match raises instead of returning None."""
        m = self.get_grounder(prefix).value
        tokens = _dict.fold_text(text).split(" ")
        best = None
        for start, end, curie, score in m.search(tokens):
            key = (-score, -(end - start), curie)
            if best is None or key < best[0]:
                best = (key, curie)
        if best is None and strict_match:
            raise ValueError(
                f"no match found for query: {text} against prefixes: {prefix}"
            )
        return best[1] if best else None

    def ground_df(self, prefix: str, documents: DataFrame) -> DataFrame:
        """Batch grounding: documents(doc_id, spans[]) → best mentions."""
        return _matcher.detect_mentions(documents, self.get_grounder(prefix))
