"""Mention detection over the interleaved corpus — the north-rule core.

Pipeline (SURVEY.md §3.2 Spark lifecycle):
  documents(doc_id, spans[]) → posexplode (span order preserved as
  span_idx) → filter kind='text' (media spans bypass untouched — the
  span-sequence invariant is checked on the full set) → the matcher
  kernel (:func:`match_rows`) with the BROADCAST Aho-Corasick automaton
  → mentions(doc_id, span_idx, token_start, token_end, matched_text,
  curie, score) → best-match (top-1 per span position, the engine's
  only top-k — reference ner/normalizer.py:55).

Two placements of the one kernel (:func:`detect_mentions`):
- Driver: documents already on the driver (``isLocal()``, e.g. a
  ``createDataFrame`` batch) of at most ``LOCAL_MAX_DOCS`` rows are
  collected with no Spark job, matched in-process and returned as a
  local DataFrame — no Python worker, no job boundary. A 50-document
  batch grounds in ~42 ms instead of ~415 ms, of which the matcher body
  is ~7 ms.
- Executors: everything else (parquet scans, large batches) runs the
  kernel in an Arrow-batched mapInPandas, map-only.

Scale notes:
- The automaton is broadcast once (pickled dict-trie); corpus rows never
  shuffle for the match itself — it's a map-only stage.
- mapInPandas receives Arrow record batches; the Python work is a single
  pass per token (Aho-Corasick is linear), no per-row Python UDF calls.
- The best-match window shuffles on (doc_id, span_idx, token_start) —
  bounded by mention count, not corpus size.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .dictionary import AhoCorasick, fold_text

MATCH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("span_idx", T.IntegerType()),
        T.StructField("token_start", T.IntegerType()),
        T.StructField("token_end", T.IntegerType()),
        T.StructField("matched_text", T.StringType()),
        T.StructField("curie", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)
_MATCH_ARROW_SCHEMA = to_arrow_schema(MATCH_SCHEMA)


def explode_spans(documents: DataFrame) -> DataFrame:
    """posexplode keeps span order as span_idx — the per-row invariant
    (kind, text, media_ref, order) is reassembled from exactly this."""
    return documents.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "span")
    ).select(
        "doc_id",
        "span_idx",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def reassemble_spans(exploded: DataFrame) -> DataFrame:
    """Inverse of explode_spans: sort_array on (span_idx, struct) restores
    the original span sequence — used by the span-sequence equality test."""
    return (
        exploded.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "span_idx",
                        F.struct("kind", "text", "media_ref", "offset").alias("span"),
                    )
                )
            ).alias("pairs")
        )
        .select(
            "doc_id",
            F.expr("transform(pairs, p -> p.span)").alias("spans"),
        )
    )


#: Most documents :func:`detect_mentions` matches on the driver. On 4
#: cores (fixture corpus, ~6.6 spans per document, driver path vs
#: mapInPandas job, collect included): 500 docs 139 vs 406 ms, 1,000
#: docs 212 vs 365 ms, 2,000 docs 338 vs 429 ms, 5,000 docs 873 vs
#: 544 ms — the crossover lies between 2,000 and 5,000 documents. A
#: driver-side batch above the cap pays the capped collect (~55 ms)
#: before its job.
LOCAL_MAX_DOCS = 1000


def candidate_key(candidate: tuple) -> tuple:
    """Order of the matcher's (start, end, curie, score) candidates,
    best first: higher score, then longer match, then smallest curie —
    the same order as best_match's window."""
    start, end, curie, score = candidate
    return (-score, start - end, curie)


def match_rows(rows, matcher, fold: bool = True,
               best_per_site: bool = True) -> dict[str, list]:
    """The matcher kernel: (doc_id, span_idx, text) rows → MATCH_SCHEMA
    columns. With best_per_site, only the best candidate (candidate_key)
    per (row, token_start) is kept — every candidate for a site comes
    from the same row, so no cross-row step is needed. fold=False skips
    the Python-side text folding (text already folded upstream)."""
    search = matcher.search
    cols: dict[str, list] = {f: [] for f in MATCH_SCHEMA.fieldNames()}
    doc_ids, span_idxs, starts, ends, texts, curies, scores = cols.values()
    for doc_id, span_idx, text in rows:
        if not text:
            continue
        tokens = (fold_text(text) if fold else text).split(" ")
        if best_per_site:
            best: dict[int, tuple] = {}
            for cand in search(tokens):
                key, start = candidate_key(cand), cand[0]
                if start not in best or key < best[start][0]:
                    best[start] = (key, cand)
            matches = [cand for _, cand in best.values()]
        else:
            matches = list(search(tokens))
        for start, end, curie, score in matches:
            doc_ids.append(doc_id)
            span_idxs.append(span_idx)
            starts.append(start)
            ends.append(end)
            texts.append(" ".join(tokens[start:end]))
            curies.append(curie)
            scores.append(score)
    return cols


def match_text_spans(
    text_spans: DataFrame, automaton_broadcast, fold: bool = True
) -> DataFrame:
    """Run the broadcast matcher (AhoCorasick or HybridMatcher — anything
    with .search(tokens)) over (doc_id, span_idx, text) rows.

    fold=False skips Python-side text folding — use when the text is
    already folded (e.g. lower() applied JVM-side upstream, ASCII corpus);
    halves the Python cost of the hot loop."""

    return _run_matcher(text_spans, automaton_broadcast, fold, best_per_site=False)


def match_text_spans_best(
    text_spans: DataFrame, automaton_broadcast, fold: bool = True
) -> DataFrame:
    """match_text_spans + best-match resolved INSIDE the UDF: every
    candidate for a given (doc, span, token_start) site is produced from
    the same input row, so top-1 selection needs no shuffle at all —
    the window variant (best_match) exists for cross-row generality, but
    this is the scale path: map-only end to end."""
    return _run_matcher(text_spans, automaton_broadcast, fold, best_per_site=True)


def _run_matcher(
    text_spans: DataFrame, automaton_broadcast, fold: bool, best_per_site: bool
) -> DataFrame:
    def matcher(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ac = automaton_broadcast.value
        for pdf in batches:
            rows = zip(pdf["doc_id"].tolist(), pdf["span_idx"].tolist(),
                       pdf["text"].tolist())
            yield pd.DataFrame(match_rows(rows, ac, fold, best_per_site))

    return text_spans.select(
        F.col("doc_id").cast("string"), "span_idx", "text"
    ).mapInPandas(matcher, schema=MATCH_SCHEMA)


COUNT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("curie", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)


def match_mention_counts(
    text_spans: DataFrame, matcher_broadcast, fold: bool = True
) -> DataFrame:
    """Map-side-combined mention counting: the UDF emits (doc_id, curie,
    partial_count) instead of one row per occurrence — the partial
    aggregation happens INSIDE the Arrow batch (classic map-side combine),
    so the shuffle carries ~|distinct (doc, curie)| rows, not |mentions|.
    Finish with groupBy(doc_id, curie).sum. Identical results to
    match_text_spans + groupBy count, at a fraction of the transfer and
    shuffle volume — this is the hot path for corpus-scale counter
    stages (db_output_helper counters, getters.py:477-571)."""
    partial = match_mention_counts_partial(text_spans, matcher_broadcast, fold)
    return partial.groupBy("doc_id", "curie").agg(F.sum("n").alias("n_mentions"))


def match_mention_counts_partial(
    text_spans: DataFrame, matcher_broadcast, fold: bool = True
) -> DataFrame:
    """The map-only partial stage of match_mention_counts: (doc_id,
    curie, n) with per-document combine inside the Arrow batch and NO
    aggregation — streaming stateful consumers (applyInPandasWithState)
    take this directly, since Structured Streaming forbids an agg before
    the stateful operator."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ac = matcher_broadcast.value
        search = ac.search
        do_fold = fold
        for pdf in batches:
            doc_ids: list = []
            curies: list = []
            ns: list = []
            for doc_id, text in zip(
                pdf["doc_id"].tolist(), pdf["text"].tolist()
            ):
                if not text:
                    continue
                tokens = (fold_text(text) if do_fold else text).split(" ")
                cnt: dict[str, int] = {}
                for _, _, curie, _ in search(tokens):
                    cnt[curie] = cnt.get(curie, 0) + 1
                if cnt:
                    doc_ids.extend([doc_id] * len(cnt))
                    curies.extend(cnt.keys())
                    ns.extend(cnt.values())
            yield pd.DataFrame({"doc_id": doc_ids, "curie": curies, "n": ns})

    return text_spans.select(
        F.col("doc_id").cast("string"), "text"
    ).mapInPandas(run, schema=COUNT_SCHEMA)


def best_match(mentions: DataFrame) -> DataFrame:
    """Top-1 per mention site — prefer higher score, then longer match,
    then lexicographically-smallest curie (deterministic tie-break).
    Mirrors grounder.get_best_match (ner/normalizer.py:55)."""
    w = Window.partitionBy("doc_id", "span_idx", "token_start").orderBy(
        F.desc("score"),
        F.desc(F.col("token_end") - F.col("token_start")),
        F.asc("curie"),
    )
    return (
        mentions.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def detect_mentions(
    documents: DataFrame, automaton_broadcast, keep_all: bool = False
) -> DataFrame:
    """documents(doc_id, spans[]) → best-match mentions (every candidate
    with keep_all), in one of two placements of the same kernel:

    - documents already on the driver (``isLocal()``) and at most
      ``LOCAL_MAX_DOCS`` rows: collected with no Spark job (Spark folds
      the limit, and a doc_id cast where one is needed, into the local
      relation), matched on the driver and returned as a local
      DataFrame, so a caller's collect runs no job either;
    - otherwise map-only on the executors: the per-site top-1 resolves
      inside the mapInPandas UDF, no shuffle.

    On 4 cores the driver placement wins up to at least 2,000 documents
    (50 documents: ~42 vs ~415 ms, almost all of it the Python-UDF job
    boundary); the cap sits below that crossover."""
    if documents.isLocal():
        local = _detect_on_driver(documents, automaton_broadcast, not keep_all)
        if local is not None:
            return local
    exploded = explode_spans(documents)
    text_spans = exploded.where(F.col("kind") == "text")
    if keep_all:
        return match_text_spans(text_spans, automaton_broadcast)
    return match_text_spans_best(text_spans, automaton_broadcast)


def _detect_on_driver(
    documents: DataFrame, automaton_broadcast, best_per_site: bool
) -> DataFrame | None:
    """The driver placement of detect_mentions; None above the cap.
    Mirrors explode_spans: span_idx counts every element (media and
    NULL spans included), only kind='text' spans are matched.

    A (doc_id, spans) frame whose doc_id is a string or an integer is
    collected as it is and doc_id cast with str() (the same text as
    Spark's cast). A select would cost ~35 Py4J round trips and one
    more query analysis per call (~13 ms, more than the collect), and
    the JVM-side planning is what warms up and varies from run to run."""
    schema = documents.schema
    if schema.names != ["doc_id", "spans"] or not isinstance(
        schema["doc_id"].dataType, (T.StringType, T.IntegralType)
    ):
        documents = documents.select(
            F.col("doc_id").cast("string"), "spans"
        )
    docs = documents.limit(LOCAL_MAX_DOCS + 1).collect()
    if len(docs) > LOCAL_MAX_DOCS:
        return None
    rows = (
        (None if doc_id is None else str(doc_id), span_idx, span["text"])
        for doc_id, spans in docs
        for span_idx, span in enumerate(spans or ())
        if span is not None and span["kind"] == "text"
    )
    cols = match_rows(rows, automaton_broadcast.value, True, best_per_site)
    table = pa.table(cols, schema=_MATCH_ARROW_SCHEMA)
    return documents.sparkSession.createDataFrame(table, schema=MATCH_SCHEMA)


def mention_triples(mentions: DataFrame) -> DataFrame:
    """Materialize (subj, pred, obj) triples from grounded mentions."""
    return mentions.select(
        F.concat(F.lit("doc:"), F.col("doc_id")).alias("subject_curie"),
        F.lit("pyobo:mentions").alias("predicate_curie"),
        F.col("curie").alias("object_curie"),
    ).distinct()
