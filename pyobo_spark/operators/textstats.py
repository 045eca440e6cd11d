"""Text analysis operators — token counting, quality scoring, document
fingerprinting and the Gopher repetition/quality rules. All JVM-side
(built-in functions) except the Gopher n-gram repetition counter, which
is an Arrow-batched pandas pass.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

STOPWORDS = ("the", "a", "of", "and", "to", "in", "was", "for", "by")


def token_stats(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_chars, avg_token_len, stopword_ratio,
    quality_score) — all whole-stage-codegen expressions, zero Python."""
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_chars = F.length("text")
    avg_len = (n_chars - (n_tokens - 1)) / n_tokens  # chars minus separators
    stop_ratio = n_stop / n_tokens
    # simple quality heuristic: length band + stopword presence
    quality = (
        F.when((n_tokens >= 10) & (n_tokens <= 400), F.lit(0.5)).otherwise(F.lit(0.0))
        + F.when((stop_ratio > 0.01) & (stop_ratio < 0.6), F.lit(0.5)).otherwise(
            F.lit(0.0)
        )
    )
    return documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        F.round(avg_len, 4).alias("avg_token_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        quality.alias("quality_score"),
    )


def document_fingerprint(documents: DataFrame, mod: int = 1 << 31) -> DataFrame:
    """Rolling polynomial hash over tokens (Karp-Rabin style):
    acc = (acc*31 + crc32(token)) mod 2^31 — pure JVM F.aggregate."""
    toks = F.split(F.col("text"), " ")
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + F.crc32(t.cast("binary"))) % F.lit(mod),
    )
    return documents.select("doc_id", fp.alias("fingerprint"))


def gopher_repetition(
    documents: DataFrame,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5,),
) -> DataFrame:
    """Per-document repetition metrics in the style of the Gopher
    quality rules (Rae et al. 2021, arXiv:2112.11446 — the fractions of
    a document covered by its most frequent / its duplicated n-grams,
    the standard repetition filter in large-scale corpus pipelines):

    - ``top_{n}gram_char_frac``: (count x gram chars) of the single
      MOST FREQUENT token n-gram, over the document's character count;
      count ties break toward the longer gram (deterministic on both
      engines — the oracle takes a lexicographic (cnt, len) max).
    - ``dup_{n}gram_char_frac``: the same numerator summed over ALL
      n-grams occurring at least twice.

    Overlapping occurrences are counted as defined (count x length), so
    dup fractions can exceed 1 on degenerate documents — it is a score
    to threshold on, not a proportion.

    Scale: the metric is strictly per-document, so the plan is MAP-ONLY
    — an Arrow-batched counting kernel with ZERO Exchange (plan-guarded
    in tests/test_plans.py). The rejected alternative (explode grams →
    groupBy (doc, n, gram) → two more aggregations) shuffles the gram
    multiset of the whole corpus twice for a result that never needed
    cross-partition data; and a JVM higher-order-function gram pipeline
    measured ~3x slower than the Arrow batch on this workload
    (interpreted lambda per element — see ngram_jaccard_pairs).
    Rounding stays JVM-side (F.round is HALF_UP like the DuckDB oracle;
    Python's round is banker's): the kernel emits raw float64 built
    from exact integer counts, so both engines round identical doubles.
    Token-poor documents (fewer than n tokens) stay in the output with
    zero fractions.
    """
    all_ns = sorted(set(top_ns) | set(dup_ns))
    cols = [f"top_{n}gram_char_frac" for n in top_ns] + [
        f"dup_{n}gram_char_frac" for n in dup_ns
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from collections import Counter

        for pdf in batches:
            data: dict[str, list] = {c: [] for c in cols}
            for text in pdf["text"].astype(object):
                toks = text.split(" ")
                n_chars = len(text)
                for n in all_ns:
                    counts = Counter(
                        " ".join(toks[i : i + n])
                        for i in range(len(toks) - n + 1)
                    )
                    if n in top_ns:
                        # chars covered by the MOST FREQUENT n-gram (the
                        # Gopher/DataTrove rule), not max(count x len)
                        # over all grams — a rarer-but-longer gram must
                        # not win. Ties on count break toward the longer
                        # gram (deterministic, and what the DuckDB
                        # oracle's lexicographic (cnt, len) max does).
                        if counts:
                            max_cnt = max(counts.values())
                            top = max_cnt * max(
                                len(g)
                                for g, c in counts.items()
                                if c == max_cnt
                            )
                        else:
                            top = 0
                        data[f"top_{n}gram_char_frac"].append(top / n_chars)
                    if n in dup_ns:
                        dup = sum(
                            cnt * len(g)
                            for g, cnt in counts.items()
                            if cnt >= 2
                        )
                        data[f"dup_{n}gram_char_frac"].append(dup / n_chars)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], **data})

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType())]
        + [T.StructField(c, T.DoubleType()) for c in cols]
    )
    out = (
        documents.where(F.col("text").isNotNull() & (F.length("text") > 0))
        .select("doc_id", "text")
        .mapInPandas(run, schema=schema)
    )
    return out.select(
        "doc_id", *[F.round(F.col(c), 4).alias(c) for c in cols]
    )


def gopher_quality(documents: DataFrame) -> DataFrame:
    """Per-document quality-rule metrics + verdict IN THE STYLE OF the
    Gopher rules (Rae et al. 2021, arXiv:2112.11446 §A1.1) — not
    paper-exact (ADVICE r06): the stopword list below is this engine's
    own (the paper's is "the, be, to, of, and, that, have, with"), and
    '#'/'...' are counted as standalone symbol TOKENS rather than
    in-word occurrences. Rules: word-count band, mean-word-length band,
    symbol-to-word ratio, alphabetic-word fraction, and a minimum of
    two DISTINCT stopwords present ("contain at least two of the
    following English words"). Returns every metric plus the combined
    ``passes`` so pipelines can threshold or inspect.

    All columns are whole-stage-codegen expressions — zero Python, one
    map-only stage over the corpus."""
    w = F.split(F.col("text"), " ")
    n_words = F.size(w)
    n_chars = F.length("text")
    mean_word_len = (n_chars - (n_words - 1)) / n_words
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    # DISTINCT stopwords present, not occurrences: the Gopher rule reads
    # "contain at least two of the following English words", so 'the the'
    # alone is ONE qualifying word, not two (array_intersect dedups,
    # matching DuckDB list_intersect in the oracle)
    n_stop = F.size(F.array_intersect(w, stop_arr))
    n_symbol = F.size(
        F.filter(w, lambda t: (t == F.lit("#")) | (t == F.lit("...")))
    )
    n_alpha = F.size(F.filter(w, lambda t: t.rlike("[a-zA-Z]")))
    symbol_ratio = F.round(n_symbol.cast("double") / n_words, 4)
    alpha_frac = F.round(n_alpha.cast("double") / n_words, 4)
    passes = (
        (n_words >= 50)
        & (n_words <= 100000)
        & (mean_word_len >= 3)
        & (mean_word_len <= 10)
        & (n_symbol.cast("double") / n_words <= 0.1)
        & (n_alpha.cast("double") / n_words >= 0.8)
        & (n_stop >= 2)
    )
    return documents.where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_word_frac"),
        n_stop.alias("n_stopwords"),
        passes.alias("passes"),
    )
