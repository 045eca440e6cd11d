"""Text analysis operators — token counting, quality scoring and
document fingerprinting. All JVM-side (built-in functions), zero
Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
