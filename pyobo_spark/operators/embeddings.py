"""Term-keyed text embeddings + similarity lookup.

Reference parity: ``api/embedding.py:52-169`` (``get_text_embeddings_df``
— one row per named term with a fixed-dimension vector embedded from its
name/synonym text) and ``api/embedding.py:212-252``
(``get_embedding_similarity`` — cosine similarity between two terms'
vectors, plus nearest-term lookup).

The sentence-transformer model the reference loads is external ML and
not available in this container, so the embedding kernel here is a
deterministic sha256-derived stand-in: component ``i`` of a term's
vector is ``byte_i(sha256(name)) / 255`` rounded to 4 dp. Everything
around the kernel — the (prefix, identifier, vector) artifact schema,
JVM-side hashing (codegen'd sha2/conv, zero Python), the broadcast
query join and windowed top-k in :mod:`.similarity` — is the real
production plumbing; swapping the kernel for an Arrow-batched model
call changes one expression.

Scale notes: embedding computation is map-only (no shuffle); similarity
lookups broadcast the (tiny) query side and reuse
``similarity.cosine_topk_bruteforce`` so the corpus side is never
collected.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import similarity

DEFAULT_DIM = 16


def _fake_embed(col, dim: int):
    """array<double> from sha256(text): byte_i/255 rounded 4dp. JVM-side
    (sha2 + conv are codegen'd) — no Python in the hot path."""
    hexed = F.sha2(col, 256)
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.round(
            F.conv(F.substring(hexed, i * 2 + 1, 2), 16, 10).cast("double")
            / F.lit(255.0),
            4,
        ),
    )


#: Per-Python-worker encoder cache. The closure shipped into each task
#: carries only the (cheap, picklable) loader; the heavy encoder it
#: builds is stored here, in the worker process's imported module, so it
#: survives across tasks (Spark reuses Python workers by default,
#: spark.python.worker.reuse=true) and across executor-restart the new
#: worker simply rebuilds it on first use. Mirrors the reference loading
#: MiniLM once behind @lru_cache (api/embedding.py:117-118).
_ENCODER_CACHE: dict[str, Callable] = {}
# Per-key creator capacities for the SHARED per-worker cache above. The
# effective eviction bound is max(capacities of keys currently RESIDENT)
# — two properties fall out: (a) a default-capacity encoder can never
# truncate the dict below a larger-capacity sibling's working set
# (per-call bounds would evict resident multi-GB models the larger
# caller is rotating); (b) the bound DECAYS — once a high-capacity
# encoder's entry ages out via LRU, its capacity no longer holds slots
# open, so one one-off capacity=8 job doesn't pin 8 superseded models
# in every reused worker for the process lifetime.
_ENCODER_CAPS: dict[str, int] = {}


def cached_encoder(
    loader: Callable[[], Callable],
    key: str | None = None,
    capacity: int = 2,
) -> Callable:
    """Wrap a zero-arg ``loader`` (builds the heavy encoder, e.g. loads
    model weights) into an encoder callable that loads ONCE per Python
    worker process, however many tasks/batches that worker runs.

    Pass the result as ``term_embeddings(model=...)``. ``key`` names the
    cache slot; the default is a digest of the cloudpickled loader, so
    two loaders built by the same factory with different arguments
    (``make_loader('modelA')`` vs ``make_loader('modelB')``) get
    DISTINCT slots — a qualified-name default would collide there and
    silently serve the first model's encoder for the second.
    ``capacity`` bounds how many encoders a worker keeps resident
    (true LRU — hits refresh recency, so a job alternating among
    ``capacity`` models never thrashes; raise it per call if a worker
    must juggle more). The cache is SHARED per worker, so the effective
    bound is the max capacity among encoders currently RESIDENT — a
    default-capacity encoder can't shrink the cache under a
    larger-capacity one, and the bound decays back once the
    high-capacity entries age out via LRU.
    """
    if key is None:
        import hashlib

        from pyspark import cloudpickle

        key = hashlib.sha256(cloudpickle.dumps(loader)).hexdigest()
    k = key
    cap = max(int(capacity), 1)

    def encode(texts):
        # Resolve the cache through the worker's imported module, NOT the
        # closure: cloudpickle ships closure-captured globals BY VALUE, so
        # a captured dict would arrive as a fresh private copy in every
        # task and the model would reload once per task. Importing here
        # hits sys.modules — one module object, one cache, per process.
        import importlib

        mod = importlib.import_module(__name__)
        cache = mod._ENCODER_CACHE
        caps = mod._ENCODER_CAPS
        caps[k] = cap
        enc = cache.get(k)
        if enc is None:
            enc = loader()
            cache[k] = enc
            # bounded like the reference's @lru_cache: a session that
            # rotates models must not pin every superseded encoder's
            # weights in every worker forever. Evict LEAST-recently-used
            # (dicts iterate in insertion order; the hit path below
            # re-inserts on use, so iteration order IS recency order) —
            # pure FIFO would evict the hottest encoder when a job
            # alternates among capacity+1 keys. Bound = max capacity of
            # RESIDENT keys (see _ENCODER_CAPS): composes across sharing
            # encoders and decays as high-capacity entries age out.
            while len(cache) > max(caps.get(key_, 1) for key_ in cache):
                cache.pop(next(iter(cache)))
        else:
            # refresh recency on hit (move_to_end equivalent for a
            # plain dict: delete + re-insert)
            del cache[k]
            cache[k] = enc
        return enc(texts)

    return encode


def numpy_hash_model(dim: int = DEFAULT_DIM) -> Callable:
    """A tiny deterministic stand-in "sentence encoder" used to exercise
    the real model-call path: character-trigram hashing into a bag
    vector, projected through a fixed seeded random matrix, L2-
    normalized. Same call signature as a real encoder
    (``list[str] -> ndarray (n, dim)``), so the swap to MiniLM
    (reference api/embedding.py:117-118 loads
    sentence-transformers/all-MiniLM-L6-v2) is this one function."""
    import hashlib

    import numpy as np

    buckets = 256
    proj = np.random.default_rng(42).standard_normal((buckets, dim))

    def encode(texts) -> "np.ndarray":
        out = np.zeros((len(texts), dim))
        for r, t in enumerate(texts):
            t = t or ""
            bag = np.zeros(buckets)
            for i in range(max(len(t) - 2, 1)):
                h = int.from_bytes(
                    hashlib.sha256(t[i : i + 3].encode()).digest()[:4], "big"
                )
                bag[h % buckets] += 1.0
            v = bag @ proj
            n = np.linalg.norm(v)
            out[r] = v / n if n > 0 else v
        return out

    return encode


def term_embeddings(
    terms: DataFrame,
    dim: int = DEFAULT_DIM,
    model: Callable | None = None,
    batch_size: int = 1024,
) -> DataFrame:
    """(prefix, identifier, curie, vector) for every named term — the
    reference's ``get_text_embeddings_df`` artifact (embedding keyed by
    term, computed from the term's name).

    ``model=None`` (default) uses the JVM-side deterministic hash kernel
    (zero Python in the plan). Passing a ``model`` callable
    (``list[str] -> ndarray (n, dim)``) switches to the Arrow-batched
    real-model path: one encoder call per Arrow batch inside
    ``mapInPandas`` — never per-row. Map-only either way (no shuffle);
    at cluster scale the model loads once per Python worker, not per
    batch, because the closure is deserialized per task but the heavy
    weights should be lazily cached module-level by the callable."""
    from ..spread import spread_small_input

    # restore scan parallelism for the kernel: a 1-row-group terms scan
    # would run the whole embedding projection on one core (no-op for
    # in-memory or many-file inputs, so the zero-Exchange plan guard on
    # fixture inputs still holds)
    named = spread_small_input(terms.where(F.col("name").isNotNull()))
    if model is None:
        return named.select(
            "prefix",
            "identifier",
            F.concat_ws(":", "prefix", "identifier").alias("curie"),
            _fake_embed(F.col("name"), dim).alias("vector"),
        )

    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            vecs = []
            for start in range(0, len(pdf), batch_size):
                chunk = pdf["name"].iloc[start : start + batch_size]
                mat = model(chunk.tolist())
                if mat.shape != (len(chunk), dim):
                    raise ValueError(
                        f"model returned {mat.shape}, expected "
                        f"({len(chunk)}, {dim})"
                    )
                vecs.extend(
                    [[round(float(x), 6) for x in row] for row in mat]
                )
            yield pd.DataFrame(
                {
                    "prefix": pdf["prefix"],
                    "identifier": pdf["identifier"],
                    "curie": pdf["prefix"].astype(str)
                    + ":"
                    + pdf["identifier"].astype(str),
                    "vector": vecs,
                }
            )

    return named.select("prefix", "identifier", "name").mapInPandas(
        run,
        schema=(
            "prefix string, identifier string, curie string, "
            "vector array<double>"
        ),
    )


def nearest_terms(
    embeddings: DataFrame,
    query_curies: DataFrame,
    k: int = 5,
    query_vectors: DataFrame | None = None,
) -> DataFrame:
    """Top-k cosine neighbors for each query term — reference
    ``get_embedding_similarity``'s nearest-lookup shape. The query side
    (a handful of CURIEs) joins against the artifact to pick up vectors,
    then broadcasts into the exact top-k kernel.

    ``query_vectors`` (r7): optional precomputed (curie, vector) rows
    for the query curies. The default pickup join evaluates the WHOLE
    embedding artifact's projection on the query branch too (a
    broadcast join cannot defer the stream side's vector expression),
    so when the artifact is a lazily-computed plan — the usual case —
    callers that can produce the handful of query vectors cheaply
    (e.g. term_embeddings over a pre-filtered terms scan) skip a full
    second embedding pass. Must contain exactly the artifact's rows
    for those curies; result is identical."""
    q = (
        query_vectors
        if query_vectors is not None
        else embeddings.select("curie", "vector").join(
            F.broadcast(query_curies), on="curie"
        )
    )
    return similarity.cosine_topk_bruteforce(
        embeddings, q, k=k, id_col="curie", vec_col="vector"
    ).select(
        F.col("query_id").alias("query_curie"),
        F.col("neighbor_id").alias("neighbor_curie"),
        "cosine",
    )


def embedding_similarity(
    embeddings: DataFrame, curie_a: str, curie_b: str
) -> float | None:
    """Scalar cosine between two terms' vectors (reference
    ``get_embedding_similarity``, api/embedding.py:212-252). Point
    lookup — collects two rows."""
    two = embeddings.where(F.col("curie").isin([curie_a, curie_b]))
    # crossJoin is bounded by construction: each side is the ≤1-row
    # lookup of a single curie, so this is a 1×1 pairing, never a
    # combinatorial product
    pair = (
        two.where(F.col("curie") == curie_a)
        .select(F.col("vector").alias("va"))
        .crossJoin(
            two.where(F.col("curie") == curie_b).select(
                F.col("vector").alias("vb")
            )
        )
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    rows = pair.select((dot / (norm("va") * norm("vb"))).alias("cos")).collect()
    return rows[0]["cos"] if rows else None
