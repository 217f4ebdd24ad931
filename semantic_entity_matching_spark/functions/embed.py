"""Embedding providers — the Spark analog of the reference's Bedrock clients.

The reference generates embeddings with AWS Bedrock (Titan/Cohere) behind a
``ModelAdapter`` ABC (reference lib/bedrock/adapters/base_model_adapter.py:11-79)
and 100 async workers (lib/vectorize_columns.py:36-38).  Here a provider is a
factory for an Arrow-batched pandas UDF: partition parallelism replaces the
worker pool, and Arrow batching replaces request coalescing.

The default provider reproduces the reference's OWN deterministic test
embedder (tests/lib/opensearch/integration/
test_services_search_service_integration.py:188-202):

    digest = md5(utf8(text)).digest()          # 16 bytes
    v[i]   = digest[i % 16] / 128.0 - 1.0      # i in 0..dim-1

identical text => identical vector (cosine 1.0); distinct text =>
quasi-random vector.  A real sentence-embedding model is a drop-in
replacement behind the same interface.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType

DEFAULT_DIM = 1024  # reference lib/setup_opensearch.py:19 (Titan fixed 1024)

# Rows per inner chunk inside embed_batch: bounds the TRANSIENT working set
# (uint8 digest matrix, tiled intermediate) to chunk_rows × dim bytes-ish
# regardless of how many rows the engine hands us per Arrow batch.  The
# (n, dim) float32 OUTPUT still scales with the Arrow batch — that is what
# spark.sql.execution.arrow.maxRecordsPerBatch bounds (see session.py): at
# high parallelism the 10k-row default put 8 workers × ~120 MB of embed
# intermediates into flight at once and the 120k-page scaling leg degraded
# superlinearly (khugepaged/THP pressure — BASELINE.md round 3).
EMBED_CHUNK_ROWS = 1024

# TokenHashEmbeddingProvider's per-worker token-contribution memo, keyed by
# (dim, ngram).  Bounded: at the cap the memo resets (web vocabulary is
# Zipf — the hot head re-warms in one batch).  ~100k-token vocab ≈ 30 MB.
_TOKEN_MEMO: dict[tuple[int, int], dict] = {}
_TOKEN_MEMO_CAP = 1_000_000


class EmbeddingProvider:
    """Provider interface: ``dim`` + a batch embed over a pandas Series.

    Mirrors the reference ModelAdapter contract (validate dims, format
    input/output — base_model_adapter.py:23-37) minus the HTTP transport.
    """

    name = "base"
    # True models a Titan-style one-embedding-per-request API: under the
    # per-column vectorize strategy the combined-text embedding is assigned
    # to every sibling column (reference lib/vectorize_columns.py:136-152)
    single_output = False

    def __init__(self, dim: int = DEFAULT_DIM):
        if dim <= 0:
            raise ValueError(f"embedding dim must be positive, got {dim}")
        self.dim = dim

    def embed_batch(self, texts: pd.Series) -> np.ndarray:  # (n, dim) float32
        raise NotImplementedError

    def udf(self) -> Callable[..., Column]:
        """Return a pandas UDF ``text -> array<float>`` for this provider."""
        provider = self

        @pandas_udf(ArrayType(FloatType()))
        def _embed(texts: pd.Series) -> pd.Series:
            mat = provider.embed_batch(texts)
            out = pd.Series(list(mat))
            # null/None text => null embedding (reference skips NaN rows
            # before embedding, lib/evaluate.py:97-107)
            nulls = texts.isna().to_numpy()
            if nulls.any():
                out[nulls] = None
            return out

        return _embed


class HashEmbeddingProvider(EmbeddingProvider):
    """Deterministic md5-hash embedding (the reference's test scheme)."""

    name = "hash-md5"

    def embed_one(self, text: str) -> list[float]:
        """Pure-Python single-text version, shared with pytest oracles."""
        digest = hashlib.md5(text.encode()).digest()
        return [(digest[i % 16] / 128.0) - 1.0 for i in range(self.dim)]

    def embed_batch(self, texts: pd.Series) -> np.ndarray:
        n = len(texts)
        out = np.empty((n, self.dim), dtype=np.float32)
        reps = -(-self.dim // 16)  # ceil
        vals = texts.to_numpy(dtype=object, copy=False)
        # chunked: the old one-shot formulation materialized THREE full
        # (n, dim) arrays (uint8 tile, float32 astype copy, the result) —
        # ~3× the output footprint per in-flight batch.  Writing each
        # chunk straight into the preallocated float32 output keeps the
        # transient overhead at chunk_rows × dim.
        for start in range(0, n, EMBED_CHUNK_ROWS):
            stop = min(start + EMBED_CHUNK_ROWS, n)
            digests = np.zeros((stop - start, 16), dtype=np.uint8)
            for i in range(start, stop):
                t = vals[i]
                if t is None or (isinstance(t, float) and np.isnan(t)):
                    continue
                digests[i - start] = np.frombuffer(
                    hashlib.md5(str(t).encode()).digest(), dtype=np.uint8
                )
            chunk = out[start:stop]
            chunk[:] = np.tile(digests, (1, reps))[:, : self.dim]
            chunk /= np.float32(128.0)
            chunk -= np.float32(1.0)
        return out


class TokenHashEmbeddingProvider(EmbeddingProvider):
    """Feature-hashing ("hashing trick") bag-of-features embedding.

    Features = lowercased word unigrams + char 3-grams per word; each feature
    is hashed (first 4 md5 bytes, big-endian) to a bucket with a ±1 sign bit
    (bit 31), counts L2-normalized.  Cosine between two vectors then
    approximates token/ngram overlap — a deterministic, model-free stand-in
    for a sentence embedding that (unlike the md5-digest scheme) is
    *meaningful for near-duplicates*: token swaps cost 0, an abbreviation
    costs ~1/n.  Public technique: feature hashing (Weinberger et al.,
    ICML'09) == Spark MLlib HashingTF.

    md5 (not crc32/xxhash) so the exact same bucket/sign is reproducible in
    ANSI SQL (DuckDB oracle: nibble-fold of ``md5(feature)``); accumulation
    is float64 with a single final float32 cast, so the stored vector bits
    are engine-independent (exact ±1 integer sums → IEEE sqrt/divide).
    """

    name = "token-hash"

    def __init__(self, dim: int = 256, ngram: int = 3):
        super().__init__(dim=dim)
        self.ngram = ngram

    def _features(self, text: str) -> list[str]:
        import re

        # ASCII-\s tokenization: the same whitespace class the DuckDB
        # oracle's regexp_split '\s+' (RE2) uses — str.split() would
        # diverge on Unicode whitespace (e.g. U+00A0)
        tokens = [
            t
            for t in re.split(r"\s+", str(text).lower(), flags=re.ASCII)
            if t
        ]
        feats = list(tokens)
        n = self.ngram
        for t in tokens:
            if len(t) > n:
                feats.extend(t[i : i + n] for i in range(len(t) - n + 1))
        return feats

    def embed_one(self, text: str) -> list[float]:
        return list(self.embed_batch(pd.Series([text]))[0])

    def _token_contribution(self, token: str) -> tuple[np.ndarray, np.ndarray]:
        """Aggregated (bucket_indices, summed_signs) of a token's own hash
        plus all its char n-gram hashes — computed once per DISTINCT token
        per worker process (see _TOKEN_MEMO)."""
        acc: dict[int, float] = {}
        feats = [token]
        n = self.ngram
        if len(token) > n:
            feats.extend(token[i : i + n] for i in range(len(token) - n + 1))
        for f in feats:
            h = int.from_bytes(hashlib.md5(f.encode("utf-8")).digest()[:4], "big")
            b = h % self.dim
            acc[b] = acc.get(b, 0.0) + (1.0 if (h >> 31) & 1 else -1.0)
        idx = np.fromiter(acc.keys(), dtype=np.int64, count=len(acc))
        val = np.fromiter(acc.values(), dtype=np.float64, count=len(acc))
        return idx, val

    def embed_batch(self, texts: pd.Series) -> np.ndarray:
        import re
        from collections import Counter

        out = np.zeros((len(texts), self.dim), dtype=np.float32)
        # token -> aggregated contribution memo, PERSISTENT per worker
        # process (module-level): web text draws from a bounded vocabulary,
        # so after warm-up no md5 runs at all and no per-occurrence n-gram
        # slices are allocated — the allocation churn of the old
        # per-feature loop was the embed stage's memory-pressure driver at
        # high parallelism.  Bit-identical to the per-feature formulation:
        # every contribution is a ±1 integer, and integer sums in float64
        # are exact in any order.
        memo = _TOKEN_MEMO.setdefault((self.dim, self.ngram), {})
        for i, t in enumerate(texts):
            if t is None or (isinstance(t, float) and np.isnan(t)):
                continue
            counts = Counter(
                tok
                for tok in re.split(r"\s+", str(t).lower(), flags=re.ASCII)
                if tok
            )
            vec = np.zeros(self.dim, dtype=np.float64)
            for tok, c in counts.items():
                hit = memo.get(tok)
                if hit is None:
                    if len(memo) >= _TOKEN_MEMO_CAP:
                        memo.clear()
                    hit = self._token_contribution(tok)
                    memo[tok] = hit
                if c == 1:
                    vec[hit[0]] += hit[1]
                else:
                    vec[hit[0]] += hit[1] * c
            norm = float(np.linalg.norm(vec))
            if norm > 0:
                np.divide(vec, norm, out=vec)
                out[i] = vec
        return out


# Per-worker weight cache for RandomProjectionEmbeddingProvider.  One
# weight set per (feature_dim, dim, seed, depth) — the cache is cleared on
# a new key, so a worker never holds more than one set (~80 MB at the
# defaults).
_RP_WEIGHTS: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}
# Bump whenever RandomProjectionEmbeddingProvider._generate changes: the
# version rides in the weight-cache filename, so files produced by an older
# generator can never be silently loaded by a newer one.
_RP_CACHE_VERSION = 2


class RandomProjectionEmbeddingProvider(EmbeddingProvider):
    """Training-free random-encoder sentence embedding at real-model cost.

    Architecture: token-hash features (the hashing trick, as
    :class:`TokenHashEmbeddingProvider`) -> ``depth`` residual
    random-projection layers ``h := normalize(h + tanh(h @ W))`` with a
    fixed Gaussian ``W`` (feature_dim x feature_dim, seeded) -> a final
    random projection to ``dim`` -> L2 normalize.  Random-weight sentence
    encoders are a published, surprisingly-strong baseline (Wieting &
    Kiela, ICLR 2019, "No Training Required: Exploring Random Encoders
    for Sentence Classification"); the residual form keeps the layer map
    close to the identity, so near-duplicate pairs keep high cosine while
    unrelated pages stay near-orthogonal (pinned by pytest).

    Purpose: the deterministic md5/token-hash stand-ins cost ~0.5 ms/page
    — 1-2 orders of magnitude LIGHTER than the model-backed embedding
    stage of the reference (an AWS Bedrock Titan call per row behind 100
    async workers, reference lib/vectorize_columns.py:36-88) or any local
    transformer (a MiniLM-class model is ~10 GFLOP per 256-token page).
    This provider performs ~0.15-0.3 GFLOP/page of genuine BLAS encoder
    work — the LOW end of real embedder cost — so scaling runs that use
    it measure the production workload mix (embed-dominated) rather than
    an artificially exchange-dominated one.  Deterministic given the seed,
    single-threaded BLAS, and a fixed batch shape (BLAS reduction order
    differs between GEMV/GEMM paths at ~1e-7 float32 noise — use the
    bit-stable md5/token-hash providers for value-hash oracles); no model
    weights to download.
    """

    name = "random-projection"

    def __init__(
        self,
        dim: int = DEFAULT_DIM,
        feature_dim: int = 4096,
        depth: int = 4,
        seed: int = 0xC0FFEE,
        ngram: int = 3,
    ):
        super().__init__(dim=dim)
        self.feature_dim = feature_dim
        self.depth = depth
        self.seed = seed
        self._feats = TokenHashEmbeddingProvider(dim=feature_dim, ngram=ngram)

    def _weights(self) -> tuple[np.ndarray, np.ndarray]:
        """Weights are generated once PER HOST and mmap'd read-only by every
        Python UDF worker (atomic tmp+rename publish; concurrent generators
        write identical deterministic bytes, so the race is benign).  The
        per-worker alternative — ~3 s of RNG and an 80 MB private copy each
        — is a fixed cost that lands once per worker process, i.e. 4x more
        often on a 4N leg than an N leg: exactly the kind of asymmetric
        overhead scaling evidence must not carry.  Falls back to in-memory
        generation where no writable cache dir exists."""
        key = (self.feature_dim, self.dim, self.seed)
        w = _RP_WEIGHTS.get(key)
        if w is not None:
            return w
        base_dir = os.environ.get(
            "SEM_SPARK_RP_CACHE",
            "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir(),
        )
        # Cache hygiene (three layers, cheapest first):
        #   * per-uid 0o700 subdirectory — /dev/shm is world-writable, so a
        #     bare filename key would let any local user pre-plant a weight
        #     file; a mode-0700 dir owned by us closes that.
        #   * _RP_CACHE_VERSION in the tag — bump it whenever _generate
        #     changes so stale files from an older implementation can never
        #     silently shift every embedding.
        #   * shape/dtype validation on load — a truncated or foreign .npy
        #     fails loudly and is regenerated instead of being used.
        cache_dir = os.path.join(base_dir, f"sem_rp_cache_{os.getuid()}")
        tag = (
            f"sem_rp_v{_RP_CACHE_VERSION}_"
            f"{self.feature_dim}x{self.dim}_{self.seed:x}"
        )
        w_path = os.path.join(cache_dir, f"{tag}_W.npy")
        p_path = os.path.join(cache_dir, f"{tag}_P.npy")
        want_shapes = (
            (self.feature_dim, self.feature_dim),
            (self.dim, self.feature_dim),
        )

        def _load() -> tuple[np.ndarray, np.ndarray] | None:
            try:
                arrs = (
                    np.load(w_path, mmap_mode="r"),
                    np.load(p_path, mmap_mode="r"),
                )
            except (OSError, ValueError):
                return None
            for arr, shape in zip(arrs, want_shapes):
                if arr.shape != shape or arr.dtype != np.float32:
                    return None
            return arrs

        try:
            os.makedirs(cache_dir, mode=0o700, exist_ok=True)
            w = _load()
            if w is None:
                W, P = self._generate()
                for arr, path in ((W, w_path), (P, p_path)):
                    # np.save appends '.npy' unless the name already ends
                    # with it — keep the tmp name a valid .npy path so the
                    # atomic rename targets the file actually written
                    tmp = f"{path}.{os.getpid()}.tmp.npy"
                    np.save(tmp, arr)
                    os.replace(tmp, path)
                w = _load()
            if w is None:  # cache unusable even after regeneration
                w = self._generate()
        except OSError:
            w = self._generate()
        _RP_WEIGHTS.clear()
        _RP_WEIGHTS[key] = w
        return w

    def _generate(self) -> tuple[np.ndarray, np.ndarray]:
        rng = np.random.default_rng(self.seed)
        scale = np.float32(1.0 / np.sqrt(self.feature_dim))
        W = rng.standard_normal(
            (self.feature_dim, self.feature_dim), dtype=np.float32
        )
        W *= scale
        P = rng.standard_normal((self.dim, self.feature_dim), dtype=np.float32)
        P *= scale
        return W, P

    def embed_one(self, text: str) -> list[float]:
        return list(self.embed_batch(pd.Series([text]))[0])

    def embed_batch(self, texts: pd.Series) -> np.ndarray:
        W, P = self._weights()
        out = np.empty((len(texts), self.dim), dtype=np.float32)
        # chunked like HashEmbeddingProvider: bounds the transient
        # (chunk, feature_dim) activations to ~16 MB regardless of the
        # Arrow batch size the engine hands us
        for start in range(0, len(texts), EMBED_CHUNK_ROWS):
            stop = min(start + EMBED_CHUNK_ROWS, len(texts))
            h = self._feats.embed_batch(texts.iloc[start:stop])  # (c, F) unit/zero rows
            for _ in range(self.depth):
                g = np.tanh(h @ W.T)
                h += g
                norms = np.linalg.norm(h, axis=1, keepdims=True)
                np.maximum(norms, 1e-12, out=norms)
                h /= norms
            o = h @ P.T
            norms = np.linalg.norm(o, axis=1, keepdims=True)
            np.maximum(norms, 1e-12, out=norms)
            o /= norms
            out[start:stop] = o
        # all-zero feature rows (null/blank text) stay exactly zero through
        # tanh/matmul; renormalization with the 1e-12 floor keeps them zero
        return out


PROVIDERS: dict[str, type[EmbeddingProvider]] = {
    HashEmbeddingProvider.name: HashEmbeddingProvider,
    TokenHashEmbeddingProvider.name: TokenHashEmbeddingProvider,
    RandomProjectionEmbeddingProvider.name: RandomProjectionEmbeddingProvider,
}


def get_provider(name: str = "hash-md5", dim: int = DEFAULT_DIM) -> EmbeddingProvider:
    if name not in PROVIDERS:
        raise KeyError(f"unknown embedding provider {name!r}; have {sorted(PROVIDERS)}")
    return PROVIDERS[name](dim=dim)


def with_embedding(
    df,
    text_col: str = "text",
    out_col: str | None = None,
    provider: EmbeddingProvider | None = None,
):
    """Append an ``<text_col>_embedding`` column (reference sibling-column
    convention, lib/vectorize_columns.py:146-158)."""
    provider = provider or HashEmbeddingProvider(dim=DEFAULT_DIM)
    out_col = out_col or f"{text_col}_embedding"
    # `dim` column metadata lets downstream operators (lsh_topk) stay
    # schema-driven instead of probing the data with an extra job
    return df.withColumn(
        out_col,
        provider.udf()(F.col(text_col)).alias(out_col, metadata={"dim": provider.dim}),
    )


def vectorize_columns(
    df,
    columns: list[str],
    strategy: str = "per-column",
    provider: EmbeddingProvider | None = None,
    embedding_column_suffix: str = "_embedding",
):
    """The reference's default vectorize mode (lib/vectorize_columns.py:
    28-158), Spark-first.

    * ``per-column`` (reference default, :40,136-152): each named column gets
      a sibling ``<col><suffix>`` embedding of its own value.  All N UDFs are
      independent projections — Catalyst fuses them into ONE scan+project
      stage (no shuffle, one Arrow pass per partition per column).
    * ``combined`` (:83-88,154-158): ONE embedding of the space-joined column
      values, stored as ``<col1>_<col2>..<suffix>``.
    * single-output fallback (:136-152): a provider that models Titan's
      one-embedding-per-request behavior (``single_output=True``) yields the
      combined-text embedding assigned to EVERY sibling column under
      ``per-column`` — the reference's "first embedding to all columns" path,
      computed once, not N times.

    Raises ValueError on missing columns (reference :66-71, same message
    shape).  Null column values embed to null (NaN-skip convention).
    """
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(
            f"Columns not found in file: {missing}. "
            f"Available columns: {list(df.columns)}"
        )
    if strategy not in ("per-column", "combined"):
        raise ValueError(f"unknown strategy {strategy!r}")
    provider = provider or HashEmbeddingProvider(dim=DEFAULT_DIM)
    udf = provider.udf()
    combined_text = F.concat_ws(" ", *[F.col(c).cast("string") for c in columns])
    meta = {"dim": provider.dim}
    if strategy == "combined":
        out_col = "_".join(columns) + embedding_column_suffix
        return df.withColumn(out_col, udf(combined_text).alias(out_col, metadata=meta))
    if getattr(provider, "single_output", False):
        # materialize the shared embedding into ONE temp column first, then
        # alias it into each sibling: Catalyst does not guarantee common-
        # subexpression elimination across N projected copies of the same
        # Python UDF expression, but a column reference is always free —
        # this guarantees one UDF evaluation regardless of sibling count
        tmp = "__single_output_embedding__"
        df = df.withColumn(tmp, udf(combined_text))
        for c in columns:
            name = f"{c}{embedding_column_suffix}"
            df = df.withColumn(name, F.col(tmp).alias(name, metadata=meta))
        return df.drop(tmp)
    for c in columns:
        name = f"{c}{embedding_column_suffix}"
        df = df.withColumn(
            name, udf(F.col(c).cast("string")).alias(name, metadata=meta)
        )
    return df
