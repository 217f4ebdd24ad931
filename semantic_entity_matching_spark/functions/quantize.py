"""Quantized embedding variants — INT8 / UINT8 / BINARY / UBINARY.

The reference requests these output types from Bedrock (lib/bedrock/
types.py:20-27 ``EmbeddingType``; lib/bedrock/adapters/cohere_embed_model_
adapter.py formats them per request).  In a Spark engine the quantization
itself is trivial — the point is the SHUFFLE PAYLOAD: candidate-pair scoring
shuffles two vectors per pair, and at 10^12 documents a 1024-dim float32
vector (4 KiB) per side dominates the exchange.  INT8 cuts that 4×, packed
sign bits 32×, with rank order preserved well enough for candidate
generation / pre-scoring (exact float rerank only on survivors).

Representations:

* INT8    -> ``array<tinyint>``  round(clip(v*127)) — symmetric, assumes
             L2-normalized input (all providers here normalize)
* UINT8   -> ``array<smallint>`` round((v+1)/2*255) (Spark has no unsigned
             byte type; values are 0..255)
* BINARY/UBINARY -> ``binary``   sign bits MSB-first via packbits, dim/8
             bytes; the two differ only in the reference's output container

All UDFs are Arrow-batched and vectorized (one numpy matrix op per batch).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    ByteType,
    BinaryType,
    IntegerType,
    ShortType,
)

from semantic_entity_matching_spark.functions.similarity import cosine_udf_filter_safe

EMBEDDING_TYPES = ("float", "int8", "uint8", "binary", "ubinary")


def _stack(v: pd.Series) -> np.ndarray:
    return np.vstack(v.to_numpy()).astype(np.float64)


def _scatter(v: pd.Series, mask: pd.Series, values: list) -> pd.Series:
    out: list = [None] * len(v)
    for j, i in enumerate(np.flatnonzero(mask.to_numpy())):
        out[i] = values[j]
    return pd.Series(out, dtype=object)


@pandas_udf(ArrayType(ByteType()))
def int8_quantize_udf(v: pd.Series) -> pd.Series:
    mask = v.notna()
    if not mask.any():
        return pd.Series([None] * len(v), dtype=object)
    m = _stack(v[mask])
    q = np.clip(np.rint(m * 127.0), -127, 127).astype(np.int8)
    return _scatter(v, mask, list(q))


@pandas_udf(ArrayType(ShortType()))
def uint8_quantize_udf(v: pd.Series) -> pd.Series:
    mask = v.notna()
    if not mask.any():
        return pd.Series([None] * len(v), dtype=object)
    m = _stack(v[mask])
    q = np.clip(np.rint((m + 1.0) * 127.5), 0, 255).astype(np.int16)
    return _scatter(v, mask, list(q))


@pandas_udf(BinaryType())
def binary_quantize_udf(v: pd.Series) -> pd.Series:
    mask = v.notna()
    if not mask.any():
        return pd.Series([None] * len(v), dtype=object)
    m = _stack(v[mask])
    bits = (m > 0).astype(np.uint8)
    packed = np.packbits(bits, axis=1)  # MSB-first, dim/8 bytes
    return _scatter(v, mask, [p.tobytes() for p in packed])


def quantize(df, vec_col: str, kind: str, out_col: str | None = None):
    """Append a quantized variant of ``vec_col`` (column name defaults to
    ``<vec_col>_<kind>``).  ``kind='float'`` is a no-op passthrough."""
    if kind not in EMBEDDING_TYPES:
        raise ValueError(f"unknown embedding type {kind!r}; have {EMBEDDING_TYPES}")
    if kind == "float":
        return df
    out_col = out_col or f"{vec_col}_{kind}"
    udf = {
        "int8": int8_quantize_udf,
        "uint8": uint8_quantize_udf,
        "binary": binary_quantize_udf,
        "ubinary": binary_quantize_udf,
    }[kind]
    return df.withColumn(out_col, udf(F.col(vec_col)))


_POPCOUNT = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(
    axis=1
)


@pandas_udf(IntegerType())
def binary_hamming_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Hamming distance between packed sign-bit vectors (vectorized byte-xor
    + popcount table — no per-bit Python)."""
    mask = a.notna() & b.notna()
    out = np.zeros(len(a), dtype=np.int32)
    if mask.any():
        ma = np.vstack([np.frombuffer(x, dtype=np.uint8) for x in a[mask]])
        mb = np.vstack([np.frombuffer(x, dtype=np.uint8) for x in b[mask]])
        out[mask.to_numpy()] = _POPCOUNT[np.bitwise_xor(ma, mb)].sum(axis=1)
    return pd.Series(out, dtype="int32").where(mask, other=None)


def binary_cosine_expr(hamming: Column, dim: int | Column) -> Column:
    """Sign-bit cosine estimate from hamming distance: for random-ish
    hyperplane sign sketches cos(theta) ≈ cos(pi * h / dim) (Charikar'02,
    the same estimator as operators/ann.py's LSH).  ``dim`` may be a
    Column (e.g. ``octet_length(packed) * 8``) so the plan stays
    schema-driven."""
    import math

    d = F.lit(float(dim)) if isinstance(dim, int) else dim.cast("double")
    return F.cos(F.lit(math.pi) * hamming.cast("double") / d)


def binary_cosine_from_packed(a: Column, b: Column) -> Column:
    """Sign-sketch cosine estimate straight from two packed-bit columns —
    the ONE shared pre-scoring expression (hamming UDF + Charikar
    estimate, bit width read off the column itself)."""
    return binary_cosine_expr(
        binary_hamming_udf(a, b), F.octet_length(a) * F.lit(8)
    )


def quantized_cosine(kind: str):
    """The approximate cosine ``(Column, Column) -> Column`` that scores
    two ``kind``-quantized vectors: the float cosine kernel over the int8
    components (float64 accumulation; rank order tracks the float cosine,
    quantization noise ~1/127 per component), or the sign-sketch estimate
    for packed bits.  Both are safe under a threshold filter (the int8
    score is the filter-safe cosine instance; the sign-sketch estimate is
    JVM codegen).  uint8 is a storage format (reference
    EmbeddingType.UINT8), not a scoring one: its shifted-positive values
    need centering before cosine, so it is refused with any unknown kind
    rather than silently scored wrong."""
    if kind == "int8":
        return cosine_udf_filter_safe
    if kind in ("binary", "ubinary"):
        return binary_cosine_from_packed
    raise ValueError(
        f"unsupported quantization for cosine scoring: {kind!r}"
        " (use None/'float', 'int8', 'binary' or 'ubinary')"
    )


def quantized_cosine_margin(kind: str) -> float:
    """How far :func:`quantized_cosine`'s approximate score may sit below
    an exact-cosine cutoff before a pair is safely dropped unscored: an
    upper bound on the scheme's cosine error, measured on token-hash
    embeddings at dim 256 (int8 error < 0.02, sign-sketch error < 0.12).
    ``kind`` is one :func:`quantized_cosine` accepts."""
    return 0.08 if kind == "int8" else 0.25
