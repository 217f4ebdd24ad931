from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from semantic_entity_matching_spark.functions.embed import (
    HashEmbeddingProvider,
    get_provider,
    with_embedding,
)
from semantic_entity_matching_spark.functions.similarity import (
    cosine_expr,
    cosine_py,
    cosine_udf,
    jaro_winkler_py,
    jaro_winkler_udf,
    levenshtein_similarity_expr,
)


def _reference_test_embedding(text: str, dim: int = 1024) -> list[float]:
    # verbatim reference scheme (tests/lib/opensearch/integration/
    # test_services_search_service_integration.py:188-202)
    hash_bytes = hashlib.md5(text.encode()).digest()
    return [(hash_bytes[i % len(hash_bytes)] / 128.0) - 1.0 for i in range(dim)]


def test_hash_embedding_matches_reference_scheme():
    p = HashEmbeddingProvider(dim=1024)
    for text in ["Python Programming", "Blood sugar, fasting", "", "日本語"]:
        assert p.embed_one(text) == _reference_test_embedding(text)
    batch = p.embed_batch(pd.Series(["Python Programming", "x"]))
    assert batch.shape == (2, 1024)
    np.testing.assert_allclose(
        batch[0], np.array(_reference_test_embedding("Python Programming"), dtype=np.float32)
    )


def test_embedding_udf_roundtrip(spark):
    df = spark.createDataFrame(
        [("a", "hello world"), ("b", "hello world"), ("c", None)],
        "id string, text string",
    )
    out = with_embedding(df, provider=HashEmbeddingProvider(dim=64)).collect()
    by_id = {r["id"]: r["text_embedding"] for r in out}
    assert by_id["a"] == by_id["b"]  # identical text -> identical vector
    assert len(by_id["a"]) == 64
    assert by_id["c"] is None  # null text -> null embedding


def test_provider_registry():
    assert get_provider("hash-md5", dim=8).dim == 8
    assert get_provider("random-projection", dim=16).dim == 16
    with pytest.raises(KeyError):
        get_provider("nope")


def test_random_projection_provider():
    """The production-weight random-encoder provider (BOREP-style, Wieting
    & Kiela ICLR'19): deterministic, unit-norm, null-safe, and
    similarity-preserving — near-duplicate pages must stay clearly more
    cosine-similar than unrelated pages (the property the blocking
    cascade and prescore cutoffs rely on)."""
    from semantic_entity_matching_spark.functions.embed import (
        RandomProjectionEmbeddingProvider,
        TokenHashEmbeddingProvider,
    )

    # small dims keep the test fast; the architecture is size-independent
    p = RandomProjectionEmbeddingProvider(dim=32, feature_dim=128, depth=3)
    base = [f"word{i:04d}" for i in range(300)]
    doc = " ".join(base)
    neardup = " ".join(base[:150] + ["altered", "tokens", "here"] + base[153:])
    unrelated = " ".join(f"zz{i:04d}q" for i in range(300))

    m1 = p.embed_batch(pd.Series([doc, neardup, unrelated, None, ""]))
    m2 = p.embed_batch(pd.Series([doc, neardup, unrelated, None, ""]))
    assert np.array_equal(m1, m2)  # deterministic, bit-stable
    assert m1.shape == (5, 32) and m1.dtype == np.float32
    # null / blank text => exactly-zero vector (masked to null by udf())
    assert not m1[3].any() and not m1[4].any()
    np.testing.assert_allclose(np.linalg.norm(m1[:3], axis=1), 1.0, atol=1e-5)

    near = float(m1[0] @ m1[1])
    far = float(m1[0] @ m1[2])
    assert near > 0.9, near
    assert near - far > 0.2, (near, far)
    # contrast survives the projection: at least comparable to feature space
    f = TokenHashEmbeddingProvider(dim=128).embed_batch(
        pd.Series([doc, neardup, unrelated])
    )
    assert near > float(f[0] @ f[1]) - 0.05

    # batch ~= single: BLAS picks different reduction orders for GEMV vs
    # GEMM, so values agree to float32 noise (~1e-7), not bit-for-bit —
    # which is why this provider backs scaling/throughput evidence, not
    # the DuckDB value-hash oracles
    assert p.embed_one(doc) == pytest.approx(list(m1[0]), abs=1e-5)


def test_random_projection_cache_rejects_bad_files(tmp_path, monkeypatch):
    """Weight-cache hygiene: files live in a per-uid 0o700 subdir, carry a
    generation version in the name, and are shape/dtype-validated on load —
    a stale or foreign .npy is regenerated, never silently used."""
    import os

    from semantic_entity_matching_spark.functions.embed import (
        _RP_CACHE_VERSION,
        _RP_WEIGHTS,
        RandomProjectionEmbeddingProvider,
    )

    monkeypatch.setenv("SEM_SPARK_RP_CACHE", str(tmp_path))
    _RP_WEIGHTS.clear()
    p = RandomProjectionEmbeddingProvider(dim=16, feature_dim=64, depth=1)
    W, P = p._weights()
    cache_dir = tmp_path / f"sem_rp_cache_{os.getuid()}"
    assert (os.stat(cache_dir).st_mode & 0o777) == 0o700
    tag = f"sem_rp_v{_RP_CACHE_VERSION}_64x16_{p.seed:x}"
    w_path = cache_dir / f"{tag}_W.npy"
    assert w_path.exists()
    # materialize before overwriting the file: W is an mmap of it, and
    # touching pages past the truncated EOF would SIGBUS
    W = np.array(W)

    # corrupt the cached W with a wrong-shape/dtype array: the provider
    # must regenerate rather than load it
    np.save(str(w_path), np.zeros((3, 3), dtype=np.float64))
    _RP_WEIGHTS.clear()
    W2, P2 = RandomProjectionEmbeddingProvider(
        dim=16, feature_dim=64, depth=1
    )._weights()
    assert W2.shape == (64, 64) and W2.dtype == np.float32
    np.testing.assert_array_equal(np.asarray(W2), np.asarray(W))
    _RP_WEIGHTS.clear()


def test_cosine_udf_matches_oracle(spark):
    rows = [
        ("p", [1.0, 0.0, 0.0], [1.0, 0.0, 0.0]),
        ("q", [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]),
        ("r", [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
        ("z", [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "id string, a array<float>, b array<float>")
    got_udf = {r["id"]: r["c"] for r in df.select("id", cosine_udf("a", "b").alias("c")).collect()}
    got_expr = {r["id"]: r["c"] for r in df.select("id", cosine_expr("a", "b").alias("c")).collect()}
    for rid, a, b in rows:
        expected = cosine_py(a, b)
        assert got_udf[rid] == pytest.approx(expected, abs=1e-9)
        assert got_expr[rid] == pytest.approx(expected, abs=1e-9)


def test_jaro_winkler_known_values():
    # classic published values for the standard algorithm
    assert jaro_winkler_py("MARTHA", "MARHTA") == pytest.approx(0.9611, abs=1e-4)
    assert jaro_winkler_py("DIXON", "DICKSONX") == pytest.approx(0.8133, abs=1e-4)
    assert jaro_winkler_py("abc", "abc") == 1.0
    assert jaro_winkler_py("", "abc") == 0.0
    assert jaro_winkler_py("abc", "xyz") == 0.0


def _jaro_textbook(s1: str, s2: str) -> float:
    """The O(len1×window) double-loop reference the fast jaro_py must match
    bit-for-bit (this was the shipped implementation through round 2)."""
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    match_window = max(len1, len2) // 2 - 1
    if match_window < 0:
        match_window = 0
    flags1 = [False] * len1
    flags2 = [False] * len2
    matches = 0
    for i, c1 in enumerate(s1):
        lo = max(0, i - match_window)
        hi = min(len2, i + match_window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c1:
                flags1[i] = True
                flags2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    j = 0
    for i in range(len1):
        if flags1[i]:
            while not flags2[j]:
                j += 1
            if s1[i] != s2[j]:
                transpositions += 1
            j += 1
    t = transpositions // 2
    m = matches
    return (m / len1 + m / len2 + (m - t) / m) / 3.0


def test_jaro_fast_equals_textbook():
    """The per-char-queue O(n+m) jaro must be BIT-IDENTICAL to the textbook
    windowed scan on adversarial cases: repeats, skewed lengths, windows of
    0, unicode, and random strings over tiny alphabets (maximum flag/window
    interaction)."""
    import random

    from semantic_entity_matching_spark.functions.similarity import jaro_py

    cases = [
        ("", ""), ("a", ""), ("", "a"), ("a", "a"), ("ab", "ba"),
        ("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"), ("aaaa", "aaa"),
        ("aabbaabb", "bbaabbaa"), ("abcabc", "cbacba"),
        ("x" * 50, "x" * 49 + "y"), ("café", "cafe"),
    ]
    rng = random.Random(1234)
    for _ in range(500):
        n1 = rng.randrange(0, 30)
        n2 = rng.randrange(0, 30)
        alpha = "ab" if rng.random() < 0.5 else "abcd"
        cases.append(
            (
                "".join(rng.choice(alpha) for _ in range(n1)),
                "".join(rng.choice(alpha) for _ in range(n2)),
            )
        )
    for s1, s2 in cases:
        assert jaro_py(s1, s2) == _jaro_textbook(s1, s2), (s1, s2)


def test_string_similarity_udfs(spark):
    df = spark.createDataFrame(
        [("MARTHA", "MARHTA"), ("abc", "abc"), (None, "abc")], "a string, b string"
    )
    rows = df.select(
        jaro_winkler_udf("a", "b").alias("jw"),
        levenshtein_similarity_expr("a", "b").alias("lev"),
    ).collect()
    assert rows[0]["jw"] == pytest.approx(0.9611, abs=1e-4)
    assert rows[1]["jw"] == 1.0
    assert rows[2]["jw"] == 0.0
    assert rows[0]["lev"] == pytest.approx(1 - 2 / 6, abs=1e-9)
    assert rows[1]["lev"] == 1.0


def test_embeddings_table_cosine(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    first = emb.limit(1).select(F.col("embedding").alias("e")).collect()[0]["e"]
    assert len(first) == 64
    out = (
        emb.limit(5)
        .withColumn("self_sim", cosine_udf(F.col("embedding"), F.col("embedding")))
        .collect()
    )
    for r in out:
        assert r["self_sim"] == pytest.approx(1.0, abs=1e-9)
