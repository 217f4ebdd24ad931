"""Pair-scoring functions: cosine similarity + string-similarity rerank.

The reference scores candidates twice: a vector distance inside OpenSearch
(HNSW, space l2|cosine — lib/setup_opensearch.py:18) and an opaque Cohere
rerank ``relevanceScore`` (lib/rerank.py:45-70).  Per the north_rule the
rerank stage is replaced with a transparent Jaro-Winkler/Levenshtein +
cosine blend.

All float math accumulates in float64 so scores are independent of
partitioning (SURVEY §7.3 hard part (c)).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


# ---------------------------------------------------------------------------
# cosine
# ---------------------------------------------------------------------------

def cosine_py(a: list[float], b: list[float]) -> float:
    """Pure-Python/numpy oracle used by tests; float64 accumulation."""
    va = np.asarray(a, dtype=np.float64)
    vb = np.asarray(b, dtype=np.float64)
    na = np.linalg.norm(va)
    nb = np.linalg.norm(vb)
    if na == 0.0 or nb == 0.0:
        return 0.0
    return float(np.dot(va, vb) / (na * nb))


def _cosine_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """Batched cosine over two array<float> columns (same fixed dim).

    np.vstack + einsum keeps the whole Arrow batch in two dense matrices —
    one BLAS pass instead of a per-row Python loop.
    """
    mask = a.notna() & b.notna()
    out = np.zeros(len(a), dtype=np.float64)
    if mask.any():
        ma = np.vstack(a[mask].to_numpy()).astype(np.float64)
        mb = np.vstack(b[mask].to_numpy()).astype(np.float64)
        dots = np.einsum("ij,ij->i", ma, mb)
        norms = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            vals = np.where(norms > 0, dots / norms, 0.0)
        out[mask.to_numpy()] = vals
    return pd.Series(out).where(mask, other=None)


cosine_udf = pandas_udf(DoubleType())(_cosine_batch)

# Filter-safe variant: when a FILTER references the UDF's output column,
# Catalyst pushes the filter down and re-evaluates the UDF under it — two
# ArrowEvalPython nodes, every row paying the cosine twice (guide §4.4).
# Marking the UDF non-deterministic forbids that duplication (the function
# is in fact deterministic; the marker only constrains the optimizer).
# Use THIS one wherever the cosine feeds a threshold filter in the same
# plan; keep the plain udf elsewhere so unrelated filters can still push.
# NOTE: this must be an INDEPENDENT pandas_udf instance — the wrapper's
# asNondeterministic() MUTATES the shared underlying UserDefinedFunction,
# so aliasing `cosine_udf.asNondeterministic()` would silently flip every
# cosine_udf call site in the session to non-deterministic.
cosine_udf_filter_safe = pandas_udf(DoubleType())(_cosine_batch).asNondeterministic()


def cosine_expr(a: str | Column, b: str | Column) -> Column:
    """JVM-native cosine (no Python boundary) for SQL-oracle parity paths.

    ``aggregate(zip_with(...))`` runs inside whole-stage codegen; use this
    where the plan must stay fully JVM-side, the pandas UDF elsewhere (the
    UDF wins on wide vectors because of BLAS).
    """
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b

    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    na = F.sqrt(dot(ca, ca))
    nb = F.sqrt(dot(cb, cb))
    return F.when((na > 0) & (nb > 0), dot(ca, cb) / (na * nb)).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# Jaro-Winkler (standard algorithm; no external fuzz libs in this container)
# ---------------------------------------------------------------------------

def jaro_py(s1: str, s2: str) -> float:
    """O(len1+len2) Jaro — exact same greedy matching as the textbook
    O(len1×window) double loop (each s1 char takes the SMALLEST unflagged
    s2 position of that char inside the window).  Because the window's
    lower bound only ever grows with i, a per-character head pointer over
    s2's position list replaces the inner window scan: positions discarded
    for being below the bound can never become eligible again, and the
    smallest unflagged position is always the list head.  On ~7.5 KB web
    texts this is ~100× faster than the windowed scan (the rerank UDF's
    hot path), bit-identical scores."""
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    match_window = max(len1, len2) // 2 - 1
    if match_window < 0:
        match_window = 0
    pos: dict[str, list[int]] = {}
    for j, c in enumerate(s2):
        pos.setdefault(c, []).append(j)
    head = dict.fromkeys(pos, 0)
    m1: list[int] = []  # matched s1 positions, ascending
    m2: list[int] = []  # matched s2 positions, consumption order
    for i, c1 in enumerate(s1):
        lst = pos.get(c1)
        if lst is None:
            continue
        h = head[c1]
        lo = i - match_window
        n = len(lst)
        while h < n and lst[h] < lo:
            h += 1
        if h < n and lst[h] <= min(len2 - 1, i + match_window):
            m1.append(i)
            m2.append(lst[h])
            h += 1
        head[c1] = h
    matches = len(m1)
    if matches == 0:
        return 0.0
    # transpositions: s1's matched chars in s1 order vs s2's matched chars
    # in s2-position order (the flags2 ascending walk of the textbook form)
    m2.sort()
    transpositions = sum(1 for i, j in zip(m1, m2) if s1[i] != s2[j])
    t = transpositions // 2
    m = matches
    return (m / len1 + m / len2 + (m - t) / m) / 3.0


def jaro_winkler_py(
    s1: str, s2: str, prefix_weight: float = 0.1, boost_threshold: float = 0.7
) -> float:
    """Standard Jaro-Winkler: prefix scale 0.1, prefix cap 4, and Winkler's
    boost threshold — the prefix bonus applies only when jaro > 0.7 (the
    original Winkler'90 definition, matched by DuckDB/rapidfuzz; verified
    cross-engine in __spark_entry__ q24)."""
    jaro = jaro_py(s1, s2)
    if jaro <= boost_threshold:
        return jaro
    prefix = 0
    for c1, c2 in zip(s1[:4], s2[:4]):
        if c1 == c2:
            prefix += 1
        else:
            break
    return jaro + prefix * prefix_weight * (1.0 - jaro)


@pandas_udf(DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched Jaro-Winkler.  The inner comparison is per-pair Python
    (the algorithm is inherently per-pair), but strings cross the boundary
    once per Arrow batch; at the rerank stage this runs on already-blocked
    candidate pairs, not the full corpus."""
    out = np.empty(len(a), dtype=np.float64)
    av = a.to_numpy()
    bv = b.to_numpy()
    for i in range(len(a)):
        x, y = av[i], bv[i]
        if x is None or y is None:
            out[i] = 0.0
        else:
            out[i] = jaro_winkler_py(x, y)
    return pd.Series(out)


def levenshtein_similarity_expr(a: str | Column, b: str | Column) -> Column:
    """Normalized Levenshtein similarity 1 - dist/max_len via the JVM
    built-in ``levenshtein`` (stays in whole-stage codegen)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    maxlen = F.greatest(F.length(ca), F.length(cb))
    return F.when(maxlen == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - F.levenshtein(ca, cb).cast("double") / maxlen.cast("double")
    )


def norm_tokens(c: str | Column) -> Column:
    """Lowercased alphanumeric tokens of a string, empties dropped (the
    shared normalization of the token-based comparators below)."""
    cc = F.col(c) if isinstance(c, str) else c
    return F.filter(
        F.split(F.lower(cc), r"[^a-z0-9]+"), lambda t: t != F.lit("")
    )


def token_sort_ratio_expr(a: str | Column, b: str | Column) -> Column:
    """Token-sort ratio (the word-order-insensitive edit similarity
    popularized by fuzzywuzzy/rapidfuzz, public method): normalize both
    strings to sorted lowercase alphanumeric tokens joined by single
    spaces, then normalized Levenshtein similarity of the two keys.
    'acme corp ltd' vs 'ltd acme corp' scores 1.0 where raw Levenshtein
    sees a rotation.  Pure JVM codegen (split/sort/join/levenshtein
    built-ins) — zero Python, usable as a pre-filter ahead of the
    per-pair Python Jaro-Winkler stage."""

    def key(c: str | Column) -> Column:
        return F.array_join(F.array_sort(norm_tokens(c)), " ")

    return levenshtein_similarity_expr(key(a), key(b))


def monge_elkan_set_scores(
    pairs: DataFrame,
    a_col: str = "text_a",
    b_col: str = "text_b",
    id_cols: tuple[str, str] = ("id_a", "id_b"),
    out_col: str = "monge_elkan",
) -> DataFrame:
    """Symmetric set-Monge-Elkan over Jaro-Winkler (Monge & Elkan 1996,
    public method): for each DISTINCT token of one side take the best
    Jaro-Winkler match on the other side, average, then average the two
    directions.  The set variant (duplicates collapsed by
    ``array_distinct``; the classic definition uses token bags) is
    deliberate: it is order-independent, shrinks the token grid, and —
    with per-cell scores snapped to 1e-6 fixed-point BIGINTs so every
    aggregate is an exact integer sum — makes the score bit-identical
    under any partitioning and replayable in ANSI SQL (q77 oracle).

    Input: ``pairs(id_a, id_b, text_a, text_b)`` — already-blocked
    candidate pairs (never the raw corpus).  Output: the id columns +
    ``out_col`` (double, rounded to 6).

    Scale shape: one explode to the per-pair distinct-token grid
    (|ta|x|tb| rows per pair, bounded by token counts of the SHORT
    canonical texts this comparator is meant for — names, titles,
    addresses), ONE Arrow-batched Jaro-Winkler pass over the grid, then
    two hash aggregates (per source-token max, per pair mean) per
    direction.  No window, no sort, no per-row Python.
    """
    ia, ib = id_cols
    grid = (
        pairs.select(
            ia,
            ib,
            F.explode(F.array_distinct(norm_tokens(a_col))).alias("_ta"),
            F.array_distinct(norm_tokens(b_col)).alias("_tbs"),
        )
        .select(ia, ib, "_ta", F.explode("_tbs").alias("_tb"))
        .select(
            ia,
            ib,
            "_ta",
            "_tb",
            F.round(jaro_winkler_udf(F.col("_ta"), F.col("_tb")) * 1e6)
            .cast("bigint")
            .alias("_jw_micro"),
        )
    )

    def direction(src: str) -> DataFrame:
        best = grid.groupBy(ia, ib, src).agg(
            F.max("_jw_micro").alias("_best")
        )
        return best.groupBy(ia, ib).agg(
            (
                F.sum("_best").cast("double")
                / (F.lit(1e6) * F.count(F.lit(1)))
            ).alias(f"_me{src}")
        )
    return (
        direction("_ta")
        .join(direction("_tb"), [ia, ib])
        .select(
            ia,
            ib,
            F.round((F.col("_me_ta") + F.col("_me_tb")) / 2, 6).alias(out_col),
        )
    )


# ---------------------------------------------------------------------------
# blended match score (the transparent replacement for Cohere rerank, F7)
# ---------------------------------------------------------------------------

DEFAULT_WEIGHTS = {"cosine": 0.5, "jaro_winkler": 0.3, "levenshtein": 0.2}


def blended_score(
    cos_col: Column,
    jw_col: Column,
    lev_col: Column,
    weights: dict[str, float] | None = None,
) -> Column:
    w = weights or DEFAULT_WEIGHTS
    return (
        F.coalesce(cos_col, F.lit(0.0)) * F.lit(w["cosine"])
        + F.coalesce(jw_col, F.lit(0.0)) * F.lit(w["jaro_winkler"])
        + F.coalesce(lev_col, F.lit(0.0)) * F.lit(w["levenshtein"])
    )
