"""Exact set-similarity and edit-distance self-joins via prefix filtering.

The LSH family (operators/blocking.py, operators/dedup.py) trades recall for
cost: banding misses a tunable fraction of true pairs.  This module is the
LOSSLESS alternative for thresholds where exactness is required — the
classic signature-based similarity joins:

* ``prefix_filter_jaccard_join`` — AllPairs/PPJoin-style prefix filtering
  (Bayardo et al., WWW 2007 "Scaling Up All Pairs Similarity Search";
  Xiao et al., WWW 2008): order every document's distinct tokens by GLOBAL
  ascending document frequency, emit only the first
  ``|x| - ceil(t*|x|) + 1`` tokens (the rarest ones) as join signatures —
  any pair with jaccard >= t provably shares a signature token, so the
  candidate set is complete, and the final jaccard verification makes the
  output exact.
* ``edit_distance_join`` — EDJoin-style (Xiao, Wang, Lin, VLDB 2008):
  q-gram signatures under the same global order with prefix length
  ``k*q + 1`` (one edit destroys at most ``q`` overlapping q-grams, so two
  strings within edit distance ``k`` cannot disagree on ``k*q + 1`` rarest
  grams), length filter ``abs(|x|-|y|) <= k`` in the join condition, exact
  ``levenshtein`` verification at the end.

The reference has no exact-join analog — its candidate generation is ANN
(reference lib/opensearch/services/search_query_builder.py:43-58) — but its
rerank stage IS an exact verifier over candidates
(reference lib/rerank.py:15-74); these operators fuse the two roles.

Both run on the token-set kernel (operators/tokensets.py): its hashed
token / q-gram sets, its global rarest-first order and, for the Jaccard
join, its overlap verify.  Scale shape, by construction:
* Join keys are the RAREST tokens/grams in the corpus (lowest df under the
  global order), so the signature join's key distribution is the inverse of
  the Zipf head — hot boilerplate tokens never become join keys.  This is
  the opposite failure mode of naive token blocking and the reason the
  prefix join needs no salting.
* Every vocabulary- or corpus-cardinality join is pinned shuffle-hash —
  NEVER broadcast (same rule as the BM25 IDF table, operators/search.py).
* Verification joins fetch full token sets by id AFTER candidate dedup,
  so the wide payload crosses the wire once per surviving pair side.
* Everything is DataFrame built-ins + ``F.levenshtein`` — zero Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from semantic_entity_matching_spark.operators.tokensets import (
    _distinct_tokens,
    _size_ratio_keep,
    jaccard,
    overlap_verify,
    token_sets,
)


def prefix_filter_jaccard_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
) -> DataFrame:
    """Exact jaccard >= threshold self-join over whitespace token sets.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b``, one row per
    qualifying unordered pair.  Empty and NULL token sets are dropped (a
    threshold > 0 can never admit them against a non-empty set, and the
    empty-vs-empty pair is degenerate for dedup purposes).

    Tokenization, order and verification are the token-set kernel's, so
    results are directly comparable with the MinHash path (q21) at the
    same threshold.  Eager at construction: see
    :func:`plans.checkpoint.materialize`.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t = float(threshold)
    sets = token_sets(df, id_col, _distinct_tokens(text_col), rarest_first=True)
    # prefix length |x| - ceil(t|x|) + 1: the rarest tokens whose absence
    # from the other side would already cap jaccard below t (the 1e-9
    # slack keeps float ceil from over-rounding t|x| — 0.56·25 is
    # 14.000000000000002 — into a prefix one token short)
    plen = (
        F.col("_n")
        - F.ceil(F.lit(t) * F.col("_n") - F.lit(1e-9)).cast("int")
        + F.lit(1)
    )
    # posexplode: each prefix token carries its 0-based position in the
    # doc's df-ordered token list — the input to PPJoin's positional
    # filter below
    pref = sets.select(
        "_id", "_n", F.posexplode(F.slice("_tok", F.lit(1), plen)).alias("_p", "_t")
    )
    a = pref.select(
        F.col("_id").alias("id_a"), F.col("_n").alias("_na"),
        F.col("_p").alias("_pa"), "_t",
    )
    b = pref.select(
        F.col("_id").alias("id_b"), F.col("_n").alias("_nb"),
        F.col("_p").alias("_pb"), "_t",
    )
    # Two lossless filters folded into the join:
    # * length filter: jaccard >= t forces min(|x|,|y|)/max(|x|,|y|) >= t;
    # * POSITIONAL filter (PPJoin, Xiao et al. WWW'08): both token lists
    #   follow the same global total order, so a common token at 0-based
    #   positions (pa, pb) bounds the overlap by
    #   min(pa, pb) + 1 + min(|x|-pa-1, |y|-pb-1) (commons before it sit
    #   before it on BOTH sides; commons after it likewise), while
    #   jaccard >= t needs overlap >= t/(1+t) * (|x|+|y|).  The bound
    #   over-counts the true overlap, so every token of a qualifying
    #   pair passes — keeping pairs that pass on ANY token loses nothing
    #   (the 1e-9 slack keeps float ceil from over-rounding the
    #   requirement; under-rounding only admits extra candidates).
    required = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("a._na") + F.col("b._nb")) - F.lit(1e-9)
    )
    pos_bound = (
        F.least("a._pa", "b._pb")
        + F.lit(1)
        + F.least(
            F.col("a._na") - F.col("a._pa") - F.lit(1),
            F.col("b._nb") - F.col("b._pb") - F.lit(1),
        )
    )
    # signature self-join: both sides are exploded corpus prefixes —
    # pinned shuffle_hash like every kernel join
    cand = (
        a.alias("a")
        .join(
            b.alias("b").hint("shuffle_hash"),
            (F.col("a._t") == F.col("b._t"))
            & (F.col("a.id_a") < F.col("b.id_b"))
            & _size_ratio_keep(F.col("a._na"), F.col("b._nb"), t)
            & (pos_bound >= required),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return (
        overlap_verify(cand, sets)
        .select("id_a", "id_b", jaccard().alias("jaccard"))
        .where(F.col("jaccard") >= t)
    )


def _qgram_set(s: Column, q: int) -> Column:
    """Distinct q-grams of ``s``; a string shorter than q contributes
    itself as its only gram (so very short strings still join)."""
    grams = F.when(
        F.length(s) < q, F.array(s)
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(s) - (q - 1)),
            lambda i: F.substring(s, i, q),
        )
    )
    return F.array_distinct(grams)


def edit_distance_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    q: int = 2,
) -> DataFrame:
    """Exact ``levenshtein <= k`` self-join via q-gram prefix signatures.

    Returns ``(id_a, id_b, distance)`` with ``id_a < id_b``.  NULL strings
    are dropped.  Prefix length is ``k*q + 1``: one edit touches at most
    ``q`` grams, so for strings with MORE than ``k*q`` grams the disjoint-
    prefix overlap bound (``|Gx ∩ Gy| < max(|Gx|,|Gy|) - k*q`` whenever the
    two prefixes are disjoint under the global order) contradicts the
    ED-implied overlap — the prefix join is complete on that stratum.

    Strings with at most ``k*q`` grams carry too little gram evidence for
    ANY signature scheme ("a" vs "" is distance 1 with zero shared grams),
    so they take the EDJoin short-string corner case: each joins every
    string whose length is within ``k`` via an exploded length-window key
    and goes straight to verification.  Stratum membership is by DISTINCT
    q-gram count, so it holds two populations: genuinely short strings
    (length <= k*q + q - 1 ≈ 5 chars for k=2,q=2 — alphabet-bounded at
    web scale) and arbitrarily long LOW-ENTROPY strings ('aaaa…a' has one
    distinct bigram at any length).  Correctness is unaffected (the
    levenshtein verification prunes), but the stratum's join cost is
    bounded by the alphabet only for the first population; a corpus heavy
    in long repetitive strings pays |stratum| x |±k length window| in
    candidates there.  Eager at construction: see
    :func:`plans.checkpoint.materialize`.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if q < 1:
        raise ValueError(f"q must be >= 1, got {q}")
    strs = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_s")
    ).where(F.col("_s").isNotNull())
    # three consumers (both prefix sides + the short-string stratum) read
    # the one rarest-first q-gram set table
    ordered = token_sets(strs, "_id", _qgram_set(F.col("_s"), q), rarest_first=True)
    lens = strs.select("_id", F.length("_s").alias("_len"))
    pref = (
        ordered.where(F.col("_n") > k * q)
        .select(
            "_id",
            F.explode(F.slice("_tok", F.lit(1), F.lit(k * q + 1))).alias("_g"),
        )
        .join(lens.hint("shuffle_hash"), "_id")
    )
    a = pref.select(
        F.col("_id").alias("id_a"), F.col("_len").alias("_la"), "_g"
    )
    b = pref.select(
        F.col("_id").alias("id_b"), F.col("_len").alias("_lb"), "_g"
    )
    cand = (
        a.alias("a")
        .join(
            b.alias("b").hint("shuffle_hash"),
            (F.col("a._g") == F.col("b._g"))
            & (F.col("a.id_a") < F.col("b.id_b"))
            & (F.abs(F.col("a._la") - F.col("b._lb")) <= k),
        )
        .select("id_a", "id_b")
    )
    # EDJoin short-string corner case: <= k*q grams is too little gram
    # evidence for the prefix bound ("a" vs "" is distance 1 with zero
    # shared grams), so these rows — alphabet-bounded at web scale — join
    # EVERY string in their +-k length window and rely on verification
    # alone.  Exploding the short side to its 2k+1 candidate lengths keeps
    # the join an equi-join (no range condition).  Statically the join is
    # pinned shuffle_hash like everything else here — Catalyst's static
    # size estimate could pick the corpus-cardinality `lens` side as the
    # build; AQE converts the shuffle to a runtime broadcast of the short
    # side when it measures it tiny, which is the only trustworthy signal.
    short = (
        ordered.where(F.col("_n") <= k * q)
        .join(lens.hint("shuffle_hash"), "_id")
        .select(
            "_id",
            F.explode(
                F.sequence(F.col("_len") - k, F.col("_len") + k)
            ).alias("_len2"),
        )
        .where(F.col("_len2") >= 0)
    )
    short_cand = (
        short.alias("s")
        .join(
            lens.alias("l").hint("shuffle_hash"),
            (F.col("s._len2") == F.col("l._len"))
            & (F.col("s._id") != F.col("l._id")),
        )
        .select(
            F.least("s._id", "l._id").alias("id_a"),
            F.greatest("s._id", "l._id").alias("id_b"),
        )
    )
    cand = cand.unionAll(short_cand).distinct()
    sa = strs.select(F.col("_id").alias("id_a"), F.col("_s").alias("_sa"))
    sb = strs.select(F.col("_id").alias("id_b"), F.col("_s").alias("_sb"))
    return (
        cand.join(sa.hint("shuffle_hash"), "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("_sa", "_sb").alias("distance"),
        )
        .where(F.col("distance") <= k)
    )
