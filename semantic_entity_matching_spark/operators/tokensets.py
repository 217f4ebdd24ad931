"""Token-set kernel under the near-dup and similarity-join operators.

Every token-set operator — MinHash, cross-corpus, containment and n-gram
verify (operators/dedup.py), the prefix-filter Jaccard join and the
edit-distance join's q-gram order (operators/simjoin.py) — runs the same
three steps, and each lives here once:

1. **token sets** (:func:`token_sets`): ``(_id, _tok, _n)``, each record's
   distinct tokens hashed to ``array<bigint>`` with ``xxhash64`` plus the
   set size.  Token identity is the 64-bit hash (a ~1e-11 collision
   probability at web-corpus vocabulary sizes), so the per-pair payload is
   fixed-width integers, never strings.  Built and materialized once per
   input: the family's only lineage cut for token tables.
2. **rarest-first order** (``token_sets(..., rarest_first=True)``): one
   global (document frequency, token hash) total order — the order every
   prefix-filter proof needs — with an optional vocabulary cap.
3. **overlap verify** (:func:`overlap_verify`): candidate ``(id_a, id_b)``
   pairs joined to both sides' sets -> ``|A∩B|``, ``|A|``, ``|B|`` with a
   JVM-side set intersection inside whole-stage codegen (no Python, no
   set union: the union size is ``|A| + |B| - |A∩B|``), and the one
   :func:`jaccard` expression over them.

Every join against a corpus- or vocabulary-cardinality table is pinned
``shuffle_hash``: Catalyst would broadcast it off small-scale stats, and at
web scale it cannot broadcast (the BM25 IDF rule, operators/search.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from semantic_entity_matching_spark.plans.checkpoint import materialize


def _distinct_tokens(text_col: str) -> Column:
    """THE tokenization every jaccard path shares (token sets, ratio
    counts, the q21 oracle): distinct lowercased ``\\s+`` tokens, empties
    removed.  Null text propagates to a NULL array (and NULL ``size`` —
    Spark 4 ANSI semantics, there is no -1 sentinel)."""
    return F.array_distinct(
        F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    )


def _size_ratio_keep(ca: Column, cb: Column, threshold: float) -> Column:
    """Keep-condition of the EXACT size-ratio bound: jaccard >= t requires
    min(|A|,|B|)/max(|A|,|B|) >= t (|A∩B| <= min, |A∪B| >= max), so a pair
    failing it can be pruned with zero recall loss.  Division form, the
    same as the jaccard it bounds: a product form ``min >= t·max``
    over-rounds (0.56·25 = 14.000000000000002) and loses pairs at exactly
    the threshold.  Both-empty pairs stay (their jaccard is 1.0); NULL
    counts (null text, jaccard 0) propagate to NULL and the enclosing
    ``where`` drops the pair — correct for any threshold > 0."""
    t = F.lit(float(threshold))
    return ((ca == 0) & (cb == 0)) | (
        (ca > 0)
        & (cb > 0)
        & (F.least(ca, cb).cast("double") / F.greatest(ca, cb).cast("double") >= t)
    )


def _rarest_first(sets: DataFrame, max_token_df: int | None) -> DataFrame:
    """(_id, _tok) -> (_id, _tok in (df asc, token hash asc) order, _dfs
    the matching document frequencies).  Empty and NULL sets drop out (no
    exploded row).  The inner vocabulary join doubles as the ``max_token_df``
    filter; per-doc group size is the doc's token count — bounded,
    splittable."""
    ex = sets.select("_id", F.explode("_tok").alias("_t"))
    vocab = ex.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    if max_token_df is not None:
        vocab = vocab.where(F.col("_df") <= int(max_token_df))
    ordered = (
        ex.join(vocab.hint("shuffle_hash"), "_t")
        .groupBy("_id")
        .agg(F.array_sort(F.collect_list(F.struct("_df", "_t"))).alias("_o"))
    )
    return ordered.select(
        "_id",
        F.transform("_o", lambda s: s["_t"]).alias("_tok"),
        F.transform("_o", lambda s: s["_df"]).alias("_dfs"),
    )


def token_sets(
    df: DataFrame,
    id_col: str,
    tokens: Column,
    rarest_first: bool = False,
    max_token_df: int | None = None,
) -> DataFrame:
    """Materialized token sets of ``df`` -> ``(_id, _tok, _n)``: ``tokens``
    (a distinct-token ``array<string>`` per row) hashed to
    ``array<bigint>``, and its size.  NULL arrays stay NULL (size NULL).

    ``rarest_first`` orders every set by the global (document frequency,
    token hash) order and adds ``_dfs``; empty and NULL sets are dropped.
    ``max_token_df`` (rarest-first only) removes tokens in more than that
    many records from the UNIVERSE — sets, sizes and every downstream step see the filtered
    vocabulary, so results stay exact w.r.t. the filtered sets.

    **Eager:** the table is cut by :func:`plans.checkpoint.materialize`
    when this is called, so every operator built on it runs its
    tokenization job at construction time, not when its result is
    consumed — and does it once, however many join sides read the sets.
    The cut's other properties (not replicated, not fault-tolerant) are
    the helper's contract."""
    sets = df.select(
        F.col(id_col).alias("_id"),
        F.transform(tokens, lambda x: F.xxhash64(x)).alias("_tok"),
    )
    if rarest_first:
        sets = _rarest_first(sets, max_token_df)
    return materialize(sets.withColumn("_n", F.size("_tok")), "token_sets")


def overlap_verify(
    cand: DataFrame, sets_a: DataFrame, sets_b: DataFrame | None = None
) -> DataFrame:
    """Candidate pairs ``(id_a, id_b, ...)`` + ``_inter`` = ``|A∩B|``,
    ``_na`` = ``|A|``, ``_nb`` = ``|B|``.  ``id_a`` resolves in ``sets_a``
    and ``id_b`` in ``sets_b`` (default: the same table).  Run it AFTER
    candidate dedup so each set crosses the wire once per surviving pair
    side; pairs whose id has no set drop out (inner joins)."""
    def side(sets: DataFrame, s: str) -> DataFrame:
        return sets.select(
            F.col("_id").alias(f"id_{s}"),
            F.col("_tok").alias(f"_t{s}"),
            F.col("_n").alias(f"_n{s}"),
        ).hint("shuffle_hash")

    return (
        cand.join(side(sets_a, "a"), "id_a")
        .join(side(sets_a if sets_b is None else sets_b, "b"), "id_b")
        .withColumn("_inter", F.size(F.array_intersect("_ta", "_tb")))
        .drop("_ta", "_tb")
    )


def jaccard() -> Column:
    """Jaccard over :func:`overlap_verify`'s columns, with the semantics of
    ``dedup.jaccard_py``: a NULL set (null text) -> 0.0, both empty -> 1.0,
    one empty -> 0.0."""
    inter, na, nb = F.col("_inter"), F.col("_na"), F.col("_nb")
    return (
        F.when(na.isNull() | nb.isNull(), F.lit(0.0))
        .when((na == 0) & (nb == 0), F.lit(1.0))
        .when((na == 0) | (nb == 0), F.lit(0.0))
        .otherwise(inter.cast("double") / (na + nb - inter).cast("double"))
    )
