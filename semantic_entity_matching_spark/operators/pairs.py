"""Candidate-pair generation: salted equi self-join on block keys.

Replaces the reference's kNN candidate retrieval (J1 — reference
lib/opensearch/services/search_query_builder.py:46-62).  Given
``blocks(id, block_key)`` the candidates are all unordered pairs sharing a
key, with:

* **block-size cap** — keys whose block exceeds ``max_block_size`` are
  dropped (boilerplate mega-blocks at web scale produce O(n^2) garbage
  pairs; the drop is logged via the returned audit).
* **explicit salting** for hot keys (north_rule) through
  :func:`salted_join`, the one salted hot-key join of the engine (the
  cross-corpus and containment near-dup joins use it too).  A key of
  ``size`` rows gets ``least(ceil(size / threshold), defaultParallelism)``
  salts (:func:`salt_count`): 1 at or below the threshold, more as the
  key grows, never more than the session has cores to spread it over.
  One side keeps one salt per row, the other is replicated across all of
  its key's salts, so a hot key fans out over that many reducers.  The
  salt count never changes the pair set: each unordered pair meets
  exactly once.  AQE skew-join remains on as a second line of defense.
* **canonical ordering** id_a < id_b (J5) — suppresses self-pairs and
  (a,b)/(b,a) duplicates before the cross-key dropDuplicates.

Shuffle inventory (the whole operator): one hash shuffle on (block_key,
salt) for the join + one on (id_a, id_b) for dedup.  Nothing else.  The
block-size annotation join never moves the block table: it is a LEFT join
against only the ``block_size > min(hot_block_threshold, max_block_size)``
head of the size table (keys at or below that threshold need no
annotation — kept, unsalted), so the broadcast hint covers a
``total_rows / threshold``-bounded Zipf head, never the corpus-cardinality
full key table.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Keys with more rows than this are salted (the containment join uses it
# as is; PairGenConfig.hot_block_threshold defaults to it).
HOT_KEY_THRESHOLD = 20


@dataclass(frozen=True)
class PairGenConfig:
    # Drop blocks above this size: a block of b docs costs b^2/2 pairs, and
    # blocks this large are vocabulary/boilerplate artifacts, not duplicate
    # groups (measured on the synthetic web corpus: word-unigram minhash
    # bands collide for ~95% of doc pairs because small-vocab docs share
    # word SETS; the cap cuts candidate pairs 977k -> ~50k at 5k docs with
    # zero gold-pair recall loss).  Genuine mass-duplicate groups (10k
    # copies of one page) are caught by the exact-fingerprint dedup path,
    # not pairwise LSH.
    max_block_size: int = 50
    # Salt keys with blocks larger than this, one salt per started
    # threshold-sized slice of the block, capped at the session's default
    # parallelism (salt_count).  The salt count is derived per key from
    # the measured block size; nothing else about salting is settable.
    hot_block_threshold: int = HOT_KEY_THRESHOLD

    def __post_init__(self) -> None:
        # salt_count divides by the threshold: reject 0 here rather than
        # mid-job under ANSI mode
        for name in ("max_block_size", "hot_block_threshold"):
            if getattr(self, name) < 1:
                raise ValueError(f"{name} must be >= 1, got {getattr(self, name)}")

    @property
    def head_threshold(self) -> int:
        """Keys above this size are dropped or salted, so they are the
        only keys whose size a join needs: the head of a size table."""
        return min(self.hot_block_threshold, self.max_block_size)


def salt_count(size: Column, threshold: int, parallelism: int) -> Column:
    """Salts for a key of ``size`` rows: ``least(ceil(size / threshold),
    parallelism)``.  That is 1 for keys at or below ``threshold`` and for
    a null size (a key absent from a hot-key head table), which counts as
    one row: ``least`` skips nulls, so a null must not reach it."""
    rows = F.coalesce(size, F.lit(1))
    return F.least(F.ceil(rows / F.lit(threshold)), F.lit(parallelism)).cast("int")


def salted_join(
    own: DataFrame,
    rep: DataFrame,
    key: str,
    own_id: str,
    size: str,
    threshold: int = HOT_KEY_THRESHOLD,
) -> DataFrame:
    """Inner join of ``own`` and ``rep`` on ``key``, salted per key.

    Both sides carry the key's measured row count in column ``size``
    (null = cold).  Each ``own`` row takes the one salt
    ``pmod(xxhash64(own_id), n)`` and each ``rep`` row is replicated to
    all ``n`` salts of its key (``n`` = :func:`salt_count`), so every
    (own, rep) row pair of a key meets in exactly one ``(key, _salt)``
    group: the result is the plain join's, for any salt count.  ``size``
    and ``_salt`` are dropped from the output.  Put the side that should
    spread across reducers as ``own``; a join hint on ``rep`` carries over.
    """
    n = salt_count(
        F.col(size), threshold, own.sparkSession.sparkContext.defaultParallelism
    )
    own = own.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(own_id)), n).cast("int")
    ).drop(size)
    rep = rep.withColumn("_salt", F.explode(F.sequence(F.lit(0), n - 1))).drop(size)
    return own.join(rep, [key, "_salt"]).drop("_salt")


def block_sizes(blocks: DataFrame, id_col: str = "url") -> DataFrame:
    """(block_key, block_size) — one row per key.  The aggregate is a full
    exchange of the block table: callers that need both the candidate pairs
    and the dropped-blocks count compute it once and share it.  Pair
    generation reads only the ``block_size > min(hot_block_threshold,
    max_block_size)`` head of it, so sharing that head suffices
    (run_pipeline cuts the head once and observes the dropped count on
    that cut).
    """
    return blocks.groupBy("block_key").agg(F.count(id_col).alias("block_size"))


def generate_candidate_pairs(
    blocks: DataFrame,
    id_col: str = "url",
    config: PairGenConfig | None = None,
    annotations: DataFrame | None = None,
    pair_filter=None,
    keep_block_key: bool = True,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """blocks(id, block_key) -> pairs(id_a, id_b[, block_key]) deduped.

    The same pair found via several keys keeps the lexicographically first
    key (deterministic) after the (id_a, id_b) dedup.

    ``annotations`` + ``pair_filter`` push a per-pair predicate BELOW the
    dedup shuffle: ``annotations(id, extra...)`` columns are attached to
    both join sides (suffixed ``_a``/``_b``) and ``pair_filter`` — a
    Column over those suffixed columns — prunes each candidate AT the
    block join, before the (id_a, id_b) exchange ever carries it.  The
    annotations table is CORPUS-cardinality (one row per doc), so it is
    joined like any other corpus-side table — hash join on the id, never
    a forced broadcast (the planner may still broadcast it at small
    scale).  Used by the near-dup verifier's exact size-ratio bound: at
    sf0.1 it halves the dedup shuffle (5.7M -> 2.9M rows) with zero
    recall loss.

    ``keep_block_key=False`` skips the min(block_key) representative-key
    aggregate (the dedup becomes a plain distinct, no string rides the
    exchange) for callers that only need the id pairs.

    ``sizes`` is a precomputed :func:`block_sizes` table, or only its
    ``block_size > min(hot_block_threshold, max_block_size)`` head: the
    generator reads no row below that threshold (see
    :func:`block_pair_stream`).  ``None`` aggregates ``blocks`` here.
    """
    pairs = block_pair_stream(
        blocks,
        id_col=id_col,
        config=config,
        annotations=annotations,
        pair_filter=pair_filter,
        sizes=sizes,
    ).select("block_key", "id_a", "id_b")
    if not keep_block_key:
        return pairs.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
    # min(block_key) — deterministic representative key for "same blocking
    # key" evaluation (BASELINE.json north_rule)
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.min("block_key").alias("block_key"))
    )


def block_pair_stream(
    blocks: DataFrame,
    id_col: str = "url",
    config: PairGenConfig | None = None,
    annotations: DataFrame | None = None,
    pair_filter=None,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """The PRE-dedup per-block pair stream: one row per (block_key, pair)
    co-occurrence, capped and salted exactly as
    :func:`generate_candidate_pairs` (which is this + the (id_a, id_b)
    dedup).  Exposed for consumers whose aggregate over the stream is NOT
    the dedup — meta-blocking's common-blocks edge weight is
    ``groupBy(id_a, id_b).count()`` over these rows
    (operators/metablocking.py).  Columns: ``block_key, id_a, id_b`` plus
    any ``annotations`` columns suffixed ``_a``/``_b``.

    ``sizes`` as in :func:`generate_candidate_pairs`: the full size table
    or its above-threshold head give the same stream, since keys absent
    from the head count as cold.
    """
    cfg = config or PairGenConfig()

    if sizes is None:
        sizes = block_sizes(blocks, id_col)
    # Size annotation joins only the keys that NEED annotation: a key's
    # size matters solely to (a) drop it (> max_block_size) or (b) salt it
    # (> hot_block_threshold), so keys at or below the smaller of the two
    # thresholds — the overwhelming Zipf tail — never ride the join at all.
    # The full (block_key, block_size) table is corpus-cardinality and can
    # never broadcast at web scale; the > threshold head is bounded by
    # total_block_rows / threshold and is the table a broadcast hint is
    # actually safe on.  Keys absent from the head are cold: kept, salt=1.
    hot_sizes = F.broadcast(sizes.where(F.col("block_size") > cfg.head_threshold))
    annotated = blocks.join(hot_sizes, "block_key", "left").where(
        F.col("block_size").isNull()
        | (F.col("block_size") <= cfg.max_block_size)
    )

    extra_cols = []
    if annotations is not None:
        annotated = annotated.join(annotations, id_col)
        extra_cols = [c for c in annotations.columns if c != id_col]

    def side(id_alias: str, suffix: str) -> DataFrame:
        return annotated.select(
            "block_key",
            F.col(id_col).alias(id_alias),
            "block_size",
            *[F.col(c).alias(f"{c}_{suffix}") for c in extra_cols],
        )

    # cold and hot keys go through ONE self-join on (block_key, _salt): a
    # cold key (block_size null) has one salt, so its block lands on one
    # reducer exactly as an unsalted join would
    pairs = salted_join(
        side("id_a", "a"), side("id_b", "b"), "block_key", "id_a",
        "block_size", cfg.hot_block_threshold,
    ).where(F.col("id_a") < F.col("id_b"))
    if pair_filter is not None:
        pairs = pairs.where(pair_filter)
    return pairs


def dropped_blocks_audit(
    blocks: DataFrame,
    id_col: str = "url",
    config: PairGenConfig | None = None,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Keys excluded by the block-size cap, with sizes (no silent caps).

    Pass a :func:`block_sizes` table (or a head of it that keeps every
    key above ``max_block_size``) to share the aggregate with
    :func:`generate_candidate_pairs` instead of re-scanning blocks.
    run_pipeline needs only the count, which it observes on its size-head
    cut instead of running this.
    """
    cfg = config or PairGenConfig()
    if sizes is None:
        sizes = block_sizes(blocks, id_col)
    return sizes.where(F.col("block_size") > cfg.max_block_size).orderBy(
        F.desc("block_size")
    )
