"""Candidate-pair generation: the one salted key join, and block pairs on it.

Replaces the reference's kNN candidate retrieval (J1 — reference
lib/opensearch/services/search_query_builder.py:46-62).

:func:`key_pairs` is the engine's one candidate emitter: key rows
``(id, key[, size], extra...)`` from one table (a self-join keeping
``id_a < id_b``) or two (a directed A×B join), joined on ``(key, _salt)``
with a per-key salt count derived from the rows' own size column
(:func:`salt_count`: ``least(ceil(size / threshold),
defaultParallelism)``, 1 for a cold or size-less key).  One side keeps
one salt per row, the other is replicated across all of its key's salts,
so a hot key fans out over that many reducers and every pair still meets
exactly once.  AQE skew-join remains on as a second line of defense.
Its callers, each with its own key and size:

* block pairs here (:func:`block_pair_stream`, under
  :func:`generate_candidate_pairs` and meta-blocking) — block keys sized
  by the block-size head;
* MinHash, cross-corpus and containment near-dup (operators/dedup.py) —
  band keys sized by the head, prefix tokens sized by their df;
* SimHash bands and bucketed embedding near-dup — no size, cold;
* the prefix-filter Jaccard join and the edit-distance join
  (operators/simjoin.py) — prefix tokens and q-grams sized by their df,
  the short-string length window cold;
* incremental matching (streaming/incremental_match.py) — block keys
  sized by the union of batch and reference.

Cap rules stay with each caller.  Block pairs add:

* **block-size cap** — keys whose block exceeds ``max_block_size`` are
  dropped (boilerplate mega-blocks at web scale produce O(n^2) garbage
  pairs; the drop is logged via the returned audit).
* **canonical ordering** id_a < id_b (J5) — suppresses self-pairs and
  (a,b)/(b,a) duplicates before the cross-key dropDuplicates.

Shuffle inventory (block pairs): one hash shuffle on (block_key, salt)
for the join + one on (id_a, id_b) for dedup.  Nothing else.  The
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

# Keys with more rows than this are salted (the token-set joins use it as
# is; PairGenConfig.hot_block_threshold defaults to it).
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


def key_pairs(
    rows: DataFrame,
    other: DataFrame | None = None,
    id_col: str = "id",
    key: str = "block_key",
    size: str | None = None,
    pair_filter: Column | None = None,
    threshold: int = HOT_KEY_THRESHOLD,
) -> DataFrame:
    """Pairs of key rows that share a key: the engine's one candidate join.

    Key rows are ``(id_col, key[, size], extra...)``.  Without ``other``
    this is a self-join of ``rows`` that keeps ``id_a < id_b``; with it, a
    directed join whose ``id_a`` comes from ``rows`` and ``id_b`` from
    ``other`` (both tables name their columns alike).  Output: ``key``,
    ``id_a``, ``id_b`` and every extra column suffixed ``_a``/``_b``;
    ``pair_filter``, a Column over those names, prunes at the join.

    Salting: ``size`` is the key's row count, or an upper bound on it,
    and the same on both tables (null, or no ``size`` at all, = a cold key
    with one salt).  Each
    ``other`` row takes the one salt ``pmod(xxhash64(id), n)`` and each
    ``rows`` row is replicated to all ``n`` salts of its key
    (:func:`salt_count`), so every row pair of a key meets in exactly one
    ``(key, _salt)`` group: the pairs are the plain join's for any salt
    count.  ``other`` is the side that spreads over reducers.  A join
    hint on an input carries over to its side: the token-set callers pin
    ``shuffle_hash`` there, because their sides are corpus-sized and must
    never broadcast.
    """
    par = rows.sparkSession.sparkContext.defaultParallelism
    n = salt_count(F.col(size) if size else F.lit(None), threshold, par)

    def side(df: DataFrame, s: str, salt: Column) -> DataFrame:
        extras = [c for c in df.columns if c not in (id_col, key, size)]
        return df.select(
            key,
            F.col(id_col).alias(f"id_{s}"),
            salt.alias("_salt"),
            *[F.col(c).alias(f"{c}_{s}") for c in extras],
        )

    a = side(rows, "a", F.explode(F.sequence(F.lit(0), n - 1)))
    b = side(
        rows if other is None else other, "b",
        F.pmod(F.xxhash64(F.col(id_col)), n).cast("int"),
    )
    pairs = a.join(b, [key, "_salt"]).drop("_salt")
    if other is None:
        pairs = pairs.where(F.col("id_a") < F.col("id_b"))
    return pairs if pair_filter is None else pairs.where(pair_filter)


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
    pair_filter: Column | None = None,
    keep_block_key: bool = True,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """blocks(id, block_key) -> pairs(id_a, id_b[, block_key]) deduped.

    The same pair found via several keys keeps the lexicographically first
    key (deterministic) after the (id_a, id_b) dedup.

    ``pair_filter`` pushes a per-pair predicate BELOW the dedup shuffle:
    every column of ``blocks`` besides the id and ``block_key`` rides both
    join sides (suffixed ``_a``/``_b``, see :func:`key_pairs`), and the
    filter — a Column over those suffixed columns — prunes each candidate
    AT the block join, before the (id_a, id_b) exchange ever carries it.
    Callers join their per-id columns onto the block rows first.  Used by
    the near-dup verifier's exact size-ratio bound: at sf0.1 it halves the
    dedup shuffle (5.7M -> 2.9M rows) with zero recall loss.

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
    pair_filter: Column | None = None,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """The PRE-dedup per-block pair stream: one row per (block_key, pair)
    co-occurrence, capped and salted exactly as
    :func:`generate_candidate_pairs` (which is this + the (id_a, id_b)
    dedup).  Exposed for consumers whose aggregate over the stream is NOT
    the dedup — meta-blocking's common-blocks edge weight is
    ``groupBy(id_a, id_b).count()`` over these rows
    (operators/metablocking.py).  Columns: ``block_key, id_a, id_b`` plus
    the other ``blocks`` columns suffixed ``_a``/``_b``.

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
    kept = blocks.join(hot_sizes, "block_key", "left").where(
        F.col("block_size").isNull()
        | (F.col("block_size") <= cfg.max_block_size)
    )
    return key_pairs(
        kept, id_col=id_col, key="block_key", size="block_size",
        pair_filter=pair_filter, threshold=cfg.hot_block_threshold,
    )


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
