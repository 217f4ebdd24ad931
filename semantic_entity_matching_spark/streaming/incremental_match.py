"""Incremental record linkage: match a STREAM of new pages against a fixed
reference corpus (the production shape of the reference system's
ingest-then-search loop — new rows arrive, each is resolved against the
already-indexed entities; reference lib/ingest.py + lib/search_and_rerank.py).

Architecture: ``foreachBatch`` — the standard Structured Streaming pattern
for stream-to-batch incremental jobs.  A micro-batch runs the flagship's
own stage functions (:mod:`~semantic_entity_matching_spark.plans.pipeline`)
on the delta:

    incoming pages ─► records (prepare_records: the same embedding
                      provider as the batch pipeline — byte-identical
                      features), cut once
                   ─► blocking keys (the same LSH/SN families)
                   ─► candidate pairs: the two-table salted key join
                      (pairs.key_pairs) against the reference block
                      table, capped at max_block_size on the union block
                      size — the stream side never rescans the corpus
                   ─► score_pairs (exact cosine) and rerank_pairs (cosine
                      bound → Levenshtein → JW upper-bound prune → JW →
                      blend), cut before the threshold filter
                   ─► best reference match per incoming id (deterministic
                      tiebreak), below-threshold ⇒ unmatched (null)
                   ─► idempotent append to a TableSink keyed on the
                      incoming id — a replayed micro-batch (restart after
                      crash, at-least-once source) inserts NOTHING twice,
                      which upgrades the pipeline to effectively-once.

The reference index is three tables cut once at build time by
:func:`~semantic_entity_matching_spark.plans.checkpoint.materialize`:
records, block keys and block sizes.  At 10^12 reference docs they are
Iceberg tables bucketed by block_key/id; the per-batch plan is unchanged
(stream side is small by definition — that is the point of incremental
matching).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from semantic_entity_matching_spark.operators.pairs import block_sizes, key_pairs
from semantic_entity_matching_spark.plans.checkpoint import materialize
from semantic_entity_matching_spark.plans.pipeline import (
    MatchConfig,
    _block_keys,
    prepare_records,
    rerank_pairs,
    score_pairs,
)


class ReferenceIndex:
    """The precomputed side of incremental matching over a fixed corpus:
    ``records`` (id, text, embedding), ``blocks`` (id, block_key) and
    ``block_sizes`` (block_key, block_size), each cut at construction.

    Incremental matching scores with the blended rule only: Fellegi-Sunter
    parameters are fit per candidate population, so an FS edge between a
    new page and the reference cannot be decided from the new batch
    alone.  Any other ``config.scoring`` raises here, before any job."""

    def __init__(
        self,
        reference_pages: DataFrame,
        config: MatchConfig | None = None,
        provider=None,
    ):
        self.config = config or MatchConfig()
        if self.config.scoring != "blended":
            raise ValueError(
                "incremental matching supports scoring='blended' only, got "
                f"{self.config.scoring!r}"
            )
        self.provider = provider
        self.records = self.prepare(reference_pages, "reference_records")
        self.blocks = materialize(
            _block_keys(self.records, self.config), "reference_blocks"
        )
        self.block_sizes = materialize(
            block_sizes(self.blocks, self.config.id_col), "reference_block_sizes"
        )

    def prepare(self, pages: DataFrame, name: str) -> DataFrame:
        """``pages``' records, prepared as the index's and cut."""
        return materialize(
            prepare_records(
                pages, self.config, self.provider, with_entity_text=False
            ),
            name,
        )


def match_edges(
    incoming_pages: DataFrame, index: ReferenceIndex
) -> DataFrame:
    """EVERY qualifying (incoming, reference) edge above the match
    threshold — not just the best per incoming — as
    ``(id_a=incoming id, id_b=reference id, score)``.

    This is the edge set incremental CLUSTERING needs: a new page
    scoring past the threshold against members of TWO different old
    components is evidence those components merge, which best-per-page
    would silently drop.  Feed the result (with the new-vs-new pipeline
    edges) to
    :func:`~semantic_entity_matching_spark.operators.cluster.update_components`.
    """
    return _qualified_pairs(index.prepare(incoming_pages, "incoming_records"), index)


def match_batch(
    incoming_pages: DataFrame, index: ReferenceIndex, one_to_one: bool = False
) -> DataFrame:
    """One micro-batch: -> (id, matched_id, score) — ``matched_id`` null
    when no reference entity reaches the match threshold.  Exactly the
    flagship's scoring semantics (same cutoffs, same deterministic
    tiebreak: highest score, then smallest reference id).

    ``one_to_one=True`` additionally constrains each REFERENCE entity to
    at most one incoming page per batch (the correct semantics when both
    sides are deduplicated: two incoming pages claiming one reference is
    an evidence conflict, not two matches) — the qualified pair set is
    resolved by
    :func:`~semantic_entity_matching_spark.operators.resolve.one_to_one_match`
    (greedy-equivalent; a losing page falls back to its next-best
    qualified reference before going unmatched)."""
    id_col = index.config.id_col
    records = index.prepare(incoming_pages, "incoming_records")
    qualified = _qualified_pairs(records, index)
    if one_to_one:
        from semantic_entity_matching_spark.operators.resolve import (
            one_to_one_match,
        )

        best = one_to_one_match(qualified)
    else:
        rank = Window.partitionBy("id_a").orderBy(F.desc("score"), F.asc("id_b"))
        best = qualified.withColumn("_rk", F.row_number().over(rank)).where(
            F.col("_rk") == 1
        )
    best = best.select(
        F.col("id_a").alias(id_col), F.col("id_b").alias("matched_id"), "score"
    )
    return records.select(id_col).join(best, id_col, "left")


def _qualified_pairs(records: DataFrame, index: ReferenceIndex) -> DataFrame:
    """``(id_a=incoming id, id_b=reference id, score)`` for every blocked
    pair between the incoming ``records`` (a cut) and the reference
    index that reaches ``match_threshold``, scored by the batch stages."""
    cfg = index.config
    pg = cfg.pairgen
    id_col = cfg.id_col
    # The batch's block keys with each key's UNION size (reference + batch
    # rows); a key over max_block_size is dropped, as a from-scratch run
    # over the union drops it for the new pairs.  Cut, because both join
    # sides below read it and the block-key pass runs Python.
    # cross_corpus_near_duplicates' head logic is not reused: it drops a
    # key only when EITHER side is over the cap, which keeps keys whose
    # sides fit but whose union does not.
    new = materialize(
        _block_keys(records, cfg)
        .select(
            id_col,
            "block_key",
            F.count(F.lit(1)).over(Window.partitionBy("block_key")).alias("_n"),
        )
        .join(index.block_sizes, "block_key")
        .withColumn("_n", F.col("_n") + F.col("block_size"))
        .where(F.col("_n") <= pg.max_block_size)
        .drop("block_size"),
        "incoming_blocks",
    )
    # the reference rows of the kept keys spread over their key's salts;
    # the incoming rows are replicated to each
    ref = index.blocks.select(id_col, "block_key").join(
        F.broadcast(new.select("block_key", "_n").distinct()), "block_key"
    )
    pairs = key_pairs(
        new, ref, id_col=id_col, size="_n", threshold=pg.hot_block_threshold
    ).select("id_a", "id_b").distinct()
    # each cut keeps a filter on a UDF's output from being pushed below
    # the UDF (score_pairs, rerank_pairs), so each UDF runs once per row
    scored = materialize(
        score_pairs(pairs, records, cfg, index.records), "incremental_scored"
    )
    reranked = materialize(
        rerank_pairs(scored, records, cfg, index.records), "incremental_reranked"
    )
    return reranked.where(F.col("score") >= cfg.match_threshold).select(
        "id_a", "id_b", "score"
    )


def incremental_match_stream(
    pages_stream: DataFrame,
    index: ReferenceIndex,
    out_path: str,
    checkpoint_dir: str,
):
    """Wire the matcher into a streaming query: per micro-batch match +
    IDEMPOTENT append keyed on the incoming id (TableSink anti-join /
    Iceberg MERGE) — a replayed batch inserts nothing twice.  Returns the
    started StreamingQuery."""
    from semantic_entity_matching_spark.sources.writers import TableSink

    id_col = index.config.id_col

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sink = TableSink(batch_df.sparkSession, out_path, key=id_col)
        sink.append_idempotent(match_batch(batch_df, index))

    return (
        pages_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
