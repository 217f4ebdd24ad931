"""Incremental record linkage: match a STREAM of new pages against a fixed
reference corpus (the production shape of the reference system's
ingest-then-search loop — new rows arrive, each is resolved against the
already-indexed entities; reference lib/ingest.py + lib/search_and_rerank.py).

Architecture: ``foreachBatch`` — the standard Structured Streaming pattern
for stream-to-batch incremental jobs.  Per micro-batch:

    incoming pages ─► prepare (extract + embed, same provider as the batch
                      pipeline — byte-identical features)
                   ─► blocking keys (same LSH/SN families)
                   ─► equi-join against the PRECOMPUTED reference block
                      table (computed once, cached — the stream side never
                      rescans the corpus)
                   ─► cosine cutoff, then the flagship's blended
                      cascade (pipeline._blended_cascade: Levenshtein →
                      exact JW upper-bound prune → Jaro-Winkler → blend)
                   ─► best reference match per incoming id (deterministic
                      tiebreak), below-threshold ⇒ unmatched (null)
                   ─► idempotent append to a TableSink keyed on the
                      incoming id — a replayed micro-batch (restart after
                      crash, at-least-once source) inserts NOTHING twice,
                      which upgrades the pipeline to effectively-once.

At 10^12 reference docs the reference block/feature tables are Iceberg
tables bucketed by block_key/id instead of ``.cache()``; the per-batch
plan is unchanged (stream side is small by definition — that is the point
of incremental matching).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_entity_matching_spark.functions.similarity import cosine_udf
from semantic_entity_matching_spark.operators.blocking import all_block_keys
from semantic_entity_matching_spark.plans.pipeline import (
    MatchConfig,
    _blended_cascade,
    prepare_records,
    rerank_cosine_cutoff,
)


class ReferenceIndex:
    """The precomputed side of incremental matching: records (id, text,
    embedding) + block keys for a fixed corpus, cached once.

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
        self.records = prepare_records(
            reference_pages, self.config, provider
        ).cache()
        self.blocks = all_block_keys(
            self.records,
            id_col=self.config.id_col,
            text_col=self.config.text_col,
            lsh=self.config.lsh,
            sn_window=self.config.sn_window,
            sn_key_scan_chars=self.config.sn_key_scan_chars,
        ).cache()

    def unpersist(self) -> None:
        self.blocks.unpersist()
        self.records.unpersist()


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
    qualified = _qualified_pairs(incoming_pages, index)
    return qualified.select(
        F.col("_in").alias("id_a"),
        F.col("_ref").alias("id_b"),
        "score",
    )


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
    cfg = index.config
    id_col = cfg.id_col
    qualified = _qualified_pairs(incoming_pages, index)
    if one_to_one:
        from semantic_entity_matching_spark.operators.resolve import (
            one_to_one_match,
        )

        best = one_to_one_match(
            qualified.select("_in", "_ref", "score"),
            id_a="_in",
            id_b="_ref",
            score_col="score",
        ).select(
            F.col("id_a").alias(id_col),
            F.col("id_b").alias("matched_id"),
            "score",
        )
    else:
        from pyspark.sql import Window

        best = (
            qualified.withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy("_in").orderBy(
                        F.desc("score"), F.asc("_ref")
                    )
                ),
            )
            .where(F.col("_rk") == 1)
            .select(
                F.col("_in").alias(id_col),
                F.col("_ref").alias("matched_id"),
                "score",
            )
        )
    all_in = prepare_records(incoming_pages, cfg, index.provider).select(
        F.col(id_col)
    )
    return all_in.join(best, id_col, "left")


def _qualified_pairs(
    incoming_pages: DataFrame, index: ReferenceIndex
) -> DataFrame:
    """Shared scoring core: blocked candidate pairs between the incoming
    batch and the reference index, cut at the rerank cosine bound and
    scored through the flagship's blended cascade
    (:func:`~semantic_entity_matching_spark.plans.pipeline._blended_cascade`).
    Returns ``(_in, _ref, score)`` — every pair at or above
    ``match_threshold``."""
    cfg = index.config
    id_col = cfg.id_col
    inc = prepare_records(incoming_pages, cfg, index.provider)
    inc_blocks = all_block_keys(
        inc, id_col=id_col, text_col=cfg.text_col,
        lsh=cfg.lsh, sn_window=cfg.sn_window,
        sn_key_scan_chars=cfg.sn_key_scan_chars,
    )
    pairs = (
        inc_blocks.select(F.col(id_col).alias("_in"), "block_key")
        .join(
            index.blocks.select(F.col(id_col).alias("_ref"), "block_key"),
            "block_key",
        )
        .select("_in", "_ref")
        .dropDuplicates(["_in", "_ref"])
    )
    a = inc.select(
        F.col(id_col).alias("_in"),
        F.col("embedding").alias("_ea"),
        F.substring(F.col(cfg.text_col), 1, cfg.rerank_max_chars).alias("text_a"),
    )
    b = index.records.select(
        F.col(id_col).alias("_ref"),
        F.col("embedding").alias("_eb"),
        F.substring(F.col(cfg.text_col), 1, cfg.rerank_max_chars).alias("text_b"),
    ).hint("shuffle_hash")
    scored = (
        pairs.join(a, "_in")
        .join(b, "_ref")
        .withColumn("cosine", cosine_udf(F.col("_ea"), F.col("_eb")))
        .where(F.col("cosine") >= F.lit(rerank_cosine_cutoff(cfg)))
    )
    return (
        _blended_cascade(scored, cfg)
        .where(F.col("score") >= F.lit(cfg.match_threshold))
        .select("_in", "_ref", "score")
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
